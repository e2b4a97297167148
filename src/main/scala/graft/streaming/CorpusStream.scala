package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus ingestion for the LLM-data-pipeline family: dedup
  * an unbounded document stream with watermark-bounded state — the
  * streaming counterparts of `q_dedup_exact` / `dedup_simhash`.
  * State holds only digests/signatures (never document bodies), and
  * Spark evicts entries older than the watermark, so state size is
  * bounded by the horizon's unique-content count at any corpus rate.
  */
object CorpusStream {

  /** Keep the FIRST occurrence of each exact content fingerprint
    * within the watermark horizon. The dedup shuffle carries the
    * 128-bit digest, not the text. */
  def dedupExact(docs: DataFrame, tsCol: String = "ts",
                 textCol: String = "text",
                 watermark: String = "1 day"): DataFrame =
    docs.withColumn("__fp", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** The full streaming curation pass: the SAME row-local language +
    * quality gates as the batch `q_corpus_clean` plan
    * (`Corpus.langQualityGate` — scan-side, zero state), then
    * first-occurrence exact dedup within the watermark horizon. A
    * streaming corpus lands curated exactly as the batch pipeline
    * would curate it, with state bounded by the horizon's unique
    * digests. */
  def cleaned(docs: DataFrame, tsCol: String = "ts",
              textCol: String = "text",
              watermark: String = "1 day"): DataFrame =
    dedupExact(
      docs.filter(graft.operators.Corpus.langQualityGate(col(textCol))),
      tsCol, textCol, watermark)

  /** Streaming span-level dedup — the streaming twin of
    * `Dedup.dedupSpans`: chop each arriving document into
    * non-overlapping `spanLen`-word spans, keep only the first
    * occurrence of each span text within the watermark horizon
    * (cross-document AND cross-micro-batch), and reassemble each
    * document from its surviving spans once the watermark passes its
    * window.
    *
    * Two chained stateful operators, both watermark-bounded:
    * `dropDuplicatesWithinWatermark` on the span's md5 digest (state =
    * one entry per distinct span in the horizon; the 16-byte digest —
    * never the span text — is both the state key and the only payload
    * on the dedup shuffle, the same digest-not-text rule as the batch
    * operator and `dedupSubstringsStream`), then a tumbling-window
    * aggregate keyed by (doc_id, window) that reassembles surviving
    * spans in span_idx order FROM THE DOC'S OWN TOKEN ARRAY (carried
    * once per doc on its presence row — surviving spans cross the
    * window-agg shuffle as span_idx ints) and emits on window close
    * (append mode). Keep choice
    * follows ARRIVAL order, the streaming-native analog of the batch
    * operator's (doc_id, span_idx) order — the kept-span SET is
    * identical; which duplicate doc carries a shared span can differ.
    * WITHIN one micro-batch the winner among same-batch occurrences is
    * partition-order-arbitrary (the state store sees rows in shuffled
    * iterator order), so run-to-run output is deterministic only when
    * each span's first arrival is in an earlier batch than its
    * duplicates OR the upstream is a single ordered partition — the
    * `spanDedupOverFile` runner pins exactly that via `coalesce(1)`,
    * which makes arrival order the batch rule (doc_id, span_idx) and
    * the DuckDB oracle applicable (StreamingSpec pins the invariants).
    *
    * A doc whose EVERY span is dropped as a duplicate still emits
    * (n_spans, 0, "") like the batch operator: a per-doc presence row
    * bypasses the dedup and joins the reassembly agg (same structure
    * as `dedupSubstringsStream`; both branches share ONE pre-branch
    * watermark node — see the note there). */
  def dedupSpansStream(docs: DataFrame, tsCol: String = "ts",
                       idCol: String = "doc_id", textCol: String = "text",
                       spanLen: Int = 5, watermark: String = "1 day",
                       window: String = "1 hour"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col("doc_id"), col("__ts"), col("__w"),
        graft.functions.TextHash.chunkSpans(col("__w"), spanLen, spanLen)
          .as("__spans"))
      .select(col("doc_id"), col("__ts"), col("__w"),
              size(col("__spans")).cast("int").as("n_spans"), col("__spans"))
      .withWatermark("__ts", watermark)
    val kept = base
      .select(col("doc_id"), col("__ts"), col("n_spans"),
              posexplode(col("__spans")))
      .select(col("doc_id"), col("__ts"), col("n_spans"),
              (col("pos") + 1).cast("int").as("span_idx"),
              unhex(md5(col("col").cast("binary"))).as("__dig"))
      .dropDuplicatesWithinWatermark("__dig")
      .select(col("doc_id"), col("__ts"), col("n_spans"), col("span_idx"),
              lit(null).cast("array<string>").as("__w"))
    // presence row per doc (span_idx −1) carrying the token array: the
    // reassembly's token source, and the reason a fully-duplicate doc
    // still emits (n_spans, 0, "") instead of vanishing
    val presence = base.select(col("doc_id"), col("__ts"), col("n_spans"),
      lit(-1).cast("int").as("span_idx"), col("__w"))
    val L = spanLen
    kept.unionByName(presence)
      .groupBy(col("doc_id"), org.apache.spark.sql.functions.window(col("__ts"), window))
      .agg(max("n_spans").as("n_spans"),
           first(col("__w"), ignoreNulls = true).as("__toks"),
           sort_array(collect_list(when(col("span_idx") >= 0, col("span_idx"))))
             .as("__idx"))
      .select(col("doc_id"), col("n_spans"),
              size(col("__idx")).cast("int").as("n_kept"),
              concat_ws(" ", flatten(transform(col("__idx"),
                i => slice(col("__toks"), (i - 1) * L + 1, lit(L))))).as("dedup_text"))
  }

  /** Streaming line-level dedup — the live twin of `Lines.lineDedup`
    * with streaming-natural FIRST-OCCURRENCE semantics: the first
    * arrival of a line (doc order, then position) KEEPS it and every
    * later copy — cross-doc boilerplate and within-doc repeats
    * alike — drops via a digest-keyed
    * `dropDuplicatesWithinWatermark`. State is one 16-byte digest per
    * distinct line inside the horizon, never line text or documents.
    * The batch operator removes retroactively (a dup discovered later
    * deletes the FIRST copy too — an emitted row cannot be
    * retracted), so the declared twin pins the monotone rule and its
    * oracle spells exactly that: rank 1 per digest by (doc_id, pos)
    * keeps, everything else is removed. Reassembly mirrors
    * `dedupSpansStream`: a presence row per doc joins the windowed
    * agg so a doc whose every line was claimed still emits with
    * empty content. */
  def lineDedupStream(docs: DataFrame, tsCol: String = "ts",
                      idCol: String = "doc_id", contentCol: String = "content",
                      watermark: String = "1 day",
                      window: String = "1 hour"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        split(col(contentCol), "\n").as("__ls"))
      .select(col("doc_id"), col("__ts"), col("__ls"),
              size(col("__ls")).cast("int").as("n_lines"))
      .withWatermark("__ts", watermark)
    val kept = base
      .select(col("doc_id"), col("__ts"), col("n_lines"),
              posexplode(col("__ls")))
      .select(col("doc_id"), col("__ts"), col("n_lines"),
              col("pos").cast("int").as("pos"), col("col").as("line"),
              unhex(md5(col("col").cast("binary"))).as("__dig"))
      .dropDuplicatesWithinWatermark("__dig")
      .select(col("doc_id"), col("__ts"), col("n_lines"), col("pos"),
              col("line"))
    val presence = base.select(col("doc_id"), col("__ts"), col("n_lines"),
      lit(-1).cast("int").as("pos"), lit(null).cast("string").as("line"))
    kept.unionByName(presence)
      .groupBy(col("doc_id"),
        org.apache.spark.sql.functions.window(col("__ts"), window))
      .agg(max("n_lines").as("n_lines"),
           sort_array(collect_list(when(col("pos") >= 0,
             struct(col("pos"), col("line").as("l"))))).as("__kept"))
      .select(col("doc_id"), col("n_lines"),
              (col("n_lines") - size(col("__kept"))).cast("int")
                .as("n_removed"),
              array_join(transform(col("__kept"), s => s.getField("l")), "\n")
                .as("content"))
  }

  /** Declared `q_line_dedup_stream`: the line-dedup stream drained to
    * its end state over the planted multi-line corpus — watermark 0 s
    * + 1 s per-doc windows, so every doc except max(doc_id) emits
    * (the `spanDedupOverFile` scheme; the oracle excludes exactly
    * that doc, whose lines still participate in keep decisions —
    * safe, it arrives last and can only lose). */
  def lineDedupOverFile(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame =
    Drain.toTable(spark, "linestream",
      lineDedupStream(
        graft.operators.Lines.linesWrapped(orderedDocStream(spark, sfDir),
          "doc_id", "text", "source", carry = Seq("ts")),
        watermark = "0 seconds", window = "1 second"))

  /** Streaming exact repeated-substring removal — the streaming twin
    * of `Dedup.dedupExactSubstrings`, completing the dedup matrix
    * (exact, canonical, span, simhash, substring all stream; only
    * pairwise minhash cannot one-pass). Every overlapping
    * `gramLen`-token window flows through a digest-keyed
    * `dropDuplicatesWithinWatermark` — state is ONE entry per distinct
    * window digest in the horizon, never window text or documents —
    * and a window's occurrence is kept iff its digest was not seen
    * earlier (arrival order replaces the batch operator's
    * (doc_id, pos) order, as in `dedupSpansStream`). NOTE on
    * within-batch determinism: when a window digest repeats WITHIN one
    * micro-batch (in-doc or cross-doc same-batch), the state store
    * sees occurrences in shuffled-iterator order, so WHICH copy
    * survives is partition-order-arbitrary and can diverge run-to-run
    * and from the batch operator's (doc_id, pos)-first rule; output is
    * deterministic when duplicates arrive in distinct micro-batches or
    * when the upstream is a single ordered partition (streaming frames
    * cannot sort pre-state, so the ordered-partition route is the
    * deterministic one — `substringsDedupOverFile` pins it with
    * `coalesce(1)`, making arrival order the batch rule and the batch
    * DuckDB oracle applicable). Reassembly:
    * a token is CUT iff its surviving-cover count falls short of the
    * expected cover count (every token of an n≥L doc is covered by
    * min(t, n−L) − max(0, t−L+1) + 1 windows by construction, so any
    * shortfall means a covering window was dropped as a duplicate).
    * The cover counts are computed per doc by a difference array over
    * the surviving window POSITIONS — the post-dedup stream carries
    * only (doc_id, gpos) int rows plus one token-array presence row
    * per doc, never an L× token explode, so the window-agg shuffle
    * volume is O(windows + docs), not O(windows × L). Docs shorter
    * than gramLen contain no ≥L substring, bypass the dedup entirely
    * and reassemble verbatim from their presence row. The per-doc
    * windowed aggregate emits (doc_id, n_tokens, n_cut, dedup_text)
    * on window close. */
  def dedupSubstringsStream(docs: DataFrame, tsCol: String = "ts",
                            idCol: String = "doc_id", textCol: String = "text",
                            gramLen: Int = 20, watermark: String = "1 day",
                            window: String = "1 hour"): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    // ONE watermark node on the shared base, BEFORE branching: a
    // per-branch withWatermark would give the union two watermark
    // operators and the global watermark is their MIN — a quiet branch
    // (e.g. no short docs ever arrive) would pin it at epoch and no
    // window would ever close. Both branches descend from this node,
    // so every event advances both copies identically.
    val base = docs.select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col("doc_id"), col("__ts"), col("__w"),
              size(col("__w")).cast("int").as("n_tokens"))
      .withWatermark("__ts", watermark)
    val covers = base.filter(col("n_tokens") >= gramLen)
      .select(col("doc_id"), col("__ts"), col("n_tokens"),
        posexplode(graft.functions.TextHash.chunkSpans(col("__w"), gramLen, 1)))
      .select(col("doc_id"), col("__ts"), col("n_tokens"),
              col("pos").cast("int").as("gpos"),
              unhex(md5(col("col").cast("binary"))).as("__dig"))
      .dropDuplicatesWithinWatermark("__dig")
      // post-dedup the window TEXT is gone already (digest + position
      // only) — ints ride the window-agg shuffle, never an L× explode
      .select(col("doc_id"), col("__ts"), col("n_tokens"), col("gpos"),
              lit(null).cast("array<string>").as("__w"))
    // one presence row per doc (gpos −1) carrying the token array: the
    // reassembly's token source, and the reason a doc whose EVERY
    // window is dropped as a duplicate still emits (n, n, "") instead
    // of vanishing. Docs shorter than gramLen have no cover rows and
    // reassemble verbatim from this row alone.
    val presence = base.select(col("doc_id"), col("__ts"), col("n_tokens"),
      lit(-1).cast("int").as("gpos"), col("__w"))
    val L = gramLen
    // Bounds-guarded like the pre-r7 per-token form: duplicate doc_ids
    // of DIFFERING lengths in one window are ill-defined input (the
    // agg's n_tokens is the max arrival, __toks the first), but they
    // must degrade like the old code did — positions outside the token
    // array are ignored, never an index crash that kills the stream.
    val reassemble = udf((n: Int, toks: Seq[String], gs: Seq[Int]) => {
      if (n < L) (0, toks.mkString(" "))
      else {
        // difference array: window at g covers tokens [g, g+L)
        val diff = new Array[Int](n + 1)
        gs.foreach { g =>
          if (g >= 0 && g <= n - L) { diff(g) += 1; diff(g + L) -= 1 }
        }
        var cnt = 0
        val kept = (0 until n).filter { t =>
          cnt += diff(t)
          cnt == math.min(t, n - L) - math.max(0, t - L + 1) + 1
        }
        (n - kept.length,
         kept.filter(_ < toks.length).map(toks).mkString(" "))
      }
    })
    covers.unionByName(presence)
      .groupBy(col("doc_id"),
               org.apache.spark.sql.functions.window(col("__ts"), window))
      .agg(max("n_tokens").as("n_tokens"),
           first(col("__w"), ignoreNulls = true).as("__toks"),
           collect_list(when(col("gpos") >= 0, col("gpos"))).as("__gs"))
      .select(col("doc_id"), col("n_tokens"),
              reassemble(col("n_tokens"), col("__toks"), col("__gs")).as("__r"))
      .select(col("doc_id"), col("n_tokens"),
              col("__r._1").cast("int").as("n_cut"),
              col("__r._2").as("dedup_text"))
  }

  /** Streaming held-out-LM quality scoring — the serve side of
    * `Corpus.lmCrossEntropy`: the LM is fit ONCE on a reference batch
    * (the (word, count) frame plus the constant N/V totals), and an
    * unbounded document stream is scored against it. Token explode and
    * the add-one-smoothed log-prob are scan-side; the LM join is
    * stream-static (stateless — Spark re-plans the static side per
    * micro-batch, broadcast when small); the only stateful operator is
    * the per-doc windowed aggregate that sums each document's token
    * log-probs and emits on window close. Same output schema as the
    * batch operator: (doc_id, n_tokens, cross_entropy). */
  def scoredByLm(docs: DataFrame, lmFreq: DataFrame, nRef: Long, vRef: Long,
                 tsCol: String = "ts", idCol: String = "doc_id",
                 textCol: String = "text", watermark: String = "1 day",
                 window: String = "1 hour"): DataFrame = {
    val denom = (nRef + vRef + 1).toDouble
    val tok = docs.select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    val lp = tok.join(lmFreq, Seq("w"), "left")
      .select(col("doc_id"), col("__ts"),
        log((coalesce(col("wn"), lit(0L)) + lit(1L)).cast("double") / lit(denom))
          .as("__lp"))
    lp.withWatermark("__ts", watermark)
      .groupBy(col("doc_id"),
        org.apache.spark.sql.functions.window(col("__ts"), window))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
           round(-avg(col("__lp")), 6).as("cross_entropy"))
      .select(col("doc_id"), col("n_tokens"), col("cross_entropy"))
  }

  /** Streaming canonical-form dedup — the streaming twin of
    * `q_canonical_dedup`: the CCNet normalization (lower/strip/
    * collapse) is a stateless per-row expression, so the only state is
    * the watermark-bounded set of NORMALIZED digests; case/punct/
    * spacing variants of an already-seen page are dropped on arrival. */
  def dedupCanonical(docs: DataFrame, tsCol: String = "ts",
                     textCol: String = "text",
                     watermark: String = "1 day"): DataFrame = {
    val norm = graft.operators.Corpus.canonicalText(col(textCol))
    docs.withColumn("__fp", md5(norm.cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Streaming PII scrub — the release gate applied at ingestion time
    * instead of at export: the batch `Corpus.redactPii` transform IS
    * the streaming transform (stateless per-row regexes, no watermark,
    * no state), so a document never lands unscrubbed anywhere
    * downstream. Exact batch parity by construction; StreamingSpec
    * pins it row-for-row. */
  def scrubbed(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    graft.operators.Corpus.piiStats(docs, idCol, textCol)

  /** Near-dup streaming heuristic: drop documents whose 64-bit SimHash
    * signature (native codegen expression) collides with an earlier
    * doc in the horizon. Hamming-0 collision ⇒ near-identical token
    * frequency profiles; for banded hamming-k matching, run the batch
    * `Dedup.simhashPairs` over the deduped sink instead (pairwise
    * banding needs a self-join, which streaming state can't express
    * one-pass). */
  def dedupBySimhash(docs: DataFrame, tsCol: String = "ts",
                     textCol: String = "text",
                     watermark: String = "1 day"): DataFrame =
    docs.withColumn("__sig",
        graft.functions.TextHash.simhash64(split(trim(col(textCol)), "\\s+")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Streaming benchmark decontamination — the serve half of the Bloom
    * sketch over a live ingestion feed. The batch fit
    * (`Corpus.fitDecontaminationBloom`) runs once over the benchmark
    * suite (constant-size model);
    * serving is `Corpus.decontaminateRows` — a row-local shingle +
    * sketch-probe projection with NO state, NO watermark, NO shuffle,
    * so a 100 TB/day feed scrubs at scan speed in append mode. Exact
    * batch parity by construction (same transform); StreamingSpec pins
    * it row-for-row against `decontaminateWithBloom`. */
  def decontaminated(docs: DataFrame,
                     bf: org.apache.spark.util.sketch.BloomFilter,
                     idCol: String = "doc_id", textCol: String = "text",
                     k: Int = 8): DataFrame =
    graft.operators.Corpus.decontaminateRows(docs, bf, idCol, textCol, k)

  /** The declared `q_decontaminate_stream` runner: fit the sketch on
    * the benchmark split (doc_id % 10 == 0) batch-side, stream the
    * remaining corpus from the documents parquet through the probe,
    * return the drained end state as a batch frame. Mirrors the
    * `q_decontaminate_bloom` split exactly, so the end state must
    * equal the batch query row-for-row (modulo its final sort). */
  def decontaminatedOverFile(spark: org.apache.spark.sql.SparkSession,
                             sfDir: String, k: Int = 8): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val bf = graft.operators.Corpus.fitDecontaminationBloom(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", k)
    val stream = graft.Tables.documentsStream(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
    Drain.toTable(spark, "decon",
      decontaminated(stream, bf, "doc_id", "text", k))
  }

  /** Streaming fuzzy decontamination — the edit-distance serve half
    * over a live feed. Fit (`Corpus.fitFuzzyKeys`) collects the
    * benchmark's canonical keys once (constant-size model); serving
    * is a row-local higher-order-function fold — no UDF, no state, no
    * shuffle, append mode at scan speed. */
  def fuzzyDecontaminated(docs: DataFrame, keys: Array[String],
                          idCol: String = "doc_id", textCol: String = "text",
                          maxDist: Int = 3, prefixChars: Int = 64): DataFrame =
    graft.operators.Corpus.decontaminateFuzzyRows(
      docs, keys, idCol, textCol, maxDist, prefixChars)

  /** The declared `q_decontaminate_fuzzy_stream` runner: fit the key
    * set on the benchmark split (doc_id % 10 == 0) batch-side, stream
    * the rest through the row-local serve; the drained end state must
    * equal the batch `q_decontaminate_fuzzy` row-for-row (modulo its
    * final sort), so the batch DuckDB oracle applies verbatim. */
  def fuzzyDecontaminatedOverFile(spark: org.apache.spark.sql.SparkSession,
                                  sfDir: String, maxDist: Int = 5,
                                  prefixChars: Int = 32): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val keys = graft.operators.Corpus.fitFuzzyKeys(
      docs.filter(col("doc_id") % 10 === 0), "text", prefixChars)
    val stream = graft.Tables.documentsStream(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
    Drain.toTable(spark, "fuzzy",
      fuzzyDecontaminated(stream, keys, "doc_id", "text", maxDist, prefixChars))
  }

  /** Streaming markup extraction — boilerplate removal applied at
    * INGESTION time (a crawl feed lands as main-content text, never as
    * raw HTML): the batch `Extract.extractHtml` transform IS the
    * streaming transform — stateless per-row regex/HOF expressions, no
    * watermark, no state, no shuffle, append mode at scan speed. Exact
    * batch parity by construction. */
  def htmlExtracted(docs: DataFrame, idCol: String = "doc_id",
                    htmlCol: String = "html"): DataFrame =
    graft.operators.Extract.extractHtml(docs, idCol, htmlCol)

  /** The declared `q_extract_html_stream` runner: wrap the documents
    * stream in the deterministic page skeleton (`Extract.htmlWrapped`,
    * also stateless), extract, drain; end state equals the batch
    * `q_extract_html` row-for-row, so its full oracle applies
    * verbatim. */
  def htmlExtractedOverFile(spark: org.apache.spark.sql.SparkSession,
                            sfDir: String): DataFrame = {
    Drain.toTable(spark, "extract",
      htmlExtracted(graft.operators.Extract.htmlWrapped(
        graft.Tables.documentsStream(spark, sfDir), "doc_id", "text")))
  }

  /** The declared `q_link_graph_stream` runner: page wrap + hyperlink
    * extraction + URL resolution (`LinkGraph.linkEdges`) are stateless
    * per-row selects, so a live crawl feed emits its link table at
    * scan speed in append mode; the drained end state equals the batch
    * `q_link_graph` row-for-row, so its full oracle applies
    * verbatim. */
  def linkEdgesOverFile(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame = {
    Drain.toTable(spark, "links",
      graft.operators.LinkGraph.linkEdges(
        graft.operators.LinkGraph.linkPageWrapped(
          graft.Tables.documentsStream(spark, sfDir),
          "doc_id", "source", "lang"),
        "doc_id", "url", "html"))
  }

  /** The declared `q_pagerank_stream` runner — streaming link-graph
    * MAINTENANCE: the distinct inter-host edge set accumulates over
    * the arriving crawl via a streaming `dropDuplicates` keyed on the
    * (src, dst) pair (state is one row per DISTINCT pair — host-graph
    * sized, never corpus sized; watermarkless by design, the graph IS
    * the standing state), and the integer PageRank then runs over the
    * drained edge set as a batch job — the serve-refresh pattern: the
    * stream maintains the aggregate, the iteration is a per-refresh
    * computation over it, never a per-batch recompute of the corpus.
    * A full drain yields exactly the batch edge set, so `q_pagerank`'s
    * oracle applies verbatim. */
  def pageRankOverFile(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String): DataFrame =
    graft.operators.LinkGraph.pageRankHosts(hostEdgeStateDrain(spark, sfDir))

  /** The shared edge-state maintenance behind the streaming graph
    * twins (`q_pagerank_stream` / `q_hits_stream` /
    * `q_triangles_stream`): the distinct inter-host edge set
    * accumulates via a watermarkless streaming `dropDuplicates` keyed
    * on the (src, dst) pair — one state row per DISTINCT pair,
    * host-graph sized, never corpus sized; the standing graph IS the
    * state — and a full drain yields exactly the batch edge set, so
    * every consumer's batch oracle applies verbatim. The iteration /
    * motif count then runs over the drained graph as a per-refresh
    * batch job (the serve-refresh pattern), never a per-batch corpus
    * recompute. Append-mode dropDuplicates emits every kept row in the
    * data batch itself, so the drain skips the no-data batch. */
  private def hostEdgeStateDrain(spark: org.apache.spark.sql.SparkSession,
                                 sfDir: String): DataFrame =
    Drain.toTable(spark, "prstream",
      graft.operators.LinkGraph.linkEdges(
          graft.operators.LinkGraph.linkPageWrapped(
            graft.Tables.documentsStream(spark, sfDir),
            "doc_id", "source", "lang"),
          "doc_id", "url", "html")
        .filter(col("src_host") =!= col("dst_host"))
        .select("src_host", "dst_host")
        .dropDuplicates("src_host", "dst_host"),
      noDataBatch = false)

  /** The declared `q_hits_stream` runner: integer HITS over the
    * maintained standing host graph — same state, different refresh
    * computation; drained edges ≡ batch edges, so `q_hits`'s oracle
    * applies verbatim. */
  def hitsOverFile(spark: org.apache.spark.sql.SparkSession,
                   sfDir: String): DataFrame =
    graft.operators.LinkGraph.hitsHosts(hostEdgeStateDrain(spark, sfDir))

  /** The declared `q_triangles_stream` runner: per-host triangle
    * counts over the maintained standing host graph; `q_triangles`'s
    * oracle applies verbatim. */
  def trianglesOverFile(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame =
    graft.operators.LinkGraph.triangleCounts(hostEdgeStateDrain(spark, sfDir))

  /** The declared `q_heavy_hitters_stream` runner — the count-min
    * sketch maintained as STREAMING STATE over the live corpus feed
    * (the monitoring shape: frequency surveillance of an unbounded
    * stream in constant memory): the depth·width cell grid is a
    * complete-mode aggregation whose standing state is exactly the
    * sketch — never term-keyed, never corpus-sized. The heavy-hitter
    * REPORT (which needs exact counts for its error column) is then
    * computed batch-side over the drained sketch; the drained grid
    * equals the batch `Sketches.cmsSketch` cell-for-cell, so
    * `q_heavy_hitters`'s full oracle applies verbatim. */
  def cmsOverFile(spark: org.apache.spark.sql.SparkSession,
                  sfDir: String): DataFrame =
    graft.operators.Sketches.cmsReport(
      Drain.toTable(spark, "cms",
        graft.operators.Sketches.cmsSketch(
          graft.Tables.documentsStream(spark, sfDir), "text"),
        outputMode = "complete"),
      graft.Tables.documents(spark, sfDir), "text")

  /** The declared `q_bm25_serve_stream` runner — the SPARSE ranker's
    * serve tier (the last hole in the serve matrix next to the dense
    * raw/PQ/SQ8/graph shards): the inverted index fits batch-side on
    * the standing corpus (`Retrieval.fitBm25Index`, the AnnShard
    * contract), and the live query feed scores through the row-local
    * broadcast-index scan (`functions.Bm25TopK`) — stateless append,
    * no join, no shuffle. Drained end state equals the batch
    * `q_bm25_topk` row-for-row (same rounding, same tie-break), so
    * its full oracle applies verbatim. */
  def bm25ServeOverFile(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame = {
    val ix = graft.operators.Retrieval.fitBm25Index(
      graft.Tables.documents(spark, sfDir), "doc_id", "text")
    Drain.toTable(spark, "bm25",
      graft.operators.Retrieval.bm25ServeRows(
        graft.operators.Retrieval.queryTermArrays(
          graft.Tables.documentsStream(spark, sfDir), "doc_id", "text"),
        ix))
  }

  /** The declared `q_hybrid_serve_stream` runner — HYBRID retrieval
    * as a serve tier: both indexes fit batch-side on the standing
    * corpus (the BM25 inverted shard + the exact dense shard over the
    * documents⋈embeddings join), and the live query feed runs both
    * row-local scans AND the integer RRF fusion in one stateless
    * append pass (the only stream-side join is the static embedding
    * attach). The shards hold the full corpus, so drained ≡ batch
    * BRUTE hybrid `q_hybrid_topk_brute` row-for-row and its full
    * chained oracle applies verbatim. */
  def hybridServeOverFile(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val u = graft.Tables.documents(spark, sfDir)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val ix = graft.operators.Retrieval.fitBm25Index(u, "doc_id", "text")
    val shard = graft.operators.AnnServe.fitShard(u, "doc_id", "embedding")
    val stream = graft.operators.Retrieval.queryTermArrays(
        graft.Tables.documentsStream(spark, sfDir), "doc_id", "text")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding")),
        Seq("query_id"))
    Drain.toTable(spark, "hybrid",
      graft.operators.Retrieval.hybridServeRows(stream, ix, shard))
  }

  /** The declared `q_kmeans_stream` runner — the k-means SERVE twin
    * (fit batch / serve stream, the ANN-tier pattern): centroids are
    * fitted batch-side on the standing corpus, and the live embedding
    * feed assigns through the scan-side argmin expression — stateless
    * append work, zero shuffle. Drained end state equals the batch
    * `q_kmeans_clusters` row-for-row, so its full oracle applies
    * verbatim. */
  def kmeansAssignOverFile(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String): DataFrame = {
    val cent = graft.operators.Cluster.fitKmeans(
      graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding")
    Drain.toTable(spark, "kmeans",
      graft.operators.Cluster.assignClusters(
        graft.Tables.embeddingsStream(spark, sfDir), "vec_id", "embedding",
        cent))
  }

  /** The declared `q_parse_jsonl_stream` runner: the documents stream
    * serialized through the engine's JSON codec (with the planted
    * corrupt-line class) and parsed back — wrap + parse are stateless
    * per-row selects, so a live JSONL feed parses at scan speed in
    * append mode; the drained end state equals the batch
    * `q_parse_jsonl` row-for-row, so its oracle applies verbatim. */
  def parseJsonlOverFile(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String): DataFrame = {
    Drain.toTable(spark, "jsonl",
      graft.operators.Ingest.parseJsonl(
        graft.operators.Ingest.jsonlWrapped(
          graft.Tables.documentsStream(spark, sfDir),
          "doc_id", "text", "source", "lang")))
  }

  /** The declared `q_parse_warc_stream` runner — the WARC front
    * door's live twin: crawl FILES are staged to disk batch-side
    * (generation needs the group-by; real ingestion reads files, it
    * does not build them) and then arrive as a stream, and the whole
    * parse chain — offset-walking record fold, response filter, URI
    * chain, HTML body extraction — runs as stateless per-row work in
    * append mode (no join, no state, no shuffle: files parse at scan
    * speed on any number of executors). Drained end state equals the
    * batch `q_parse_warc` row-for-row, so its FULL recursive DuckDB
    * oracle applies verbatim. */
  def parseWarcOverFile(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame = {
    val files = graft.operators.Warc.warcFiles(graft.operators.Warc
      .warcRecords(graft.Tables.documents(spark, sfDir),
        "doc_id", "text", "source"))
    Drain.withTempRoot("warc") { root =>
      val in = s"$root/in"
      files.coalesce(2).write.mode("overwrite").parquet(in)
      val stream = spark.readStream.schema(files.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val parsed = graft.operators.Warc.parseWarc(stream)
      val resp = graft.operators.Warc.responses(parsed)
        .withColumn("body_md5", md5(col("body").cast("binary")))
      Drain.toTable(spark, "warc",
        graft.operators.Extract.extractHtml(resp, "doc_id", "body",
            carry = Seq("gid", "ridx", "uri", "domain", "wdate", "clen",
              "body_md5", "n_recs", "n_bad"))
          .drop("content"))
    }
  }

  /** Streaming model-based quality gate — the Bernoulli-NB serve half
    * over a live feed. Fit (`Corpus.fitNbQuality`) runs batch-side
    * (two nBuckets-bounded aggs, constant-size model); serving folds
    * the literal weight array row-locally — no state, no shuffle,
    * append mode. */
  def nbScored(docs: DataFrame, m: graft.operators.Corpus.NbQualityModel,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.Corpus.nbScoreRows(docs, m, idCol, textCol)

  /** The declared `q_quality_classifier_stream` runner: fit on the
    * lang split batch-side (the `q_quality_classifier` configuration),
    * stream the WHOLE corpus through the row-local scorer; end state
    * equals the batch query row-for-row, so its oracle applies. */
  def nbScoredOverFile(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String, nBuckets: Int = 4096): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val m = graft.operators.Corpus.fitNbQuality(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
      "doc_id", "text", nBuckets)
    Drain.toTable(spark, "nbq",
      nbScored(graft.Tables.documentsStream(spark, sfDir), m))
  }

  /** Streaming ANN serve — a live query-vector feed answered against a
    * fitted index shard (`AnnServe.topkRows`): row-local exact top-k
    * cosine via one native codegen expression, no join, no shuffle, no
    * state, append mode at scan speed. The fit (`AnnServe.fitShard`)
    * runs batch-side once per shard. */
  def annTopk(queries: DataFrame, shard: graft.operators.AnnServe.AnnShard,
              k: Int = 10, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    graft.operators.AnnServe.topkRows(queries, shard, k, idCol, vecCol)

  /** The declared `q_sim_serve_stream` runner: fit the shard on the
    * embeddings table batch-side, stream the `vec_id < 10` query slice
    * through the row-local serve; the drained end state equals the
    * batch `q_sim_serve` (and therefore `q_sim_bruteforce`)
    * row-for-row, so that DuckDB oracle applies verbatim. */
  def annServeOverFile(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String, k: Int = 10): DataFrame = {
    val shard = graft.operators.AnnServe.fitShard(
      graft.Tables.embeddings(spark, sfDir))
    Drain.toTable(spark, "annserve",
      annTopk(
        graft.Tables.embeddingsStream(spark, sfDir).filter(col("vec_id") < 10),
        shard, k))
  }

  /** The declared `q_lang_classifier_stream` runner: fit the trained
    * lang-ID model batch-side (`Corpus.fitLangModel`), stream the
    * documents through the row-local native scorer
    * (`Corpus.langScoreRows` — stateless append, no join, no state);
    * drained end state equals the declared relational query
    * row-for-row, so its full oracle applies verbatim. */
  def langClassifiedOverFile(spark: org.apache.spark.sql.SparkSession,
                             sfDir: String, nBuckets: Int = 1024): DataFrame = {
    val m = graft.operators.Corpus.fitLangModel(
      graft.Tables.documents(spark, sfDir), "doc_id", "text", "lang", nBuckets)
    Drain.toTable(spark, "langcls",
      graft.operators.Corpus.langScoreRows(
        graft.Tables.documentsStream(spark, sfDir), m, "doc_id", "text", "lang"))
  }

  /** The declared `media_video_int_stream` runner — the MEDIA family's
    * streaming twin, and the strongest one in the matrix: each arriving
    * document is wrapped into a genuine DIB-AVI container, parsed back,
    * every frame decoded, and the integer byte-recovery stats emitted
    * (`Media.videosFromDocuments` → `Media.videoIntStats` — per-row
    * codec work, stateless append, no join, no shuffle, no state). The
    * drained end state equals the batch `media_video_int` row-for-row,
    * so the full ARITHMETIC DuckDB oracle applies verbatim: the codec
    * round trip stays oracle-pinned even live. Scale posture: decode
    * rides the scan exactly as in batch — a 1000-executor stream does
    * per-partition codec work with zero exchanges. */
  def mediaVideoIntOverFile(spark: org.apache.spark.sql.SparkSession,
                            sfDir: String): DataFrame = {
    val docs = graft.Tables.documentsStream(spark, sfDir)
      .withColumn("text", regexp_replace(col("text"), "[^ -~]", ""))
    Drain.toTable(spark, "mediavint",
      graft.multimodal.Media.videoIntStats(
        graft.multimodal.Media.videosFromDocuments(docs, "doc_id", "text")))
  }

  /** The declared `q_sq_distortion_stream` runner — the distortion
    * report's streaming twin: the per-dim affine line fits batch-side
    * (one 2·dim agg, constant-size model — the fit/serve pattern),
    * then every arriving vector's round-trip error computes row-locally
    * through the SHARED `Embeddings.sqDistortionCols` algebra with the
    * line inlined as literal arrays — no state, no shuffle, append
    * mode at scan speed. Drained end state equals the batch
    * `q_sq_distortion` row-for-row, so its full oracle applies
    * verbatim. */
  def sqDistortionOverFile(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String): DataFrame = {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
    val dim = e.select(org.apache.spark.sql.functions.size(col("f"))).head.getInt(0)
    val mm = e.agg(
      array((1 to dim).map(j => min(element_at(col("f"), j))): _*),
      array((1 to dim).map(j =>
        (max(element_at(col("f"), j)) - min(element_at(col("f"), j))) / 255.0): _*))
      .head()
    val minl = array(mm.getSeq[Double](0).map(lit): _*)
    val stepl = array(mm.getSeq[Double](1).map(lit): _*)
    val (l2, fid) = graft.operators.Embeddings.sqDistortionCols(
      col("f"), minl, stepl)
    Drain.toTable(spark, "sqdist",
      graft.Tables.embeddingsStream(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
        .select(col("vec_id"), l2.as("l2_err"), fid.as("cos_fid")))
  }

  /** The declared `sim_sq_serve_stream` runner — the SQ8 tier's
    * streaming twin: fit the byte-code shard batch-side, stream the
    * query slice through the row-local dequantizing serve
    * (`AnnServe.sqTopkRows` — stateless append like every serve half).
    * Drained end state equals the batch `sim_sq_serve` row-for-row,
    * so the full SQL quantizer oracle applies verbatim: the memory-
    * bound tier keeps its oracle even live. */
  def sqServeOverFile(spark: org.apache.spark.sql.SparkSession,
                      sfDir: String, k: Int = 10): DataFrame = {
    val shard = graft.operators.AnnServe.fitSqShard(
      graft.Tables.embeddings(spark, sfDir))
    Drain.toTable(spark, "sqserve",
      graft.operators.AnnServe.sqTopkRows(
        graft.Tables.embeddingsStream(spark, sfDir).filter(col("vec_id") < 10),
        shard, k))
  }

  /** The declared `sim_graph_topk_stream` runner — the graph-beam
    * tier's streaming twin, completing the serve matrix (raw/PQ/SQ8
    * already stream): the kNN graph and its shard fit batch-side
    * exactly as `sim_graph_topk` builds them, and the live query feed
    * answers through the SAME row-local `graphTopkRows` beam walk —
    * stateless append, no join, no state, no shuffle. The beam is
    * deterministic in (shard, parameters), so the drained end state
    * equals the batch query row for row (pinned in SimilaritySpec);
    * refresh-version parity for this tier lives in StreamingSpec's
    * ServeRefresh.graphIndex case. */
  def graphServeOverFile(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String, k: Int = 10, ef: Int = 64): DataFrame = {
    val e = graft.Tables.embeddings(spark, sfDir)
    val graph = graft.operators.Ivf.knnGraph(e, "vec_id", "embedding", 8)
    val shard = graft.operators.AnnServe.fitGraphShard(e, graph)
    Drain.toTable(spark, "gserve",
      graft.operators.AnnServe.graphTopkRows(
        graft.Tables.embeddingsStream(spark, sfDir).filter(col("vec_id") < 10),
        shard, k, ef))
  }

  /** The declared `q_bitext_mine_stream` runner — bitext mining's
    * live twin: the src "language" arrives as a stream and each row's
    * margin-mined pair is computed by ONE row-local scan
    * (`functions.BitextTopMargin` — forward window, neighborhood
    * means, ratio margin, argmax all inside the scan; the backward
    * means are fitted batch-side into the shard by the same serve the
    * batch operator runs). No join, no window, no state, append mode;
    * the drained end state equals the batch `q_bitext_mine`
    * row-for-row, so its FULL DuckDB oracle applies verbatim. */
  def bitextOverFile(spark: org.apache.spark.sql.SparkSession,
                     sfDir: String, k: Int = 4): DataFrame = {
    val e = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") < 400)
    val shard = graft.operators.Mining.fitBitextServe(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 =!= 0), k)
    Drain.toTable(spark, "bitext",
      graft.operators.Mining.bitextMineServe(
        graft.Tables.embeddingsStream(spark, sfDir)
          .filter(col("vec_id") < 400 && col("vec_id") % 2 === 0),
        shard, k))
  }

  /** The declared `q_hard_negatives_stream` runner — the MINING
    * family's streaming twin (VERDICT r10 #3): a live ANCHOR feed
    * served against the standing labeled shard
    * (`AnnServe.fitLabeledShard`, batch-side fit), each anchor's
    * label-safe hard negatives computed by ONE row-local scan
    * expression (`functions.HardNegTopK` — the batch operator's
    * top-k window → null-safe same-label drop → rank 1..m algebra
    * collapsed into the scan; no join, no window, no state, append
    * mode). The drained end state equals the batch
    * `q_hard_negatives` row-for-row, so its FULL DuckDB oracle
    * applies verbatim — the online-contrastive serve shape,
    * oracle-pinned live. */
  def hardNegOverFile(spark: org.apache.spark.sql.SparkSession,
                      sfDir: String, k: Int = 20, m: Int = 5): DataFrame = {
    val e = graft.Tables.embeddings(spark, sfDir)
    val shard = graft.operators.AnnServe.fitLabeledShard(e, e)
    Drain.toTable(spark, "hardneg",
      graft.operators.AnnServe.hardNegRows(
        graft.Tables.embeddingsStream(spark, sfDir).filter(col("vec_id") < 50),
        shard, k, m))
  }

  // =====================================================================
  // Finite-input runners for the declared streaming dedup twins
  // =====================================================================

  /** The documents parquet as an ordered single-partition stream with a
    * synthetic deterministic event time (ts = 2024-01-01T00:00:00Z +
    * doc_id seconds — the documents table carries no timestamp).
    * `coalesce(1)` pins within-micro-batch arrival order to file order
    * (= doc_id order in the driver testdata, verified ascending), so
    * every `dropDuplicatesWithinWatermark` winner is the batch
    * operator's (doc_id, pos)-first rule and the batch DuckDB oracles
    * apply verbatim. Only the scan+tokenize segment is single-threaded;
    * everything after the dedup's hash exchange runs on the full state
    * partitioning (a one-map-partition shuffle preserves row order per
    * reducer). Production streams stay fully partitioned — this runner
    * is the finite-input proof harness, like `q_score_stream`'s. */
  private def orderedDocStream(spark: org.apache.spark.sql.SparkSession,
                               sfDir: String): DataFrame =
    graft.Tables.documentsStream(spark, sfDir)
      .coalesce(1)
      .withColumn("ts",
        timestamp_micros((lit(1704067200L) + col("doc_id")) * lit(1000000L)))

  /** Declared `q_span_dedup_stream`: the span-dedup stream drained to
    * its end state. Watermark 0 s + per-doc 1 s tumbling windows ⇒
    * after the single data micro-batch the no-data batch closes every
    * doc window except the one holding max(doc_id) (watermark = max
    * event time; that window's end is past it) — the oracle excludes
    * exactly that doc. Keep decisions are global across ALL docs
    * including the unemitted last one, which is safe: it arrives last,
    * so it can only lose spans to emitted docs, never claim one. */
  def spanDedupOverFile(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String, spanLen: Int = 5): DataFrame =
    Drain.toTable(spark, "spanstream",
      dedupSpansStream(orderedDocStream(spark, sfDir), "ts", "doc_id", "text",
        spanLen, watermark = "0 seconds", window = "1 second"))

  /** Declared `q_dedup_substrings_stream`: the exact repeated-substring
    * stream drained to its end state (same watermark/window/exclusion
    * scheme as `spanDedupOverFile`). */
  def substringsDedupOverFile(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String, gramLen: Int = 20): DataFrame =
    Drain.toTable(spark, "substrstream",
      dedupSubstringsStream(orderedDocStream(spark, sfDir), "ts", "doc_id",
        "text", gramLen, watermark = "0 seconds", window = "1 second"))

  /** Declared `q_canonical_dedup_stream`: canonical-form dedup drained
    * to its end state. Stateless emission (no window agg), so every
    * kept row lands in the sink — no last-doc exclusion needed; the
    * ordered single-partition feed makes the kept set exactly the
    * batch rule (min doc_id per normalized digest). */
  def canonicalDedupOverFile(spark: org.apache.spark.sql.SparkSession,
                             sfDir: String): DataFrame =
    Drain.toTable(spark, "canonstream",
      dedupCanonical(orderedDocStream(spark, sfDir), "ts", "text")
        .select(col("doc_id"), col("source"), col("n_chars")),
      noDataBatch = false)

  /** STREAMING cross-modal dedup — the combined text-digest +
    * embedding-grid verdict (`Dedup.crossmodalDedup`) MAINTAINED
    * INCREMENTALLY over an arriving corpus (VERDICT r10 #1: the prior
    * spelling re-ran the entire batch operator over the accumulated
    * state every micro-batch — O(batches × corpus) grid-pair + CC
    * work over a run).
    *
    * Both verdict signals retract under arrivals, but each retraction
    * has a BOUNDED blast radius, and the incremental spelling exploits
    * exactly that:
    *
    *   * exact: the keeper of a digest group is min(doc_id), which
    *     only ever DECREASES — so a batch can change verdicts only
    *     for (a) its own docs and (b) the standing keepers it
    *     dethrones. State is one (digest → keeper) row per distinct
    *     digest; untouched groups' verdicts carry forward verbatim.
    *   * semantic: grid pairs require EQUAL cells, so connected
    *     components never span cells and the cellCap selection
    *     (md5-ranked, non-monotone — a new id can displace a standing
    *     member) is also cell-local. A batch re-runs cap+pairs+CC
    *     ONLY over the cells it touches (`Dedup.gridClusters` over a
    *     cell-closed subset ≡ the full pass restricted to those
    *     cells); untouched cells' verdicts carry forward verbatim.
    *
    * Per-batch work: the touched keys come back as one batch-bounded
    * driver collect and restrict the hot state through broadcast
    * semi/anti joins that STREAM the state side (an O(|state|)
    * in-memory scan with zero state-side exchanges — the floor for
    * any DataFrame-shaped upsert, the `MaintainedCorpus.advance`
    * precedent) plus pairs+CC bounded by the touched
    * cells — never the corpus-wide grid pass, and never a corpus-wide
    * SHUFFLE: the recompute spelling re-exchanges the whole corpus
    * every batch (grid window + CC), this one exchanges only
    * batch/touched rows — the `ProbeSoak xmodal` gate measures exactly
    * that shuffle-volume gap. The drained end state
    * is EXACTLY the
    * batch operator on the full corpus (the verbatim `q_dedup_
    * crossmodal` oracle gates this), because every carried-forward
    * verdict is provably unchanged by the batch: exact by keeper
    * monotonicity, semantic by cell locality.
    *
    * State is kept hot (localCheckpoint blocks); the pointer-commit
    * recovery spelling is `CorpusPipeline.MaintainedCorpus`'s and
    * applies verbatim to this advance contract. */
  final class MaintainedCrossmodal(gridDims: Int = 2, gridSize: Double = 0.25,
                                   minCosine: Double = 0.3, cellCap: Int = 64) {
    import graft.operators.Dedup
    // (doc_id, __fp, __exdup): one row per doc — its digest and exact
    // verdict. The group keeper is implicit (min doc_id per __fp).
    @volatile private var docState: Option[DataFrame] = None
    // (id, f, __n, cell, __semdup): one row per norm-positive
    // embedding — its grid cell and semantic verdict.
    @volatile private var embState: Option[DataFrame] = None
    // Test hooks (StreamingSpec's no-full-rescan gate): the physical
    // plans of the two state restrictions of the LAST advance — the
    // embedding state cut down to the batch's cells, and the digest
    // state cut down to the batch's digests. Both must be broadcast
    // joins that STREAM the state (no state-side exchange, no
    // cartesian fallback); the spec asserts exactly that.
    // Stored as FRAMES, stringified only by the spec on demand — an
    // eager executedPlan.toString on an InSet filter prints every
    // literal key (megabytes of string work per batch at 10⁴ digests,
    // pure test-hook overhead in the advance path).
    @volatile private[graft] var lastCellRestrict: Option[DataFrame] = None
    @volatile private[graft] var lastFpRestrict: Option[DataFrame] = None
    private[graft] def lastCellRestrictPlan: String =
      lastCellRestrict.map(_.queryExecution.executedPlan.toString).getOrElse("")
    private[graft] def lastFpRestrictPlan: String =
      lastFpRestrict.map(_.queryExecution.executedPlan.toString).getOrElse("")

    /** Absorb one (doc_id, text, vec_id, embedding) micro-batch —
      * doc-side and embedding-side rows may arrive independently
      * (null-padded halves). Returns the CHANGED verdict rows only
      * (doc_id, keep, reason): the batch's own docs plus every doc a
      * retraction reached (dethroned keepers, touched-cell members).
      * Untouched docs do not appear — that absence IS the locality
      * contract StreamingSpec gates on; `verdict` serves the full
      * corpus-wide table. */
    def advance(batch: DataFrame): DataFrame = synchronized {
      // ONE materialization of the arrival (per-batch JOB COUNT is what
      // dominates a drain at micro-batch granularity; advance pays this
      // snapshot, one tiny collect per signal, the CC pass, and one
      // rewrite per touched state — nothing else runs a job). Text is
      // digested here and never enters state.
      val sess0 = batch.sparkSession
      val snap = graft.Phases.phase(sess0, "xmodal:snap") {
        batch.select(col("doc_id").cast("long").as("doc_id"),
            md5(col("text").cast("binary")).as("__fp"),
            col("vec_id"), col("embedding"))
          .localCheckpoint()
      }
      // At-least-once sources re-deliver rows ACROSS batches (a retry
      // re-fires the whole trigger, so duplicates land in a later
      // batch, not inside one): without care a re-delivered doc is
      // emitted by both the touched-state rewrite and the batch half,
      // silently corrupting state with duplicate keys — the anti-joins
      // at the two union sites below drop the stale state copy. Within
      // ONE batch each source row is delivered once (the file/Kafka
      // batch contract), so no dedup exchange is paid here and the
      // zero-state-side-shuffle plan shape is preserved.
      val newFp = snap.filter(col("doc_id").isNotNull).select("doc_id", "__fp")
      val be = snap.filter(col("vec_id").isNotNull)
        .select("vec_id", "embedding")
      val newEmb = Dedup.embGridRows(be, "vec_id", "embedding",
        gridDims, gridSize)

      // ONE driver round-trip for BOTH signals: the batch's per-digest
      // minima and its touched cells, tagged and unioned so the two
      // tiny aggregates share one job (micro-batch drains are
      // scheduler-bound; fusing the collects measured ~0.1 s/batch at
      // sf0.1). Batch-bounded by definition. Both halves come
      // back as LOCAL relations and re-enter the plan as broadcast-join
      // BUILD sides, so every state restriction is a BroadcastHashJoin
      // semi/anti that STREAMS the state with zero state-side
      // exchanges. Two earlier spellings measured strictly worse in
      // the xmodal probe at 20k-digest batches: a typedlit map pays
      // O(d) Catalyst analysis on every batch (~3-4 s of a ~5 s
      // advance — the literal, not the data, was the cost) and
      // isInCollection's d-literal In tree pays the same analysis toll
      // before the InSet conversion; a LocalRelation build side is
      // O(1) in the plan and its broadcast build is one tiny job,
      // reused across the semi/anti/lookup uses. A batch wide enough
      // to strain the driver collect (~10^5+ distinct digests) should
      // lower maxFilesPerTrigger instead.
      // r16 (VERDICT r15 #1): the batch's own id sets ride the SAME
      // collect — the two at-least-once anti-join build sides below
      // (the batch's doc_ids against the touched exact state, the
      // batch's vec ids against the touched cell rows) were separate
      // per-batch BroadcastExchange jobs over the snap blocks; as
      // tagged rows of this one union they cost two more scans of the
      // already-cached snap inside the same job and come back as
      // LocalRelations, whose broadcast build is driver-only (no job).
      val touchedKeys = graft.Phases.phase(sess0, "xmodal:touched") {
        newFp.groupBy("__fp")
          .agg(min("doc_id").as("__bmin"))
          .select(lit(0).as("__t"), col("__fp").as("__k"),
                  col("__bmin").cast("long").as("__v"))
          .unionByName(newEmb.select("cell").distinct()
            .select(lit(1).as("__t"), col("cell").as("__k"),
                    lit(null).cast("long").as("__v")))
          .unionByName(newFp.select(lit(2).as("__t"),
            lit(null).cast("string").as("__k"),
            col("doc_id").cast("long").as("__v")))
          .unionByName(newEmb.select(lit(3).as("__t"),
            lit(null).cast("string").as("__k"),
            col("id").cast("long").as("__v")))
          .collect()
      }
      val bminPairs: Array[(String, Long)] = touchedKeys
        .filter(_.getInt(0) == 0).map(r => (r.getString(1), r.getLong(2)))
      val cells: Seq[String] = touchedKeys
        .filter(_.getInt(0) == 1).map(_.getString(1)).toSeq
      val batchDocIds: Seq[Long] = touchedKeys
        .filter(_.getInt(0) == 2).map(_.getLong(2)).toSeq
      val batchEmbIds: Seq[Long] = touchedKeys
        .filter(_.getInt(0) == 3).map(_.getLong(2)).toSeq
      val sess = batch.sparkSession
      import sess.implicits._
      val batchMins = broadcast(
        sess.createDataset(bminPairs.toSeq).toDF("__fp", "__bmin"))
      val cellsDf = broadcast(sess.createDataset(cells).toDF("cell"))
      val batchDocIdsDf = broadcast(sess.createDataset(batchDocIds).toDF("doc_id"))
      val batchEmbIdsDf = broadcast(sess.createDataset(batchEmbIds).toDF("id"))

      // ---- exact signal: touched digest groups only -------------------
      // The touched restriction is a broadcast semi join streaming the
      // state scan; old-keeper lookup and re-verdict are broadcast
      // joins over the group-bounded touched rows.
      //
      // The two signals' state rewrites are independent until the final
      // delta join, and each is a short chain of SMALL jobs — at
      // micro-batch granularity the drain is scheduler-bound, so the
      // exact rewrite runs on the side pool while the semantic rewrite
      // (the expensive half: touched-cell pairs + CC) runs on the
      // caller thread. Same frames, same plans, same results — only the
      // job submission overlaps (measured ~0.4 s/batch at sf0.1).
      def exactRewrite(): (DataFrame, DataFrame) = docState match {
        case Some(s) if bminPairs.nonEmpty =>
          val touched = s.join(batchMins.select("__fp"), Seq("__fp"), "left_semi")
          lastFpRestrict = Some(touched)
          val nk = touched.groupBy("__fp").agg(min("doc_id").as("__old"))
            .join(batchMins, Seq("__fp"))
            .select(col("__fp"), col("__old"),
              least(col("__old"), col("__bmin")).as("__nk"))
          val dethroned = nk.filter(col("__nk") < col("__old"))
            .select(col("__old").as("doc_id"), col("__fp"),
                    lit(true).as("__exdup"))
          // new keeper per BATCH digest: the touched-group answer where
          // state knew the digest, the batch's own min where it did not
          val nkAll = broadcast(batchMins
            .join(nk.select("__fp", "__nk"), Seq("__fp"), "left")
            .select(col("__fp"),
                    coalesce(col("__nk"), col("__bmin")).as("__nk")))
          val batchEx = newFp.join(nkAll, Seq("__fp"))
            .select(col("doc_id"), col("__fp"),
              (col("doc_id") =!= col("__nk")).as("__exdup"))
          // every member of a touched group gets its verdict refreshed
          // (values only move for dethroned keepers — min is monotone).
          // A doc_id re-delivered ACROSS batches sits in both `touched`
          // (state) and `batchEx` (batch): anti-join the batch's
          // doc_ids out of the state half so the union stays keyed.
          val touchedNew = touched.join(nkAll, Seq("__fp"))
            .select(col("doc_id"), col("__fp"),
                    (col("doc_id") =!= col("__nk")).as("__exdup"))
            .join(batchDocIdsDf, Seq("doc_id"), "left_anti")
          // r15: LAZY state checkpoint — the drain runner never
          // evaluates per-batch deltas, so materialization fuses into
          // whichever later job first reads the state (often the final
          // verdict), cutting one standalone job per batch per signal;
          // blocks still cache at first compute.
          val st2 = s.join(batchMins.select("__fp"), Seq("__fp"), "left_anti")
            .unionByName(touchedNew).unionByName(batchEx)
            .localCheckpoint(false)
          (batchEx.unionByName(dethroned), st2)
        case Some(s) => // doc-free batch: exact state untouched, no job
          (s.limit(0), s)
        case None =>
          val batchEx = newFp.join(batchMins, Seq("__fp"))
            .select(col("doc_id"), col("__fp"),
              (col("doc_id") =!= col("__bmin")).as("__exdup"))
          val st2 = batchEx.localCheckpoint(false)
          (st2, st2)
      }
      val exFuture = MaintainedCrossmodal.advancePool.submit(
        new java.util.concurrent.Callable[(DataFrame, DataFrame)] {
          // labeled here, not at pool creation: the pool thread's
          // thread-local job description would otherwise be inherited
          // from whichever advance FIRST created the pool and stick
          // ("batch = 0" forever, found in r16 by listing each job's label)
          def call(): (DataFrame, DataFrame) =
            graft.Phases.phase(sess0, "xmodal:exact")(exactRewrite())
        })

      // ---- semantic signal: touched grid cells only -------------------
      val (semNew, embState2) = graft.Phases.phase(sess0, "xmodal:sem") {
       embState match {
        case Some(s) if cells.nonEmpty =>
          // Same at-least-once rule as the exact signal: a vec_id
          // re-delivered across batches sits in both the touched state
          // rows and the batch rows — the batch copy wins, the stale
          // state copy is anti-joined out (a duplicated id would
          // otherwise count as a spurious near-dup pair with itself).
          val oldCellRows = s.join(cellsDf, Seq("cell"), "left_semi")
            .select("id", "f", "__n", "cell")
            .join(batchEmbIdsDf, Seq("id"), "left_anti")
          lastCellRestrict = Some(oldCellRows)
          val cellRows = oldCellRows
            .unionByName(newEmb.select("id", "f", "__n", "cell"))
          val sn = withSemVerdict(cellRows)
          val st2 = s.join(cellsDf, Seq("cell"), "left_anti")
            .unionByName(sn).localCheckpoint(false)
          (sn, st2)
        case Some(s) => (s.limit(0), s) // embedding-free batch: no job
        case None =>
          val sn = withSemVerdict(newEmb.select("id", "f", "__n", "cell"))
          val st2 = sn.localCheckpoint(false)
          (st2, st2)
       }
      }

      val (exDelta, docState2) = exFuture.get()
      docState = Some(docState2); embState = Some(embState2)

      // ---- changed combined verdicts (batch + retraction reach) -------
      // Returned LAZY: the drain runner never evaluates per-batch
      // deltas at all (only the final `verdict`); a caller that does
      // evaluates a bounded frame rooted on checkpointed blocks.
      val changedIds = exDelta.select("doc_id")
        .unionByName(semNew.select(col("id").as("doc_id"))).distinct()
      val semLook = embState2.select(col("id").as("doc_id"), col("__semdup"))
        .join(broadcast(changedIds), Seq("doc_id"))
      docState2.join(broadcast(changedIds), Seq("doc_id"))
        .join(broadcast(semLook), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__exdup"), "exact")
            .when(coalesce(col("__semdup"), lit(false)), "semantic")
            .otherwise("none").as("reason"))
        .withColumn("keep", (col("reason") === "none").cast("int"))
        .select("doc_id", "keep", "reason")
    }

    /** Cap + pairs + CC over a cell-closed row set, folded back onto
      * every input row as its refreshed semantic verdict.
      *
      * r16 spelling: the whole chain is cell-local (components never
      * span cells), so `GridCellVerdicts` computes every capped
      * member's cluster in ONE per-cell aggregation pass — full state
      * rows come straight out of the explode (no verdict join back),
      * rows the md5 cap excluded pass through as non-dups (they join
      * no pair, exactly the old left-join coalesce(false) default),
      * and the group-by reuses the window's hashpartitioning(cell).
      * Per batch this removes the pair self-join and distinct
      * exchanges AND the CC decision-count + driver-collect jobs —
      * the semantic rewrite now schedules ZERO eager jobs inside
      * `advance` (it materializes fused into the next state read).
      * Values bit-identical: the q_dedup_crossmodal(_stream) oracles
      * hash-check the drained verdicts end to end. */
    private def withSemVerdict(cellRows: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("cell"))
        .orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
      val ranked = cellRows.withColumn("__r", row_number().over(w))
      val capped = ranked.filter(col("__r") <= cellCap)
        .groupBy("cell")
        .agg(collect_list(struct(col("id").cast("long").as("id"),
          col("f").cast("array<double>").as("f"),
          col("__n").cast("double").as("n"))).as("__m"))
        .select(col("cell"), explode(graft.functions.ArrayMath
          .gridCellVerdicts(col("__m"), minCosine)).as("v"))
        .select(col("v.id").as("id"), col("v.f").as("f"),
                col("v.n").as("__n"), col("cell"),
                (col("v.id") =!= col("v.cluster")).as("__semdup"))
      // overflow rows (md5 rank past the cap) never enter pairs — the
      // shared window Exchange is reused by both branches
      val overflow = ranked.filter(col("__r") > cellCap)
        .select(col("id").cast("long").as("id"),
                col("f").cast("array<double>").as("f"),
                col("__n").cast("double").as("__n"), col("cell"),
                lit(false).as("__semdup"))
      capped.unionByName(overflow)
    }

    /** The full corpus-wide verdict at the last absorbed batch —
      * exactly `Dedup.crossmodalDedup` on the accumulated tables. */
    def verdict: DataFrame = synchronized {
      val ex = docState.getOrElse(throw new IllegalStateException(
        "MaintainedCrossmodal: no batch absorbed yet"))
      val sem = embState.getOrElse(ex.limit(0)
        .select(col("doc_id").as("id"), lit(false).as("__semdup")))
      ex.join(sem.select(col("id").as("doc_id"), col("__semdup")),
              Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__exdup"), "exact")
            .when(coalesce(col("__semdup"), lit(false)), "semantic")
            .otherwise("none").as("reason"))
        .withColumn("keep", (col("reason") === "none").cast("int"))
        .select("doc_id", "keep", "reason")
        .orderBy("doc_id")
    }
  }

  object MaintainedCrossmodal {
    /** One shared daemon thread for the exact-signal rewrite — the
      * advance overlaps its two independent job chains (see the
      * comment in `advance`); a single side thread suffices because
      * the semantic half runs on the caller. */
    private[streaming] lazy val advancePool =
      java.util.concurrent.Executors.newFixedThreadPool(1,
        (r: Runnable) => {
          val t = new Thread(r, "xmodal-exact-rewrite")
          t.setDaemon(true)
          t
        })
  }

  /** Declared `q_dedup_crossmodal_stream`: documents full-outer-joined
    * with their embeddings, hash-sliced into `nSlices` arrival files,
    * streamed one file per micro-batch through the INCREMENTAL
    * maintainer (per-batch work bounded by the touched digest groups
    * and grid cells; untouched verdicts carried forward). The drained
    * end state equals the batch operator on the complete corpus, so
    * the batch `q_dedup_crossmodal` DuckDB oracle applies verbatim —
    * including every retraction the intermediate batches made along
    * the way. */
  def crossmodalOverFile(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String, nSlices: Int = 4): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val emb = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val feed = docs.join(emb, col("doc_id") === col("vec_id"), "full")
      .select(col("doc_id"), col("text"), col("vec_id"), col("embedding"))
    Drain.sliced(spark, "xmodal", feed, coalesce(col("doc_id"), col("vec_id")),
        nSlices) { (root, stream) =>
      val cm = new MaintainedCrossmodal()
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => cm.advance(batch): Unit }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      (q, () => cm.verdict.orderBy("doc_id"))
    }
  }

  /** Declared `q_simhash_dedup_stream`: first-occurrence keep per
    * 64-bit SimHash signature drained to its end state. Rows-only at
    * the driver (the FNV-based codegen signature is not
    * SQL-recomputable; the portable-md5 batch twin `dedup_simhash_md5`
    * carries the oracle for the signature semantics). */
  def simhashDedupOverFile(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String): DataFrame =
    Drain.toTable(spark, "simhashstream",
      dedupBySimhash(orderedDocStream(spark, sfDir), "ts", "text")
        .select(col("doc_id"), col("source"), col("n_chars")),
      noDataBatch = false)
}
