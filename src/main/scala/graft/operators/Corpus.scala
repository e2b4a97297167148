package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the document-level filters and samplers
  * a training-data pipeline runs before dedup/tokenization (quality
  * gating à la Gopher/C4, per-domain curation, reproducible sampling).
  *
  * All three are relational shapes: explode → two-level hash aggregate
  * for the word statistics, hash-keyed window for the sampler, single
  * hash aggregate for the domain rollup. No UDFs, no driver state.
  */
object Corpus {

  /** Gopher-style repetition/quality statistics per document (Rae et
    * al. 2021 §A1.1 adapted to this corpus): word count, mean word
    * length, distinct-word ratio, top-word fraction, and the resulting
    * keep flag.
    *
    * Shape: tokens explode once; the (doc, word) frequency aggregate is
    * partial+final hash agg (map-side combine collapses each doc's
    * repeated words before the shuffle), then a per-doc rollup. The
    * shuffle carries (doc_id, word, count) — bounded by per-doc DISTINCT
    * words, not token count. At 100 TB both aggs stay hash-based
    * (scalar buffers only).
    *
    * Keep bounds (tuned to this corpus' measured ranges; the Gopher
    * paper's own bounds assume web text): ≥ 30 words, mean word length
    * in [3, 10], ≥ 40% distinct words, top word ≤ 15% of tokens. */
  def gopherStats(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 30, minMeanLen: Double = 3.0,
                  maxMeanLen: Double = 10.0, minDistinctRatio: Double = 0.4,
                  maxTopWordFrac: Double = 0.15): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    val wf = tok.groupBy("doc_id", "w")
      .agg(count(lit(1)).as("f"), sum(length(col("w"))).as("lsum"))
    val per = wf.groupBy("doc_id").agg(
      sum("f").as("n_words"), count(lit(1)).as("n_distinct"),
      max("f").as("top_f"), sum("lsum").as("charsum"))
    val nWords = col("n_words").cast("double")
    per.select(
        col("doc_id"),
        col("n_words").cast("int").as("n_words"),
        round(col("charsum") / nWords, 6).as("mean_word_len"),
        round(col("n_distinct") / nWords, 6).as("distinct_ratio"),
        round(col("top_f") / nWords, 6).as("top_word_frac"))
      .withColumn("keep",
        (col("n_words") >= minWords &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("distinct_ratio") >= minDistinctRatio &&
          col("top_word_frac") <= maxTopWordFrac).cast("int"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sample: the first `perStratum` documents
    * of each stratum in md5(id) order. Reproducible across engines,
    * runs, and partitionings (the hash fixes the order; no RNG state).
    *
    * Shape at test scale: one window per stratum (rank over the hash).
    * At 100 TB exact-n-per-stratum requires that per-stratum sort; the
    * scale path is `hashFractionSample` below (stateless threshold on
    * the same hash — no sort, no shuffle, approximately fractional),
    * with this exact variant reserved for bounded strata counts. */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       perStratum: Int): DataFrame = {
    val h = md5(col(idCol).cast("string").cast("binary"))
    val w = Window.partitionBy(col(strataCol)).orderBy(h, col(idCol))
    docs.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perStratum)
  }

  /** Stateless fractional sample: keep a row iff the first 8 hex chars
    * of md5(id) fall under `fraction` of the 32-bit space. Zero shuffle,
    * zero state, exactly reproducible — the 100 TB sampling path. */
  def hashFractionSample(docs: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction in [0,1], got $fraction")
    val bucket = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    docs.filter(bucket < lit((fraction * 4294967296.0).toLong))
  }

  /** Duplicate-n-gram repetition statistics (the MassiveText/Gopher
    * §A1.1 n-gram rules, token-count form): for each document and each
    * n in `ns`, the total n-gram count, the fraction of n-gram
    * occurrences whose n-gram appears more than once in the doc
    * (`dup_frac`), and the most frequent n-gram's share (`top_frac`).
    * High values mean boilerplate/templated text.
    *
    * Shape per n: one native non-distinct shingle pass (multiset —
    * duplicates ARE the signal), explode, partial+final hash agg on
    * (doc, gram), per-doc rollup — the same two-level aggregate as
    * `gopherStats`, shuffle bounded by per-doc distinct n-grams. The
    * per-n frames union at the end (plan-level union of independent
    * aggs; each keeps its own map-side combine). */
  def dupNgramStats(docs: DataFrame, idCol: String, textCol: String,
                    ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty)
    val perN = ns.map { n =>
      val grams = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextHash.shinglesAll(
          split(trim(col(textCol)), "\\s+"), n)).as("g"))
      grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("total"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"),
          max("c").as("topc"))
        .select(col("doc_id"), lit(n).as("n"),
                col("total").cast("int").as("total_ngrams"),
                round(col("dup") / col("total").cast("double"), 6).as("dup_frac"),
                round(col("topc") / col("total").cast("double"), 6).as("top_frac"))
    }
    perN.reduce(_ unionByName _).orderBy("doc_id", "n")
  }

  /** CCNet-style unigram language-model quality score: fit a unigram
    * LM on the corpus itself (word → count / total), score each doc by
    * its mean token log-probability, and bucket docs into
    * head/middle/tail thirds (1/2/3) like CCNet's perplexity buckets.
    *
    * Shape: one agg builds the LM (shuffle carries (word, count));
    * scoring joins the token stream back to the LM on the word key —
    * Catalyst/AQE broadcasts the LM when the vocabulary is small, and
    * falls back to a shuffle join when it isn't (natural-text vocabs
    * grow slowly — Heaps' law — but are not broadcast-safe at 100 TB).
    * The total-token count and the two bucket cutoffs ride 1-row
    * broadcasts (the `withNow` pattern — never a driver collect). The
    * tertile cutoffs use exact `percentile` for oracle parity; at
    * production scale swap in `percentile_approx` (mergeable sketch),
    * same as the documented `q_ae_threshold` trade. */
  def unigramLogprob(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("wn"))
    val total = freq.agg(sum("wn").as("wtotal"))
    // materialized ONCE: both the cutoff aggregate and the final
    // projection read it, and without the checkpoint each reference
    // re-executes the token-join DAG (the ml_lof triple-execution
    // lesson). O(docs) rows of 3 scalars. `eager = false` so building
    // (or explaining) the plan runs no jobs — it still materializes
    // exactly once, on the first action.
    val scored = tok.join(freq, "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
           round(avg(log(col("wn").cast("double") / col("wtotal"))), 6)
             .as("avg_logprob"))
      .localCheckpoint(eager = false)
    val cuts = scored.agg(
      round(expr("percentile(avg_logprob, 0.3333333333333333)"), 6).as("p33"),
      round(expr("percentile(avg_logprob, 0.6666666666666666)"), 6).as("p66"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"), col("avg_logprob"),
        when(col("avg_logprob") >= col("p66"), 1)
          .when(col("avg_logprob") >= col("p33"), 2)
          .otherwise(3).as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination (the GPT-3 appendix-C / PaLM procedure):
    * flag every training document that shares at least one k-word
    * shingle with a held-out benchmark/eval set, reporting per-doc
    * overlap counts. High-order k (default 8; GPT-3 used 13) makes a
    * false random collision essentially impossible, so any hit means
    * the doc quotes benchmark text.
    *
    * Shape: the benchmark shingle set is DISTINCT and tiny relative to
    * the corpus (eval suites, not training data) → broadcast hash join
    * against the scan-parallel corpus shingle stream; one hash
    * aggregate by doc_id. Corpus text never shuffles — at 100 TB the
    * only movement is the (doc_id, counts) aggregate. Docs too short
    * to carry a k-shingle report n_shingles = 0, clean. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val csh = Dedup.shingleDocs(corpus, idCol, textCol, k)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val bsh = broadcast(Dedup.shingleDocs(benchmark, idCol, textCol, k)
      .select(explode(col("shingles")).as("s")).distinct()
      .withColumn("__hit", lit(1)))
    val stats = csh.join(bsh, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_shingles"), lit(0L)).cast("int").as("n_shingles"),
              coalesce(col("n_hits"), lit(0L)).cast("int").as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** The Bloom-filter form of `decontaminate` — the shape that survives
    * benchmark suites too large to broadcast exactly: the held-out
    * shingle set compresses to a constant-size Bloom filter (~3.6
    * bytes/shingle at the 1e-6 default fpp vs ~50-byte strings), fit
    * once driver-side like every other model artifact and broadcast to
    * executors. One-sided error: NO false negatives — every truly
    * contaminated doc is flagged (the property decontamination actually
    * needs). The fpp default is deliberately tight: doc-level verdicts
    * OR hundreds of per-shingle probes, so doc false-positive rate ≈
    * n_shingles·fpp (at 1e-2 a 200-shingle doc is ~87% likely to
    * false-flag; at 1e-6 it is ~0.02%). `n_hits` remains an upper
    * bound; flagged docs can be re-checked with the exact join on the
    * flagged slice only.
    *
    * The membership probe is a UDF by necessity (sketch lookup is not
    * expressible in builtin expressions); it is a pure in-memory hash
    * probe against broadcast state — the same justified-UDF class as
    * the LOF/iForest scorers. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, k: Int = 8,
                         fpp: Double = 1e-6): DataFrame =
    decontaminateWithBloom(corpus,
      fitDecontaminationBloom(benchmark, idCol, textCol, k, fpp), idCol, textCol, k)

  /** The fit half: the benchmark shingle set compressed to the sketch —
    * a constant-size model (re-serve with `decontaminateWithBloom`). */
  def fitDecontaminationBloom(benchmark: DataFrame, idCol: String,
                              textCol: String, k: Int = 8, fpp: Double = 1e-6)
      : org.apache.spark.util.sketch.BloomFilter = {
    val bsh = Dedup.shingleDocs(benchmark, idCol, textCol, k)
      .select(explode(col("shingles")).as("s")).distinct()
    // constant-size model fit (benchmark-suite-sized, never corpus-
    // sized); persisted so the sizing count and the filter build read
    // one materialization of the shingle pipeline, not two
    bsh.persist()
    try bsh.stat.bloomFilter("s", math.max(bsh.count(), 1L), fpp)
    finally bsh.unpersist()
  }

  /** The serve half: scrub any corpus against a (possibly reloaded)
    * fitted sketch.
    *
    * Broadcast lifetime: each call ships one broadcast of the sketch
    * (a few MB) that lives until the session ends — the same per-call
    * lifetime as the minhash signature cache in Dedup. A long-lived
    * session scrubbing many corpora should fit the sketch once and
    * reuse one returned frame per corpus rather than re-calling with
    * the same filter in a loop. */
  def decontaminateWithBloom(corpus: DataFrame,
                             bf: org.apache.spark.util.sketch.BloomFilter,
                             idCol: String, textCol: String, k: Int = 8): DataFrame =
    decontaminateRows(corpus, bf, idCol, textCol, k).orderBy("doc_id")

  /** The probe itself, ROW-LOCAL: shingle the doc (one native
    * expression) and count sketch hits over the array in one UDF call
    * per row — no shuffle at all. This replaced an
    * explode→groupBy(doc_id)→join-back formulation that shuffled the
    * entire corpus twice to recount an array it already had per row;
    * scan-side is also what makes the serve half STREAMING-safe
    * (stateless, append-mode — see `CorpusStream.decontaminated`),
    * so one transform serves both the batch query and a live
    * ingestion feed. Output contract unchanged:
    * (doc_id, n_shingles, n_hits, contaminated). */
  def decontaminateRows(corpus: DataFrame,
                        bf: org.apache.spark.util.sketch.BloomFilter,
                        idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val bfB = corpus.sparkSession.sparkContext.broadcast(bf)
    val nHits = udf((ss: Seq[String]) =>
      if (ss == null) 0
      else ss.count(s => s != null && bfB.value.mightContainString(s)))
    corpus
      .select(col(idCol).as("doc_id"),
        graft.functions.TextHash.shingles(
          split(trim(col(textCol)), "\\s+"), k).as("__sh"))
      .select(col("doc_id"),
              // null text → null shingles; match the old left-join's
              // coalesce-to-zero contract
              coalesce(size(col("__sh")), lit(0)).cast("int").as("n_shingles"),
              nHits(col("__sh")).cast("int").as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
  }

  /** md5-portable BLOOM twin (proof harness, full oracle): the Bloom
    * membership test restated with engine-portable hash functions so
    * DuckDB re-derives the whole sketch — the md5-twin pattern applied
    * to the decontamination gate. The filter is the implicit 2²⁰-bit
    * array whose set bits are the four 20-bit chunks of md5(shingle)
    * over the benchmark shingle set; a corpus shingle "hits" iff ALL
    * four of its chunk positions are set (including any genuine false
    * positive, which the oracle reproduces bit-for-bit since both
    * engines compute the same positions). Plan shape mirrors the
    * production paths: the distinct bench POSITION set (≤ 4·|bench
    * shingles| ints — benchmark-suite-sized, never corpus-sized) is
    * broadcast and LEFT-joined four times against the scan-parallel
    * corpus shingle stream — corpus text never shuffles; the only
    * movement is the final (doc_id, counts) aggregate, exactly like
    * `decontaminate`. Spark's `BloomFilter` stays the production
    * sketch (`decontaminateBloom`): its bit array is ~3.6 bytes per
    * shingle at fpp 1e-6, while this twin's explicit position set
    * trades size for portability. Output contract matches the other
    * decontamination forms: (doc_id, n_shingles, n_hits,
    * contaminated). */
  def decontaminateBloomMd5(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 8): DataFrame = {
    def posCols(s: Column): Seq[Column] =
      (0 until 4).map(i =>
        conv(substring(md5(s.cast("binary")), 1 + 5 * i, 5), 16, 10)
          .cast("long"))
    val bpos = broadcast(
      Dedup.shingleDocs(benchmark, idCol, textCol, k)
        .select(explode(col("shingles")).as("s"))
        .select(explode(array(posCols(col("s")): _*)).as("pos"))
        .distinct()
        .withColumn("__set", lit(1)))
    val csh = Dedup.shingleDocs(corpus, idCol, textCol, k)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val withPos = csh.select(
      col("doc_id") +: posCols(col("s")).zipWithIndex
        .map { case (c, i) => c.as(s"p$i") }: _*)
    val probed = (0 until 4).foldLeft(withPos) { (df, i) =>
      df.join(bpos.select(col("pos").as(s"p$i"), col("__set").as(s"__s$i")),
        Seq(s"p$i"), "left")
    }
    val hit = (0 until 4).map(i => col(s"__s$i").isNotNull).reduce(_ && _)
    val stats = probed
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(hit.cast("int")).as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_shingles"), lit(0L)).cast("int").as("n_shingles"),
              coalesce(col("n_hits"), lit(0L)).cast("int").as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** The decontamination verdict as a scan-side BOOLEAN GATE — true
    * iff the row's k-shingle set has zero hits against the fitted
    * benchmark sketch — for composing into larger plans
    * (`q_pretrain_pipeline`) without the per-doc stats frame: zero
    * shuffle, streaming-safe, early-exits on the first hit instead of
    * counting them all. A doc too short to shingle (or null text) has
    * nothing to hit and gates TRUE, matching `decontaminateRows`'
    * n_hits=0 contract. */
  def decontaminationGate(spark: org.apache.spark.sql.SparkSession,
                          bf: org.apache.spark.util.sketch.BloomFilter,
                          text: Column, k: Int = 8): Column = {
    val bfB = spark.sparkContext.broadcast(bf)
    val anyHit = udf((ss: Seq[String]) =>
      ss != null && ss.exists(s => s != null && bfB.value.mightContainString(s)))
    !anyHit(graft.functions.TextHash.shingles(split(trim(text), "\\s+"), k))
  }

  /** Fuzzy (edit-distance) decontamination — the near-match form of
    * the eval-set scrub: exact/Bloom/containment catch verbatim and
    * shingle-level overlap, but a benchmark item that was lightly
    * paraphrased or OCR-mangled into the crawl slips all three. The
    * HumanEval/GSM8K-style guard compares CANONICAL text prefixes
    * under a Levenshtein budget instead.
    *
    * Semantics: both sides normalize through `canonicalText` (lower,
    * strip punctuation, collapse whitespace — canonicalization also
    * strips every non-ASCII char, so the distance is over pure ASCII
    * and engine-portable) and truncate to `prefixChars`. A corpus doc
    * is contaminated iff some benchmark key is within `maxDist` edits
    * of its key. Output: one row per corpus doc with the match count,
    * the minimum distance among matches (null if none), and the flag.
    *
    * Shape at 100 TB: the benchmark key set is DISTINCT + broadcast
    * (eval suites are tiny — the `decontaminate` posture); the
    * candidate step is a broadcast join on an |len_c − len_b| ≤
    * maxDist length band (a necessary condition for edit distance ≤
    * maxDist, costing one integer compare per (doc, bench) pair), so
    * the O(prefixChars²) Levenshtein DP runs only on length-compatible
    * pairs. Per-row work is bounded by the benchmark size — a scan,
    * not a shuffle; no corpus-side state. */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         maxDist: Int = 3, prefixChars: Int = 64): DataFrame = {
    require(maxDist >= 0 && prefixChars >= 1)
    def key(c: Column) = substring(canonicalText(c), 1, prefixChars)
    val bench = broadcast(
      benchmark.select(key(col(textCol)).as("b_key")).distinct()
        .withColumn("b_len", length(col("b_key"))))
    val docs = corpus.select(col(idCol).as("doc_id"), key(col(textCol)).as("c_key"))
      .withColumn("c_len", length(col("c_key")))
    // LEFT outer keeps zero-candidate docs in the SAME single pass —
    // no corpus-wide join-back; the per-doc verdict is one hash agg
    val inBudget = col("__dist") <= maxDist
    docs
      .join(bench, abs(col("c_len") - col("b_len")) <= maxDist, "left")
      .withColumn("__dist", levenshtein(col("c_key"), col("b_key")))
      .groupBy("doc_id")
      .agg(count(when(inBudget, lit(1))).cast("int").as("n_matches"),
           min(when(inBudget, col("__dist"))).cast("int").as("min_dist"))
      .select(col("doc_id"), col("n_matches"), col("min_dist"),
              (col("n_matches") > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** The fit half of fuzzy decontamination as constant-size model
    * state: the benchmark's distinct canonical keys, driver-collected
    * (eval suites are benchmark-sized, never corpus-sized — the
    * `fitDecontaminationBloom` posture). Sorted for determinism. */
  def fitFuzzyKeys(benchmark: DataFrame, textCol: String,
                   prefixChars: Int = 64): Array[String] =
    benchmark
      .select(substring(canonicalText(col(textCol)), 1, prefixChars).as("k"))
      .distinct().collect().map(_.getString(0)).sorted

  /** The serve half, ROW-LOCAL: one native codegen expression
    * (`functions.FuzzyMatchStats`) folds the benchmark key set over
    * each doc — length-band precheck then the engine's own
    * threshold-bounded Levenshtein DP (early exit above the budget) in
    * a primitive loop, no UDF, no join, no shuffle, no state — so a
    * fitted fuzzy scrub runs on a live feed at scan speed (streaming
    * twin: `CorpusStream.fuzzyDecontaminated`). A first cut layered
    * builtin HOFs (filter∘transform∘filter with `levenshtein` in the
    * lambda); Spark interprets HOF lambdas per element, which measured
    * 92× slower than the codegen batch join at sf0.1 — the
    * `WinnowFingerprints` lesson. Same output contract as
    * `decontaminateFuzzy` minus its sort. */
  def decontaminateFuzzyRows(corpus: DataFrame, keys: Array[String],
                             idCol: String, textCol: String,
                             maxDist: Int = 3, prefixChars: Int = 64): DataFrame = {
    require(maxDist >= 0 && prefixChars >= 1)
    val st = graft.functions.FuzzyMatch.stats(
      substring(canonicalText(col(textCol)), 1, prefixChars),
      keys.toSeq, maxDist)
    corpus
      .select(col(idCol).as("doc_id"), st.as("__st"))
      .select(col("doc_id"),
        element_at(col("__st"), 1).as("n_matches"),
        when(element_at(col("__st"), 2) >= 0, element_at(col("__st"), 2))
          .as("min_dist"))
      .withColumn("contaminated", (col("n_matches") > 0).cast("int"))
  }

  /** The corpus-clean language gate (marker-stopword argmax = English)
    * and quality gate (length + stopword density) as ONE row-local
    * predicate — shared by the batch `q_corpus_clean` plan and the
    * streaming curation path (`CorpusStream.cleaned`), so both gates
    * stay scan-side (no shuffle, no state) in either mode. */
  def langQualityGate(t: Column, minTokens: Int = 20,
                      minStopRatio: Double = 0.05): Column = {
    val en = regexp_count(t, lit("\\b(the|and|of|is|to)\\b"))
    val de = regexp_count(t, lit("\\b(der|die|und|ist|das)\\b"))
    val fr = regexp_count(t, lit("\\b(le|la|et|est|les)\\b"))
    val es = regexp_count(t, lit("\\b(el|los|y|es|las)\\b"))
    val nTokens = size(split(trim(t), "\\s+"))
    val stopRatio = regexp_count(t, lit("\\b(the|a|an|of|to|and|in|is|for|on|with)\\b"))
      .cast("double") / nTokens.cast("double")
    en >= de && en >= fr && en >= es &&
      nTokens >= minTokens && round(stopRatio, 6) >= minStopRatio
  }

  /** Sequence packing — the step between curation and the tokenizer:
    * lay the corpus out as fixed-length training sequences (GPT/T5
    * style concat-and-chunk). Documents pack greedily in deterministic
    * (shard, id) order; a document may span a sequence boundary. Each
    * doc reports the global token interval it occupies within its
    * shard and the first/last sequence it touches.
    *
    * Shape: token counts are a scan-side projection; the running
    * offset is ONE windowed cumsum partitioned by shard — exactly how
    * production packing shards (per output file), so no global-order
    * single-partition window exists at any scale. Everything after the
    * cumsum is per-row arithmetic. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    shardCol: String, seqLen: Int): DataFrame = {
    require(seqLen > 0)
    // ROWS frame, not the default RANGE: under RANGE, duplicate
    // (shard, doc_id) rows are frame peers and collapse into one
    // end_tok, silently corrupting every later token interval
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // empty/null text is 0 tokens (split of "" yields [""]  — without
    // the guard an empty doc would occupy a phantom token slot and
    // shift every later doc in its shard)
    val nTokens = when(coalesce(trim(col(textCol)), lit("")) === "", lit(0L))
      .otherwise(size(split(trim(col(textCol)), "\\s+")).cast("long"))
    docs.select(col(idCol).as("doc_id"), col(shardCol).as("shard"),
        nTokens.as("n_tokens"))
      .withColumn("end_tok", sum("n_tokens").over(w))
      .select(col("doc_id"), col("shard"),
              col("n_tokens").cast("int").as("n_tokens"),
              (col("end_tok") - col("n_tokens")).as("start_tok"),
              col("end_tok"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
              col("start_tok"),
              expr(s"start_tok div $seqLen").cast("int").as("seq_first"),
              // a 0-token doc occupies nothing: pin seq_last to
              // seq_first (also avoids (−1) div, where JVM truncation
              // and SQL floor division disagree)
              when(col("n_tokens") === 0, expr(s"start_tok div $seqLen"))
                .otherwise(expr(s"(end_tok - 1) div $seqLen"))
                .cast("int").as("seq_last"),
              (col("start_tok") % seqLen).cast("int").as("seq_offset"))
  }

  /** Deterministic data-mixture construction — the step that turns a
    * curated corpus + per-domain weights into an epoch'd training mix
    * (the Pile / LLaMA recipe: high-quality sources repeat >1 epoch,
    * low-quality sources are subsampled, some are dropped). A source
    * with weight w contributes ⌊w⌋ full copies of every doc plus one
    * extra copy of a deterministic hash-selected frac(w) of its docs;
    * w < 1 subsamples, w = 0 drops the source. Output one row per
    * (doc, epoch) — the materialized mix order/sharding is downstream
    * (`packSequences`).
    *
    * Determinism: the fractional keep is `md5(id) hex8 < threshold` —
    * the same engine-portable coin as `hashFractionSample`, but the
    * threshold compare is LEXICOGRAPHIC on the fixed-width hex prefix
    * (no 64-bit unsigned parse needed, so any SQL engine re-derives it
    * verbatim). Per-source thresholds precompute to 8-hex literals.
    *
    * Shape: weight lookup is a literal-map expression, the epoch copy
    * is a per-row `sequence` explode — entirely scan-side, ZERO
    * shuffle at any scale (the explode factor is ⌈max weight⌉). */
  def mixDomains(docs: DataFrame, idCol: String, sourceCol: String,
                 weights: Map[String, Double],
                 defaultWeight: Double = 1.0,
                 carryCols: Seq[String] = Nil,
                 ordered: Boolean = true): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 100),
      "weights must be in [0, 100]")
    def fracHex(w: Double): String =
      f"${((w - math.floor(w)) * 4294967296.0).toLong}%08x"
    val floorMap = weights.map { case (k, v) => k -> math.floor(v).toLong }
    val hexMap = weights.map { case (k, v) => k -> fracHex(v) }
    val fl = coalesce(element_at(typedLit(floorMap), col(sourceCol)),
      lit(math.floor(defaultWeight).toLong))
    val fx = coalesce(element_at(typedLit(hexMap), col(sourceCol)),
      lit(fracHex(defaultWeight)))
    val extra = (substring(md5(col(idCol).cast("string").cast("binary")), 1, 8) < fx)
      .cast("long")
    // carryCols ride through the epoch explode unchanged (scan-side
    // passthrough — what lets a composed pipeline keep `text` attached
    // without a corpus-wide join-back after the mix)
    val mixed = docs
      .select(col(idCol).as("doc_id") +: col(sourceCol).as("source") +:
        (fl + extra).cast("int").as("__copies") +: carryCols.map(col): _*)
      .filter(col("__copies") >= 1)
      .select(col("doc_id") +: col("source") +:
        explode(expr("sequence(1, __copies)")).as("epoch") +: carryCols.map(col): _*)
    // `ordered=false` for composition into a larger plan: the global
    // sort is presentation for the declared query's dump, and a
    // downstream stage (e.g. the pack window) imposes its own order —
    // leaving the range exchange in would be a wasted corpus-wide pass
    if (ordered) mixed.orderBy("doc_id", "epoch") else mixed
  }

  /** Per-group heavy hitters: the top `k` terms of each group (corpus
    * vocabulary discovery, per-language stopword lists, domain-term
    * profiling). Shape: the heavy lifting is the two-level hash
    * aggregate — (group, word) counts with map-side combine — whose
    * output is vocabulary-bounded (Heaps' law), NOT corpus-bounded;
    * the rank window then runs on that small aggregated frame, so the
    * few-groups-many-rows skew that makes naive per-group top-k
    * explode never reaches the window. Ties break on term asc —
    * deterministic across engines. */
  def topTermsPerGroup(docs: DataFrame, groupCol: String, textCol: String,
                       k: Int = 10): DataFrame = {
    require(k >= 1)
    val tok = docs.select(col(groupCol).as("grp"),
      explode(split(trim(col(textCol)), "\\s+")).as("term"))
    val cnt = tok.groupBy("grp", "term").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("grp").orderBy(col("n").desc, col("term").asc)
    cnt.withColumn("term_rank", row_number().over(w)).filter(col("term_rank") <= k)
      .select(col("grp"), col("term"), col("n"), col("term_rank"))
      .orderBy("grp", "term_rank")
  }

  /** The writer-side view of `packSequences`: one row per (shard,
    * sequence) with how many documents it holds, the id range, and its
    * token fill level — what a training-shard writer needs to emit
    * fixed-length sequence files (and what an auditor reads to check
    * fill: every sequence is exactly `seqLen` full except each shard's
    * last). Zero-token docs occupy nothing and are excluded.
    *
    * Shape: `packSequences`' one windowed cumsum, then a per-row
    * explode of each doc's [seq_first, seq_last] range (a doc touches
    * ⌈len/seqLen⌉+1 sequences at most — bounded fan-out), then one
    * hash agg on (shard, seq_id). No new global ordering appears. */
  def packManifest(docs: DataFrame, idCol: String, textCol: String,
                   shardCol: String, seqLen: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    val packed = packSequences(docs, idCol, textCol, shardCol, seqLen)
      .filter(col("n_tokens") > 0)
    packed.select(col("shard"), col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"), col("start_tok"),
        explode(expr("sequence(seq_first, seq_last)")).as("seq_id"))
      .withColumn("fill",
        least(col("start_tok") + col("n_tokens"), (col("seq_id").cast("long") + 1L) * L)
          - greatest(col("start_tok"), col("seq_id").cast("long") * L))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).cast("int").as("n_docs"),
           min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
           sum("fill").cast("long").as("n_fill"))
      .orderBy("shard", "seq_id")
  }

  /** CCNet-proper language-model quality scoring: the LM is fit on a
    * held-out REFERENCE corpus (CCNet uses Wikipedia; here the caller
    * passes the reference frame), not on the corpus being scored —
    * so quality means "looks like the reference", and out-of-vocabulary
    * words must be handled: add-one smoothing,
    * P(w) = (c_ref(w) + 1) / (N_ref + V_ref + 1), with unseen words
    * getting the floor 1 / (N_ref + V_ref + 1). Output per doc: token
    * count and mean negative log-likelihood (cross-entropy, nats —
    * lower = more reference-like).
    *
    * Shape: one agg fits the reference LM (shuffle carries (word,
    * count)); N/V ride a 1-row broadcast; scoring is a LEFT join of
    * the corpus token stream to the LM (AQE broadcasts a small vocab,
    * shuffles otherwise) + one per-doc agg. Same posture as
    * `unigramLogprob`, plus the smoothing floor that makes a disjoint
    * vocabulary score finite. */
  def lmCrossEntropy(corpus: DataFrame, reference: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val tok = corpus.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    val freq = reference.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wn"))
    val stats = freq.agg(sum("wn").as("n_ref"), count(lit(1)).as("v_ref"))
    tok.join(freq, Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        log((coalesce(col("wn"), lit(0L)) + lit(1L)).cast("double")
          / (col("n_ref") + col("v_ref") + lit(1L)).cast("double")).as("__lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
           round(-avg(col("__lp")), 6).as("cross_entropy"))
      .orderBy("doc_id")
  }

  /** Overlapping sliding-window chunking — the retrieval/RAG layout
    * step (and the long-document split before embedding): windows of
    * `window` tokens every `stride` tokens, last window clamped, every
    * doc yields ≥ 1 chunk. Pure per-row array expressions —
    * scan-parallel, zero shuffle, the same shape at any scale. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 8, stride: Int = 4): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextHash.chunkSpans(
          split(trim(col(textCol)), "\\s+"), window, stride)))
      .select(col("doc_id"), (col("pos") + 1).as("chunk_idx"),
              col("col").as("chunk"),
              // split("") yields [""]: an empty/whitespace-only doc
              // still emits its one (empty) chunk but carries 0 tokens,
              // so chunk-level token accounting matches packSequences /
              // corpusProfile (no phantom token)
              when(col("col") === "", lit(0))
                .otherwise(size(split(col("col"), " "))).as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Equal-frequency length buckets (curriculum sharding / packing
    * locality): quartile cutoffs of the token count, each doc assigned
    * its bucket scan-side. Cutoffs ride a 1-row broadcast (the
    * `withNow` pattern) — exact `percentile` for oracle parity, swap
    * `percentile_approx` at production scale (the documented
    * `q_ae_threshold` trade). */
  def lengthBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = docs.select(col(idCol).as("doc_id"),
      size(split(trim(col(textCol)), "\\s+")).cast("int").as("n_tokens"))
    val cuts = n.agg(
      round(expr("percentile(n_tokens, 0.25)"), 6).as("p25"),
      round(expr("percentile(n_tokens, 0.5)"), 6).as("p50"),
      round(expr("percentile(n_tokens, 0.75)"), 6).as("p75"))
    n.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") < col("p25"), 1)
          .when(col("n_tokens") < col("p50"), 2)
          .when(col("n_tokens") < col("p75"), 3)
          .otherwise(4).as("length_bucket"))
      .orderBy("doc_id")
  }

  /** Cross-source overlap matrix — which domain pairs share verbatim
    * k-gram content (mirror sites, syndication, template families):
    * for every source pair, the count of k-shingle TYPES present in
    * both. The (source, shingle) frame is DISTINCT first, so a
    * shingle's post-distinct frequency is bounded by the number of
    * sources — the self-join key can never go hotter than #domains
    * regardless of how often a shingle repeats inside a source (the
    * inherent-cap analog of `q_ngram_jaccard`'s df cap). Shuffles
    * carry (source, shingle-hash)-sized rows only. */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, k: Int = 3): DataFrame = {
    val sh = Dedup.shingleDocs(docs, idCol, textCol, k)
      .join(docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source")), "doc_id")
      .select(col("source"), explode(col("shingles")).as("s"))
      .distinct()
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** The four PII patterns every release-gate scrubber runs first:
    * email, SSN, North-American phone, dotted-quad IP. Deliberately the
    * RE2-compatible subset (no lookaround, no backreferences) so the
    * exact same pattern strings run under Java regex (Spark) and RE2
    * (DuckDB/production scanners) with identical semantics. */
  object Pii {
    val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val Ssn   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val Phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val Ipv4  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  }

  /** The masking pass, shared by the batch query and the streaming
    * twin. Applied in a fixed order (email → SSN → phone → IP); the
    * patterns are mutually exclusive on well-formed text (3-2-4 digit
    * groups never parse as 3-3-4, 4 dotted groups never as 3), so the
    * order only matters for pathological overlaps — fixing it makes
    * the output deterministic everywhere. */
  def piiRedacted(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      Pii.Email, "<EMAIL>"), Pii.Ssn, "<SSN>"), Pii.Phone, "<PHONE>"),
      Pii.Ipv4, "<IP>")

  /** PII detection + redaction — the scrub step a training corpus runs
    * before release (C4 strips lines with bad words; The Pile and most
    * production pipelines regex-scrub emails/IPs/phones/SSNs). Per-doc
    * category counts are measured on the ORIGINAL text; `clean_text`
    * applies the fixed-order masking above.
    *
    * Shape: pure per-row regex expressions — scan-parallel, zero
    * shuffle, the same plan at any scale; in streaming mode it is a
    * stateless select (see `CorpusStream`). */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    piiStats(docs, idCol, textCol).orderBy("doc_id")

  /** The order-free core of `redactPii` — also the streaming twin's
    * whole transform (`CorpusStream.scrubbed`): stateless per-row
    * expressions, so batch and stream share the plan verbatim. */
  def piiStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol).as("doc_id"),
        regexp_count(t, lit(Pii.Email)).cast("int").as("n_emails"),
        regexp_count(t, lit(Pii.Ssn)).cast("int").as("n_ssns"),
        regexp_count(t, lit(Pii.Phone)).cast("int").as("n_phones"),
        regexp_count(t, lit(Pii.Ipv4)).cast("int").as("n_ips"),
        piiRedacted(t).as("clean_text"))
      .withColumn("pii_total",
        (col("n_emails") + col("n_ssns") + col("n_phones") + col("n_ips"))
          .cast("int"))
  }

  /** The MassiveText repetition FILTER (Rae et al. 2021 §A1.1 applied,
    * not just measured): compose `gopherStats`' lexical keep with
    * duplicate-n-gram cuts for n = 2, 3 into one per-doc verdict —
    * the actual drop decision a Gopher-style pipeline makes. Docs too
    * short to carry an n-gram pass that n's cut vacuously (no
    * repetition evidence ⇒ no drop), matching the paper's treatment.
    *
    * Shape: three independent two-level hash aggregates (words, 2-grams,
    * 3-grams) joined on doc_id — each shuffle bounded by per-doc
    * DISTINCT terms; AQE broadcasts the smaller aggregated sides. No
    * new shuffle kind appears beyond the proven component operators. */
  def repetitionFilter(docs: DataFrame, idCol: String, textCol: String,
                       maxDupFrac2: Double = 0.08, maxTopFrac2: Double = 0.06,
                       maxDupFrac3: Double = 0.05, maxTopFrac3: Double = 0.05)
      : DataFrame = {
    val g = gopherStats(docs, idCol, textCol)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val d = dupNgramStats(docs, idCol, textCol, Seq(2, 3))
    def slice(n: Int) = d.filter(col("n") === n)
      .select(col("doc_id"), col("dup_frac").as(s"dup_frac_$n"),
              col("top_frac").as(s"top_frac_$n"))
    g.join(slice(2), Seq("doc_id"), "left")
      .join(slice(3), Seq("doc_id"), "left")
      .select(col("doc_id"), col("gopher_keep"),
        coalesce(col("dup_frac_2"), lit(0.0)).as("dup_frac_2"),
        coalesce(col("top_frac_2"), lit(0.0)).as("top_frac_2"),
        coalesce(col("dup_frac_3"), lit(0.0)).as("dup_frac_3"),
        coalesce(col("top_frac_3"), lit(0.0)).as("top_frac_3"))
      .withColumn("keep",
        (col("gopher_keep") === 1 &&
          col("dup_frac_2") <= maxDupFrac2 && col("top_frac_2") <= maxTopFrac2 &&
          col("dup_frac_3") <= maxDupFrac3 && col("top_frac_3") <= maxTopFrac3)
          .cast("int"))
      .orderBy("doc_id")
  }

  /** Adjacent-token-pair frequencies, top k — the first merge-candidate
    * table a BPE/WordPiece trainer computes (and recomputes each merge
    * round; this is the one relational primitive the whole training
    * loop repeats). Ties break on pair text asc so the cutoff is
    * deterministic across engines and partitionings.
    *
    * Shape: one native non-distinct shingle pass (n = 2), then a
    * partial+final hash agg whose output is PAIR-VOCABULARY-bounded
    * (Heaps' law), not corpus-bounded; top-k plans as
    * TakeOrderedAndProject over that small aggregate — no global sort
    * of the full pair stream at any scale. */
  def bpePairs(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 1)
    docs.select(explode(graft.functions.TextHash.shinglesAll(
        split(trim(col(textCol)), "\\s+"), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** CCNet-style text normalization — the canonical form dedup keys on
    * (lowercase, strip non-alphanumerics, collapse whitespace) plus the
    * md5 digest of that form, so near-identical page variants ("Hello,
    * World!" / "hello world") collapse to one digest. ASCII-scoped here;
    * a production scrubber adds Unicode NFKC first (not available as a
    * builtin on either engine — it would be a custom Expression).
    *
    * Shape: pure per-row regex/string expressions, zero shuffle; the
    * digest feeds the existing exact-dedup machinery unchanged. */
  /** The canonical form itself, shared by the batch `normalizeText`
    * and the streaming `CorpusStream.dedupCanonical` — one definition
    * so the batch and streaming digests can never diverge (the
    * `piiRedacted` pattern). */
  def canonicalText(t: Column): Column =
    trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9\\s]", " "), "\\s+", " "))

  def normalizeText(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"), canonicalText(col(textCol)).as("norm_text"))
      .withColumn("n_tokens",
        when(col("norm_text") === "", 0)
          .otherwise(size(split(col("norm_text"), " "))).cast("int"))
      .withColumn("norm_digest", md5(col("norm_text").cast("binary")))
      .orderBy("doc_id")
  }

  /** Per-source dataset-card profile: doc counts, token totals, mean
    * and p50/p95 token lengths, mean size — the rollup every corpus
    * release ships and every mixture designer reads before setting
    * `mixDomains` weights.
    *
    * Shape: scan-side token counting, then ONE hash agg keyed by
    * source. Exact `percentile` keeps the oracle bit-stable; at
    * production scale swap `percentile_approx` (mergeable sketch, no
    * per-group sort) — the documented `q_ae_threshold` trade. */
  def corpusProfile(docs: DataFrame, textCol: String, sourceCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        // empty/whitespace-only text is 0 tokens (split of "" yields
        // [""] — the packSequences guard, applied to the statistic)
        when(coalesce(trim(col(textCol)), lit("")) === "", 0)
          .otherwise(size(split(trim(col(textCol)), "\\s+")))
          .cast("int").as("n_tokens"),
        length(col(textCol)).cast("long").as("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).cast("int").as("n_docs"),
           sum("n_tokens").cast("long").as("total_tokens"),
           round(avg("n_tokens"), 6).as("avg_tokens"),
           round(expr("percentile(n_tokens, 0.5)"), 6).as("p50_tokens"),
           round(expr("percentile(n_tokens, 0.95)"), 6).as("p95_tokens"),
           round(avg("n_chars"), 6).as("avg_chars"))
      .orderBy("source")

  /** PMI collocation extraction — the corpus-analysis pass that finds
    * statistically-bound adjacent pairs ("new york"-style phrases;
    * word2phrase's scoring core). pmi = log(P(ab) / (P(a)·P(b))) over
    * adjacent-pair and unigram frequencies; `minCount` suppresses the
    * high-variance rare pairs (PMI's classic failure mode), ties break
    * on pair text.
    *
    * Shape: one unigram agg (vocabulary-bounded) + one pair agg
    * (pair-vocabulary-bounded), two key joins of the SMALL aggregated
    * frames (AQE broadcasts the unigram side), totals on 1-row
    * broadcasts, TakeOrderedAndProject top-k. The corpus token stream
    * is read twice but never shuffled raw — both shuffles carry
    * (term, count) rows. */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Int = 5, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1)
    val pair = split(col("pair"), " ")
    val pc = docs.select(explode(graft.functions.TextHash.shinglesAll(
        split(trim(col(textCol)), "\\s+"), 2)).as("pair"))
      .select(pair.getItem(0).as("w1"), pair.getItem(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val wc = docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val n1 = wc.agg(sum("n_w").as("n1"))
    val n2 = pc.agg(sum("n_ab").as("n2"))
    pc.filter(col("n_ab") >= minCount)
      .join(wc.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(wc.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("n_ab"),
        round(log((col("n_ab").cast("double") / col("n2").cast("double"))
          / ((col("n_a").cast("double") / col("n1").cast("double"))
           * (col("n_b").cast("double") / col("n1").cast("double")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis 2006):
    * each row draws a deterministic uniform u from its id's md5 and
    * keeps key = ln(u)/w — the top-k keys ARE a weight-proportional
    * sample (quality-weighted subcorpus selection, eval-slice drawing).
    * Deterministic across engines, runs and partitionings: u is the
    * same 32-bit md5 coin as `hashFractionSample`, parsed numerically
    * (u ∈ (0,1], never 0, so ln is finite).
    *
    * Shape: the key is a scan-side expression; top-k plans as
    * TakeOrderedAndProject — no sort of the full corpus, no shuffle
    * beyond the k-row gather. The classic reservoir formulation keeps
    * the same keys in per-partition heaps; Spark's TakeOrdered IS that
    * (partial top-k per partition, merged at the driver). */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
                     k: Int = 100): DataFrame = {
    require(k >= 1)
    // the coin reads the ORIGINAL id column — key and rename happen in
    // the same select so any idCol name resolves
    val h = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    val w = col(weightCol).cast("double")
    docs.filter(w > 0)
      .select(col(idCol).as("doc_id"),
        round(w, 6).as("weight"),
        round(log(u) / w, 6).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Trained model-based quality filter — Bernoulli Naive Bayes over
    * hashed token-presence features (the GPT-3/LLaMA-style "classifier
    * trained on a high-quality reference vs the raw crawl" gate,
    * re-expressed with a closed-form fit so both the fit AND the serve
    * are pure relational algebra — no iterative optimizer).
    *
    * Distinct from `dsirSelect`'s multinomial LM ratio: Bernoulli NB
    * models feature PRESENCE per document (a repeated word counts
    * once), carries explicit absence mass (the Σ log(1−p) base term
    * over the trained feature set), and a class prior — the standard
    * discriminative-filter family, not an importance weight.
    *
    * Fit: per class, document-frequency per hashed feature bucket
    * (md5-derived, `nBuckets` buckets — the hashing trick bounds the
    * model at `nBuckets` rows even on an unbounded vocabulary, and the
    * md5 bucket recomputes identically on any engine). Laplace:
    * p_f = (df_f + 1) / (N_class + 2).
    *
    * Score(doc) = ln(N⁺/N⁻) + Σ_{f∈F} [ln(1−p⁺_f) − ln(1−p⁻_f)]
    *            + Σ_{f∈doc∩F} [ln p⁺_f − ln(1−p⁺_f) − ln p⁻_f + ln(1−p⁻_f)]
    * where F is the trained feature set; features unseen in training
    * contribute nothing. keep = score > 0.
    *
    * Shape at 100 TB: two class-side (feature, df) hash aggs bounded
    * by `nBuckets` (map-side combinable after the per-doc distinct),
    * the model and its two 1-row stats broadcast, one per-doc distinct
    * + hash agg over the serve corpus, zero driver collects. The serve
    * side touches each corpus token once — scan-bound. */
  /** One row per trained-feature weight, shared by the fully-relational
    * `nbQualityScore` and the driver-side `fitNbQuality` so the two
    * paths can never diverge. ≤ nBuckets rows by construction. */
  private def nbFeats(df: DataFrame, idCol: String, textCol: String,
                      nBuckets: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w").cast("binary")), 1, 8), 16, 10)
          .cast("long") % nBuckets).as("f"))
      .distinct()

  private def nbModelFrame(positive: DataFrame, negative: DataFrame,
                           idCol: String, textCol: String,
                           nBuckets: Int): DataFrame = {
    val dfPos = nbFeats(positive, idCol, textCol, nBuckets)
      .groupBy("f").agg(count(lit(1)).as("dfp"))
    val dfNeg = nbFeats(negative, idCol, textCol, nBuckets)
      .groupBy("f").agg(count(lit(1)).as("dfn"))
    val nPos = positive.agg(count(lit(1)).as("n_pos"))
    val nNeg = negative.agg(count(lit(1)).as("n_neg"))
    dfPos.join(dfNeg, Seq("f"), "full_outer")
      .crossJoin(broadcast(nPos)).crossJoin(broadcast(nNeg))
      .select(col("f"), col("n_pos"), col("n_neg"),
        ((coalesce(col("dfp"), lit(0L)) + lit(1L)).cast("double")
          / (col("n_pos") + lit(2L)).cast("double")).as("pp"),
        ((coalesce(col("dfn"), lit(0L)) + lit(1L)).cast("double")
          / (col("n_neg") + lit(2L)).cast("double")).as("pn"))
      .select(col("f"), col("n_pos"), col("n_neg"),
        (log(col("pp")) - log(lit(1.0) - col("pp"))
          - log(col("pn")) + log(lit(1.0) - col("pn"))).as("w_present"),
        (log(lit(1.0) - col("pp")) - log(lit(1.0) - col("pn"))).as("w_absent"))
  }

  /** Trained MULTICLASS language classifier — multinomial Naive Bayes
    * over md5-hashed char-TRIGRAM counts (the fastText/CCNet lang-ID
    * shape; `q_lang_id`'s stopword heuristic is the zero-training
    * fallback, this is the production path): per-class bucket counts
    * with Laplace smoothing, per-doc log-likelihood + log-prior,
    * argmax over classes on the ROUNDED score with the (score desc,
    * lang asc) tie-break — rounding before ranking is what makes the
    * argmax engine-portable, the same move the rounded-cosine serve
    * family uses. New algebra vs `nbQualityScore`: multiclass argmax
    * and multinomial COUNT features (trigram multiplicity is the
    * lang-ID signal) instead of binary presence. Scale shape: the
    * model is ≤ nLangs·nBuckets rows (broadcast), doc trigram-bucket
    * counts are one scan-side explode + (doc, bucket) agg, scoring is
    * one broadcast join + (doc, lang) agg, argmax a per-doc window
    * over nLangs rows. Self-fit on the labeled corpus (the declared
    * query reports train accuracy alongside — the fit/serve split
    * follows on a held-out feed exactly like the NB quality model).
    * Docs shorter than one trigram carry no features and are
    * excluded by construction (both engines drop them identically). */
  def langClassify(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String, nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2)
    val t = docs.select(col(idCol).cast("long").as("doc_id"),
      col(langCol).as("true_lang"), lower(trim(col(textCol))).as("__t"))
    // trigram walk + md5 buckets as ONE native expression
    // (functions.CharTrigramBuckets — the interpreted transform/substr
    // lambda cost ~2× the whole query), then one pass over the
    // explode: the doc-level counts carry the label, and the
    // class-level model is their rollup — sum of per-doc counts ≡
    // count over occurrences
    val grams = t.select(col("doc_id"), col("true_lang"),
      explode(graft.functions.ArrayMath.charTrigramBuckets(
        col("__t"), nBuckets)).as("b"))
    val db0 = grams.groupBy("doc_id", "true_lang", "b")
      .agg(count(lit(1)).as("cnt")).localCheckpoint(eager = false)
    val db = db0.select("doc_id", "b", "cnt")
    val mb = db0.groupBy(col("true_lang").as("lang"), col("b"))
      .agg(sum("cnt").as("c"))
    val tot = mb.groupBy("lang").agg(sum("c").as("tot"))
    val nd = docs.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("nd"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = db.crossJoin(broadcast(tot))
      .join(broadcast(mb), Seq("lang", "b"), "left")
      .groupBy("doc_id", "lang", "tot")
      .agg(sum(col("cnt") *
        log((coalesce(col("c"), lit(0L)) + 1).cast("double")
          / (col("tot") + nBuckets).cast("double"))).as("__ll"))
    val withPrior = scored.join(broadcast(nd), Seq("lang")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("lang"),
        round(log(col("nd").cast("double") / col("n").cast("double"))
          + col("__ll"), 6).as("lang_score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("lang_score").desc, col("lang").asc)
    withPrior.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(t.select("doc_id", "true_lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang").as("pred_lang"), col("lang_score"),
        (col("lang") === col("true_lang")).cast("int").as("correct"))
      .orderBy("doc_id")
  }

  /** Constant-size trained lang-ID model: per-class flat Laplace
    * log-weights (nLangs·nBuckets doubles — ~40 KB at the defaults)
    * + log-priors + the SORTED class list (index order IS the
    * lang-asc tie-break the relational argmax uses). Weights and
    * priors are built from the SAME Spark aggregates the declared
    * query runs, with `math.log` = Spark's `log` (both
    * `java.lang.Math.log`), so fit→serve reproduces the relational
    * floats to rounding. */
  final case class LangModel(langs: Array[String], nBuckets: Int,
                             flatW: Array[Double], priors: Array[Double]) {
    require(langs.nonEmpty && flatW.length == langs.length * nBuckets &&
      priors.length == langs.length, "LangModel: inconsistent shapes")
  }

  /** The fit half of `langClassify` (the `fitNbQuality` posture):
    * both nBuckets-bounded aggregates collected into dense arrays. */
  def fitLangModel(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String, nBuckets: Int = 1024): LangModel = {
    val grams = docs.select(col(langCol).as("lang"),
      explode(graft.functions.ArrayMath.charTrigramBuckets(
        lower(trim(col(textCol))), nBuckets)).as("b"))
    val mb = grams.groupBy("lang", "b").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    val tot = mb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nd = docs.groupBy(col(langCol)).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = nd.values.sum
    val langs = tot.keys.toArray.sorted
    val flatW = new Array[Double](langs.length * nBuckets)
    var ci = 0
    while (ci < langs.length) {
      val lang = langs(ci)
      val t = tot(lang).toDouble + nBuckets
      var b = 0
      while (b < nBuckets) {
        flatW(ci * nBuckets + b) =
          math.log((mb.getOrElse((lang, b), 0L) + 1).toDouble / t)
        b += 1
      }
      ci += 1
    }
    LangModel(langs, nBuckets,
      flatW, langs.map(l => math.log(nd(l).toDouble / n.toDouble)))
  }

  /** The serve half, ROW-LOCAL: one native expression per doc (trigram
    * walk + md5 buckets + per-class fold + rounded argmax all inside
    * `functions.LangNbScore` — no explode, no join, no HOF lambda),
    * so a live feed classifies at scan speed (stateless append — the
    * `q_lang_classifier_stream` twin is this transform verbatim).
    * Docs without a full trigram are dropped to match the declared
    * relational query (they carry no features there either). */
  def langScoreRows(docs: DataFrame, m: LangModel,
                    idCol: String, textCol: String,
                    langCol: String): DataFrame = {
    val langsLit = array(m.langs.toIndexedSeq.map(lit): _*)
    docs
      .filter(length(lower(trim(col(textCol)))) >= 3)
      .select(col(idCol).cast("long").as("doc_id"),
        col(langCol).as("__true"),
        graft.functions.ArrayMath.langNbScore(
          lower(trim(col(textCol))), m.flatW, m.priors, m.nBuckets).as("__s"))
      .select(col("doc_id"),
        element_at(langsLit, col("__s.best_idx") + 1).as("pred_lang"),
        col("__s.lang_score").as("lang_score"),
        (element_at(langsLit, col("__s.best_idx") + 1) === col("__true"))
          .cast("int").as("correct"))
  }

  def nbQualityScore(corpus: DataFrame, positive: DataFrame, negative: DataFrame,
                     idCol: String, textCol: String,
                     nBuckets: Int = 4096): DataFrame = {
    require(nBuckets >= 2)
    val model = nbModelFrame(positive, negative, idCol, textCol, nBuckets)
      .select("f", "w_present", "w_absent")
    val base = model.agg(sum("w_absent").as("base"))
    val prior = positive.agg(count(lit(1)).as("n_pos"))
      .crossJoin(broadcast(negative.agg(count(lit(1)).as("n_neg"))))
      .select((log(col("n_pos").cast("double"))
        - log(col("n_neg").cast("double"))).as("prior"))
    nbFeats(corpus, idCol, textCol, nBuckets)
      .join(broadcast(model), Seq("f"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_features"),
           sum(coalesce(col("w_present"), lit(0.0))).as("__sum"))
      .crossJoin(broadcast(base)).crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_features"),
        round(col("prior") + col("base") + col("__sum"), 6).as("score"))
      .withColumn("keep", (col("score") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** Constant-size NB quality model: dense per-bucket presence weights
    * (untrained buckets carry 0.0 — algebraically identical to the
    * relational left join's coalesce-to-zero), plus the absence base
    * and the class prior. nBuckets doubles ≈ 32 KB at the 4096
    * default — IVF-centroid-class model state. */
  final case class NbQualityModel(nBuckets: Int, weights: Array[Double],
                                  base: Double, prior: Double)

  /** The fit half of `nbQualityScore` as a driver-side constant-size
    * model fit (the `fitDecontaminationBloom` posture): the same two
    * nBuckets-bounded df aggs, collected into the dense weight array.
    * `base` is taken from the SAME Spark aggregate the relational
    * query uses, so fit→serve reproduces the declared query's floats
    * bit-for-bit (a driver-side re-summation could drift a ulp). */
  def fitNbQuality(positive: DataFrame, negative: DataFrame,
                   idCol: String, textCol: String,
                   nBuckets: Int = 4096): NbQualityModel = {
    require(nBuckets >= 2)
    val model = nbModelFrame(positive, negative, idCol, textCol, nBuckets)
    model.persist()
    try {
      val rows = model.select("f", "w_present").collect()
      require(rows.nonEmpty, "NB fit needs at least one training document")
      val w = new Array[Double](nBuckets)
      rows.foreach(r => w(r.getLong(0).toInt) = r.getDouble(1))
      val agg = model.agg(sum("w_absent").as("base"),
        first("n_pos").as("np"), first("n_neg").as("nn")).head
      NbQualityModel(nBuckets, w, agg.getDouble(0),
        math.log(agg.getLong(1).toDouble) - math.log(agg.getLong(2).toDouble))
    } finally { model.unpersist(); () }
  }

  /** The serve half, ROW-LOCAL: hash + distinct the doc's tokens and
    * fold the broadcast-literal weight array over them in one
    * projection — no shuffle, no state, so a fitted quality gate
    * scrubs a live feed at scan speed (streaming twin:
    * `CorpusStream.nbScored`). Output contract = `nbQualityScore`
    * minus its sort (null-text docs are absent there via the explode;
    * here they are filtered explicitly). */
  def nbScoreRows(corpus: DataFrame, m: NbQualityModel,
                  idCol: String, textCol: String): DataFrame = {
    val fs = array_distinct(transform(
      split(trim(col(textCol)), "\\s+"),
      w => conv(substring(md5(w.cast("binary")), 1, 8), 16, 10)
        .cast("long") % m.nBuckets))
    val wLit = lit(m.weights)
    corpus.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), fs.as("__fs"))
      .select(col("doc_id"),
        size(col("__fs")).cast("int").as("n_features"),
        round(lit(m.prior) + lit(m.base) +
          aggregate(col("__fs"), lit(0.0),
            (acc, f) => acc + element_at(wLit, f.cast("int") + 1)), 6)
          .as("score"))
      .withColumn("keep", (col("score") > 0).cast("int"))
  }

  /** DSIR-style data selection (importance resampling, Xie et al.
    * 2023): score every raw-pool document by the average per-token
    * log-likelihood RATIO between a target-domain unigram LM and the
    * raw-pool unigram LM (both add-one smoothed — the `lmCrossEntropy`
    * fit applied twice), then draw k docs WITHOUT replacement
    * proportional to softmax(importance) via the Gumbel-top-k trick:
    * key = importance + Gumbel(md5-coin), take the k largest. The
    * deterministic md5 coin (the `weightedSample` construction) makes
    * the draw reproducible on any engine, so the whole selection —
    * both LM fits, the ratio, the Gumbel transform and the cut — is
    * independently recomputable by the DuckDB oracle.
    *
    * The paper's raw form sums hashed n-gram feature log-ratios (doc
    * likelihood ratio); this uses the length-normalized per-token
    * average (the CCNet normalization) so a long document cannot buy
    * selection by repetition alone — documented deviation, same
    * ranking family.
    *
    * Shape at 100 TB: two vocab-bounded (word, count) aggs (Heaps'
    * law), two 1-row stat broadcasts, one token-explode join against
    * the broadcast-size LMs, one per-doc hash agg, and TakeOrdered
    * for the cut — per-partition heaps + a k-row driver merge; no
    * global sort, nothing quadratic, nothing driver-paced. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int = 100): DataFrame = {
    require(k >= 1)
    def fit(df: DataFrame, cnt: String) =
      df.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
        .groupBy("w").agg(count(lit(1)).as(cnt))
    val ft = fit(target, "wt"); val fr = fit(raw, "wr")
    val st = ft.agg(sum("wt").as("n_t"), count(lit(1)).as("v_t"))
    val sr = fr.agg(sum("wr").as("n_r"), count(lit(1)).as("v_r"))
    val tok = raw.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    val llr =
      log((coalesce(col("wt"), lit(0L)) + lit(1L)).cast("double")
        / (col("n_t") + col("v_t") + lit(1L)).cast("double")) -
      log((coalesce(col("wr"), lit(0L)) + lit(1L)).cast("double")
        / (col("n_r") + col("v_r") + lit(1L)).cast("double"))
    val per = tok
      .join(ft, Seq("w"), "left").join(fr, Seq("w"), "left")
      .crossJoin(broadcast(st)).crossJoin(broadcast(sr))
      .select(col("doc_id"), llr.as("__llr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"), avg("__llr").as("__lir"))
    // Gumbel noise off the deterministic md5 coin; denominator 2³²+1
    // keeps u strictly inside (0,1) so -ln(-ln(u)) is always finite
    val h = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4294967297.0)
    per.select(col("doc_id"), col("n_tokens"),
        round(col("__lir"), 6).as("importance"),
        round(col("__lir") - log(-log(u)), 6).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Token-budget selection: keep documents in ascending `keyCol`
    * order (best quality first — e.g. held-out cross-entropy) until
    * the cumulative token budget is spent — the dataset-assembly move
    * ("give me the best N-token corpus") after scoring.
    *
    * The global running sum is computed WITHOUT a global window sort
    * (`Window.orderBy` with no partition collapses to ONE reducer —
    * the exact skew PlanShapeSpec polices elsewhere): a two-level
    * distributed prefix sum instead. Level 1: bucket rows by ~`buckets`
    * approximate quantile cutoffs of the key (constant-size driver
    * fit, deterministic Greenwald–Khanna); per-bucket token totals
    * (one tiny agg) prefix-summed on the driver into per-bucket
    * offsets (≤ `buckets` rows of model state). Level 2: a
    * bucket-PARTITIONED cumsum window (parallel across buckets) plus
    * the broadcast offset. Exactness: bucket assignment is a pure
    * function of the key, so (key, id) order within a bucket + bucket
    * offsets reproduce the global cumsum bit-for-bit. The key is
    * rounded to 6 dp BEFORE ordering so the (key, id) order — and
    * with it every emitted running total — is reproducible across
    * engines (raw-double last-ulp ties would otherwise reorder). */
  def selectTokenBudget(scored: DataFrame, idCol: String, tokCol: String,
                        keyCol: String, budget: Long,
                        buckets: Int = 64): DataFrame = {
    require(budget >= 0 && buckets >= 1)
    import org.apache.spark.sql.expressions.Window
    val base = scored.select(col(idCol).as("doc_id"),
      col(tokCol).cast("long").as("n_tokens"),
      round(col(keyCol).cast("double"), 6).as("key"))
    val cuts = base.stat.approxQuantile("key",
      (1 until buckets).map(_.toDouble / buckets).toArray, 1e-4)
      .distinct.sorted
    val bucketCol =
      if (cuts.isEmpty) lit(0)
      else size(filter(array(cuts.toIndexedSeq.map(lit): _*), c => col("key") > c))
    val withB = base.withColumn("__b", bucketCol)
    val offsets = withB.groupBy("__b").agg(sum("n_tokens").as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = offsets.scanLeft((0, 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
      .sliding(2).collect { case Array((_, acc), (b, _)) => b -> acc }.toMap
    val offExpr = offsets.map(_._1).foldLeft(lit(0L)) { (acc, b) =>
      when(col("__b") === b, lit(prefix(b))).otherwise(acc)
    }
    val w = Window.partitionBy("__b").orderBy(col("key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.withColumn("cum_tokens", sum("n_tokens").over(w) + offExpr)
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("key"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** One left-to-right non-overlapping token-pair merge as a pure
    * string expression — the double-space trick: with tokens separated
    * by TWO spaces (one "owned" by each neighbor), the literal pattern
    * `␣a␣␣b␣` consumes only its own boundary spaces, so consecutive
    * occurrences (`a b a b`) merge independently and plain `replace`
    * (non-overlapping, left-to-right in every engine) implements exact
    * BPE apply semantics with no regex at all — portable to engines
    * whose regex lacks lookaround (RE2). Input/output are in doubled-
    * space form; see `bpeApply` for the wrapping. */
  private def mergeOnce(doubled: Column, pair: String, merged: String): Column = {
    val Array(a, b) = pair.split(" ", 2)
    org.apache.spark.sql.functions.replace(
      doubled, lit(s" $a  $b "), lit(s" $merged "))
  }

  /** Apply a fixed merge table to a corpus — the SERVE half of
    * `bpeTrain` (ship the merge list, rewrite any text with it, in
    * order). Scan-side only: pad to doubled-space form once, fold the
    * merges, collapse back. Exactly the training rewrite's semantics
    * (left-to-right, non-overlapping, later merges see earlier merges'
    * output). */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    // caveat (as in reference BPE trainers): the merged-token joiner is
    // '_' by convention in bpeTrain's tables — a corpus whose organic
    // vocabulary already contains '_'-joined forms of merge pairs can
    // conflate them; pick merge names outside the vocabulary there
    val doubled = concat(lit(" "),
      regexp_replace(trim(col(textCol)), "\\s+", "  "), lit(" "))
    val rewritten = merges.foldLeft(doubled) { case (t, (pair, merged)) =>
      mergeOnce(t, pair, merged)
    }
    val outText = trim(regexp_replace(rewritten, "\\s+", " "))
    docs.select(col(idCol).as("doc_id"), outText.as("bpe_text"))
      .withColumn("n_tokens",
        when(col("bpe_text") === "", 0)
          .otherwise(size(split(col("bpe_text"), " "))).cast("int"))
      .orderBy("doc_id")
  }

  /** BPE-style merge training, token-level (the word2phrase/BPE merge
    * loop as relational operations): each round counts adjacent-pair
    * frequencies (`bpePairs`' aggregate), takes the argmax — ONE row to
    * the driver, constant-size model state like every other fit — and
    * rewrites the corpus merging that pair left-to-right non-overlapping
    * (`a b` → `a_b`, so later rounds can chain `a_b c`). Returns the
    * merge table (rank, pair, merged, freq) — the artifact a tokenizer
    * trainer ships. Stops early when no pair repeats.
    *
    * Shape per round: one pair-vocabulary-bounded hash agg + a
    * scan-side regex rewrite; the corpus is lazily checkpointed each
    * round so plan lineage stays O(1) and round r's agg reads round
    * r-1's materialization — exactly how a distributed BPE trainer
    * iterates (frequencies are corpus-wide, merges are per-row).
    * Counting is occurrence-based (overlaps counted, as in reference
    * BPE implementations); the rewrite is non-overlapping left-to-right.
    *
    * Like the `ml_*` fits, building the frame RUNS the training loop
    * (nMerges driver-argmax rounds) — this is a model-training op, not
    * a declarative query. The loop is DRIVER-PACED (one 1-row argmax
    * collect + one corpus rewrite per merge — inherent to BPE's
    * sequential merges), so it is TRAINING-side only: at 100 TB, fit
    * the merge table on a bounded `sampleFraction` of documents (pair
    * frequency RANKS are what the merges encode, and ranks are stable
    * under uniform document sampling — standard tokenizer-training
    * practice: vocabularies are fit on a few GB, served corpus-wide),
    * then rewrite the full corpus with `bpeApply`, which is scan-side
    * and shuffle-free. `sampleFraction` selects documents by a
    * deterministic md5-of-text coin, so the fit is reproducible on any
    * engine and independent of row order. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int = 8,
               joiner: String = "_", sampleFraction: Double = 1.0): DataFrame = {
    // a corpus whose organic vocabulary already contains joiner-joined
    // forms ("new_york" as a literal token) would conflate them with
    // merge products — pass a joiner outside the vocabulary there
    // (sentencepiece uses U+2581 for exactly this reason)
    require(nMerges >= 1 && joiner.nonEmpty && !joiner.contains(" "))
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction in (0,1], got $sampleFraction")
    val spark = docs.sparkSession
    import spark.implicits._
    val fitDocs =
      if (sampleFraction >= 1.0) docs
      else docs.filter(
        conv(substring(md5(col(textCol).cast("binary")), 1, 8), 16, 10)
          .cast("long") < lit((sampleFraction * 4294967296.0).toLong))
    // the corpus iterates in doubled-space form so each round's rewrite
    // is the same `mergeOnce` the serve path (`bpeApply`) uses
    var corpus = fitDocs.select(concat(lit(" "),
      regexp_replace(trim(col(textCol)), "\\s+", "  "), lit(" ")).as("__t"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val top = corpus.select(explode(graft.functions.TextHash.shinglesAll(
          split(trim(col("__t")), " +"), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .as[(String, Long)].collect().headOption
      top match {
        case Some((pair, n)) if n >= 2 =>
          val merged = pair.split(" ", 2).mkString(joiner)
          corpus = corpus.select(mergeOnce(col("__t"), pair, merged).as("__t"))
            .localCheckpoint(eager = false)
          merges += ((rank, pair, merged, n))
          rank += 1
        case _ => done = true
      }
    }
    merges.toSeq.toDF("merge_rank", "pair", "merged", "freq")
  }

  /** Snapshot diff — what an incremental corpus refresh audits before
    * committing a new version: per doc id, `added` / `removed` /
    * `changed` / `unchanged` plus both content digests. Text never
    * moves: each side reduces to (id, md5) scan-side, then ONE
    * id-keyed full outer join — the shuffle carries 128-bit digests
    * (the `domainStats` posture applied to versioning). */
  def corpusDiff(prev: DataFrame, cur: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    def digests(df: DataFrame, alias: String) =
      df.select(col(idCol).as("doc_id"),
        md5(col(textCol).cast("binary")).as(alias))
    digests(prev, "digest_prev")
      .join(digests(cur, "digest_cur"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("digest_prev"), col("digest_cur"),
        when(col("digest_prev").isNull, "added")
          .when(col("digest_cur").isNull, "removed")
          .when(col("digest_prev") === col("digest_cur"), "unchanged")
          .otherwise("changed").as("status"))
      .orderBy("doc_id")
  }

  /** The sketch twin of `domainStats`' exact distinct count:
    * `approx_count_distinct` (HyperLogLog++) replaces the two-phase
    * exact distinct — at 100 TB the exact form shuffles every distinct
    * digest once, while the HLL partials are constant-size mergeable
    * buffers (the same trade as `percentile_approx`). No SQL oracle
    * (DuckDB's approx sketch differs); CorpusSpec bounds the relative
    * error against the exact rollup instead. */
  def domainStatsApprox(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, rsd: Double = 0.05): DataFrame =
    docs.select(col(sourceCol).as("source"),
        md5(col(textCol).cast("binary")).as("digest"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           approx_count_distinct(col("digest"), rsd).as("n_unique_approx"))
      .orderBy("source")

  /** KMV (k-minimum-values) ORACLE-PROOF twin of `domainStatsApprox` —
    * the md5-twin move applied to approximate distinct counting: the
    * k smallest md5-derived hash fractions per source give the
    * classic bottom-k estimator n̂ = (k−1)/v_(k) (Bar-Yossef 2002),
    * and because the hash is md5 (not HLL's engine-private sketch)
    * DuckDB re-derives fractions, ranking, the k-th value and the
    * estimate exactly — pinning the approximate-distinct ALGEBRA the
    * way `dedup_minhash_md5` pinned minhash. HLL stays the production
    * sketch (`domainStatsApprox`: constant-size mergeable partials);
    * this twin's per-source window is the proof-harness shape, and
    * its estimate sits beside the exact count so the artifact itself
    * shows the sketch error. Sources with fewer than k distinct
    * digests report exactly (the estimator's standard small-set
    * case). */
  def domainStatsKmv(docs: DataFrame, idCol: String, textCol: String,
                     sourceCol: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"domainStatsKmv: need k >= 2, got $k")
    val h = docs.select(col(sourceCol).as("source"),
      md5(col(textCol).cast("binary")).as("digest"))
    val counts = h.groupBy("source").agg(count(lit(1)).as("n_docs"))
    // 13 hex chars = 52 bits — exact in a double, max before precision
    // loss; the fraction is uniform in [0, 1)
    val dv = h.select(col("source"), col("digest")).distinct()
      .withColumn("v",
        conv(substring(col("digest"), 1, 13), 16, 10).cast("double")
          / lit(math.pow(16.0, 13)))
    val w = Window.partitionBy("source").orderBy(col("v"), col("digest"))
    val topk = dv.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    topk.groupBy("source")
      .agg(count(lit(1)).as("n_seen"),
           max(when(col("__rn") === k, col("v"))).as("kth"))
      .join(counts, Seq("source"))
      .select(col("source"), col("n_docs"),
        round(when(col("n_seen") < k, col("n_seen").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("kth")), 6)
          .as("n_unique_kmv"))
      .orderBy("source")
  }

  /** Per-source (domain) curation rollup: document count, size, exact
    * duplicate-text rate, and a keep flag (C4-style domain filtering —
    * drop tiny or heavily-duplicated sources). The md5 digest stands in
    * for text equality, so the shuffle carries 128-bit digests, never
    * documents; count(distinct digest) is planned as a two-phase
    * partial-distinct aggregate. */
  def domainStats(docs: DataFrame, idCol: String, textCol: String,
                  sourceCol: String, minDocs: Int = 10,
                  minUniqueRatio: Double = 0.8): DataFrame =
    docs.select(col(sourceCol).as("source"),
        md5(col(textCol).cast("binary")).as("digest"),
        length(col(textCol)).as("__len"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("__len"), 6).as("avg_chars"),
           countDistinct(col("digest")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("avg_chars"),
              round(col("n_unique") / col("n_docs").cast("double"), 6).as("uniq_ratio"))
      .withColumn("keep",
        (col("n_docs") >= minDocs && col("uniq_ratio") >= minUniqueRatio).cast("int"))
      .orderBy("source")
}
