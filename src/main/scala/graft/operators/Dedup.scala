package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Near-duplicate detection for document/embedding corpora — the
  * north-star LLM-data-pipeline dedup family. All variants follow the
  * same scalable shape: per-row signature (pure expressions where
  * possible) → candidate generation by key equality (shuffle on a
  * SMALL key, never an O(n²) crossJoin) → exact verification on the
  * candidate pairs only.
  */
object Dedup {

  /** doc_id + distinct k-word shingle array (guarded for short docs).
    * Native single-pass expression — the interpreted
    * `transform`+`concat_ws`+`array_distinct` layering it replaces was
    * the dominant cost of the minhash path (per-element boxed
    * dispatch, ×3 recomputes). */
  def shingleDocs(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHash.shingles(split(trim(col(textCol)), "\\s+"), k).as("shingles"))
      .filter(size(col("shingles")) >= 1)

  /** Winnowing fingerprints (doc_id, fp) — rolling-hash selection
    * (Schleimer et al. 2003): hash every k-word k-gram, slide a window
    * of `window` hashes, keep each window's minimum. GUARANTEE: two
    * docs sharing any token run of ≥ k + window − 1 words share ≥ 1
    * fingerprint (the shared run contains a full window of identical
    * k-gram hashes, and min-selection is position-independent).
    * Density ≈ 2/(window+1) of the k-grams. All per-row array work —
    * scan-parallel, zero shuffle before the explode. Hashes are md5
    * hex compared lexicographically (bit-identical to the DuckDB
    * oracle); a 64-bit rolling polynomial would be cheaper per byte
    * but selection semantics are the same. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, window: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextHash.winnowFingerprints(
        split(trim(col(textCol)), "\\s+"), k, window)).as("fp"))

  /** MinHash signatures (doc_id, mh_0..mh_{n-1}): minhash_i = min over
    * shingles of xxhash64(seed_i, shingle). Shape: explode shingles
    * once, evaluate the n seeded hashes in codegen, hash-aggregate the
    * n mins (scalar buffers, map-side combined — the shuffle carries
    * one n-long row per doc). A `transform(...)` higher-order version
    * is prettier but interpreted, ~4× slower at 5k docs. */
  def withMinhashSignature(sh: DataFrame, numHashes: Int = 32,
                           portableMd5: Boolean = false): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    // portableMd5 swaps the seeded xxhash64 (codegen long, the fast
    // production form) for min(md5('i:'||shingle)) hex strings — ~4×
    // the signature bytes, but computable verbatim by DuckDB, which
    // lets the ENTIRE minhash pipeline be oracle-checked
    val mins = (0 until numHashes).map(i =>
      if (portableMd5)
        min(md5(concat_ws(":", lit(i), col("s")).cast("binary"))).as(s"mh_$i")
      else min(xxhash64(lit(i), col("s"))).as(s"mh_$i"))
    ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bh) exploded LSH band keys off a shingle frame —
    * the candidate-generation key both `minhashPairs` (self-join) and
    * `dedupIncremental` (incoming × existing join) shuffle on.
    *
    * r15: the signature + band keys are ONE native per-row expression
    * (`functions.TextHash.minhashBandKeys`) — a doc's minhash mins are
    * a fold over its own shingle array, so the old explode → seeded
    * hashes → groupBy(doc_id) agg spelling paid an Exchange of the
    * corpus's exploded shingles (~250× the doc count) per call for
    * work that never needed to leave the row. Values are hash-for-hash
    * identical (DedupSpec pins both variants against the legacy
    * spelling; every md5-twin oracle re-derives them independently). */
  private[graft] def bandedKeys(sh: DataFrame, numHashes: Int, bands: Int,
                         portableMd5: Boolean): DataFrame =
    sh.select(col("doc_id"),
        posexplode(graft.functions.TextHash.minhashBandKeys(
          col("shingles"), numHashes, bands, portableMd5)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

  /** Candidate-quality evaluation harness for the minhash-LSH pipeline:
    * recall of `minhashPairs` against EXACT all-pairs Jaccard over the
    * same corpus — the number a dedup operator tunes (numHashes, bands)
    * against before a production run. One summary row: exact-pair
    * count, found/missed counts, false count (0 by construction — the
    * pipeline verifies exact Jaccard on every candidate) and recall.
    *
    * The exact side is O(n²) BY DESIGN and bounded to evaluation
    * slices — the same proof-twin posture as `embeddingPairsExact`
    * (recall is estimated on a sample, never computed corpus-wide). */
  def minhashEval(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 16, bands: Int = 8,
                  threshold: Double = 0.1, shingleK: Int = 3): DataFrame = {
    val sh = shingleDocs(docs, idCol, textCol, shingleK)
    val inter = size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double")
    val union = (size(col("a.shingles")) + size(col("b.shingles"))).cast("double") - inter
    // The eval slice is constant-size by contract, so PIN the
    // broadcast on the non-equi self-join (like the repo's 1-row
    // scalar crossJoins): without the hint the physical pick is left
    // to estimation, and a BNLJ that degrades to CartesianProduct
    // under pressure is the one query shape whose failure mode is a
    // silent many-minute stall rather than a clean error.
    val exact = sh.as("a").join(broadcast(sh.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              round(inter / union, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("__e"))
    val found = minhashPairs(docs, idCol, textCol, numHashes, bands,
        threshold, shingleK, portableMd5 = true)
      .select(col("doc_a"), col("doc_b"), lit(1).as("__f"))
    // sums coalesce to 0: an eval slice with NO qualifying pair must
    // report a 0-count row (like the oracle's count(*)), not NULLs
    exact.join(found, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__e"), lit(0))), lit(0L))
          .cast("int").as("n_exact"),
        coalesce(sum(when(col("__e") === 1 && col("__f") === 1, 1).otherwise(0)),
          lit(0L)).cast("int").as("n_found"),
        coalesce(sum(when(col("__e") === 1 && col("__f").isNull, 1).otherwise(0)),
          lit(0L)).cast("int").as("n_missed"),
        coalesce(sum(when(col("__e").isNull && col("__f") === 1, 1).otherwise(0)),
          lit(0L)).cast("int").as("n_false"))
      .select(col("n_exact"), col("n_found"), col("n_missed"), col("n_false"),
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(round(col("n_found").cast("double")
            / col("n_exact").cast("double"), 6)).as("recall"))
  }

  /** Drop shingles whose document frequency is ≥ `dfFrac` of the
    * shingled corpus — "stop shingles". The r5 soak's second minhash
    * lesson: a boilerplate span present on EVERY document gives all
    * n²/2 doc pairs a weak jaccard (~0.006 for a 5-word span on
    * 250-word docs), and with b bands of r rows LSH admits each pair
    * as a candidate w.p. ~b·j^r — a per-pair constant, so candidate
    * volume grows QUADRATICALLY in corpus size even though every one
    * of those pairs fails verification. No band-bucket cap catches
    * them: the colliding buckets are many and individually small
    * (each keyed on one boilerplate-shingle min combination, growing
    * linearly from 2 members). Removing signal-free shingles at the
    * source — the ngram df cap's analog, CCNet's "common n-grams
    * carry no dedup signal" — eliminates the junk candidates
    * entirely; true near-dups keep their informative shingles and
    * their recall. Docs left with ZERO informative shingles drop out
    * (they are boilerplate-only; exact/canonical dedup owns them).
    *
    * The hot list is vocab-bounded by construction (≤ shinglesPerDoc
    * / dfFrac distinct shingles can exceed the frequency bar), so it
    * travels as a 1-row broadcast array; the frame is lazily
    * localCheckpointed so the df aggregate runs once even though
    * `minhashPairs` references its shingle frame three times. */
  private[graft] def dropStopShingles(sh: DataFrame, dfFrac: Double): DataFrame = {
    val ex = sh.select(explode(col("shingles")).as("s"))
    val tot = sh.agg(count(lit(1)).as("__n"))
    val hot = ex.groupBy("s").agg(count(lit(1)).as("__df"))
      .crossJoin(tot)
      .filter(col("__df") >= col("__n") * dfFrac)
      .agg(collect_list(col("s")).as("__hot"))
      .localCheckpoint(false)
    sh.crossJoin(hot)
      .withColumn("shingles", array_except(col("shingles"), col("__hot")))
      .drop("__hot")
      .filter(size(col("shingles")) >= 1)
  }

  /** MinHash-LSH candidate pairs + exact Jaccard verification.
    * Bands of `rowsPerBand` signature values hash to a band key;
    * docs sharing any band key become candidates (shuffle carries
    * (band, hash) keys — tiny); candidates are verified with exact
    * shingle-set Jaccard and filtered at `threshold`.
    *
    * `bandBucketCap` bounds the per-band-bucket quadratic term for
    * dup-HEAVY corpora: a band value shared by f docs contributes f²
    * all-pairs candidates, and at 100 TB the common case — a boilerplate
    * page mirrored 100k× — would alone emit 10¹⁰ pairs. Buckets hotter
    * than the cap switch to STAR expansion: each member pairs only with
    * the bucket's min doc id (f−1 rows). Connectivity through the
    * bucket is preserved exactly — `connectedComponents` still places
    * every member in one cluster — so dedup-clustering recall is
    * unchanged for identical docs; only non-transitive borderline pairs
    * inside a hot bucket can be missed (graceful, like the simhash
    * cap). The default (MaxValue) keeps the historical all-pairs plan
    * with no extra aggregate.
    *
    * PRODUCTION DEFAULTS (what the declared `dedup_minhash` /
    * `q_corpus_dedup` run, decided r6): `bandBucketCap = 512` and
    * `stopShingleDfFrac = Some(0.5)`. The parameter defaults below stay
    * permissive (∞ / None) because the proof twins and the eval harness
    * need the unfiltered algebra; new callers should pass the
    * production pair unless they have the same reason not to. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5, shingleK: Int = 3,
                   portableMd5: Boolean = false,
                   bandBucketCap: Int = Int.MaxValue,
                   stopShingleDfFrac: Option[Double] = None): DataFrame = {
    // NOT cached: the shingle frame is a narrow projection off the doc
    // scan — recomputing it for the signature pass and the two survivor
    // joins is scan-bound work, whereas pinning corpus-sized shingle
    // arrays in storage memory (a) can't fit at 100 TB and (b) leaks a
    // fresh cache entry per call (each call builds a new plan; nothing
    // ever unpersists it — a long-lived session accumulates them).
    val sh0 = shingleDocs(docs, idCol, textCol, shingleK)
    // stop-shingle filter applies to signatures AND verification: the
    // pipeline dedups over informative content, so a pair sharing only
    // boilerplate is neither a candidate nor (if caught another way) a
    // verified dup
    val sh = stopShingleDfFrac.fold(sh0)(f => dropStopShingles(sh0, f))
    // Scalars only through the candidate join + dedup: shingle arrays
    // in the band frame would (a) bloat the shuffle ~50× and (b) force
    // sort-based aggregation in the pair dedup (array agg buffers are
    // not mutable) — measured 8–97 s vs ~1 s at 5k docs. The sets are
    // re-joined afterwards for the (few) surviving candidates.
    val exploded = bandedKeys(sh, numHashes, bands, portableMd5)
    val cands = (if (bandBucketCap == Int.MaxValue) {
      exploded.as("a").join(exploded.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    } else {
      // one extra hash agg on the SAME (band, bh) key the join shuffles
      // on; cold buckets keep all-pairs, hot buckets emit the f−1 star
      // edges to their min member
      val freq = exploded.groupBy("band", "bh")
        .agg(count(lit(1)).as("__f"), min("doc_id").as("__mn"))
      val cold = exploded.join(
        freq.filter(col("__f") <= bandBucketCap).select("band", "bh"),
        Seq("band", "bh"))
      val coldPairs = cold.as("a").join(cold.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val starPairs = exploded.join(
          freq.filter(col("__f") > bandBucketCap).select(col("band"), col("bh"), col("__mn")),
          Seq("band", "bh"))
        .filter(col("doc_id") =!= col("__mn"))
        .select(col("__mn").as("doc_a"), col("doc_id").as("doc_b"))
      coldPairs.union(starPairs)
    }).dropDuplicates("doc_a", "doc_b")
    // Verification payload: the candidate pairs are ~99% false hits at
    // permissive thresholds, and BOTH set arrays ride the verify joins'
    // shuffles — with raw k-word strings that is ~2.4 KB/doc and the
    // 48× soak measured the exact-jaccard stage falling off a memory
    // cliff (7.6 s at 16× → ~81 s at 48× for 3.3× the candidates).
    // The production path intersects xxhash64(shingle) longs instead:
    // identical set algebra (a 64-bit in-pair collision is ~|union|²/2⁶⁴),
    // ~2.5× less shuffle, primitive equality. The md5 proof twins keep
    // the portable string sets — exactness there is the oracle contract.
    val shv = if (portableMd5) sh
      else sh.withColumn("shingles", transform(col("shingles"), s => xxhash64(s)))
    val withSets = cands
      .join(shv.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(shv.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val union = (size(col("sa")) + size(col("sb"))).cast("double") - inter
    withSets.select(col("doc_a"), col("doc_b"), round(inter / union, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash of the whitespace token stream — the native
    * codegen expression (`functions.SimHash64`): FNV-1a per token over
    * UTF-8 bytes, per-bit majority vote. Constant work per row, no
    * shuffle, stays inside the enclosing whole-stage-codegen span
    * (replaced the r1 Scala UDF, which broke the span and boxed every
    * token). */
  val simhash64: Column => Column = graft.functions.TextHash.simhash64

  /** SimHash near-dup pairs via pigeonhole banding: the 64-bit
    * signature is split into `maxHamming + 1` chunks, so any pair with
    * Hamming distance ≤ maxHamming MUST agree on at least one whole
    * chunk (maxHamming flipped bits touch at most maxHamming chunks) —
    * the candidate set provably contains every true pair. Candidates
    * are verified with bit_count(xor) ≤ maxHamming.
    *
    * `bucketCap` bounds the per-(chunk,value) quadratic term the same
    * way `VectorLsh.bucketCap` does: a chunk value shared by f docs
    * contributes f² candidate rows, and narrow chunks (large
    * maxHamming) have small key spaces, so hot buckets are dropped —
    * recall degrades gracefully, runtime never explodes. maxHamming
    * must stay small (≤ 7) for the guarantee to be useful: 8+ chunks
    * of ≤ 8 bits have ≤ 256 distinct values per chunk, which at corpus
    * scale puts ~n/256 docs in every bucket. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bucketCap: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0,15], got $maxHamming")
    val nChunks = maxHamming + 1
    // distribute 64 bits as evenly as possible: first (64 % n) chunks
    // get an extra bit
    val base = 64 / nChunks
    val widths = Seq.tabulate(nChunks)(i => if (i < 64 % nChunks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val sig = docs.select(col(idCol).as("doc_id"),
        simhash64(split(trim(col(textCol)), "\\s+")).as("sig"))
    val chunks = sig.select(col("doc_id"), col("sig"),
      posexplode(array((0 until nChunks).map(i =>
        // mask as -1L >>> (64 - w): (1L << 64) - 1 would overflow to 0
        // for the single-chunk maxHamming = 0 case (JVM shifts mod 64)
        shiftright(col("sig"), offsets(i))
          .bitwiseAND(lit(-1L >>> (64 - widths(i))))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ch")
    val cold = chunks.groupBy("chunk", "ch").agg(count(lit(1)).as("f"))
      .filter(col("f") <= bucketCap).select("chunk", "ch")
    val kept = chunks.join(cold, Seq("chunk", "ch"))
    kept.as("a").join(kept.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs, ORACLE-PORTABLE variant (the simhash
    * analog of `portableMd5` minhash): every step is recomputable
    * verbatim in ANSI-ish SQL, so an independent engine can verify the
    * whole pipeline — signatures, banding, candidates and the Hamming
    * filter.
    *
    * Hash family: token hash = first 64 bits of md5(token), consumed as
    * four 16-bit chunk ints (4 hex chars each — integer-parseable in
    * any SQL dialect; no 64-bit unsigned parsing needed). Signature bit
    * p is the majority vote over token occurrences (ties → 1, i.e.
    * `2·Σbit_p ≥ n`). The four 16-bit signature chunks band exactly as
    * `simhashPairs` does (maxHamming = 3 ⇒ 4 chunks, pigeonhole
    * guarantee), hot chunk-buckets are capped, and candidates are
    * verified with Σ bit_count(xor(chunk)) ≤ maxHamming.
    *
    * Shape: token explode → 64 codegen'd shift/mask bit columns off 4
    * `conv` parses → one hash agg per doc (64 scalar sums — map-side
    * combined) → chunk-key candidate join. Same 100 TB posture as the
    * production `simhashPairs`; ~2× its per-token cost (md5 vs FNV),
    * which buys the independent verifiability. */
  def simhashPairsPortableMd5(docs: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3, bucketCap: Int = 4096): DataFrame = {
    require(maxHamming == 3, "portable variant is fixed at 4×16-bit chunks (maxHamming 3)")
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .withColumn("h", md5(col("w").cast("binary")))
    // 4-hex-char chunk ints k0..k3, then the 64 bits as shift/mask exprs
    val withK = (0 until 4).foldLeft(tok) { (df, j) =>
      df.withColumn(s"k$j", conv(substring(col("h"), 4 * j + 1, 4), 16, 10).cast("int"))
    }
    val bitSums = (0 until 64).map { p =>
      val (j, b) = (p / 16, p % 16)
      sum(shiftright(col(s"k$j"), 15 - b).bitwiseAND(lit(1))).as(s"s$p")
    }
    val agg = withK.groupBy("doc_id").agg(bitSums.head, (bitSums.tail :+ count(lit(1)).as("n")): _*)
    // majority bit: 2·Σbit ≥ n; chunk int = Σ bit << (15 − b)
    val chunkCols = (0 until 4).map { j =>
      (0 until 16).map { b =>
        val p = 16 * j + b
        shiftleft(when(col(s"s$p") * 2 >= col("n"), 1).otherwise(0).cast("int"), 15 - b)
      }.reduce(_ + _).as(s"c$j")
    }
    val sig = agg.select(col("doc_id") +: chunkCols: _*)
    val chunks = sig.select(col("doc_id"),
        posexplode(array((0 until 4).map(j => col(s"c$j")): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ch")
    val cold = chunks.groupBy("chunk", "ch").agg(count(lit(1)).as("f"))
      .filter(col("f") <= bucketCap).select("chunk", "ch")
    val kept = chunks.join(cold, Seq("chunk", "ch"))
    val hamming = (0 until 4).map(j =>
      bit_count(col(s"sa.c$j").bitwiseXOR(col(s"sb.c$j")))).reduce(_ + _)
    kept.as("a").join(kept.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup pairs: LSH-bucketed candidate join at
    * the distance equivalent of the cosine threshold (unit-norm:
    * d = √(2−2cos)), verified with exact cosine. The scale path for
    * "embedding near-dedup at 100 TB" — candidates only, never n². */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double = 0.95, seed: Long = 42L,
                     tables: Int = 8, projections: Int = 2): DataFrame = {
    val unit = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("f"))
    val norm = unit.withColumn("n", sqrt(VectorOps.dot(col("f"), col("f"))))
      .filter(col("n") > 0)
      // native codegen scale — not the interpreted transform(f, x -> x/n)
      .withColumn("u", graft.functions.ArrayMath.scale(col("f"), lit(1.0) / col("n")))
      .select(col("id"), col("u"))
    val dim = norm.select(size(col("u"))).head().getInt(0)
    // unit-norm: cosine c ⇔ euclidean √(2−2c); bucket width = that radius
    val radius = math.sqrt(math.max(2.0 - 2.0 * minCosine, 1e-12))
    graft.functions.VectorLsh.candidatePairs(norm, "id", "u",
        dim, tables, projections, math.max(radius, 0.05), seed)
      // unit vectors: cosine = 1 − d²/2 (exact, no second vector pass)
      .select(col("id_a"), col("id_b"),
              round(lit(1.0) - col("dist") * col("dist") / lit(2.0), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy("id_a", "id_b")
  }

  /** The final corpus-dedup step: drop every non-survivor cluster
    * member, keep survivors and untouched singletons — i.e.
    * `docs LEFT ANTI JOIN (clusters WHERE NOT survivor)`. In the CC
    * fast-path regime (≤ driverEdgeCap edges) the drop list is a
    * stats-bearing LocalRelation and Catalyst broadcasts statically;
    * in the loop regime it sits behind a localCheckpoint with no
    * stats, sort-merge is planned statically and AQE converts to a
    * broadcast anti join at runtime after measuring the build side
    * (PlanShapeSpec gates BOTH regimes). The loop's stats-blind
    * default is deliberate: on a dup-heavy corpus the drop list is a
    * large fraction of |V| and a static broadcast HINT would be the
    * scale hazard. */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame, idCol: String,
                  aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("is_survivor") === 0)
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): a coarse k-means partitions the embedding space
    * into `nlist` cells (constant-size driver-fit centroids, codegen
    * cell assignment — shared with `Ivf`), and ONLY within-cell pairs
    * are exact-cosine compared. Per-cell membership is capped
    * deterministically (md5-order first `cellCap`), and within a cell
    * only the first `pairCap` members are all-pairs compared — the
    * rest star through the cell representative — so the quadratic term
    * is bounded by nlist·pairCap² and a hot cell degrades recall,
    * never runtime. Cross-cell true pairs are the approximation cost,
    * same trade as the paper (near-identical vectors quantize to the
    * same centroid).
    *
    * `nlist <= 0` (the production default) sizes the partitioner to
    * the corpus: nlist = n / `TargetCellSize`, so EXPECTED cell size
    * stays constant and total pair volume stays LINEAR in n
    * ((n/cell)·cell²/2 = n·cell/2). A fixed nlist is a fixed model
    * capacity: once every cell saturates `cellCap` the pair volume
    * sits at the full nlist·cellCap² ceiling and growth turns
    * quadratic until the cap bites — the r6 48× soak measured exactly
    * that (84 s vs 14 s at 16×, every cell capped). cellCap stays as
    * the SKEW guard (one dense cluster can still flood one cell), not
    * the operating point. The paper's regime is the same: cell count
    * grows with corpus, per-cell work stays bounded. */
  val TargetCellSize = 512

  /** nlist for `n` vectors at constant expected cell size; bounded
    * below (tiny corpora: one k-means fit must still see >= nlist
    * sample points) and above (centroid matrix is a driver/codegen
    * reference object — 4096 x dim doubles ~ 2 MB at dim 64). */
  def adaptiveNlist(n: Long): Int =
    math.max(16L, math.min(4096L, n / TargetCellSize)).toInt

  def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 0, minCosine: Double = 0.95,
                    cellCap: Int = 4096, sampleSize: Int = 4096,
                    pairCap: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = if (nlist > 0) nlist else adaptiveNlist(emb.count())
    // enough sample for ~20 points per centroid, bounded: 16384 rows
    // of dim-64 doubles collect ~8 MB to the driver
    val sample = math.min(math.max(sampleSize, 20 * k), 16384)
    val centroids = Ivf.fitCentroids(emb, idCol, vecCol, k, sampleSize = sample)
    val assigned = Ivf.assign(emb, idCol, vecCol, centroids)
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("nid").cast("string").cast("binary")), col("nid"))
    val ranked = assigned.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= cellCap)
    // Dense-cell discipline (the bandBucketCap star-expansion shape):
    // a cell at the adaptive operating point (~TargetCellSize members)
    // gets the full SemDeDup within-cell pairwise compare; a cell
    // flooded by a dense cluster would put C(cellCap, 2) near-identical
    // edges into the transitive closure (8.4M at cellCap 4096 — the r6
    // 48x soak's dominant cost), so members ranked past `pairCap` get
    // ONE cosine-verified edge to the cell's md5-first member instead.
    // Connectivity through the star keeps a genuinely-dense cluster
    // whole (every member is near the representative); tail-tail pairs
    // whose members are NOT near the representative are the recall
    // cost, paid only inside skew-flooded cells.
    val head = ranked.filter(col("__r") <= pairCap).drop("__r")
    val headPairs = head.as("a").join(head.as("b"),
        col("a.cell") === col("b.cell") && col("a.nid") < col("b.nid"))
      .select(col("a.nid").as("id_a"), col("b.nid").as("id_b"),
              round(VectorOps.cosine(col("a.nf"), col("b.nf")), 6).as("cosine"))
    val rep = ranked.filter(col("__r") === 1)
      .select(col("cell"), col("nid").as("__rid"), col("nf").as("__rf"))
    val starPairs = ranked.filter(col("__r") > pairCap).drop("__r")
      .join(rep, Seq("cell"))
      .select(least(col("nid"), col("__rid")).as("id_a"),
              greatest(col("nid"), col("__rid")).as("id_b"),
              round(VectorOps.cosine(col("nf"), col("__rf")), 6).as("cosine"))
    headPairs.unionByName(starPairs).filter(col("cosine") >= minCosine)
  }

  /** Full semantic dedup verdict: one row per input vector with its
    * semantic cluster and keep decision — `semanticPairs` transitively
    * closed by `connectedComponents`, unpaired vectors surviving as
    * their own singleton clusters. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 0, minCosine: Double = 0.95,
                    cellCap: Int = 4096, sampleSize: Int = 4096,
                    pairCap: Int = 1024): DataFrame = {
    val pairs = semanticPairs(emb, idCol, vecCol, nlist, minCosine, cellCap,
      sampleSize, pairCap)
    val cc = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "id")
    emb.select(col(idCol).as("id")).join(cc, Seq("id"), "left")
      .select(col("id"),
              coalesce(col("cluster_id"), col("id")).as("cluster_id"),
              coalesce(col("is_survivor"), lit(1)).as("is_survivor"))
      .orderBy("id")
  }

  /** Connected components over a duplicate-pair edge list — the step
    * that turns pairwise near-dup hits into dedup GROUPS (A~B and B~C
    * place A, B, C in one cluster even when A~C was never generated).
    * Returns one row per vertex that appears in any pair:
    * (node, cluster_id, is_survivor), where cluster_id is the minimum
    * id reachable from the node and the survivor is the cluster's
    * canonical keeper (min id — deterministic across runs/engines).
    *
    * Algorithm: hash-min label propagation with pointer jumping. Each
    * round (a) joins the edge list with the current labels and takes
    * the per-node min (one shuffle join + one hash aggregate), then
    * (b) shortcuts every label to its label's label (one self-join) —
    * the pointer-doubling step that turns O(diameter) convergence into
    * O(log diameter), the same round bound as the large-star/small-star
    * scheme (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"). Near-dup graphs are clique-ish (2–3 rounds); a 60-node
    * chain converges in 5 (DedupSpec). If `maxRounds` is ever hit with
    * labels still moving the operator THROWS rather than returning
    * silently-split clusters (survivor picks would be wrong — callers
    * without an oracle would never notice). Both the edge list and each
    * round's labels are `localCheckpoint`ed: edges are re-read every
    * round (don't re-derive the candidate DAG), and checkpointing cuts
    * the iterative lineage. State per round is O(|V| + |E|) — never
    * corpus text. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 15,
                          driverEdgeCap: Int = 100000,
                          pairsPreDeduped: Boolean = false): DataFrame = {
    val dir = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    // r16 (guide §2.4): when the caller GUARANTEES its pair list is
    // already distinct with a < b per row (the grid/banded candidate
    // paths dropDuplicates before verification, and the maintained
    // corpus only ever appends batch-new pairs), the direction flip
    // cannot introduce duplicates either (src<dst rows are disjoint
    // from their dst<src flips) — the generic `distinct()` was a pure
    // per-call exchange, one per micro-batch in the maintained
    // families. Duplicate edges would not change CC results (both the
    // union-find and the min-agg loop are idempotent in edges); the
    // distinct exists to bound edge VOLUME for untrusted inputs, so
    // callers without the guarantee keep it.
    val edgesPlan = {
      val u = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
      if (pairsPreDeduped) u else u.distinct()
    }
    // Adaptive algorithm choice, same spirit as `adaptiveNlist`: a
    // verified near-dup edge list under `driverEdgeCap` is a
    // driver-trivial graph — union-find closes it in milliseconds,
    // where the distributed loop pays ~5 exchanges × O(log d) rounds
    // of fixed job-scheduling cost (measured 1-2 s for a 257-edge
    // list at bench scale, partition-count-invariant). Results are
    // IDENTICAL (min-reachable-id labels); every CC consumer is
    // oracle-checked, so the equivalence is hash-verified at every
    // scale factor. Past the cap — the 100 TB regime — the hash-min
    // pointer-jumping loop below is the path, unchanged.
    // The fast path computes over longs; it engages only for integral
    // id columns (every in-repo caller) and casts its output back to
    // the INPUT id type, so the operator's schema contract never
    // depends on data size. Non-integral ids (e.g. UUID strings) take
    // the loop, which is type-generic.
    // r15: LAZY checkpoint — the decision count materializes the
    // distinct edge list once (the old eager checkpoint + count was
    // two jobs before any work started, and CC runs once per
    // micro-batch in the maintained-corpus family); the fast path's
    // collect and the loop's per-round scans read the same cached
    // blocks. (Not limit(cap+1).collect(): Spark's CollectLimit scans
    // partitions incrementally — more jobs, not fewer.)
    val idType = edgesPlan.schema("src").dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    val edges = edgesPlan.localCheckpoint(false)
    val nEdges = edges.count()
    if (integral && nEdges <= driverEdgeCap)
      return ccDriverSide(pairs.sparkSession,
          edges.select(col("src").cast("long"), col("dst").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1))))
        .select(col("node").cast(idType).as("node"),
                col("cluster_id").cast(idType).as("cluster_id"),
                col("is_survivor"))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val viaEdge = edges.as("e")
        .join(labels.as("l"), col("e.src") === col("l.node"))
        .select(col("e.dst").as("node"), col("l.label").as("label"))
      val propagated = labels.union(viaEdge)
        .groupBy("node").agg(min("label").as("label"))
      // pointer jump: label := min(label, label(label)). Every label
      // value is itself a node (labels start as node ids and only
      // min-combine), so the lookup side is the same frame.
      val next = propagated
        .join(propagated.select(col("node").as("label"), col("label").as("gl")),
              Seq("label"), "left")
        .select(col("node"),
                least(col("label"), coalesce(col("gl"), col("label"))).as("label"))
        .localCheckpoint()
      changed = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.label") =!= col("o.label")).count()
      labels = next
      round += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents: labels still moving after $maxRounds rounds " +
        s"(component diameter > 2^$maxRounds is implausible — check the pair input); " +
        "raise maxRounds to proceed")
    labels.select(col("node"), col("label").as("cluster_id"),
      (col("node") === col("label")).cast("int").as("is_survivor"))
  }

  /** Driver-side union-find for the small-graph fast path of
    * `connectedComponents`. Labels are min-reachable node ids, exactly
    * the loop's fixed point; output schema (node, cluster_id long;
    * is_survivor int) matches the loop over the long-id tables every
    * caller uses. */
  private def ccDriverSide(spark: org.apache.spark.sql.SparkSession,
                           es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    // index nodes
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = idx.getOrElseUpdate(x, { nodes += x; nodes.length - 1 })
    es.foreach { case (a, b) => id(a); id(b) }
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(id(a)); val rb = find(id(b))
      if (ra != rb) parent(rb) = ra
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Int, Long]
    nodes.indices.foreach { i =>
      val r = find(i)
      val m = minOfRoot.getOrElse(r, Long.MaxValue)
      if (nodes(i) < m) minOfRoot(r) = nodes(i)
    }
    val rows = nodes.indices.map { i =>
      val label = minOfRoot(find(i))
      (nodes(i), label, if (nodes(i) == label) 1 else 0)
    }
    rows.toDF("node", "cluster_id", "is_survivor")
  }

  /** Semantic dedup, ORACLE-PORTABLE variant — the coarse partitioner
    * is a deterministic GRID over the first `gridDims` components of
    * the unit-normalized vector (cell d = ⌊u_d / gridSize⌋) instead of
    * k-means cells, so the whole pipeline — normalization, cell
    * assignment, the md5-order `cellCap`, within-cell exact cosine,
    * and the transitive closure — is recomputable verbatim in SQL.
    * Same approximation contract as `semanticDedup`: only within-cell
    * pairs are compared (straddling a grid boundary costs recall,
    * exactly as straddling a k-means Voronoi face does), and the
    * deterministic cap bounds the per-cell quadratic term. k-means
    * cells adapt to density and stay the production path; the grid is
    * the proof twin (the role `portableMd5` plays for minhash). */
  def semanticDedupGrid(emb: DataFrame, idCol: String, vecCol: String,
                        gridDims: Int = 2, gridSize: Double = 0.25,
                        minCosine: Double = 0.95,
                        cellCap: Int = 4096): DataFrame = {
    val rows = embGridRows(emb, idCol, vecCol, gridDims, gridSize)
    val cc = gridClusters(rows, minCosine, cellCap)
    emb.select(col(idCol).as("id")).join(cc, Seq("id"), "left")
      .select(col("id"),
              coalesce(col("cluster_id"), col("id")).as("cluster_id"),
              coalesce(col("is_survivor"), lit(1)).as("is_survivor"))
      .orderBy("id")
  }

  /** The grid pass's normalized cell assignment, factored out so the
    * streaming maintainer (`CorpusStream.MaintainedCrossmodal`) keys
    * its state on the SAME cells the batch operator pairs within.
    * Output: (id, f, __n, cell) — zero-norm vectors dropped (they get
    * the default survivor verdict downstream, as in the batch op). */
  private[graft] def embGridRows(emb: DataFrame, idCol: String, vecCol: String,
                                 gridDims: Int, gridSize: Double): DataFrame = {
    require(gridDims >= 1 && gridSize > 0)
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("f"))
      .withColumn("__n", sqrt(VectorOps.dot(col("f"), col("f"))))
      .filter(col("__n") > 0)
    val cell = concat_ws(",", (1 to gridDims).map(d =>
      floor(element_at(col("f"), d) / col("__n") / lit(gridSize))
        .cast("long").cast("string")): _*)
    v.withColumn("cell", cell)
  }

  /** Cap + intra-cell pairs + CC over pre-assigned grid rows
    * ((id, f, __n, cell) as `embGridRows` emits). Cell-LOCAL by
    * construction — pairs require equal cells, so components never
    * span cells and running this over any cell-closed subset gives
    * verdicts identical to the full corpus pass restricted to those
    * cells (the property the incremental maintainer relies on). */
  private[graft] def gridClusters(rows: DataFrame, minCosine: Double,
                                  cellCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r16 (guide §2.4): components never span cells, so the whole
    // pairs→CC→verdict chain is a CELL-LOCAL function of the capped
    // member list — computed by `GridCellVerdicts` in one per-group
    // pass over `collect_list` of the (≤ cellCap) capped members.
    // The group-by reuses the window's hashpartitioning(cell), so vs
    // the old spelling (pair self-join + direction distinct + CC
    // count/collect jobs + verdict join back) the plan drops every
    // Exchange after the window and the two per-call CC jobs. The
    // aggregation buffer is bounded by cellCap (≤ 4096 members × dim
    // 64 ≈ 2 MB) — the same bound that kept the pair join's per-cell
    // quadratic term safe. Values are bit-identical (the expression
    // replicates the cosine fold, Round HALF_UP and min-id labels
    // exactly; the dedup_semantic_grid / q_dedup_crossmodal oracles
    // hash-check it end to end). One behavior note: this returns a
    // row for EVERY capped member (unpaired members as their own
    // singleton cluster, is_survivor 1) where CC returned only
    // paired nodes — both consumers applied exactly that default via
    // coalesce, so results are unchanged.
    val idType = rows.schema("id").dataType
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
    rows.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= cellCap)
      .groupBy("cell")
      .agg(collect_list(struct(col("id").cast("long").as("id"),
        col("f").cast("array<double>").as("f"),
        col("__n").cast("double").as("n"))).as("__m"))
      .select(explode(graft.functions.ArrayMath
        .gridCellVerdicts(col("__m"), minCosine)).as("v"))
      .select(col("v.id").cast(idType).as("id"),
              col("v.cluster").cast(idType).as("cluster_id"),
              (col("v.id") === col("v.cluster")).cast("int").as("is_survivor"))
  }

  /** Span-level (sub-document) dedup — the CCNet-paragraph / C4-span
    * procedure: chop each document into non-overlapping `spanLen`-word
    * spans, keep only the globally FIRST occurrence of each span text
    * (first in deterministic (doc_id, span_idx) order), and reassemble
    * every document from its surviving spans. Boilerplate repeated
    * across documents (headers, navigation, license blocks) disappears
    * corpus-wide while each document keeps its unique content.
    *
    * Output per doc: (doc_id, n_spans, n_kept, dedup_text).
    *
    * Shape: span chop is a per-row expression (scan-parallel); the
    * first-occurrence decision is a partial+final hash aggregate of
    * min(struct(doc_id, span_idx)) keyed by span text — map-side
    * combine collapses a span repeated 10⁹× before the shuffle, so a
    * mega-duplicated boilerplate span costs one row per map task, not
    * a sorted 10⁹-row window group (deliberately NOT row_number over a
    * span-partitioned window, which would sort every hot group on one
    * reducer). The keep verdict joins back on the same span key —
    * shuffle-aligned with the aggregate, and AQE splits any residual
    * hot key. Reassembly is one hash agg by doc_id. At 100 TB the
    * shuffle key should be the span's 128-bit digest rather than its
    * text; text keys keep this variant verbatim-recomputable by the
    * DuckDB oracle (the md5-twin trade). */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 spanLen: Int = 5): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    // single-pass native chop (ChunkSpans; stride == window) — the
    // transform∘sequence∘slice∘concat_ws HOF stack it replaces is
    // interpreted per element (NativeExprSpec pins the equivalence)
    val spans = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextHash.chunkSpans(
          split(trim(col(textCol)), "\\s+"), spanLen, spanLen)))
      .select(col("doc_id"), (col("pos") + 1).as("span_idx"), col("col").as("span"))
    val first = spans.groupBy("span")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("__first"))
    val marked = spans.join(first, Seq("span"))
      .withColumn("keep",
        (struct(col("doc_id"), col("span_idx")) === col("__first")).cast("int"))
    marked.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_spans"),
        sum("keep").cast("int").as("n_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep") === 1,
            struct(col("span_idx"), col("span"))))),
          s => s.getField("span"))).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Exact repeated-substring removal — the suffix-array dedup of Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed shuffle-first: a token run of length ≥
    * `gramLen` is repeated (anywhere in the corpus, including within
    * one document) iff every overlapping `gramLen`-token window inside
    * it is duplicated — so duplicated-window COVERAGE marks exactly
    * the union of repeated spans ≥ gramLen, with no suffix array at
    * all. The globally first occurrence (min (doc_id, pos)) of each
    * duplicated window is kept; every token covered by a non-first
    * occurrence is cut, and documents are reassembled from the
    * surviving tokens. Unlike `dedupSpans` (C4-style disjoint chunks,
    * alignment-sensitive), this catches repeats at ANY offset.
    *
    * Output per doc: (doc_id, n_tokens, n_cut, dedup_text).
    *
    * Shape: window chop is one native expression per row (ChunkSpans,
    * stride 1 — scan-parallel); the duplicate/first-occurrence
    * decision is a partial+final hash agg keyed by window text, so a
    * boilerplate span repeated 10⁹× collapses to one row per map task
    * before the shuffle; the keep verdict joins back shuffle-aligned
    * on the same key. Coverage is a running max of cut-window ends
    * over one doc-partitioned sort — per-group size is one document's
    * tokens, never the corpus. The agg/join key is the window's
    * 128-bit md5 digest computed scan-side — the ~120-byte window
    * text never shuffles (~8× fewer shuffle bytes at L=20), collisions
    * are negligible at any corpus size, and the DuckDB oracle keyed on
    * the verbatim text stays value-identical because no key appears in
    * the output. Cf. reference scope: the reference has no
    * sub-document dedup; this is part of the
    * training-data-pipeline family the engine adds. */
  def dedupExactSubstrings(docs: DataFrame, idCol: String, textCol: String,
                           gramLen: Int = 20): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("w"))
    // overlapping windows at every start position; docs shorter than
    // gramLen contain no substring of length >= gramLen and emit none
    val grams = toks.filter(size(col("w")) >= gramLen)
      .select(col("doc_id"),
        posexplode(graft.functions.TextHash.chunkSpans(col("w"), gramLen, 1)))
      .select(col("doc_id"), col("pos"),
              unhex(md5(col("col").cast("binary"))).as("gram"))
    val dup = grams.groupBy("gram")
      .agg(count(lit(1)).as("__n"),
           min(struct(col("doc_id"), col("pos"))).as("__first"))
      .filter(col("__n") > 1)
    val maskedStarts = grams.join(dup, Seq("gram"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("__first"))
      .select(col("doc_id"), col("pos").as("tpos"),
              (col("pos") + gramLen).as("__cut_end"))
    val tokens = toks.select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), col("pos").as("tpos"), col("col").as("tok"))
    val cover = Window.partitionBy("doc_id").orderBy("tpos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = tokens
      .join(maskedStarts, Seq("doc_id", "tpos"), "left")
      .withColumn("__mask_end", max(col("__cut_end")).over(cover))
      .withColumn("keep",
        (col("__mask_end").isNull || col("__mask_end") <= col("tpos")).cast("int"))
    marked.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_tokens"),
        (count(lit(1)) - sum("keep")).cast("int").as("n_cut"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep") === 1,
            struct(col("tpos"), col("tok"))))),
          s => s.getField("tok"))).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Incremental exact repeated-substring removal — the
    * continuous-refresh shape of `dedupExactSubstrings`: scrub an
    * INCOMING batch against an EXISTING corpus without ever touching
    * existing×existing windows. An incoming token is cut iff it is
    * covered by a `gramLen`-window that (a) occurs ANYWHERE in the
    * existing corpus (the published corpus always wins — its text is
    * already admitted/trained on, so id order is irrelevant), or
    * (b) repeats within the incoming batch itself, at any occurrence
    * after the batch-first (min (doc_id, pos)). Only incoming docs are
    * emitted; existing docs are never rewritten.
    *
    * Shape: ONE hash agg + ONE join-back, both keyed on the window's
    * 128-bit digest — the existing side's digests union into the same
    * aggregate as the incoming occurrences (an `__existing` max-flag
    * per digest), so the decision costs no extra shuffle over the
    * batch variant. The existing side's digests are recomputed here
    * for self-containment, but in production they are the stored
    * window index (computed once at admission) — per-refresh cost is
    * O(|incoming|) window work plus a digest join, the same economics
    * as `dedupIncremental`. Coverage/reassembly run on incoming docs
    * only. */
  def dedupExactSubstringsIncremental(existing: DataFrame, incoming: DataFrame,
                                      idCol: String, textCol: String,
                                      gramLen: Int = 20): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    import org.apache.spark.sql.expressions.Window
    def toks(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("w"))
    def grams(df: DataFrame) = toks(df).filter(size(col("w")) >= gramLen)
      .select(col("doc_id"),
        posexplode(graft.functions.TextHash.chunkSpans(col("w"), gramLen, 1)))
      .select(col("doc_id"), col("pos"),
              unhex(md5(col("col").cast("binary"))).as("gram"))
    // the stored index side: digest + flag, no positions needed
    val exIndex = grams(existing)
      .select(col("gram"), lit(1).as("__ex"))
    val inGrams = grams(incoming)
    val decided = inGrams.select(col("gram"), col("doc_id"), col("pos"), lit(0).as("__ex"))
      .unionByName(exIndex.select(col("gram"),
        lit(Long.MaxValue).as("doc_id"), lit(0).as("pos"), col("__ex")))
      .groupBy("gram")
      .agg(max(col("__ex")).as("__in_existing"),
           count(lit(1)).as("__n"),
           min(struct(col("doc_id"), col("pos"))).as("__first"))
    val maskedStarts = inGrams.join(decided, Seq("gram"))
      .filter(col("__in_existing") === 1 ||
        (col("__n") > 1 && struct(col("doc_id"), col("pos")) =!= col("__first")))
      .select(col("doc_id"), col("pos").as("tpos"),
              (col("pos") + gramLen).as("__cut_end"))
    val tokens = toks(incoming).select(col("doc_id"), posexplode(col("w")))
      .select(col("doc_id"), col("pos").as("tpos"), col("col").as("tok"))
    val cover = Window.partitionBy("doc_id").orderBy("tpos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = tokens
      .join(maskedStarts, Seq("doc_id", "tpos"), "left")
      .withColumn("__mask_end", max(col("__cut_end")).over(cover))
      .withColumn("keep",
        (col("__mask_end").isNull || col("__mask_end") <= col("tpos")).cast("int"))
    marked.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_tokens"),
        (count(lit(1)) - sum("keep")).cast("int").as("n_cut"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep") === 1,
            struct(col("tpos"), col("tok"))))),
          s => s.getField("tok"))).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Exact all-pairs embedding cosine pairs — the PROOF twin of
    * `embeddingPairs` (the role the md5 variants play for minhash/
    * simhash): no LSH, no sampling, every pair ≥ `minCosine` by direct
    * computation, verbatim recomputable by a SQL oracle. O(n²) BY
    * DESIGN — run it on bounded slices (eval sets, per-cluster members,
    * test corpora), never the full corpus; `embeddingPairs` (LSH) and
    * `semanticPairs` (IVF cells) are the 100 TB paths whose recall is
    * measured against this. */
  def embeddingPairsExact(emb: DataFrame, idCol: String, vecCol: String,
                          minCosine: Double = 0.95): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("f"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              round(VectorOps.cosine(col("a.f"), col("b.f")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy("id_a", "id_b")
  }

  /** Incremental corpus dedup — the continuous-refresh shape: dedup an
    * INCOMING batch against an EXISTING corpus without ever generating
    * existing×existing pairs. An incoming doc is dropped iff (a) its
    * exact content digest already exists, or (b) it has a verified
    * near-dup (banded-minhash candidate + exact Jaccard ≥ `threshold`)
    * in the existing corpus. Intra-batch duplicates are deliberately
    * NOT handled here — run `dedupCorpus` on the batch first; keeping
    * the two steps separate keeps each one's oracle exact.
    *
    * Shape: the existing side's signatures/band keys are recomputed
    * here for self-containment, but in production they are the stored
    * dedup index (computed once when each doc was admitted) — the
    * per-batch cost is then O(|incoming|) signature work plus a
    * band-key join whose left side is batch-sized, which is what makes
    * daily refresh of a 100 TB corpus affordable. The digest anti-join
    * shuffles 128-bit digests only; both anti-joins are AQE-sized. */
  def dedupIncremental(existing: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 16, bands: Int = 8,
                       threshold: Double = 0.1, shingleK: Int = 3,
                       portableMd5: Boolean = false,
                       exBucketCap: Int = Int.MaxValue): DataFrame = {
    val exDigests = existing
      .select(md5(col(textCol).cast("binary")).as("__digest")).distinct()
    val shEx = shingleDocs(existing, idCol, textCol, shingleK)
    val shIn = shingleDocs(incoming, idCol, textCol, shingleK)
    val bEx0 = bandedKeys(shEx, numHashes, bands, portableMd5)
      .select(col("band"), col("bh"), col("doc_id").as("ex_id"))
    // The drop decision is EXISTS semantics — one verified existing
    // match suffices — so a hot stored-index bucket (a K-member
    // boilerplate cluster puts K existing docs behind one band key)
    // doesn't need all K members as candidates: cap it to its min-id
    // representative and candidates stay linear in the incoming batch.
    // The representative is in the same near-dup cluster as every
    // member, so a true near-dup of the cluster still verifies against
    // it; recall degrades gracefully, never the runtime. Both phases
    // are hash aggs on the join key (map-side combinable, skew-proof).
    val bEx =
      if (exBucketCap == Int.MaxValue) bEx0
      else {
        val freq = bEx0.groupBy("band", "bh")
          .agg(count(lit(1)).as("__f"), min("ex_id").as("__mn"))
        val cold = bEx0.join(
          freq.filter(col("__f") <= exBucketCap).select("band", "bh"),
          Seq("band", "bh"))
        val hot = freq.filter(col("__f") > exBucketCap)
          .select(col("band"), col("bh"), col("__mn").as("ex_id"))
        cold.unionByName(hot)
      }
    val cands = bandedKeys(shIn, numHashes, bands, portableMd5)
      .join(bEx, Seq("band", "bh"))
      .select(col("doc_id"), col("ex_id")).dropDuplicates("doc_id", "ex_id")
    val withSets = cands
      .join(shIn.select(col("doc_id"), col("shingles").as("sa")), "doc_id")
      .join(shEx.select(col("doc_id").as("ex_id"), col("shingles").as("sb")), "ex_id")
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val uni = (size(col("sa")) + size(col("sb"))).cast("double") - inter
    val nearHits = withSets.filter(round(inter / uni, 6) >= threshold)
      .select(col("doc_id").as(idCol)).distinct()
    incoming.withColumn("__digest", md5(col(textCol).cast("binary")))
      .join(exDigests, Seq("__digest"), "left_anti")
      .drop("__digest")
      .join(nearHits, Seq(idCol), "left_anti")
  }

  /** CROSS-MODAL dedup — the text and vector signals combined over
    * the documents↔embeddings join (the first operator to span both
    * tables): a document is removed as "exact" when its text digest
    * is not the first occurrence (content-equality, the strongest
    * signal, judged first), else as "semantic" when its embedding
    * loses the grid SemDeDup pass (`semanticDedupGrid` — non-survivor
    * of a ≥minCosine connected component), else kept. This is the
    * production curation move text-only dedup misses: paraphrases
    * and re-encodings share no digest but collapse in embedding
    * space. Documents without an embedding row get no semantic
    * verdict (left join — the text signal alone decides). Plan
    * shape: one digest-keyed agg + semi-join (the `q_dedup_exact`
    * shape) plus the grid pass's cell-bounded pairs + CC — no
    * corpus-wide text join anywhere. Returns (doc_id, keep, reason
    * ∈ exact|semantic|none). */
  def crossmodalDedup(docs: DataFrame, emb: DataFrame,
                      idCol: String, textCol: String,
                      embIdCol: String, vecCol: String,
                      gridDims: Int = 2, gridSize: Double = 0.25,
                      minCosine: Double = 0.3,
                      cellCap: Int = 64): DataFrame = {
    val fp = docs.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol).cast("binary")).as("__fp"))
    val keep = fp.groupBy("__fp").agg(min(col("doc_id")).as("__keep"))
    val exact = fp.join(keep, Seq("__fp"))
      .select(col("doc_id"), (col("doc_id") =!= col("__keep")).as("__exdup"))
    val sem = semanticDedupGrid(emb, embIdCol, vecCol,
        gridDims, gridSize, minCosine, cellCap)
      .select(col("id").cast("long").as("doc_id"),
        (col("is_survivor") === 0).as("__semdup"))
    exact.join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exdup"), "exact")
          .when(coalesce(col("__semdup"), lit(false)), "semantic")
          .otherwise("none").as("reason"))
      .withColumn("keep", (col("reason") === "none").cast("int"))
      .select("doc_id", "keep", "reason")
      .orderBy("doc_id")
  }
}
