package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup

/** The CONTINUOUS-CORPUS flagship — "the product" as a long-running
  * service: document+embedding batches arrive as a stream and ONE
  * maintained state advances per micro-batch through the composed
  * pipeline
  *
  *   incremental near-dup dedup  →  kept-set diff  →  kNN-graph
  *   (minhash bands vs standing     (insert new        upsert + serve
  *    corpus, verified jaccard,      keepers, EVICT     swap
  *    CC min-id keep rule)           dethroned ones)   (`MaintainedGraph`)
  *
  * The keep rule is the CLUSTER-MIN-ID rule of the batch
  * `q_corpus_dedup`/`q_dedup_clusters` family — deliberately, because
  * it is ORDER-FREE: near-dup clusters only grow as docs arrive and
  * min(cluster) only falls, so the drained end state equals the batch
  * dedup of the full corpus REGARDLESS of arrival order, and the
  * chained DuckDB oracle (minhash-md5 pairs → recursive-CTE closure →
  * keep → exact kNN graph over keepers) applies verbatim to the end
  * state. The price of order-freedom is RETRACTION: a late-arriving
  * smaller-id member dethrones the standing keeper of its cluster,
  * and the graph absorbs that as a delete+insert in the same batch —
  * which is exactly what `MaintainedGraph.advance` provides (kept →
  * evicted happens at most once per doc; an evicted doc can never be
  * re-kept because the dethroning smaller id stays in its cluster).
  *
  * Incrementality: per batch, ONLY candidate pairs touching the batch
  * are generated (batch bands joined against all bands — standing ×
  * standing pairs were generated when their younger member arrived),
  * and the graph never re-pays old×old (the `knnGraphIncremental`
  * contract). The per-batch O(n) terms — re-shingling the corpus for
  * verification sets and the state snapshots — are scan-side and
  * write-side respectively; a snapshot cadence `compactEvery` above 1
  * (the same for the embedded graph) turns the writes between
  * snapshots into per-batch delta segments (production persists
  * banded keys and shingle sets bucketed; the pair/graph algebra is
  * unchanged).
  * No bucket cap and no stop-shingle df filter in this twin: both are
  * corpus-frequency-dependent and therefore arrival-order-dependent —
  * the capped/filtered forms stay the batch production path with
  * their own oracles.
  *
  * Crash contract: the embedded graph commits first (idempotent by
  * batchId), the corpus state commits second, the corpus POINTER
  * last — a replayed batch recomputes the same survivors from the
  * pre-batch corpus state and the graph advance no-ops. */
object CorpusPipeline {

  /** The maintained deduped corpus + its kNN graph + serve versioning,
    * recoverable from `stateDir` alone. */
  final class MaintainedCorpus(spark: SparkSession, stateDir: String,
                               k: Int = 5,
                               numHashes: Int = 16, bands: Int = 8,
                               threshold: Double = 0.1,
                               shingleK: Int = 3,
                               compactEvery: Int = 1) {
    private val state = new VersionedState(stateDir, "MaintainedCorpus",
      Seq("docs", "pairs", "kept"), compactEvery)
    // the embedded graph keeps the same snapshot cadence — one
    // decision for the whole pipeline's persistence
    val graph = new GraphStream.MaintainedGraph(
      spark, s"$stateDir/graph", k, idCol = "doc_id", vecCol = "embedding",
      compactEvery = compactEvery)
    @volatile private var cur: (Int, Long) = state.readPointer().getOrElse((0, -1L))
    // committed state stays HOT (localCheckpoint blocks); parquet
    // snapshots are the recovery path only — same posture and same
    // rationale as `MaintainedGraph.hot`
    @volatile private var hot: Option[(Int, DataFrame, DataFrame, DataFrame)] = None
    // DERIVED hot state: the standing shingle-set and banded-key
    // tables. A doc's shingles/bands never change, so these append
    // per batch (each batch's slice is its own localCheckpoint; the
    // standing table is their lazy union) — computed once at arrival,
    // never an O(corpus) re-derive. Deterministic functions of `docs`,
    // so they are NOT persisted: a recovered process re-derives them
    // from the docs snapshot once. At production scale they'd be
    // bucketed tables keyed on (band, bh) / doc_id; the per-batch
    // algebra is identical.
    @volatile private var hotDerived: Option[(Int, DataFrame, DataFrame)] = None
    // r16 (VERDICT r15 #3) — two pieces of driver-side derived state:
    //
    // `seenBloom`: a Bloom filter over every doc_id absorbed so far.
    // The append-only guard was a PER-BATCH corpus-wide left-semi
    // scan; the bloom answers "definitely not seen" from the driver
    // for the (overwhelmingly common) clean batch, so the loud join
    // guard only runs on a maybe-hit (a real re-send, or a false
    // positive at ~1%). No false negatives ⇒ a re-send can never slip
    // through; a false positive costs one extra verify job, never a
    // wrong verdict. Rebuilt with one distributed aggregate on
    // recovery or saturation (never a corpus-sized driver collect).
    //
    // `keptUf`: the kept-set decision is min-id connected components
    // over the ACCUMULATED verified pairs, and the pair list only
    // ever APPENDS (batch pairs always touch a batch-new doc) — so
    // the union-find advances incrementally from each batch's OWN
    // pairs (batch-bounded driver collect) instead of re-running CC
    // count+collect over all standing pairs every batch. Falls back
    // to the distributed CC spelling past `ufEdgeCap` (the same cap
    // `Dedup.connectedComponents` uses for its driver fast path); a
    // recovered process seeds it from the pairs snapshot once.
    private val ufEdgeCap = 100000
    private var seenBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
    private var bloomCapacity = 0L
    private var bloomCount = 0L
    private var keptUf: Option[CorpusPipeline.MinIdUnionFind] = None
    private var ufOverflow = false

    def version: Int = cur._1
    def lastAppliedBatchId: Long = cur._2

    /** The committed (docs, pairs, kept) frames at the current
      * version — hot blocks if this process committed them. A
      * RECOVERED process reconstructs them from disk ONCE and
      * `localCheckpoint`s them into hot blocks BEFORE anything
      * downstream builds on them: `advance` chains `unionByName` on
      * these frames and retention deletes the files they came from, so
      * a LAZY read of the recovered `v=N` would still be referenced by
      * the hot chain after retention passes it — the snapshot write of
      * `v=N+3` would then scan a deleted directory and die (the
      * recovery lineage bug the r9 kill/restart test exposed). Same
      * posture as the `hotDerived` recovery branch and
      * `MaintainedGraph.commit`, which cut lineage eagerly for the
      * same reason. */
    private def hotState: (DataFrame, DataFrame, DataFrame) = synchronized {
      require(version > 0, "MaintainedCorpus: no committed version yet")
      hot match {
        case Some((v, d, p, kp)) if v == version => (d, p, kp)
        case _ =>
          val (d, p, kp) = reconstruct(version)
          hot = Some((version, d, p, kp))
          (d, p, kp)
      }
    }

    /** Recovery: the newest snapshot at or below `v`, then its
      * segments in version order (none at cadence 1) — docs and pairs
      * are APPEND-only (the corpus store's invariant, so a segment is
      * just the batch's rows and its new pairs); the kept set applies
      * its per-batch diff (evictions out, fresh keepers in). One
      * lineage cut at the end. */
    private def reconstruct(v: Int): (DataFrame, DataFrame, DataFrame) = {
      val s0 = state.baseSnapshot(v)
      var d = spark.read.parquet(state.snapshotDir("docs", s0))
      var p = spark.read.parquet(state.snapshotDir("pairs", s0))
      var kp = spark.read.parquet(state.snapshotDir("kept", s0))
      ((s0 + 1) to v).foreach { lv =>
        val seg = state.segmentDir(lv)
        d = d.unionByName(spark.read.parquet(s"$seg/dins"))
        p = p.unionByName(spark.read.parquet(s"$seg/pins"))
        kp = kp.join(spark.read.parquet(s"$seg/kout"), Seq("doc_id"), "left_anti")
          .unionByName(spark.read.parquet(s"$seg/kin"))
      }
      (d.localCheckpoint(), p.localCheckpoint(), kp.localCheckpoint())
    }

    /** All docs seen so far: (doc_id, text, embedding). */
    def docs: DataFrame = hotState._1

    /** Verified near-dup pairs accumulated so far. */
    def pairs: DataFrame = hotState._2

    /** The kept (deduped) doc ids at the current version. */
    def kept: DataFrame = hotState._3

    /** Absorb one micro-batch of (doc_id, text, embedding) rows.
      * Returns the corpus version serving after this batch. */
    def advance(batchId: Long, batch: DataFrame): Int = synchronized {
      val (v, last) = cur
      if (batchId <= last) return v
      // A file-sourced micro-batch arrives as ONE input partition, so
      // without the repartition every per-batch scan-side stage — the
      // md5-minhash shingle/band pass above all — runs on one core
      // (r15 profile: corpus:shingle-band was the heaviest phase at
      // 2.4 s of 11 s of job time, single-threaded). Row placement is
      // irrelevant to every downstream aggregate/join, so spreading
      // the batch across the session's shuffle width only adds one
      // tiny exchange and parallelizes the whole batch pipeline.
      val nPart = spark.sessionState.conf.numShufflePartitions
      // r16: LAZY checkpoint + ONE ids-collect job — the collect
      // materializes the checkpoint blocks, answers the empty-batch
      // probe (its length), and feeds the bloom re-send guard below;
      // the old spelling paid an eager-checkpoint job plus a
      // limit(1).count job per batch for the same information.
      val b = batch.select(col("doc_id").cast("long").as("doc_id"),
          col("text"), col("embedding").cast("array<double>").as("embedding"))
        .repartition(nPart)
        .localCheckpoint(false)
      val bIds: Array[Long] = graft.Phases.phase(spark, "corpus:batch-in") {
        b.select("doc_id").collect().map(_.getLong(0))
      }
      if (bIds.isEmpty) {
        state.writePointer(v, batchId); cur = (v, batchId); return v
      }
      val (docs0, pairs0, kept0) =
        if (v == 0) {
          val empty = b.filter(lit(false))
          (empty,
           spark.createDataFrame(
             spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
             org.apache.spark.sql.types.StructType(Seq(
               org.apache.spark.sql.types.StructField("doc_a",
                 org.apache.spark.sql.types.LongType),
               org.apache.spark.sql.types.StructField("doc_b",
                 org.apache.spark.sql.types.LongType),
               org.apache.spark.sql.types.StructField("jaccard",
                 org.apache.spark.sql.types.DoubleType)))),
           empty.select(col("doc_id")))
        } else (docs, pairs, kept.select("doc_id"))
      // r16 bloom-gated append-only guard: the old spelling ran a
      // corpus-wide left-semi scan EVERY batch; the driver bloom
      // (no false negatives) proves the common clean batch untouched
      // and the loud join runs only on a maybe-hit — a real re-send
      // (which must throw) or a ~1% false positive (one wasted verify
      // job, never a wrong verdict). A recovered process (no bloom
      // yet) pays the join once and rebuilds the bloom below.
      val maybeSeen = v > 0 && (seenBloom match {
        case Some(bf) => bIds.exists(bf.mightContainLong)
        case None => true
      })
      require(!maybeSeen ||
          graft.Phases.phase(spark, "corpus:guard")(
            docs0.join(b, Seq("doc_id"), "left_semi").limit(1).count()) == 0,
        "MaintainedCorpus: batch re-sends an already-seen doc_id — " +
          "the corpus store is append-only; dedup decides keeps, not re-sends")
      if (seenBloom.isEmpty || bloomCount + bIds.length > bloomCapacity) {
        // (re)size from the standing corpus + this batch — a
        // distributed aggregate, never a corpus-sized driver collect;
        // runs only at bootstrap, after recovery, or on saturation
        graft.Phases.phase(spark, "corpus:guard") {
          val nOld = if (v == 0) 0L else docs0.count()
          val cap = math.max(1L << 20, 2L * (nOld + bIds.length))
          val bf =
            if (nOld == 0)
              org.apache.spark.util.sketch.BloomFilter.create(cap, 0.01)
            else docs0.stat.bloomFilter("doc_id", cap, 0.01)
          seenBloom = Some(bf)
          bloomCapacity = cap
          bloomCount = nOld
        }
      }
      seenBloom.foreach(bf => bIds.foreach(bf.putLong))
      bloomCount += bIds.length
      // append-only accumulation: the standing frames are lazy unions
      // of per-batch localCheckpoint blocks — no O(corpus)
      // re-materialization per batch; the parquet snapshot below is
      // the only whole-corpus scan, and it reads hot blocks
      val allDocs = docs0.unionByName(b)
      // ---- derived state: shingle/band the BATCH only, append
      // lazy checkpoints (r15): both frames materialize inside the
      // first consumer job (the candidate-pair stage) instead of two
      // standalone per-batch jobs; blocks still cache for every later
      // batch's shAll/bandAll union
      val (shB, bandB) = graft.Phases.phase(spark, "corpus:shingle-band") {
        val s = Dedup.shingleDocs(b, "doc_id", "text", shingleK)
          .localCheckpoint(false)
        (s, Dedup.bandedKeys(s, numHashes, bands, portableMd5 = true)
          .localCheckpoint(false))
      }
      val (shAll, bandAll) = hotDerived match {
        case Some((v0, s0, b0)) if v0 == v && v > 0 =>
          (s0.unionByName(shB), b0.unionByName(bandB))
        case _ if v == 0 => (shB, bandB)
        case _ =>
          // recovered process: re-derive the standing tables from the
          // docs snapshot ONCE; subsequent batches append again
          graft.Phases.phase(spark, "corpus:shingle-band") {
            val sh0 = Dedup.shingleDocs(docs0, "doc_id", "text", shingleK)
              .localCheckpoint()
            val b0 = Dedup.bandedKeys(sh0, numHashes, bands, portableMd5 = true)
              .localCheckpoint()
            (sh0.unionByName(shB), b0.unionByName(bandB))
          }
      }
      // batch docs are NEW ids (the append-only guard above), so a new
      // pair always touches the batch and can never duplicate a
      // standing pair — dedup within the batch's candidates suffices
      val newPairs = graft.Phases.phase(spark, "corpus:pairs") {
        CorpusPipeline
          .incrementalPairsFrom(shAll, bandAll, bandB, threshold)
          .localCheckpoint(false)
      }
      val pairs1 = pairs0.unionByName(newPairs)
      // ---- kept set: cluster-min-id over the accumulated pairs
      val kept1 = graft.Phases.phase(spark, "corpus:cc-kept") {
        // r16 incremental kept-set decision: pairs only ever APPEND
        // (a batch pair always touches a batch-new doc_id — the
        // append-only guard), so the min-id components advance from
        // the batch's OWN pairs via the standing driver union-find —
        // one batch-bounded collect (which also materializes the
        // newPairs checkpoint blocks the state write reads) instead
        // of the per-batch CC count + collect over ALL standing
        // pairs. Labels are the same min-reachable-id fixpoint as
        // `Dedup.connectedComponents` (whose driver fast path this
        // is, made incremental); past `ufEdgeCap` the distributed CC
        // spelling takes over, exactly like the batch operator.
        if (!ufOverflow && keptUf.isEmpty) {
          if (v == 0) keptUf = Some(new CorpusPipeline.MinIdUnionFind)
          else {
            // recovered process: seed from the standing pairs once
            val n = pairs0.count()
            if (n <= ufEdgeCap) {
              val uf = new CorpusPipeline.MinIdUnionFind
              pairs0.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
                .collect().foreach(r => uf.add(r.getLong(0), r.getLong(1)))
              keptUf = Some(uf)
            } else ufOverflow = true
          }
        }
        val nonSurvivors: DataFrame =
          if (!ufOverflow) {
            val uf = keptUf.get
            val np = newPairs
              .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
              .collect()
            np.foreach(r => uf.add(r.getLong(0), r.getLong(1)))
            if (uf.nEdges > ufEdgeCap) {
              // this batch's answer is still exact; later batches use
              // the distributed spelling (bounded driver state)
              ufOverflow = true
              keptUf = None
            }
            import spark.implicits._
            broadcast(spark.createDataset(uf.nonSurvivors().toSeq).toDF("doc_id"))
          } else
            Dedup.connectedComponents(pairs1, "doc_a", "doc_b",
                pairsPreDeduped = true)
              .filter(col("is_survivor") === 0).select(col("node").as("doc_id"))
        allDocs.select("doc_id")
          .join(nonSurvivors, Seq("doc_id"), "left_anti").localCheckpoint(false)
      }
      // ---- diff → graph upsert (evictions are deletes, new keepers
      // inserts; an evicted id was kept before, so it is indexed) —
      // the graph's advance collects the eviction set driver-side
      // anyway, so it owns the empty/nonempty decision
      val evicted = kept0.join(kept1, Seq("doc_id"), "left_anti")
      val fresh = kept1.join(kept0, Seq("doc_id"), "left_anti")
      val freshEmb = allDocs.join(fresh, Seq("doc_id"), "left_semi")
        .select("doc_id", "embedding")
      graph.advance(batchId, freshEmb, Some(evicted)): Unit
      // ---- corpus commit (pointer last — the batch's commit marker);
      // writes scan hot blocks, not recomputed lineage. A snapshot
      // version writes the full state; any other version writes the
      // batch's DELTA — its docs, its new pairs and the kept-set diff,
      // ALL already computed by the advance algebra above, so the
      // segment costs zero extra compute and O(|batch|) write I/O
      // instead of O(corpus).
      val newV = v + 1
      val snapNow = state.beginVersion(newV)
      // independent state writes run concurrently (guide §2.6) — the
      // driver was the only thing serializing them
      if (snapNow)
        graft.Phases.inParallel(spark, "corpus:snapshot-write")(
          () => allDocs.write.mode("overwrite").parquet(state.snapshotDir("docs", newV)),
          () => pairs1.write.mode("overwrite").parquet(state.snapshotDir("pairs", newV)),
          () => kept1.write.mode("overwrite").parquet(state.snapshotDir("kept", newV)))
      else {
        val seg = state.segmentDir(newV)
        graft.Phases.inParallel(spark, "corpus:log-write")(
          () => b.write.mode("overwrite").parquet(s"$seg/dins"),
          () => newPairs.write.mode("overwrite").parquet(s"$seg/pins"),
          () => fresh.write.mode("overwrite").parquet(s"$seg/kin"),
          () => evicted.write.mode("overwrite").parquet(s"$seg/kout"))
      }
      state.writePointer(newV, batchId)
      hot = Some((newV, allDocs, pairs1, kept1))
      hotDerived = Some((newV, shAll, bandAll))
      cur = (newV, batchId)
      if (snapNow) state.retain(newV)
      newV
    }
  }

  /** Driver-side incremental min-id union-find over the maintained
    * pair list (r16): same fixpoint as `Dedup.connectedComponents`'s
    * driver fast path (labels are min reachable ids), advanced edge
    * by edge as batches arrive instead of recomputed from the full
    * pair table per batch. Bounded by the caller's edge cap — the
    * caller falls back to distributed CC past it. */
  private[graft] final class MinIdUnionFind {
    private val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var nEdges: Long = 0L
    private def find(x0: Long): Long = {
      var r = x0
      var p = parent.get(r)
      while (p != null && p.longValue() != r) { r = p.longValue(); p = parent.get(r) }
      var c = x0
      p = parent.get(c)
      while (p != null && p.longValue() != c && p.longValue() != r) {
        parent.put(c, r); c = p.longValue(); p = parent.get(c)
      }
      r
    }
    def add(a: Long, b: Long): Unit = {
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(rb, ra)
      nEdges += 1
    }
    /** Every paired node whose component-min is not itself — exactly
      * `connectedComponents(...).filter(is_survivor === 0)`. */
    def nonSurvivors(): Array[Long] = {
      val minOfRoot = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val it0 = parent.keySet().iterator()
      while (it0.hasNext) {
        val n = it0.next().longValue()
        val r = find(n)
        val cur = minOfRoot.get(r)
        if (cur == null || n < cur) minOfRoot.put(r, n)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      val it1 = parent.keySet().iterator()
      while (it1.hasNext) {
        val n = it1.next().longValue()
        if (minOfRoot.get(find(n)).longValue() != n) out += n
      }
      out.sorted.toArray
    }
  }

  /** The incremental pair stage of one micro-batch — candidates
    * TOUCHING the batch only (the BATCH's banded keys joined against
    * the standing band table; standing × standing pairs were generated
    * when their younger member arrived), verified with exact jaccard
    * over the portable string shingle sets. The shingle/band frames
    * are the maintained DERIVED state: a doc's shingles and bands
    * never change, so they are computed once at arrival and the
    * standing tables only append — the per-batch cost is O(|batch|)
    * band compute plus the candidate join, never an O(corpus)
    * re-shingle. Factored out so PlanShapeSpec can gate the composed
    * micro-batch plan on exactly this frame: the candidate join must
    * hash-partition on the (band, bh) key only — never a cartesian. */
  private[graft] def incrementalPairsFrom(shAll: DataFrame, bandAll: DataFrame,
                                          bandBatch: DataFrame,
                                          threshold: Double): DataFrame = {
    val cands = bandBatch.as("a").join(bandAll.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val withSets = cands
      .join(shAll.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(shAll.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val un = (size(col("sa")) + size(col("sb"))).cast("double") - inter
    withSets
      .select(col("doc_a"), col("doc_b"), round(inter / un, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Drive a (doc_id, text, embedding) stream through the maintained
    * corpus: one `advance` per micro-batch. */
  def start(corpus: MaintainedCorpus, feed: DataFrame,
            checkpoint: String): StreamingQuery =
    feed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        corpus.advance(batchId, batch): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The declared `q_continuous_corpus` runner: documents joined with
    * their embeddings, hash-sliced into `nSlices` arrival files (order
    * is IRRELEVANT to the end state — the cluster-min-id keep rule and
    * the exact graph are both arrival-order-free), streamed one file
    * per micro-batch through the full pipeline. Drained end state =
    * the exact top-k graph over the batch-deduped corpus, which the
    * chained DuckDB oracle re-derives from scratch. */
  def continuousOverFile(spark: SparkSession, sfDir: String,
                         k: Int = 5, nSlices: Int = 4,
                         compactEvery: Int = 1): DataFrame = {
    val feed = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .join(graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("embedding")),
        Seq("doc_id"))
    Drain.sliced(spark, "corpuspipe", feed, col("doc_id"), nSlices) { (root, stream) =>
      val mc = new MaintainedCorpus(spark, s"$root/state", k,
        compactEvery = compactEvery)
      (start(mc, stream, s"$root/ckpt"),
       () => mc.graph.edges.orderBy("query_id", "neighbor_id"))
    }
  }
}
