package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.AnnServe

/** STREAMING kNN-graph maintenance — the missing lifecycle seam
  * between the batch upsert operators (`AnnServe.knnGraphIncremental`
  * / `knnGraphDelete`) and the long-running-service posture the serve
  * tier already has (`ServeRefresh`): vector batches arrive as a
  * stream and the STANDING exact graph advances per micro-batch,
  * bit-identical at every version to a scratch rebuild over the
  * corpus-so-far (the exact-over-union merge property), so the
  * drained end state of `q_knn_graph_stream` is hash-checked by the
  * SAME DuckDB oracle as the batch `q_knn_graph`.
  *
  * State + recovery contract (the part `foreachBatch` does not give
  * for free): the maintained state is versioned `v=N` on disk in the
  * `VersionedState` layout — (corpus, edges) snapshots and delta
  * segments — plus one POINTER file naming (version,
  * lastAppliedBatchId) that is written LAST and atomically (temp +
  * ATOMIC_MOVE) — the pointer IS the batch's commit:
  *  - crash BEFORE the pointer write → the pointer still names v=N-1;
  *    Spark replays the batch from its checkpoint and the advance
  *    recomputes v=N from v=N-1, overwriting any partial dirs
  *    idempotently;
  *  - crash AFTER the pointer but before Spark's own commit marker →
  *    the replayed batch arrives with batchId == lastAppliedBatchId
  *    and the advance is a loud no-op (the state already includes
  *    it) — exactly-once observable state, the same contract the
  *    scored-events file runner pins for its sink.
  * Retention keeps what v=N-1 needs and nothing older.
  *
  * Cost shape per batch (the honest 100 TB posture): the graph math
  * is the incremental operators' — |old|·|new| + |new|² serve scans
  * for an insert batch, |affected|·|remaining| for a delete — and
  * NEVER re-pays old×old. The write side follows the snapshot cadence
  * `compactEvery`: a full snapshot is an O(n) write; every other
  * version writes a DELTA segment — corpus inserts/deletes, the full
  * new neighbor lists of CHANGED queries, eviction tombstones — so its
  * write I/O is O(|changed|), and the snapshot every `compactEvery`
  * versions bounds recovery replay. The default cadence 1 snapshots
  * every version (versions fully isolated, nothing to replay). Every
  * cadence drains to the bit-identical state (StreamingSpec gates it)
  * and the graph compute dominates at steady state. */
object GraphStream {

  /** The standing maintained graph: versioned on-disk (corpus, edges)
    * snapshots behind one in-memory (version, lastBatchId) pointer,
    * recoverable from `stateDir` alone. All mutation goes through
    * `advance`; readers (`corpus`/`edges`/`serveSnapshot`) see the
    * last committed version only — never a mid-batch blend (the
    * `ServeRefresh` atomic-at-batch-boundary rule applied to graph
    * state). */
  final class MaintainedGraph(spark: SparkSession, stateDir: String,
                              k: Int = 5,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              compactEvery: Int = 1) {
    private val state = new VersionedState(stateDir, "MaintainedGraph",
      Seq("corpus", "edges"), compactEvery)
    // (version, lastAppliedBatchId) — recovered from the pointer when
    // one exists, so a restarted process resumes the standing graph
    @volatile private var cur: (Int, Long) = state.readPointer().getOrElse((0, -1L))
    // The committed version stays HOT in the cluster (localCheckpoint
    // blocks); the parquet snapshot is the RECOVERY path only. Between
    // batches every reader — the next advance's fitShard collect, the
    // completeness-guard count, serve — hits the in-memory blocks
    // instead of re-listing/re-reading snapshot files, which at
    // micro-batch cadence was the dominant per-batch latency (state is
    // KB-to-MB sized; the job count, not the data, was the cost). A
    // recovered process (hot = None) reads the snapshot once and goes
    // hot again at its first commit.
    @volatile private var hot: Option[(Int, DataFrame, DataFrame)] = None
    // ADVICE r15: the preverifiedEdges fast path's induction argument
    // ("edges0 is this operator's own complete output") is weakest
    // right after process recovery, where edges0 comes from on-disk
    // snapshot + segment replay — a corrupted or truncated segment
    // must trip the loud completeness require, not silently produce a
    // wrong graph. Set when hotState materializes from DISK, cleared
    // after the first advance re-verifies; in-memory frames committed
    // by this process keep the fast path.
    @volatile private var edgesFromReplay: Boolean = false
    // The fitted serve shard advances WITH the corpus, driver-side
    // (concatShards / filterShard) — a maintained index must not refit
    // its whole standing corpus from a cluster scan every micro-batch;
    // at production scale that re-collect is exactly the waste the
    // incremental operators exist to avoid, and at micro-batch cadence
    // it was the dominant per-batch latency. Refit happens ONCE after
    // recovery (hotShard = None), from the snapshot.
    @volatile private var hotShard: Option[(Int, AnnServe.AnnShard)] = None
    // The GRAPH serve shard (symmetrized adjacency + entry points) at
    // the current version — fitted lazily on first beam serve and
    // invalidated by version advance, because unlike the flat shard it
    // derives from the EDGES too and the incremental operators rewrite
    // neighbor lists wholesale per batch. Fit cost is the CSR build
    // over the standing n·k edge rows (collect-bounded exactly like
    // the flat shard's corpus collect) plus one IVF centroid fit.
    @volatile private var hotGraphShard: Option[(Int, AnnServe.GraphShard)] = None

    def version: Int = cur._1
    def lastAppliedBatchId: Long = cur._2

    /** The fitted shard behind the current version — hot if this
      * process committed it, refit from the snapshot once otherwise. */
    private def shardBehind(corpusDf: DataFrame): AnnServe.AnnShard =
      hotShard match {
        case Some((v0, s)) if v0 == version => s
        case _ =>
          val s = AnnServe.fitShard(corpusDf, idCol, vecCol)
          hotShard = Some((version, s))
          s
      }

    /** The committed (corpus, edges) frames at the current version —
      * hot blocks if this process committed them. A RECOVERED process
      * materializes ONCE through `reconstruct`, which `localCheckpoint`s
      * before installing as hot so no downstream lineage references
      * files retention may later delete (the MaintainedCorpus recovery
      * lineage lesson). */
    private def hotState: (DataFrame, DataFrame) = synchronized {
      require(version > 0, "MaintainedGraph: no committed version yet")
      hot match {
        case Some((v, c, e)) if v == version => (c, e)
        case _ =>
          val (c, e) = reconstruct(version)
          hot = Some((version, c, e))
          edgesFromReplay = true
          (c, e)
      }
    }

    /** The corpus behind the current graph version. */
    def corpus: DataFrame = hotState._1

    /** The standing exact top-k graph at the current version —
      * (query_id, neighbor_id, cos), complete and unfiltered (the
      * `knnGraphIncremental` precondition holds by construction). */
    def edges: DataFrame = hotState._2

    /** Recovery: read the newest snapshot at or below `v`, then replay
      * each segment after it in version order (none at cadence 1) —
      * corpus deletes then inserts, edge rows of REWRITTEN queries
      * replaced wholesale (a segment's `eup` carries the full new
      * neighbor list of every query whose list changed; `edel`
      * tombstones removed queries). One pass, one lineage cut at the
      * end. */
    private def reconstruct(v: Int): (DataFrame, DataFrame) = {
      val s0 = state.baseSnapshot(v)
      var c = spark.read.parquet(state.snapshotDir("corpus", s0))
      var e = spark.read.parquet(state.snapshotDir("edges", s0))
      ((s0 + 1) to v).foreach { lv =>
        val seg = state.segmentDir(lv)
        val cins = spark.read.parquet(s"$seg/cins")
        val cdel = spark.read.parquet(s"$seg/cdel")
        val eup = spark.read.parquet(s"$seg/eup")
        val edel = spark.read.parquet(s"$seg/edel")
        c = c.join(cdel, Seq(idCol), "left_anti").unionByName(cins)
        val gone = edel.select("query_id")
          .unionByName(eup.select("query_id")).distinct()
        e = e.join(gone, Seq("query_id"), "left_anti").unionByName(eup)
      }
      (c.localCheckpoint(), e.localCheckpoint())
    }

    /** Serve a query frame against the current corpus, answers tagged
      * with the graph version they were computed at (the
      * `ServeRefresh` index_version contract). */
    def serveSnapshot(queries: DataFrame, kServe: Int = 10): DataFrame = {
      // (version, shard) resolve under the same lock `advance` commits
      // under: unsynchronized, a commit landing between reading the
      // pointer and resolving the shard would tag answers computed
      // against the NEW shard with the OLD version — a mid-batch blend
      // the contract forbids
      val (v, shard) = synchronized {
        val (v0, _) = cur
        require(v0 > 0, "MaintainedGraph: no committed version yet")
        (v0, shardBehind(corpus))
      }
      AnnServe.topkRows(queries, shard, kServe, idCol, vecCol)
        .withColumn("graph_version", lit(v))
    }

    /** BEAM serve against the standing maintained graph — the r11
      * payoff of maintaining the graph at all: the versioned edges the
      * incremental operators keep current ARE the search structure, so
      * a query walks O(visited·degree·dim) of the corpus instead of
      * `serveSnapshot`'s full O(n·dim) scan (`functions.GraphBeamTopK`;
      * HNSW layer-0 semantics, IVF-seeded entries). Same versioned-
      * answer contract and the same lock discipline as `serveSnapshot`;
      * the graph shard is fitted once per committed version from the
      * hot (corpus, edges) blocks and reused until the next advance.
      * Because the build is deterministic in (corpus, edges), the
      * maintained serve is bit-identical to `fitGraphShard` over the
      * batch-rebuilt graph at the same version — StreamingSpec gates
      * exactly that. */
    def serveBeamSnapshot(queries: DataFrame, kServe: Int = 10,
                          ef: Int = 64, maxVisit: Int = 4096): DataFrame = {
      val (v, gShard) = synchronized {
        val (v0, _) = cur
        require(v0 > 0, "MaintainedGraph: no committed version yet")
        val gs = hotGraphShard match {
          case Some((hv, s)) if hv == v0 => s
          case _ =>
            val (c, e) = hotState
            val s = AnnServe.fitGraphShard(c, e, idCol, vecCol)
            hotGraphShard = Some((v0, s))
            s
        }
        (v0, gs)
      }
      AnnServe.graphTopkRows(queries, gShard, kServe, ef, maxVisit,
          idCol, vecCol)
        .withColumn("graph_version", lit(v))
    }

    /** Absorb one micro-batch: optional deletes first, then inserts
      * (so a re-ingested id is delete-then-insert within one batch),
      * each half the already-oracle-checked batch operator. Returns
      * the version serving after this batch. Idempotent under replay:
      * a batchId at or below the last applied one is a no-op. */
    def advance(batchId: Long, inserts: DataFrame,
                removedIds: Option[DataFrame] = None): Int = synchronized {
      val (v, last) = cur
      if (batchId <= last) return v
      // lazy checkpoint: the insert frame is a JOIN in the corpus
      // pipeline and is consumed several times below (shard collect,
      // two serve passes, the corpus union) — cache it at first
      // compute instead of re-running the join per consumer
      val ins = inserts
        .select(col(idCol).cast("long").as(idCol),
                col(vecCol).cast("array<double>").as(vecCol))
        .localCheckpoint(false)
      // ONE collect fits the new-side shard AND yields the batch
      // count (r15: the separate count + fitShardPrecounted collect
      // executed the insert frame twice per micro-batch)
      val (shardNew, nIns) = graft.Phases.phase(spark, "graph:fit")(
        // `ins` is one trigger-bounded micro-batch (maxFilesPerTrigger-
        // sized), never a corpus-sized frame — the bound that lets the
        // fit skip the pre-collect probe
        AnnServe.fitShardBounded(ins, idCol, vecCol))
      // removed ids come to the driver ANYWAY (every downstream use is
      // a broadcast build), so ONE collect replaces the count and also
      // feeds the driver-side shard filter
      val removedSet: Set[Long] = graft.Phases.phase(spark, "graph:pre") {
        removedIds.map(r =>
          r.select(col(r.columns.head).cast("long").as("__rid")).distinct()
            .collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
      }
      // r16: every downstream use of the removed-id frame is a
      // broadcast BUILD side, and the set is already on the driver —
      // re-enter it as a LocalRelation so each broadcast build is
      // driver-only instead of a per-use Spark job over the original
      // distinct subtree.
      val rm: Option[DataFrame] =
        if (removedSet.isEmpty) None
        else {
          import spark.implicits._
          Some(spark.createDataset(removedSet.toSeq.sorted).toDF("__rid"))
        }
      if (nIns == 0 && removedSet.isEmpty) {
        // an empty micro-batch advances the applied-batch pointer only
        // (the existing version dirs stay the state)
        state.writePointer(v, batchId)
        cur = (v, batchId)
        return v
      }
      if (v == 0) {
        require(removedSet.isEmpty,
          "MaintainedGraph: delete in the bootstrap batch — nothing is indexed yet")
        val shard = shardNew.get
        commit(batchId, 1, ins,
          AnnServe.topkRows(ins, shard, k, idCol, vecCol), shard)
      } else {
        val corpus0 = corpus
        val shard0 = shardBehind(corpus0)
        val edges0 = edges
        if (removedSet.nonEmpty) {
          val missing = removedSet.diff(shard0.ids.toSet)
          require(missing.isEmpty,
            s"MaintainedGraph: ${missing.size} removed ids were never " +
              s"indexed (e.g. ${missing.take(3).mkString(",")})")
        }
        if (removedSet.size == shard0.ids.length && removedSet.nonEmpty) {
          // deletes empty the standing corpus: the insert batch
          // re-bootstraps (knnGraphIncremental needs a nonempty old side)
          require(nIns > 0,
            "MaintainedGraph: delete would empty the corpus with nothing arriving")
          val shard = shardNew.get
          commit(batchId, v + 1, ins,
            AnnServe.topkRows(ins, shard, k, idCol, vecCol), shard,
            removedSet)
        } else {
          val (corpus1, shard1, edges1) =
            if (removedSet.isEmpty) (corpus0, shard0, edges0)
            else graft.Phases.phase(spark, "graph:delete") {
              // lazy checkpoints: both frames are re-used downstream
              // (the merge's require-count / the commit writes), so
              // materialization fuses into the first consumer job
              // instead of two standalone jobs per delete batch
              val corpusAfter = corpus0
                .join(broadcast(rm.get), col(idCol) === col("__rid"), "left_anti")
                .localCheckpoint(false)
              val shardAfter = AnnServe.filterShard(shard0, removedSet)
              (corpusAfter, shardAfter,
               AnnServe.knnGraphDelete(edges0, corpusAfter, shardAfter,
                   rm.get, shardAfter.ids.length.toLong,
                   removedSet.size.toLong, k, idCol, vecCol,
                   // first advance after recovery re-verifies replayed
                   // edges (ADVICE r15); own commits keep the fast path
                   preverifiedEdges = !edgesFromReplay)
                 .localCheckpoint(false))
            }
          shardNew match {
            case None =>
              commit(batchId, v + 1, corpus1, edges1, shard1, removedSet)
            case Some(sn) =>
              val merged = graft.Phases.phase(spark, "graph:merge-check") {
                AnnServe.knnGraphIncremental(
                  edges1.select("query_id", "neighbor_id", "cos"),
                  corpus1, shard1, ins, sn, k, idCol, vecCol,
                  // a delete in the same batch already re-verified via
                  // knnGraphDelete above; otherwise re-verify replayed
                  // edges on the first post-recovery advance
                  preverifiedEdges = removedSet.nonEmpty || !edgesFromReplay)
              }
              commit(batchId, v + 1, corpus1.unionByName(ins),
                merged, AnnServe.concatShards(shard1, sn), removedSet)
          }
        }
      }
      cur._1
    }

    private def commit(batchId: Long, newV: Int, corpusDf: DataFrame,
                       edgesDf: DataFrame,
                       shardAfter: AnnServe.AnnShard,
                       removedQueryIds: Set[Long] = Set.empty): Unit = {
      // materialize once into hot blocks, persist from those blocks.
      // A SNAPSHOT commit reads c and e from exactly ONE writer each
      // (corpus→c, edges→e — disjoint), so its checkpoints are LAZY
      // (r16): each write job materializes its own frame, saving two
      // standalone checkpoint jobs per batch. A DELTA commit keeps the
      // r15 eager pair — its writers cross-read c and e (cins/cdel both
      // scan c, eup scans e and eOld), and lazily materializing inside
      // those parallel writes was tried and DUPLICATED the merge
      // compute (concurrent jobs racing to fill the same
      // un-materialized blocks). Independent state writes run
      // CONCURRENTLY (guide §2.6): the driver was the only thing
      // serializing them, and on tiny per-batch state the job
      // round-trip dominates the write itself.
      val snapNow = state.beginVersion(newV)
      var c: DataFrame = null
      var e: DataFrame = null
      if (snapNow) {
        c = corpusDf.localCheckpoint(false)
        e = edgesDf.select("query_id", "neighbor_id", "cos").localCheckpoint(false)
        graft.Phases.inParallel(spark, "graph:commit-write")(
          () => c.write.mode("overwrite").parquet(state.snapshotDir("corpus", newV)),
          () => e.write.mode("overwrite").parquet(state.snapshotDir("edges", newV)))
      } else {
        graft.Phases.inParallel(spark, "graph:commit-ckpt")(
          () => c = corpusDf.localCheckpoint(),
          () => e = edgesDf.select("query_id", "neighbor_id", "cos").localCheckpoint())
        // deltas vs the CURRENT committed state (hot — this process
        // committed it, or the recovery path materialized it). The
        // changed-query set comes from an exceptAll scan of hot blocks
        // — scan-side work, not write I/O; a production build threads
        // the affected set out of knnGraphIncremental, which already
        // computes it. Removed QUERY ids are the advance's driver-side
        // eviction set (bounded per batch), not a corpus-wide distinct.
        val (cOld, eOld) = hotState
        val seg = state.segmentDir(newV)
        import spark.implicits._
        graft.Phases.inParallel(spark, "graph:commit-write")(
          () => c.join(cOld, Seq(idCol), "left_anti")
            .write.mode("overwrite").parquet(s"$seg/cins"),
          () => cOld.join(c, Seq(idCol), "left_anti").select(idCol)
            .write.mode("overwrite").parquet(s"$seg/cdel"),
          () => {
            val changedQ = eOld.exceptAll(e).select("query_id")
              .unionByName(e.exceptAll(eOld).select("query_id"))
              .distinct().localCheckpoint(false)
            e.join(changedQ, Seq("query_id"), "left_semi")
              .write.mode("overwrite").parquet(s"$seg/eup")
          },
          () => removedQueryIds.toSeq.sorted.toDF("query_id")
            .write.mode("overwrite").parquet(s"$seg/edel"))
      }
      state.writePointer(newV, batchId)
      hot = Some((newV, c, e))
      // this process produced (and, post-recovery, re-verified) these
      // edges — the preverified fast path's induction restarts here
      edgesFromReplay = false
      hotShard = Some((newV, shardAfter))
      cur = (newV, batchId)
      if (snapNow) state.retain(newV)
    }
  }

  /** Drive an insert-vector stream into the maintained graph: one
    * `advance` per micro-batch, the graph version moving atomically
    * at batch boundaries. AvailableNow by default (the finite-input
    * proof harness); a production feed runs the same call with a
    * processing-time trigger. */
  def start(graph: MaintainedGraph, vectors: DataFrame,
            checkpoint: String): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graph.advance(batchId, batch): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The declared `q_knn_graph_stream` runner: the embeddings table
    * re-staged as `nSlices` arrival files (hash-sliced — arrival
    * order is IRRELEVANT to the end state, because every advance is
    * bit-identical to a rebuild over the corpus-so-far), streamed one
    * file per micro-batch through the maintained graph. The drained
    * end state is the exact top-k graph over the full table, so the
    * batch `q_knn_graph` DuckDB oracle applies verbatim. */
  def knnGraphOverFile(spark: SparkSession, sfDir: String,
                       k: Int = 5, nSlices: Int = 4,
                       compactEvery: Int = 1): DataFrame = {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    Drain.sliced(spark, "graphstream", e, col("vec_id"), nSlices) { (root, stream) =>
      val graph = new MaintainedGraph(spark, s"$root/state", k,
        compactEvery = compactEvery)
      (start(graph, stream, s"$root/ckpt"),
       () => graph.edges.orderBy("query_id", "neighbor_id"))
    }
  }
}
