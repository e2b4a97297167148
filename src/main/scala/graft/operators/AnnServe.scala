package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SERVE half of the similarity family: a query-vector FEED scored
  * against a fitted in-memory index shard, row-locally — no join, no
  * shuffle, no state, so a live stream of queries is answered at scan
  * speed (the `fitNbQuality`/`fitFuzzyKeys` fit/serve pattern applied
  * to ANN, and the Spark analog of how vector-search engines actually
  * serve: index shards resident in RAM on each serving node, queries
  * fanned out over them).
  *
  * Scale shape: the SHARD is the bounded quantity — at 100 TB the
  * corpus is partitioned into shards sized to executor memory, each
  * serving task holds one, and a per-query top-k merge combines shard
  * answers (identical to the IVF probe's cell merge). The query side
  * is the unbounded one and is never collected. For corpus-side scale
  * WITHIN one Spark job, the LSH/IVF/PQ paths (`sim_lsh_topk`,
  * `sim_ivf_topk`, `sim_pq_topk`) remain the candidates-first answer;
  * this path is exact and shard-bounded. Fidelity: the serve output is
  * bit-identical to the batch `q_sim_bruteforce` join+window plan (the
  * expression ranks on HALF_UP-6dp-rounded cosine with the same
  * tie-break), so the same DuckDB oracle hash-checks both, and the
  * streaming twin's drained end state equals the batch answer
  * row-for-row.
  *
  * Every shard type shares one contract, written once here: the
  * owner-checked broadcast (`ShardBroadcast`), the per-shard row cap
  * (`ShardRows`/`PqShardRows` behind `capped`), the vector build
  * (`buildShard`), the hash split (`hashSplit`) and the cross-shard
  * merge (`mergeShards`/`cutPerQuery`). Every serve expression shares
  * the query check (`functions.ServeQuery`), the rounded top-k
  * (`functions.RoundedTopK`) and the reference-object codegen
  * (`functions.ShardScan`). */
object AnnServe {

  /** Rows one serve shard may hold: a float64×64-dim shard at this cap
    * is ~0.5 GB. */
  private[graft] val ShardRows: Int = 1 << 20

  /** The PQ shard's cap, set by what the collect step ACTUALLY
    * sustains, not by the final shard's footprint: each collected Row
    * carries a boxed Seq[Int] of m codes (~150 B of object overhead at
    * m=16 vs the 16 B the shard keeps), so 8M rows is ~1.5 GB of
    * transient driver heap — a cap of 2^26 would OOM the collect long
    * before the guard it exists to pre-empt could matter. */
  private[graft] val PqShardRows: Int = 1 << 23

  /** The one owner-checked cached broadcast every shard type serves
    * through: one serialization per shard per session (transient, so a
    * shard stays plain arrays). The owning SparkContext is remembered
    * alongside: a shard reused after a context restart (or from
    * another session) must re-broadcast rather than hand back a handle
    * whose driver state is gone — that failure mode surfaces as an
    * obscure task-time "Failed to get broadcast_N" instead of a
    * rebuild. `payload` is built once per broadcast, so fit-time
    * derived arrays (the norms) are computed there, never per task. */
  abstract class ShardBroadcast[T: scala.reflect.ClassTag](shardType: String)
      extends Serializable {
    protected def payload: T
    @transient private var bc: Broadcast[T] = _
    @transient private var bcOwner: SparkContext = _
    private[graft] final def broadcastWith(sc: SparkContext): Broadcast[T] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, s"$shardType: cannot broadcast on a stopped SparkContext")
          bc = sc.broadcast(payload)
          bcOwner = sc
        }
        bc
      }
  }

  /** Per-row norms of a row-major shard, fitted once per broadcast. */
  private def rowNorms(flat: Array[Double], dim: Int): Array[Double] =
    Array.tabulate(flat.length / dim)(i =>
      graft.functions.ServeQuery.norm(flat, i * dim, dim))

  /** One in-memory index shard: ids + row-major vectors (doubles, the
    * same float→double cast the batch plan applies). Constant-size per
    * SHARD by deployment contract — see the class doc; the driver-side
    * collect here is the shard build, bounded by the same executor-
    * memory sizing that bounds every broadcast model in this repo. */
  final case class AnnShard(ids: Array[Long], flatVecs: Array[Double], dim: Int)
      extends ShardBroadcast[(Array[Long], Array[Double], Array[Double])]("AnnShard") {
    require(dim > 0 && flatVecs.length == ids.length * dim,
      s"AnnShard: ${flatVecs.length} values for ${ids.length} ids at dim $dim")
    protected def payload = (ids, flatVecs, rowNorms(flatVecs, dim))
  }

  /** The one per-shard row cap in front of every shard fit's collect.
    * A shard is memory-resident by design, so a frame bigger than
    * `nShards` shards of `cap` rows is a deployment error (partition
    * the corpus — `fitShards` + `topkRowsSharded` — and merge
    * per-query top-k answers), never something to let `collect()`
    * discover as an executor OOM. The probe is bounded (it scans at
    * most nShards·cap + 1 rows), so it fires before `collect` — the
    * shard's driver-side materialization — is evaluated at all. */
  private[graft] def capped[T](shardType: String, frame: DataFrame,
                               nShards: Int = 1, cap: Int = ShardRows)
                              (collect: => T): T = {
    val total = nShards.toLong * cap
    require(total <= Int.MaxValue,
      s"$shardType: $nShards shards x cap $cap = $total exceeds a collectable row count")
    requireCap(shardType, frame.limit(total.toInt + 1).count(), nShards, cap)
    collect
  }

  /** The cap check itself, for a row count already known. */
  private[graft] def requireCap(shardType: String, rows: Long,
                                nShards: Int, cap: Int): Unit =
    require(rows <= nShards.toLong * cap,
      s"$shardType: rows exceed $nShards shard(s) x cap $cap — a serve shard " +
        "must fit serving-node memory; raise nShards (fitShards + " +
        "topkRowsSharded partition the corpus and merge per-query top-k " +
        "answers)")

  /** The (id, vector) projection every raw and SQ8 shard fit collects. */
  private def vectorRows(frame: DataFrame, idCol: String, vecCol: String): DataFrame =
    frame.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))

  /** Build the shard from an embeddings frame, behind the `ShardRows`
    * cap. */
  def fitShard(embeddings: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): AnnShard =
    capped("AnnShard", embeddings)(
      buildShard("AnnShard", vectorRows(embeddings, idCol, vecCol).collect()))

  /** `fitShard` for a maintained-state advance that needs the row
    * count anyway (it decides empty-batch/no-op from it): ONE collect
    * replaces the separate count + collect. The input must be bounded
    * by construction (a trigger-bounded micro-batch frame), so there is
    * no pre-collect probe — a `limit(cap+1)` CollectLimit scans
    * partitions incrementally, 1 then 4×…, which is MORE jobs per
    * micro-batch, not fewer. The cap check runs AFTER the collect, and
    * `spark.driver.maxResultSize` (default 1g ≈ the cap's own ~0.5 GB
    * design point) aborts a runaway collect before the driver heap
    * dies. Returns None when the frame is empty (nothing to shard). */
  private[graft] def fitShardBounded(embeddings: DataFrame,
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding"): (Option[AnnShard], Long) = {
    val rows = vectorRows(embeddings, idCol, vecCol).collect()
    requireCap("AnnShard", rows.length, 1, ShardRows)
    (if (rows.isEmpty) None else Some(buildShard("AnnShard", rows)), rows.length.toLong)
  }

  /** Driver-side shard UNION for a long-lived maintained index
    * (`streaming.GraphStream`): the standing shard advances with its
    * corpus instead of being refit from a cluster scan every
    * micro-batch. Pure array concat — the result is definitionally
    * the shard `fitShard` would build over the union (row order is
    * irrelevant: every consumer ranks over ALL shard rows). Ids must
    * be disjoint and the union must still fit the per-shard cap. */
  def concatShards(a: AnnShard, b: AnnShard): AnnShard = {
    require(a.dim == b.dim, s"concatShards: dim ${a.dim} vs ${b.dim}")
    requireCap("AnnShard", a.ids.length.toLong + b.ids.length, 1, ShardRows)
    val overlap = a.ids.toSet.intersect(b.ids.toSet)
    require(overlap.isEmpty,
      s"concatShards: ${overlap.size} overlapping ids (e.g. " +
        s"${overlap.take(3).mkString(",")}) — re-ingested ids need an " +
        "explicit delete before the insert")
    AnnShard(a.ids ++ b.ids, a.flatVecs ++ b.flatVecs, a.dim)
  }

  /** Driver-side shard DELETE — the other half of maintained-shard
    * advancement. `removed` must be a subset of the shard's ids (an
    * id never indexed is a caller error, same as `knnGraphDelete`),
    * and the delete must not empty the shard (an emptied index is a
    * re-bootstrap, not a filter — the caller decides that loudly). */
  def filterShard(s: AnnShard, removed: Set[Long]): AnnShard = {
    val idSet = s.ids.toSet
    val missing = removed.diff(idSet)
    require(missing.isEmpty,
      s"filterShard: ${missing.size} removed ids not in the shard " +
        s"(e.g. ${missing.take(3).mkString(",")})")
    require(removed.size < s.ids.length,
      "filterShard: delete would empty the shard — an emptied index " +
        "must re-bootstrap from the next insert batch, not serve empty")
    val keep = s.ids.indices.filterNot(i => removed(s.ids(i)))
    val ids = keep.map(s.ids).toArray
    val flat = new Array[Double](keep.length * s.dim)
    keep.zipWithIndex.foreach { case (i, j) =>
      System.arraycopy(s.flatVecs, i * s.dim, flat, j * s.dim, s.dim)
    }
    AnnShard(ids, flat, s.dim)
  }

  /** The one vector build behind every raw, graph, bitext, labeled and
    * SQ8 shard fit: rows carry (id, vector) in columns 0/1 (extra
    * columns ignored) and the output keeps row order. Rejects a null
    * id, a null or ragged vector and a non-finite component AT FIT
    * TIME, naming `shardType` and the row: the serve expressions rank
    * on rounded finite scores while the batch join+window plan ranks
    * NaN cosines FIRST under Spark's descending NaN ordering — so a
    * contaminated corpus would silently diverge between the two
    * "bit-identical" paths instead of failing loudly here. */
  private def buildShard(shardType: String, rows: Array[Row]): AnnShard = {
    require(rows.nonEmpty, s"$shardType: empty embeddings frame")
    def vector(i: Int): collection.Seq[Double] = {
      require(!rows(i).isNullAt(0), s"$shardType: null id at row $i")
      require(!rows(i).isNullAt(1),
        s"$shardType: null vector at id ${rows(i).getLong(0)} (row $i)")
      rows(i).getSeq[Double](1)
    }
    val dim = vector(0).length
    require(dim > 0, s"$shardType: zero-length vector at id ${rows(0).getLong(0)}")
    val ids = new Array[Long](rows.length)
    val flat = new Array[Double](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      val v = vector(i)
      ids(i) = rows(i).getLong(0)
      require(v.length == dim,
        s"$shardType: ragged vector at ${ids(i)} (${v.length} vs $dim)")
      var j = 0
      while (j < dim) {
        val x = v(j)
        require(java.lang.Double.isFinite(x),
          s"$shardType: non-finite component $x at id ${ids(i)} dim $j — " +
            "the serve/batch bit-parity contract only holds for finite " +
            "embeddings; clean the corpus before fitting")
        flat(i * dim + j) = x; j += 1
      }
      i += 1
    }
    AnnShard(ids, flat, dim)
  }

  /** The one hash split behind `fitShards`, `fitPqShards` and
    * `fitSqShards`: `fitRows` (id in column 0) gains the shard key
    * `pmod(xxhash64(id), nShards)` computed IN SPARK (never a
    * driver-side re-hash that could drift from the engine's) and is
    * collected ONCE behind the `nShards × cap` probe of `frame` — one
    * corpus scan, not nShards filtered re-scans; a second scan of a
    * non-deterministic frame (sample, limit, streaming snapshot) could
    * yield a different id set. Rows keep their collect order within a
    * shard; every shard must be non-empty (an empty serving shard is a
    * deployment mistake, not a state to serve from) and within `cap`
    * (skewed ids). */
  private def hashSplit(shardType: String, frame: DataFrame, fitRows: DataFrame,
                        nShards: Int, cap: Int): IndexedSeq[Array[Row]] = {
    require(nShards >= 1, s"$shardType: need nShards >= 1, got $nShards")
    val key = fitRows.columns.length
    val rows = capped(shardType, frame, nShards, cap)(fitRows
      .withColumn("__shard",
        pmod(xxhash64(col(fitRows.columns.head).cast("long")), lit(nShards)).cast("int"))
      .collect())
    val byShard = rows.groupBy(_.getInt(key))
    (0 until nShards).map { s =>
      val part = byShard.getOrElse(s, Array.empty[Row])
      requireCap(s"$shardType (shard $s)", part.length, 1, cap)
      require(part.nonEmpty,
        s"$shardType: shard $s is empty — nShards=$nShards is oversized " +
          "for this corpus; lower it (an empty serving shard is a " +
          "deployment mistake, not a state to serve from)")
      part
    }
  }

  /** Partition the corpus into `nShards` hash shards — the 100 TB
    * deployment shape where one `fitShard` cap is exceeded: each shard
    * is an independent exact index sized to one serving node, and
    * `topkRowsSharded` merges per-query answers across them. On a
    * real cluster each shard's build would run on its serving node;
    * in one JVM they coexist, which is the same total memory the
    * serving tier holds anyway. */
  def fitShards(embeddings: DataFrame, nShards: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): IndexedSeq[AnnShard] =
    hashSplit("AnnShard", embeddings, vectorRows(embeddings, idCol, vecCol),
      nShards, ShardRows).map(buildShard("AnnShard", _))

  /** The per-query `row_number` cut: the first k rows of each
    * `query_id` in `order`. */
  private def cutPerQuery(rows: DataFrame, k: Int, order: Seq[Column]): DataFrame =
    rows.withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(order: _*)))
      .filter(col("__rn") <= k).drop("__rn")

  /** The serve family's (cos desc, neighbor_id asc) order. */
  private val byCos = Seq(col("cos").desc, col("neighbor_id").asc)

  /** The one cross-shard merge: per-shard serve answers unioned, then
    * cut to k per query on the SAME order the in-shard expression
    * ranks by. Correct because each shard's answer is exact over its
    * subset: every global top-k neighbor wins its own shard's top-k
    * (per-shard competition is a subset of global), so the union of
    * per-shard top-ks contains the global top-k, and the cut re-ranks
    * on the same rounded scores — output is therefore bit-identical to
    * the single-shard serve for ANY shard count. Shards must be
    * `compatible` with the first (same dim, same quantizer). Cost
    * shape: the query feed scans each shard once (the serve fan-out
    * every distributed vector store pays); the cut shuffles only
    * |queries| × k × nShards answer rows, never vectors. */
  private def mergeShards[S](fn: String, shards: Seq[S], k: Int, order: Seq[Column])
                            (compatible: S => Boolean, incompatible: => String)
                            (serve: S => DataFrame): DataFrame = {
    require(shards.nonEmpty, s"$fn: no shards")
    require(shards.forall(compatible), s"$fn: $incompatible")
    val unioned = shards.map(serve).reduce(_ unionAll _)
    if (shards.size == 1) unioned else cutPerQuery(unioned, k, order)
  }

  /** Exact top-k across a SHARDED corpus: per-shard row-local serve
    * (`topkRows`) through the shared merge — the cross-shard half of
    * the serve tier's 100 TB contract, bit-identical to the
    * single-shard serve and to the batch brute-force oracle. */
  def topkRowsSharded(queries: DataFrame, shards: Seq[AnnShard], k: Int = 10,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    mergeShards("topkRowsSharded", shards, k, byCos)(
      _.dim == shards.head.dim, s"mixed shard dims ${shards.map(_.dim).distinct}")(
      topkRows(queries, _, k, idCol, vecCol))

  /** Exact top-k cosine per query row against the shard — one native
    * codegen expression (`functions.CosineTopK`), exploded to
    * (query_id, neighbor_id, cos) rows. Works identically on batch and
    * streaming frames (stateless append). */
  def topkRows(queries: DataFrame, shard: AnnShard, k: Int = 10,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.cosineTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext),
          shard.dim, k))
          .as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.cos").as("cos"))

  /** The GRAPH serve shard: the raw-vector shard plus the kNN graph's
    * symmetrized adjacency in CSR form (`nbrOff`/`nbrIdx` index into
    * `ids`) and the IVF-seeded entry node indexes — what
    * `functions.GraphBeamTopK` walks. This is the tier where the
    * MAINTAINED graph (`knnGraphIncremental` / `streaming.GraphStream`)
    * becomes a search structure: per query O(visited·degree·dim)
    * instead of the flat shard's O(n·dim) scan, the gap that decides
    * serve latency once a shard holds ~10⁶ vectors. Memory adds only
    * the adjacency (≤ degreeCap ints/vector vs dim·8 bytes of vector),
    * so the cap posture is `AnnShard`'s. */
  final case class GraphShard(ids: Array[Long], flatVecs: Array[Double],
                              dim: Int, nbrOff: Array[Int],
                              nbrIdx: Array[Int], entryIdx: Array[Int])
      extends ShardBroadcast[(Array[Long], Array[Double], Array[Double], Array[Int], Array[Int], Array[Int])]("GraphShard") {
    require(dim > 0 && flatVecs.length == ids.length * dim &&
        nbrOff.length == ids.length + 1 && entryIdx.nonEmpty,
      s"GraphShard: ragged (${ids.length} ids, ${flatVecs.length} values, " +
        s"${nbrOff.length} offsets, ${entryIdx.length} entries at dim $dim)")
    protected def payload =
      (ids, flatVecs, rowNorms(flatVecs, dim), nbrOff, nbrIdx, entryIdx)
  }

  /** Build the graph serve shard from the embeddings frame and a kNN
    * edge frame ((query_id, neighbor_id, cos) — `Ivf.knnGraph`'s
    * output, or the maintained `GraphStream` edges). The directed kNN
    * edges are SYMMETRIZED (an edge serves navigation both ways —
    * without in-edges, nodes that are nobody's top-k become
    * unreachable) and degree-capped keeping the highest-cos arcs, the
    * standard graph-index diet (NSG/HNSW keep O(k) arcs per node).
    * Entry points come from the IVF coarse quantizer: `nEntries`
    * Lloyd's centroids over the corpus, each mapped to its nearest
    * shard member — so a query starts near its own region of the
    * sphere instead of a fixed hub. Driver-side collect is the shard
    * build, same cap posture as `fitShard`; the edge collect is
    * n·k-bounded (the graph frame is already the per-node top-k). */
  def fitGraphShard(embeddings: DataFrame, edges: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    nEntries: Int = 16, degreeCap: Int = 32): GraphShard = {
    val base = capped("GraphShard", embeddings)(
      buildShard("GraphShard", vectorRows(embeddings, idCol, vecCol).collect()))
    val n = base.ids.length
    val idx = new java.util.HashMap[Long, Int](n * 2)
    var i = 0
    while (i < n) { idx.put(base.ids(i), i); i += 1 }
    val edgeRows = edges
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
              col("cos").cast("double"))
      .collect()
    require(edgeRows.length <= n.toLong * 2 * degreeCap + (degreeCap * 64L),
      s"GraphShard: ${edgeRows.length} edges for $n nodes — the edge " +
        "frame must be the per-node top-k graph, not a pair dump")
    // symmetrize into per-node (cos desc, neighbor idx asc) capped lists
    val adj = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[(Double, Int)](8))
    edgeRows.foreach { r =>
      if (!r.isNullAt(1)) { // keepIsolated graphs carry (id, NULL) rows
        require(idx.containsKey(r.getLong(0)) && idx.containsKey(r.getLong(1)),
          s"GraphShard: edge (${r.getLong(0)}, ${r.getLong(1)}) references " +
            "an id absent from the embeddings frame — edges and corpus " +
            "must come from the same snapshot")
        val a = idx.get(r.getLong(0)); val b = idx.get(r.getLong(1))
        val c = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
        adj(a) += ((c, b)); adj(b) += ((c, a))
      }
    }
    val nbrOff = new Array[Int](n + 1)
    val tmp = new Array[Array[Int]](n)
    i = 0
    while (i < n) {
      // dedupe per neighbor (both directions land here) keeping the
      // best cos, then cap on (cos desc, idx asc) — deterministic
      val kept = adj(i).groupBy(_._2)
        .map { case (nb, cs) => (cs.map(_._1).max, nb) }.toSeq
        .sortBy { case (c, nb) => (-c, nb) }
        .take(degreeCap).map(_._2).toArray
      tmp(i) = kept
      nbrOff(i + 1) = nbrOff(i) + kept.length
      i += 1
    }
    val nbrIdx = new Array[Int](nbrOff(n))
    i = 0
    while (i < n) { System.arraycopy(tmp(i), 0, nbrIdx, nbrOff(i), tmp(i).length); i += 1 }
    // entry points: IVF coarse centroids → nearest shard member each.
    // r16: fitted from the DRIVER-RESIDENT shard vectors — the shard
    // collect above already holds every (id, vector); re-scanning and
    // TakeOrdered-sorting the corpus for the same hash-ordered sample
    // was one whole extra cluster job per fit. Sample selection and
    // Lloyd's are bit-identical to the cluster spelling
    // (`Ivf.fitCentroidsFromArrays` uses the engine's own XxHash64
    // fold over the ids), so the entry points are unchanged.
    val ne = math.min(nEntries, n)
    val cents = graft.operators.Ivf.fitCentroidsFromArrays(
      base.ids, base.flatVecs, base.dim, ne,
      sampleSize = math.min(math.max(4096, 20 * ne), 16384))
    val entries = cents.map { c =>
      var best = 0; var bestD = Double.MaxValue
      var r = 0
      while (r < n) {
        var d = 0.0; var j = 0; val bbase = r * base.dim
        while (j < base.dim) {
          val t = c(j) - base.flatVecs(bbase + j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = r }
        r += 1
      }
      best
    }.distinct
    GraphShard(base.ids, base.flatVecs, base.dim, nbrOff, nbrIdx, entries)
  }

  /** Beam-search top-k per query row against the graph shard — one
    * native codegen expression (`functions.GraphBeamTopK`), exploded
    * to the serve tier's (query_id, neighbor_id, cos) schema. Same
    * rounding/tie-break as `topkRows`, recall gated in SimilaritySpec;
    * stateless append, so streaming-legal like every serve half. */
  def graphTopkRows(queries: DataFrame, shard: GraphShard, k: Int = 10,
                    ef: Int = 64, maxVisit: Int = 4096,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.graphBeamTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext),
          shard.dim, k, ef, maxVisit))
          .as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.cos").as("cos"))

  /** Partition the corpus into `nShards` hash shards and fit an
    * INDEPENDENT graph index per shard — the 100 TB deployment shape
    * for the beam tier: each serving node builds the kNN graph over
    * its own partition (`Ivf.knnGraph`, the same IVF-bounded
    * construction the declared graph queries run) and answers queries
    * by local beam search; `graphTopkRowsSharded` merges per-query
    * answers. The shard key is computed IN SPARK (`pmod(xxhash64)`,
    * the `fitShards` rule) and the corpus is scanned once into hot
    * blocks before the per-shard builds. Per-shard graphs are DENSER
    * search structures than a global graph filtered to the shard
    * (cross-shard arcs would dangle), which is why the build is
    * per-partition — exactly what each serving node would do. */
  def fitGraphShards(embeddings: DataFrame, nShards: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     k: Int = 8, nEntries: Int = 16,
                     degreeCap: Int = 32): IndexedSeq[GraphShard] = {
    require(nShards >= 1, s"fitGraphShards: need nShards >= 1, got $nShards")
    val tagged = embeddings
      .select(col(idCol).cast("long").as(idCol),
              col(vecCol).cast("array<double>").as(vecCol))
      .withColumn("__sh",
        pmod(xxhash64(col(idCol)), lit(nShards)).cast("int"))
      .localCheckpoint()
    (0 until nShards).map { s =>
      val part = tagged.filter(col("__sh") === s).drop("__sh")
      require(part.limit(1).count() == 1,
        s"fitGraphShards: shard $s is empty — nShards=$nShards is " +
          "oversized for this corpus; lower it")
      val graph = graft.operators.Ivf.knnGraph(part, idCol, vecCol, k)
      fitGraphShard(part, graph, idCol, vecCol, nEntries, degreeCap)
    }
  }

  /** Cross-shard merge for the beam tier: the shared merge applied to
    * `GraphShard`s. Exact over the union of per-shard BEAM answers (the
    * approximation lives inside each shard's walk, the merge adds
    * none); recall is gated in SimilaritySpec. */
  def graphTopkRowsSharded(queries: DataFrame, shards: Seq[GraphShard],
                           k: Int = 10, ef: Int = 64, maxVisit: Int = 4096,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    mergeShards("graphTopkRowsSharded", shards, k, byCos)(
      _.dim == shards.head.dim, s"mixed shard dims ${shards.map(_.dim).distinct}")(
      graphTopkRows(queries, _, k, ef, maxVisit, idCol, vecCol))

  /** The raw serve shard plus each target row's backward-neighborhood
    * mean (avg cos of its top-k in the SOURCE collection), aligned by
    * shard index — what `functions.BitextTopMargin` scans for
    * streaming bitext mining. The means are fitted batch-side by the
    * same backward serve the batch operator runs, so the margin
    * denominators match it bit for bit. */
  final case class BitextShard(ids: Array[Long], flatVecs: Array[Double],
                               dim: Int, avgTgt: Array[Double])
      extends ShardBroadcast[(Array[Long], Array[Double], Array[Double], Array[Double])]("BitextShard") {
    require(dim > 0 && flatVecs.length == ids.length * dim &&
        avgTgt.length == ids.length,
      s"BitextShard: ragged (${ids.length} ids, ${flatVecs.length} values, " +
        s"${avgTgt.length} avgs at dim $dim)")
    protected def payload = (ids, flatVecs, rowNorms(flatVecs, dim), avgTgt)
  }

  /** Fit the bitext serve shard over the (already id-remapped) target
    * collection: the raw vector shard plus each target's
    * backward-neighborhood mean — `avg(cos)` of its top-k against the
    * SOURCE shard, computed by the very DataFrame aggregation the
    * batch operator joins on (`Mining.bitextMine`'s `avgTgt`), then
    * collected and aligned by shard index. Every target is a backward
    * query, so the mean exists for every row (loudly required). */
  def fitBitextShard(tgt: DataFrame, srcShard: AnnShard, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): BitextShard = {
    val base = capped("BitextShard", tgt)(
      buildShard("BitextShard", vectorRows(tgt, idCol, vecCol).collect()))
    val avgRows = topkRows(tgt, srcShard, k, idCol, vecCol)
      .groupBy(col("query_id")).agg(avg(col("cos")).as("avg_tgt"))
      .collect()
    val byId = avgRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val avgTgt = base.ids.map { id =>
      byId.getOrElse(id, throw new IllegalArgumentException(
        s"BitextShard: target $id has no backward neighborhood — " +
          "src collection empty?"))
    }
    BitextShard(base.ids, base.flatVecs, base.dim, avgTgt)
  }

  /** Per-src margin-criterion mined pair at SERVE tier — one row-local
    * scan per arriving src (`functions.BitextTopMargin`): no join, no
    * window, no state, append-mode streaming-legal. Ids are in the
    * caller's remap space; `Mining.bitextMineServe` wraps the remap
    * and un-map. */
  def bitextTopRows(src: DataFrame, shard: BitextShard, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    src
      .select(col(idCol).cast("long").as("src_id"),
        explode(graft.functions.ArrayMath.bitextTopMargin(
          col(idCol), col(vecCol),
          shard.broadcastWith(src.sparkSession.sparkContext),
          shard.dim, k))
          .as("__bt"))
      .select(col("src_id"), col("__bt.tgt_id").as("tgt_id"),
              col("__bt.cos").as("cos"), col("__bt.margin").as("margin"))

  /** The raw serve shard plus a label per corpus row, aligned by shard
    * index — what `functions.HardNegTopK` scans for label-safe
    * hard-negative mining at serve tier. Missing labels stay null
    * (the null-safe batch-filter semantics survive verbatim). */
  final case class LabeledShard(ids: Array[Long], flatVecs: Array[Double],
                                dim: Int, labels: Array[String])
      extends ShardBroadcast[(Array[Long], Array[Double], Array[Double], Array[String])]("LabeledShard") {
    require(dim > 0 && flatVecs.length == ids.length * dim &&
        labels.length == ids.length,
      s"LabeledShard: ragged (${ids.length} ids, ${flatVecs.length} values, " +
        s"${labels.length} labels at dim $dim)")
    protected def payload = (ids, flatVecs, rowNorms(flatVecs, dim), labels)
  }

  /** Build the labeled serve shard: the corpus vectors plus each row's
    * label from `labels` (left join — corpus rows without a label keep
    * null, exactly the batch operator's null-safe posture). Labels add
    * a string per row to the same driver-side build `fitShard` pays;
    * the cap posture is unchanged. */
  def fitLabeledShard(corpus: DataFrame, labels: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      labelCol: String = "label"): LabeledShard = {
    val lab = labels.select(col(idCol).cast("long").as("__lid"),
                            col(labelCol).cast("string").as("__lab"))
    val rows = capped("LabeledShard", corpus)(corpus
      .select(col(idCol).cast("long").as("__id"),
              col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(lab), col("__id") === col("__lid"), "left")
      .select(col("__id"), col("__v"), col("__lab"))
      .collect())
    val base = buildShard("LabeledShard", rows)
    LabeledShard(base.ids, base.flatVecs, base.dim,
      rows.map(r => if (r.isNullAt(2)) null else r.getString(2)))
  }

  /** Label-safe hard negatives at SERVE tier — `Mining.hardNegatives`'
    * exact algebra (top-k window → null-safe same-label drop → rank
    * 1..m) as one row-local scan per anchor (`functions.HardNegTopK`):
    * no join, no window, no state — append-mode streaming-legal, which
    * is what gives the mining family its live twin. Anchors carry
    * their own label column (null = keep all neighbors). Bit-identical
    * to the batch join+window spelling — MiningSpec pins it, and the
    * streaming drain reuses the batch DuckDB oracle verbatim. */
  def hardNegRows(anchors: DataFrame, shard: LabeledShard,
                  k: Int = 20, m: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame =
    anchors
      .select(col(idCol).cast("long").as("anchor_id"),
        explode(graft.functions.ArrayMath.hardNegTopK(
          col(idCol), col(vecCol), col(labelCol),
          shard.broadcastWith(anchors.sparkSession.sparkContext),
          shard.dim, k, m))
          .as("__ng"))
      .select(col("anchor_id"), col("__ng.neg_id").as("neg_id"),
              col("__ng.cos").as("cos"), col("__ng.rank").as("rank"))

  /** The MEMORY-bound serve shard: PQ byte codes instead of raw
    * doubles — m bytes/vector vs dim·8 (64-dim/m=8 ⇒ 64× less shard-vector
    * RAM), the trade that decides how much corpus one serving node
    * holds (Jégou 2011). Codes come from `Pq.encode` itself, so shard
    * contents are definitionally the batch index's codes. */
  final case class PqShard(ids: Array[Long], flatCodes: Array[Byte],
                           model: Pq.Model)
      extends ShardBroadcast[(Array[Long], Array[Byte])]("PqShard") {
    require(flatCodes.length == ids.length * model.m,
      s"PqShard: ${flatCodes.length} codes for ${ids.length} ids at m=${model.m}")
    protected def payload = (ids, flatCodes)
  }

  /** Encode the corpus with the fitted PQ model and collect the
    * (id, codes) table as a flat byte shard, behind the `PqShardRows`
    * cap. */
  def fitPqShard(embeddings: DataFrame, model: Pq.Model,
                 idCol: String = "vec_id", vecCol: String = "embedding"): PqShard =
    capped("PqShard", embeddings, cap = PqShardRows)(
      buildPqShard(Pq.encode(embeddings, idCol, vecCol, model).collect(), model))

  private def buildPqShard(rows: Array[Row],
                           model: Pq.Model): PqShard = {
    require(model.ksub <= 256,
      s"PqShard: byte codes need ksub <= 256, got ${model.ksub}")
    require(rows.nonEmpty, "PqShard: empty embeddings frame")
    val ids = new Array[Long](rows.length)
    val codes = new Array[Byte](rows.length * model.m)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i).getLong(0)
      val cs = rows(i).getSeq[Int](1)
      require(cs.length == model.m,
        s"PqShard: ragged codes at ${ids(i)} (${cs.length} vs ${model.m})")
      var s = 0
      while (s < model.m) { codes(i * model.m + s) = cs(s).toByte; s += 1 }
      i += 1
    }
    PqShard(ids, codes, model)
  }

  /** PQ twin of `fitShards`: the shared hash split over the encoded
    * corpus. All shards share the one fitted model — shard-local
    * codebooks would make ADC distances incomparable across shards at
    * merge time. */
  def fitPqShards(embeddings: DataFrame, model: Pq.Model, nShards: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): IndexedSeq[PqShard] =
    hashSplit("PqShard", embeddings, Pq.encode(embeddings, idCol, vecCol, model),
      nShards, PqShardRows).map(buildPqShard(_, model))

  /** ADC top-k across sharded byte-code shards — the shared merge on
    * the PQ tier's rounded (approx_sqdist asc, neighbor_id asc) order,
    * bit-identical to one whole-corpus PqShard for any shard count
    * (all shards must come from one `fitPqShards` fit — asserted via
    * the shared model reference). */
  def pqTopkRowsSharded(queries: DataFrame, shards: Seq[PqShard], k: Int = 10,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    mergeShards("pqTopkRowsSharded", shards, k,
        Seq(col("approx_sqdist").asc, col("neighbor_id").asc))(
      _.model eq shards.head.model,
      "shards must share one fitted Pq.Model — per-shard models make ADC " +
        "distances incomparable at merge time")(
      pqTopkRows(queries, _, k, idCol, vecCol))

  /** ADC top-k per query row against the PQ shard — one native codegen
    * expression (`functions.AdcTopK`): per-query LUT build + m table
    * lookups per corpus vector, ranked on rounded approximate squared
    * distance. Bit-identical to the batch `Pq.topk` join+window plan
    * (SimilaritySpec). Stateless — batch and append-mode streaming
    * alike. */
  def pqTopkRows(queries: DataFrame, shard: PqShard, k: Int = 10,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val m = shard.model
    val flatBooks = new Array[Double](m.m * m.ksub * m.dsub)
    var s = 0
    while (s < m.m) {
      var c = 0
      while (c < m.ksub) {
        var j = 0
        while (j < m.dsub) {
          flatBooks((s * m.ksub + c) * m.dsub + j) = m.codebooks(s)(c)(j); j += 1
        }
        c += 1
      }
      s += 1
    }
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.adcTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext), flatBooks,
          m.m, m.ksub, m.dsub, k)).as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.approx_sqdist").as("approx_sqdist"))
  }

  /** The INT8 scalar-quantized serve shard — the middle memory tier
    * between the raw `AnnShard` (dim·8 bytes/vector, exact) and the
    * `PqShard` (m bytes/vector, approximate): one byte per component
    * (8× less vector RAM than raw) dequantized on the fly through a
    * per-dimension affine line, at near-exact ranking quality (the
    * SQ8 layout). Unlike PQ, the whole quantizer — per-dim min/max,
    * round-half-up code, affine dequantization — is plain SQL algebra,
    * so this tier's serve answers are checked by a FULL DuckDB oracle
    * (`sim_sq_serve`), not just a parity spec. Norms are of the
    * DEQUANTIZED vectors, fitted once at build. */
  final case class SqShard(ids: Array[Long], codes: Array[Byte],
                           minl: Array[Double], stepl: Array[Double],
                           norms: Array[Double])
      extends ShardBroadcast[(Array[Long], Array[Byte], Array[Double])]("SqShard") {
    val dim: Int = minl.length
    require(dim > 0 && stepl.length == dim,
      s"SqShard: dequantization line ${minl.length}/${stepl.length}")
    require(codes.length == ids.length * dim && norms.length == ids.length,
      s"SqShard: ${codes.length} codes / ${norms.length} norms for " +
        s"${ids.length} ids at dim $dim")
    protected def payload = (ids, codes, norms)
  }

  /** Fit the SQ8 shard: per-dimension (min, step=(max−min)/255) line
    * over the corpus, then code_j = clamp(floor((x_j−min_j)/step_j
    * + 0.5), 0, 255) — round-half-up, NOT round-half-even, because
    * `floor(t + 0.5)` is the one rounding both Spark SQL and DuckDB
    * state identically (the batch twin and the oracle use the same
    * expression, making the codes engine-portable). A constant
    * dimension (step 0) stores code 0 and dequantizes to its min.
    * Same cap and loud non-finite rejection as `fitShard` (quantizing
    * a NaN would silently clamp; the serve/batch parity contract only
    * holds for finite corpora). */
  def fitSqShard(embeddings: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding"): SqShard = {
    val raw = capped("SqShard", embeddings)(
      buildShard("SqShard", vectorRows(embeddings, idCol, vecCol).collect()))
    quantize(raw, sqLine(raw))
  }

  /** The per-dimension (min, step) dequantization line over `raw`. */
  private def sqLine(raw: AnnShard): (Array[Double], Array[Double]) = {
    val dim = raw.dim
    val minl = Array.fill(dim)(Double.MaxValue)
    val maxl = Array.fill(dim)(Double.MinValue)
    var i = 0
    while (i < raw.ids.length) {
      var j = 0
      while (j < dim) {
        val x = raw.flatVecs(i * dim + j)
        if (x < minl(j)) minl(j) = x
        if (x > maxl(j)) maxl(j) = x
        j += 1
      }
      i += 1
    }
    (minl, Array.tabulate(dim)(j => (maxl(j) - minl(j)) / 255.0))
  }

  /** Quantize `raw` on a fitted line, row order kept; norms are of the
    * DEQUANTIZED vectors. */
  private def quantize(raw: AnnShard, line: (Array[Double], Array[Double])): SqShard = {
    val (minl, stepl) = line
    val dim = raw.dim
    val n = raw.ids.length
    val codes = new Array[Byte](n * dim)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = 0.0
      var j = 0
      while (j < dim) {
        val st = stepl(j)
        val c =
          if (st == 0) 0
          else math.min(255.0,
            math.max(0.0, math.floor((raw.flatVecs(i * dim + j) - minl(j)) / st + 0.5))).toInt
        codes(i * dim + j) = c.toByte
        val dq = minl(j) + c * st
        s += dq * dq
        j += 1
      }
      norms(i) = math.sqrt(s)
      i += 1
    }
    SqShard(raw.ids, codes, minl, stepl, norms)
  }

  /** INCREMENTAL kNN-graph maintenance — the continuous-refresh shape
    * for the graph family (the `q_dedup_incremental` posture applied
    * to vectors): a batch of NEW vectors arrives and the existing
    * exact graph must absorb it WITHOUT recomputing old-vs-old work.
    * Exactness falls out of the same merge property the sharded serve
    * uses — per-node top-k over A∪B equals the top-k of (top-k over A
    * ∪ top-k over B) under the shared (rounded-cos desc, id asc)
    * order — so the result is bit-identical to rebuilding the whole
    * graph from scratch (`q_knn_graph`'s oracle applies verbatim to
    * the union). Work shape: three serve passes sized |old|·|new|,
    * |new|·|old|, |new|² — the old·old quadrant (the bulk at
    * steady-state, where |new| ≪ |old|) is NEVER recomputed; its
    * answers enter through `oldEdges` as-is. Ids must be disjoint
    * between the frames (a re-ingested id would need delete+insert,
    * which this operator deliberately does not hide). */
  def knnGraphIncremental(oldEdges: DataFrame, oldEmb: DataFrame,
                          newEmb: DataFrame, k: Int = 5,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    knnGraphIncremental(oldEdges, oldEmb, fitShard(oldEmb, idCol, vecCol),
      newEmb, fitShard(newEmb, idCol, vecCol), k, idCol, vecCol,
      preverifiedEdges = false)

  /** Shard-supplied form of `knnGraphIncremental` for a LONG-LIVED
    * maintained graph (`streaming.GraphStream`): the standing corpus's
    * fitted shard advances driver-side with the corpus
    * (`concatShards`/`filterShard`) instead of being refit from a
    * cluster scan every micro-batch — at micro-batch cadence the
    * refit's probe+collect was the dominant per-batch cost, and at
    * production scale re-collecting an unchanged corpus each batch is
    * exactly the waste a maintained index exists to avoid. CONTRACT:
    * `oldShard`/`newShard` must be fitted over exactly `oldEmb`/
    * `newEmb` (the caller owns frame↔shard lockstep; GraphStream
    * guarantees it by advancing both in one committed state). The
    * merge algebra is unchanged — results stay bit-identical to a
    * scratch rebuild. */
  def knnGraphIncremental(oldEdges: DataFrame, oldEmb: DataFrame,
                          oldShard: AnnShard, newEmb: DataFrame,
                          newShard: AnnShard, k: Int,
                          idCol: String, vecCol: String,
                          preverifiedEdges: Boolean): DataFrame = {
    val shardNew = newShard
    val shardOld = oldShard
    require(shardOld.ids.toSet.intersect(shardNew.ids.toSet).isEmpty,
      "knnGraphIncremental: old/new ids overlap — re-ingested ids need " +
        "an explicit delete before the incremental insert")
    // The bit-identical-to-rebuild guarantee holds ONLY if oldEdges is
    // the COMPLETE unfiltered top-k over the old corpus with this same
    // k and the same rounded cos values — a smaller k, a cos-threshold
    // filter, or unrounded scores would merge into a plausible but
    // WRONG graph with no error. A complete graph has exactly
    // |old| * min(k, |old|-1) rows, so validate that cheaply and fail
    // loudly on k-mismatched or filtered inputs (ADVICE r8).
    // `preverifiedEdges` (r15): the MAINTAINED graph's edges are this
    // operator's own output at the previous version — complete top-k
    // by induction from the bootstrap, with drained≡rebuild parity
    // gated in StreamingSpec — so GraphStream skips the per-micro-
    // batch count job; every external caller keeps the loud check.
    if (!preverifiedEdges) {
      val nOld = shardOld.ids.length
      val expectedOldEdges = nOld.toLong * math.min(k, nOld - 1)
      val gotOldEdges = oldEdges.count()
      require(gotOldEdges == expectedOldEdges,
        s"knnGraphIncremental: oldEdges has $gotOldEdges rows but the " +
          s"complete unfiltered top-$k graph over $nOld old vectors has " +
          s"$expectedOldEdges — the incremental merge is only " +
          "bit-identical to a rebuild when oldEdges is that exact graph " +
          "(same k, no cos filter, HALF_UP-6dp-rounded scores)")
    }
    val challenged = topkRows(oldEmb, shardNew, k, idCol, vecCol)
    val newVsOld = topkRows(newEmb, shardOld, k, idCol, vecCol)
    val newVsNew = topkRows(newEmb, shardNew, k, idCol, vecCol)
    cutPerQuery(oldEdges.select("query_id", "neighbor_id", "cos")
      .unionAll(challenged).unionAll(newVsOld).unionAll(newVsNew), k, byCos)
  }

  /** The DELETE half of incremental graph maintenance: removing
    * vectors invalidates exactly the nodes that held a removed id in
    * their top-k — every other node's answer is UNCHANGED (deleting
    * corpus vectors only removes candidates; a top-k that contained
    * none of them is already the top-k over the remaining corpus).
    * So: drop removed nodes' own rows, keep untouched nodes' edges
    * as-is, and re-serve ONLY the affected nodes against the
    * remaining corpus — bit-identical to a scratch rebuild on the
    * remaining set (the same oracle applies with the removed ids
    * filtered out). Work shape: |affected|·|remaining| — at
    * steady-state deletion rates the affected set is k·|removed|-ish,
    * a sliver of the rebuild. `remaining` must already exclude the
    * removed vectors (this operator maintains the GRAPH; corpus
    * deletion is the caller's move). */
  def knnGraphDelete(edges: DataFrame, remaining: DataFrame,
                     removedIds: DataFrame, k: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val removed = removedIds
      .select(col(removedIds.columns.head).cast("long").as("__rid")).distinct()
    // Same completeness contract as knnGraphIncremental (ADVICE r8):
    // `edges` must be the full unfiltered top-k over the PRE-delete
    // corpus (= remaining ∪ removed, with removedIds a subset of the
    // old corpus — an id never indexed is a caller error this check
    // also surfaces). |old| * min(k, |old|-1) rows or fail loudly.
    val nRemoved = removed.count()
    val nRemaining = remaining.select(col(idCol)).distinct().count()
    knnGraphDelete(edges, remaining, fitShard(remaining, idCol, vecCol),
      removed, nRemaining, nRemoved, k, idCol, vecCol,
      preverifiedEdges = false)
  }

  /** Shard-supplied form of `knnGraphDelete` — same rationale and
    * lockstep contract as the shard-supplied `knnGraphIncremental`:
    * a maintained graph (`streaming.GraphStream`) advances its fitted
    * shard driver-side (`filterShard`), so the remaining-corpus counts
    * and the shard are already known and the per-batch probe/count/fit
    * jobs disappear. `removed` must be the distinct single-column
    * `__rid` frame; `nRemaining`/`nRemoved` the exact cardinalities of
    * `remainingShard.ids`/`removed`. */
  def knnGraphDelete(edges: DataFrame, remaining: DataFrame,
                     remainingShard: AnnShard, removed: DataFrame,
                     nRemaining: Long, nRemoved: Long, k: Int,
                     idCol: String, vecCol: String,
                     preverifiedEdges: Boolean): DataFrame = {
    // `preverifiedEdges`: same rationale as knnGraphIncremental — the
    // maintained graph's edges are complete by induction and parity-
    // gated, so its per-batch count job is skipped; external callers
    // keep the loud completeness check.
    if (!preverifiedEdges) {
      val nPre = nRemaining + nRemoved
      val expectedEdges = nPre * math.min(k.toLong, nPre - 1)
      val gotEdges = edges.count()
      require(gotEdges == expectedEdges,
        s"knnGraphDelete: edges has $gotEdges rows but the complete " +
          s"unfiltered top-$k graph over the $nPre pre-delete vectors " +
          s"($nRemaining remaining + $nRemoved removed) has " +
          s"$expectedEdges — the delete patch is only bit-identical to a " +
          "rebuild when edges is that exact graph (same k, no cos " +
          "filter, rounded scores, removedIds drawn from the indexed corpus)")
    }
    val live = edges.join(broadcast(removed),
      col("query_id") === col("__rid"), "left_anti")
    val affected = live.join(broadcast(removed),
        col("neighbor_id") === col("__rid"), "left_semi")
      .select(col("query_id")).distinct()
    val untouched = live.join(broadcast(affected), Seq("query_id"), "left_anti")
    val recomputed = topkRows(
      remaining.join(broadcast(affected),
        col(idCol) === col("query_id"), "left_semi"),
      remainingShard, k, idCol, vecCol)
    untouched.select("query_id", "neighbor_id", "cos").unionAll(recomputed)
  }

  /** SQ8 twin of `fitShards`: ONE global dequantization line (per-dim
    * min/max over the WHOLE corpus — per-shard lines would make
    * dequantized cosines incomparable at merge time, the same rule as
    * the PQ shards' shared model), codes split by the shared hash
    * split. The line is fitted over the union of the split's rows, so
    * it comes from the same single collect as the shard assignment. */
  def fitSqShards(embeddings: DataFrame, nShards: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): IndexedSeq[SqShard] = {
    val parts = hashSplit("SqShard", embeddings, vectorRows(embeddings, idCol, vecCol),
      nShards, ShardRows)
    val line = sqLine(buildShard("SqShard", parts.flatten.toArray))
    parts.map(p => quantize(buildShard("SqShard", p), line))
  }

  /** SQ8 top-k across sharded byte shards — the shared merge on the
    * middle tier's rounded (cos desc, neighbor_id asc) order. Exact over
    * the union under the SHARED dequantization line, so the answer is
    * bit-identical to one whole-corpus SqShard for any shard count (all
    * shards must come from one `fitSqShards` fit — asserted by
    * comparing their lines by VALUE, not reference: shards of one fit
    * that were serialized or copied on their way to serving nodes carry
    * value-equal but reference-distinct line arrays, and such a
    * deployment must stay mergeable). */
  def sqTopkRowsSharded(queries: DataFrame, shards: Seq[SqShard], k: Int = 10,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    mergeShards("sqTopkRowsSharded", shards, k, byCos)(
      sh => java.util.Arrays.equals(sh.minl, shards.head.minl) &&
        java.util.Arrays.equals(sh.stepl, shards.head.stepl),
      "shards must share one fitted dequantization line — per-shard " +
        "lines make dequantized cosines incomparable")(
      sqTopkRows(queries, _, k, idCol, vecCol))

  /** SQ8 top-k per query row — one native codegen expression
    * (`functions.SqTopK`): O(n·dim) dequantize-and-dot scan, ranked on
    * rounded cosine of (raw query, dequantized candidate). Bit-
    * identical to the batch `sim_sq_topk` join+window plan and its
    * full-SQL DuckDB oracle. Stateless — batch and append-mode
    * streaming alike. */
  def sqTopkRows(queries: DataFrame, shard: SqShard, k: Int = 10,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.sqTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext),
          shard.minl, shard.stepl, k))
          .as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.cos").as("cos"))
}
