package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANN quality: the LSH top-k path must recover most of the
  * brute-force neighbors (recall is the contract of an ANN index). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("sim_lsh_topk recall@10 >= 0.6 vs brute force on sf0.001") {
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_lsh_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("sim_lsh_topk_md5 recall@10 >= 0.6 vs brute force on sf0.001 " +
       "(portable planes lose no retrieval quality)") {
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_lsh_topk_md5")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"md5-plane recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("sim_ivf_topk recall@10 >= 0.6 vs brute force on sf0.001") {
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_ivf_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"ivf recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("ivf probing bounds the candidate set to the probed cells") {
    val e = Tables.embeddings(spark, sf)
    val cent = graft.operators.Ivf.fitCentroids(e, "vec_id", "embedding", nlist = 16)
    import org.apache.spark.sql.functions._
    val assigned = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("f"))
      .withColumn("cell", graft.operators.Ivf.cellCol(col("f"), cent))
    val cellSizes = assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // all 16 cells used, none degenerate-hot (no cell > half the corpus)
    val n = assigned.count()
    assert(cellSizes.size >= 8, s"too few cells used: ${cellSizes.size}")
    assert(cellSizes.values.max <= n / 2, s"degenerate cell: $cellSizes")
    // ivf exact-cos values agree with brute force where pairs overlap
    val exactMap = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = SparkEntry.queries("sim_ivf_topk")(spark, sf).collect()
    val both = approx.flatMap(r =>
      exactMap.get((r.getLong(0), r.getLong(1))).map(e2 => (r.getDouble(2), e2)))
    assert(both.nonEmpty)
    both.foreach { case (a, x) => assert(a == x, s"$a vs $x") }
  }

  test("ivf probe over a bucketed assigned corpus shuffles ONLY the probe side") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val cent = graft.operators.Ivf.fitCentroids(e, "vec_id", "embedding", nlist = 16)
    // one-time prep: persist the assigned corpus bucketed+sorted by cell
    spark.sql("DROP TABLE IF EXISTS ivf_corpus")
    val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "ivf_corpus")
    if (loc.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(loc)
    }
    graft.sources.Sources.writeBucketed(
      graft.operators.Ivf.assign(e, "vec_id", "embedding", cent), "ivf_corpus", "cell", 16)
    val probed = graft.operators.Ivf.topkFromAssigned(
      spark.table("ivf_corpus").hint("merge"),
      e.filter(col("vec_id") < 10), "vec_id", "embedding", 10, cent, nprobe = 8)
    val plan = probed.queryExecution.executedPlan.toString
    // the corpus side reads its buckets in place: exactly ONE exchange
    // keyed on cell (the tiny probe side), none above the corpus scan
    // (the later query_id exchange belongs to the top-k window, not
    // the join)
    val cellExchanges = "Exchange hashpartitioning\\(cell".r.findAllIn(plan).size
    assert(plan.contains("SortMergeJoin"), plan.take(600))
    assert(cellExchanges == 1,
      s"expected 1 cell-keyed exchange (probe side only), got $cellExchanges:\n${plan.take(1200)}")
    // identical results to the in-memory path
    val viaTable = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMem = SparkEntry.queries("sim_ivf_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaTable == inMem)
  }

  test("sim_pq_topk recall@10 >= 0.6 vs brute force on sf0.001") {
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_pq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"pq recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("sim_ivfpq_topk recall@10 >= 0.9 vs brute force on sf0.001") {
    // parameters fixed by the r5 sweep (nprobe x shortlist x
    // ksub x m): nprobe=12, shortlist=100 measured 0.96 — the
    // quantization error that capped the old nprobe=8/shortlist=50
    // config at 0.82 is absorbed by the wider ADC shortlist + probes
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_ivfpq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"ivf-pq recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("pq encoding: m codes in [0, ksub), deterministic, dim-compressing") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val model = graft.operators.Pq.fit(e, "vec_id", "embedding", m = 8, ksub = 16)
    assert(model.dsub == 8 && model.codebooks.length == 8 &&
      model.codebooks.forall(_.length == 16))
    val enc = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
    val rows = enc.collect()
    assert(rows.forall(_.getSeq[Int](1).length == 8), "m codes per vector")
    assert(rows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
    val again = graft.operators.Pq.encode(e, "vec_id", "embedding", model).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // quantization must actually discriminate: >= 32 distinct code words
    assert(rows.map(_.getSeq[Int](1)).distinct.size >= 32)
  }

  test("topkDiverse enforces the per-cell quota and stays deterministic") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val r = graft.operators.Embeddings.topkDiverse(e, q,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 10, perCell = 2, gridDims = 2, gridSize = 0.25)
    val rows = r.collect()
    assert(rows.nonEmpty)
    // quota: never more than 2 results from one (query, cell)
    val perCellCounts = rows.groupBy(x =>
      (x.getAs[Long]("query_id"), x.getAs[String]("cell"))).values.map(_.length)
    assert(perCellCounts.max <= 2, "per-cell quota violated")
    // ≤ k per query, and the rank column never exceeds the quota
    rows.groupBy(_.getAs[Long]("query_id")).values
      .foreach(g => assert(g.length <= 10))
    assert(rows.forall(_.getAs[Int]("cell_rank") <= 2))
    // deterministic under repartitioning
    val again = graft.operators.Embeddings.topkDiverse(
        e.repartition(7), q, "vec_id", "embedding", "vec_id", "embedding",
        k = 10, perCell = 2, gridDims = 2, gridSize = 0.25)
      .collect().map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))).toSet
    assert(again == rows.map(x =>
      (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))).toSet)
    // diversity is real on this corpus: some query's plain top-10 is
    // MORE concentrated than the diversified result allows
    val brute = SparkEntry.queries("q_sim_bruteforce")(spark, sf).collect()
    val bruteMaxPerCell = brute.map(x =>
        (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id")))
      .groupBy(_._1).values.map(_.length).max
    assert(bruteMaxPerCell >= 1) // sanity: brute force produced results
  }

  test("lsh candidates agree with exact distances (cos = 1 - d^2/2 check)") {
    val approx = SparkEntry.queries("sim_lsh_topk")(spark, sf).collect()
    val exactMap = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val both = approx.flatMap(r =>
      exactMap.get((r.getLong(0), r.getLong(1))).map(e => (r.getDouble(2), e)))
    assert(both.nonEmpty)
    both.foreach { case (a, e) => assert(math.abs(a - e) < 1e-5, s"$a vs $e") }
  }

  test("sim_graph_topk recall@10 >= 0.9 vs brute force on sf0.001 " +
       "(beam search over the kNN graph at declared parameters)") {
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("sim_graph_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"graph-beam recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("sim_graph_topk_stream drains to the batch sim_graph_topk row for " +
       "row (same shard, same parameters — the beam is deterministic)") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val batch = SparkEntry.queries("sim_graph_topk")(spark, sf)
      .collect().map(key)
    val streamed = SparkEntry.queries("sim_graph_topk_stream")(spark, sf)
      .collect().map(key)
    assert(batch.toSeq == streamed.toSeq)
  }

  test("graph-beam serve: over a complete graph with ef >= n the beam " +
       "is bit-identical to the flat exact serve (small-N exactness pin)") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 40)
    val n = e.count().toInt
    // complete graph: every node's exact top-(n-1) — beam search over
    // it with ef >= n visits everything reachable from any entry, so
    // the result must equal the exhaustive scan bit for bit
    val flat = graft.operators.AnnServe.fitShard(e)
    val edges = graft.operators.AnnServe.topkRows(e, flat, k = n - 1)
    val shard = graft.operators.AnnServe.fitGraphShard(
      e, edges, nEntries = 4, degreeCap = n)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val beam = graft.operators.AnnServe
      .graphTopkRows(e.filter(col("vec_id") < 10), shard, k = 10,
        ef = n, maxVisit = 4 * n)
      .orderBy("query_id", "neighbor_id").collect().map(key)
    val brute = graft.operators.AnnServe
      .topkRows(e.filter(col("vec_id") < 10), flat, k = 10)
      .orderBy("query_id", "neighbor_id").collect().map(key)
    assert(beam.toSeq == brute.toSeq,
      "beam over a complete graph with ef >= n must equal the exact serve")
  }

  test("graph-beam sharded serve: per-shard graphs + merge hold the " +
       "recall floor and stay deterministic at nShards=3") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val shards = graft.operators.AnnServe.fitGraphShards(e, nShards = 3)
    val run = () => graft.operators.AnnServe
      .graphTopkRowsSharded(q, shards, k = 10, ef = 64)
      .orderBy("query_id", "neighbor_id").collect()
    val a = run(); val b = run()
    assert(a.map(_.toString).sameElements(b.map(_.toString)),
      "sharded beam serve must be deterministic")
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = a.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"sharded graph-beam recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("graph-beam serve: maxVisit bounds the walk (loud sub-ef results, " +
       "never an unbounded scan)") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val graph = graft.operators.Ivf.knnGraph(e, "vec_id", "embedding", k = 8)
    val shard = graft.operators.AnnServe.fitGraphShard(e, graph)
    // a tight maxVisit still returns (possibly fewer, never junk) rows
    val out = graft.operators.AnnServe
      .graphTopkRows(e.filter(col("vec_id") < 3), shard, k = 10,
        ef = 16, maxVisit = 16)
      .collect()
    assert(out.nonEmpty && out.forall(r => r.getDouble(2) <= 1.000001))
    val grouped = out.groupBy(_.getLong(0))
    assert(grouped.forall(_._2.length <= 10))
  }

  test("ann serve: row-local shard scan is bit-identical to the join+window plan") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val brute = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(key)
    val serve = SparkEntry.queries("q_sim_serve")(spark, sf)
      .collect().map(key)
    assert(serve.toSeq == brute.toSeq,
      "serve path must reproduce the brute-force ranking exactly " +
        "(rounded-cos ranking + neighbor_id tie-break)")
  }

  test("ann serve: ties at the top-k boundary follow (cos desc, id asc)") {
    // planted shard where several neighbors round to the SAME cosine:
    // vectors colinear with the query differ only at 1e-9 scale, so all
    // round to cos = 1.0 — selection must then prefer the smallest ids
    import spark.implicits._
    val dim = 4
    val mk = (s: Double) => Array.tabulate(dim)(j => (j + 1) * s)
    val rows =
      (0L, mk(1.0)) +: (1L to 6L).map(i => (i, mk(1.0 + i * 1e-9)))
    val df = rows.toDF("vec_id", "embedding")
    val shard = graft.operators.AnnServe.fitShard(df)
    val out = graft.operators.AnnServe
      .topkRows(df.filter($"vec_id" === 0L), shard, k = 3)
      .orderBy("neighbor_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L),
      s"tie-break must keep the smallest neighbor ids: ${out.mkString(",")}")
    assert(out.forall(_.getDouble(2) == 1.0))
  }

  test("knn graph: IVF scale path recovers most exact edges (recall floor)") {
    val exact = SparkEntry.queries("q_knn_graph")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_knn_graph_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    info(s"knn-graph recall@5 = $recall (${(exact & lsh).size}/${exact.size})")
    assert(recall >= 0.85, s"recall $recall too low")
  }

  test("knn graph: two-level residual quantizer path recovers most exact edges " +
       "(recall floor, forced past a tiny flat ceiling)") {
    import org.apache.spark.sql.functions.col
    val exact = SparkEntry.queries("q_knn_graph")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // maxFlatNlist=16 forces the two-level path on this small corpus
    // (nlistNeeded ≈ 67 > 16 → nc = 9, shared residual codebook)
    val two = graft.operators.Ivf.knnGraph(
        Tables.embeddings(spark, sf), "vec_id", "embedding",
        k = 5, nprobe = 6, targetCell = 32, maxFlatNlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & two).size.toDouble / exact.size
    info(s"two-level knn-graph recall@5 = $recall (${(exact & two).size}/${exact.size})")
    assert(recall >= 0.85, s"recall $recall too low")
  }

  test("pq serve: byte-code shard scan is bit-identical to the Pq.topk join plan") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("u"))
    val model = graft.operators.Pq.fit(e, "vec_id", "u", m = 16, ksub = 16)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val batch = graft.operators.Pq.topk(
        graft.operators.Pq.encode(e, "vec_id", "u", model),
        e.filter(col("vec_id") < 10), "vec_id", "u", k = 10, model)
      .collect().map(key)
    val serve = graft.operators.AnnServe.pqTopkRows(
        e.filter(col("vec_id") < 10),
        graft.operators.AnnServe.fitPqShard(e, model, "vec_id", "u"),
        k = 10, "vec_id", "u")
      .orderBy("query_id", "neighbor_id").collect().map(key)
    assert(serve.toSeq == batch.toSeq,
      "PQ serve must reproduce the batch ADC ranking exactly")
  }

  test("ann serve sharded: merge is bit-identical to single shard and brute force " +
       "for every shard count") {
    import org.apache.spark.sql.functions.col
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 10)
    val brute = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(key).toSeq
    for (n <- Seq(1, 2, 4, 7)) {
      val shards = graft.operators.AnnServe.fitShards(e, nShards = n)
      assert(shards.map(_.ids.length).sum == e.count(),
        s"shards must partition the corpus exactly (n=$n)")
      val merged = graft.operators.AnnServe
        .topkRowsSharded(queries, shards, k = 10)
        .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
      assert(merged == brute,
        s"sharded serve at n=$n must reproduce the brute-force ranking exactly")
    }
  }

  test("pq serve sharded: merge is bit-identical to the whole-corpus PqShard") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("u"))
    val model = graft.operators.Pq.fit(e, "vec_id", "u", m = 16, ksub = 16)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val whole = graft.operators.AnnServe.pqTopkRows(
        e.filter(col("vec_id") < 10),
        graft.operators.AnnServe.fitPqShard(e, model, "vec_id", "u"),
        k = 10, "vec_id", "u")
      .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
    val shards = graft.operators.AnnServe.fitPqShards(e, model, nShards = 3,
      idCol = "vec_id", vecCol = "u")
    val merged = graft.operators.AnnServe.pqTopkRowsSharded(
        e.filter(col("vec_id") < 10), shards, k = 10, "vec_id", "u")
      .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
    assert(merged == whole,
      "sharded PQ serve must reproduce the whole-shard ADC ranking exactly")
  }

  test("knn graph sharded: bit-identical to the single-shard exact graph; " +
       "grid twin covers nearly all nodes") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val whole = SparkEntry.queries("q_knn_graph")(spark, sf)
      .collect().map(key).toSeq
    val sharded = SparkEntry.queries("q_knn_graph_sharded")(spark, sf)
      .collect().map(key).toSeq
    assert(sharded == whole,
      "sharded kNN graph must reproduce the exact graph bit-for-bit")
    // the grid twin's documented node-coverage contract: a vector alone
    // in its probed cells emits nothing; on the real table that loss
    // must stay marginal (the oracle re-derives whatever is emitted)
    val gridNodes = SparkEntry.queries("q_knn_graph_grid")(spark, sf)
      .select("query_id").distinct().count()
    val n = Tables.embeddings(spark, sf).count()
    assert(gridNodes >= n * 9 / 10,
      s"grid graph covers only $gridNodes/$n nodes")
  }

  test("knn graph incremental: absorbing a batch is bit-identical to a " +
       "scratch rebuild; overlapping ids fail loudly") {
    import org.apache.spark.sql.functions.col
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val scratch = SparkEntry.queries("q_knn_graph")(spark, sf)
      .collect().map(key).toSeq
    val inc = SparkEntry.queries("q_knn_graph_inc")(spark, sf)
      .collect().map(key).toSeq
    assert(inc == scratch,
      "incremental graph must equal the scratch rebuild bit-for-bit")
    val e = Tables.embeddings(spark, sf)
    val err = intercept[IllegalArgumentException] {
      graft.operators.AnnServe.knnGraphIncremental(
        SparkEntry.queries("q_knn_graph")(spark, sf),
        e, e.filter(col("vec_id") < 5), k = 5)
    }
    assert(err.getMessage.contains("overlap"))
  }

  test("knn graph delete: absorbing a deletion is bit-identical to a rebuild " +
       "on the remaining corpus, recomputing only affected nodes") {
    import org.apache.spark.sql.functions.col
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val e = Tables.embeddings(spark, sf)
    val remaining = e.filter(col("vec_id") % 7 =!= 0)
    val scratch = graft.operators.AnnServe.topkRows(
        remaining, graft.operators.AnnServe.fitShard(remaining), k = 5)
      .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
    val del = SparkEntry.queries("q_knn_graph_del")(spark, sf)
      .collect().map(key).toSeq
    assert(del == scratch,
      "post-delete graph must equal the rebuild on the remaining corpus")
    // the efficiency claim: untouched nodes pass through, so the
    // affected set (nodes holding a removed id in their top-5) must be
    // a strict subset of the remaining nodes
    val full = graft.operators.AnnServe.topkRows(
      e, graft.operators.AnnServe.fitShard(e), k = 5)
    val affected = full
      .filter(col("query_id") % 7 =!= 0 && col("neighbor_id") % 7 === 0)
      .select("query_id").distinct().count()
    val total = remaining.count()
    info(s"affected $affected of $total remaining nodes re-served")
    assert(affected < total, "deletion must not force a full re-serve")
  }

  test("sq8 serve: dequantizing byte-shard scan is bit-identical to the " +
       "sim_sq_topk join+window plan") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val batch = SparkEntry.queries("sim_sq_topk")(spark, sf)
      .collect().map(key).toSeq
    val serve = SparkEntry.queries("sim_sq_serve")(spark, sf)
      .collect().map(key).toSeq
    assert(serve == batch,
      "SQ8 serve must reproduce the batch quantize+join+window ranking exactly")
  }

  test("sq8: near-exact ranking — recall@10 >= 0.9 vs brute force, and the " +
       "shard stores exactly one byte per component") {
    val exact = SparkEntry.queries("q_sim_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = SparkEntry.queries("sim_sq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sq).size.toDouble / exact.size
    info(s"sq8 recall@10 = $recall (${(exact & sq).size}/${exact.size})")
    // 8-bit/dim keeps cosine error ~1e-3 — far tighter than PQ's
    // codebook error; the floor reflects the tier's near-exact claim
    assert(recall >= 0.9, s"sq8 recall $recall below the near-exact floor")
    val e = Tables.embeddings(spark, sf)
    val shard = graft.operators.AnnServe.fitSqShard(e)
    assert(shard.codes.length == shard.ids.length * shard.dim,
      "SQ8 shard must store exactly dim bytes per vector (the 8x RAM claim)")
  }

  test("sq8 serve sharded: merge is bit-identical to the whole-corpus SqShard " +
       "for every shard count") {
    import org.apache.spark.sql.functions.col
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 10)
    val whole = graft.operators.AnnServe.sqTopkRows(queries,
        graft.operators.AnnServe.fitSqShard(e), k = 10)
      .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
    for (n <- Seq(1, 3, 6)) {
      val shards = graft.operators.AnnServe.fitSqShards(e, nShards = n)
      assert(shards.map(_.ids.length).sum == e.count(),
        s"SQ shards must partition the corpus exactly (n=$n)")
      val merged = graft.operators.AnnServe
        .sqTopkRowsSharded(queries, shards, k = 10)
        .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
      assert(merged == whole,
        s"sharded SQ serve at n=$n must reproduce the whole-shard ranking exactly")
    }
  }

  test("sq8 sharded merge accepts copied shards: value-equal " +
       "but reference-distinct dequantization lines stay mergeable") {
    import org.apache.spark.sql.functions.col
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 10)
    val shards = graft.operators.AnnServe.fitSqShards(e, nShards = 3)
    // shards shipped to serving nodes (serialized, or rebuilt from a
    // copy of the fit's state) carry value-equal line arrays, never
    // the fit's references
    val reloaded = shards.map(sh =>
      sh.copy(minl = sh.minl.clone(), stepl = sh.stepl.clone()))
    assert(reloaded.forall(sh => !(sh.minl eq shards.head.minl)),
      "test premise: reloaded shards must not share references with the fit")
    val direct = graft.operators.AnnServe
      .sqTopkRowsSharded(queries, shards, k = 10)
      .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
    val restored = graft.operators.AnnServe
      .sqTopkRowsSharded(queries, reloaded, k = 10)
      .orderBy("query_id", "neighbor_id").collect().map(key).toSeq
    assert(restored == direct,
      "a restored sharded deployment must serve identically to the fit")
  }

  test("knn graph maintenance rejects incomplete edge lists loudly: " +
       "filtered or k-mismatched inputs fail instead of diverging") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val fresh = e.filter(col("vec_id") % 5 === 0)
    val oldGraph = graft.operators.AnnServe.topkRows(
      old, graft.operators.AnnServe.fitShard(old), k = 5)
    // a cos-threshold filter (the q_embed_pipeline shape) breaks the
    // completeness precondition -> loud require, not a wrong graph
    val filteredErr = intercept[IllegalArgumentException] {
      graft.operators.AnnServe.knnGraphIncremental(
        oldGraph.filter(col("cos") >= 0.9), old, fresh, k = 5)
    }
    assert(filteredErr.getMessage.contains("complete unfiltered top-5"))
    // an edge list built with a smaller k than the merge's k likewise
    val kMismatchErr = intercept[IllegalArgumentException] {
      graft.operators.AnnServe.knnGraphIncremental(
        graft.operators.AnnServe.topkRows(
          old, graft.operators.AnnServe.fitShard(old), k = 3),
        old, fresh, k = 5)
    }
    assert(kMismatchErr.getMessage.contains("complete unfiltered top-5"))
    // same contract on the delete half
    val full = graft.operators.AnnServe.topkRows(
      e, graft.operators.AnnServe.fitShard(e), k = 5)
    val delErr = intercept[IllegalArgumentException] {
      graft.operators.AnnServe.knnGraphDelete(
        full.filter(col("cos") >= 0.9),
        e.filter(col("vec_id") % 7 =!= 0),
        e.filter(col("vec_id") % 7 === 0).select("vec_id"), k = 5)
    }
    assert(delErr.getMessage.contains("complete"))
  }

  test("sq8: quantization round-trips a constant dimension and clamps " +
       "out-of-line queries; non-finite corpus fails loudly at fit") {
    import spark.implicits._
    // dim 2: first dimension constant (step 0 -> code 0, dq = min),
    // second spanning [0, 255] exactly (step 1 -> code = value)
    val e = Seq((1L, Array(7.0, 0.0)), (2L, Array(7.0, 255.0)),
                (3L, Array(7.0, 128.0)))
      .toDF("vec_id", "embedding")
    val shard = graft.operators.AnnServe.fitSqShard(e)
    assert(shard.stepl(0) == 0.0 && shard.stepl(1) == 1.0)
    assert(shard.codes.toSeq == Seq[Byte](0, 0, 0, -1, 0, -128),
      "codes must be (0, value) per row under the identity line")
    // serve answers rank by cosine against EXACT dequantized values
    val ans = graft.operators.AnnServe
      .sqTopkRows(Seq((9L, Array(7.0, 200.0))).toDF("vec_id", "embedding"),
        shard, k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(ans.length == 3 && ans.head._1 == 2L,
      s"nearest to (7,200) must be (7,255), got ${ans.toSeq}")
    val fitErr = intercept[IllegalArgumentException] {
      graft.operators.AnnServe.fitSqShard(
        Seq((1L, Array(1.0, Double.NaN))).toDF("vec_id", "embedding"))
    }
    assert(fitErr.getMessage.contains("non-finite"))
  }

  test("ann serve: non-finite embeddings fail loudly at fit time, " +
       "non-finite queries at serve time") {
    import spark.implicits._
    val fitErr = intercept[IllegalArgumentException] {
      graft.operators.AnnServe.fitShard(
        Seq((1L, Array(1.0, Double.NaN)), (2L, Array(1.0, 2.0)))
          .toDF("vec_id", "embedding"))
    }
    assert(fitErr.getMessage.contains("non-finite"))
    val shard = graft.operators.AnnServe.fitShard(
      Seq((1L, Array(1.0, 2.0)), (2L, Array(2.0, 1.0))).toDF("vec_id", "embedding"))
    val badQ = Seq((9L, Array(Double.PositiveInfinity, 0.0)))
      .toDF("vec_id", "embedding")
    val serveErr = intercept[Exception] {
      graft.operators.AnnServe.topkRows(badQ, shard, k = 1).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(serveErr).exists(c =>
      Option(c.getMessage).exists(_.contains("non-finite query component"))),
      s"expected the loud query-side finite guard, got: $serveErr")
  }

  test("shard fits reject a null id or a null vector loudly, naming the " +
       "shard type and the row") {
    import spark.implicits._
    val nullId = Seq((Some(1L), Array(1.0, 2.0)), (None, Array(2.0, 1.0)))
      .toDF("vec_id", "embedding")
    val nullVec = Seq((1L, Some(Array(1.0, 2.0))), (2L, None))
      .toDF("vec_id", "embedding")
    val fits = Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "AnnShard" -> (graft.operators.AnnServe.fitShard(_)),
      "SqShard" -> (graft.operators.AnnServe.fitSqShard(_)),
      "LabeledShard" -> (e => graft.operators.AnnServe.fitLabeledShard(e,
        e.select(e("vec_id"), org.apache.spark.sql.functions.lit("a").as("label")))))
    for ((shardType, fit) <- fits) {
      val idErr = intercept[IllegalArgumentException](fit(nullId))
      assert(idErr.getMessage.contains(s"$shardType: null id at row 1"),
        idErr.getMessage)
      val vecErr = intercept[IllegalArgumentException](fit(nullVec))
      assert(vecErr.getMessage.contains(s"$shardType: null vector at id 2"),
        vecErr.getMessage)
    }
  }

  test("shard cap guard: one shard over its cap, and a corpus over " +
       "nShards x cap, both fail before any collect") {
    import spark.implicits._
    val e = (1L to 10L).map(i => (i, Array(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    var collects = 0
    def fit(nShards: Int, cap: Int = 4) =
      graft.operators.AnnServe.capped("AnnShard", e, nShards, cap) {
        collects += 1; e.collect()
      }
    val single = intercept[IllegalArgumentException](fit(1))
    assert(single.getMessage.contains("exceed 1 shard(s) x cap 4"), single.getMessage)
    val total = intercept[IllegalArgumentException](fit(2))
    assert(total.getMessage.contains("exceed 2 shard(s) x cap 4"), total.getMessage)
    // nShards x cap past a collectable row count fails before the probe
    val huge = intercept[IllegalArgumentException](fit(4096, 1 << 20))
    assert(huge.getMessage.contains("exceeds a collectable row count"))
    assert(collects == 0, "the cap guard must throw before the collect runs")
    assert(fit(3).length == 10 && collects == 1)
    // the post-collect form (a hash-split shard, a maintained-shard union)
    intercept[IllegalArgumentException](
      graft.operators.AnnServe.requireCap("AnnShard", 5, 1, 4))
    graft.operators.AnnServe.requireCap("AnnShard", 4, 1, 4)
  }

  test("serve family edges: k larger than the corpus truncates, an empty " +
       "query feed yields empty answers, a single-vector shard serves") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.8, 0.6)),
                (3L, Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 1)
    // k = 10 over a 3-vector corpus: each query gets the 2 others, no
    // padding, no crash — same contract across all three tiers
    val raw = graft.operators.AnnServe.topkRows(q,
      graft.operators.AnnServe.fitShard(e), k = 10).collect()
    assert(raw.length == 2 && raw.map(_.getLong(1)).toSet == Set(2L, 3L))
    val sq = graft.operators.AnnServe.sqTopkRows(q,
      graft.operators.AnnServe.fitSqShard(e), k = 10).collect()
    assert(sq.length == 2)
    // empty query feed: empty answer frame with the right schema
    val none = graft.operators.AnnServe.topkRows(
      e.filter(col("vec_id") < 0), graft.operators.AnnServe.fitShard(e), k = 2)
    assert(none.columns.toSeq == Seq("query_id", "neighbor_id", "cos") &&
      none.count() == 0)
    // single-vector shard: a query matching that one id gets nothing
    // (self excluded); a different id gets exactly the one neighbor
    val solo = graft.operators.AnnServe.fitShard(e.filter(col("vec_id") === 2))
    assert(graft.operators.AnnServe.topkRows(q, solo, k = 5).count() == 1)
    assert(graft.operators.AnnServe.topkRows(
      e.filter(col("vec_id") === 2), solo, k = 5).count() == 0)
  }

  test("knnGraph keepIsolated: isolated nodes surface as NULL-neighbor " +
       "rows and id coverage is total") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // deterministic isolated node via the probed-frame kernel: vec 99
    // probes a cell nobody else probes, so the plain graph omits it
    val probed = Seq(
      (1L, Seq(1.0, 0.0), 7), (2L, Seq(0.9, 0.1), 7), (3L, Seq(0.8, 0.2), 7),
      (99L, Seq(-1.0, 0.0), 42)
    ).toDF("vec_id", "f", "cell")
    val graph = graft.operators.Ivf.knnGraphFromProbed(probed, k = 2)
    assert(!graph.select("query_id").collect().map(_.getLong(0)).contains(99L),
      "test premise: 99 must be isolated in the plain graph")
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.8, 0.2)), (99L, Seq(-1.0, 0.0))).toDF("vec_id", "embedding")
    val full = graft.operators.Ivf.knnGraphWithIsolated(graph, emb, "vec_id")
    assert(full.select("query_id").distinct().count() == 4)
    val iso = full.filter(col("neighbor_id").isNull).collect()
    assert(iso.length == 1 && iso(0).getLong(0) == 99L && iso(0).isNullAt(2),
      s"expected one (99, NULL, NULL) row, got ${iso.toSeq}")
    // non-null rows pass through untouched
    assert(full.filter(col("neighbor_id").isNotNull).count() == graph.count())

    // keepIsolated=true end to end on the real table: total coverage,
    // and the non-null edge set identical to the plain variant
    val e = Tables.embeddings(spark, sf)
    val plain = graft.operators.Ivf.knnGraph(e, "vec_id", "embedding",
      k = 5, nprobe = 6, targetCell = 32)
    val kept = graft.operators.Ivf.knnGraph(e, "vec_id", "embedding",
      k = 5, nprobe = 6, targetCell = 32, keepIsolated = true)
    assert(kept.select("query_id").distinct().count() == e.count(),
      "keepIsolated must cover every corpus id")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(kept.filter(col("neighbor_id").isNotNull).collect().map(key).sorted.toSeq ==
      plain.collect().map(key).sorted.toSeq,
      "keepIsolated must not alter the non-isolated edge set")
  }

  test("knnGraphFromProbed: NeighborTopK one-pass reduce == legacy " +
       "dropDuplicates+window spelling, value for value (r16)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
    val cent = graft.operators.Ivf.fitCentroids(e, "vec_id", "f", nlist = 16)
    val probed = e.select(col("vec_id"), col("f"),
        explode(graft.operators.Ivf.probeCellsCol(col("f"), cent, 4)).as("cell"))
      .localCheckpoint()
    val neu = graft.operators.Ivf.knnGraphFromProbed(probed, k = 5)
    // the pre-r16 spelling, inlined verbatim
    val wCap = Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    val cand = probed.withColumn("__r", row_number().over(wCap))
      .filter(col("__r") <= 512).drop("__r")
    val cos = round(graft.functions.VectorOps.cosine(col("a.f"), col("b.f")), 6)
    val edges = probed.as("a").join(cand.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
              col("b.vec_id").as("neighbor_id"), cos.as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val legacy = edges.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 5).drop("__rn")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(neu.collect().map(key).sorted.toSeq ==
      legacy.collect().map(key).sorted.toSeq,
      "one-pass top-k reduce diverged from the window spelling")
  }

  test("fitCentroidsFromArrays == fitCentroids on the same corpus " +
       "(driver-side sample selection is bit-identical, r16)") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
    val cluster = graft.operators.Ivf.fitCentroids(e, "vec_id", "f", nlist = 8)
    val rows = e.collect()
    val ids = rows.map(_.getLong(0))
    val dim = rows.head.getSeq[Double](1).length
    val flat = rows.flatMap(_.getSeq[Double](1))
    val driver = graft.operators.Ivf.fitCentroidsFromArrays(
      ids, flat, dim, nlist = 8)
    assert(cluster.length == driver.length &&
      cluster.zip(driver).forall { case (a, b) => a.sameElements(b) },
      "driver-side centroid fit diverged from the cluster fit")
  }

  test("ann serve: dimension mismatch fails loudly") {
    import spark.implicits._
    val shard = graft.operators.AnnServe.fitShard(
      Seq((1L, Array(1.0, 2.0, 3.0))).toDF("vec_id", "embedding"))
    val bad = Seq((9L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.operators.AnnServe.topkRows(bad, shard, k = 1).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("does not match"))),
      s"expected the loud shard-mismatch guard, got: $e")
  }
}
