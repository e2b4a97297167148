package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Scale soak harness: synthesizes documents/embeddings corpora at
  * 1×/4×/16×/48× the sf0.1 tables WITH planted pathological skew, then
  * times the dedup/ANN family at each scale — the empirical check that
  * the caps (bandBucketCap, bucketCap, cellCap, df cap, span hash-agg)
  * bound runtime, i.e. growth stays near-linear where plan shape says
  * it must.
  *
  * Planted pathologies (every scale):
  *  - one boilerplate 5-word span appended to EVERY document — span df
  *    = corpus size (240k at 48×, the ≥1e5 hot-key regime) stressing
  *    `dedupSpans`' no-window hash agg and the shingle df caps;
  *  - one mutual near-dup cluster of N/12 documents (20k members at
  *    48×, the scaled analog of a 100k-member boilerplate cluster) —
  *    every LSH band bucket it lands in goes hot, stressing
  *    `bandBucketCap` star expansion;
  *  - one dense embedding cluster of N/12 near-identical vectors
  *    (cos ≈ 0.999) containing all 10 ANN query ids, stressing
  *    semantic-dedup `cellCap` and the IVF hot cell.
  *  - replicas of the base corpus are salted with a per-replica token
  *    every 2 words, so NO 3-word shingle survives across replicas and
  *    replicas do not near-duplicate each other at any threshold
  *    (growth in corpus size, not in duplicate density; the first soak
  *    salted every 5 words, which left 2 of every 5 shingles shared —
  *    jaccard ≈ 0.25 across replicas, above the 0.1 pair threshold, so
  *    pair counts grew quadratically in the replica count by
  *    construction rather than by pathology).
  *
  * Usage: `runMain graft.ProbeSoak <mode> [scales...]`, scales default
  * 1 4 16 48. `gen` writes the soak corpora under soak/ (gitignored);
  * `run` times the dedup/ANN family over them; `serve` and `stream`
  * read them too, so run `gen` at the same scales first. The other
  * modes are gates: a `require` fails the run when a bound the code
  * promises breaks.
  *  - `extract`, `linkrank`, `warc`, `cluster`, `bm25`: per-item cost
  *    stays flat as the corpus grows (`requireFlat`); 2+ scales, e.g.
  *    `1 2`, and `1 2 4` to anchor past the first reading's warm-up.
  *    `cluster` also gates shard balance at the last scale, which
  *    needs 4 or more (at x2, ~340 rows per shard vary past 1.2×).
  *  - `serve`: ANN serve tiers' footprint, merge invariance and top-1.
  *  - `knn2`: the kNN graph's recall, coverage and planted cluster.
  *  - `maintained`, `logio`: the maintained corpus and graph per batch;
  *    `logio` needs scales of 4 or more (`4 8`), since at x1 the fixed
  *    batches dwarf the standing corpus.
  *  - `xmodal [k]`: incremental cross-modal dedup over 8 batches of
  *    k thousand rows (default 20; k < 2 is not a valid gate setting).
  *  - `stream`: the streaming dedup twins' state bounds.
  * An unknown mode or too-small scales throw before a session is built.
  * The gates' recorded readings were taken at SPARK_GRAFT_CPUS=32.
  */
object ProbeSoak {
  val Sf01 = "/root/testdata/sf0.1"
  val OutRoot = "soak"
  val DefaultScales = Seq(1, 4, 16, 48)
  val Boiler = " the quick brown fox jumps"

  // (r6: dedup_minhash_stop was folded into dedup_minhash — the
  // stop-shingle filter is the production default now)
  val Queries = Seq("q_dedup_exact", "dedup_minhash",
    "q_span_dedup", "q_dedup_substrings", "q_ngram_jaccard",
    "q_dedup_incremental",
    "dedup_semantic", "dedup_embedding", "sim_ivf_topk", "sim_ivfpq_topk",
    "q_dsir_select", "q_decontaminate_fuzzy", "q_quality_classifier")

  /** Every mode by name; `main` runs the one its first argument names. */
  val Modes: Map[String, (SparkSession, Seq[Int]) => Unit] = Map(
    "gen" -> gen, "run" -> run, "extract" -> extract, "linkrank" -> linkrank,
    "warc" -> warc, "cluster" -> cluster, "bm25" -> bm25, "serve" -> serve,
    "maintained" -> maintained, "logio" -> logio, "xmodal" -> xmodal,
    "knn2" -> knn2, "stream" -> stream)

  /** The mode named `name`; throws, listing the valid modes, if none is. */
  def mode(name: String): (SparkSession, Seq[Int]) => Unit =
    Modes.getOrElse(name, throw new IllegalArgumentException(
      s"unknown ProbeSoak mode '$name'; valid modes: ${Modes.keys.toSeq.sorted.mkString(" ")}"))

  /** Refuses scales too small for a mode's gates (see the header);
    * `main` calls it before it builds a session. */
  private[graft] def requireValidScales(name: String, scales: Seq[Int]): Unit = {
    val why = name match {
      case "cluster" if scales.last < 4 => "cluster gates shard balance at the last " +
        "scale, which needs 4 or more (at x2, ~340 rows per shard vary past 1.2x)"
      case "logio" if scales.min < 4 => "logio needs scales of 4 or more " +
        "(at x1 the fixed batches dwarf the standing corpus)"
      case "xmodal" if scales.head < 2 => "xmodal needs k >= 2 (below 2k-row batches the " +
        "fixed AQE exchange floor of each advance reads as growth)"
      case _ => ""
    }
    require(why.isEmpty, s"$why; got ${scales.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("run")
    val body = mode(name)
    val given = args.drop(1).map(_.toInt).toSeq
    // xmodal's one argument is its batch size in thousands of rows
    val scales =
      if (given.nonEmpty) given else if (name == "xmodal") Seq(20) else DefaultScales
    requireValidScales(name, scales)
    val spark = Harness.session()
    // the streaming peak-state gates take max over recentProgress,
    // which keeps only the last N updates (default ~100) — raise it
    // far past any soak run's micro-batch count so the true peak is
    // never silently aged out of the window
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    // GRAFT_SOAK_ROCKSDB=1 swaps the state store to RocksDB — the
    // production answer once distinct-key state outgrows the heap
    // (the x48 substring cell holds 15.27M digests): same gates,
    // bounded memory, pure config. Proves the PLANS.md claim that
    // the state-store CHOICE is orthogonal to the operator shape.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      if (sys.env.get("GRAFT_SOAK_ROCKSDB").contains("1"))
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    try body(spark, scales) finally spark.stop()
  }

  // ---- shared gates and generators ---------------------------------------

  /** The scale a flatness gate compares the last reading against:
    * `scales(1)` when 3+ scales are given (the x1 reading carries
    * first-in-JVM warm-up), `scales(0)` when exactly two — there
    * `scales(1)` IS the last scale, and the gate would compare the last
    * reading with itself. */
  private[graft] def anchorScale(scales: Seq[Int]): Int =
    if (scales.length >= 3) scales(1) else scales(0)

  /** Requires the reading at the last scale to be at most
    * `factor` × the anchor scale's reading + `slack`: per-item cost
    * stays flat while the corpus grows. A no-op for a single scale. */
  private[graft] def requireFlat(what: String, readings: Map[Int, Double],
                                 scales: Seq[Int], factor: Double = 2.0,
                                 slack: Double = 0.0): Unit =
    if (scales.length >= 2) {
      val (a, z) = (anchorScale(scales), scales.last)
      require(readings(z) <= factor * readings(a) + slack,
        f"$what must stay flat as the corpus grows: " +
          f"x$a=${readings(a)}%.2f -> x$z=${readings(z)}%.2f")
    }

  private val lorem: String = {
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    (0 until 120).map(i => words(i % words.size) + (i % 9)).mkString(" ")
  }

  def genDocs(spark: SparkSession, s: Int): DataFrame = {
    val base = spark.read.parquet(s"$Sf01/documents.parquet")
    val n = base.count()
    val reps = spark.range(s).select(col("id").as("rep"))
    // replica 0 is the base corpus; others are salted every 5 words so
    // replicas are NOT near-dups of each other
    val salted = base.crossJoin(reps).select(
      (col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"),
          lit("((\\S+\\s+)\\S+)"),
          concat(lit("$1 zz"), col("rep").cast("string"), lit("x")))).as("text"),
      col("lang"), col("source"))
    val withBoiler = salted
      .withColumn("text", concat(col("text"), lit(Boiler)))
    // the planted near-dup cluster: n*s/12 docs, each the same lorem
    // paragraph + the boilerplate span + ONE unique trailing token
    val c = (n * s / 12).toInt
    val cluster = spark.range(c).select(
      (col("id") + lit(900000000L)).as("doc_id"),
      concat(lit(lorem), lit(Boiler), lit(" filler"), col("id").cast("string")).as("text"),
      lit("en").as("lang"), lit("soak_cluster").as("source"))
    withBoiler.unionByName(cluster)
      .withColumn("n_chars", length(col("text")))
  }

  def genEmbeddings(spark: SparkSession, s: Int): DataFrame = {
    val nBase = 2000L * s
    val c = nBase / 12
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding",
        ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val baseDir = Array.tabulate(64) { j =>
      val r = new java.util.Random(42L * 64 + j); r.nextGaussian().toFloat
    }
    spark.range(nBase + c).mapPartitions { ids =>
      ids.map { idr =>
        val id = idr
        val vec =
          if (id < c) {
            // dense cluster (includes the ANN query ids 0..9): base
            // direction + 1% jitter -> pairwise cos ~ 0.999
            val r = new java.util.Random(id * 2654435761L + 7)
            Array.tabulate(64)(j => baseDir(j) + 0.01f * r.nextGaussian().toFloat)
          } else {
            val r = new java.util.Random(id * 2654435761L + 7)
            Array.tabulate(64)(_ => r.nextGaussian().toFloat)
          }
        val norm = math.sqrt(vec.map(x => x.toDouble * x).sum).toFloat
        Row(id, vec.map(_ / norm).toSeq, (id % 10).toInt)
      }
    }(enc).toDF()
  }

  /** STRUCTURED-neighborhood corpus for the hard recall gate: every
    * group of 32 consecutive ids shares a seeded direction with 15%
    * per-dim jitter — within-group cos ≈ 0.98, cross-group ≈ 0 ± 0.12,
    * so each vector's exact top-5 lives inside its group and sampled
    * recall measures whether the probe path FINDS the neighborhood,
    * not tie-breaking luck on isotropic noise (where the nearest
    * neighbor of a random gaussian is barely closer than a random
    * point). Same schema as `genEmbeddings`. */
  def genGroupedEmbeddings(spark: SparkSession, s: Int): DataFrame = {
    val n = 2000L * s
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding",
        ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    spark.range(n).mapPartitions { ids =>
      ids.map { id =>
        val rg = new java.util.Random((id / 32) * 0x9E3779B97F4A7CL + 11)
        val dir = Array.tabulate(64)(_ => rg.nextGaussian().toFloat)
        val r = new java.util.Random(id * 2654435761L + 13)
        val vec = Array.tabulate(64)(j => dir(j) + 0.15f * r.nextGaussian().toFloat)
        val norm = math.sqrt(vec.map(x => x.toDouble * x).sum).toFloat
        Row(id, vec.map(_ / norm).toSeq, (id % 10).toInt)
      }
    }(enc).toDF()
  }

  /** `df` laid out for a byte-reproducible write: 32 partitions hashed
    * on the id `key`, each sorted by it, so every run of the same code
    * writes the same rows into the same part files in the same order
    * (a round-robin `repartition(32)` placed rows by task order). */
  private def reproducible(df: DataFrame, key: String): DataFrame =
    df.repartition(32, col(key)).sortWithinPartitions(key)

  /** The path of soak/x`s`/embeddings.parquet, generated first if missing. */
  private def soakEmbeddings(spark: SparkSession, s: Int): String = {
    val path = s"$OutRoot/x$s/embeddings.parquet"
    if (!new java.io.File(path).exists)
      reproducible(genEmbeddings(spark, s), "vec_id").write.mode("overwrite").parquet(path)
    path
  }

  /** The planted dense cluster (ids < `c`) keeps >= 90% of its members'
    * top-1 neighbours inside the cluster. Returns (inside, members). */
  private def requireClusterTop1(graph: DataFrame, c: Long, where: String): (Long, Long) = {
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val top1 = graph.withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1 && col("query_id") < c)
    val inside = top1.filter(col("neighbor_id") < c).count()
    val members = top1.count()
    require(members == 0 || inside >= members * 9 / 10,
      s"dense-cluster top-1 escaped the cluster$where: $inside/$members")
    (inside, members)
  }

  /** Distance-tolerant recall@5 of a kNN graph over `e`, on 200
    * hash-sampled nodes: a neighbour counts if its cos >= the exact
    * 5th-best - 1e-6, so neighbours tied at 6 dp with the exact ones
    * (thousands of them in the planted cluster) are not misses.
    * Computes the exact oracle once; the returned function gives
    * (hits, 5 · sampled nodes) for any graph over `e`. */
  private def tolerantRecall(e: DataFrame): DataFrame => (Long, Long) = {
    import graft.operators.AnnServe
    val sample = e.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(200).localCheckpoint(true)
    val floor5 = AnnServe.topkRows(sample, AnnServe.fitShard(e), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rs) => q -> (rs.map(_._2).min - 1e-6) }
    graph => {
      val got = graph.filter(col("query_id").isInCollection(floor5.keySet))
        .select("query_id", "cos").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val hits = got.groupBy(_._1).map { case (q, rs) =>
        math.min(5, rs.count(_._2 >= floor5(q)))
      }.sum
      (hits.toLong, 5L * floor5.size)
    }
  }

  /** Peak state rows of each of `q`'s state operators over all its
    * micro-batches (the final progress reads post-eviction and would
    * make a state bound trivial). */
  private def peakState(q: StreamingQuery): Seq[Long] = {
    val perBatch = q.recentProgress.toSeq.map(_.stateOperators)
      .filter(_.nonEmpty).map(_.map(_.numRowsTotal).toSeq)
    if (perBatch.isEmpty) Seq.empty else perBatch.transpose.map(_.max)
  }

  // ---- modes ---------------------------------------------------------------

  private def gen(spark: SparkSession, scales: Seq[Int]): Unit =
    scales.foreach { s =>
      val dir = s"$OutRoot/x$s"
      reproducible(genDocs(spark, s), "doc_id").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      reproducible(genEmbeddings(spark, s), "vec_id").write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val nd = spark.read.parquet(s"$dir/documents.parquet").count()
      val ne = spark.read.parquet(s"$dir/embeddings.parquet").count()
      println(s"[soak] generated x$s: $nd docs, $ne vectors")
    }

  private def run(spark: SparkSession, scales: Seq[Int]): Unit = {
    // GRAFT_SOAK_ONLY=a,b,c narrows the timed family (re-soak one
    // query across scales without paying for the rest)
    val only = sys.env.get("GRAFT_SOAK_ONLY").map(_.split(",").toSet)
    scales.foreach { s =>
      val dir = s"$OutRoot/x$s"
      Queries.filter(q => only.forall(_.contains(q))).foreach { name =>
        val fn = SparkEntry.queries(name)
        // min-of-2 per cell (the growth table's contract) with the
        // same state sweep Bench runs — localCheckpoint'ed edge lists
        // otherwise pile up across the 9-query × 4-scale sweep and
        // later cells pay for earlier ones
        def once(): (Double, Long) = {
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).count()
          val t1 = System.nanoTime()
          Harness.sweep(spark)
          ((t1 - t0) / 1e9, rows)
        }
        val (ta, rows) = once()
        val (tb, _) = once()
        println(f"[soak] scale=x$s%-3d query=$name%-22s t=${math.min(ta, tb)}%8.2fs rows=$rows")
      }
    }
  }

  private def extract(spark: SparkSession, scales: Seq[Int]): Unit = {
    // Markup-extraction scale probe: wrap + extract are pure per-row
    // HOF/regex expressions (zero shuffle), so the cost model is
    // per-doc CPU — the gate is LINEARITY of per-doc time across a
    // 12× corpus growth (interpreted-HOF folds are the one lurking
    // hazard; the verify guide's CharTrigramBuckets lesson). Salted
    // replica corpora from genDocs keep content realistic (~1 KB).
    import graft.operators.Extract
    var perDoc = Map.empty[Int, Double]
    scales.foreach { s =>
      val docs = genDocs(spark, s)
        .select("doc_id", "text").repartition(32).localCheckpoint()
      val n = docs.count()
      val wrapped = Extract.htmlWrapped(docs, "doc_id", "text")
      val run = () => Extract.extractHtml(wrapped, "doc_id", "html")
        .agg(sum("n_words"), sum("n_kept"), count(lit(1))).collect()(0)
      run() // warm (codegen + broadcast init)
      val t0 = System.nanoTime()
      val r = run()
      val dt = (System.nanoTime() - t0) / 1e9
      perDoc += s -> (dt * 1e6 / n)
      println(f"[soak-extract] x$s%-3d n=$n time=$dt%.2fs " +
        f"perDoc=${dt * 1e6 / n}%.1fus kept=${r.getLong(1)} words=${r.getLong(0)}")
      require(r.getLong(1) >= n, s"every doc must keep its <p> block: ${r.getLong(1)} < $n")
    }
    requireFlat("extraction per-doc time (us)", perDoc, scales)
  }

  private def linkrank(spark: SparkSession, scales: Seq[Int]): Unit = {
    // Link-graph + PageRank scale probe. Cost model: link extraction
    // is per-row scan work (linear), the host graph is the DISTINCT
    // (host, host) aggregate — so (1) per-doc wall time must stay
    // flat as the corpus grows (the distinct collapses replicas; the
    // iterations run over the same small graph), and (2) the
    // PageRank RESULT must be bit-identical across corpus
    // replication: genDocs replicas reuse the base sources, so the
    // distinct host graph — already saturated at x1 — cannot change,
    // and any drift would mean corpus volume leaked into the graph
    // computation.
    import graft.operators.LinkGraph
    var perDoc = Map.empty[Int, Double]
    var prBase: Seq[(String, Long)] = null
    scales.foreach { s =>
      val docs = genDocs(spark, s)
        .select("doc_id", "source", "lang").repartition(32).localCheckpoint()
      val n = docs.count()
      val pages = LinkGraph.linkPageWrapped(docs, "doc_id", "source", "lang")
      val run = () => LinkGraph.pageRankHosts(
          LinkGraph.linkEdges(pages, "doc_id", "url", "html"))
        .orderBy("host").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      run() // warm (codegen + broadcast init)
      val t0 = System.nanoTime()
      val pr = run()
      val dt = (System.nanoTime() - t0) / 1e9
      perDoc += s -> (dt * 1e6 / n)
      println(f"[soak-linkrank] x$s%-3d n=$n time=$dt%.2fs " +
        f"perDoc=${dt * 1e6 / n}%.1fus hosts=${pr.length} " +
        f"top=${pr.maxBy(_._2)._1}")
      if (prBase == null) prBase = pr
      else require(pr == prBase,
        s"host PageRank must be invariant under corpus replication " +
          s"(the graph is the distinct host aggregate); diverged at x$s")
    }
    requireFlat("link-graph per-doc time (us)", perDoc, scales)
  }

  private def warc(spark: SparkSession, scales: Seq[Int]): Unit = {
    // WARC-ingestion scale probe: generation groups per-doc records
    // into files (one bounded shuffle), then the native offset walk
    // parses each file in one pass — per-RECORD parse time must stay
    // FLAT as the corpus grows (the walk is linear in file bytes and
    // files grow with corpus/nFiles, so superlinearity here would
    // mean an accidental quadratic in the scan or explode). Salted
    // replica corpora from genDocs keep payloads realistic (~1 KB).
    import graft.operators.Warc
    var perRec = Map.empty[Int, Double]
    scales.foreach { s =>
      val docs = genDocs(spark, s)
        .select("doc_id", "text", "source", "lang")
        .repartition(32).localCheckpoint()
      // nFiles grows with the corpus (a crawl ships more files, not
      // ever-fatter ones) so records/file stays ~constant and under
      // the walk's record bound
      val files = Warc.warcFiles(
          Warc.warcRecords(docs, "doc_id", "text", "source"),
          nFiles = Some(4096 * s))
        .localCheckpoint() // parse-only timing: generation staged out
      val run = () => Warc.responses(Warc.parseWarc(files))
        .agg(count(lit(1)), sum(length(col("body")))).collect()(0)
      run() // warm
      val t0 = System.nanoTime()
      val r = run()
      val dt = (System.nanoTime() - t0) / 1e9
      val n = r.getLong(0)
      perRec += s -> (dt * 1e6 / n)
      println(f"[soak-warc] x$s%-3d responses=$n time=$dt%.2fs " +
        f"perRec=${dt * 1e6 / n}%.1fus bodyBytes=${r.getLong(1)}")
    }
    requireFlat("WARC per-record parse time (us)", perRec, scales)
  }

  private def cluster(spark: SparkSession, scales: Seq[Int]): Unit = {
    // Integer-k-means + training-layout scale probe. Cost model:
    // each EM iteration is one scan (native argmin) + a (k·dim)-keyed
    // agg whose shuffle/collect is CONSTANT-SIZE, so per-vector fit
    // time must stay flat as the corpus grows; epochShuffle's shard
    // hash must stay balanced (its windows are the only wide op);
    // the CMS sketch is depth·width cells regardless of corpus and
    // its estimates may never undercount.
    import graft.operators.{Cluster, Layout, Sketches}
    var perVec = Map.empty[Int, Double]
    scales.foreach { s =>
      val emb = genEmbeddings(spark, s).repartition(32).localCheckpoint()
      val n = emb.count()
      val run = () => Cluster.kmeansClusters(emb, "vec_id", "embedding")
        .agg(count(lit(1)), sum(col("dist"))).collect()(0)
      run() // warm (codegen + fit-path init)
      val t0 = System.nanoTime()
      val r = run()
      val dt = (System.nanoTime() - t0) / 1e9
      perVec += s -> (dt * 1e6 / n)
      println(f"[soak-cluster] x$s%-3d n=$n fit+assign=$dt%.2fs " +
        f"perVec=${dt * 1e6 / n}%.1fus sumDist=${r.getLong(1)}")
      require(r.getLong(0) == n, s"assignment must cover the corpus")
    }
    requireFlat("k-means per-vector time (us)", perVec, scales)
    // epoch shuffle: hash-shard balance at the largest corpus
    val docs = genDocs(spark, scales.last).select("doc_id")
      .repartition(32).localCheckpoint()
    val shardSizes = Layout.epochShuffle(docs, "doc_id")
      .groupBy("epoch", "shard").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(2))
    val (mn, mx) = (shardSizes.min, shardSizes.max)
    println(f"[soak-cluster] epochShuffle shards=${shardSizes.length} " +
      f"min=$mn max=$mx skew=${mx.toDouble / mn}%.3f")
    require(mx <= 1.2 * mn,
      s"md5 shard hash must stay balanced: min=$mn max=$mx")
    // CMS: constant-size sketch, overestimate-only at every scale
    val docsText = genDocs(spark, scales.last).select("doc_id", "text")
      .repartition(32).localCheckpoint()
    val hh = Sketches.cmsHeavyHitters(docsText, "text", topK = 50).collect()
    require(hh.forall(_.getAs[Long]("err") >= 0L),
      "CMS estimates must never undercount")
    println(f"[soak-cluster] cms top=${hh.head.getAs[String]("term")} " +
      f"est=${hh.head.getAs[Long]("est")} maxErr=${hh.map(_.getAs[Long]("err")).max}")
  }

  private def bm25(spark: SparkSession, scales: Seq[Int]): Unit = {
    // BM25-serve scale probe. Cost model: a query's serve cost is
    // the postings it TOUCHES (sum of df over its matched terms) —
    // the boilerplate span gives every replica corpus hot terms
    // whose lists grow linearly with the corpus, which is exactly
    // the document-partitioned reality (you shard the index, each
    // node walks its slice). The gate is per-touched-posting serve
    // time FLAT across a 12× corpus: superlinearity would mean the
    // scan or the top-k insertion went accidentally quadratic.
    import graft.operators.Retrieval
    var perPost = Map.empty[Int, Double]
    scales.foreach { s =>
      val docs = genDocs(spark, s).select("doc_id", "text")
        .repartition(32).localCheckpoint()
      val tf0 = System.nanoTime()
      val ix = Retrieval.fitBm25Index(docs, "doc_id", "text")
      val fitS = (System.nanoTime() - tf0) / 1e9
      val queries = Retrieval.queryTermArrays(docs, "doc_id", "text")
        .localCheckpoint()
      // touched postings of the feed, from the fitted index
      val dfMap = ix.terms.zip(ix.df).toMap
      val touched = queries.collect()
        .map(_.getSeq[String](1).map(t => dfMap.getOrElse(t, 0L)).sum).sum
      val run = () => Retrieval.bm25ServeRows(queries, ix)
        .agg(count(lit(1))).collect()(0).getLong(0)
      run() // warm
      val t0 = System.nanoTime()
      val rows = run()
      val dt = (System.nanoTime() - t0) / 1e9
      perPost += s -> (dt * 1e9 / math.max(1L, touched))
      println(f"[soak-bm25] x$s%-3d terms=${ix.terms.length} " +
        f"postings=${ix.postDoc.length} fit=$fitS%.2fs " +
        f"serve=$dt%.2fs rows=$rows touched=$touched " +
        f"perPosting=${dt * 1e9 / math.max(1L, touched)}%.1fns")
      require(rows > 0, "serve must emit rows")
    }
    requireFlat("BM25 per-touched-posting serve time (ns)", perPost, scales)
  }

  private def serve(spark: SparkSession, scales: Seq[Int]): Unit = {
    // ANN serve soak: shard growth 1x..96x against a FIXED 10-query
    // feed. What 100 TB-scale needs to hold: (a) serve wall time is
    // linear in shard size (one O(n*dim) / O(n*m) scan per query, no
    // hidden superlinear term); (b) the PQ shard's byte footprint is
    // dim*8/m times smaller than the raw shard (the claim that
    // decides how much corpus one serving node holds); (c) results
    // stay semantically right at every scale (the planted dense
    // cluster dominates each query's top-1). (b) and (c) are hard
    // gates; (a) is the printed table.
    import graft.operators.AnnServe
    scales.foreach { s =>
      val dir = s"$OutRoot/x$s"
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val queries = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 10).localCheckpoint(true)
      val f0 = System.nanoTime()
      val raw = AnnServe.fitShard(e)
      val f1 = System.nanoTime()
      val model = operators.Pq.fit(e, "vec_id", "embedding", m = 16, ksub = 16)
      val pq = AnnServe.fitPqShard(e, model)
      val f2 = System.nanoTime()
      val rawBytes = raw.ids.length * 8L + raw.flatVecs.length * 8L
      val pqBytes = pq.ids.length * 8L + pq.flatCodes.length
      require(pqBytes * 8 < rawBytes,
        s"PQ shard not smaller: $pqBytes vs $rawBytes") // 64-dim m=16 => 32x
      def rep(body: => Long): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
      val tRaw = rep(AnnServe.topkRows(queries, raw).count())
      val tPq = rep(AnnServe.pqTopkRows(queries, pq).count())
      // SQ8 tier (r8): one byte per component + the per-dim line +
      // fitted norms — the middle memory point; serve must stay scan-
      // flat like the other tiers and the 8x vector-payload claim
      // must hold (whole-shard ratio is lower: ids + norms overhead)
      val sq = AnnServe.fitSqShard(e)
      val sqBytes = sq.ids.length * 8L + sq.codes.length +
        sq.norms.length * 8L + sq.dim * 16L
      require(sq.codes.length == raw.flatVecs.length && // 1 B vs 8 B per component
        sqBytes * 4 < rawBytes,
        s"SQ shard not smaller: $sqBytes vs $rawBytes")
      val tSq = rep(AnnServe.sqTopkRows(queries, sq).count())
      val sqTop1 = AnnServe.sqTopkRows(queries, sq, k = 1)
        .agg(min(col("cos"))).head.getDouble(0)
      require(sqTop1 >= 0.99,
        s"SQ8 must keep the planted cluster's top-1, got $sqTop1")
      // cross-shard merge invariance (r8): the sharded serve must
      // return byte-identical answers for ANY shard count at every
      // scale — the correctness half of the 100 TB fan-out contract
      val tup = (r: Row) => (r.getLong(0), r.getLong(1), r.getDouble(2))
      val singleAns = AnnServe.topkRows(queries, raw)
        .orderBy("query_id", "neighbor_id").collect().map(tup).toSeq
      Seq(2, 5).foreach { ns =>
        val sh0 = System.nanoTime()
        val shards = AnnServe.fitShards(e, nShards = ns)
        val sh1 = System.nanoTime()
        val ans = AnnServe.topkRowsSharded(queries, shards)
          .orderBy("query_id", "neighbor_id").collect().map(tup).toSeq
        val sh2 = System.nanoTime()
        require(ans == singleAns,
          s"sharded serve diverged from single shard at nShards=$ns scale x$s")
        println(f"[soak-serve] x$s%-3d nShards=$ns " +
          f"fitShards=${(sh1 - sh0) / 1e9}%5.2fs " +
          f"serveMerged=${(sh2 - sh1) / 1e9}%5.2fs invariant=true")
      }
      // SQ8 cross-shard merge invariance — same gate as the raw tier
      val sqSingle = AnnServe.sqTopkRows(queries, sq)
        .orderBy("query_id", "neighbor_id").collect().map(tup).toSeq
      Seq(2, 5).foreach { ns =>
        val shards = AnnServe.fitSqShards(e, nShards = ns)
        val ans = AnnServe.sqTopkRowsSharded(queries, shards)
          .orderBy("query_id", "neighbor_id").collect().map(tup).toSeq
        require(ans == sqSingle,
          s"sharded SQ serve diverged from single shard at nShards=$ns scale x$s")
        println(f"[soak-serve] x$s%-3d sq nShards=$ns invariant=true")
      }
      val top1 = AnnServe.topkRows(queries, raw, k = 1)
        .agg(min(col("cos"))).head.getDouble(0)
      require(top1 >= 0.99,
        s"planted dense cluster must dominate every top-1, got $top1")
      println(f"[soak-serve] x$s%-3d n=${raw.ids.length}%8d " +
        f"fitRaw=${(f1 - f0) / 1e9}%5.2fs fitPq=${(f2 - f1) / 1e9}%5.2fs " +
        f"serveRaw=$tRaw%5.2fs serveSq=$tSq%5.2fs servePq=$tPq%5.2fs " +
        f"rawMB=${rawBytes / 1e6}%8.1f sqMB=${sqBytes / 1e6}%6.2f " +
        f"pqMB=${pqBytes / 1e6}%6.2f top1=$top1%.4f")
      // GRAFT_SOAK_KNN=0 skips the kNN-graph pass (proven separately
      // by the knn2 mode; at the two-level scales it dominates the
      // serve sweep's wall time)
      if (sys.env.get("GRAFT_SOAK_KNN").contains("0")) {
        println(f"[soak-serve] x$s%-3d knnGraph=skipped")
      } else {
        // IVF multi-probe kNN GRAPH at this scale — the q_knn_graph_ivf
        // shape with its adaptive nlist (~32/cell): work is
        // n·occupancy·nprobe² cosines, so wall time must track n.
        val g0 = System.nanoTime()
        // the SAME operator the declared query runs — not a copy, so
        // query tuning can never silently diverge from the soak
        val graph = operators.Ivf.knnGraph(e, "vec_id", "embedding",
            k = 5, nprobe = 6, targetCell = 32)
          .localCheckpoint()
        val nEdgesOut = graph.count()
        val g1 = System.nanoTime()
        val nlist = math.max(16L,
          math.min(4096L, raw.ids.length.toLong / 32)).toInt
        // planted cluster ≈ n/12 of the base, n/13 of base+cluster
        val (inCl, totCl) = requireClusterTop1(graph, raw.ids.length / 13, "")
        println(f"[soak-serve] x$s%-3d knnGraph=${(g1 - g0) / 1e9}%6.2fs " +
          f"nlist=$nlist%5d edges=$nEdgesOut%9d clusterTop1=$inCl/$totCl")
        // GRAPH-BEAM serve tier over the just-built graph (r11): per-
        // query work is visited-bounded (≤ maxVisit nodes), so serve
        // wall time must stay ~FLAT as the shard grows — the printed
        // column is the claim; the flat tier above is the linear
        // yardstick. Quality gates are tie-robust (the planted dense
        // cluster is thousands of cos≈0.999 near-ties, so pair-set
        // recall would punish legitimate equal-value picks):
        // (a) every query's top-1 stays in the planted cluster
        // (cos ≥ 0.99); (b) quality@10 — the beam's 10th-best cos
        // within 1e-3 of the exact serve's 10th-best for ≥ 9/10
        // queries.
        val gs0 = System.nanoTime()
        val gShard = AnnServe.fitGraphShard(e, graph)
        val gs1 = System.nanoTime()
        val tBeam = rep(AnnServe.graphTopkRows(queries, gShard).count())
        val beamRows = AnnServe.graphTopkRows(queries, gShard)
          .collect().map(tup)
        val beamTop1 = beamRows.groupBy(_._1).map(_._2.map(_._3).max).min
        require(beamTop1 >= 0.99,
          s"graph-beam top-1 must stay in the planted cluster, got $beamTop1")
        val exact10th = singleAns.groupBy(_._1)
          .map { case (q, rs) => q -> rs.map(_._3).min }
        val beam10th = beamRows.groupBy(_._1)
          .map { case (q, rs) => q -> rs.map(_._3).min }
        val qOk = exact10th.count { case (q, v) =>
          beam10th.get(q).exists(_ >= v - 1e-3) }
        require(qOk * 10 >= exact10th.size * 9,
          s"graph-beam quality@10 held for only $qOk/${exact10th.size} queries")
        println(f"[soak-serve] x$s%-3d graphBeam fit=${(gs1 - gs0) / 1e9}%5.2fs " +
          f"serve=$tBeam%5.2fs top1=$beamTop1%.4f quality10=$qOk/${exact10th.size}")
      }
    }
  }

  private def maintained(spark: SparkSession, scales: Seq[Int]): Unit = {
    // VERDICT r14 #6 — the standing-state soak ladder for the two
    // maintained DRAINS (continuous corpus + maintained kNN graph),
    // extended to ≥32× with per-batch cost-flatness gates. Method:
    // bootstrap the standing state from the x{s} soak corpus (one
    // advance), then TIME one fixed-size arrival batch (500 rows)
    // absorbed as a delta segment (snapshot cadence 1000). The
    // declared per-batch cost model is a fixed scheduler floor plus
    // terms LINEAR in the standing size (the |old|·|new| serve pass;
    // the batch-band × standing-band candidate join) — so the gate
    // is that the timed advance grows by at most 2.5× (+1 s) while
    // the standing state grows 4×: any quadratic term (all-pairs
    // candidates, corpus-sized rewrite on the log path) would blow
    // straight through it. The graph-completeness invariant
    // (|edges| == n·min(k,n−1)) is re-checked AFTER the advance —
    // the r15 preverifiedEdges fast path must stay sound at scale.
    import graft.streaming.{CorpusPipeline, GraphStream, VersionedState}
    val batchRows = 500
    var graphT = Map.empty[Int, Double]
    var corpusT = Map.empty[Int, Double]
    scales.foreach { s =>
      val e = spark.read.parquet(soakEmbeddings(spark, s))
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint(true)
      // fixed arrival slice, present at every scale (ids are dense
      // from 0); standing = everything else
      val arriving = e.filter(col("vec_id") >= 1000 &&
          col("vec_id") < 1000 + batchRows).localCheckpoint(true)
      val standing = e.filter(col("vec_id") < 1000 ||
          col("vec_id") >= 1000 + batchRows).localCheckpoint(true)
      val nOld = standing.count()

      // ---- maintained kNN-graph drain --------------------------------
      val groot = java.nio.file.Files.createTempDirectory("graft_soak_g").toString
      val g = new GraphStream.MaintainedGraph(spark, groot, 5,
        idCol = "vec_id", vecCol = "embedding", compactEvery = 1000)
      g.advance(0L, standing): Unit
      val g0 = System.nanoTime()
      g.advance(1L, arriving): Unit
      val g1 = System.nanoTime()
      val nAll = nOld + batchRows
      val gEdges = g.edges.count()
      require(gEdges == nAll * math.min(5L, nAll - 1),
        s"maintained graph incomplete after the soak advance at x$s: " +
          s"$gEdges edges for $nAll vectors")
      VersionedState.deleteRecursively(groot)
      graphT += s -> (g1 - g0) / 1e9

      // ---- continuous-corpus drain -----------------------------------
      // soak docs re-keyed onto the embedding ids so every doc
      // carries a vector (the pipeline's feed is documents⋈embeddings)
      val docsN = genDocs(spark, s).select(col("doc_id"), col("text"))
        .withColumn("__i",
          row_number().over(Window.orderBy(col("doc_id"))) - 1)
        .localCheckpoint(true)
      val feed = docsN.join(e, docsN("__i") === e("vec_id"))
        .select(col("vec_id").as("doc_id"), col("text"), col("embedding"))
        .localCheckpoint(true)
      val arrivingC = feed.filter(col("doc_id") >= 1000 &&
          col("doc_id") < 1000 + batchRows).localCheckpoint(true)
      val standingC = feed.filter(col("doc_id") < 1000 ||
          col("doc_id") >= 1000 + batchRows).localCheckpoint(true)
      val croot = java.nio.file.Files.createTempDirectory("graft_soak_c").toString
      val mc = new CorpusPipeline.MaintainedCorpus(spark, croot, 5,
        compactEvery = 1000)
      mc.advance(0L, standingC): Unit
      val c0 = System.nanoTime()
      mc.advance(1L, arrivingC): Unit
      val c1 = System.nanoTime()
      val keptN = mc.kept.count()
      val cEdges = mc.graph.edges.count()
      require(cEdges == keptN * math.min(5L, keptN - 1),
        s"corpus-pipeline graph incomplete after the soak advance at " +
          s"x$s: $cEdges edges for $keptN kept docs")
      VersionedState.deleteRecursively(croot)
      corpusT += s -> (c1 - c0) / 1e9
      println(f"[soak-maintained] x$s%-3d standing=$nOld%8d " +
        f"graphAdvance=${graphT(s)}%6.2fs corpusAdvance=${corpusT(s)}%6.2fs " +
        f"(batch=$batchRows, kept=$keptN)")
    }
    requireFlat("maintained-graph per-batch advance (s)", graphT, scales,
      factor = 2.5, slack = 1.0)
    requireFlat("continuous-corpus per-batch advance (s)", corpusT, scales,
      factor = 2.5, slack = 1.0)
    if (scales.length >= 2) {
      val (a, z) = (anchorScale(scales), scales.last)
      println(f"[soak-maintained] GATES OK: graph x$a=${graphT(a)}%.2fs -> " +
        f"x$z=${graphT(z)}%.2fs, corpus x$a=${corpusT(a)}%.2fs -> x$z=${corpusT(z)}%.2fs")
    }
  }

  private def logio(spark: SparkSession, scales: Seq[Int]): Unit = {
    // WRITE-VOLUME soak for the delta segments (r11, VERDICT r10 #4):
    // the production claim is "O(|changed|) write I/O per batch"
    // (GraphStream.scala header) vs a snapshot's O(n) full write.
    // MEASURE it: same FIXED-size arrival batches absorbed into a
    // standing graph at snapshot cadence 1 (every version a snapshot)
    // and at cadence nBatches (deltas between two snapshots),
    // bytes written per batch = new files under the state dir after
    // each advance (files, not net dir size — retention deletes must
    // not offset writes). Gates:
    //  (a) within a scale, every non-compaction log batch writes
    //      ≤ 25% of the cadence-1 same-batch bytes;
    //  (b) across scales (run with 2+ scales, e.g. 48 96), the
    //      snapshot per-batch bytes grow with the corpus (≥ 1.5× at
    //      2× n) while the log per-batch bytes stay flat (≤ 1.5×) —
    //      |changed| is fixed by construction, so this is exactly
    //      "log ≤ c·|changed| while snapshot grows O(n)".
    // The compaction batch (every compactEvery-th) deliberately pays
    // a full snapshot — printed, excluded from (a)/(b), its bound is
    // replay length not write volume.
    import graft.streaming.{GraphStream, VersionedState}
    val batchRows = 500
    val nBatches = 4
    def filesUnder(root: java.io.File): Map[String, Long] = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      def rec(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
        else out(f.getPath) = f.length()
      rec(root); out.toMap
    }
    val perScale = scales.map { s =>
      val e = spark.read.parquet(soakEmbeddings(spark, s)).localCheckpoint(true)
      val holdout = e.select("vec_id").orderBy(col("vec_id").desc)
        .limit(nBatches * batchRows).collect().map(_.getLong(0))
      val cut = holdout.min
      val boot = e.filter(col("vec_id") < cut).localCheckpoint(true)
      val n = boot.count()
      val batches = holdout.sorted.grouped(batchRows).toSeq.map(ids =>
        e.filter(col("vec_id").isInCollection(ids)).localCheckpoint(true))
      val written = Seq(1, nBatches).map { every =>
        val state = java.nio.file.Files
          .createTempDirectory(s"graft_logio_c$every").toString
        val g = new GraphStream.MaintainedGraph(spark, state, k = 5,
          compactEvery = every)
        g.advance(1L, boot)
        var seen = filesUnder(new java.io.File(state))
        val perBatch = batches.zipWithIndex.map { case (b, i) =>
          g.advance(2L + i, b)
          val now = filesUnder(new java.io.File(state))
          val w = now.filterNot { case (p, _) => seen.contains(p) }.values.sum
          seen = now
          w
        }
        VersionedState.deleteRecursively(state)
        every -> perBatch
      }.toMap
      val snap = written(1); val log = written(nBatches)
      // compaction lands on the LAST batch (bootstrap snapshot at v=1,
      // deltas at v=2..compactEvery, snapshot again at v=1+compactEvery)
      val logDelta = log.dropRight(1); val snapDelta = snap.dropRight(1)
      logDelta.zip(snapDelta).zipWithIndex.foreach { case ((l, sn), i) =>
        require(l <= sn / 4,
          s"x$s batch ${i + 1}: log wrote $l bytes vs snapshot $sn — " +
            "the delta segment must stay well under the full snapshot")
      }
      println(f"[soak-logio] x$s%-3d n=$n%8d batch=$batchRows " +
        f"snapPerBatch=${snapDelta.map(_ / 1e6).map(v => f"$v%.2f").mkString("/")}MB " +
        f"logPerBatch=${logDelta.map(_ / 1e3).map(v => f"$v%.1f").mkString("/")}KB " +
        f"compactionBatch=${log.last / 1e6}%.2fMB (snapshot relands, by design)")
      (s, n, snapDelta.map(_.toDouble).sum / snapDelta.size,
       logDelta.map(_.toDouble).sum / logDelta.size)
    }
    perScale.sliding(2).foreach {
      case Seq((s1, n1, snap1, log1), (s2, n2, snap2, log2)) if n2 > n1 =>
        val nRatio = n2.toDouble / n1
        val snapRatio = snap2 / snap1
        val logRatio = log2 / log1
        require(snapRatio >= 1.0 + (nRatio - 1.0) * 0.5,
          f"snapshot per-batch bytes must grow with the corpus: x$s1 -> x$s2 " +
            f"ratio $snapRatio%.2f at corpus ratio $nRatio%.2f")
        require(logRatio <= 1.5,
          f"log per-batch bytes must stay flat at fixed |changed|: " +
            f"x$s1 -> x$s2 ratio $logRatio%.2f")
        println(f"[soak-logio] x$s1 -> x$s2: corpus ${nRatio}%.2fx " +
          f"snapshotBytes ${snapRatio}%.2fx logBytes ${logRatio}%.2fx " +
          "(log flat, snapshot O(n) — claim measured)")
      case _ => ()
    }
  }

  private def xmodal(spark: SparkSession, scales: Seq[Int]): Unit = {
    // Cross-modal incremental-maintenance cost probe (r11): the
    // rewrite's claim is that per-batch work is bounded by the
    // TOUCHED digest groups and grid cells, not the accumulated
    // corpus. Feed shape: each batch clusters around its own
    // direction (new content clusters — the realistic live-feed
    // locality), so a batch touches ~one cell ring while the corpus
    // accumulates many. Yardstick: the r10 spelling — re-run the
    // whole batch operator over the accumulated state every batch.
    //
    // The gated metric is SHUFFLE VOLUME (records exchanged per
    // batch), not wall time: the recompute spelling re-exchanges the
    // whole corpus every batch (grid window + CC over all rows),
    // while the incremental advance exchanges only batch/touched
    // rows — that gap is what decides the 100 TB posture, and it is
    // scale-INDEPENDENT, unlike local-mode wall time where the
    // incremental's larger per-batch job count (~15 small jobs for
    // state rewrites vs one chain) dominates until the corpus
    // outgrows memory-speed scans (both spellings' wall times are
    // printed; at probe scale the one-chain recompute is genuinely
    // faster on the clock, and the print keeps that honest).
    // Gates: (a) the incremental advance's shuffle volume stays
    // FLAT as the corpus grows (last ≤ 2× first) while the
    // recompute's grows with n (last ≥ 3× first at 8× corpus);
    // (b) by the last batch the incremental exchanges ≤ 25% of the
    // recompute's records; (c) the drained incremental verdict
    // equals the final recompute verdict row-for-row.
    import graft.streaming.CorpusStream
    import graft.operators.Dedup
    val nBatches = 8
    // The default, 20k-row batches (n=160k), is the GATED
    // configuration (the STATUS.md numbers of record). Sub-2k batches
    // are NOT a valid gate configuration: each advance carries a fixed
    // ~4k-record AQE exchange-materialization floor, so at tiny
    // batches the last batch's one extra materialization reads as a
    // 1.65× "growth" that is quantization, not corpus-growth — the
    // claim under test is flatness at realistic batch sizes.
    val perBatch = scales.head * 1000
    // REALISTIC payloads — the probe's honesty hinges on them: the
    // recompute spelling re-digests EVERY accumulated document and
    // re-normalizes every accumulated vector each batch, so KB-scale
    // texts and 64-dim embeddings (the documents/embeddings tables'
    // shape) are what make its per-batch cost real; toy 20-char
    // texts at dim 4 would hide exactly the work the incremental
    // spelling avoids.
    val dim = 64
    def batchDf(i: Int) = {
      val theta = i * 0.45 // ~26° apart → distinct cell neighborhoods
      val rows = (0 until perBatch).map { r =>
        val id = (i * perBatch + r).toLong
        // tiny deterministic jitter keeps vectors distinct inside
        // the batch's direction cluster (cells come from the first
        // gridDims=2 dims; the tail dims are small id-salted values)
        val j1 = ((id * 2654435761L) % 1000) / 1e5
        val j2 = ((id * 40503L) % 1000) / 1e5
        val vec = Seq(math.cos(theta) + j1, math.sin(theta) + j2) ++
          (2 until dim).map(d => ((id + d) % 13) / 1e3)
        // ~1 KB body per doc, globally unique by id (an early probe
        // salted bodies mod a prime, which made ~every doc a
        // cross-batch twin — touched groups then grow with n BY
        // CONSTRUCTION and the probe measures the pathology, not the
        // operator). Intended duplication: every 10th doc twins its
        // in-batch predecessor (exact-signal work), every 100th
        // twins a PREVIOUS batch's doc (bounded cross-batch
        // retraction — the late-smaller-id dethrone case).
        def bodyOf(i: Long) =
          (0 until 60).map(w => s"tok${i}x$w").mkString(" ")
        val text =
          if (r % 100 == 99 && i > 0) bodyOf(id - perBatch)
          else if (r % 10 == 9) bodyOf(id - 1)
          else bodyOf(id)
        (Option(id), Option(text), Option(id), Option(vec))
      }
      import spark.implicits._
      rows.toDF("doc_id", "text", "vec_id", "embedding")
        .repartition(8).localCheckpoint(true)
    }
    val batches = (0 until nBatches).map(batchDf)
    // shuffle-records listener: records written to shuffle per
    // measured section (listener events are async — flush the bus
    // before each read)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffled.addAndGet(
            ev.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten): Unit
        }
      })
    def measured(body: => Unit): (Double, Long) = {
      org.apache.spark.sql.graft.Bridge.waitForListenerBus(spark)
      val s0 = shuffled.get
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.Bridge.waitForListenerBus(spark)
      (dt, shuffled.get - s0)
    }
    val cm = new CorpusStream.MaintainedCrossmodal()
    val inc = batches.map { b => measured(cm.advance(b): Unit) }
    var dAll: Option[DataFrame] = None
    var eAll: Option[DataFrame] = None
    var lastRe: Option[DataFrame] = None
    val re = batches.map { b =>
      measured {
        val bd = b.filter(col("doc_id").isNotNull).select("doc_id", "text")
        val be = b.filter(col("vec_id").isNotNull).select("vec_id", "embedding")
        dAll = Some(dAll.map(_.unionByName(bd)).getOrElse(bd).localCheckpoint())
        eAll = Some(eAll.map(_.unionByName(be)).getOrElse(be).localCheckpoint())
        val v = Dedup.crossmodalDedup(dAll.get, eAll.get,
          "doc_id", "text", "vec_id", "embedding").localCheckpoint()
        lastRe = Some(v)
      }
    }
    val tInc = inc.map(_._1); val tRe = re.map(_._1)
    val shInc = inc.map(_._2); val shRe = re.map(_._2)
    val key = (r: Row) => (r.getLong(0), r.getInt(1), r.getString(2))
    val vInc = cm.verdict.collect().map(key).sortBy(_._1).toSeq
    val vRe = lastRe.get.select("doc_id", "keep", "reason")
      .collect().map(key).sortBy(_._1).toSeq
    require(vInc == vRe,
      "incremental cross-modal verdict diverged from the recompute " +
        "spelling at probe scale")
    val fmt = (xs: Seq[Double]) => xs.map(v => f"$v%.2f").mkString("/")
    val fmtL = (xs: Seq[Long]) => xs.map(v => (v / 1000.0).round * 1000)
      .map(v => s"${v / 1000}k").mkString("/")
    println(f"[soak-xmodal] perBatch=$perBatch n=${nBatches * perBatch} " +
      f"wallInc=${fmt(tInc)}s wallRe=${fmt(tRe)}s " +
      f"shufInc=${fmtL(shInc)} shufRe=${fmtL(shRe)} " +
      f"lastShufRatio=${shInc.last.toDouble / shRe.last}%.3fx identical=true")
    // flatness anchored at batch 2 — batch 1 has no standing state,
    // so its shuffle floor is lower than the steady state's
    require(shInc.last <= (1.5 * shInc(1)).toLong,
      s"incremental shuffle volume must stay flat as the corpus grows: " +
        s"${shInc(1)} (batch 2) -> ${shInc.last} records")
    require(shRe.last >= 3 * shRe.head,
      s"the recompute yardstick must show corpus-growth shuffle " +
        s"(probe invalid otherwise): ${shRe.head} -> ${shRe.last} records")
    require(shInc.last * 4 <= shRe.last,
      s"incremental must exchange <= 25% of the recompute's records by " +
        s"batch $nBatches: ${shInc.last} vs ${shRe.last}")
  }

  private def knn2(spark: SparkSession, scales: Seq[Int]): Unit = {
    // kNN-graph soak past the flat-nlist ceiling: x96 (208k vectors,
    // nlistNeeded 6.5k) and x192 (416k, 13k) take the two-level
    // residual-quantizer path; smaller scales stay flat as the
    // growth baseline. Hard gates per scale:
    //  (a) the planted dense cluster keeps >= 90% of its members'
    //      top-1 INSIDE the cluster;
    //  (b) at the first two-level scale (x96), a HEAD-TO-HEAD vs the
    //      old capped-flat path (nlist pinned at 4096, occupancy
    //      growing — exactly what r7 shipped): the two-level path
    //      must not be slower than the capped-flat path. Lifting the
    //      ceiling must not cost speed.
    // Reported, not gated: absolute sampled recall on the soak's bulk,
    // ISOTROPIC random noise — the worst case for any IVF (the
    // nearest neighbor of a random gaussian is barely closer than a
    // random point, so cell-sharing carries little signal). The recall
    // gates run on corpora with neighborhood structure: the real
    // embeddings table and the planted-group corpus below.
    import graft.operators.{AnnServe, Ivf}
    // REAL-DATA recall gate first: the two-level path FORCED on the
    // real sf0.1 embeddings table must recover >= 0.85 of the exact
    // graph's edges, like the flat path's 0.89 (measured in r7).
    locally {
      val real = Tables.embeddings(spark, Sf01)
      val shard = AnnServe.fitShard(real)
      val exact = AnnServe.topkRows(real, shard, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val two = Ivf.knnGraph(real, "vec_id", "embedding",
          k = 5, nprobe = 6, targetCell = 32, maxFlatNlist = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & two).size.toDouble / exact.size
      require(recall >= 0.85,
        s"two-level recall on the REAL sf0.1 embeddings $recall < 0.85")
      println(f"[soak-knn2] real-sf0.1 two-level recall@5=$recall%.3f " +
        f"(${(exact & two).size}/${exact.size}) gate>=0.85 OK")
    }
    scales.foreach { s =>
      val e = spark.read.parquet(soakEmbeddings(spark, s))
      val n = e.count()
      val nlistNeeded = math.max(16L, n / 32)
      val twoLevel = nlistNeeded > 4096
      val recallOf = tolerantRecall(e)
      val c = n / 13 // planted cluster = n/13 of base+cluster total
      val g0 = System.nanoTime()
      // the SAME operator the declared query runs, auto-switching at
      // the ceiling — not a copy, so tuning cannot silently diverge
      val graph = Ivf.knnGraph(e, "vec_id", "embedding",
          k = 5, nprobe = 6, targetCell = 32)
        .localCheckpoint()
      val nEdges = graph.count()
      val g1 = System.nanoTime()
      val (inCl, totCl) = requireClusterTop1(graph, c, s" at x$s (auto)")
      val (hits, total) = recallOf(graph)
      val recall = hits.toDouble / total
      println(f"[soak-knn2] x$s%-3d n=$n%8d knnGraph=${(g1 - g0) / 1e9}%7.2fs " +
        f"edges=$nEdges%9d nlistNeeded=$nlistNeeded%6d " +
        f"path=${if (twoLevel) "2level" else "flat"}%-6s " +
        f"tolRecall200=$recall%.3f clusterTop1=$inCl/$totCl " +
        f"msPerVec=${(g1 - g0) / 1e6 / n}%.3f")
      // NODE-coverage gate (keepIsolated variant): the plain graph
      // may silently omit vectors isolated in their probed cells;
      // the keepIsolated form must cover 100% of corpus ids, with
      // the isolated set named by NULL neighbors (Ivf.knnGraph doc).
      val coveredPlain = graph.select("query_id").distinct().count()
      val full = Ivf.knnGraphWithIsolated(graph, e, "vec_id")
        .localCheckpoint()
      val coveredFull = full.select("query_id").distinct().count()
      val isolated = full.filter(col("neighbor_id").isNull).count()
      require(coveredFull == n,
        s"keepIsolated covered $coveredFull of $n ids at x$s")
      require(coveredPlain + isolated == n,
        s"isolated count inconsistent at x$s: plain=$coveredPlain " +
          s"isolated=$isolated n=$n")
      println(f"[soak-knn2] x$s%-3d nodeCoverage plain=$coveredPlain/$n " +
        f"keepIsolated=$coveredFull/$n isolated=$isolated gate=100%% OK")
      // HARD recall floor on a STRUCTURED-neighborhood corpus of the
      // same n: planted 32-member groups put each vector's exact top-5
      // inside its group, so the SAME auto-switching operator must
      // recover >= 0.85 of the tolerant sampled neighbors at every
      // scale — both the flat path (small s) and the two-level path
      // (x96+) carry the gate. The isotropic-noise recall above stays
      // report-only; this corpus is where the number means retrieval.
      locally {
        val eS = genGroupedEmbeddings(spark, s).repartition(32)
          .localCheckpoint()
        val r0 = System.nanoTime()
        val graphS = Ivf.knnGraph(eS, "vec_id", "embedding",
            k = 5, nprobe = 6, targetCell = 32)
          .localCheckpoint()
        val r1 = System.nanoTime()
        val (hitsS, totalS) = tolerantRecall(eS)(graphS)
        val recallS = hitsS.toDouble / totalS
        println(f"[soak-knn2] x$s%-3d STRUCTURED tolRecall200=$recallS%.3f " +
          f"($hitsS/$totalS) knnGraph=${(r1 - r0) / 1e9}%7.2fs gate>=0.85")
        require(recallS >= 0.85,
          s"structured-corpus recall $recallS < 0.85 at x$s — the probe " +
            "path lost planted neighborhoods (not noise luck; this gate " +
            "is the hard form of the report-only isotropic recall)")
      }
      // GRAFT_SOAK_H2H=0 skips the flat-path head-to-head: the capped
      // flat path at x96 spills ~80 GB through its hot-cell candidate
      // join (occupancy 51/cell at the pinned nlist) — run it only on
      // a host with the disk to hold it, and never concurrently with
      // other Spark work
      if (twoLevel && s <= 96 &&
          !sys.env.get("GRAFT_SOAK_H2H").contains("0")) {
        // head-to-head vs the old capped-flat path at the same scale.
        // Gates: the flat path passes the same cluster gate, and the
        // two-level path is NOT SLOWER (the throughput half of
        // lifting the ceiling). Isotropic-noise recall is REPORTED
        // for both paths plus a wider two-level probe budget (the
        // recall knob) — the recall GATE lives on the structured
        // corpora above; on noise the product cells trade recall for
        // the O(nc+nf) probe, and the knob buys it back at linear
        // candidate cost.
        val f0 = System.nanoTime()
        val sample = math.min(math.max(4096, 20 * 4096), 16384)
        val cent = Ivf.fitCentroids(
          e.select(col("vec_id"), col("embedding").cast("array<double>").as("f")),
          "vec_id", "f", nlist = 4096, sampleSize = sample)
        val probedFlat = e
          .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
          .select(col("vec_id"), col("f"),
            explode(Ivf.probeCellsCol(col("f"), cent, 6)).as("cell"))
        val flatGraph = Ivf.knnGraphFromProbed(probedFlat, 5).localCheckpoint()
        flatGraph.count()
        val f1 = System.nanoTime()
        requireClusterTop1(flatGraph, c, s" at x$s (cappedFlat)")
        val (flatHits, _) = recallOf(flatGraph)
        val w0 = System.nanoTime()
        val wide = Ivf.knnGraph(e, "vec_id", "embedding",
            k = 5, nprobe = 12, targetCell = 32)
          .localCheckpoint()
        wide.count()
        val w1 = System.nanoTime()
        requireClusterTop1(wide, c, s" at x$s (2level-np12)")
        val (wideHits, _) = recallOf(wide)
        val tTwo = (g1 - g0) / 1e9; val tFlat = (f1 - f0) / 1e9
        println(f"[soak-knn2] x$s%-3d head-to-head cappedFlat=${tFlat}%7.2fs " +
          f"tolRecall200=${flatHits.toDouble / total}%.3f | " +
          f"2level-np6=${tTwo}%7.2fs $recall%.3f " +
          f"| 2level-np12=${(w1 - w0) / 1e9}%7.2fs ${wideHits.toDouble / total}%.3f")
        require(tTwo <= tFlat,
          s"two-level ($tTwo s) slower than capped-flat ($tFlat s) at x$s")
      }
    }
  }

  private def stream(spark: SparkSession, scales: Seq[Int]): Unit = {
    // Streaming soak: the 16×-class corpora (planted universal
    // boilerplate span) driven through the streaming span-dedup twin.
    // What 100 TB-scale needs to hold: (a) state is bounded by UNIQUE
    // content in the watermark horizon — the hot span that appears on
    // EVERY document costs ONE state entry, not N; (b) the hot span
    // survives into exactly one reassembled document; (c) wall time
    // tracks corpus size (no superlinear blowup from the hot key).
    // (a) and (b) are hard gates (require); (c) is the printed table.
    import org.apache.spark.sql.types._
    import graft.streaming.CorpusStream
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", IntegerType)))
    // event time: every doc in one 10:00–11:00 window; sparse
    // sentinel docs land 3 days later so the final watermark
    // (max ts − 1 day) closes the main window and flushes it.
    // Sentinels are drawn from the base corpus only (doc_id <
    // 900000000) so no planted-cluster doc can win a span-keep
    // race from the open sentinel window.
    val sentinel = "doc_id % 9973 = 0 AND doc_id < 900000000"
    val tsExpr = s"CASE WHEN $sentinel " +
      "THEN timestamp '2024-01-13 00:00:00' " +
      "ELSE timestamp '2024-01-10 10:00:00' + make_interval(0,0,0,0,0,0, doc_id % 1800) END"
    scales.foreach { s =>
      val dir = s"$OutRoot/x$s"
      // drains the x$s corpus through `op` into memory table `name`;
      // returns the wall seconds and the stopped query
      def drain(name: String)(op: DataFrame => DataFrame): (Double, StreamingQuery) = {
        val docs = spark.readStream.schema(docSchema)
          .parquet(s"$dir/documents.parquet")
          .withColumn("ts", expr(tsExpr))
        val t0 = System.nanoTime()
        val q = op(docs).writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        ((System.nanoTime() - t0) / 1e9, q)
      }
      val name = s"__soak_spans_x$s"
      val (wall, q) = drain(name)(CorpusStream.dedupSpansStream(_))
      // entry 0 = the span dedup store, entry 1 = window reassembly
      val st = peakState(q)
      val out = spark.table(name)
      val nOut = out.count()
      // batch-side ground truth over the whole fed corpus
      val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      val spans = batchDocs.select(explode(graft.functions.TextHash.chunkSpans(
        split(trim(col("text")), "\\s+"), 5, 5)).as("span"))
      val totalSpans = spans.count()
      val uniqueSpans = spans.distinct().count()
      // (a) state boundedness: the span store holds one row per
      // DISTINCT span in the horizon (measured: == uniqueSpans), the
      // window store one row per open (doc, window) group — BOTH
      // bounded by unique content, never by span occurrences. The
      // planted cluster + universal boilerplate make total ≫ what a
      // per-occurrence store would need, so peak ≤ unique is the
      // state-blowup check.
      val peak = st.maxOption.getOrElse(-1L)
      require(peak >= 0 && peak <= uniqueSpans + 64,
        s"x$s: peak state $peak exceeds unique spans $uniqueSpans " +
          s"(a per-occurrence store would need ~$totalSpans)")
      // (b) the planted hot span (every cluster doc starts with the
      // same aligned 5 lorem words; df = cluster size = n·s/12)
      // survives into EXACTLY one reassembled document
      val hotSpan = lorem.split(" ").take(5).mkString(" ")
      val nHot = out.filter(col("dedup_text").contains(hotSpan)).count()
      require(nHot == 1L,
        s"x$s: hot cluster span kept $nHot times (want exactly 1)")
      println(f"[stream-soak] x$s%-3d wall=$wall%7.2fs docsOut=$nOut " +
        s"peakState=${st.mkString("/")} uniqueSpans=$uniqueSpans totalSpans=$totalSpans " +
        s"hotKeptOnce=true")
      spark.catalog.dropTempView(name)

      // ---- streaming SUBSTRING dedup over the same corpus ----
      // gates: (a2) dedup-store state is one row per DISTINCT window
      // digest (never per occurrence — the exact-dup replicas make
      // occurrences ≫ distinct); (b2) every closed-window doc emits
      // exactly once with its token count intact (cover-count
      // reassembly loses nothing).
      val gramLen = 20
      val name2 = s"__soak_substr_x$s"
      val (wall2, q2) = drain(name2)(CorpusStream.dedupSubstringsStream(_, gramLen = gramLen))
      val st2 = peakState(q2)
      val out2 = spark.table(name2)
      val grams2 = batchDocs.filter(
          size(split(trim(col("text")), "\\s+")) >= gramLen)
        .select(explode(graft.functions.TextHash.chunkSpans(
          split(trim(col("text")), "\\s+"), gramLen, 1)).as("g"))
      val totalGrams = grams2.count()
      val uniqueGrams = grams2.distinct().count()
      val peak2 = st2.maxOption.getOrElse(-1L)
      require(peak2 >= 0 && peak2 <= uniqueGrams + 64,
        s"x$s: substr peak state $peak2 exceeds unique windows $uniqueGrams " +
          s"(a per-occurrence store would need ~$totalGrams)")
      val sentinels = batchDocs.filter(expr(sentinel)).count()
      val fed = batchDocs.count()
      val nOut2 = out2.count()
      require(nOut2 == fed - sentinels,
        s"x$s: substr emitted $nOut2 docs, want ${fed - sentinels}")
      val tokensInClosed = batchDocs.filter(expr(s"NOT ($sentinel)"))
        .select(sum(size(split(trim(col("text")), "\\s+"))))
        .head().getLong(0)
      val tokensOut = out2.select(sum(col("n_tokens"))).head().getLong(0)
      require(tokensOut == tokensInClosed,
        s"x$s: substr token conservation broke: $tokensOut vs $tokensInClosed")
      val cut = out2.select(sum(col("n_cut"))).head().getLong(0)
      println(f"[stream-soak] x$s%-3d substr wall=$wall2%7.2fs docsOut=$nOut2 " +
        s"peakState=${st2.mkString("/")} uniqueWindows=$uniqueGrams " +
        s"totalWindows=$totalGrams tokensCut=$cut")
      spark.catalog.dropTempView(name2)

      // ---- streaming CANONICAL and SIMHASH dedup over the same
      // corpus (the stateless-emission half of the dedup matrix) ----
      // gates: output rows == distinct normalized digests / distinct
      // 64-bit signatures in the fed corpus (every distinct key emits
      // exactly one doc, every repeat costs ZERO output and ZERO
      // extra state); peak state ≤ distinct keys.
      Seq(
        ("canon", (df: DataFrame) => CorpusStream.dedupCanonical(df),
         batchDocs.select(md5(graft.operators.Corpus.canonicalText(col("text"))
           .cast("binary")).as("k")).distinct().count()),
        ("simhash", (df: DataFrame) => CorpusStream.dedupBySimhash(df),
         batchDocs.select(graft.functions.TextHash.simhash64(
           split(trim(col("text")), "\\s+")).as("k")).distinct().count())
      ).foreach { case (tag, op, uniqueKeys) =>
        val nameT = s"__soak_${tag}_x$s"
        val (wallT, qT) = drain(nameT)(op)
        val peakT = peakState(qT).maxOption.getOrElse(-1L)
        val outT = spark.table(nameT).count()
        require(outT == uniqueKeys,
          s"x$s: $tag emitted $outT docs, want one per distinct key $uniqueKeys")
        require(peakT >= 0 && peakT <= uniqueKeys + 64,
          s"x$s: $tag peak state $peakT exceeds distinct keys $uniqueKeys")
        println(f"[stream-soak] x$s%-3d $tag%-7s wall=$wallT%7.2fs " +
          s"docsOut=$outT peakState=$peakT distinctKeys=$uniqueKeys fed=$fed")
        spark.catalog.dropTempView(nameT)
      }
    }
  }
}
