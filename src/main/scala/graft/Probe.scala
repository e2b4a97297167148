package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic runner, one mode per question. Declared queries run on
  * SPARK_GRAFT_SF_DIR (default `ProbeSoak.Sf01`, the sf0.1 tables) at
  * SPARK_GRAFT_CPUS cores; `[q,...]` is a comma-separated name list.
  *
  *   smoke             the entry smoke check: `SparkEntry.entry` returns
  *                     rows > 0 on sf0.001
  *   profile [q,...]   warm and timed seconds per query (default: all)
  *   plan q[,...]      formatted physical plan; pipe through
  *                     `grep -E 'Exchange|Join|Aggregate'` to see where a
  *                     query's exchanges come from
  *   jobs q            every job of one run: id, label, callsite, ms —
  *                     "which line fires job N of a micro-batch"
  *   phases q[,...]    per-`Phases`-label job counts and busy time, the
  *                     driver gap, and each stream's per-batch trigger ms
  *   scaling [q,...]   core ladder (SPARK_GRAFT_SCALE_CPUS, default
  *                     "8,32") and scale-factor ladder
  *                     (SPARK_GRAFT_SCALE_SFS, default sf0.01 and sf0.1
  *                     side by side)
  *
  * Usage: runMain graft.Probe <mode> [q,...] */
object Probe {
  private val ScalingQueries = Seq(
    "dedup_minhash_md5_stop", "q_corpus_dedup", "dedup_minhash",
    "dedup_embedding_exact", "q_ngram_jaccard", "q_web_pipeline",
    "q_crawl_pipeline", "q_heavy_hitters", "media_video_topk",
    "ml_ensemble_score", "q_dedup_substrings", "q_span_dedup")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("smoke")
    val named = Harness.selectQueries(args.drop(1).mkString(","))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", ProbeSoak.Sf01)
    if (mode == "scaling") {
      scaling(if (named.nonEmpty) named else ScalingQueries)
      return
    }
    val spark = Harness.session()
    try mode match {
      case "smoke" =>
        val df = SparkEntry.entry(spark)
        println(s"[smoke] entry rows=${df.count()}")
        df.show(5, false)
      case "profile" =>
        val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          val (warm, Seq(t)) = Harness.warmThenTimed(spark, name, sfDir, 1)
          println(f"[profile] $name warm=$warm%.2f timed=$t%.2f")
        }
      case "plan" =>
        named.foreach { name =>
          println(s"===== $name =====")
          println(SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(ExplainMode.fromString("formatted")))
        }
      case "jobs" =>
        require(named.size == 1, "jobs takes exactly one query")
        val run = recordWarm(spark, named.head, sfDir)
        run.jobs.foreach { j =>
          println(f"[job] ${j.id}%4d ${j.endMs - j.startMs}%6d ms " +
            s"label=[${j.label.takeRight(40)}] site=[${j.callSite}]")
        }
        println(f"[job] wall=${run.wallMs / 1e3}%.2f")
      case "phases" =>
        named.foreach { name =>
          val run = recordWarm(spark, name, sfDir)
          println(f"==== $name wall=${run.wallMs / 1e3}%.2fs ====")
          run.byLabel.foreach { case (label, n, ms) =>
            println(f"[phase] $label%-34s jobs=$n%4d  sec=${ms / 1e3}%7.2f")
          }
          println(f"[phase] TOTAL jobs=${run.jobs.size} wall=${run.wallMs / 1e3}%.2f " +
            f"(driver/gap=${run.gapMs / 1e3}%.2f)")
          run.batches.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, bs) =>
            val ms = bs.map(_.durationMs.getOrElse("triggerExecution", -1L))
            println(s"[phase] batches $q: n=${bs.size} totalTriggerMs=${ms.sum} " +
              s"perBatchMs=${ms.mkString(",")}")
          }
        }
      case other =>
        sys.error(s"unknown mode: $other (smoke|profile|plan|jobs|phases|scaling)")
    } finally spark.stop()
  }

  /** One warm execution (codegen, state-store init), then one recorded. */
  private def recordWarm(spark: SparkSession, name: String,
                         sfDir: String): Harness.JobLog.Run = {
    val fn = SparkEntry.queries(name)
    Harness.timed(spark)(fn(spark, sfDir).count())
    val run = Harness.JobLog.record(spark)(fn(spark, sfDir).count())
    Harness.sweep(spark)
    run
  }

  /** A core ladder over the full bench reads flat ratios because it
    * is dominated by per-query fixed floors (stream machinery,
    * driver-side fits, scheduler round-trips), not because nothing
    * parallelizes. This makes the scaling that DOES exist measurable,
    * with the Bench methodology (fresh session per core count, warm
    * run, min of 2 timed runs):
    *   1. core ladder at the big scale factor: ratio > 1 is parallel
    *      speedup, ratio ≈ 1 names a fixed-floor query;
    *   2. scale-factor ladder at the high core count: with ~10× the
    *      data, t(big)/t(small) ≈ 10 is data-bound compute, ≈ 1 a fixed
    *      floor; the floor estimate (10·t_small − t_big)/9 is printed. */
  private def scaling(queries: Seq[String]): Unit = {
    val cpusLadder = sys.env.getOrElse("SPARK_GRAFT_SCALE_CPUS", "8,32")
      .split(",").map(_.trim.toInt).toSeq
    val sfs = sys.env.get("SPARK_GRAFT_SCALE_SFS")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq(new java.io.File(ProbeSoak.Sf01).getParent + "/sf0.01",
        ProbeSoak.Sf01))
    require(cpusLadder.size == 2 && sfs.size == 2,
      "scaling expects exactly two core counts and two scale factors")
    def times(cores: Int, sfDir: String): Map[String, Double] = {
      val s = Harness.session(cores)
      try queries.map(q => q -> Harness.warmThenTimed(s, q, sfDir, 2)._2.min).toMap
      finally s.stop()
    }

    val bigSf = sfs.last
    val (lo, hi) = (cpusLadder.min, cpusLadder.max)
    val byCores = cpusLadder.map(c => c -> times(c, bigSf)).toMap
    println(s"[scaling-cores] sf=$bigSf cores $lo -> $hi " +
      "(ratio > 1 = parallel speedup exists)")
    queries.foreach { q =>
      val a = byCores(lo)(q); val b = byCores(hi)(q)
      println(f"[scaling-cores] $q%-28s c$lo=$a%6.2fs c$hi=$b%6.2fs ratio=${a / b}%5.2f")
    }
    val gm = math.exp(queries.map(q =>
      math.log(byCores(lo)(q) / byCores(hi)(q))).sum / queries.size)
    println(f"[scaling-cores] GEOMEAN speedup c$lo->c$hi = $gm%.2fx")

    val small = times(hi, sfs.head)
    val big = times(hi, sfs.last)
    println(s"[scaling-sf] cores=$hi ${sfs.head} -> ${sfs.last} " +
      "(ratio ~= data ratio = data-bound; ~1 = fixed floor)")
    queries.foreach { q =>
      val a = small(q); val b = big(q)
      val floor = math.max(0.0, (10 * a - b) / 9.0)
      println(f"[scaling-sf] $q%-28s small=$a%6.2fs big=$b%6.2fs " +
        f"ratio=${b / a}%5.2f floorEst=$floor%5.2fs")
    }
  }
}
