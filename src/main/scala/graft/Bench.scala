package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is executed once to compile/warm
  * whole-stage codegen, then timed on a second full execution — the
  * steady-state number is what scales to a long-lived cluster, and
  * first-run Janino compile time is a JVM artifact, not a property of
  * the plan. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Optional comma-separated name filter for targeted re-timing
    val selected = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case None => SparkEntry.queries
      case Some(csv) =>
        Harness.selectQueries(csv).map(n => n -> SparkEntry.queries(n)).toMap
    }
    // After EVERY execution the sweep (Harness.sweep) releases what the
    // query left behind, outside the timers; per-query leak counts
    // (from the warm run) are recorded in BENCH_FULL so a new leak is
    // visible.
    Harness.sweep(spark)
    val leaks = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // A query that THROWS must not masquerade as a timing: a swallowed
    // failure records its time-TO-FAILURE (task retries, broadcast
    // timeout) as if it were plan cost — exactly the artifact shape
    // that makes a 40x "regression" unadjudicable later. Execution
    // still continues (one broken query must not sink the whole bench),
    // but the error lands in BENCH_FULL's "errors" map and the compact
    // line carries n_errors.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable =>
          errors(name) = (t.getClass.getSimpleName + ": " +
            String.valueOf(t.getMessage)).take(200)
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
      }
    // VERDICT r13 #3: consecutive samples share any multi-minute
    // co-tenant burst, so min-of-k alone cannot outlive one — r11/r12/
    // r13 each recorded 20x "regressions" on byte-identical plans. The
    // committed BENCH_FULL.json (the bench of record from the previous
    // round) is read BEFORE this run overwrites it; any query whose
    // min lands >2x its reading of record is requeued AFTER the full
    // sweep (minutes later, outside the burst window) and the retry
    // samples join the originals. Per-query wall-clock start stamps
    // make a burst window identifiable from the artifact alone.
    // A silently-empty baseline disables the whole gate (ADVICE r14):
    // that state must be loud, and only parse-shaped failures are
    // tolerated — anything else (e.g. a missing Jackson method) should
    // crash, not quietly bench ungated.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json"))
    val priorTimes: Map[String, Double] = {
      val f = new java.io.File(baselinePath)
      if (!f.exists()) {
        System.err.println(s"[bench] NOTE: no baseline at $baselinePath — requeue gate disabled")
        Map.empty
      } else try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(f).get("queries")
        if (node == null) {
          System.err.println(s"[bench] WARNING: $baselinePath has no \"queries\" map — requeue gate disabled")
          Map.empty
        } else {
          val it = node.properties().iterator()
          val m = scala.collection.mutable.Map.empty[String, Double]
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asDouble() }
          m.toMap
        }
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] WARNING: baseline $baselinePath unreadable " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — requeue gate disabled")
          Map.empty
      }
    }
    def timedRun(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      Harness.timed(spark)(runOnce(name, fn))
    val tStart = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val firstPass = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      tStart(name) = System.currentTimeMillis() / 1000L
      val w0 = System.nanoTime()
      runOnce(name, fn) // warm
      val w1 = System.nanoTime()
      val (leakedRdds, leakedViews) = Harness.sweep(spark)
      leaks(name) = leakedRdds + leakedViews
      // steady state = min of two timed runs: a single sample conflates
      // the plan's cost with transient host noise (GC, co-tenant load)
      val samples = scala.collection.mutable.ArrayBuffer(
        timedRun(name, fn), timedRun(name, fn))
      // Two samples disagreeing by >1.5x means one was poisoned by
      // transient host noise (GC, co-tenant load) — buy a third sample
      // for that query only, so a single noisy window can't inflate the
      // recorded number. min-of-k is the steady-state plan cost; the
      // full per-query spread is recorded in BENCH_FULL so "is this
      // total noise?" is answerable from the artifact alone.
      if (samples.max > 1.5 * samples.min) samples += timedRun(name, fn)
      val timed = samples.min
      System.err.println(f"[bench] $name warm=${(w1 - w0) / 1e9}%.2f timed=$timed%.2f" +
        (if (leakedRdds + leakedViews > 0) s" swept=${leakedRdds}r/${leakedViews}v" else ""))
      (name, timed, samples.sorted.toSeq)
    }
    // Deferred requeue: a query can only be exonerated by a sample
    // taken OUTSIDE the burst that poisoned it, and the cheapest
    // guaranteed-later moment is after every other query has run. The
    // 2x gate (VERDICT r14 #2: eight readings inflated 2.1-3.5x by a
    // co-tenant window slid under the old 4x gate and became numbers
    // of record) is against the reading of record, the >1s floor keeps
    // micro-queries from churning on scheduler jitter, and errored
    // queries stay errored (a time-to-failure must not be retried into
    // looking like a timing). Both passes land in the artifact, retry
    // passes with their own wall-clock stamps (ADVICE r14: the stamps
    // exist to place samples inside/outside a burst window — the
    // retry samples are the ones that claim to be outside it).
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val tRetry = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val retryErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = firstPass.map { case (name, timed, samples) =>
      val flag = priorTimes.get(name).exists(p =>
        timed > 2.0 * p && timed > 1.0) && !errors.contains(name)
      if (!flag) (name, timed, samples)
      else {
        val fn = selected(name)
        tRetry(name) = System.currentTimeMillis() / 1000L
        // ADVICE r14: a retry run that THROWS must not contribute its
        // time-to-failure to the merged min — each retry sample is
        // kept only if the run stayed clean; a retry failure is
        // recorded separately (retry_errors) and does NOT mark a
        // first-pass-clean query as errored.
        def retrySample(): Option[Double] = {
          val t = timedRun(name, fn)
          if (errors.contains(name)) {
            retryErrors(name) = errors.remove(name).get
            None
          } else Some(t)
        }
        val retry = Seq(retrySample(), retrySample()).flatten.sorted
        if (retry.isEmpty) {
          System.err.println(f"[bench] $name REQUEUED but both retries FAILED " +
            f"(${retryErrors(name)}) — keeping first-pass $timed%.2f")
          (name, timed, samples)
        } else {
          retried(name) = retry
          val all = (samples ++ retry).sorted
          System.err.println(f"[bench] $name REQUEUED (record=${priorTimes(name)}%.2f " +
            f"first-pass=$timed%.2f): retry=${retry.min}%.2f -> recorded=${all.min}%.2f")
          (name, all.min, all)
        }
      }
    }
    // Post-sweep invariant: the store must be empty between queries —
    // a nonzero residue here means the sweep missed a state class and the
    // bench ordering is contaminating measurements again.
    require(spark.sparkContext.getPersistentRDDs.isEmpty,
      "persisted RDDs survived the post-query sweep")
    // Emission contract (BENCH_r04 lesson): the harness tail-captures
    // the last 2000 chars of combined output (measured constant across
    // BENCH_r01–r04), and the trailing sbt success line eats ~75 of
    // them. The 100 declared query NAMES alone are ~1450 chars, so a
    // map with all per-query times can never transit that window —
    // r4's full line clipped its front off, losing "metric":"total".
    // So the LAST stdout line is guaranteed to fit: total first (the
    // number of record), then per-query times packed greedily by
    // descending cost (the headline queries) until the byte budget is
    // spent; the COMPLETE full-precision breakdown is written to
    // BENCH_FULL.json, which is committed with the repo each round.
    def r3(d: Double): String =
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qsFull = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query [min, median, max] across the N timed executions —
    // min is the number of record; the spread bounds host-noise claims
    def median(xs: Seq[Double]): Double =
      if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
    val spreadJson = results.map { case (k, _, s) =>
      "\"" + k + "\":[" + r3(s.min) + "," + r3(median(s)) + "," + r3(s.max) + "]"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    val leaksJson = leaks.filter(_._2 > 0)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errsJson = errors
      .map { case (k, v) => "\"" + k + "\":" + Harness.quote(v) }
      .mkString("{", ",", "}")
    // t_start_epoch_sec: per-query wall-clock stamps — a co-tenant
    // burst window is now identifiable from the artifact alone (the
    // r13 adjudication had to infer it from alphabetical adjacency).
    // t_retry_epoch_sec (ADVICE r14): the same stamp for the retry
    // pass of every requeued query, so "the retry ran outside the
    // burst" is verifiable from the artifact alone. retried: retry
    // samples of every requeued query (first-pass samples are in
    // spread_min_med_max); retry_errors: retries that threw (their
    // samples were discarded, the first-pass timing kept).
    val tStartJson = tStart
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val tRetryJson = tRetry
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val retriedJson = retried
      .map { case (k, v) => "\"" + k + "\":[" + v.map(r3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val retryErrsJson = retryErrors
      .map { case (k, v) => "\"" + k + "\":" + Harness.quote(v) }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
        s""""spread_min_med_max":$spreadJson,"errors":$errsJson,""" +
        s""""swept_blocks_per_query":$leaksJson,""" +
        s""""t_start_epoch_sec":$tStartJson,"t_retry_epoch_sec":$tRetryJson,""" +
        s""""retried":$retriedJson,"retry_errors":$retryErrsJson,""" +
        s""""sf":"$sfDir"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // VERDICT r10 #6: the driver's tail parser failed on every round's
    // single packed ~1800-char line even though the line itself is valid
    // JSON in the captured window — so stop betting on one long line.
    // Emit TWO lines: a compact total-first line (total + the top-8
    // priciest queries, ~500 bytes — survives any plausible tail/parse
    // window) and THEN a wider per-query line. Whichever line the
    // driver's heuristic lands on (first `{"metric"` in the tail, or the
    // last JSON-looking line), both parse standalone; the full-precision
    // map stays in BENCH_FULL.json as before.
    val entries = results.sortBy(-_._2).map { case (k, v, _) => "\"" + k + "\":" + r3(v) }
    // Errored queries are NAMED on the compact line (names only, not
    // messages — bounded size): a time-to-failure in the top-8 map
    // must be tellable from a slow query without opening
    // BENCH_FULL.json.
    val errNames = errors.keys.toSeq.sorted.take(8)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},""" +
      (if (retried.nonEmpty) s""""n_retried":${retried.size},""" else "") +
      (if (errors.nonEmpty) s""""errored":$errNames,""" else "") +
      s""""queries_full":"$fullPath",""" +
      s""""queries":{${entries.take(8).mkString(",")}}}"""
    spark.stop()
    // VERDICT r11 #2 + r12 artifact: the driver's parser reads the
    // LAST line of the tail window. r12 emitted exactly ONE compact
    // line and STILL recorded "parsed": null — the recorded tail shows
    // why: the line transits sbt's logger as "[info] {...}" and sbt
    // appends "[success] Total time: ..." after it, so the last line
    // is never ours and the prefixed one isn't bare JSON. Both are sbt
    // artifacts, fixed in build.sbt (run / outputStrategy :=
    // StdoutOutput streams forked stdout RAW; Global / showSuccess :=
    // false drops the success trailer), making this bare JSON line the
    // final line of combined output. The full-precision per-query map
    // lives in BENCH_FULL.json.
    println(compact)
  }
}
