package graft
import java.nio.file.{Files, Paths}
import Harness.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * VERDICT r14 #1 (CORRECTNESS_r14.json came back `{}` — the round
  * closed with no hard correctness record): alongside the dump, an
  * INCREMENTALLY-written `manifest.jsonl` records one line per query —
  * name, row count, sorted column list, and an order-independent
  * canonical value hash computed FROM the written parquet (the exact
  * bytes the driver compares). If the driver-side compare ever
  * vanishes again, the round's correctness record is reconstructible
  * from the dump alone: `tools/manifest_check.py` recomputes the same
  * hash from the same parquet in Python (pyarrow), and
  * `tools/compare_oracle.py` replays the full DuckDB oracle compare.
  * Lines are flushed as each query completes, so even a killed run
  * leaves a usable partial record. */
object Verify {

  /** Canonical per-value rendering shared (by construction) with
    * tools/manifest_check.py — every rule here is mirrored there:
    * null → U+0000; booleans T/F; integrals as decimal; Float/Double
    * via IEEE-754 bits (doubleToLongBits, signed decimal — NaN
    * canonicalized, float widened exactly); BigDecimal
    * stripTrailingZeros.toPlainString; dates as epoch DAYS; timestamps
    * as epoch MICROS; binary as lowercase hex; arrays/structs/maps
    * recursively with U+0001-joined elements (map entries sorted by
    * rendered key). */
  def render(v: Any): String = v match {
    case null => "\u0000"
    case s: String => s
    case b: Boolean => if (b) "T" else "F"
    case f: Float => java.lang.Double.doubleToLongBits(f.toDouble).toString
    case d: Double => java.lang.Double.doubleToLongBits(d).toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.underlying.stripTrailingZeros.toPlainString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case t: java.sql.Timestamp =>
      (math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: wall-clock-as-UTC
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000L).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", "\u0001", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v2) => render(k) + "\u0003" + render(v2) }
        .sorted.mkString("<", "\u0001", ">")
    case x => x.toString
  }

  /** The driver-shaped canonical hash: columns SORTED BY NAME (the
    * driver's pandas canonicalizer sorts columns before hashing), each
    * row rendered and md5'd, the first 8 big-endian bytes taken as a
    * signed long, all row hashes SUMMED with wraparound — row order
    * cannot matter, every value bit can. Returned as the unsigned
    * decimal string. */
  def canonicalHash(rows: Iterator[org.apache.spark.sql.Row],
                    sortedIdx: Array[Int]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    while (rows.hasNext) {
      val r = rows.next()
      val s = sortedIdx.map(i => render(r.get(i))).mkString("\u0002")
      val h = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var x = 0L
      var i = 0
      while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
      sum += x
      n += 1
      md.reset()
    }
    (n, java.lang.Long.toUnsignedString(sum))
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(Harness.selectQueries(args(2)).toSet) else None
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val manifest = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(s"$outDir/manifest.jsonl", false)))
    val manifestLock = new Object
    def manifestLine(line: String): Unit = manifestLock.synchronized {
      manifest.println(line); manifest.flush()
    }
    // Dump queries on a small thread pool: wall time is dominated by
    // per-query planning/codegen, which parallelizes across Spark's
    // FIFO scheduler (jobs themselves are small at verify scale).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val t0 = System.nanoTime()
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // Hash the WRITTEN parquet, not the in-memory frame: the
            // manifest must fingerprint the bytes the driver compares
            // (post-write type coercions and all), and re-reading is
            // cheap at verify scale while re-running the query is not.
            val back = spark.read.parquet(s"$outDir/$name")
            val cols = back.columns.sorted
            val idx = cols.map(c => back.columns.indexOf(c))
            import scala.jdk.CollectionConverters._
            val (n, hash) = canonicalHash(back.toLocalIterator().asScala, idx)
            val ms = (System.nanoTime() - t0) / 1000000L
            manifestLine(s"""{"name":${quote(name)},"rows":$n,""" +
              s""""cols":${cols.map(quote).mkString("[", ",", "]")},""" +
              s""""hash":"$hash","ms":$ms}""")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            manifestLine(s"""{"name":${quote(name)},"error":${quote(
              e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))}}""")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    manifest.close()
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
