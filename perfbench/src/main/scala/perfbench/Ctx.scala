package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run of a workload shares: the session, a working directory
  * under the checkout, the seed, the measuring budget and the tracer. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val seconds: Int, val tr: Tracer) {

  /** A fresh, empty directory `work/name`. */
  def dir(name: String): String = {
    val d = new File(work, name)
    Files.delete(d)
    d.mkdirs()
    d.getPath
  }

  private val born = Clock.now()

  /** A progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.now() - born) / 1000.0}%7.2f s  $msg")
}

/** A workload's verdict and measurements. `e2e` holds the end-to-end
  * metrics of BENCHMARK.json, `named` the same run's figures under the
  * per-workload names of the benchmark doc, and `facts` per-layer values
  * only the workload can observe (generator timing, sink layout). */
final case class Outcome(checks: Seq[(String, Boolean)], attempted: Long, failed: Long,
                         e2e: Map[String, Double], named: Seq[(String, Double, String)],
                         facts: Map[String, Double], window: Window.Closed) {
  def correct: Boolean = checks.forall(_._2) && failed == 0
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete(): Unit
  }

  /** Total bytes and count of the data files under `dir`. */
  def dataFiles(dir: File): (Long, Int) = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    (fs.map(_.length).sum, fs.length)
  }

  /** Write `df` as ONE parquet file at `path` (the single-file testdata
    * layout): Spark writes a one-part directory, whose part file then
    * takes the directory's place. */
  def writeSingleParquet(df: DataFrame, path: String): Unit = {
    val tmp = new File(path + ".staging")
    delete(tmp)
    df.coalesce(1).write.parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    val target = new File(path)
    delete(target)
    java.nio.file.Files.move(part.toPath, target.toPath)
    delete(tmp)
  }
}

/** Order-free digest of a frame's rows: the sum of per-row 64-bit hashes
  * over every column, plus the row count. Equal rows give equal digests
  * regardless of partitioning or order. */
object Digest {
  def of(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")).cast("string")).head()
    s"${r.getLong(0)}:${Option(r.getString(1)).getOrElse("0")}"
  }
}

object Session {
  def create(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
