package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The finite-input drain every declared streaming twin runs through:
  * a stream over a finished input, run to its end state and returned
  * as a batch frame, so the twin's answer can be checked against the
  * batch query's (the batch/stream unification of Structured
  * Streaming). The deployable `start` runners never come here; they
  * take the session confs untouched. */
object Drain {

  private val seq = new AtomicInteger(0)

  /** Run `body` with `kvs` set on the session, restoring the previous
    * values after. Only confs that can never change query RESULTS
    * belong here (shuffle partition count, adaptive execution,
    * no-data batches): a concurrent batch plan in the same session
    * observing the temporary value stays correct — it may just
    * shuffle differently — and a stream pins these confs into its
    * offset log at start, so the restore cannot touch a running one. */
  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** A fresh `graft_<prefix>` temp directory for `body`, deleted after
    * it however it ends: the home of whatever a drain stages on disk. */
  private[streaming] def withTempRoot[T](prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_$prefix").toString
    try body(root) finally VersionedState.deleteRecursively(root)
  }

  /** Drain `df` into the memory sink `__graft_<prefix>_<n>` (the
    * prefix `graft.Harness.sweep` drops) and return that table.
    *
    * The query starts under 8 shuffle partitions whatever the session
    * default (one per core): each state-store partition pays a fixed
    * init + commit + offset-log cost per micro-batch, so 32 stores over
    * one data batch of test-scale input is pure scheduler overhead, and
    * a partition count never changes results.
    *
    * `noDataBatch = false` drops the trailing no-data micro-batch. A
    * drain whose rows land in the sink during the data batch itself
    * (the dropDuplicates twins: canonical, simhash, host edges) reads
    * nothing from it; it only advances state cleanup the drain never
    * observes, yet costs a full planning + state-store-commit round
    * (measured 1.62 → 1.16 s for q_canonical_dedup_stream at sf0.1).
    * The watermark-emission twins (span, substr, line) keep it: their
    * final windows emit ONLY in that batch, and without it their
    * drains return zero rows. */
  def toTable(spark: SparkSession, prefix: String, df: DataFrame,
              outputMode: String = "append",
              noDataBatch: Boolean = true): DataFrame = {
    val name = s"__graft_${prefix}_${seq.incrementAndGet()}"
    withConfs(spark, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString) {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(outputMode).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** The maintained-state drain: `feed`, staged once (lazy hot blocks),
    * is written as `nSlices` arrival files by `pmod(xxhash64(key))` and
    * read back one file per micro-batch. `start` gets the temp root
    * (state and checkpoint go under it) and that stream, starts the
    * query with an AvailableNow trigger, and returns it with a reader
    * of the end state; once the query has terminated, the end state is
    * pinned into hot blocks and the root — which can hold several
    * full-corpus state snapshots — is deleted, on failure too.
    *
    * The slice writes stay SEQUENTIAL: they append to one directory,
    * and concurrent jobs would race on its shared `_temporary` staging
    * dir. Each micro-batch chains many small state jobs, so the run
    * takes 8 shuffle partitions and no adaptive re-planning. */
  def sliced(spark: SparkSession, prefix: String, feed: DataFrame, key: Column,
             nSlices: Int)(
      start: (String, DataFrame) => (StreamingQuery, () => DataFrame)): DataFrame =
    withTempRoot(prefix) { root =>
      val in = s"$root/in"
      val endState = withConfs(spark, "spark.sql.shuffle.partitions" -> "8",
          "spark.sql.adaptive.enabled" -> "false") {
        val staged = feed.localCheckpoint(false)
        (0 until nSlices).foreach { s =>
          staged.filter(pmod(xxhash64(key), lit(nSlices)) === s)
            .coalesce(1).write.mode("append").parquet(in)
        }
        val (q, read) = start(root,
          spark.readStream.schema(feed.schema).option("maxFilesPerTrigger", 1).parquet(in))
        try q.awaitTermination() finally q.stop()
        read
      }
      endState().localCheckpoint()
    }
}
