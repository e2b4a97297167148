package perfbench

import java.io.File
import org.apache.spark.sql.functions._
import graft.streaming.CorpusPipeline

/** `corpus-maintain`, a closed loop: the generated documents with their
  * embeddings arrive in a seeded order, split into batches, and each
  * batch goes through `CorpusPipeline.MaintainedCorpus.advance` (built
  * with its defaults). Maintained-state writes do the work; ML and
  * scoring are idle. */
object CorpusMaintain {

  val Docs = 240
  val Dim = 64
  val BatchDocs = 60
  val SetupRepeats = 3
  val MaxPasses = 3

  /** Stage `docs` as single-file `documents.parquet` and
    * `embeddings.parquet` (the testdata layout) plus one parquet file per
    * arrival batch under `batches/`; returns the directory. */
  def stage(c: Ctx, name: String, docs: Seq[Gen.Doc]): String = {
    val d = c.dir(name)
    val spark = c.spark
    val df = spark.createDataFrame(docs.map(x => (x.id, x.text, x.embedding.toSeq)))
      .toDF("doc_id", "text", "embedding")
    Files.writeSingleParquet(df.select("doc_id", "text"), s"$d/documents.parquet")
    Files.writeSingleParquet(
      df.select(col("doc_id").as("vec_id"), col("embedding")), s"$d/embeddings.parquet")
    docs.grouped(BatchDocs).zipWithIndex.foreach { case (b, i) =>
      Files.writeSingleParquet(
        spark.createDataFrame(b.map(x => (x.id, x.text, x.embedding.toSeq)))
          .toDF("doc_id", "text", "embedding"),
        f"$d/batches/b-$i%03d.parquet")
    }
    d
  }

  private def batchFiles(dir: String): Seq[String] =
    new File(s"$dir/batches").listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  /** Share of planted duplicates the kept set dropped: each planted
    * cluster should keep exactly one member. */
  def dupRemoval(clusters: Seq[Seq[Long]], kept: Set[Long]): Double = {
    val extra = clusters.map(_.size - 1).sum
    val removed = clusters.map(cl => cl.size - math.max(1, cl.count(kept))).sum
    if (extra == 0) 1.0 else removed.toDouble / extra
  }

  /** Reopen a maintained corpus on its committed state and materialise
    * what it serves: the recovery a restarted service runs before its
    * next `advance`. Returns the corpus and the wall ms it took. */
  def recover(c: Ctx, stateDir: String): (CorpusPipeline.MaintainedCorpus, Double) =
    c.tr.span("CorpusPipeline.recover") {
      val mc = new CorpusPipeline.MaintainedCorpus(c.spark, stateDir)
      mc.kept.count()
      mc.graph.edges.count()
      mc
    }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val corpus = Gen.corpus(c.seed, Docs, Dim)
    // the generated tables are the benchmark's own work: staged untimed
    val dir = stage(c, "corpus", corpus.docs)
    // the order-free reference: the declared runner over the same tables,
    // all documents in one slice. Run first, it also warms the JVM up
    // (class loading, JIT and codegen) outside the timed region.
    val oracle = Digest.of(CorpusPipeline.continuousOverFile(spark, dir, nSlices = 1))
    c.log("reference drain done")
    val batches = batchFiles(dir)
    val window = Window.open()
    val advanceMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    var removal = 0.0
    val t0 = Clock.now()
    while (digests.isEmpty ||
           (digests.size < MaxPasses && Clock.now() - t0 < c.seconds * 1000.0)) {
      window.pause()
      val mc = new CorpusPipeline.MaintainedCorpus(spark, c.dir(s"state-${digests.size}"))
      window.resume()
      batches.zipWithIndex.foreach { case (f, i) =>
        advanceMs += c.tr.span("CorpusPipeline.advance")(mc.advance(i.toLong, spark.read.parquet(f)))._2
      }
      c.log(s"pass ${digests.size} done")
      window.pause()
      digests += Digest.of(mc.graph.edges)
      removal = dupRemoval(corpus.clusters,
        mc.kept.collect().map(_.getAs[Long]("doc_id")).toSet)
      window.resume()
    }
    val w = window.close()
    // set-up is the program's: reopening the first pass's committed state
    val state0 = new File(c.work, "state-0").getPath
    val recoveries = (1 to SetupRepeats).map(_ => recover(c, state0))
    val setupMs = recoveries.map(_._2)
    val recovered = Digest.of(recoveries.last._1.graph.edges)
    c.log("recovery done")
    val checks = Seq(
      "drained graph equals CorpusPipeline.continuousOverFile" -> (digests.head == oracle),
      "same drained graph on every pass" -> (digests.distinct.size == 1),
      "recovered state serves the drained graph" -> (recovered == oracle))
    val n = corpus.docs.size * digests.size
    val docsPerS = n / (advanceMs.sum / 1000.0)
    val advP50 = Stats.median(advanceMs.toSeq)
    val setupS = Stats.median(setupMs) / 1000.0
    Outcome(checks, advanceMs.size.toLong, 0L,
      e2e = Map("setup_s" -> setupS, "throughput_per_s" -> docsPerS,
                "op_p50_ms" -> advP50, "quality" -> removal),
      named = Seq(("setup_s", setupS, "s"), ("docs_per_s", docsPerS, "1/s"),
                  ("advance_p50_ms", advP50, "ms"), ("dup_removal", removal, "ratio")),
      facts = Map("gen.events_sent" -> corpus.docs.size.toDouble),
      window = w)
  }
}
