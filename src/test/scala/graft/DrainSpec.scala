package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Drain

/** The finite-input drain: each declared streaming twin that claims
  * its batch query's answer drains to that answer, and a failed
  * maintained-state drain leaves no temp root and no running stream
  * behind. */
class DrainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** (twin, batch query) pairs whose docstrings claim the drained end
    * state equals the batch query row for row. */
  private val twins = Seq(
    "q_decontaminate_stream" -> "q_decontaminate_bloom",
    "q_decontaminate_fuzzy_stream" -> "q_decontaminate_fuzzy",
    "q_extract_html_stream" -> "q_extract_html",
    "q_link_graph_stream" -> "q_link_graph",
    "q_pagerank_stream" -> "q_pagerank",
    "q_hits_stream" -> "q_hits",
    "q_triangles_stream" -> "q_triangles",
    "q_heavy_hitters_stream" -> "q_heavy_hitters",
    "q_bm25_serve_stream" -> "q_bm25_topk",
    "q_hybrid_serve_stream" -> "q_hybrid_topk_brute",
    "q_kmeans_stream" -> "q_kmeans_clusters",
    "q_parse_jsonl_stream" -> "q_parse_jsonl",
    "q_parse_warc_stream" -> "q_parse_warc",
    "q_quality_classifier_stream" -> "q_quality_classifier",
    "q_sim_serve_stream" -> "q_sim_serve",
    "q_lang_classifier_stream" -> "q_lang_classifier",
    "media_video_int_stream" -> "media_video_int",
    "q_sq_distortion_stream" -> "q_sq_distortion",
    "sim_sq_serve_stream" -> "sim_sq_serve",
    "sim_graph_topk_stream" -> "sim_graph_topk",
    "q_bitext_mine_stream" -> "q_bitext_mine",
    "q_hard_negatives_stream" -> "q_hard_negatives",
    "q_knn_graph_stream" -> "q_knn_graph",
    "q_dedup_crossmodal_stream" -> "q_dedup_crossmodal",
    "q_score_stream" -> "q_flagship_score")

  /** `Verify`'s order-free canonical (rows, hash), columns sorted by
    * name. */
  private def hash(df: DataFrame): (Long, String) =
    Verify.canonicalHash(df.toLocalIterator().asScala,
      df.columns.sorted.map(df.columns.indexOf(_)))

  test("every streaming twin drains to its batch query's rows and hash") {
    val diffs = twins.flatMap { case (twin, batch) =>
      val t = hash(SparkEntry.queries(twin)(spark, sf))
      val b = hash(SparkEntry.queries(batch)(spark, sf))
      Harness.sweep(spark)
      if (t == b && t._1 > 0) None else Some(s"$twin $t vs $batch $b")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("sliced: pins the end state, then deletes its temp root; a failed advance surfaces and leaves neither root nor stream") {
    val feed = spark.range(20).toDF("id")
    var root = ""
    val out = Drain.sliced(spark, "drainspec", feed, col("id"), 3) { (r, stream) =>
      root = r
      val q = stream.writeStream
        .foreachBatch { (_: DataFrame, _: Long) => () }
        .option("checkpointLocation", s"$r/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      (q, () => spark.read.parquet(s"$r/in"))
    }
    assert(root.nonEmpty && !new java.io.File(root).exists())
    assert(out.count() == 20)

    root = ""
    val e = intercept[Exception] {
      Drain.sliced(spark, "drainspec", feed, col("id"), 3) { (r, stream) =>
        root = r
        val q = stream.writeStream
          .foreachBatch { (_: DataFrame, _: Long) =>
            (throw new IllegalStateException("advance failed")): Unit
          }
          .option("checkpointLocation", s"$r/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        (q, () => fail("end state read after a failed run"))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("advance failed")), e)
    assert(root.nonEmpty && !new java.io.File(root).exists(), root)
    assert(spark.streams.active.isEmpty)
  }
}
