package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import graft.ml.{Artifacts, IsolationForest, PcaRecon, Preproc}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_src").toString

  test("csv source: explicit schema + coerce-style timestamp (bad -> null, not error)") {
    val dir = tmp()
    val csv =
      """timestamp,transaction_id,customer_id,merchant_id,amount,channel,location
        |2025-05-01T02:00:00Z,1000,101,501,250.5,card,Harare
        |NOT_A_DATE,1001,102,502,10.0,pos,Gweru
        |2025-05-02T03:30:00+00:00,1002,103,503,99.9,mobile_money,Mutare""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/tx.csv"), csv.getBytes)
    val df = Sources.transactionsCsv(spark, s"$dir/tx.csv")
    assert(df.count() == 3)
    assert(df.filter(col("timestamp").isNull).count() == 1)   // coerced, row kept
    assert(df.schema("amount").dataType.typeName == "double")
    val first = df.filter(col("transaction_id") === "1000").head
    assert(first.getTimestamp(0).toInstant.toString == "2025-05-01T02:00:00Z")
  }

  test("json batch source reads request-body-shaped records") {
    val dir = tmp()
    val json =
      """{"timestamp":"2025-05-01T02:00:00.000Z","transaction_id":"1","customer_id":"101","merchant_id":"501","amount":5000.0,"channel":"card","location":"Mutare"}
        |{"timestamp":"2025-05-01T03:00:00.000Z","transaction_id":"2","customer_id":"102","merchant_id":"502","amount":20.0,"channel":"pos","location":"Harare"}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.json"), json.getBytes)
    val df = Sources.transactionsJson(spark, s"$dir/b.json")
    assert(df.count() == 2)
    assert(df.filter(col("amount") === 5000.0).count() == 1)
  }

  test("scored log sink: date-partitioned append with sink timestamp") {
    val dir = tmp()
    val scored = Seq(
      ("1", java.sql.Timestamp.valueOf("2025-05-01 02:00:00"), 0.9),
      ("2", java.sql.Timestamp.valueOf("2025-05-02 03:00:00"), 0.1))
      .toDF("transaction_id", "ts", "aggregated_score")
    Sources.appendScoredLog(scored, "ts", s"$dir/log")
    Sources.appendScoredLog(scored.filter(col("transaction_id") === "1"), "ts", s"$dir/log")
    val back = spark.read.parquet(s"$dir/log")
    assert(back.count() == 3)                                  // append semantics
    assert(back.columns.contains("scored_at"))
    // physical layout is partitioned by date
    val parts = new java.io.File(s"$dir/log").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("score_date="))
    assert(parts.toSet == Set("score_date=2025-05-01", "score_date=2025-05-02"))
    // a date predicate prunes at the PARTITION level (never reaches the
    // row scan) — the 100 TB access pattern for the scored log
    val pruned = back.filter(col("score_date") === "2025-05-01")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("score_date"),
           s"no partition pruning in:\n${plan.take(800)}")
    assert("PartitionFilters: \\[[^\\]]*score_date".r.findFirstIn(plan).isDefined,
           s"score_date not in PartitionFilters:\n${plan.take(800)}")
    assert(pruned.count() == 2) // both copies of tx 1
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    import org.apache.spark.sql.functions._
    // drop any leftover table metadata AND its warehouse directory (a
    // prior JVM's managed-table location survives the catalog)
    Seq("ev_b", "prof_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    Sources.writeBucketed(ev.select("event_id", "user_id", "value"), "ev_b", "user_id", 4)
    Sources.writeBucketed(
      ev.groupBy("user_id").agg(avg("value").as("cust_avg")), "prof_b", "user_id", 4)
    val joined = spark.table("ev_b")
      .join(spark.table("prof_b").hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed sides: the sort-merge join needs no Exchange
    assert(plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("Exchange hashpartitioning"),
           s"unexpected shuffle:\n${plan.take(800)}")
    assert(joined.count() == ev.count())
  }

  test("artifact round-trip: preproc, pca, iforest persist and reload identically") {
    val dir = tmp()
    val df = Seq((1.0, "a", Seq(1.0, 2.0)), (2.0, "b", Seq(2.0, 1.0)),
                 (3.0, "a", Seq(0.5, 0.7))).toDF("x", "c", "features")
    val pre = Preproc.fit(df, Seq("x"), Seq("c"))
    Artifacts.savePreproc(pre, s"$dir/pre.json")
    assert(Artifacts.loadPreproc(s"$dir/pre.json") == pre)

    val pca = PcaRecon.fit(df, "features", 1)
    Artifacts.savePca(pca, s"$dir/pca.json")
    val pca2 = Artifacts.loadPca(s"$dir/pca.json")
    assert(pca2.d == pca.d && pca2.k == pca.k)
    assert(pca2.components.map(_.toSeq).toSeq == pca.components.map(_.toSeq).toSeq)

    val lof = graft.ml.Lof.fitNovelty(
      (1 to 30).map(i => (i.toLong, Seq(i * 1.0, i * 2.0)))
        .toDF("id", "features"), "id", "features", k = 5)
    Artifacts.saveLofNovelty(lof, s"$dir/lof.json")
    val lof2 = Artifacts.loadLofNovelty(s"$dir/lof.json")
    assert(lof2.k == lof.k && lof2.kdist.toSeq == lof.kdist.toSeq &&
      lof2.lrd.toSeq == lof.lrd.toSeq &&
      lof2.points.map(_.toSeq).toSeq == lof.points.map(_.toSeq).toSeq)

    val forest = IsolationForest.fit(df, "features", nTrees = 5, subsample = 3)
    Artifacts.saveForest(forest, s"$dir/if.json")
    val forest2 = Artifacts.loadForest(s"$dir/if.json")
    assert(forest2.psi == forest.psi && forest2.offset == forest.offset)
    assert(forest2.trees.length == forest.trees.length)
    // reloaded forest scores identically
    val s1 = df.select(forest.scoreSamplesCol(col("features"))).collect().map(_.getDouble(0))
    val s2 = df.select(forest2.scoreSamplesCol(col("features"))).collect().map(_.getDouble(0))
    assert(s1.sameElements(s2))
  }

  test("ensemble bundle round-trip: loaded bundle scores identically") {
    val dir = tmp()
    val fitted = graft.ml.Ensemble.fit(spark, "/root/testdata/sf0.001")
    Artifacts.saveEnsemble(spark, fitted, s"$dir/bundle")
    val loaded = Artifacts.loadEnsemble(spark, s"$dir/bundle")
    assert(loaded.cfg == fitted.cfg && loaded.aeThreshold == fitted.aeThreshold)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val a = graft.ml.Ensemble.scoreBatch(ev, fitted).orderBy("transaction_id").collect()
    val b = graft.ml.Ensemble.scoreBatch(ev, loaded).orderBy("transaction_id").collect()
    assert(a.sameElements(b))
  }

  test("jdbc sink + source round-trip (embedded Derby)") {
    // live-DB form of src_jdbc_profile / snk_mysql_log: write scores,
    // read them back plain and range-partitioned
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val driver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val scores = Seq(
      (1L, 101L, 344.07, 0.42, "Medium"),
      (2L, 102L, 15.53, 0.05, "Low"),
      (3L, 103L, 50000.0, 0.93, "High"),
      (4L, 101L, 205.5, 0.12, "Low"))
      .toDF("transaction_id", "customer_id", "amount", "aggregated_score", "risk_level")
    Sources.writeJdbc(scores.coalesce(1), url, "scores", mode = "overwrite", driver = driver,
      // Derby maps StringType to CLOB, which can't be compared/pushed —
      // declare the string column explicitly (MySQL DDL would too)
      options = Map("createTableColumnTypes" -> "risk_level VARCHAR(10)"))
    val back = Sources.readJdbc(spark, url, "scores", driver = driver)
    assert(back.count() == 4)
    assert(back.columns.map(_.toLowerCase).toSet ==
      Set("transaction_id", "customer_id", "amount", "aggregated_score", "risk_level"))
    val hi = back.filter(col("risk_level") === "High").head
    assert(hi.getAs[Long]("transaction_id") == 3L)
    // partitioned read: 3 disjoint id ranges in parallel
    val part = Sources.readJdbc(spark, url, "scores", driver = driver,
      partitioning = Some(("transaction_id", 0L, 5L, 3)))
    assert(part.rdd.getNumPartitions == 3)
    assert(part.count() == 4)
    assert(part.agg(sum("aggregated_score")).head.getDouble(0) ==
      back.agg(sum("aggregated_score")).head.getDouble(0))
  }

  test("mysql dialect contract: the scored-log schema maps to concrete " +
       "MySQL DDL through Spark's registered dialect") {
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.types._
    val dialect = JdbcDialects.get("jdbc:mysql://db.example.invalid:3306/fraud")
    val schema = StructType(Seq(
      StructField("transaction_id", LongType),
      StructField("customer_id", LongType),
      StructField("ts", TimestampType),
      StructField("amount", DoubleType),
      StructField("aggregated_score", DoubleType),
      StructField("risk_level", StringType),
      StructField("scored_at", TimestampType)))
    // the URL must select the MySQL dialect, not the generic fallback —
    // backtick identifier quoting below is the observable proof
    assert(dialect.getClass.getName.toLowerCase.contains("mysql"))
    val ddl = JdbcUtils.schemaString(dialect, schema,
      caseSensitive = false, Some("risk_level VARCHAR(10)"))
    // the exact CREATE TABLE column list Spark would send to MySQL 8:
    // every type is a valid MySQL column type, identifiers are
    // backtick-quoted, and the explicit VARCHAR override (the Derby
    // round-trip above uses the same option) lands verbatim
    for (c <- Seq("`transaction_id` BIGINT", "`customer_id` BIGINT",
        "`ts` TIMESTAMP", "`amount` DOUBLE PRECISION",
        "`aggregated_score` DOUBLE PRECISION",
        "`risk_level` VARCHAR(10)", "`scored_at` TIMESTAMP"))
      assert(ddl.contains(c), s"missing [$c] in [$ddl]")
  }
}
