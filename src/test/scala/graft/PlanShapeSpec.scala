package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the round-3 operators — the
  * scale properties PLANS.md claims, pinned as tests so a regression
  * (a lost broadcast, an accidental nested-loop join, an extra
  * shuffle) fails CI instead of surfacing at 100 TB. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  private def ts(s: String) = Timestamp.valueOf(s)

  test("binned range join plans an equi-join — never a nested loop or cartesian") {
    val plan = planOf("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("as-of join is join-free: one key shuffle, carry-forward window") {
    val left = Seq((1L, ts("2024-01-10 10:00:00"), "q1"))
      .toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts("2024-01-10 09:00:00"), 5.0))
      .toDF("user_id", "rts", "score")
    val plan = operators.Temporal.joinAsOf(
        left, right, Seq("user_id"), "ts", "rts", Seq("score"))
      .queryExecution.executedPlan.toString
    Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j:\n${plan.take(800)}"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 key shuffle, got $exchanges:\n${plan.take(800)}")
  }

  test("sessionization costs exactly one data shuffle") {
    val ev = Seq((1L, ts("2024-01-10 10:00:00"), 1L, 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    val plan = operators.Temporal.sessionize(
        ev, "user_id", "ts", "event_id", "value", 1800)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n${plan.take(800)}")
  }

  test("PII scrub and text normalization never shuffle data — hash exchanges absent") {
    // the declared queries end in an orderBy for the verify dump (one
    // range exchange for presentation); the TRANSFORM itself must stay
    // scan-side — the order-free core has zero exchanges of any kind
    val core = operators.Corpus.piiStats(
        Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!core.contains("Exchange"),
      s"piiStats claims scan-side-only but shuffles:\n${core.take(800)}")
    Seq("q_pii_redact", "q_normalize_text").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q transform must not reshuffle data:\n${plan.take(800)}")
    }
  }

  test("BPE pair counting and weighted sampling plan TakeOrderedAndProject — no full sort") {
    Seq("q_bpe_pairs", "q_weighted_sample").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q top-k must be TakeOrdered:\n${plan.take(800)}")
    }
  }

  test("corpus diff shuffles digests on the id key only — no text in the join") {
    val plan = planOf("q_corpus_diff")
    // one hash-keyed exchange per side of the full outer join, keyed by doc_id
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).size == 2,
      plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("pretrain pipeline: decontamination gate + domain mix add zero hash exchanges " +
       "over the base corpus pipeline") {
    def hashEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    val base = planOf("q_corpus_pipeline")
    val full = planOf("q_pretrain_pipeline")
    assert(hashEx(full) == hashEx(base),
      s"the composed stages must stay scan-side: base=${hashEx(base)} " +
        s"full=${hashEx(full)}\n${full.take(1200)}")
    assert(!full.contains("CartesianProduct") &&
           !full.contains("BroadcastNestedLoopJoin"), full.take(800))
  }

  test("robots gate is shuffle-free on the URL side: per-host rule " +
       "arrays broadcast, verdict folds row-locally") {
    val plan = planOf("q_robots_gate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // the only exchanges allowed are on the TINY rules build side
    // (source distinct + per-host collect_list); the URL stream itself
    // must reach the verdict without any shuffle
    def hashEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx(plan) <= 2,
      s"robots gate must not shuffle the URL side\n${plan.take(1200)}")
  }

  test("crawl pipeline: no cartesian, robots rules broadcast, and the " +
       "exchange KINDS are only the component stages'") {
    val plan = planOf("q_crawl_pipeline")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // every hash exchange must be keyed by a known stage: the synthetic
    // generator's file group-by (_groupingexpression) and robots build
    // sides (source/host — tiny frames, replicated per plan reference;
    // AQE's exchange reuse collapses them at runtime), the digest
    // dedup (__mk), gopher agg (doc_id, w), the quality re-join
    // (doc_id) and the packing window (shard). Anything else — e.g. a
    // per-URL gate shuffle or a payload re-partition — is a
    // regression.
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val allowed = Set("_groupingexpression", "source", "host", "__mk",
      "doc_id", "shard")
    assert(keys.forall(allowed.contains),
      s"unexpected exchange keys: ${keys.filterNot(allowed.contains)}")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val plan = planOf("q_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("fuzzy decontamination: benchmark side broadcast, corpus never shuffled before the rollup") {
    val plan = planOf("q_decontaminate_fuzzy")
    // the length-band join is a non-equi broadcast nested loop over the
    // TINY benchmark side — the corpus-side cost is a scan, not a
    // shuffle; the only hash exchange is the per-doc rollup + order
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("NB quality classifier: model and stats joins are all broadcast — serve side is one doc-keyed agg") {
    val plan = planOf("q_quality_classifier")
    // the ≤nBuckets-row model meets the corpus feature stream in a
    // BroadcastHashJoin; the 1-row base/prior frames ride broadcast
    // nested loops. The fit-side full-outer of the two class df aggs
    // is nBuckets-bounded, so the only thing forbidden is a sort-merge
    // join carrying the corpus (doc_id-keyed).
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert("SortMergeJoin \\[doc_id".r.findFirstIn(plan).isEmpty, plan.take(800))
  }

  test("IVF probe over the bucketed corpus is exchange-free on the corpus side") {
    // Ivf scaladoc promise: assign once, writeBucketed by cell, and
    // every later probe shuffles ONLY the tiny probe side. Differential
    // assertion: the same probe over the unbucketed corpus needs TWO
    // cell exchanges (both join inputs), the bucketed one exactly ONE
    // (probe side) — the corpus reads straight off the bucketed scan.
    Seq("ivf_b").foreach { t =>
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
    val emb = Tables.embeddings(spark, sf)
    val cent = operators.Ivf.fitCentroids(emb, "vec_id", "embedding",
      nlist = 4, sampleSize = 256)
    val assigned = operators.Ivf.assign(emb, "vec_id", "embedding", cent)
    sources.Sources.writeBucketed(assigned, "ivf_b", "cell", 4)
    val queries = emb.limit(8)
    def cellExchanges(corpus: org.apache.spark.sql.DataFrame): Int = {
      val df = operators.Ivf.topkFromAssigned(corpus.hint("merge"),
        queries, "vec_id", "embedding", k = 5, cent, nprobe = 2)
      df.collect() // final adaptive plan
      // AdaptiveSparkPlan.toString appends the pre-AQE plan under an
      // "== Initial Plan ==" banner — count the final section only
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      "Exchange hashpartitioning\\(cell".r.findAllIn(plan).size
    }
    assert(cellExchanges(assigned) == 2, "control: unbucketed corpus must shuffle both sides")
    assert(cellExchanges(spark.table("ivf_b")) == 1,
      "bucketed corpus must join straight off the bucketed scan")
    // and the single-exchange result must be BECAUSE of bucketing: the
    // corpus side must read as a bucketed scan (output partitioning
    // supplied by the file layout, not by a runtime exchange)
    val bdf = operators.Ivf.topkFromAssigned(spark.table("ivf_b").hint("merge"),
      queries, "vec_id", "embedding", k = 5, cent, nprobe = 2)
    bdf.collect()
    val bplan = bdf.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(bplan.contains("Bucketed: true"),
      s"corpus scan must report bucketed reading:\n${bplan.take(1200)}")
  }

  test("span dedup: first-occurrence pick is a hash agg — no span-partitioned window sort") {
    // the PLANS.md skew claim: a boilerplate span repeated 10⁹× must
    // map-side combine in a partial aggregate, not sort as one window
    // group on a single reducer — so the plan may not contain a Window
    // over the span key at all
    val plan = planOf("q_span_dedup")
    assert(!plan.contains("Window"), s"span dedup regressed to a window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      plan.take(800))
  }

  test("substring dedup: gram decision is a hash agg on digests; window only per doc") {
    // same skew claim as span dedup for the duplicate/first-occurrence
    // decision (a boilerplate window repeated 10⁹× must map-side
    // combine, never sort as one gram-partitioned window group), PLUS:
    // the only Window allowed is the coverage running-max partitioned
    // by doc_id — bounded by one document's tokens — and the shuffled
    // gram key must be the 16-byte digest, not the ~120-byte text
    val plan = planOf("q_dedup_substrings")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      plan.take(800))
    val windowPartitions = "Window .*windowspecdefinition\\(([a-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windowPartitions.nonEmpty && windowPartitions.forall(_.startsWith("doc_id")),
      s"expected only doc_id-partitioned coverage windows, got $windowPartitions:\n${plan.take(1200)}")
    // inspect the exchanges' partitioning expressions directly (a
    // string-plan disjunction here was vacuously true): no StringType
    // gram/window-text column may feed a hashpartitioning node, and the
    // dedup-decision shuffle must key on the 16-byte BinaryType digest
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // plan with AQE off for this one inspection: the adaptive wrapper
    // hides exchange nodes from collect(), and sparkPlan predates
    // EnsureRequirements (no exchanges inserted yet)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val exec = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("q_dedup_substrings")(spark, sf)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val hashKeys = exec.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case HashPartitioning(exprs, _) => exprs }.flatten
    val textKeys = hashKeys.filter(k => k.dataType == StringType &&
      k.references.exists(a => a.name.contains("gram") || a.name.contains("tok")))
    assert(textKeys.isEmpty,
      s"verbatim gram/token text feeds a shuffle: $textKeys")
    assert(hashKeys.exists(_.dataType == BinaryType),
      s"no digest-keyed shuffle found — keys were: ${hashKeys.map(k => s"$k: ${k.dataType}")}")
  }

  test("token-budget selection: every window is bucket-partitioned — no single-reducer global cumsum") {
    // the operator's whole point: the global running total comes from
    // quantile buckets + partitioned windows, never Window.orderBy
    // with no partition (which collapses the corpus onto one reducer)
    import org.apache.spark.sql.execution.window.WindowExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val exec = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("q_token_budget")(spark, sf).queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the cumsum window in the plan")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window (single-reducer global sort):\n$w"))
  }

  test("bloom decontamination serve half is scan-side: zero exchanges") {
    // the row-local refactor's contract: shingle + sketch probe per
    // row, no explode→groupBy→join-back — this is also what makes the
    // same transform legal in append-mode streaming
    val docs = Tables.documents(spark, sf)
    val bf = operators.Corpus.fitDecontaminationBloom(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", k = 8)
    val core = operators.Corpus.decontaminateRows(
        docs.filter(col("doc_id") % 10 =!= 0), bf, "doc_id", "text", k = 8)
      .queryExecution.executedPlan.toString
    assert(!core.contains("Exchange"),
      s"decontaminateRows claims scan-side-only but shuffles:\n${core.take(800)}")
  }

  test("ANN serve is scan-side: no join, no exchange — one codegen top-k scan per row") {
    // the serve contract: shard rides the closure, each query row pays
    // one CosineTopK scan + explode — the same plan shape that makes
    // the transform legal in append-mode streaming
    val e = Tables.embeddings(spark, sf)
    val shard = operators.AnnServe.fitShard(e)
    val core = operators.AnnServe
      .topkRows(e.filter(col("vec_id") < 10), shard, k = 10)
      .queryExecution.executedPlan.toString
    assert(!core.contains("Exchange"),
      s"AnnServe.topkRows claims scan-side-only but shuffles:\n${core.take(800)}")
    Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!core.contains(j), s"unexpected $j:\n${core.take(800)}"))
    assert(core.contains("cosine_topk"), s"native expression missing:\n${core.take(800)}")
    // the PQ-compressed shard serve has the same scan-side contract
    val model = operators.Pq.fit(e, "vec_id", "embedding", m = 16, ksub = 16)
    val pq = operators.AnnServe
      .pqTopkRows(e.filter(col("vec_id") < 10),
        operators.AnnServe.fitPqShard(e, model), k = 10)
      .queryExecution.executedPlan.toString
    assert(!pq.contains("Exchange") && !pq.contains("Join"),
      s"pqTopkRows claims scan-side-only:\n${pq.take(800)}")
    assert(pq.contains("adc_topk"), s"native expression missing:\n${pq.take(800)}")
  }

  test("SQ8 serve is scan-side like the other tiers; the maintenance merges " +
       "shuffle only answer rows") {
    val e = Tables.embeddings(spark, sf)
    // the dequantizing serve: same zero-exchange/no-join contract as
    // raw and PQ — the byte shard rides the broadcast, each row pays
    // one sq_topk scan
    val sq = operators.AnnServe
      .sqTopkRows(e.filter(col("vec_id") < 10),
        operators.AnnServe.fitSqShard(e), k = 10)
      .queryExecution.executedPlan.toString
    assert(!sq.contains("Exchange") && !sq.contains("Join"),
      s"sqTopkRows claims scan-side-only:\n${sq.take(800)}")
    assert(sq.contains("sq_topk"), s"native expression missing:\n${sq.take(800)}")
    // incremental insert: the only hash exchange is the per-query
    // top-k merge window over ANSWER rows (query_id-keyed) — vectors
    // never shuffle (each serve pass is scan-side per the gate above)
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val fresh = e.filter(col("vec_id") % 5 === 0)
    val oldGraph = operators.AnnServe.topkRows(
      old, operators.AnnServe.fitShard(old), k = 5)
    val inc = operators.AnnServe.knnGraphIncremental(oldGraph, old, fresh, k = 5)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning\\(query_id".r
      .findAllIn(inc).length
    assert("Exchange hashpartitioning".r.findAllIn(inc).length == hashEx,
      s"incremental merge shuffles something other than answer rows:\n${inc.take(1200)}")
    Seq("SortMergeJoin", "CartesianProduct").foreach(j =>
      assert(!inc.contains(j), s"unexpected $j in incremental merge:\n${inc.take(1200)}"))
  }

  test("domain mixing is scan-side: no hash exchange anywhere in the plan") {
    // weight lookup is a literal map, the epoch copy a per-row explode —
    // the only exchange allowed is the presentation orderBy's range
    // partitioning
    val plan = planOf("q_mix_domains")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"mixDomains grew a shuffle:\n${plan.take(1200)}")
  }

  test("per-group top terms: rank window runs above the aggregate, not the token stream") {
    val plan = planOf("q_top_terms")
    val win = plan.indexOf("Window")
    val agg = plan.indexOf("HashAggregate")
    assert(win >= 0 && agg >= 0, plan.take(800))
    assert(win < agg,
      s"window must consume the vocabulary-bounded aggregate, not raw tokens:\n${plan.take(1200)}")
  }

  test("corpus dedup anti join: broadcast in the final plan on BOTH CC paths") {
    // Fast-path regime (test scale): the drop list is a driver
    // LocalRelation with exact stats, so Catalyst broadcasts
    // statically. Loop regime (past driverEdgeCap — the 100 TB shape):
    // the drop list sits behind the loop's localCheckpoint with NO
    // stats, sort-merge is planned statically (the honest default — a
    // dup-heavy drop list can be a large fraction of |V|, so a static
    // broadcast HINT would be the scale hazard) and AQE converts at
    // runtime after measuring the build side. Assert the final plan
    // broadcasts under both regimes.
    val df = SparkEntry.queries("q_corpus_dedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(800))
    assert("BroadcastHashJoin[^\n]*LeftAnti".r.findFirstIn(plan).isDefined,
           s"anti join not broadcast in the final plan:\n${plan.take(1500)}")
    // loop path, composed like Dedup.dedupCorpus but with the cap off
    val docs = Tables.documents(spark, sf)
    val pairs = operators.Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 8, threshold = 0.1, portableMd5 = false,
      bandBucketCap = 512, stopShingleDfFrac = Some(0.5))
    val drop = operators.Dedup.connectedComponents(
        pairs, "doc_a", "doc_b", driverEdgeCap = 0)
      .filter(col("is_survivor") === 0).select(col("node").as("doc_id"))
    val loopDf = docs.join(drop, Seq("doc_id"), "left_anti")
    loopDf.collect()
    val loopPlan = loopDf.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin[^\n]*LeftAnti".r.findFirstIn(loopPlan).isDefined,
           s"loop-path anti join not AQE-converted to broadcast:\n${loopPlan.take(1500)}")
  }

  test("continuous-corpus micro-batch: batch restriction is a broadcast " +
       "semi-join; the candidate join keys on the band bucket — no cartesian") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val batchIds = docs.filter(col("doc_id") % 4 === 0).select("doc_id")
    // compose the micro-batch frame exactly as MaintainedCorpus.advance
    // does: standing shingle/band tables, the batch's bands restricted
    // by a semi-join, then the factored-out candidate stage
    val shAll = operators.Dedup.shingleDocs(docs, "doc_id", "text", 3)
    val bandAll = operators.Dedup.bandedKeys(shAll, 16, 8, portableMd5 = true)
    val bandBatch = bandAll.join(batchIds, Seq("doc_id"), "left_semi")
    val df = graft.streaming.CorpusPipeline.incrementalPairsFrom(
      shAll, bandAll, bandBatch, threshold = 0.1)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert("BroadcastHashJoin[^\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"batch-id restriction must be a broadcast semi-join:\n${plan.take(1500)}")
    assert(plan.contains("hashpartitioning(band") ||
           "BroadcastHashJoin[^\n]*band".r.findFirstIn(plan).isDefined,
      s"candidate join must key on the (band, bh) bucket:\n${plan.take(1500)}")
    // the graph-advance serve half stays scan-side: zero exchanges in
    // the per-batch top-k pass (one native expression over the shard)
    val e = Tables.embeddings(spark, sf)
    val serve = graft.operators.AnnServe.topkRows(
      e, graft.operators.AnnServe.fitShard(e), k = 5)
    val servePlan = serve.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!servePlan.contains("Exchange"),
      s"the serve pass of the graph advance must be exchange-free:\n" +
        servePlan.take(1200))
  }

  test("link extraction is scan-side: zero exchanges of any kind") {
    // the declared query adds one range exchange for presentation
    // order; the TRANSFORM itself — wrap, anchor regex, posexplode,
    // URL resolution — must never shuffle
    val core = operators.LinkGraph.linkEdges(
        operators.LinkGraph.linkPageWrapped(
          Tables.documents(spark, sf), "doc_id", "source", "lang"),
        "doc_id", "url", "html")
      .queryExecution.executedPlan.toString
    assert(!core.contains("Exchange"),
      s"linkEdges claims scan-side-only but shuffles:\n${core.take(800)}")
  }

  test("PageRank iterations never plan a cartesian; " +
       "exchanges stay on host-graph keys") {
    // driverEdgeCap = 0 forces the DISTRIBUTED loop (r16: the declared
    // query takes the bit-identical driver fast path on small graphs,
    // whose plan is a LocalTableScan with nothing to police)
    val plan = operators.LinkGraph.pageRankHosts(
        operators.LinkGraph.linkEdges(
          operators.LinkGraph.linkPageWrapped(
            Tables.documents(spark, sf), "doc_id", "source", "lang"),
          "doc_id", "url", "html"),
        driverEdgeCap = 0)
      .queryExecution.executedPlan.toString
    // (the node-count attach is the house 1-row crossJoin(broadcast)
    // scalar pattern, which plans as a constant-cost one-row
    // BroadcastNestedLoopJoin — allowed, like withNow everywhere else)
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // every hash exchange is keyed by a graph column (the edge/node/
    // degree/mass joins and aggs) — never by anything carrying the
    // corpus (doc_id, content); the page table leaves the plan after
    // the distinct host-pair projection
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val allowed = Set("src", "dst", "host")
    assert(keys.nonEmpty && keys.forall(allowed.contains),
      s"unexpected exchange keys: ${keys.filterNot(allowed.contains)}")
  }

  test("HITS and triangle counting never plan a cartesian; triangle " +
       "joins key on the oriented edge columns") {
    // HITS must be inspected UNCUT (checkpoint = false): the declared
    // query's localCheckpoints hide every iteration join behind
    // LogicalRDD scans, so planOf("q_hits") would police nothing.
    // (The normalize steps' 1-row crossJoin(broadcast) max attach is
    // a constant-cost BNLJ, allowed like withNow.)
    val hits = operators.LinkGraph.hitsHosts(
        operators.LinkGraph.linkEdges(
          operators.LinkGraph.linkPageWrapped(
            Tables.documents(spark, sf), "doc_id", "source", "lang"),
          "doc_id", "url", "html"),
        iters = 2, checkpoint = false)
      .queryExecution.executedPlan.toString
    assert(!hits.contains("CartesianProduct"), hits.take(1200))
    val hitsKeys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(hits).map(_.group(1)).toSet
    assert(hitsKeys.subsetOf(Set("src", "dst", "host", "a", "h")),
      s"unexpected HITS exchange keys: ${hitsKeys -- Set("src", "dst", "host", "a", "h")}")
    val tri = planOf("q_triangles")
    assert(!tri.contains("CartesianProduct") &&
           !tri.contains("BroadcastNestedLoopJoin"), tri.take(800))
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(tri).map(_.group(1)).toSeq
    // x/y are the DEGREE-oriented edge endpoints (r14); the degree agg
    // and orientation joins sit behind the localCheckpoint, so the
    // visible exchanges are the wedge self-joins and the corner rollup
    val allowed = Set("x", "y", "host")
    assert(keys.forall(allowed.contains),
      s"unexpected exchange keys: ${keys.filterNot(allowed.contains)}")
  }

  test("BM25: the query workload joins broadcast onto the posting " +
       "lists — the corpus never reshuffles on the workload") {
    val plan = planOf("q_bm25_topk")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"),
      s"query-terms join must broadcast:\n${plan.take(1200)}")
    // allowed hash exchanges: the shared termFreqs agg (doc_id-led
    // key; doclen rides the frame so there is no re-join), the df agg
    // (term) and the per-(query, doc) rollup; a shuffle keyed by the
    // workload alone would mean the corpus moved for it
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val allowed = Set("doc_id", "term", "query_id")
    assert(keys.forall(allowed.contains),
      s"unexpected exchange keys: ${keys.filterNot(allowed.contains)}")
  }

  test("declared hybrid (q_hybrid_topk, the promoted ANN form): the " +
       "dense side is grid-cell-bounded — no cartesian or extra " +
       "nested-loop pass anywhere in the fused plan") {
    val plan = planOf("q_hybrid_topk")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // exactly ONE nested-loop site is legitimate: bm25TopK's 1-row
    // global-stats attach (the repo-standard scalar-broadcast
    // crossJoin). The brute-force hybrid's corpus x queries dense pass
    // is a SECOND one — the ANN variant must not have it: dense
    // candidates reach the cosine only through the cell-keyed
    // equi-join.
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj <= 1, s"dense side went nested-loop ($nlj sites):\n${plan.take(1200)}")
    // exchanges stay on corpus/candidate keys: the shared termFreqs agg
    // (doc_id-led), the df agg (term), the (query, doc) rollups and
    // windows, and the grid candidate join's cell keys (c1..cN)
    val keys = "Exchange hashpartitioning\\(([A-Za-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val allowed = Set("doc_id", "term", "query_id", "c1", "c2")
    assert(keys.forall(allowed.contains),
      s"unexpected exchange keys: ${keys.filterNot(allowed.contains)}")
  }

  test("line dedup: boilerplate membership is a digest-keyed EQUI-join; " +
       "reassembly is one doc-keyed agg") {
    val plan = planOf("q_line_dedup")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // the membership join must key on the md5 digest (an equi-join
    // Catalyst can size-pick: broadcast at test sf, shuffled once the
    // dup set outgrows the threshold at scale — both are correct; a
    // non-equi or positional join would not be)
    assert("Join \\[md5|HashJoin \\[md5".r.findFirstIn(plan).isDefined,
      s"dup-set membership must join on the line digest:\n${plan.take(1200)}")
    // allowed hash exchanges: the digest-keyed dup-set agg (the md5
    // expression surfaces as _groupingexpression) and the doc_id
    // reassembly agg — nothing else
    val allowed = Set("doc_id", "md5", "_groupingexpression")
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keys.forall(allowed.contains),
      s"unexpected exchange keys: ${keys.filterNot(allowed.contains)}")
  }

  test("k-means assignment is scan-side: fixed centroids assign with zero exchanges") {
    val cent = Array(Array(400L, 1000L), Array(1600L, 1000L))
    val plan = operators.Cluster.assignClusters(
        Seq((1L, Seq(0.1, 0.2))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment must be a pure scan-side expression:\n${plan.take(800)}")
  }

  test("epoch shuffle: shard key is scan-side; the only data exchange is the " +
       "per-(epoch, shard) rank window") {
    val plan = operators.Layout.epochShuffle(
        Tables.documents(spark, sf), "doc_id")
      .queryExecution.executedPlan.toString
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keys == Seq("epoch"),
      s"expected exactly the (epoch, shard) window exchange, got $keys:\n${plan.take(800)}")
  }

  test("BM25 serve is scan-side: no join, no exchange — one codegen " +
       "index scan per query row") {
    val docs = Tables.documents(spark, sf)
    val ix = operators.Retrieval.fitBm25Index(docs, "doc_id", "text")
    val plan = operators.Retrieval.bm25ServeRows(
        operators.Retrieval.queryTermArrays(docs, "doc_id", "text"), ix)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"serve must be a pure scan-side expression:\n${plan.take(800)}")
    // whole-stage codegen spans render as "*(n)" in simpleString
    assert(plan.contains("*("), plan.take(800))
  }

  test("CMS heavy hitters: the sketch attaches by broadcast, top-k is " +
       "TakeOrderedAndProject, no cartesian anywhere") {
    val plan = planOf("q_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch must broadcast onto the term probes:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n${plan.take(800)}")
  }

  test("Ensemble.scoreBatch generated code calls the three score kernels and loops over no model") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val fitted = graft.ml.Ensemble.fit(spark, sf, graft.ml.Ensemble.Config(
      nTrees = 10, subsample = 64, pcaK = 3, lofK = 5, lofRefPoints = 100))
    val q = graft.ml.Ensemble.scoreBatch(graft.Tables.events(spark, sf), fitted)
    q.collect()  // the adaptive plan holds its codegen stages once executed
    val src = codegenStringSeq(q.queryExecution.executedPlan).map(_._2).mkString("\n")
    for (k <- Seq("iforest", "lof", "pca"))
      assert(src.contains(s"graft.functions.ScoreKernels.$k("), s"no $k kernel call")
    assert(!src.contains("lofSiftDown"))
    // a kernel loop pasted into the stage indexes a model array in place;
    // the kernel calls only pass the arrays on
    val indexed = """/\* (if|lof|pca)[A-Za-z]+ \*/\)\[""".r.findAllIn(src).toSeq
    assert(indexed.isEmpty, s"model arrays indexed in generated code: ${indexed.distinct}")
    assert(src.contains("/* lofPoints */") && src.contains("/* ifFeature */") &&
      src.contains("/* pcaComponents */"))
    // the profiles are fitted lookup state: over a plain parquet scan the
    // scoring plan holds no join and no exchange of any kind
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val executed = nodes(q.queryExecution.executedPlan)
    val tree = q.queryExecution.executedPlan.toString
    assert(!executed.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]) &&
      !tree.contains("Join"), s"scoring plans a join:\n$tree")
    assert(!executed.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) &&
      !tree.contains("Exchange"), s"scoring plans an exchange:\n$tree")
    assert(src.contains("graft.functions.ProfileKernels.slot("), "no profile lookup call")
  }
}
