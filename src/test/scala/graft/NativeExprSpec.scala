package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHash

/** Differential tests: each hand-written native expression must agree
  * with the layered Spark-builtin formulation it replaced, on
  * randomized corpora (ASCII, unicode, repeated tokens, short docs) —
  * the builtins are the semantic reference, the natives the fast path.
  */
class NativeExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val vocab = Vector("the", "quick", "fox", "α", "β", "héllo",
    "日本", "x", "yy", "zzz", "a-b", "c.d", "", "0", "42")
  private lazy val corpus = (0 until 200).map { i =>
    val n = rnd.nextInt(12) // 0..11 tokens — includes sub-k docs
    (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
  }.toDF("doc_id", "text")

  private def tokens = split(trim(col("text")), "\\s+")

  // A native expression runs on two paths: generated code inside a
  // whole-stage stage, and interpreted `nullSafeEval`. Each case that
  // loops over `evalPaths` runs once per path. Both exclude
  // ConvertToLocalRelation, which would otherwise evaluate a projection
  // over a local frame at planning time, interpreted; the codegen path also
  // turns off the silent fallback to interpreted evaluation.
  private val localFold =
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
  private val evalPaths: Seq[(String, Map[String, String])] = Seq(
    "" -> Map(
      "spark.sql.optimizer.excludedRules" -> localFold,
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    " [interpreted]" -> Map(
      "spark.sql.optimizer.excludedRules" -> localFold,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Collects `q` on the path `confs` selects, after checking from the
    * physical plan that the path is the one taken. */
  private def onPath(confs: Map[String, String])(q: => DataFrame): Array[Row] = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = q
      val plan = df.queryExecution.executedPlan
      val codegen = plan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(codegen == confs("spark.sql.codegen.wholeStage").toBoolean, plan.toString)
      df.collect()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Shingles == array_distinct(transform(concat_ws)) on random docs") {
    val k = 3
    val native = corpus.select(col("doc_id"),
      TextHash.shingles(tokens, k).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val layered = corpus
      .select(col("doc_id"), tokens.as("w"))
      .select(col("doc_id"), when(size(col("w")) >= k, array_distinct(expr(
        s"transform(sequence(0, size(w)-$k), i -> concat_ws(' ', ${(0 until k).map(j => s"w[i+$j]").mkString(", ")}))")))
        .otherwise(array().cast("array<string>")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native == layered)
  }

  test("ChunkSpans == transform/sequence/slice/concat_ws stack on random docs") {
    for ((w, s) <- Seq((5, 5), (8, 4), (3, 1), (1, 1))) {
      val native = corpus.select(col("doc_id"),
        TextHash.chunkSpans(tokens, w, s).as("c")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val layered = corpus
        .select(col("doc_id"), tokens.as("w"))
        .select(col("doc_id"), expr(
          s"""transform(sequence(1, CASE WHEN size(w) <= $w THEN 1
             |                         ELSE (size(w) - $w + ${s - 1}) div $s + 1 END),
             |          i -> concat_ws(' ', slice(w, (i - 1) * $s + 1, $w)))""".stripMargin)
          .as("c")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == layered, s"window=$w stride=$s")
    }
  }

  test("WinnowFingerprints == layered md5/slice/array_min form on random docs") {
    val (k, w) = (3, 4)
    val native = corpus.select(col("doc_id"),
      TextHash.winnowFingerprints(tokens, k, w).as("f")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val layered = corpus
      .select(col("doc_id"), tokens.as("w"))
      .select(col("doc_id"), when(size(col("w")) >= k, expr(
        s"transform(sequence(0, size(w)-$k), i -> md5(cast(concat_ws(' ', ${(0 until k).map(j => s"w[i+$j]").mkString(", ")}) as binary)))"))
        .otherwise(array().cast("array<string>")).as("kh"))
      .select(col("doc_id"), when(size(col("kh")) >= w, array_distinct(expr(
        s"transform(sequence(1, size(kh)-${w - 1}), j -> array_min(slice(kh, j, $w)))")))
        .otherwise(array().cast("array<string>")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(native == layered)
  }

  test("ShingleHashes: distinct, deterministic, aligned with Shingles cardinality") {
    val k = 3
    val a = corpus.select(col("doc_id"), TextHash.shingleHashes(tokens, k).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = corpus.select(col("doc_id"), TextHash.shingleHashes(tokens, k).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b) // deterministic across plans
    val s = corpus.select(col("doc_id"), TextHash.shingles(tokens, k).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // same dedup semantics: one hash per distinct shingle (FNV-1a
    // collisions across ≤ 9 shingles/doc are out of the question)
    a.foreach { case (id, hs) =>
      assert(hs.size == s(id).size, s"doc $id: ${hs.size} hashes vs ${s(id).size} shingles")
      assert(hs.distinct.size == hs.size)
    }
  }

  test("null tokens are skipped with concat_ws semantics") {
    val df = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b', 'c') AS w")
    // layered concat_ws drops nulls: ('a',null,'b')→'a b', (null,'b','c')→'b c'
    assert(df.select(TextHash.shingles(col("w"), 3)).head.getSeq[String](0)
      == Seq("a b", "b c"))
    assert(df.select(TextHash.simhash64(col("w"))).head.getLong(0) ==
      spark.sql("SELECT array('a','b','c') AS w")
        .select(TextHash.simhash64(col("w"))).head.getLong(0))
    assert(df.select(TextHash.shingleHashes(col("w"), 3)).head.getSeq[Long](0).size == 2)
    assert(df.select(TextHash.winnowFingerprints(col("w"), 2, 2)).head.getSeq[String](0)
      .forall(_.length == 32))
  }

  for ((path, confs) <- evalPaths) {
    test(s"SimHash64 codegen and interpreted eval agree on every doc$path") {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, StringType}
      import org.apache.spark.unsafe.types.UTF8String
      val colPath = onPath(confs)(corpus.select(col("doc_id"),
        TextHash.simhash64(tokens).as("sig")))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // direct interpreted eval of the same expression per doc
      corpus.collect().foreach { r =>
        val toks = r.getString(1).trim.split("\\s+")
        val arr = new GenericArrayData(toks.map(t => UTF8String.fromString(t): Any))
        val interp = graft.functions.SimHash64(
          Literal(arr, ArrayType(StringType))).eval(null).asInstanceOf[Long]
        assert(interp == colPath(r.getLong(0)), s"doc ${r.getLong(0)}")
      }
    }
  }

  for ((path, confs) <- evalPaths) {
    test(s"FuzzyMatchStats == layered filter/transform/levenshtein HOFs on random keys$path") {
      val rnd2 = new scala.util.Random(19)
      val alpha = "abcde "
      def randKey(n: Int) = (0 until n).map(_ => alpha(rnd2.nextInt(alpha.length))).mkString
      // small alphabet + short strings → plenty of within-budget pairs
      val bench = (0 until 40).map(_ => randKey(3 + rnd2.nextInt(10))).distinct
      val docs = (0 until 300).map(i => (i.toLong, randKey(1 + rnd2.nextInt(14))))
        .toDF("doc_id", "c_key")
      for (maxDist <- Seq(0, 2, 4)) {
        val native = onPath(confs)(docs.select(col("doc_id"),
          graft.functions.FuzzyMatch.stats(col("c_key"), bench, maxDist).as("st")))
          .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
        // the HOF reference is CodegenFallback: it never compiles into a
        // whole-stage stage, so it is collected as is on both paths
        val layered = docs.select(col("doc_id"),
          filter(
            transform(
              filter(lit(bench.toArray),
                b => abs(length(b) - length(col("c_key"))) <= maxDist),
              b => levenshtein(col("c_key"), b)),
            d => d <= maxDist).as("ds"))
          .collect().map { r =>
            val ds = r.getSeq[Int](1)
            r.getLong(0) -> Seq(ds.size, if (ds.isEmpty) -1 else ds.min)
          }.toMap
        assert(native == layered, s"maxDist=$maxDist")
      }
      // direct interpreted eval agrees with the column path
      import org.apache.spark.sql.catalyst.expressions.Literal
      val colPath = onPath(confs)(docs.select(col("doc_id"),
        graft.functions.FuzzyMatch.stats(col("c_key"), bench, 2).as("st")))
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      docs.collect().foreach { r =>
        val interp = graft.functions.FuzzyMatchStats(
          Literal(org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)),
            org.apache.spark.sql.types.StringType), bench, 2)
          .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        assert(interp.toIntArray().toSeq == colPath(r.getLong(0)), s"doc ${r.getLong(0)}")
      }
    }
  }

  for ((path, confs) <- evalPaths) {
    test(s"NearestCentroidCell == array_min(array(struct(sqDiffSum, idx))) incl. subspace offsets$path") {
      import graft.functions.ArrayMath
      val vrnd = new scala.util.Random(11)
      val dim = 8
      val vecs = (0 until 300).map { i =>
        (i.toLong, Seq.fill(dim)(vrnd.nextGaussian()))
      }.toDF("id", "v")
      val cents = Array.fill(5)(Array.fill(dim)(vrnd.nextGaussian()))
      // full-width assignment: native vs the struct-literal spelling
      val structForm = array_min(array(cents.zipWithIndex.toSeq.map { case (c, i) =>
        struct(ArrayMath.sqDiffSum(col("v"), typedLit(c.toSeq)).as("d"),
               lit(i).as("cell"))
      }: _*)).getField("cell")
      val both = onPath(confs)(vecs.select(col("id"),
          ArrayMath.nearestCell(col("v"), cents).as("native"),
          structForm.as("struct")))
      both.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)}"))
      // subspace offset (the PQ form): offset 4, width-4 codebooks vs
      // the slice + struct spelling
      val books = Array.fill(5)(Array.fill(4)(vrnd.nextGaussian()))
      val sliceForm = array_min(array(books.zipWithIndex.toSeq.map { case (c, i) =>
        struct(ArrayMath.sqDiffSum(slice(col("v"), 5, 4), typedLit(c.toSeq)).as("d"),
               lit(i).as("code"))
      }: _*)).getField("code")
      val sub = onPath(confs)(vecs.select(col("id"),
          ArrayMath.nearestCell(col("v"), books, offset = 4).as("native"),
          sliceForm.as("struct")))
      sub.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)} (offset)"))
      // direct interpreted eval agrees with the column path (filter
      // pushdown runs it interpreted in some plans)
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val colPath = both.map(r => r.getLong(0) -> r.getInt(1)).toMap
      vecs.collect().foreach { r =>
        val arr = new GenericArrayData(r.getSeq[Double](1).toArray.map(_.asInstanceOf[Any]))
        val interp = graft.functions.NearestCentroidCell(
          Literal(arr, ArrayType(DoubleType)), cents, 0).eval(null).asInstanceOf[Int]
        assert(interp == colPath(r.getLong(0)), s"interp id ${r.getLong(0)}")
      }
    }
  }

  for ((path, confs) <- evalPaths) {
    test(s"AdcDistance == the element_at chain on random codes/LUTs$path") {
      import graft.functions.ArrayMath
      val arnd = new scala.util.Random(13)
      val (m, ksub) = (16, 16)
      val rows = (0 until 300).map { i =>
        (i.toLong, Seq.fill(m)(arnd.nextInt(ksub)),
          Seq.fill(m * ksub)(arnd.nextDouble()))
      }.toDF("id", "codes", "__lut")
      val chain = (0 until m).map(s =>
        element_at(col("__lut"), element_at(col("codes"), s + 1) + lit(s * ksub + 1)))
        .reduce(_ + _)
      val got = onPath(confs)(rows.select(col("id"),
          ArrayMath.adcDistance(col("codes"), col("__lut"), ksub).as("native"),
          chain.as("chain")))
      got.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"id ${r.getLong(0)}"))
    }
  }

  test("model-mismatch guards fail loudly instead of reading garbage") {
    import graft.functions.ArrayMath
    // AdcDistance: UnsafeArrayData.getDouble does not bounds-check at
    // runtime, so a mismatched model (wrong ksub / wrong m / corrupt
    // code) must be rejected, not silently scored
    val bad = Seq(
      (1L, Seq(0, 20), Seq.fill(2 * 16)(0.5)),   // code 20 >= ksub 16
      (2L, Seq(0, -1), Seq.fill(2 * 16)(0.5)))   // negative code
      .toDF("id", "codes", "__lut")
    val e1 = intercept[Exception] {
      bad.select(ArrayMath.adcDistance(col("codes"), col("__lut"), 16)).collect()
    }
    assert(e1.getMessage.contains("out of range") ||
      Option(e1.getCause).exists(_.getMessage.contains("out of range")))
    val shortLut = Seq((1L, Seq(0, 1, 2), Seq.fill(2 * 16)(0.5)))
      .toDF("id", "codes", "__lut")                // 3 codes x 16 > 32
    val e2 = intercept[Exception] {
      shortLut.select(ArrayMath.adcDistance(col("codes"), col("__lut"), 16)).collect()
    }
    assert(e2.getMessage.contains("exceeds LUT length") ||
      Option(e2.getCause).exists(_.getMessage.contains("exceeds LUT length")))
    // NearestCentroidCell: vector shorter than offset+dim is a
    // model/data mismatch (was: silent cell-0 assignment)
    val shortVec = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val cents2 = Array(Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0))
    val e3 = intercept[Exception] {
      shortVec.select(ArrayMath.nearestCell(col("v"), cents2)).collect()
    }
    assert(e3.getMessage.contains("centroid model does not match") ||
      Option(e3.getCause).exists(_.getMessage.contains("centroid model does not match")))
    // ragged centroid matrix rejected at construction
    val e4 = intercept[IllegalArgumentException] {
      ArrayMath.nearestCell(col("v"), Array(Array(0.0, 0.0), Array(1.0)))
    }
    assert(e4.getMessage.contains("ragged"))
  }

  /** Every row of `df` scores `==` under the native expression and the
    * UDF, on the path `confs` selects. */
  private def assertSameAsUdf(confs: Map[String, String], df: DataFrame,
                              native: Column, udf: Column): Unit = {
    val both = onPath(confs)(df.select(native.as("native"), udf.as("udf")))
    assert(both.length == df.count())
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"native ${r.getDouble(0)} != udf ${r.getDouble(1)}")
    }
  }

  for ((path, confs) <- evalPaths) {
    test(s"IForestScoreSamples == the r1-r5 UDF scorer, bit-identical$path") {
      val rnd = new scala.util.Random(7)
      val dim = 6
      val rows = (0 until 400).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextGaussian() * 10)))
      val df = rows.toDF("id", "features")
      val m = graft.ml.IsolationForest.fit(df, "features",
        nTrees = 50, subsample = 64, contamination = 0.02, seed = 11L)
      val both = onPath(confs)(df.select(
          m.scoreSamplesCol(col("features")).as("native"),
          UdfScorers.scoreSamplesUdfCol(m, col("features")).as("udf")))
      both.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1),
          s"native ${r.getDouble(0)} != udf ${r.getDouble(1)}")
      }
      // model-mismatch guard: vector narrower than the widest split
      // feature fails loudly (UnsafeArrayData would read garbage)
      val short = Seq((1L, Seq(0.5))).toDF("id", "features")
      val e = intercept[Exception] {
        onPath(confs)(short.select(m.scoreSamplesCol(col("features"))))
      }
      assert(e.getMessage.contains("forest model does not match") ||
        Option(e.getCause).exists(_.getMessage.contains("forest model does not match")))
    }

    test(s"LofNoveltyScore == the retired UDF scorer, bit-identical$path") {
      val rnd = new scala.util.Random(13)
      val dim = 5
      val train = (0 until 300).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextGaussian() * 3)))
        .toDF("id", "features")
      val model = graft.ml.Lof.fitNovelty(train, "id", "features", k = 15)
      // score a DIFFERENT slice (novelty semantics) including far outliers
      val unseen = ((0 until 200).map(i =>
          (1000L + i, Seq.fill(dim)(rnd.nextGaussian() * 3))) ++
        (0 until 5).map(i => (2000L + i, Seq.fill(dim)(25.0 + rnd.nextGaussian()))))
        .toDF("id", "features")
      val both = onPath(confs)(unseen.select(
          model.scoreCol(col("features")).as("native"),
          UdfScorers.scoreColUdf(model, col("features")).as("udf")))
      both.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1),
          s"native ${r.getDouble(0)} != udf ${r.getDouble(1)}")
      }
      // model-mismatch guard: short vector fails loudly
      val short = Seq((1L, Seq(0.5))).toDF("id", "features")
      val e = intercept[Exception] {
        onPath(confs)(short.select(model.scoreCol(col("features"))))
      }
      assert(e.getMessage.contains("reference model does not match") ||
        Option(e.getCause).exists(_.getMessage.contains("reference model does not match")))
    }

    test(s"PcaReconScore == the retired UDF scorer, bit-identical$path") {
      val rnd = new scala.util.Random(29)
      val dim = 7
      val train = (0 until 250).map { i =>
        // rank-2 structure + noise so components are meaningful
        val a = rnd.nextGaussian(); val b = rnd.nextGaussian()
        (i.toLong, Seq.tabulate(dim)(j => a * (j + 1) + b * math.sin(j) +
          0.1 * rnd.nextGaussian()))
      }.toDF("id", "features")
      val model = graft.ml.PcaRecon.fit(train, "features", k = 3)
      val withZero = train.union(Seq((-1L, Seq.fill(dim)(0.0))).toDF("id", "features"))
      val both = onPath(confs)(withZero.select(
          model.scoreCol(col("features")).as("native"),
          UdfScorers.scoreColUdf(model, col("features")).as("udf")))
      both.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1),
          s"native ${r.getDouble(0)} != udf ${r.getDouble(1)}")
      }
      val short = Seq((1L, Seq(0.5))).toDF("id", "features")
      val e = intercept[Exception] {
        onPath(confs)(short.select(model.scoreCol(col("features"))))
      }
      assert(e.getMessage.contains("component model does not match") ||
        Option(e.getCause).exists(_.getMessage.contains("component model does not match")))
    }

    test(s"LofNoveltyScore ties: duplicated and equidistant reference points == UDF$path") {
      // reference points on the integer grid {0,1,2}³, each repeated
      // 1-4 times: kdist ties, zero distances and heap ties everywhere
      val grid = for (a <- 0 to 2; b <- 0 to 2; c <- 0 to 2)
        yield Seq(a.toDouble, b.toDouble, c.toDouble)
      val train = grid.zipWithIndex.flatMap { case (p, i) => Seq.fill(1 + i % 4)(p) }
        .zipWithIndex.map { case (p, id) => (id.toLong, p) }
        .toDF("id", "features")
      val model = graft.ml.Lof.fitNovelty(train, "id", "features", k = 6)
      // cell centres sit equidistant from 8 grid points, edge and face
      // midpoints from 2 and 4; grid points and the origin hit duplicates
      val halves = for (a <- Seq(0.5, 1.5); b <- Seq(0.5, 1.5); c <- Seq(0.5, 1.5))
        yield Seq(a, b, c)
      val queries = (halves ++ Seq(Seq(1.0, 1.0, 0.5), Seq(0.5, 0.0, 1.5),
          Seq(0.5, 0.5, 2.0)) ++ grid ++ Seq(Seq(0.0, 0.0, 0.0)))
        .zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("id", "features")
      val centre = Array(0.5, 0.5, 0.5)
      val atCorner = model.points.count(p =>
        p.indices.map(j => (p(j) - centre(j)) * (p(j) - centre(j))).sum == 0.75)
      assert(atCorner > model.k, s"only $atCorner reference points tie at the k-th distance")
      assertSameAsUdf(confs, queries,
        model.scoreCol(col("features")), UdfScorers.scoreColUdf(model, col("features")))
      // the fitted kdist/lrd are near-uniform on a grid, so which tied
      // point the heap keeps barely shows; distinct per-point values do
      val n = model.points.length
      val marked = model.copy(kdist = Array.tabulate(n)(i => 0.5 + 0.013 * i),
        lrd = Array.tabulate(n)(i => 1.0 + 0.37 * i))
      assertSameAsUdf(confs, queries,
        marked.scoreCol(col("features")), UdfScorers.scoreColUdf(marked, col("features")))
    }

    test(s"IForestScoreSamples: a value on a split threshold goes right, == UDF$path") {
      import graft.ml.{IForestModel, ITree, IsolationForest}
      // root: x0 < 0.5 ? leaf(3) : (x1 < 0 ? leaf(1) : leaf(2))
      val tree = ITree(feature = Array(0, -1, 1, -1, -1),
        threshold = Array(0.5, 0.0, 0.0, 0.0, 0.0),
        left = Array(1, -1, 3, -1, -1), right = Array(2, -1, 4, -1, -1),
        size = Array(6, 3, 3, 1, 2))
      val m = IForestModel(Array(tree), psi = 6, offset = 0.0)
      def score(pathLen: Double) = -math.pow(2.0, -pathLen / IsolationForest.c(6))
      val cases = Seq(
        Seq(0.5, 0.0) -> score(2.0 + IsolationForest.c(2)),   // right, right
        Seq(0.5, -0.1) -> score(2.0),                          // right, left
        Seq(0.4, 0.0) -> score(1.0 + IsolationForest.c(3)),   // left
        Seq(0.0, 0.0) -> score(1.0 + IsolationForest.c(3)))   // all-zero: left
      val got = onPath(confs)(cases.map(_._1).zipWithIndex
          .map { case (x, i) => (i.toLong, x) }.toDF("id", "features")
          .select(col("id"), m.scoreSamplesCol(col("features"))))
        .sortBy(_.getLong(0)).map(_.getDouble(1)).toSeq
      assert(got == cases.map(_._2))
      // every split of a small fitted forest, hit exactly, plus the origin
      val rnd = new scala.util.Random(5)
      val dim = 4
      val df = (0 until 300).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
        .toDF("id", "features")
      val fitted = IsolationForest.fit(df, "features", nTrees = 5, subsample = 32, seed = 3L)
      val onSplit = fitted.trees.toSeq.flatMap(t => t.feature.indices.filter(t.feature(_) >= 0)
        .map(n => Seq.tabulate(dim)(j => if (j == t.feature(n)) t.threshold(n) else rnd.nextGaussian())))
      val inputs = (onSplit :+ Seq.fill(dim)(0.0)).zipWithIndex
        .map { case (x, i) => (i.toLong, x) }.toDF("id", "features")
      assertSameAsUdf(confs, inputs,
        fitted.scoreSamplesCol(col("features")), UdfScorers.scoreSamplesUdfCol(fitted, col("features")))
    }
  }

  for ((path, confs) <- evalPaths) {
    test(s"CosineTopK == naive rounded-rank reference on random shards incl. ties$path") {
      // quantized coordinates (multiples of 0.25) make rounded-cosine
      // collisions common, exercising the (cos desc, id asc) tie-break
      // and the BigDecimal-avoidance guard's boundary
      val r = new scala.util.Random(11)
      val dim = 8; val n = 300; val k = 7
      val vecs = Array.fill(n, dim)(r.nextInt(8) * 0.25 - 1.0)
      val ids = Array.tabulate(n)(i => (i * 3 + 1).toLong)
      def round6(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dp = a.zip(b).map { case (x, y) => x * y }.sum
        val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
        if (den > 0) dp / den else 0.0
      }
      val df = ids.zip(vecs).toSeq.toDF("vec_id", "embedding")
      val shard = graft.operators.AnnServe.fitShard(df)
      val queries = ids.take(20).zip(vecs.take(20)).toSeq.toDF("vec_id", "embedding")
      val got = onPath(confs)(graft.operators.AnnServe.topkRows(queries, shard, k))
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
      (0 until 20).foreach { qi =>
        val qid = ids(qi)
        val expect = ids.indices.filter(ids(_) != qid)
          .map(i => (ids(i), round6(cos(vecs(qi), vecs(i)))))
          .sortBy { case (id, c) => (-c, id) }.take(k).toSet
        assert(got(qid) == expect, s"query $qid: ${got(qid)} vs $expect")
      }
    }
  }

  for ((path, confs) <- evalPaths) {
    test(s"AdcTopK == naive rounded-rank reference on random codes incl. ties$path") {
      val r = new scala.util.Random(13)
      val m = 4; val ksub = 4; val dsub = 2; val n = 250; val k = 6
      val books = Array.fill(m, ksub, dsub)(r.nextInt(4) * 0.5)
      val codes = Array.fill(n * m)(r.nextInt(ksub).toByte)
      val ids = Array.tabulate(n)(i => (i * 2 + 5).toLong)
      val model = graft.operators.Pq.Model(m, ksub, dsub, books)
      val shard = graft.operators.AnnServe.PqShard(ids, codes, model)
      val qvecs = Array.fill(15, m * dsub)(r.nextInt(4) * 0.5)
      val queries = ids.take(15).zip(qvecs).toSeq.toDF("vec_id", "embedding")
      def round6(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val got = onPath(confs)(graft.operators.AnnServe.pqTopkRows(queries, shard, k))
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
      (0 until 15).foreach { qi =>
        val qid = ids(qi)
        val expect = (0 until n).filter(ids(_) != qid).map { i =>
          val dist = (0 until m).map { s =>
            val c = codes(i * m + s) & 0xff
            (0 until dsub).map { j =>
              val d = qvecs(qi)(s * dsub + j) - books(s)(c)(j); d * d
            }.sum
          }.sum
          (ids(i), round6(dist))
        }.sortBy { case (id, d) => (d, id) }.take(k).toSet
        assert(got(qid) == expect, s"query $qid: ${got(qid)} vs $expect")
      }
    }
  }

  test("CharTrigramBuckets walks CODE POINTS: non-BMP text grams match the " +
       "Spark substring/md5/conv derivation and never split surrogate pairs") {
    val nb = 1024
    // emoji (supplementary plane, 2 UTF-16 units each), combining text,
    // CJK, a doc below the 3-code-point floor, and plain ASCII control
    val docs = Seq((1L, "a😀b😀c"), (2L, "naïve🎉!"),
                   (3L, "😀😀"), (4L, "日本語のテキスト"),
                   (5L, "plain ascii text")).toDF("doc_id", "text")
    val native = docs.select(col("doc_id"),
        graft.functions.ArrayMath.charTrigramBuckets(col("text"), nb).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the engine-relational reference: Spark's substring/length count
    // code points, md5 of the gram's UTF-8 bytes, first 8 hex as long
    val layered = docs.select(col("doc_id"), expr(
        s"""CASE WHEN length(text) >= 3
           |  THEN transform(sequence(1, length(text) - 2),
           |    i -> cast(conv(substring(md5(cast(substring(text, i, 3) as binary)), 1, 8), 16, 10) as bigint) % $nb)
           |  ELSE array() END""".stripMargin).cast("array<long>").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == layered,
      "native trigram walk must equal the code-point relational form")
    assert(native(1L).length == 3, // 5 code points -> 3 grams
      s"a\\uD83D\\uDE00b... has 5 code points -> 3 grams, got ${native(1L).length}")
    assert(native(3L).isEmpty, "2 code points -> below the trigram floor")
  }

  // Hand rows in the events schema, added to sf0.001: to the history the
  // profiles are fitted on, and to the frame that is enriched.
  private def eventRow(id: Long, user: java.lang.Long, channel: String,
                       value: java.lang.Double): Row =
    Row(id, java.sql.Timestamp.valueOf("2024-01-10 03:00:00"), user, channel,
      value, """{"k": 40}""")

  for ((path, confs) <- evalPaths) {
    test(s"enrichEvents profile lookups == the broadcast USING-join reference: " +
         s"schema and rows, sf0.001 plus edge keys$path") {
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      def withRows(df: DataFrame, rows: Row*): DataFrame =
        df.union(spark.createDataFrame(java.util.Arrays.asList(rows: _*), ev.schema))
      val known = ev.select("user_id").head().getLong(0)
      val history = withRows(ev,
        eventRow(900001L, null, "purchase", 10.0),  // a null-key customer group
        eventRow(900002L, 777777L, "view", null),   // a user whose values are all null
        eventRow(900003L, 777777L, null, null))     // a null-key merchant group
      val target = ml.Features.bindEvents(withRows(history,
        eventRow(900004L, 888888L, "purchase", 5.0),  // unknown user_id
        eventRow(900005L, known, "teleport", 6.0),    // unknown channel
        eventRow(900006L, null, "view", 7.0),         // null user_id
        eventRow(900007L, known, null, 8.0)))         // null channel
      val bound = ml.Features.bindEvents(history)
      val cust = operators.Profiles.customerProfileFull(bound, "user_id", "amount")
      val merch = operators.Profiles.merchantProfile(bound, "channel", "amount")
      val fitted = ml.Features.EventProfiles(
        operators.Profiles.collectProfile("cust_profile", cust),
        operators.Profiles.collectProfile("merch_profile", merch))

      val reference = ProfileJoins.enrichEvents(target, cust, merch)
      val lookup = ml.Features.enrichEvents(target, fitted)
      assert(lookup.schema == reference.schema,
        s"\n${lookup.schema.treeString}\nvs\n${reference.schema.treeString}")
      val want = reference.collect().sortBy(_.getAs[Long]("event_id"))
      val got = onPath(confs)(lookup).sortBy(_.getAs[Long]("event_id"))
      assert(got.length == 1007 && got.sameElements(want))
      val byId = got.map(r => r.getAs[Long]("event_id") -> r).toMap
      assert(byId(900002L).isNullAt(byId(900002L).fieldIndex("cust_avg_amount")) &&
        byId(900002L).getAs[Double]("cust_txn_count") == 2.0)
      for (id <- Seq(900004L, 900006L))
        assert(byId(id).isNullAt(byId(id).fieldIndex("cust_avg_amount")))
      for (id <- Seq(900005L, 900007L))
        assert(byId(id).isNullAt(byId(id).fieldIndex("merch_avg_amount")))
    }
  }

  test("profile collect: a profile over its row cap fails loudly, naming the " +
       "profile and the cap; a duplicate key or an unsupported key type too") {
    val over = intercept[IllegalArgumentException](
      operators.Profiles.requireProfileCap("cust_profile", 3, 2))
    assert(over.getMessage.contains("profile cust_profile: 3 rows exceed the cap of 2"),
      over.getMessage)
    operators.Profiles.requireProfileCap("cust_profile", 2, 2)
    assert(operators.Profiles.ProfileRows == (1 << 20))
    val dup = intercept[IllegalArgumentException](operators.Profiles.collectProfile(
      "merch_profile", Seq(("a", 1.0), ("a", 2.0)).toDF("channel", "merch_avg_amount")))
    assert(dup.getMessage.contains("profile merch_profile: duplicate key a"), dup.getMessage)
    val badKey = intercept[IllegalArgumentException](operators.Profiles.collectProfile(
      "p", Seq((1.5, 1.0)).toDF("k", "v")))
    assert(badKey.getMessage.contains("lookups take long or string keys"), badKey.getMessage)
  }
}
