package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for dense-vector math over
  * `array<double>` columns.
  *
  * Why not `zip_with`/`aggregate`: Spark's higher-order functions have
  * no codegen — every element evaluation goes through interpreted
  * lambda dispatch with boxing (measured: dedup_embedding 35 s vs
  * 0.9 s after switching to these). These expressions generate a tight
  * primitive loop over `UnsafeArrayData` inside whole-stage codegen.
  *
  * Numerics: both accumulate strictly left-to-right, the same order as
  * the equivalent DuckDB `list_sum(list_transform(...))` oracle SQL —
  * results are bit-identical, which the hash-compare gate requires.
  * Inputs implicit-cast to `array<double>` (float embeddings welcome).
  */
abstract class ArrayFoldExpression extends BinaryExpression {
  // inputs are guaranteed array<double> by the Column-level cast in
  // ArrayMath (AbstractDataType/ImplicitCastInputTypes are private[sql])
  override def dataType: DataType = DoubleType

  /** Java source for one loop step: accumulate into `s` from
    * `a.getDouble(i)` / `b.getDouble(i)`. */
  protected def stepCode(a: String, b: String, i: String): String
  protected def step(x: Double, y: Double): Double

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += step(a.getDouble(i), b.getDouble(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${stepCode(a, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ */
case class ArrayDotProduct(left: Expression, right: Expression) extends ArrayFoldExpression {
  override protected def stepCode(a: String, b: String, i: String): String =
    s"$a.getDouble($i) * $b.getDouble($i)"
  override protected def step(x: Double, y: Double): Double = x * y
  override def prettyName: String = "array_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² */
case class ArraySquaredDiffSum(left: Expression, right: Expression) extends ArrayFoldExpression {
  override protected def stepCode(a: String, b: String, i: String): String =
    s"($a.getDouble($i) - $b.getDouble($i)) * ($a.getDouble($i) - $b.getDouble($i))"
  override protected def step(x: Double, y: Double): Double = (x - y) * (x - y)
  override def prettyName: String = "array_sqdiff_sum"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** a × s element-wise (`array<double>` × double → `array<double>`):
  * the scaling/normalization building block (unit vectors for cosine
  * LSH). Full codegen — writes a primitive double[] and wraps it via
  * `UnsafeArrayData.fromPrimitiveArray`, replacing the interpreted
  * `transform(f, x -> x / n)` lambda (per-element boxed dispatch per
  * corpus row). */
case class ArrayScale(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val s = r.asInstanceOf[Double]
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) * s; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $a.getDouble($i) * $s;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override def prettyName: String = "array_scale"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** argmin over centroids of Σᵢ (vec[offset+i] − centroid[i])² — a
  * nearest-centroid cell id as ONE native codegen expression (IVF cell
  * assignment; PQ per-subspace code assignment via `offset`).
  *
  * Why not `array_min(array(struct(array_sqdiff_sum(vec, lit(c)), i)
  * ...))`: that spelling is correct, but it carries the centroid
  * matrix as per-centroid array LITERALS in the expression tree, and a
  * join on the resulting cell column pushes the implicit
  * `IsNotNull(<entire tree>)` down into a Filter that re-evaluates the
  * whole thing per input row outside whole-stage codegen — measured
  * ~200 µs/row on the r5 soak's IVF candidate join (~100× the codegen
  * projection path), turning a 104k-row probe into 20 s. Here the
  * matrix is a flat `double[]` reference object and the argmin is one
  * tight primitive loop, so even double evaluation costs ~µs/row.
  * Tie-break: smallest centroid index (identical to the struct
  * `array_min` it replaces — strict `<` keeps the earliest). */
case class NearestCentroidCell(child: Expression,
                               centroids: Array[Array[Double]],
                               offset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(centroids.nonEmpty, "nearest_cell: empty centroid matrix")
  private val nlist = centroids.length
  private val dim = centroids(0).length
  require(centroids.forall(_.length == dim),
    s"nearest_cell: ragged centroid matrix (expected every row length $dim)")
  require(offset >= 0, s"nearest_cell: negative offset $offset")
  @transient private lazy val flat: Array[Double] = centroids.flatten
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  // An input shorter than offset+dim is a model/data mismatch (wrong
  // embedding dim, wrong subspace offset); silently scoring a truncated
  // prefix would assign arbitrary cells, so fail loudly instead.
  private def shortInput(got: Int): Nothing =
    throw new IllegalArgumentException(
      s"nearest_cell: input vector has $got elements, need >= ${offset + dim} " +
        s"(offset=$offset, dim=$dim) — centroid model does not match the data")

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() < offset + dim) shortInput(a.numElements())
    val n = dim
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < nlist) {
      var s = 0.0; var i = 0; val off = c * dim
      while (i < n) {
        val d = a.getDouble(offset + i) - flat(off + i); s += d * d; i += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cent = ctx.addReferenceObj("centroids", flat, "double[]")
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      val dv = ctx.freshName("d"); val off = ctx.freshName("off")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      s"""
         |if ($a.numElements() < ${offset + dim}) {
         |  throw new IllegalArgumentException(
         |    "nearest_cell: input vector has " + $a.numElements() +
         |    " elements, need >= ${offset + dim} (offset=$offset, dim=$dim)" +
         |    " — centroid model does not match the data");
         |}
         |int $n = $dim;
         |int $best = 0; double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $nlist; $c++) {
         |  double $s = 0.0; int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $dv = $a.getDouble($offset + $i) - $cent[$off + $i];
         |    $s += $dv * $dv;
         |  }
         |  if ($s < $bestD) { $bestD = $s; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override def prettyName: String = "nearest_cell"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Two-level (residual) coarse-quantizer probe — the cell machinery
  * that lifts the IVF family past the flat-nlist ceiling (Jégou 2011's
  * residual coarse quantizer; the flat `NearestCentroidCell` fit walls
  * at ~4096 cells because Lloyd's on a driver sample is O(sample·nlist)
  * and per-row assignment is O(nlist·dim)): `nc` coarse centroids plus
  * ONE shared codebook of `nf` fine centroids over coarse RESIDUALS
  * give nc·nf effective cells from only nc+nf fitted vectors, with
  * per-row probe cost nc·dim + npc·(dim + nf·dim) instead of
  * nc·nf·dim. Emits the npc·npf probed cell ids (cell = c·nf + f) —
  * top-npc coarse by (dist asc, idx asc), then per probed coarse the
  * top-npf fine over the residual, in rank order. Assignment is the
  * npc=npf=1 case (a vector's own cell is always its first probe).
  * Same reference-object codegen shape as CosineTopK: the scan loops
  * run in this class inside the enclosing whole-stage span. */
case class TwoLevelProbeCells(child: Expression,
                              flatCoarse: Array[Double], flatFine: Array[Double],
                              nc: Int, nf: Int, dim: Int, npc: Int, npf: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(nc > 0 && nf > 0 && dim > 0,
    s"two_level_probe: bad geometry nc=$nc nf=$nf dim=$dim")
  require(flatCoarse.length == nc * dim,
    s"two_level_probe: ${flatCoarse.length} coarse values for nc=$nc dim=$dim")
  require(flatFine.length == nf * dim,
    s"two_level_probe: ${flatFine.length} fine values for nf=$nf dim=$dim")
  require(npc >= 1 && npc <= nc && npf >= 1 && npf <= nf,
    s"two_level_probe: bad probe counts npc=$npc/$nc npf=$npf/$nf")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  def probe(input: ArrayData): ArrayData = {
    if (input.numElements() < dim)
      throw new IllegalArgumentException(
        s"two_level_probe: input vector has ${input.numElements()} elements, " +
          s"need >= $dim — centroid model does not match the data")
    val x = new Array[Double](dim)
    var j = 0
    while (j < dim) { x(j) = input.getDouble(j); j += 1 }
    // top-npc coarse cells by (dist asc, idx asc); ties keep the
    // earlier index because insertion only displaces strictly-greater
    val cd = new Array[Double](npc); val ci = new Array[Int](npc)
    var cFilled = 0
    var c = 0
    while (c < nc) {
      var s = 0.0; var i = 0; val off = c * dim
      while (i < dim) { val d = x(i) - flatCoarse(off + i); s += d * d; i += 1 }
      if (cFilled < npc || s < cd(npc - 1)) {
        var p = cFilled
        while (p > 0 && cd(p - 1) > s) p -= 1
        if (p < npc) {
          var m = math.min(cFilled, npc - 1)
          while (m > p) { cd(m) = cd(m - 1); ci(m) = ci(m - 1); m -= 1 }
          cd(p) = s; ci(p) = c
          if (cFilled < npc) cFilled += 1
        }
      }
      c += 1
    }
    // per probed coarse (in rank order): residual, then top-npf fine
    val r = new Array[Double](dim)
    val fd = new Array[Double](npf); val fi = new Array[Int](npf)
    val cells = new Array[Int](cFilled * npf)
    var t = 0; var pc = 0
    while (pc < cFilled) {
      val cc = ci(pc); val coff = cc * dim
      var i = 0
      while (i < dim) { r(i) = x(i) - flatCoarse(coff + i); i += 1 }
      var fFilled = 0
      var f = 0
      while (f < nf) {
        var s = 0.0; var ii = 0; val foff = f * dim
        while (ii < dim) { val d = r(ii) - flatFine(foff + ii); s += d * d; ii += 1 }
        if (fFilled < npf || s < fd(npf - 1)) {
          var p = fFilled
          while (p > 0 && fd(p - 1) > s) p -= 1
          if (p < npf) {
            var m = math.min(fFilled, npf - 1)
            while (m > p) { fd(m) = fd(m - 1); fi(m) = fi(m - 1); m -= 1 }
            fd(p) = s; fi(p) = f
            if (fFilled < npf) fFilled += 1
          }
        }
        f += 1
      }
      var q = 0
      while (q < fFilled) { cells(t) = cc * nf + fi(q); t += 1; q += 1 }
      pc += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(if (t == cells.length) cells
                          else java.util.Arrays.copyOf(cells, t))
  }

  override def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("twoLevelProbe", this,
        classOf[TwoLevelProbeCells].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.probe($a);"
    })

  override def prettyName: String = "two_level_probe"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ asymmetric-distance (ADC): Σₛ lut[s·ksub + codes[s]] — the whole
  * per-candidate lookup-table scoring as ONE native loop.
  *
  * Why not a chain of 2·m `element_at`s: correct, but measured
  * ~80 µs/row on the r5 soak's IVF-PQ probe (785k candidate rows →
  * 64 s in the scoring projection alone; the identical join counted
  * WITHOUT the projection ran in 1.5 s). Each element_at evaluation
  * re-extracts an array view from the joined row, and 32 of them per
  * row leave whole-stage codegen nothing to fuse. Here both arrays are
  * read once and the m-step loop runs on primitive ints/doubles —
  * ~µs/row, and the expression tree is 1 node instead of 65. */
case class AdcDistance(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  // left = codes array<int> (length m), right = lut array<double>
  // (length m·ksub)
  override def dataType: DataType = DoubleType

  // Bounds discipline: UnsafeArrayData.getDouble does NOT bounds-check at
  // runtime (asserts disabled), so a codes array from a mismatched model
  // (wrong m or wrong ksub) would silently read out-of-range memory and
  // return garbage distances. One compare per row (m·ksub vs LUT length)
  // plus one per step (code in [0, ksub)) makes every access provably
  // in-range: i·ksub + c < m·ksub ≤ lut.numElements().
  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[ArrayData]; val lut = r.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (m * ksub > lut.numElements())
      throw new IllegalArgumentException(
        s"adc_distance: $m codes x ksub=$ksub exceeds LUT length ${lut.numElements()}" +
          " — PQ model does not match the data")
    var s = 0.0; var i = 0
    while (i < m) {
      val c = codes.getInt(i)
      if (c < 0 || c >= ksub)
        throw new IllegalArgumentException(
          s"adc_distance: code $c out of range [0, $ksub) at subspace $i")
      s += lut.getDouble(i * ksub + c); i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val i = ctx.freshName("i"); val m = ctx.freshName("m")
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      s"""
         |int $m = $codes.numElements();
         |if ($m * $ksub > $lut.numElements()) {
         |  throw new IllegalArgumentException(
         |    "adc_distance: " + $m + " codes x ksub=$ksub exceeds LUT length " +
         |    $lut.numElements() + " — PQ model does not match the data");
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  int $c = $codes.getInt($i);
         |  if ($c < 0 || $c >= $ksub) {
         |    throw new IllegalArgumentException(
         |      "adc_distance: code " + $c + " out of range [0, $ksub) at subspace " + $i);
         |  }
         |  $s += $lut.getDouble($i * $ksub + $c);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override def prettyName: String = "adc_distance"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The per-row loops of `IForestScoreSamples`, `LofNoveltyScore` and
  * `PcaReconScore`, each written once, over a primitive copy of the row
  * and the models' flat primitive arrays. Generated code calls them as
  * static methods (`graft.functions.ScoreKernels.lof(...)`) and
  * `nullSafeEval` calls them directly, so codegen and interpreted
  * evaluation run the same loop. Accumulation order, heap order and
  * tie handling are those of the retired UDF scorers (kept in the
  * test tree as `UdfScorers`), so scores are bit-identical
  * (NativeExprSpec pins both paths against them). */
private[graft] object ScoreKernels {

  /** `-2^(-E[h(x)]/c(ψ))` over the flattened forest; a row goes left
    * when `x(f) < threshold`, so a value on the threshold goes right. */
  def iforest(x: Array[Double], feature: Array[Int], threshold: Array[Double],
              left: Array[Int], right: Array[Int], leafC: Array[Double],
              roots: Array[Int], cPsi: Double): Double = {
    var total = 0.0; var t = 0
    while (t < roots.length) {
      var node = roots(t); var depth = 0.0
      while (feature(node) >= 0) {
        node = if (x(feature(node)) < threshold(node)) left(node) else right(node)
        depth += 1.0
      }
      total += depth + leafC(node); t += 1
    }
    -math.pow(2.0, -(total / roots.length) / cPsi)
  }

  /** `-LOF(x)` against `points.length / dim` reference points: a
    * max-heap of the k nearest (a later point replaces the root only
    * when strictly nearer), then the reach/lrd algebra over the heap
    * in slot order. */
  def lof(x: Array[Double], points: Array[Double], dim: Int,
          kdist: Array[Double], lrd: Array[Double], k: Int): Double = {
    val n = points.length / dim
    val heapD = new Array[Double](k); val heapI = new Array[Int](k)
    var filled = 0
    var i = 0
    while (i < n) {
      val base = i * dim
      var s = 0.0; var j = 0
      while (j < dim) { val d0 = x(j) - points(base + j); s += d0 * d0; j += 1 }
      val d = math.sqrt(s)
      if (filled < k) {
        heapD(filled) = d; heapI(filled) = i; filled += 1
        if (filled == k) {
          var m = k / 2 - 1
          while (m >= 0) { siftDown(heapD, heapI, m, k); m -= 1 }
        }
      } else if (d < heapD(0)) {
        heapD(0) = d; heapI(0) = i; siftDown(heapD, heapI, 0, k)
      }
      i += 1
    }
    var reachSum = 0.0; var lrdSum = 0.0
    var t = 0
    while (t < k) {
      val o = heapI(t)
      reachSum += math.max(heapD(t), kdist(o))
      lrdSum += lrd(o)
      t += 1
    }
    val lrdX = 1.0 / (reachSum / k + 1e-10)
    -(lrdSum / k) / lrdX
  }

  private def siftDown(d: Array[Double], ix: Array[Int], start: Int, len: Int): Unit = {
    var root = start
    while (2 * root + 1 < len) {
      var c = 2 * root + 1
      if (c + 1 < len && d(c + 1) > d(c)) c += 1
      if (d(root) >= d(c)) return
      val td = d(root); d(root) = d(c); d(c) = td
      val ti = ix(root); ix(root) = ix(c); ix(c) = ti
      root = c
    }
  }

  /** `‖x − V Vᵀ x‖² / d` for the k×d row-major component matrix. */
  def pca(x: Array[Double], comp: Array[Double], d: Int, k: Int): Double = {
    val proj = new Array[Double](k)
    var j = 0
    while (j < k) {
      var s = 0.0; var i = 0
      while (i < d) { s += comp(j * d + i) * x(i); i += 1 }
      proj(j) = s; j += 1
    }
    var err = 0.0; var i = 0
    while (i < d) {
      var r = 0.0; var jj = 0
      while (jj < k) { r += comp(jj * d + i) * proj(jj); jj += 1 }
      val e = x(i) - r; err += e * e; i += 1
    }
    err / d
  }
}

/** Isolation-forest `score_samples`: `-2^(-E[h(x)]/c(ψ))` over nTrees
  * root-to-leaf walks, as one native expression.
  *
  * The walk runs in the static helper `ScoreKernels.iforest`, which
  * the generated code calls on one `toDoubleArray()` copy of the row,
  * so HotSpot compiles the loop on its own. Pasted into the stage's
  * generated `processNext` (C2 compiles that to 85-140 kB with only a
  * few kB inlined), the same loops called `ArrayData.getDouble` out of
  * line for every element read. With the iForest, LOF and PCA loops in
  * the helpers, single-task scoring through `Ensemble.scoreBatch`
  * (perfbench `fit-score`, 6k rows, 4-core host) went from 2821 to
  * 6131 rows/s, and a 3000-row task to a noop sink from 863-1082 ms to
  * 439-493 ms, with identical scores.
  *
  * Besides the speed, the expression adds over the r1-r5 UDF the
  * model-mismatch guard below (the UDF walked garbage on a wrong-dim
  * vector), leafC precomputed at flatten time, and no deserialization
  * fence in the stage.
  *
  * Node layout: all trees concatenated; `left`/`right` hold ABSOLUTE
  * node indices (tree base already added), `roots(t)` is tree t's
  * root, `feature(n) == -1` marks a leaf whose `leafC(n)` carries
  * c(leaf size). Accumulation order (tree 0..n, depth + leafC) is
  * identical to the UDF, so scores are bit-identical (NativeExprSpec
  * pins this differentially). */
case class IForestScoreSamples(child: Expression,
                               feature: Array[Int], threshold: Array[Double],
                               left: Array[Int], right: Array[Int],
                               leafC: Array[Double], roots: Array[Int],
                               cPsi: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(roots.nonEmpty, "iforest_score: empty forest")
  require(feature.length == threshold.length &&
          feature.length == left.length && feature.length == right.length &&
          feature.length == leafC.length,
    "iforest_score: ragged flattened forest arrays")
  // widest feature index any split consults — an input shorter than
  // this is a model/data mismatch (wrong feature dim); fail loudly with
  // that message before the row is copied for the walk.
  private val minLen: Int = {
    var m = 0; var i = 0
    while (i < feature.length) { if (feature(i) >= m) m = feature(i) + 1; i += 1 }
    m
  }
  override def dataType: DataType = DoubleType

  private def shortInput(got: Int): Nothing =
    throw new IllegalArgumentException(
      s"iforest_score: input vector has $got elements, need >= $minLen " +
        "— forest model does not match the data")

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() < minLen) shortInput(a.numElements())
    ScoreKernels.iforest(a.toDoubleArray(), feature, threshold, left, right,
      leafC, roots, cPsi)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val fe = ctx.addReferenceObj("ifFeature", feature, "int[]")
      val th = ctx.addReferenceObj("ifThreshold", threshold, "double[]")
      val lf = ctx.addReferenceObj("ifLeft", left, "int[]")
      val rt = ctx.addReferenceObj("ifRight", right, "int[]")
      val lc = ctx.addReferenceObj("ifLeafC", leafC, "double[]")
      val ro = ctx.addReferenceObj("ifRoots", roots, "int[]")
      s"""
         |if ($a.numElements() < $minLen) {
         |  throw new IllegalArgumentException(
         |    "iforest_score: input vector has " + $a.numElements() +
         |    " elements, need >= $minLen — forest model does not match the data");
         |}
         |${ev.value} = graft.functions.ScoreKernels.iforest($a.toDoubleArray(),
         |  $fe, $th, $lf, $rt, $lc, $ro, $cPsi);
       """.stripMargin
    })

  override def prettyName: String = "iforest_score"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LOF novelty score `-LOF(x)` against a fixed reference structure —
  * the whole scorer (k-NN heap over the reference points, reach/lrd
  * algebra) as ONE native expression, replacing the Scala UDF with
  * the same motivation as `IForestScoreSamples`: no deserialization
  * fence, precomputed model state as flat primitive arrays, and a loud
  * model-mismatch guard (a vector shorter than the reference dimension
  * fails with that message). The scan runs in the static helper
  * `ScoreKernels.lof`, called from generated code on one primitive
  * copy of the row, so HotSpot compiles it on its own instead of as
  * part of the stage's generated `processNext` (see
  * `IForestScoreSamples` for the measurement); at 2000×17 reference
  * points that is 34k element reads per row. Accumulation and
  * heap-insertion order are identical to the UDF it replaces, so scores
  * are bit-identical (NativeExprSpec pins this differentially).
  *
  * Reference layout: `flatPoints` is n×dim row-major; `kdist`/`lrd`
  * are per-reference-point; `k` is the neighborhood size the model
  * was fit with (k < n by construction in `Lof.fitNovelty`). */
case class LofNoveltyScore(child: Expression, flatPoints: Array[Double],
                           dim: Int, kdist: Array[Double], lrd: Array[Double],
                           k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(dim > 0 && flatPoints.length % dim == 0,
    s"lof_score: flat points ${flatPoints.length} not a multiple of dim $dim")
  private val n = flatPoints.length / dim
  require(kdist.length == n && lrd.length == n,
    s"lof_score: ragged model arrays (n=$n, kdist=${kdist.length}, lrd=${lrd.length})")
  require(k >= 1 && k < n, s"lof_score: need 1 <= k < n, got k=$k n=$n")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() < dim)
      throw new IllegalArgumentException(
        s"lof_score: input vector has ${a.numElements()} elements, need >= $dim " +
          "— reference model does not match the data")
    ScoreKernels.lof(a.toDoubleArray(), flatPoints, dim, kdist, lrd, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pts = ctx.addReferenceObj("lofPoints", flatPoints, "double[]")
      val kd = ctx.addReferenceObj("lofKdist", kdist, "double[]")
      val lr = ctx.addReferenceObj("lofLrd", lrd, "double[]")
      s"""
         |if ($a.numElements() < $dim) {
         |  throw new IllegalArgumentException(
         |    "lof_score: input vector has " + $a.numElements() +
         |    " elements, need >= $dim — reference model does not match the data");
         |}
         |${ev.value} = graft.functions.ScoreKernels.lof($a.toDoubleArray(),
         |  $pts, $dim, $kd, $lr, $k);
       """.stripMargin
    })

  override def prettyName: String = "lof_score"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PCA reconstruction error `‖x − V Vᵀ x‖² / d` against a fixed
  * component matrix — the third score-path UDF converted to a native
  * expression (same motivation and layout discipline as
  * `IForestScoreSamples` / `LofNoveltyScore`: flat primitive model
  * state, loud dimension guard, and the loop in a static helper,
  * `ScoreKernels.pca`, that generated code calls on one primitive copy
  * of the row). Projection and reconstruction accumulate in the same
  * index order as the retired UDF, so scores are bit-identical
  * (NativeExprSpec). `flatComponents` is k×d row-major (component j at
  * [j*d, (j+1)*d)). */
case class PcaReconScore(child: Expression, flatComponents: Array[Double],
                         d: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(d > 0 && k >= 0 && flatComponents.length == k * d,
    s"pca_recon: ${flatComponents.length} components for k=$k d=$d")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() < d)
      throw new IllegalArgumentException(
        s"pca_recon: input vector has ${a.numElements()} elements, need >= $d " +
          "— component model does not match the data")
    ScoreKernels.pca(a.toDoubleArray(), flatComponents, d, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val comp = ctx.addReferenceObj("pcaComponents", flatComponents, "double[]")
      s"""
         |if ($a.numElements() < $d) {
         |  throw new IllegalArgumentException(
         |    "pca_recon: input vector has " + $a.numElements() +
         |    " elements, need >= $d — component model does not match the data");
         |}
         |${ev.value} = graft.functions.ScoreKernels.pca($a.toDoubleArray(), $comp, $d, $k);
       """.stripMargin
    })

  override def prettyName: String = "pca_recon"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** What every serve scan shares outside its own per-candidate loop:
  * the query check and the norm. Loud, like the shard-side fit-time
  * guard (`AnnServe.buildShard`): a longer query vector would be
  * silently truncated, and a NaN/Inf component would make every score
  * non-finite, silently emptying the serve answer while the batch
  * window plan ranks NaN first — the bit-parity contract only holds
  * for finite inputs, so a contaminated query fails here instead of
  * diverging. */
private[graft] object ServeQuery {
  /** The query as a fresh double array: exactly `dim` components, all
    * finite. `name` is the calling expression's SQL name. */
  def vector(name: String, qid: Long, qv: ArrayData, dim: Int): Array[Double] = {
    if (qv.numElements() != dim)
      throw new IllegalArgumentException(
        s"$name: query vector has ${qv.numElements()} elements, need exactly $dim " +
          "— index shard does not match the data (a longer vector would be " +
          "silently truncated, diverging from the full-vector batch plan)")
    val q = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      val x = qv.getDouble(j)
      if (!java.lang.Double.isFinite(x))
        throw new IllegalArgumentException(
          s"$name: non-finite query component $x at id $qid dim $j — " +
            "clean the query feed before serving")
      q(j) = x; j += 1
    }
    q
  }

  /** Euclidean norm of `v(off until off + len)`, accumulated left to
    * right — the `VectorOps.cosine` algebra, for queries at serve time
    * and for shard rows at fit time alike. */
  def norm(v: Array[Double], off: Int, len: Int): Double = {
    var s = 0.0
    var j = off
    while (j < off + len) { s += v(j) * v(j); j += 1 }
    math.sqrt(s)
  }
}

/** The serve family's rounded top-k window, one per query row: scores
  * are rounded HALF_UP to 6 dp and ranked on the ROUNDED value, ties
  * broken by id ascending — the batch window's exact order, which is
  * what makes every serve answer bit-identical to its join+window plan
  * and its DuckDB oracle. `descending` ranks high to low (cosine,
  * BM25), otherwise low to high (ADC distance). Each slot also keeps
  * the caller's shard index `ix`, for scans that read per-row side
  * arrays (bitext means, labels) after the cut. */
private[graft] final class RoundedTopK(k: Int, descending: Boolean) {
  val score = new Array[Double](k)
  val id = new Array[Long](k)
  val ix = new Array[Int](k)
  var filled = 0

  /** Offer a raw score. HALF_UP rounding is BigDecimal work (~µs), far
    * costlier than a dot product at shard scale; rounding moves a value
    * by at most 5e-7, so a raw score more than 1e-6 behind the current
    * k-th cannot reach the rounded window and is skipped before the
    * rounding. Conservative only: every possible entrant is still
    * rounded. Non-finite scores never enter: BigDecimal.valueOf(NaN)
    * would throw, and NaN comparisons would corrupt the order
    * silently. */
  def offer(raw: Double, rowId: Long, rowIx: Int): Unit =
    if (java.lang.Double.isFinite(raw) && (filled < k ||
        (if (descending) raw >= score(k - 1) - 1e-6 else raw <= score(k - 1) + 1e-6)))
      add(raw, rowId, rowIx)

  /** Round `raw` and insert it at its rank, with no skip test. */
  def add(raw: Double, rowId: Long, rowIx: Int): Unit = {
    val c = RoundedTopK.round6(raw)
    var p = filled
    while (p > 0 && {
        val s = score(p - 1)
        (if (descending) s < c else s > c) || (s == c && id(p - 1) > rowId)
      }) p -= 1
    if (p < k) {
      var m = math.min(filled, k - 1)
      while (m > p) {
        score(m) = score(m - 1); id(m) = id(m - 1); ix(m) = ix(m - 1); m -= 1
      }
      score(p) = c; id(p) = rowId; ix(p) = rowIx
      if (filled < k) filled += 1
    }
  }

  /** The window as `array<struct<id, score>>` in rank order. */
  def pairs: ArrayData = {
    val rows = new Array[Any](filled)
    var t = 0
    while (t < filled) { rows(t) = InternalRow(id(t), score(t)); t += 1 }
    new GenericArrayData(rows)
  }
}

private[graft] object RoundedTopK {
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `pairs`' type: `array<struct<neighbor_id: long, <scoreName>: double>>`. */
  def pairsType(scoreName: String): DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(scoreName, DoubleType,
          nullable = false))),
      containsNull = false)
}

/** A row-local serve scan over a broadcast shard: `serve(qid, query)`
  * computes the whole answer in the expression's class. Codegen stays
  * inside the enclosing whole-stage span and calls it through one
  * reference object — the per-row work is the scan loop, not
  * expression dispatch, so generating Janino for it would buy
  * nothing. */
private[graft] trait ShardScan extends BinaryExpression {
  def serve(qid: Long, query: ArrayData): ArrayData

  override def nullSafeEval(l: Any, r: Any): Any =
    serve(l.asInstanceOf[Long], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qid, query) => {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.serve($qid, $query);"
    })
}

/** Row-local brute-force top-k cosine against a fixed index shard —
  * the SERVE half of the similarity family (`AnnServe`): the shard
  * (ids + row-major vectors, norms precomputed once at construction)
  * rides the closure as flat primitive arrays, and each query row
  * pays one O(n·dim) scan plus a k-slot insertion, emitting
  * `array<struct<neighbor_id, cos>>` in (cos desc, neighbor_id asc)
  * rank order with the query's own id excluded. Cosine is the exact
  * `VectorOps.cosine` algebra (left-to-right double accumulation,
  * 0 on zero norm) ranked by `RoundedTopK` — ranking on rounded values
  * is what makes the output bit-identical to the batch
  * `q_sim_bruteforce` window ranking and its DuckDB oracle. Loud
  * dimension guard (`ServeQuery`) like every model expression here. */
case class CosineTopK(left: Expression, right: Expression,
                      shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double])],
                      dim: Int, k: Int,
                      includeSelf: Boolean = false) extends ShardScan {
  // includeSelf = true keeps the query's own corpus row in the ranking
  // (self-retrieval) — the hybrid-fusion batch plan ranks the full
  // corpus including the query doc, so its serve twin must too; every
  // pre-existing serve tier keeps the default exclusion.
  // The shard — (ids, row-major vectors, PRECOMPUTED norms) — rides a
  // BROADCAST, not the expression tree: task binaries are deserialized
  // PER TASK, so an embedded 100 MB array would be re-materialized by
  // every task in the stage (measured 18-40 s for a 10-row query feed
  // at the x96 soak scale vs 1.4 s of actual scan work); a broadcast
  // value deserializes once per executor JVM and is shared by
  // reference after that. Norms are fitted once at shard build, never
  // per task, and `serve` binds every shared array to a local before
  // its scan loops — a lazy-val accessor (volatile check + call) per
  // element would otherwise dominate the 13M-element/query scan
  // (stack-sampled: tasks sat in norms$lzycompute for seconds).
  require(dim > 0 && k >= 1, s"cosine_topk: bad dim=$dim k=$k")

  override def dataType: DataType = RoundedTopK.pairsType("cos")

  def serve(qid: Long, qv: ArrayData): ArrayData = {
    val (ids, flatVecs, norms) = shard.value
    val n = flatVecs.length / dim
    if (flatVecs.length != n * dim || ids.length != n || norms.length != n)
      throw new IllegalArgumentException(
        s"cosine_topk: ragged shard (${ids.length} ids, ${flatVecs.length} " +
          s"values, ${norms.length} norms at dim $dim)")
    val q = ServeQuery.vector(prettyName, qid, qv, dim)
    val qn = ServeQuery.norm(q, 0, dim)
    val top = new RoundedTopK(k, descending = true)
    var i = 0
    while (i < n) {
      if (includeSelf || ids(i) != qid) {
        var dp = 0.0
        var j = 0
        while (j < dim) { dp += q(j) * flatVecs(i * dim + j); j += 1 }
        val denom = qn * norms(i)
        top.offer(if (denom > 0) dp / denom else 0.0, ids(i), i)
      }
      i += 1
    }
    top.pairs
  }

  override def prettyName: String = "cosine_topk"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Row-local GRAPH-BEAM top-k against a kNN-graph index shard — the
  * sub-linear serve tier that makes the maintained graph
  * (`streaming.GraphStream` / `AnnServe.knnGraphIncremental`) a search
  * structure, not just a product: best-first beam search over the
  * symmetrized neighbor lists (Malkov & Yashunin 2016's layer-0
  * searchLayer; the graph here IS an HNSW bottom layer), seeded from
  * IVF-coarse-quantizer entry points. Per query the work is
  * O(visited · degree · dim) with `visited ≤ maxVisit` — at a 1M-row
  * shard and ef=64 that is ~10³ dot products vs `CosineTopK`'s 10⁶
  * full scan, the asymptotic gap that decides billion-vector serve
  * latency.
  *
  * Contract vs the exact tier: the ≤ef survivors are cut to k by the
  * same `RoundedTopK` as `CosineTopK`, and the query's own id never
  * surfaces (it still ROUTES — its neighbor list is expanded — because
  * a query that exists in the corpus is the best possible hub toward
  * its own neighborhood). Search is deterministic: the frontier orders
  * by (raw cos desc, node index asc). Recall is the index's contract,
  * gated in SimilaritySpec (≥ 0.9 @10 at default parameters vs brute
  * force; exact when ef ≥ n over a connected graph).
  *
  * Shard arrays ride ONE broadcast like every serve expression here
  * (ids, row-major vectors, precomputed norms, CSR adjacency
  * [nbrOff/nbrIdx], entry node indexes); all six bind to locals before
  * the search loop. */
case class GraphBeamTopK(left: Expression, right: Expression,
                         shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Int], Array[Int], Array[Int])],
                         dim: Int, k: Int, ef: Int, maxVisit: Int)
    extends ShardScan {
  require(dim > 0 && k >= 1 && ef >= k && maxVisit >= ef,
    s"graph_beam_topk: bad dim=$dim k=$k ef=$ef maxVisit=$maxVisit")

  override def dataType: DataType = RoundedTopK.pairsType("cos")

  def serve(qid: Long, qv: ArrayData): ArrayData = {
    val (ids, flatVecs, norms, nbrOff, nbrIdx, entries) = shard.value
    val n = ids.length
    if (flatVecs.length != n * dim || norms.length != n ||
        nbrOff.length != n + 1 || entries.isEmpty)
      throw new IllegalArgumentException(
        s"graph_beam_topk: ragged shard ($n ids, ${flatVecs.length} values, " +
          s"${norms.length} norms, ${nbrOff.length} offsets, " +
          s"${entries.length} entries at dim $dim)")
    val q = ServeQuery.vector(prettyName, qid, qv, dim)
    val qn = ServeQuery.norm(q, 0, dim)

    @inline def rawCos(i: Int): Double = {
      var dp = 0.0; var t = 0; val base = i * dim
      while (t < dim) { dp += q(t) * flatVecs(base + t); t += 1 }
      val denom = qn * norms(i)
      val r = if (denom > 0) dp / denom else 0.0
      if (java.lang.Double.isFinite(r)) r else 0.0
    }

    // result pool: best `ef` nodes seen, insertion-sorted by
    // (raw cos desc, node index asc) — resCos/resIdx parallel arrays
    val resCos = new Array[Double](ef); val resIdx = new Array[Int](ef)
    var resFilled = 0
    @inline def resWorst: Double =
      if (resFilled < ef) Double.NegativeInfinity else resCos(resFilled - 1)
    @inline def resInsert(c: Double, i: Int): Unit = {
      var p = resFilled
      while (p > 0 && (resCos(p - 1) < c ||
               (resCos(p - 1) == c && resIdx(p - 1) > i))) p -= 1
      if (p < ef) {
        val last = math.min(resFilled, ef - 1)
        var m = last
        while (m > p) { resCos(m) = resCos(m - 1); resIdx(m) = resIdx(m - 1); m -= 1 }
        resCos(p) = c; resIdx(p) = i
        if (resFilled < ef) resFilled += 1
      }
    }

    // frontier: max-heap by (raw cos desc, node index asc) — index-asc
    // tie order keeps the expansion sequence deterministic
    val frontier = new java.util.PriorityQueue[Array[Double]](16,
      new java.util.Comparator[Array[Double]] {
        override def compare(a: Array[Double], b: Array[Double]): Int = {
          val c = java.lang.Double.compare(b(0), a(0))
          if (c != 0) c else java.lang.Double.compare(a(1), b(1))
        }
      })
    val visited = new java.util.BitSet(n)
    var visitedCount = 0

    var e = 0
    while (e < entries.length) {
      val i = entries(e)
      if (!visited.get(i)) {
        visited.set(i); visitedCount += 1
        val c = rawCos(i)
        frontier.add(Array(c, i.toDouble))
        if (ids(i) != qid) resInsert(c, i)
      }
      e += 1
    }
    var stop = false
    while (!stop && !frontier.isEmpty) {
      val top = frontier.poll()
      if (resFilled == ef && top(0) < resWorst) stop = true
      else {
        val i = top(1).toInt
        var p = nbrOff(i)
        val end = nbrOff(i + 1)
        while (p < end && visitedCount < maxVisit) {
          val nb = nbrIdx(p)
          if (!visited.get(nb)) {
            visited.set(nb); visitedCount += 1
            val c = rawCos(nb)
            if (resFilled < ef || c > resWorst) {
              frontier.add(Array(c, nb.toDouble))
              if (ids(nb) != qid) resInsert(c, nb)
            }
          }
          p += 1
        }
        if (visitedCount >= maxVisit) stop = true
      }
    }

    // emit: re-rank the ≤ef survivors on the ROUNDED value (rounding
    // can reorder near-ties; ranking on rounded cos is what aligns
    // with the batch window) and cut to k
    val out = new RoundedTopK(k, descending = true)
    var t = 0
    while (t < resFilled) { out.add(resCos(t), ids(resIdx(t)), resIdx(t)); t += 1 }
    out.pairs
  }

  override def prettyName: String = "graph_beam_topk"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Row-local MARGIN-CRITERION BITEXT serve — `operators.Mining.
  * bitextMine`'s per-src algebra (forward top-k window → neighborhood
  * means → ratio margin → per-src argmax) collapsed into ONE scan
  * expression, which is what makes bitext mining streaming-legal: the
  * batch spelling needs two aggregation joins and a ranking window
  * (illegal in append mode), this needs no join, no shuffle, no state.
  * The forward top-k phase is `CosineTopK`'s scan into the shared
  * `RoundedTopK`; avg_src is the window's rank-order mean (the same
  * left-to-right accumulation Spark's single-partition `avg` performs
  * on the exploded batch frame); avg_tgt rides the shard broadcast
  * aligned by index, FITTED batch-side from the same backward serve
  * the batch operator runs — so every double matches the batch join
  * bit for bit. Margin is HALF_UP-6dp of cos/((avg_src+avg_tgt)/2), 0
  * on a non-positive denominator, argmax by (margin desc, tgt_id asc)
  * — the batch window's exact order. Emits a single-element array (the
  * mined pair), ids still in the caller's disjoint remap space. */
case class BitextTopMargin(left: Expression, right: Expression,
                           shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Double])],
                           dim: Int, k: Int) extends ShardScan {
  require(dim > 0 && k >= 1, s"bitext_top_margin: bad dim=$dim k=$k")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tgt_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cos", DoubleType,
          nullable = false),
        org.apache.spark.sql.types.StructField("margin", DoubleType,
          nullable = false))),
      containsNull = false)

  def serve(qid: Long, qv: ArrayData): ArrayData = {
    val (ids, flatVecs, norms, avgTgt) = shard.value
    val n = flatVecs.length / dim
    if (flatVecs.length != n * dim || ids.length != n || norms.length != n ||
        avgTgt.length != n)
      throw new IllegalArgumentException(
        s"bitext_top_margin: ragged shard (${ids.length} ids, " +
          s"${flatVecs.length} values, ${norms.length} norms, " +
          s"${avgTgt.length} avgs at dim $dim)")
    val q = ServeQuery.vector(prettyName, qid, qv, dim)
    val qn = ServeQuery.norm(q, 0, dim)
    // phase 1: the rounded forward window
    val top = new RoundedTopK(k, descending = true)
    var i = 0
    while (i < n) {
      if (ids(i) != qid) {
        var dp = 0.0
        var j = 0
        while (j < dim) { dp += q(j) * flatVecs(i * dim + j); j += 1 }
        val denom = qn * norms(i)
        top.offer(if (denom > 0) dp / denom else 0.0, ids(i), i)
      }
      i += 1
    }
    val filled = top.filled
    if (filled == 0) return new GenericArrayData(Array.empty[Any])
    // phase 2: rank-order mean (= the batch frame's single-partition
    // avg), per-candidate ratio margin, argmax (margin desc, id asc)
    var sum = 0.0
    var t = 0
    while (t < filled) { sum += top.score(t); t += 1 }
    val avgSrc = sum / filled
    var bestT = -1; var bestMargin = 0.0
    t = 0
    while (t < filled) {
      val den = (avgSrc + avgTgt(top.ix(t))) / 2.0
      val m = if (den > 0.0) RoundedTopK.round6(top.score(t) / den) else 0.0
      if (bestT < 0 || m > bestMargin ||
          (m == bestMargin && top.id(t) < top.id(bestT))) {
        bestT = t; bestMargin = m
      }
      t += 1
    }
    new GenericArrayData(Array[Any](
      InternalRow(top.id(bestT), top.score(bestT), bestMargin)))
  }

  override def prettyName: String = "bitext_top_margin"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Row-local LABEL-SAFE HARD-NEGATIVE serve — the exact algebra of
  * `operators.Mining.hardNegatives` (top-k window → same-label drop →
  * re-rank 1..m) collapsed into ONE scan expression, which is what
  * makes the mining family streaming-legal: the batch spelling needs
  * two label joins and a ranking window (illegal in append mode), this
  * needs no join, no shuffle, no state. The top-k phase is
  * `CosineTopK`'s scan into the shared `RoundedTopK` (own id
  * excluded); the label phase keeps a window member unless BOTH labels
  * are non-null and equal (the batch filter's null-safe semantics — an
  * unlabeled anchor keeps all neighbors); survivors emit with rank
  * 1..m. Labels ride the same broadcast as the vectors, aligned by
  * shard index. The anchor's own label arrives as the third child and
  * MAY be null — eval/codegen handle that explicitly (null label ≠
  * null row). */
case class HardNegTopK(first: Expression, second: Expression,
                       third: Expression,
                       shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[String])],
                       dim: Int, k: Int, m: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  require(dim > 0 && k >= 1 && m >= 1 && m <= k,
    s"hardneg_topk: bad dim=$dim k=$k m=$m")

  override def nullable: Boolean = first.nullable || second.nullable

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("neg_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cos", DoubleType,
          nullable = false),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false))),
      containsNull = false)

  def topm(qid: Long, qv: ArrayData, anchorLab: String): ArrayData = {
    val (ids, flatVecs, norms, labels) = shard.value
    val n = flatVecs.length / dim
    if (flatVecs.length != n * dim || ids.length != n || norms.length != n ||
        labels.length != n)
      throw new IllegalArgumentException(
        s"hardneg_topk: ragged shard (${ids.length} ids, ${flatVecs.length} " +
          s"values, ${norms.length} norms, ${labels.length} labels at dim $dim)")
    val q = ServeQuery.vector(prettyName, qid, qv, dim)
    val qn = ServeQuery.norm(q, 0, dim)
    // phase 1: the rounded top-k window
    val top = new RoundedTopK(k, descending = true)
    var i = 0
    while (i < n) {
      if (ids(i) != qid) {
        var dp = 0.0
        var j = 0
        while (j < dim) { dp += q(j) * flatVecs(i * dim + j); j += 1 }
        val denom = qn * norms(i)
        top.offer(if (denom > 0) dp / denom else 0.0, ids(i), i)
      }
      i += 1
    }
    // phase 2: null-safe same-label drop + rank 1..m over the window
    val rows = new scala.collection.mutable.ArrayBuffer[Any](m)
    var rank = 0
    var t = 0
    while (t < top.filled && rank < m) {
      val nlab = labels(top.ix(t))
      val drop = anchorLab != null && nlab != null && anchorLab == nlab
      if (!drop) {
        rank += 1
        rows += InternalRow(top.id(t), top.score(t), rank)
      }
      t += 1
    }
    new GenericArrayData(rows.toArray)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = first.eval(input)
    val r = second.eval(input)
    if (l == null || r == null) null
    else {
      val lb = third.eval(input)
      topm(l.asInstanceOf[Long], r.asInstanceOf[ArrayData],
        if (lb == null) null else lb.toString)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val le = first.genCode(ctx)
    val re = second.genCode(ctx)
    val be = third.genCode(ctx)
    val ref = ctx.addReferenceObj("hardNegShard", this, classOf[HardNegTopK].getName)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
        ${le.code}
        ${re.code}
        ${be.code}
        boolean ${ev.isNull} = ${le.isNull} || ${re.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.topm(
            ${le.value}, ${re.value},
            ${be.isNull} ? null : ${be.value}.toString());
        }
      """)
  }

  override def prettyName: String = "hardneg_topk"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Row-local ADC top-k against a PQ-COMPRESSED index shard — the
  * memory-bound serve variant of `CosineTopK` (Jégou 2011): the shard
  * holds m byte codes per vector instead of dim doubles (m=8/ksub=16
  * at 64-dim float is a 32× RAM cut, which is what actually bounds a
  * serving tier), each query row builds its m×ksub LUT once
  * (m·ksub·dsub multiplies) and then pays m table lookups per corpus
  * vector. Ranking is the shared `RoundedTopK` run ascending — rounded
  * approximate squared distance with the (dist asc, neighbor_id asc)
  * tie-break and the query's own id excluded — the exact algebra of
  * the batch `Pq.topk` join+window plan (LUT entries and the ADC sum
  * accumulate in the same left-to-right order), so serve output is
  * bit-identical to it (SimilaritySpec pins this). */
case class AdcTopK(left: Expression, right: Expression,
                   shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte])],
                   flatBooks: Array[Double], m: Int, ksub: Int, dsub: Int,
                   k: Int) extends ShardScan {
  // codes ride a broadcast like CosineTopK's vectors (same per-task
  // deserialization hazard); the codebooks are m·ksub·dsub doubles
  // (~32 KB at the defaults) and stay plain expression state
  require(m > 0 && ksub > 0 && dsub > 0, s"adc_topk: bad geometry $m/$ksub/$dsub")
  require(flatBooks.length == m * ksub * dsub,
    s"adc_topk: ${flatBooks.length} codebook values for m=$m ksub=$ksub dsub=$dsub")
  require(k >= 1, s"adc_topk: need k >= 1, got $k")
  require(ksub <= 256, s"adc_topk: byte codes need ksub <= 256, got $ksub")

  override def dataType: DataType = RoundedTopK.pairsType("approx_sqdist")

  def serve(qid: Long, qv: ArrayData): ArrayData = {
    // bind broadcast arrays to locals before the loops (per-task lazy
    // or accessor indirection in a 13M-element scan dominated the scan
    // itself — see CosineTopK's note)
    val (ids, flatCodes) = shard.value
    val n = flatCodes.length / m
    if (flatCodes.length != n * m || ids.length != n)
      throw new IllegalArgumentException(
        s"adc_topk: ragged shard (${ids.length} ids, ${flatCodes.length} codes at m=$m)")
    val q = ServeQuery.vector(prettyName, qid, qv, m * dsub)
    // per-query LUT: lut(s*ksub + c) = ||query_sub_s - book_s(c)||²,
    // accumulated left-to-right like the batch sqDiffSum expression
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var d2 = 0.0; var j = 0
        while (j < dsub) {
          val d = q(s * dsub + j) - flatBooks((s * ksub + c) * dsub + j)
          d2 += d * d; j += 1
        }
        lut(s * ksub + c) = d2; c += 1
      }
      s += 1
    }
    val top = new RoundedTopK(k, descending = false)
    var i = 0
    while (i < n) {
      if (ids(i) != qid) {
        var dist = 0.0
        var t = 0
        while (t < m) {
          dist += lut(t * ksub + (flatCodes(i * m + t) & 0xff)); t += 1
        }
        top.offer(dist, ids(i), i)
      }
      i += 1
    }
    top.pairs
  }

  override def prettyName: String = "adc_topk"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Row-local top-k cosine against an INT8 SCALAR-QUANTIZED index shard
  * — the MIDDLE memory tier of the serve family, between `CosineTopK`
  * (raw doubles, exact) and `AdcTopK` (PQ bytes, approximate): the
  * shard holds ONE byte per vector component plus the per-dimension
  * (min, step) dequantization line — 8× less resident vector RAM than
  * raw at near-exact ranking quality — and the scan dequantizes on the
  * fly, dq_j = min_j + code_j·step_j, trading two extra flops per
  * component for the 8× RAM cut (the SQ8 layout vector stores ship as
  * their default compression). Ranking is the shared `RoundedTopK` over
  * the cosine of (RAW query, dequantized candidate) — asymmetric, like
  * ADC: only the stored side pays quantization error — with the own id
  * excluded. The dequantization line, clamp, and accumulation order
  * are the EXACT algebra of the batch `sim_sq_topk` join+window plan
  * and its full-SQL DuckDB oracle, so serve output is bit-identical to
  * both (SimilaritySpec pins it). Norms of the dequantized vectors are
  * fitted once at shard build, never per task. */
case class SqTopK(left: Expression, right: Expression,
                  shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte], Array[Double])],
                  minl: Array[Double], stepl: Array[Double], k: Int)
    extends ShardScan {
  // codes + norms ride a broadcast like CosineTopK's vectors (same
  // per-task deserialization hazard); the dequantization line is
  // 2·dim doubles (~1 KB at 64-dim) and stays plain expression state
  require(minl.length > 0 && minl.length == stepl.length,
    s"sq_topk: dequantization line ${minl.length}/${stepl.length}")
  require(k >= 1, s"sq_topk: need k >= 1, got $k")

  private def dim: Int = minl.length

  override def dataType: DataType = RoundedTopK.pairsType("cos")

  def serve(qid: Long, qv: ArrayData): ArrayData = {
    // bind broadcast arrays to locals before the loops (see
    // CosineTopK's note on per-task accessor indirection)
    val (ids, codes, norms) = shard.value
    val d = dim
    val n = codes.length / d
    if (codes.length != n * d || ids.length != n || norms.length != n)
      throw new IllegalArgumentException(
        s"sq_topk: ragged shard (${ids.length} ids, ${codes.length} " +
          s"codes, ${norms.length} norms at dim $d)")
    val q = ServeQuery.vector(prettyName, qid, qv, d)
    val qn = ServeQuery.norm(q, 0, d)
    val mn = minl; val st = stepl
    val top = new RoundedTopK(k, descending = true)
    var i = 0
    while (i < n) {
      if (ids(i) != qid) {
        var dp = 0.0
        var j = 0
        while (j < d) {
          dp += q(j) * (mn(j) + (codes(i * d + j) & 0xff) * st(j)); j += 1
        }
        val denom = qn * norms(i)
        top.offer(if (denom > 0) dp / denom else 0.0, ids(i), i)
      }
      i += 1
    }
    top.pairs
  }

  override def prettyName: String = "sq_topk"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Char-trigram md5 bucket ids for a (pre-normalized) text column —
  * the FEATURE half of the trained lang-ID as one native expression:
  * the trigram walk, per-gram md5 and the mod-nBuckets fold run in
  * Java instead of an interpreted `transform(sequence(...), substr)`
  * lambda per character position (the HOF cost class the fuzzy-match
  * rewrite measured at ~10×; this one measured ~2× on the declared
  * query). The bucket algebra is EXACTLY the relational form the
  * oracle re-derives: first 8 hex chars of md5(gram) as a big-endian
  * unsigned int, mod nBuckets. Same caller contract as
  * `LangNbScore`: normalization (`lower(trim(...))`) stays in
  * Spark. Emits array<long>, one id per trigram OCCURRENCE. */
case class CharTrigramBuckets(child: Expression, nBuckets: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(nBuckets >= 2, s"char_trigram_buckets: bad nBuckets=$nBuckets")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  def buckets(textU: org.apache.spark.unsafe.types.UTF8String): Any = {
    val t = textU.toString
    // walk by CODE POINTS, not UTF-16 units (ADVICE r8): Spark's
    // substring/length and the DuckDB oracle's substr/len both count
    // code points, so supplementary-plane text (emoji, rare CJK) must
    // gram identically here — a code-unit walk would over-count grams
    // and split surrogate pairs. On BMP text the offsets coincide.
    val offs = CharTrigramBuckets.codePointOffsets(t)
    val n = offs.length - 1
    if (n < 3)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n - 2)
    var i = 0
    val max = n - 3
    while (i <= max) {
      md.reset()
      val dig = md.digest(t.substring(offs(i), offs(i + 3))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      out(i) = h % nBuckets
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any =
    buckets(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val ref = ctx.addReferenceObj("trigramBuckets", this,
        classOf[CharTrigramBuckets].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.buckets($t);"
    })

  override def prettyName: String = "char_trigram_buckets"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharTrigramBuckets {
  /** UTF-16 offsets of each code-point boundary in `t` (length =
    * codePointCount + 1, last entry = t.length): the shared
    * code-point walk behind `CharTrigramBuckets` and `LangNbScore`,
    * keeping fit and serve gram-identical on non-BMP text. */
  private[functions] def codePointOffsets(t: String): Array[Int] = {
    val n = t.codePointCount(0, t.length)
    val offs = new Array[Int](n + 1)
    var o = 0
    var i = 0
    while (i < n) { offs(i) = o; o = t.offsetByCodePoints(o, 1); i += 1 }
    offs(n) = t.length
    offs
  }
}

/** Row-local multinomial NB language scorer — the serve half of the
  * trained lang-ID (`Corpus.fitLangModel`): trigram extraction, the
  * md5 bucket hash and the per-class score fold all run in ONE
  * expression over the raw text (no per-gram HOF lambda, no explode —
  * the interpreted-HOF cost class the fuzzy-match rewrite measured at
  * ~10× is never entered). The bucket algebra is EXACTLY the declared
  * relational query's: lowercase+trim, char trigrams, first 8 hex
  * chars of md5 as a long mod nBuckets; scores accumulate
  * prior + Σ w[class·nBuckets + bucket] per gram OCCURRENCE and the
  * argmax ranks on HALF_UP-6dp-ROUNDED scores with the class-index
  * (= lang asc — the model sorts classes) tie-break, so output
  * matches the relational plan's rounded ranking (occurrence-order
  * vs per-bucket summation differ below the rounding floor).
  * Stateless — append-mode streaming legal. Emits
  * struct(best_idx, lang_score). */
case class LangNbScore(child: Expression, flatW: Array[Double],
                       priors: Array[Double], nBuckets: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private def nLangs: Int = priors.length
  require(nLangs >= 1 && nBuckets >= 2 && flatW.length == nLangs * nBuckets,
    s"lang_nb_score: ${flatW.length} weights for $nLangs classes x $nBuckets buckets")

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("best_idx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("lang_score", DoubleType,
        nullable = false)))

  /** `textU` must already be normalized (`lower(trim(text))`) by the
    * CALLER IN SPARK — engine trim/lower semantics stay the engine's,
    * never reimplemented here (Java's `String.trim` strips \t\n too;
    * Spark's trims spaces only — a silent gram-count divergence). */
  def score(textU: org.apache.spark.unsafe.types.UTF8String): Any = {
    val t = textU.toString
    val s = priors.clone()
    val w = flatW; val nb = nBuckets; val nc = nLangs
    // code-point walk, shared with CharTrigramBuckets (ADVICE r8) —
    // fit and serve must gram identically on supplementary-plane text
    val offs = CharTrigramBuckets.codePointOffsets(t)
    val ncp = offs.length - 1
    if (ncp >= 3) {
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      val max = ncp - 3
      while (i <= max) {
        val gram = t.substring(offs(i), offs(i + 3))
        md.reset()
        val dig = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 8 hex chars = first 4 digest bytes, big-endian unsigned
        val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        val b = (h % nb).toInt
        var c = 0
        while (c < nc) { s(c) += w(c * nb + b); c += 1 }
        i += 1
      }
    } else {
      // no trigram -> no features: the relational query emits NO row
      // for such a doc; this expression returns the prior-only argmax
      // (callers aligning with the declared query filter these out)
    }
    var best = 0
    var bestR = java.math.BigDecimal.valueOf(s(0))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    var c = 1
    while (c < nc) {
      val r = java.math.BigDecimal.valueOf(s(c))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (r > bestR) { best = c; bestR = r }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best, bestR)
  }

  override def nullSafeEval(v: Any): Any =
    score(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val ref = ctx.addReferenceObj("langNbScore", this, classOf[LangNbScore].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.score($t);"
    })

  override def prettyName: String = "lang_nb_score"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole-cell semantic-dedup verdicts in ONE per-group pass — the
  * grid-dedup insight made physical: grid pairs require EQUAL cells,
  * so connected components can never span cells, and the entire
  * cap→within-cell-pairs→CC chain of `Dedup.gridClusters` is a
  * CELL-LOCAL function of the (already md5-capped) member list. As a
  * per-group expression over `collect_list(struct(id, f, n))` it
  * replaces, per call: the pair self-join (an Exchange keyed by cell
  * carrying both dim-64 vectors per candidate pair), the pair-dedup/
  * direction `distinct` Exchange, the CC decision `count` job, the CC
  * driver collect job, and the verdict join back onto the member rows
  * (guide §2.4 "remove shuffles outright"). The group is bounded by
  * the caller's `cellCap` window (≤ 4096 rows × dim 64 ≈ 2 MB buffer
  * worst case, ≤ 64 rows in the streaming maintainer), so the
  * aggregation buffer is memory-safe by the same argument the pair
  * join relied on.
  *
  * Semantics are BIT-IDENTICAL to the chain it replaces (the
  * dedup_semantic_grid / q_dedup_crossmodal DuckDB oracles re-derive
  * the whole pipeline in SQL and hash-compare): the pair set is every
  * unordered member pair, the edge predicate is
  * `round(cosine(f_a, f_b), 6) >= minCosine` with the exact
  * `VectorOps.cosine` arithmetic (left-to-right dot folds,
  * `sqrt(daa)*sqrt(dbb)` denominator, 0 when the denominator is not
  * positive) and Spark `Round`'s HALF_UP BigDecimal rounding, and the
  * cluster label is the min reachable id (union-find ≡ the hash-min
  * fixpoint). A member in no pair is its own cluster (`cluster ==
  * id`), exactly the `coalesce` default its consumers applied to CC's
  * absent rows. Output: one struct per input member, original order,
  * (id, f, n, cluster).
  *
  * CodegenFallback like `MinhashBandKeys`: one interpreted call per
  * CELL GROUP (not per row) replaces two exchanges and two jobs —
  * the WinnowFingerprints trade at group granularity. */
case class GridCellVerdicts(child: Expression, minCosine: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("f", ArrayType(DoubleType)),
    StructField("n", DoubleType), StructField("cluster", LongType))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fields), _) if fields.length == 3 &&
        fields(0).dataType == LongType &&
        fields(1).dataType.isInstanceOf[ArrayType] &&
        fields(2).dataType == DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"grid_cell_verdicts needs array<struct<id:long,f:array<double>,n:double>>, got $t")
  }

  /** `round(VectorOps.cosine(x, y), 6)` — the exact scalar kernel of
    * the Column chain it replaces: same fold order, same zero-denom
    * rule, same Spark-Round double semantics (NaN/Inf pass through,
    * else BigDecimal HALF_UP at scale 6). */
  private def cos6(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dab = 0.0
    var i = 0
    while (i < n) { dab += x(i) * y(i); i += 1 }
    var daa = 0.0
    i = 0
    while (i < x.length) { daa += x(i) * x(i); i += 1 }
    var dbb = 0.0
    i = 0
    while (i < y.length) { dbb += y(i) * y(i); i += 1 }
    val denom = math.sqrt(daa) * math.sqrt(dbb)
    val c = if (denom > 0) dab / denom else 0.0
    if (c.isNaN || c.isInfinite) c
    else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val ids = new Array[Long](m)
    val fRaw = new Array[ArrayData](m)
    val vecs = new Array[Array[Double]](m)
    val ns = new Array[Double](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 3)
      ids(i) = row.getLong(0)
      val fa = row.getArray(1)
      // copy: the output rows escape this eval, while an Unsafe input
      // buffer may be transient (aggregation buffer reuse)
      fRaw(i) = fa.copy()
      vecs(i) = fa.toDoubleArray()
      ns(i) = row.getDouble(2)
      i += 1
    }
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        if (cos6(vecs(a), vecs(b)) >= minCosine) {
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(rb) = ra
        }
        b += 1
      }
      a += 1
    }
    val minOfRoot = new java.util.HashMap[Int, java.lang.Long]()
    i = 0
    while (i < m) {
      val r = find(i)
      val cur = minOfRoot.get(r)
      if (cur == null || ids(i) < cur) minOfRoot.put(r, ids(i))
      i += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        ids(i), fRaw(i), ns(i), minOfRoot.get(find(i)).longValue())
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def prettyName: String = "grid_cell_verdicts"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-node kNN top-k over a collected candidate list — the reduce
  * half of `Ivf.knnGraphFromProbed` in ONE per-group pass (r16, guide
  * §2.4): a (query, neighbor) pair collides in up to `nprobe` probed
  * cells, and the old spelling paid a full candidate-volume
  * `dropDuplicates` Exchange keyed (query, neighbor) followed by a
  * second window Exchange keyed query for the rank. Collected per
  * query group instead, the dedup is a hash map (colliding candidates
  * carry the SAME rounded cosine — same two vectors — so keeping the
  * max ≡ keeping any) and the rank is the window's exact
  * (cos desc, neighbor asc) order with NaN sorting greatest like
  * Spark's double ordering. Group size is bounded by
  * nprobe × cellCap. Output: top-`k` (neighbor_id, cos), rank order. */
case class NeighborTopK(child: Expression, k: Int, ascending: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType), StructField("cos", DoubleType))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fields), _) if fields.length == 2 &&
        fields(0).dataType == LongType && fields(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"neighbor_topk needs array<struct<nid:long,cos:double>>, got $t")
  }

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val best = new java.util.HashMap[java.lang.Long, java.lang.Double](m * 2)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 2)
      val nid = row.getLong(0)
      val c = row.getDouble(1)
      val cur = best.get(nid)
      // duplicates carry identical values; keeping the best-ranked
      // one is a safety net that mirrors how ties cannot change the
      // kept row
      if (cur == null ||
          (if (ascending) c < cur.doubleValue() else c > cur.doubleValue()))
        best.put(nid, c)
      i += 1
    }
    val entries = new Array[(Double, Long)](best.size())
    val it = best.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      entries(i) = (e.getValue.doubleValue(), e.getKey.longValue())
      i += 1
    }
    // (score desc|asc, neighbor asc) with NaN greatest — Spark's
    // double ordering, exactly the window rank it replaces
    java.util.Arrays.sort(entries, new java.util.Comparator[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c =
          if (ascending) java.lang.Double.compare(a._1, b._1)
          else java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    val kk = math.min(k, entries.length)
    val out = new Array[Any](kk)
    i = 0
    while (i < kk) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        entries(i)._2, entries(i)._1)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def prettyName: String = "neighbor_topk"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ArrayMath {
  import org.apache.spark.sql.graft.Bridge.{column, expression, registerFunction}
  private def d(c: Column): Column = c.cast("array<double>")
  def dot(a: Column, b: Column): Column =
    column(ArrayDotProduct(expression(d(a)), expression(d(b))))
  def gridCellVerdicts(members: Column, minCosine: Double): Column =
    column(GridCellVerdicts(expression(members), minCosine))
  def neighborTopK(candidates: Column, k: Int,
                   ascending: Boolean = false): Column =
    column(NeighborTopK(expression(candidates), k, ascending))
  def sqDiffSum(a: Column, b: Column): Column =
    column(ArraySquaredDiffSum(expression(d(a)), expression(d(b))))
  def scale(a: Column, s: Column): Column =
    column(ArrayScale(expression(d(a)), expression(s.cast("double"))))
  def nearestCell(vec: Column, centroids: Array[Array[Double]],
                  offset: Int = 0): Column =
    column(NearestCentroidCell(expression(d(vec)), centroids, offset))
  def twoLevelProbe(vec: Column, flatCoarse: Array[Double],
                    flatFine: Array[Double], nc: Int, nf: Int, dim: Int,
                    npc: Int, npf: Int): Column =
    column(TwoLevelProbeCells(expression(d(vec)), flatCoarse, flatFine,
      nc, nf, dim, npc, npf))
  def adcDistance(codes: Column, lut: Column, ksub: Int): Column =
    column(AdcDistance(expression(codes), expression(lut), ksub))
  def iforestScore(vec: Column, feature: Array[Int], threshold: Array[Double],
                   left: Array[Int], right: Array[Int], leafC: Array[Double],
                   roots: Array[Int], cPsi: Double): Column =
    column(IForestScoreSamples(expression(d(vec)), feature, threshold,
      left, right, leafC, roots, cPsi))
  def lofScore(vec: Column, flatPoints: Array[Double], dim: Int,
               kdist: Array[Double], lrd: Array[Double], k: Int): Column =
    column(LofNoveltyScore(expression(d(vec)), flatPoints, dim, kdist, lrd, k))
  def pcaReconScore(vec: Column, flatComponents: Array[Double],
                    dim: Int, k: Int): Column =
    column(PcaReconScore(expression(d(vec)), flatComponents, dim, k))
  def cosineTopK(queryId: Column, vec: Column,
                 shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double])],
                 dim: Int, k: Int, includeSelf: Boolean = false): Column =
    column(CosineTopK(expression(queryId.cast("long")), expression(d(vec)),
      shard, dim, k, includeSelf))
  def graphBeamTopK(queryId: Column, vec: Column,
                    shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Int], Array[Int], Array[Int])],
                    dim: Int, k: Int, ef: Int, maxVisit: Int): Column =
    column(GraphBeamTopK(expression(queryId.cast("long")), expression(d(vec)),
      shard, dim, k, ef, maxVisit))
  def bitextTopMargin(queryId: Column, vec: Column,
                      shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Double])],
                      dim: Int, k: Int): Column =
    column(BitextTopMargin(expression(queryId.cast("long")), expression(d(vec)),
      shard, dim, k))
  def hardNegTopK(queryId: Column, vec: Column, anchorLab: Column,
                  shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[String])],
                  dim: Int, k: Int, m: Int): Column =
    column(HardNegTopK(expression(queryId.cast("long")), expression(d(vec)),
      expression(anchorLab.cast("string")), shard, dim, k, m))
  def adcTopK(queryId: Column, vec: Column,
              shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte])],
              flatBooks: Array[Double],
              m: Int, ksub: Int, dsub: Int, k: Int): Column =
    column(AdcTopK(expression(queryId.cast("long")), expression(d(vec)),
      shard, flatBooks, m, ksub, dsub, k))
  def sqTopK(queryId: Column, vec: Column,
             shard: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte], Array[Double])],
             minl: Array[Double], stepl: Array[Double], k: Int): Column =
    column(SqTopK(expression(queryId.cast("long")), expression(d(vec)),
      shard, minl, stepl, k))
  def langNbScore(text: Column, flatW: Array[Double], priors: Array[Double],
                  nBuckets: Int): Column =
    column(LangNbScore(expression(text.cast("string")), flatW, priors, nBuckets))
  def charTrigramBuckets(text: Column, nBuckets: Int): Column =
    column(CharTrigramBuckets(expression(text.cast("string")), nBuckets))

  /** Expose the native expressions to the SQL surface:
    * `SELECT array_dot(a, b)`, `SELECT array_sqdiff_sum(a, b)`.
    * (Raw SQL callers must pass array<double>.) */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerFunction(spark, "array_dot",
      es => ArrayDotProduct(es(0), es(1)))
    registerFunction(spark, "array_sqdiff_sum",
      es => ArraySquaredDiffSum(es(0), es(1)))
  }
}
