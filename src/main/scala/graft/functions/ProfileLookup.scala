package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The binary search behind `ProfileLookup`, written once: generated
  * code calls it as a static method and `nullSafeEval` calls it
  * directly, so both paths run the same search. `keys` is sorted
  * ascending (UTF8String by its binary order, the order the join's
  * key equality agrees with) and holds no duplicates. Returns the
  * key's slot, or -1 when the key is absent or its value is null. */
private[graft] object ProfileKernels {

  def slot(keys: Array[Long], nulls: Array[Boolean], k: Long): Int = {
    val i = java.util.Arrays.binarySearch(keys, k)
    if (i < 0 || nulls(i)) -1 else i
  }

  def slot(keys: Array[UTF8String], nulls: Array[Boolean], k: UTF8String): Int = {
    val i = java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], k)
    if (i < 0 || nulls(i)) -1 else i
  }
}

/** One value column of a fitted entity profile, looked up by key — the
  * per-row form of a left join onto a constant profile table
  * (`operators.Profiles.ProfileTable`). A null key, an absent key and
  * a null value all give null, as the join's unmatched row and null
  * build-side value do.
  *
  * The table is fitted state: sorted keys (`long[]` or
  * `UTF8String[]`), a null mask and the values as doubles, passed to
  * generated code as reference objects, like the model arrays of
  * `IForestScoreSamples`. The search runs in `ProfileKernels.slot`, so
  * a scoring stage plans no join, no broadcast exchange and no job for
  * the profile side; the arrays ride the task binary with the rest of
  * the model state. The key arrives as the table's key type (the
  * caller casts it, as `ProfileTable.lookup` does). `profile` and
  * `field` only name the lookup in plans. */
case class ProfileLookup(child: Expression, keys: AnyRef, nulls: Array[Boolean],
                         values: Array[Double], profile: String, field: String)
    extends UnaryExpression {
  val keyType: DataType = keys match {
    case _: Array[Long] => LongType
    case _: Array[UTF8String] => StringType
    case other => throw new IllegalArgumentException(
      s"profile_lookup: $profile keys must be long[] or UTF8String[], got ${other.getClass}")
  }
  require(java.lang.reflect.Array.getLength(keys) == values.length &&
    nulls.length == values.length, s"profile_lookup: $profile.$field has ragged arrays")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(k: Any): Any = {
    val i = keys match {
      case ks: Array[Long] => ProfileKernels.slot(ks, nulls, k.asInstanceOf[Long])
      case ks: Array[UTF8String] => ProfileKernels.slot(ks, nulls, k.asInstanceOf[UTF8String])
    }
    if (i < 0) null else values(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, k => {
      val ks = ctx.addReferenceObj("profileKeys", keys,
        if (keyType == LongType) "long[]" else "org.apache.spark.unsafe.types.UTF8String[]")
      val ns = ctx.addReferenceObj("profileNulls", nulls, "boolean[]")
      val vs = ctx.addReferenceObj("profileValues", values, "double[]")
      val i = ctx.freshName("slot")
      s"""
         |int $i = graft.functions.ProfileKernels.slot($ks, $ns, $k);
         |if ($i < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $vs[$i];
         |}
       """.stripMargin
    })

  override def prettyName: String = "profile_lookup"
  override protected def stringArgs: Iterator[Any] = Iterator(child, s"$profile.$field")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
