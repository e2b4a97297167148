package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row validation / error-channel operators.
  *
  * Reference: `python_scoring/train.py:39,60` (dropna), `api/app.py:49-53`
  * (reject negative amount), `python_scoring/app.py:69-79` (ids must be
  * numeric strings), `api/app.py:262-263` (bad rows become error stubs but
  * the batch keeps processing).
  *
  * Spark-first: validity is a single codegen-friendly predicate; the error
  * channel is a second filter on the same scan (Catalyst reuses the
  * exchange), never a per-row exception.
  */
object Validate {

  /** The reference's combined validity predicate. */
  def validPredicate(tsCol: Column, amountCol: Column, idCol: Column): Column =
    tsCol.isNotNull && amountCol.isNotNull && amountCol >= 0 &&
      idCol.isNotNull && idCol.cast("string").rlike("^[0-9]+$")

  def filterValid(df: DataFrame, tsCol: String, amountCol: String, idCol: String): DataFrame =
    df.filter(validPredicate(col(tsCol), col(amountCol), col(idCol)))

  /** Split a batch into (valid, errors) — errors carry `{id, error}` stubs
    * like `api/app.py:262-263`; processing never throws per-row. */
  def splitValid(df: DataFrame, tsCol: String, amountCol: String, idCol: String): (DataFrame, DataFrame) = {
    val p = validPredicate(col(tsCol), col(amountCol), col(idCol))
    val valid = df.filter(p)
    val errors = df.filter(!p).select(
      col(idCol).cast("string").as("transaction_id"),
      when(col(tsCol).isNull, "missing timestamp")
        .when(col(amountCol).isNull, "missing amount")
        .when(col(amountCol) < 0, "negative amount")
        .otherwise("non-numeric id").as("error"))
    (valid, errors)
  }
}
