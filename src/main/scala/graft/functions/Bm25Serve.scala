package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The broadcast inverted-index shard the BM25 serve tier scans —
  * the sparse ranker's analogue of `AnnServe.AnnShard`: sorted
  * distinct terms, per-term df, and CSR postings carrying (doc_id,
  * tf, doclen) so a query never needs a second lookup. One shard
  * holds one node's slice of the index; the 100 TB shape is the same
  * per-node shard + exact cross-shard merge as the dense tiers (df/N/
  * avgdl become global statistics broadcast with the shard — exactly
  * how distributed search engines split document-partitioned
  * indexes). Fields are validated at construction: a ragged index
  * must fail at fit time, not as an executor-side AIOOBE inside the
  * scan. */
final case class Bm25Index(terms: Array[String], df: Array[Long],
                           postOff: Array[Int], postDoc: Array[Long],
                           postTf: Array[Int], postDl: Array[Int],
                           n: Long, avgdl: Double) {
  require(terms.length == df.length &&
    postOff.length == terms.length + 1 && postOff.head == 0 &&
    postOff.last == postDoc.length &&
    postDoc.length == postTf.length && postTf.length == postDl.length,
    s"bm25 index: ragged arrays (${terms.length} terms, " +
      s"${postOff.length} offsets, ${postDoc.length} postings)")
  require((1 until postOff.length).forall(i => postOff(i) >= postOff(i - 1)),
    "bm25 index: non-monotonic posting offsets")
  // df is derivable from postOff; a loaded artifact where they disagree
  // would silently skew every idf instead of failing at load (ADVICE
  // r13). Keeping the redundant field makes the artifact self-checking.
  require(terms.indices.forall(i => df(i) == postOff(i + 1) - postOff(i)),
    "bm25 index: df inconsistent with posting offsets")
  require(n > 0 && avgdl > 0, s"bm25 index: empty corpus (n=$n avgdl=$avgdl)")
}

/** Row-local BM25 top-k against a broadcast `Bm25Index` — the serve
  * tier for the SPARSE ranker, completing the serve matrix next to
  * the dense raw/PQ/SQ8/graph shards: per query, each (distinct,
  * deduped in-expression) term binary-searches the sorted vocabulary
  * and walks its posting list accumulating the Okapi contribution
  * `idf · (tf · 2.2) / (tf + 1.2 · (0.25 + 0.75 · dl / avgdl))`
  * per doc; ranking is the shared `RoundedTopK` (HALF_UP-6dp-rounded
  * score, (score desc, doc_id asc) tie-break) — the exact algebra of the
  * batch `Retrieval.bm25TopK` join+window plan, so drained serve
  * output matches the batch query row-for-row and its full oracle
  * applies verbatim. No join, no shuffle, no state: a live query feed
  * serves as stateless append work at whatever rate the scan runs.
  * Emits array<struct<rank, doc_id, score>> (k-bounded). */
case class Bm25TopK(left: Expression, right: Expression,
                    index: org.apache.spark.broadcast.Broadcast[Bm25Index],
                    k: Int) extends ShardScan {
  require(k >= 1, s"bm25_topk: bad k=$k")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("score", DoubleType,
          nullable = false))),
      containsNull = false)

  def serve(qid: Long, termsArr: ArrayData): ArrayData = {
    val ix = index.value
    // distinct terms, sorted — dedup defensively so a caller passing
    // repeats cannot double-count a term's contribution (the batch
    // plan's (query, term) key makes each term count once)
    val nq = termsArr.numElements()
    val qTerms = new Array[String](nq)
    var i = 0
    while (i < nq) {
      qTerms(i) = termsArr.getUTF8String(i).toString; i += 1
    }
    val distinct = qTerms.sorted.distinct
    // accumulate per-doc scores over the matched posting lists
    val acc = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    var t = 0
    while (t < distinct.length) {
      val pos = java.util.Arrays.binarySearch(
        ix.terms.asInstanceOf[Array[AnyRef]], distinct(t))
      if (pos >= 0) {
        val dfT = ix.df(pos)
        val idf = math.log(1.0 + (ix.n - dfT + 0.5) / (dfT + 0.5))
        var p = ix.postOff(pos)
        val end = ix.postOff(pos + 1)
        while (p < end) {
          val tf = ix.postTf(p).toDouble
          val dl = ix.postDl(p).toDouble
          val s = idf * (tf * 2.2) /
            (tf + 1.2 * (0.25 + 0.75 * dl / ix.avgdl))
          val key = java.lang.Long.valueOf(ix.postDoc(p))
          val prev = acc.get(key)
          acc.put(key, if (prev == null) s else prev + s)
          p += 1
        }
      }
      t += 1
    }
    // the serve family's rounded top-k, every doc rounded (no skip
    // test) — insertion order over the map is irrelevant: the window
    // total-orders (score, id) and each doc appears once
    val top = new RoundedTopK(k, descending = true)
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      top.add(e.getValue.doubleValue(), e.getKey.longValue(), 0)
    }
    val rows = new Array[Any](top.filled)
    i = 0
    while (i < top.filled) {
      rows(i) = InternalRow(i + 1, top.id(i), top.score(i)); i += 1
    }
    new GenericArrayData(rows)
  }

  override def prettyName: String = "bm25_topk"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Bm25Serve {
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  def topk(qid: Column, terms: Column,
           index: org.apache.spark.broadcast.Broadcast[Bm25Index],
           k: Int): Column =
    column(Bm25TopK(expression(qid.cast("long")), expression(terms), index, k))
}
