package graft.query

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** One scored document; ordering contract everywhere in the engine is
  * (score DESC, docId ASC) — the fixed tie-break chosen in SURVEY.md §5.2
  * (the reference's argpartition top-k is order-unspecified under ties:
  * benchmark/on_rank_bm25.py:25-46).
  */
final case class ScoredDoc(docId: Long, score: Double)

/** Bounded min-heap buffer: root = current worst of the kept k. Primitive
  * arrays keep the shuffled partial-aggregate rows compact.
  */
final case class TopKBuf(var docIds: Array[Long], var scores: Array[Double], var size: Int)

/** Grouped top-k as a typed Aggregator — the Spark-native analogue of the
  * reference's per-query `np.argpartition(scores, -k)` O(N) selection
  * (benchmark/on_rank_bm25.py:25-46): each partition keeps a bounded heap
  * (≙ the reference's per-thread heaps), partial buffers merge at the
  * shuffle (≙ its result concatenation), so per-group work is O(N log k)
  * with O(k) state instead of a full sort.
  *
  * Usage: `val topk = functions.udaf(new TopKAggregator(k), Encoders.product[ScoredDoc])`
  * then `df.groupBy("qid").agg(topk(col("docId"), col("score")))`.
  * The udaf serves `searchExact` and `ops/Similarity`; the kernels use the
  * heap alone ([[insert]], [[drainSorted]]) and their sorted lists merge
  * through [[TopKAggregator.mergeSorted]].
  */
class TopKAggregator(k: Int)
    extends Aggregator[ScoredDoc, TopKBuf, Seq[ScoredDoc]] with Serializable {
  require(k > 0)

  override def zero: TopKBuf = TopKBuf(new Array[Long](k), new Array[Double](k), 0)

  import TopKAggregator.worse

  private def siftUp(b: TopKBuf, i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(b.scores(i), b.docIds(i), b.scores(p), b.docIds(p))) {
        val ts = b.scores(i); b.scores(i) = b.scores(p); b.scores(p) = ts
        val td = b.docIds(i); b.docIds(i) = b.docIds(p); b.docIds(p) = td
        i = p
      } else return
    }
  }

  /** Restores the heap below the root over the first `n` entries. */
  private def siftDown(b: TopKBuf, n: Int): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < n && worse(b.scores(l), b.docIds(l), b.scores(m), b.docIds(m))) m = l
      if (r < n && worse(b.scores(r), b.docIds(r), b.scores(m), b.docIds(m))) m = r
      if (m == i) return
      val ts = b.scores(i); b.scores(i) = b.scores(m); b.scores(m) = ts
      val td = b.docIds(i); b.docIds(i) = b.docIds(m); b.docIds(m) = td
      i = m
    }
  }

  def insert(b: TopKBuf, docId: Long, score: Double): TopKBuf = {
    if (b.size < k) {
      b.docIds(b.size) = docId; b.scores(b.size) = score; b.size += 1
      siftUp(b, b.size - 1)
    } else if (worse(b.scores(0), b.docIds(0), score, docId)) {
      b.docIds(0) = docId; b.scores(0) = score
      siftDown(b, b.size)
    }
    b
  }

  /** Pops the heap into (docIds, scores), best first under (score DESC,
    * docId ASC), and leaves `b` empty. An in-place heap sort: each pop
    * moves the current worst to the end of the live range, so no
    * [[ScoredDoc]] is built; the result is a trimmed copy.
    */
  def drainSorted(b: TopKBuf): (Array[Long], Array[Double]) = {
    var n = b.size
    while (n > 1) {
      n -= 1
      val ts = b.scores(0); b.scores(0) = b.scores(n); b.scores(n) = ts
      val td = b.docIds(0); b.docIds(0) = b.docIds(n); b.docIds(n) = td
      siftDown(b, n)
    }
    val out = (java.util.Arrays.copyOf(b.docIds, b.size), java.util.Arrays.copyOf(b.scores, b.size))
    b.size = 0
    out
  }

  override def reduce(b: TopKBuf, in: ScoredDoc): TopKBuf =
    insert(b, in.docId, in.score)

  override def merge(a: TopKBuf, c: TopKBuf): TopKBuf = {
    var i = 0
    while (i < c.size) { insert(a, c.docIds(i), c.scores(i)); i += 1 }
    a
  }

  override def finish(b: TopKBuf): Seq[ScoredDoc] = {
    val (ids, scores) = drainSorted(b)
    scala.collection.immutable.ArraySeq.tabulate(ids.length)(i => ScoredDoc(ids(i), scores(i)))
  }

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[ScoredDoc]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredDoc]]()
}

object TopKAggregator {

  /** true if (s1,d1) ranks WORSE than (s2,d2) under (score DESC, docId ASC). */
  @inline private[query] def worse(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
    s1 < s2 || (s1 == s2 && d1 > d2)

  /** K-way merge of one query's sorted lists (each best first, as
    * [[TopKAggregator.drainSorted]] emits them) into its top `k`, best
    * first; it stops after `k` entries. The lists must hold pairwise
    * DISJOINT docIds: the merge has no dedup. A small heap of list indices,
    * keyed by each list's head, picks the next entry in O(log lists) — the
    * shape of Lucene's `TopDocs.merge` over per-shard hits.
    */
  def mergeSorted(lists: Iterable[(Array[Long], Array[Double])],
                  k: Int): (Array[Long], Array[Double]) = {
    val ls = lists.filter(_._1.nonEmpty).toArray
    val n = math.min(k.toLong, ls.iterator.map(_._1.length.toLong).sum).toInt
    val ids = new Array[Long](n); val scores = new Array[Double](n)
    val pos = new Array[Int](ls.length)
    // heap(0) is the list whose head ranks best
    val heap = Array.range(0, ls.length)
    var live = ls.length
    def behind(a: Int, b: Int): Boolean =
      worse(ls(a)._2(pos(a)), ls(a)._1(pos(a)), ls(b)._2(pos(b)), ls(b)._1(pos(b)))
    def siftDown(i0: Int): Unit = {
      var i = i0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < live && behind(heap(m), heap(l))) m = l
        if (r < live && behind(heap(m), heap(r))) m = r
        if (m == i) return
        val t = heap(i); heap(i) = heap(m); heap(m) = t
        i = m
      }
    }
    (live / 2 - 1 to 0 by -1).foreach(siftDown)
    var o = 0
    while (o < n) {
      val li = heap(0)
      ids(o) = ls(li)._1(pos(li)); scores(o) = ls(li)._2(pos(li))
      o += 1
      pos(li) += 1
      if (pos(li) == ls(li)._1.length) { live -= 1; heap(0) = heap(live) }
      siftDown(0)
    }
    (ids, scores)
  }
}
