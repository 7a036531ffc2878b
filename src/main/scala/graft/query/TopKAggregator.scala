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
  * with O(k) state instead of a full sort; `finish` sorts the k once.
  *
  * Usage: `val topk = functions.udaf(new TopKAggregator(k), Encoders.product[ScoredDoc])`
  * then `df.groupBy("qid").agg(topk(col("docId"), col("score")))`.
  * The udaf serves `searchExact` and `ops/Similarity`. The kernels use the
  * heap alone ([[insert]]: its root rejects most candidates in O(1)) and
  * emit its arrays unsorted; each query's lists meet in one
  * [[TopKAggregator.selectSorted]], which also backs `finish`.
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

  override def reduce(b: TopKBuf, in: ScoredDoc): TopKBuf =
    insert(b, in.docId, in.score)

  override def merge(a: TopKBuf, c: TopKBuf): TopKBuf = {
    var i = 0
    while (i < c.size) { insert(a, c.docIds(i), c.scores(i)); i += 1 }
    a
  }

  override def finish(b: TopKBuf): Seq[ScoredDoc] = {
    val (ids, scores) = TopKAggregator.selectSorted(Iterator.single(
      (java.util.Arrays.copyOf(b.docIds, b.size), java.util.Arrays.copyOf(b.scores, b.size))), k)
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

  /** One query's top `k` out of its unsorted lists (kernel heap arrays,
    * one per task holding the query and per early drain), best first
    * under (score DESC, docId ASC). The lists must hold pairwise DISJOINT
    * docIds: there is no dedup. They are copied into one array pair, and a
    * partial quicksort selects and sorts only the best `k`: it recurses
    * only into ranges that reach below `k`, so a query costs O(entries +
    * k log k) and is sorted once, after the reduction (the reference's
    * `argpartition` then sort, benchmark/on_bm25s.py:144-150).
    */
  def selectSorted(lists: IterableOnce[(Array[Long], Array[Double])],
                   k: Int): (Array[Long], Array[Double]) = {
    val ls = lists.iterator.toArray
    val n = ls.iterator.map(_._1.length).sum
    val ids = new Array[Long](n); val scores = new Array[Double](n)
    var o = 0
    ls.foreach { case (i, s) =>
      System.arraycopy(i, 0, ids, o, i.length); System.arraycopy(s, 0, scores, o, s.length)
      o += i.length
    }
    val m = math.min(k, n)
    if (m > 0) partialSort(ids, scores, 0, n - 1, m)
    if (m == n) (ids, scores)
    else (java.util.Arrays.copyOf(ids, m), java.util.Arrays.copyOf(scores, m))
  }

  /** Sorts best first whatever of [lo, hi] lies below `m`: Hoare
    * partitions around a median-of-three pivot (equal keys split evenly,
    * so heavy score ties stay O(n log n)), recursing into the smaller
    * needed side and looping on the other; a side wholly at or above `m`
    * is dropped. Short ranges finish by insertion sort.
    */
  private def partialSort(ids: Array[Long], scores: Array[Double],
                          lo0: Int, hi0: Int, m: Int): Unit = {
    def swap(a: Int, b: Int): Unit = {
      val ts = scores(a); scores(a) = scores(b); scores(b) = ts
      val td = ids(a); ids(a) = ids(b); ids(b) = td
    }
    // true if entry a ranks strictly worse than entry b
    def behind(a: Int, b: Int): Boolean = worse(scores(a), ids(a), scores(b), ids(b))
    var lo = lo0; var hi = hi0
    while (hi - lo >= 16) {
      val mid = (lo + hi) >>> 1
      if (behind(lo, mid)) swap(lo, mid)
      if (behind(mid, hi)) swap(mid, hi)
      if (behind(lo, mid)) swap(lo, mid)
      val ps = scores(mid); val pd = ids(mid)
      var i = lo - 1; var j = hi + 1
      var split = -1
      while (split < 0) {
        i += 1
        while (worse(ps, pd, scores(i), ids(i))) i += 1
        j -= 1
        while (worse(scores(j), ids(j), ps, pd)) j -= 1
        if (i >= j) split = j else swap(i, j)
      }
      // [lo, split] ranks at or above the pivot, [split + 1, hi] at or below
      if (split + 1 >= m) hi = split
      else if (split - lo < hi - split) { partialSort(ids, scores, lo, split, m); lo = split + 1 }
      else { partialSort(ids, scores, split + 1, hi, m); hi = split }
    }
    var a = lo + 1
    while (a <= hi) {
      var b = a
      while (b > lo && behind(b - 1, b)) { swap(b - 1, b); b -= 1 }
      a += 1
    }
  }
}
