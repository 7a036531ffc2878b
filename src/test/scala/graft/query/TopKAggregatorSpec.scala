package graft.query

import org.scalatest.funsuite.AnyFunSuite

/** Bounded-heap top-k vs the sort-based oracle (SURVEY.md §5.2): for any
  * input and any partitioning into partial buffers, insert+merge+finish
  * must equal sortBy((-score, docId)).take(k) — the engine's canonical
  * (score DESC, docId ASC) order, including tie groups and duplicates.
  * Deterministic seed, many random shapes (the CodecSpec idiom).
  */
class TopKAggregatorSpec extends AnyFunSuite {

  private def oracle(xs: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    xs.sortBy { case (d, s) => (-s, d) }.take(k)

  test("insert+merge+finish == sort-take oracle over random shapes (seed 42)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 200) {
      val n = rnd.nextInt(300)
      val k = 1 + rnd.nextInt(20)
      // small value/id ranges force score ties and duplicate doc ids
      val xs = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(8) / 2.0))
      val agg = new TopKAggregator(k)
      // random partitioning into partial buffers, merged in random order
      val nParts = 1 + rnd.nextInt(5)
      val bufs = Array.fill(nParts)(agg.zero)
      xs.foreach { case (d, s) => agg.reduce(bufs(rnd.nextInt(nParts)), ScoredDoc(d, s)) }
      val merged = rnd.shuffle(bufs.toSeq).reduce(agg.merge)
      val got = agg.finish(merged).map(h => (h.docId, h.score))
      assert(got == oracle(xs, k), s"trial $trial (n=$n k=$k)")
    }
  }

  test("pre-loaded heap keeps global top-k when later inserts arrive") {
    // the r3 kernel contract: one heap per query accumulates across salts
    val agg = new TopKAggregator(3)
    val h = agg.zero
    Seq((1L, 5.0), (2L, 4.0), (3L, 3.0)).foreach { case (d, s) => agg.insert(h, d, s) }
    // next "salt": one better, one worse, one tie on the boundary score
    Seq((10L, 4.5), (11L, 0.1), (2L, 3.0)).foreach { case (d, s) => agg.insert(h, d, s) }
    assert(agg.finish(h).map(x => (x.docId, x.score)) ==
      Seq((1L, 5.0), (10L, 4.5), (2L, 4.0)))
  }

  test("sorted drain empties the heap best first, also a pre-loaded one") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 100) {
      val k = 1 + rnd.nextInt(20)
      val agg = new TopKAggregator(k)
      val h = agg.zero
      // distinct ids, forced score ties; two insert rounds stand for two
      // salts feeding one task-level heap
      val xs = rnd.shuffle((0L until 60L).toList).take(rnd.nextInt(60))
        .map(d => (d, rnd.nextInt(6) / 2.0))
      val (first, second) = xs.splitAt(xs.size / 2)
      first.foreach { case (d, s) => agg.insert(h, d, s) }
      second.foreach { case (d, s) => agg.insert(h, d, s) }
      val (ids, scores) = agg.drainSorted(h)
      assert(ids.toSeq.zip(scores.toSeq) == oracle(xs, k), s"trial $trial (k=$k)")
      assert(h.size == 0)
      assert(agg.drainSorted(h) match { case (i, s) => i.isEmpty && s.isEmpty })
    }
  }

  test("k-way merge of sorted lists == sort-take oracle (seed 42)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 200) {
      val k = 1 + rnd.nextInt(30)
      val nLists = rnd.nextInt(7)
      // disjoint ids (one doc leaves one task once), small score range for
      // ties within and across lists; lists are cut at random lengths
      val ids = rnd.shuffle((0L until 200L).toList)
      val lists = ids.grouped(1 + rnd.nextInt(40)).take(nLists).toSeq.map { ds =>
        oracle(ds.map(d => (d, rnd.nextInt(8) / 2.0)), rnd.nextInt(ds.size + 1))
      }
      val (gotIds, gotScores) = TopKAggregator.mergeSorted(
        lists.map(l => (l.map(_._1).toArray, l.map(_._2).toArray)), k)
      assert(gotIds.toSeq.zip(gotScores.toSeq) == oracle(lists.flatten, k),
        s"trial $trial (lists=${lists.map(_.size)} k=$k)")
    }
  }
}
