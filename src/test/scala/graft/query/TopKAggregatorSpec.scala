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

  /** One query's entries as [[TopKAggregator.selectSorted]] receives them:
    * lists of (docIds, scores) in any order.
    */
  private def select(lists: Seq[Seq[(Long, Double)]], k: Int): Seq[(Long, Double)] = {
    val (ids, scores) = TopKAggregator.selectSorted(
      lists.map(l => (l.map(_._1).toArray, l.map(_._2).toArray)), k)
    assert(ids.length == scores.length)
    ids.toSeq.zip(scores.toSeq)
  }

  test("select+sort of unsorted lists with heavy score ties == full sort (seed 42)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 300) {
      // disjoint ids (one doc leaves one task once) in random order, a
      // small score range for ties within and across lists; lists are cut
      // at random lengths, some empty
      val total = rnd.nextInt(400)
      val xs = rnd.shuffle((0L until 1000L).toList).take(total)
        .map(d => (d, rnd.nextInt(6) / 2.0))
      val cuts = (Seq(0, total) ++ Seq.fill(rnd.nextInt(8))(rnd.nextInt(total + 1))).sorted
      val lists = cuts.zip(cuts.tail).map { case (a, b) => xs.slice(a, b) }
      val k = 1 + rnd.nextInt(2 * total + 2) // also k ≥ total entries
      assert(select(lists, k) == oracle(xs, k), s"trial $trial (n=$total k=$k)")
    }
  }

  test("select+sort: k ≥ total entries sorts all; empty lists give empty arrays") {
    val xs = Seq((5L, 1.0), (3L, 2.0), (9L, 1.0), (1L, 2.0), (4L, 0.5))
    for (k <- Seq(5, 6, 1000))
      assert(select(Seq(xs.take(2), Nil, xs.drop(2)), k) == oracle(xs, k), s"k=$k")
    assert(select(Nil, 10).isEmpty)
    assert(select(Seq(Nil, Nil), 10).isEmpty)
    assert(select(Seq(xs), 2) == Seq((1L, 2.0), (3L, 2.0)))
  }

  test("select+sort of heap arrays split by early drains == one heap's finish") {
    // the kernel contract: a task's per-query heap is drained (arrays as
    // they are, unsorted) whenever its rows exceed taskHeapMaxRows — at 1,
    // after every salt — so one query's entries reach the merge as many
    // short lists; their selection must equal an undrained heap's top k
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 100) {
      val k = 1 + rnd.nextInt(20)
      val agg = new TopKAggregator(k)
      val salts = Seq.fill(1 + rnd.nextInt(6)) {
        rnd.shuffle((0L until 50L).toList).take(rnd.nextInt(50))
      }.zipWithIndex.map { case (ds, salt) =>
        ds.map(d => (salt * 1000L + d, rnd.nextInt(6) / 2.0))
      }
      val drained = salts.map { xs =>
        val h = agg.zero
        xs.foreach { case (d, s) => agg.insert(h, d, s) }
        (0 until h.size).map(i => (h.docIds(i), h.scores(i)))
      }
      val whole = agg.zero
      salts.flatten.foreach { case (d, s) => agg.insert(whole, d, s) }
      val want = agg.finish(whole).map(x => (x.docId, x.score))
      assert(want == oracle(salts.flatten, k), s"trial $trial (k=$k)")
      assert(select(drained, k) == want, s"trial $trial (k=$k)")
    }
  }

  test("sorted drain empties the heap best first, also a pre-loaded one") {
    // a kernel drain hands a task heap's arrays on as they are (the first
    // `size` entries) and drops the heap; one selectSorted puts them best
    // first, also after two insert rounds (two salts) into one heap
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 100) {
      val k = 1 + rnd.nextInt(20)
      val agg = new TopKAggregator(k)
      val h = agg.zero
      // distinct ids, forced score ties
      val xs = rnd.shuffle((0L until 60L).toList).take(rnd.nextInt(60))
        .map(d => (d, rnd.nextInt(6) / 2.0))
      val (first, second) = xs.splitAt(xs.size / 2)
      first.foreach { case (d, s) => agg.insert(h, d, s) }
      second.foreach { case (d, s) => agg.insert(h, d, s) }
      assert(h.size == math.min(k, xs.size))
      val drained = (0 until h.size).map(i => (h.docIds(i), h.scores(i)))
      assert(select(Seq(drained), k) == oracle(xs, k), s"trial $trial (k=$k)")
      // the heap's arrays are never reordered by the selection
      assert((0 until h.size).map(i => (h.docIds(i), h.scores(i))) == drained)
      assert(select(Seq(drained.take(0)), k).isEmpty)
    }
  }

  test("k-way merge of sorted lists == sort-take oracle (seed 42)") {
    // already-sorted lists (presorted runs) are one input shape of the
    // per-query merge; its selection must match a full sort of their union
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
      assert(select(lists, k) == oracle(lists.flatten, k),
        s"trial $trial (lists=${lists.map(_.size)} k=$k)")
    }
  }

  test("select+sort stays fast on all-tied, sorted and reversed input") {
    // Hoare partitions split equal keys evenly and the median-of-three
    // pivot handles presorted runs: none of these may go quadratic
    val n = 200000
    val tied = Seq.tabulate(n)(i => (i.toLong, 1.0))
    val asc = Seq.tabulate(n)(i => (i.toLong, i.toDouble))
    for ((name, xs) <- Seq("tied" -> tied, "ascending" -> asc, "descending" -> asc.reverse);
         k <- Seq(10, 1000, n)) {
      val t0 = System.nanoTime()
      val got = select(Seq(xs), k)
      val ms = (System.nanoTime() - t0) / 1e6
      assert(got == oracle(xs, k), s"$name k=$k")
      assert(ms < 5000, f"$name k=$k: $ms%.0f ms")
    }
  }
}
