package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.foldSpans]] (the r12 sorted-sweep batch fold inside
  * statefulIslands) must produce EXACTLY the island set of the per-event
  * `insertSpan` fold it replaced — same spans, same order,
  * same counts — for any arrival order and any prior state, or the
  * operator's batch≡stream contract (SessionsSpec) silently breaks.
  * Plain JVM property test: no Spark session needed.
  */
class StatefulIslandsFoldSpec extends AnyFunSuite {

  /** Merge one event second into a user's island set: every span within
    * `gap` of `sec` (including spans the new value bridges) collapses
    * into one. Pure function — the same result for any arrival order.
    */
  private def insertSpan(spans: List[IslandSpan], sec: Long, gap: Long): List[IslandSpan] = {
    val (touch, rest) = spans.partition(s => sec >= s.lo - gap && sec <= s.hi + gap)
    val merged = IslandSpan(
      (sec :: touch.map(_.lo)).min,
      (sec :: touch.map(_.hi)).max,
      touch.map(_.n).sum + 1)
    (merged :: rest).sortBy(_.lo)
  }

  private def foldRef(spans: List[IslandSpan], evs: Seq[Long], gap: Long) =
    evs.foldLeft(spans)((sp, e) => insertSpan(sp, e, gap))

  test("foldSpans == repeated insertSpan on random event batches") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 200) {
      val gap = 1 + rnd.nextInt(30)
      val n = rnd.nextInt(60)
      // clustered values so merges actually happen at every gap size
      val evs = Seq.fill(n)(rnd.nextInt(400).toLong)
      // prior state from its own insertSpan fold (the operator invariant:
      // state is always a product of previous folds)
      val prevEvs = Seq.fill(rnd.nextInt(40))(rnd.nextInt(400).toLong)
      val prev = foldRef(Nil, prevEvs, gap)
      val expected = foldRef(prev, evs, gap)
      val got = Sessions.foldSpans(prev, evs.toArray, gap)
      assert(got == expected,
        s"trial $trial gap=$gap prev=$prev evs=$evs")
    }
  }

  test("foldSpans: empty batch returns state unchanged, empty state seeds from events") {
    val spans = List(IslandSpan(0, 5, 3), IslandSpan(100, 110, 2))
    assert(Sessions.foldSpans(spans, Array.empty[Long], 10) == spans)
    assert(Sessions.foldSpans(Nil, Array(7L, 5L, 30L), 10) ==
      List(IslandSpan(5, 7, 2), IslandSpan(30, 30, 1)))
  }

  test("foldSpans: one event bridging two prior spans merges them with summed counts") {
    val spans = List(IslandSpan(0, 10, 4), IslandSpan(30, 40, 2))
    // 20 is within gap 10 of both spans' expanded bounds
    assert(Sessions.foldSpans(spans, Array(20L), 10) ==
      List(IslandSpan(0, 40, 7)))
  }
}
