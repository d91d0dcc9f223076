package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The `price_log` checks are only as good as the model they replay. */
class PriceModelSpec extends AnyFunSuite {
  import PriceModel._

  test("a scripted statement sequence gives the known table") {
    var s = append(empty, Seq((1L, 10L, "a", 1000L), (1L, 20L, "a", 1100L), (2L, 10L, "b", 2000L)))
    s = upsertLastWins(s, Seq((1L, 10L, "a", 1005L), (3L, 5L, "c", 3000L)))
    s = upsertInsertAbsent(s, Seq((1L, 20L, "a", 9999L), (2L, 30L, "b", 2100L)))
    // matched rows take the source price and keep their fuel
    s = merge(s, Seq((2L, 10L, "z", 2222L), (4L, 1L, "d", 4000L)))
    s = update(s, 1L, 0L, 15L, 10L)
    s = delete(s, 2L, 25L, 35L)
    s = delete(s, 3L, 0L, 100L)
    assert(rows(s) === Seq(
      (1L, 10L, "a", 1015L), (1L, 20L, "a", 1100L),
      (2L, 10L, "b", 2222L),
      (4L, 1L, "d", 4000L)))
    assert(rowsOf(s, Seq(1L, 4L)).map(_._1) === Seq(1L, 1L, 4L))
  }

  test("the grid holds the last observation at or before each point") {
    val s = append(empty, Seq((1L, 15L, "a", 100L), (1L, 30L, "a", 200L), (2L, 40L, "b", 300L)))
    assert(ffill(s, 10L, 40L, 10L) === Seq(
      (1L, 10L, None), (1L, 20L, Some((15L, "a", 100L))),
      (1L, 30L, Some((30L, "a", 200L))), (1L, 40L, Some((30L, "a", 200L))),
      (2L, 10L, None), (2L, 20L, None), (2L, 30L, None),
      (2L, 40L, Some((40L, "b", 300L)))))
  }
}
