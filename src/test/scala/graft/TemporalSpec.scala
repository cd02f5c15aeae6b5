package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin}

/** Edge-case pins for the temporal join operators — the cases the sf oracle
  * data cannot exercise: timestamp ties, missing matches, NULL payloads on
  * the matched row, and bin-boundary pairs in the range join.
  */
class TemporalSpec extends AnyFunSuite with SparkSuite {

  private def asofRows(
      left: Seq[(Long, Long, Long)],
      right: Seq[(Long, Long, java.lang.Long)]): Map[Long, Option[Long]] = {
    val s = spark
    import s.implicits._
    val l = left.toDF("k", "t", "lid")
    val r = right.toDF("k", "t", "rv")
    AsOfJoin
      .backward(l, r, Seq("k"), "t", "t", Seq("t", "rv"), prefix = "r_")
      .collect()
      .map(row => row.getAs[Long]("lid") ->
        Option(row.getAs[java.lang.Long]("r_rv")).map(_.longValue()))
      .toMap
  }

  test("asof: equal timestamps are inclusive — the tie row matches") {
    val m = asofRows(
      left = Seq((1L, 100L, 1L)),
      right = Seq((1L, 100L, 7L: java.lang.Long)))
    assert(m(1L) === Some(7L))
  }

  test("asof: left rows with no prior right get NULLs (left-join semantics)") {
    val m = asofRows(
      left = Seq((1L, 50L, 1L), (1L, 200L, 2L)),
      right = Seq((1L, 100L, 7L: java.lang.Long)))
    assert(m(1L) === None)
    assert(m(2L) === Some(7L))
  }

  test("asof: matches never cross keys") {
    val m = asofRows(
      left = Seq((1L, 200L, 1L)),
      right = Seq((2L, 100L, 7L: java.lang.Long)))
    assert(m(1L) === None)
  }

  test("asof: the LATEST prior right row wins, not the first") {
    val m = asofRows(
      left = Seq((1L, 300L, 1L)),
      right = Seq((1L, 100L, 7L: java.lang.Long), (1L, 250L, 9L: java.lang.Long)))
    assert(m(1L) === Some(9L))
  }

  test("asof: a matched row with NULL payload yields NULL — not an older row's value") {
    // the right payload travels as one struct per row; per-column
    // last(ignoreNulls) would wrongly reach back to t=100's value here
    val m = asofRows(
      left = Seq((1L, 300L, 1L)),
      right = Seq((1L, 100L, 7L: java.lang.Long), (1L, 250L, null: java.lang.Long)))
    assert(m(1L) === None)
  }

  private def asofFwdRows(
      left: Seq[(Long, Long, Long)],
      right: Seq[(Long, Long, java.lang.Long)]): Map[Long, Option[Long]] = {
    val s = spark
    import s.implicits._
    val l = left.toDF("k", "t", "lid")
    val r = right.toDF("k", "t", "rv")
    AsOfJoin
      .forward(l, r, Seq("k"), "t", "t", Seq("t", "rv"), prefix = "r_")
      .collect()
      .map(row => row.getAs[Long]("lid") ->
        Option(row.getAs[java.lang.Long]("r_rv")).map(_.longValue()))
      .toMap
  }

  test("asof forward: equal timestamps are inclusive; no-next rows get NULL; keys never cross") {
    val m = asofFwdRows(
      left = Seq((1L, 100L, 1L), (1L, 200L, 2L), (2L, 50L, 3L)),
      right = Seq((1L, 100L, 7L: java.lang.Long)))
    assert(m(1L) === Some(7L)) // tie is visible forward too
    assert(m(2L) === None)     // nothing after 200 on key 1
    assert(m(3L) === None)     // key 2 never sees key 1's rows
  }

  test("asof forward: the EARLIEST following right row wins, and a NULL payload on it stays NULL") {
    val m = asofFwdRows(
      left = Seq((1L, 50L, 1L)),
      right = Seq((1L, 100L, 9L: java.lang.Long), (1L, 250L, 7L: java.lang.Long)))
    assert(m(1L) === Some(9L))
    // the struct discipline: a matched row whose payload is NULL must not
    // reach FORWARD to a later row's value
    val n = asofFwdRows(
      left = Seq((1L, 50L, 1L)),
      right = Seq((1L, 100L, null: java.lang.Long), (1L, 250L, 7L: java.lang.Long)))
    assert(n(1L) === None)
  }

  test("range: gap == maxGap is included, gap == 0 excluded, bin boundary crossed") {
    val s = spark
    import s.implicits._
    // bins of width 100: a=95 (bins 0,1) pairs with b=105 (bin 1) across the
    // boundary; b=195 is exactly maxGap away (included); b=95 is gap 0
    // (excluded); b=300 is beyond maxGap (excluded)
    val a = Seq((1L, 95L, 10L)).toDF("k", "t", "aid")
    val b = Seq((1L, 95L, 20L), (1L, 105L, 21L), (1L, 195L, 22L), (1L, 300L, 23L))
      .toDF("k", "t", "bid")
    val got = RangeJoin.pairsWithin(a, b, Seq("k"), "t", "t", maxGap = 100L)
      .select("b_bid").as[Long].collect().sorted
    assert(got.toSeq === Seq(21L, 22L))
  }

  test("range: candidate fan-out dedups nothing — each qualifying pair appears exactly once") {
    val s = spark
    import s.implicits._
    // a at a bin start: its two candidate bins are (b, b+1); b rows in the
    // same bin must not double-match via the exploded copy
    val a = Seq((1L, 100L, 10L)).toDF("k", "t", "aid")
    val b = Seq((1L, 150L, 20L)).toDF("k", "t", "bid")
    val got = RangeJoin.pairsWithin(a, b, Seq("k"), "t", "t", maxGap = 100L)
    assert(got.count() === 1L)
  }
}
