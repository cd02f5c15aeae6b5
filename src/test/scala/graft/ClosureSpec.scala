package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Transitive-closure canonicalization (graft.operators.Closure) + the
  * planted-twin recall of the LSH scale-path dedup. */
class ClosureSpec extends AnyFunSuite with SparkSuite {

  test("minLabel collapses chains a single min-neighbor pass would split") {
    val s = spark
    import s.implicits._
    // component 1: path 1-2-3-4-5 (diameter 4 — node 5 is NOT adjacent to 1)
    // component 2: pair 10-11; singleton: 20
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val sym = (e ++ e.map(_.swap)).toDF("src", "dst").cache()
    val labels = graft.operators.Closure.minLabel(nodes, sym, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(labels(_) == 1L), labels.toString)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels(20L) == 20L)
  }

  test("q_dedup_embed_lsh finds planted twins with near-total recall, zero false dups") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_dedup_embed_lsh")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val (twins, base) = rows.partition(_._1 >= 1000000L)
    assert(twins.nonEmpty, "augmented corpus should contain planted twins")
    // background pairs top out at cos ~0.51 << the 0.9 verify threshold, so
    // no base vector may ever be flagged
    assert(base.forall(!_._3), base.filter(_._3).mkString(","))
    // a found twin's only possible neighbor is its original
    twins.filter(_._3).foreach { case (id, canon, _) =>
      assert(canon == id - 1000000L, s"twin $id canonicalized to $canon")
    }
    val recall = twins.count(_._3).toDouble / twins.length
    assert(recall >= 0.95, s"twin recall = $recall")
  }
}
