package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Blocking

/** Boundaries of the shared block → cap → pair → verify steps. */
class BlockingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cap: a key with exactly max rows survives, max + 1 rows is dropped; max <= 0 is no cap") {
    import spark.implicits._
    // key "at" has 3 rows, key "over" has 4, key "one" has 1
    val rows = (Seq(1L, 2L, 3L).map((_, "at")) ++ Seq(4L, 5L, 6L, 7L).map((_, "over")) :+
      ((8L, "one"))).toDF("doc_id", "k")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val capped = Blocking.cap(rows, Seq("k"), 3L)
    assert(capped.columns.toSeq == rows.columns.toSeq)
    assert(ids(capped) == Set(1L, 2L, 3L, 8L))
    for (off <- Seq(0L, -1L))
      assert(Blocking.cap(rows, Seq("k"), off) eq rows, s"max = $off must not cap")
  }

  test("pairs: two docs sharing several keys yield one (i, j) row, i < j") {
    import spark.implicits._
    val rows = Seq((2L, "x"), (1L, "x"), (2L, "y"), (1L, "y"), (1L, "z"), (3L, "z"),
      (4L, "w")).toDF("doc_id", "k")
    val got = Blocking.pairs(rows, Seq("k")).as[(Long, Long)].collect().toSeq
    assert(got.sorted == Seq((1L, 2L), (1L, 3L)))
  }

  test("overlap: c and both sizes equal a driver-side set intersection, both forms") {
    import spark.implicits._
    val sets = Map(1L -> Set(10L, 11L, 12L), 2L -> Set(11L, 12L, 13L, 14L),
      3L -> Set(12L), 4L -> Set(99L))
    val df = sets.toSeq.flatMap { case (d, gs) => gs.map((d, _)) }.toDF("doc_id", "gh")
    val want = (for {
      (i, a) <- sets; (j, b) <- sets if i < j && (a & b).nonEmpty
    } yield (i, j) -> ((a & b).size.toLong, a.size.toLong, b.size.toLong)).toMap
    def rows(ov: org.apache.spark.sql.DataFrame) =
      ov.select("i", "j", "c", "n_i", "n_j").as[(Long, Long, Long, Long, Long)]
        .collect().map { case (i, j, c, ni, nj) => (i, j) -> ((c, ni, nj)) }.toMap
    assert(rows(Blocking.overlap(df)) == want)
    // restricted: only candidate pairs, and a candidate sharing nothing is absent
    val cand = Seq((1L, 2L), (2L, 3L), (1L, 4L)).toDF("i", "j")
    assert(rows(Blocking.overlapOf(df, cand)) ==
      want.filter { case (k, _) => Set((1L, 2L), (2L, 3L))(k) })
  }
}
