package graft

import graft.operators.{MwuAgg, Ranking}
import org.apache.spark.sql.functions._

/** W1/W3 + A2: average ranks with ties, tie counts, NaN propagation,
  * partition invariance — mirrors reference tests/test_ranking.py
  * (fixtures from scripts/gen_fixtures.py, an independent
  * reimplementation). */
class RankingSpec extends SparkSpec {

  val g6 = Seq("a", "b", "a", "b", "a", "b")

  test("explicit ties get average ranks (reference test_ranking.py:30-40)") {
    val df = Ranking.withRanks(cellsOf("f1", Seq(2, 2, 3, 2, 3, 3).map(_.toDouble), g6))
    val ranks = df.orderBy("value").select("rank").collect().map(_.getDouble(0))
    assert(ranks.toSeq == Seq(2.0, 2.0, 2.0, 5.0, 5.0, 5.0))
    val ties = df.orderBy("value").select("tie_count").collect().map(_.getLong(0))
    assert(ties.toSeq == Seq(3L, 3L, 3L, 3L, 3L, 3L))
  }

  test("all-identical column: every rank is (n+1)/2") {
    val df = Ranking.withRanks(cellsOf("f2", Seq.fill(6)(4.0), g6))
    assert(df.select("rank").collect().map(_.getDouble(0)).forall(_ == 3.5))
  }

  test("NaN propagates to the whole feature; tie counts stay finite (rank_data.py:193-196)") {
    val df = Ranking.withRanks(cellsOf("f", Seq(1.0, Double.NaN, 3.0), Seq("a", "b", "a")))
    assert(df.select("rank").collect().forall(_.isNullAt(0)))
    // tie_term over the same cells is finite and excludes the NaN singleton
    val tt = MwuAgg.tieTerm(cellsOf("f", Seq(1.0, Double.NaN, 1.0), Seq("a", "b", "a")))
      .collect().head.getLong(1)
    assert(tt == 6L) // one tie pair: 2^3-2
  }

  test("ranks are sums to n(n+1)/2 per feature (identity rank_data.py:271-273)") {
    val vals = Seq(-42, 27, 15, -7, -7, 35, -42, 19, -30, -41, 2, 47).map(_.toDouble)
    val df = Ranking.withRanks(cellsOf("f", vals, Seq.fill(12)("g")))
    val s = df.agg(sum("rank")).collect().head.getDouble(0)
    assert(s == 12 * 13 / 2.0)
  }

  test("partition invariance: identical results under shuffle.partitions 1/4/13 " +
    "(analogue of chunking parametrization test_ranking.py:21-22)") {
    val vals = Seq(-42, 27, 15, -7, -7, 35, -42, 19, -30, -41, 2, 47,
      23, 26, 21, 28, 1, -38, 33, -5, 0, -13, -32, 42).map(_.toDouble)
    val grps = (0 until 24).map(i => Seq("x", "y", "z")(i % 3))
    def run(): Seq[(String, Double, Double)] = {
      Ranking.withRanks(cellsOf("f", vals, grps))
        .orderBy("value", "grp").select("grp", "value", "rank")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0) == results(1) && results(1) == results(2))
  }

  test("a NULL feature id ranks as its own feature in the split spelling, as in the unsplit one") {
    import spark.implicits._
    val cells = Seq(("a", Some("f"), 2.0), ("b", Some("f"), 1.0), ("a", None, 5.0),
      ("b", None, 3.0), ("a", None, 3.0)).toDF("grp", "feature_id", "value")
    def ranks(split: Boolean) = Ranking.withRanks(cells, bucketSplit = split)
      .select("feature_id", "value", "rank", "tie_count").collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSet
    assert(ranks(split = true) == ranks(split = false))
    assert(ranks(split = true).filter(_._1.isEmpty) ==
      Set((None, 5.0, 3.0, 1L), (None, 3.0, 1.5, 2L), (None, 3.0, 1.5, 2L)))
    val sums = MwuAgg.rankSumsAgg(cells).filter($"feature_id".isNull)
      .select("grp", "rank_sum", "n1", "n").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(sums == Set(("a", 4.5, 2L, 3L), ("b", 1.5, 1L, 3L)))
  }

  test("an input column that clashes with a working column is rejected by name") {
    Ranking.SplitWorkingCols.foreach { w =>
      val cells = cellsOf("f", Seq(1.0, 2.0), Seq("a", "b")).withColumn(w, lit(1L))
      val e = intercept[IllegalArgumentException](Ranking.withRanks(cells))
      assert(e.getMessage.contains(s"'$w'"), e.getMessage)
    }
  }
}
