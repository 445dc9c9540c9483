package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three-scan marker composition that [[Pipeline.markerStats]]
  * replaced — ranks, then rank sums, a separate tie-term scan and a
  * separate group-means scan, joined back together — with the BH/Holm
  * spelling whose windows are partitioned by (grp, validity). Kept as the
  * differential reference for the one-pass pipeline. */
object LegacyMarkerStats {

  def withBH(pStats: DataFrame, pCol: String = "p", outCol: String = "p_adj"): DataFrame = {
    val wOrd = Window.partitionBy("grp", "bh_valid").orderBy(col(pCol), col("feature_id"))
    val wAll = Window.partitionBy("grp", "bh_valid")
    val wSuffix = wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    pStats
      .withColumn("bh_valid", col(pCol).isNotNull && !isnan(col(pCol)))
      .withColumn("bh_i", row_number().over(wOrd).cast("long"))
      .withColumn("bh_m", count(lit(1)).over(wAll))
      .withColumn(outCol, when(col(pCol).isNull, lit(null).cast("double"))
        .when(isnan(col(pCol)), lit(Double.NaN))
        .otherwise(
          least(lit(1.0), min(col(pCol) * col("bh_m") / col("bh_i")).over(wSuffix))))
      .drop("bh_i", "bh_m", "bh_valid")
  }

  def withHolm(pStats: DataFrame, pCol: String = "p", outCol: String = "p_holm"): DataFrame = {
    val wOrd = Window.partitionBy("grp", "bh_valid").orderBy(col(pCol), col("feature_id"))
    val wAll = Window.partitionBy("grp", "bh_valid")
    val wPrefix = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pStats
      .withColumn("bh_valid", col(pCol).isNotNull && !isnan(col(pCol)))
      .withColumn("bh_i", row_number().over(wOrd).cast("long"))
      .withColumn("bh_m", count(lit(1)).over(wAll))
      .withColumn(outCol, when(col(pCol).isNull, lit(null).cast("double"))
        .when(isnan(col(pCol)), lit(Double.NaN))
        .otherwise(least(lit(1.0),
          max(col(pCol) * (col("bh_m") - col("bh_i") + 1L).cast("double")).over(wPrefix))))
      .drop("bh_i", "bh_m", "bh_valid")
  }

  def markerStats(spark: SparkSession, cells: DataFrame,
                  cfg: Pipeline.Config = Pipeline.Config()): DataFrame = {
    val ranked = Ranking.withRanks(cells)
    val stats = withBH(MwuStats.withP(
      MwuStats.withZ(MwuStats.withU(MwuAgg.rankSums(ranked)), MwuAgg.tieTerm(cells))))
    val lfc = LogFold.withLfc(LogFold.groupMeans(cells), cfg.base)
      .select("feature_id", "grp", "lfc", "abs_lfc")
    val joined = stats.join(lfc, Seq("feature_id", "grp"))
      .select(col("grp"), col("feature_id").as("gene"), col("u1").as("U"),
        col("p").as("p_value"), col("p_adj").as("p_adjusted"),
        col("lfc").as("logfoldchange"), col("abs_lfc").as("abs_logfoldchange"))
    MarkerTable.topK(joined.withColumn("abs_lfc", col("abs_logfoldchange")), cfg.topN)
      .drop("abs_lfc")
  }
}

/** Differential spec: the one-pass marker pipeline against the
  * three-scan composition, on the reference's degenerate shapes. */
class MarkerStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Three groups; a clean feature with cross-group ties, a NaN-poisoned
    * feature, an all-tied feature, a feature with null values, and an
    * n<2 feature (one cell). */
  def multiGroup: DataFrame = {
    val grps = (0 until 12).map(i => Seq("a", "b", "c")(i % 3))
    val clean = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8).map(v => math.log1p(v.toDouble))
    val heavy = Seq(0, 0, 0, 2, 0, 0, 1, 0, 2, 0, 0, 0).map(v => math.log1p(v.toDouble))
    val poison = clean.updated(4, Double.NaN)
    val rows =
      grps.zip(clean).map { case (g, v) => (g, "clean", Option(v)) } ++
      grps.zip(heavy).map { case (g, v) => (g, "heavy", Option(v)) } ++
      grps.zip(poison).map { case (g, v) => (g, "poison", Option(v)) } ++
      grps.map(g => (g, "tied", Option(0.5))) ++
      grps.zip(clean).zipWithIndex.map { case ((g, v), i) =>
        (g, "nulls", if (i == 7) None else Option(v)) } ++
      Seq(("a", "single", Option(1.5)))
    rows.toDF("grp", "feature_id", "value")
  }

  /** Every cell in one group: the "rest" is empty. */
  def singleGroup: DataFrame =
    Seq(1.0, 2.0, 2.0, 0.0, 3.0).flatMap(v => Seq(("only", "f1", v), ("only", "f2", v * 2)))
      .toDF("grp", "feature_id", "value")

  def fixtures: Seq[(String, DataFrame)] = Seq("multi" -> multiGroup, "single" -> singleGroup)

  private def bits(r: Row, c: String): Option[Long] = {
    val i = r.fieldIndex(c)
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
  }

  private def byKey(df: DataFrame, k1: String, k2: String): Map[(String, String), Row] =
    df.collect().map(r => (r.getAs[String](k1), r.getAs[String](k2)) -> r).toMap

  /** U, p and p_adj bit-equal; lfc within 1e-12 (relative above 1,
    * absolute below). */
  private def assertSameMarkers(a: DataFrame, b: DataFrame, what: String): Unit = {
    val (ma, mb) = (byKey(a, "grp", "gene"), byKey(b, "grp", "gene"))
    assert(ma.keySet == mb.keySet, what)
    ma.foreach { case (k, ra) =>
      val rb = mb(k)
      Seq("U", "p_value", "p_adjusted").foreach { c =>
        assert(bits(ra, c) == bits(rb, c), s"$what $k $c: $ra vs $rb")
      }
      Seq("logfoldchange", "abs_logfoldchange").foreach { c =>
        val (x, y) = (bits(ra, c).map(java.lang.Double.longBitsToDouble),
          bits(rb, c).map(java.lang.Double.longBitsToDouble))
        assert(x.isDefined == y.isDefined && x.zip(y).forall { case (p, q) => approx(p, q) },
          s"$what $k $c: $ra vs $rb")
      }
    }
  }

  test("markerSums: rank sums, n1, n and tie term bit-equal to rankSums + tieTerm") {
    fixtures.foreach { case (name, cells) =>
      val fused = byKey(MwuAgg.markerSums(Ranking.withRanks(cells)), "feature_id", "grp")
      val old = byKey(MwuAgg.rankSums(Ranking.withRanks(cells))
        .join(MwuAgg.tieTerm(cells), Seq("feature_id"), "left"), "feature_id", "grp")
      assert(fused.keySet == old.keySet, name)
      fused.foreach { case (k, r) =>
        val o = old(k)
        assert(bits(r, "rank_sum") == bits(o, "rank_sum"), s"$name $k rank_sum")
        Seq("n1", "n").foreach(c => assert(r.getAs[Long](c) == o.getAs[Long](c), s"$name $k $c"))
        val oldTie = Option(o.getAs[java.lang.Long]("tie_term")).map(_.longValue).getOrElse(0L)
        assert(r.getAs[Long]("tie_term") == oldTie, s"$name $k tie_term")
      }
    }
    // the all-tied feature: 12 equal values → 12³ − 12
    assert(byKey(MwuAgg.markerSums(Ranking.withRanks(multiGroup)), "feature_id", "grp")(
      ("tied", "a")).getAs[Long]("tie_term") == 1716L)
  }

  test("markerStats matches the three-scan composition (NaN, null, all-tied, n<2, one group)") {
    fixtures.foreach { case (name, cells) =>
      assertSameMarkers(Pipeline.markerStats(spark, cells),
        LegacyMarkerStats.markerStats(spark, cells), name)
    }
  }

  test("markerStats: checkpoint on and off give the same output; the checkpoint keeps value") {
    fixtures.foreach { case (name, cells) =>
      val ck = java.nio.file.Files.createTempDirectory("graft_ms_ck_").toString + "/ranks"
      val cfg = Pipeline.Config(topN = Some(2), checkpointDir = Some(ck))
      val off = Pipeline.markerStats(spark, cells, cfg.copy(checkpointDir = None))
      assertSameMarkers(Pipeline.markerStats(spark, cells, cfg), off, s"$name write")
      assertSameMarkers(Pipeline.markerStats(spark, cells, cfg), off, s"$name reuse")
      assert(spark.read.parquet(ck).columns.toSet == Pipeline.CheckpointCols.toSet)
    }
  }

  test("a rank checkpoint without value (the older layout) is stale and rewritten") {
    val cells = multiGroup
    val ck = java.nio.file.Files.createTempDirectory("graft_ms_old_").toString + "/ranks"
    Ranking.withRanks(cells).select("grp", "feature_id", "rank", "tie_count")
      .write.parquet(ck)
    val cfg = Pipeline.Config(checkpointDir = Some(ck))
    assertSameMarkers(Pipeline.markerStats(spark, cells, cfg),
      LegacyMarkerStats.markerStats(spark, cells), "stale")
    assert(spark.read.parquet(ck).columns.contains("value"))
  }

  test("BH and Holm partitioned by grp alone: bit-equal to the (grp, validity) spelling") {
    val ps = Seq(0.01, Double.NaN, 0.04, 0.03, 0.5, 0.03, 1.0, 0.2)
    val pStats = (ps.zipWithIndex.map { case (p, i) => ("g1", f"f$i%02d", Option(p)) } ++
      Seq(("g1", "fnull", None), ("g2", "f00", Some(0.3)), ("g2", "f01", None),
        ("g3", "f00", Some(Double.NaN))))
      .toDF("grp", "feature_id", "p")
    def out(df: DataFrame, c: String) =
      df.collect().map(r => (r.getAs[String]("grp"), r.getAs[String]("feature_id")) -> bits(r, c)).toMap
    assert(out(MwuStats.withBH(pStats), "p_adj") == out(LegacyMarkerStats.withBH(pStats), "p_adj"))
    assert(out(MwuStats.withHolm(pStats), "p_holm") ==
      out(LegacyMarkerStats.withHolm(pStats), "p_holm"))
    // the valid rows' m is 7 in g1, not 9
    val f0 = MwuStats.withBH(pStats).filter($"feature_id" === "f00" && $"grp" === "g1")
      .select("p_adj").head().getDouble(0)
    val sortedValid = ps.filterNot(_.isNaN).sorted
    assert(f0 == sortedValid.zipWithIndex.map { case (p, i) => p * 7 / (i + 1) }.min)
  }
}
