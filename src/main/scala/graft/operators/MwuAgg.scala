package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1–A3, A6 — the hash-aggregates of the MWU pipeline (SURVEY.md §2.5).
  *
  * The reference computes the in-group rank sum as a masked matmul
  * (`da.tensordot`, /root/reference/dask_mwu/rank_data.py:292-296) and the
  * tie term as an elementwise reduction (rank_data.py:301-315). In Spark
  * both are plain partial+final hash aggregates — the one-hot mask matrix
  * is never materialized (SURVEY.md §1.1: groupBy replaces mask-multiply),
  * and results stay distributed (the reference eagerly `.compute()`s to
  * driver numpy; we never collect).
  */
object MwuAgg {

  /** A1 + A3: per (feature, group) rank sum and group size, plus the
    * per-feature total row count `n` via a window over the tiny aggregated
    * frame (#rows = features × groups — no extra scan of the fact table). */
  def rankSums(ranked: DataFrame): DataFrame = {
    val agg = ranked.groupBy("feature_id", "grp")
      .agg(sum("rank").as("rank_sum"), count(lit(1)).as("n1"))
    agg.withColumn("n", sum("n1").over(Window.partitionBy("feature_id")))
  }

  /** A1–A4 in one pass over a ranked frame (grp, feature_id, value,
    * rank, tie_count) — the marker pipeline's only fact aggregate, read
    * off one rank relation like the reference's one rank tensor
    * (rank_data.py:292-315). Per (feature, grp): `rank_sum`, `n1`, the
    * value sum `s1` and the tie part Σ(tie_count² − 1) over non-null,
    * non-NaN cells; one per-feature window then adds `n`, `tie_term`
    * and the value total `tot`. A tie group of t cells contributes
    * t·(t² − 1) = t³ − t, so `tie_term` equals [[tieTerm]] exactly
    * (BIGINT), and `rank_sum`/`n1`/`n` equal [[rankSums]] over the same
    * frame; `s1`/`tot` feed [[LogFold.withMeans]]. */
  def markerSums(ranked: DataFrame): DataFrame = {
    val wFeat = Window.partitionBy("feature_id")
    val tc = col("tie_count")
    ranked.groupBy("feature_id", "grp")
      .agg(sum("rank").as("rank_sum"), count(lit(1)).as("n1"), sum("value").as("s1"),
        sum(when(!Ranking.isBad(col("value")), tc * tc - 1L)).as("tie_part"))
      .select(col("feature_id"), col("grp"), col("rank_sum"), col("n1"), col("s1"),
        sum("n1").over(wFeat).as("n"),
        coalesce(sum("tie_part").over(wFeat), lit(0L)).as("tie_term"),
        sum("s1").over(wFeat).as("tot"))
  }

  /** A1+A3 WITHOUT sorting the fact table — the tied-data scale path.
    * Average ranks are a pure function of distinct (feature, value)
    * cumulative counts, so the fact rows collapse through a map-side-
    * combined aggregate to (feature, value, grp, count) FIRST and only
    * the distinct-value relation is sorted:
    *   avg_rank(v) = C_{<v} + (t_v + 1)/2, computed by RANGE-frame sums
    *   over the aggregated rows (peers share a value by construction);
    *   rank_sum(grp) = Σ_v c(grp,v)·avg_rank(v), exact dyadic arithmetic
    *   → bit-identical to summing per-cell ranks in any order, so it
    *   shares [[rankSums]]'s oracle.
    * For discrete measures (quantities, discounts, grades) the window
    * sorts thousands of rows instead of billions; for continuous values
    * it degrades to ~n aggregated rows — prefer [[Ranking.withRanks]] +
    * [[rankSums]] there (the per-cell ranks are also the API surface).
    * NaN poisoning matches rank_data.py:193-196: any bad value NULLs the
    * feature's rank sums while n1/n stay populated. */
  def rankSumsAgg(cells: DataFrame): DataFrame = {
    // r16: the r15 spelling windowed the distinct-value rows partitioned
    // by feature_id alone — parallelism |features| (4), so ONE task
    // sorted every distinct value of a continuous feature (~600 k
    // l_extendedprice values = a 1.9 s single-task stage inside every
    // derived-stats consumer; JobProf mwu_bh). The cumulative count a
    // rank needs is a PREFIX SUM, which distributes two-level (the
    // classic scan): split each feature's value axis by a DETERMINISTIC
    // bucket id monotone in the value ([[graft.functions.DoubleSortBucket]]
    // — a pure function, so no range sampling, no partition identity, no
    // materialization), cumulate locally per (feature, bucket), and add
    // each bucket's offset (total count of all lower buckets —
    // feature×bucket-sized, broadcast). Bit-exact by construction: equal
    // values share a bucket, so local t and off + lcum reproduce the
    // global range-frame integers exactly, and every avg_rank·c term is
    // a dyadic rational < 2^53 — sums never round, any order (the r15
    // argument, unchanged). A single-valued column degrades to one
    // bucket = exactly the old plan, never below it. Pinned bit-equal to
    // the per-cell spelling (incl. NaN poisoning) by PropertySpec.
    graft.functions.GraftFunctions.register(cells.sparkSession)
    val cv = cells
      .groupBy("feature_id", "value", "grp").agg(count(lit(1)).as("c"))
      .withColumn("vb", expr("double_sort_bucket(value)"))
    val wOrd = Window.partitionBy("feature_id", "vb").orderBy("value")
    val wCum = wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wPeer = wOrd.rangeBetween(Window.currentRow, Window.currentRow)
    val wFeat = Window.partitionBy("feature_id")
    // bucket offsets and the NaN flag ride one feature×bucket aggregate
    // (null bucket = null values sorts FIRST, like the value order)
    val wOff = Window.partitionBy("feature_id").orderBy("vb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bt = cv.groupBy("feature_id", "vb").agg(sum("c").as("bc"),
        max(Ranking.isBad(col("value"))).as("p_nan"))
      .withColumn("off", coalesce(sum("bc").over(wOff), lit(0L)))
      .withColumn("f_nan", max(col("p_nan")).over(wFeat))
      .select("feature_id", "vb", "off", "f_nan")
    // NULL-SAFE on both keys: a null value buckets to null, and its cells
    // must keep flowing (n1/n stay populated while only the ranks null
    // out); a null feature id is its own feature
    val btA = bt.withColumnRenamed("feature_id", "bt_f")
      .withColumnRenamed("vb", "bt_vb")
    cv
      .withColumn("lcum", sum("c").over(wCum))
      .withColumn("t", sum("c").over(wPeer))
      .join(broadcast(btA),
        col("feature_id") <=> col("bt_f") && col("vb") <=> col("bt_vb"))
      .drop("bt_f", "bt_vb")
      .withColumn("cum", col("off") + col("lcum"))
      .withColumn("avg_rank", when(col("f_nan"), lit(null).cast("double"))
        .otherwise((col("cum") - col("t")).cast("double") + (col("t") + 1L) / 2.0))
      .groupBy("feature_id", "grp")
      .agg(sum(col("avg_rank") * col("c")).as("rank_sum"), sum("c").as("n1"))
      .withColumn("n", sum("n1").over(wFeat))
  }

  /** A2: tie term Σ(t³−t) per feature. Two-level aggregate: count each
    * distinct value's multiplicity, then sum t³−t — singletons contribute
    * 0, exactly the scipy tie-vector semantics (rank_data.py:315).
    * NaN rows are excluded: NaN≠NaN under IEEE, so in the reference each
    * NaN is a singleton tie group contributing 0; Spark's groupBy would
    * wrongly coalesce NaNs into one group (SURVEY.md §7.5). Exact BIGINT
    * arithmetic throughout. */
  def tieTerm(cells: DataFrame, valueCol: String = "value"): DataFrame =
    cells.filter(!Ranking.isBad(col(valueCol)))
      .groupBy("feature_id", valueCol).agg(count(lit(1)).as("t"))
      .groupBy("feature_id")
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie_term"))

  /** Oracle-SQL for [[rankSums]] over a ranked-cells subquery. */
  def rankSumsSql(rankedSql: String): String =
    s"""select feature_id, grp, cast(sum(rank) as double) as rank_sum,
       | cast(count(*) as bigint) as n1,
       | cast(sum(count(*)) over (partition by feature_id) as bigint) as n
       |from ($rankedSql) group by feature_id, grp""".stripMargin.replace("\n", " ")

  /** Oracle-SQL for [[tieTerm]] over a cells subquery. NaN/NULL rows are
    * filtered like the Spark side: DuckDB's GROUP BY coalesces NaNs into
    * one group (t³−t ≠ 0) where the reference treats each NaN as a
    * contributing-zero singleton. */
  def tieTermSql(cellsSql: String): String =
    s"""select feature_id, cast(sum(t*t*t - t) as bigint) as tie_term from (
       | select feature_id, value, cast(count(*) as bigint) as t
       | from ($cellsSql) where value is not null and not isnan(value)
       | group by feature_id, value
       |) group by feature_id""".stripMargin.replace("\n", " ")
}
