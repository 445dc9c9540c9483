package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1/W3 — per-feature average ranks with ties + tie-group sizes
  * (reference `_rank_and_ties`, /root/reference/dask_mwu/rank_data.py:90-201;
  * scipy `method='average'`, `nan_policy='propagate'` hardcoded at :182-184).
  *
  * Spark-first design: the reference's per-column-chunk kernel becomes ONE
  * hash shuffle on `feature_id` followed by two Window operators sharing
  * that partitioning (no second exchange):
  *
  *   - `min_rank` = SQL RANK() (min-rank of the tie block)
  *   - `tie_count` = COUNT(*) over the same ordered window with a
  *     RANGE CURRENT ROW frame → number of peers (rows equal in `value`),
  *     which avoids a separate shuffle on (feature_id, value)
  *   - avg rank = min_rank + (tie_count-1)/2 — the mean of the tie block
  *     [min, min+c-1]; dyadic-exact in double
  *
  * NaN/null propagation (reference rank_data.py:193-196): any NaN in a
  * feature makes every rank of that feature NULL; tie counts stay finite
  * (only ranks are overwritten in the reference, SURVEY.md §1.2).
  *
  * Scale: partitions = features × hash, each window sorts only one
  * feature's rows (spillable sort). 100 TB ⇒ raise shuffle partitions;
  * skew-free by construction (every feature has n_obs rows).
  */
object Ranking {

  def isBad(c: Column): Column = c.isNull || isnan(c)

  /** Working columns the split [[withRanks]] adds and drops again. An
    * input that already has one is rejected: the split would shadow it,
    * or fail on an ambiguous reference, instead of ranking the caller's
    * data. */
  val SplitWorkingCols: Seq[String] = Seq("_vb", "_lrk", "_off", "_f_nan", "_bt_f", "_bt_vb")

  /** Adds `rank` (DOUBLE, null on NaN-poisoned features), `tie_count`
    * (LONG), `feature_has_nan` (BOOLEAN) to a cells-like frame.
    *
    * r16 (`bucketSplit = true`, the default): the per-feature window
    * sorted ALL of a feature's cells in one task (parallelism =
    * |features|; at sf0.1 one task sorted 2.4 M cells — the cost center
    * of every per-cell rank consumer). A rank is a prefix count, so it
    * distributes two-level exactly like [[MwuAgg.rankSumsAgg]]:
    * [[graft.functions.DoubleSortBucket]] splits each feature's value
    * axis deterministically and monotonically, RANK() runs locally per
    * (feature, bucket), and each bucket's broadcast offset (row count of
    * all lower buckets) restores the global min-rank integer exactly —
    * peers never straddle a bucket, so `tie_count` is local, and the
    * final `rank` double is computed from the identical integer operands
    * (dyadic-exact, so bit-equal; PropertySpec/RankingSpec pin it).
    *
    * `bucketSplit = false` keeps the single-window spelling whose
    * partition key is exactly the bucketed-cells table's bucket hash —
    * the `mwu_rank_bucket` gate's declared ZERO-exchange plan (PlanSpec
    * pins it); the split spelling would add (feature, bucket) and
    * (feature, grp) exchanges that layout exists to avoid. */
  def withRanks(cells: DataFrame, valueCol: String = "value",
                featureCol: String = "feature_id",
                bucketSplit: Boolean = true): DataFrame = {
    val v = col(valueCol)
    if (!bucketSplit) {
      val wOrd = Window.partitionBy(featureCol).orderBy(v)
      val wPeers = wOrd.rangeBetween(Window.currentRow, Window.currentRow)
      val wFeat = Window.partitionBy(featureCol)
      cells
        .withColumn("tie_count", count(lit(1)).over(wPeers))
        .withColumn("min_rank", rank().over(wOrd).cast("long"))
        .withColumn("feature_has_nan", max(isBad(v)).over(wFeat))
        .withColumn("rank",
          when(col("feature_has_nan"), lit(null).cast("double"))
            .otherwise(col("min_rank") + (col("tie_count") - 1L) / 2.0))
        .drop("min_rank")
    } else {
      SplitWorkingCols.find(w => cells.columns.exists(_.equalsIgnoreCase(w))).foreach { w =>
        throw new IllegalArgumentException(
          s"Ranking.withRanks: input column '$w' clashes with a working column; rename it")
      }
      graft.functions.GraftFunctions.register(cells.sparkSession)
      val withVb = cells.withColumn("_vb", expr(s"double_sort_bucket(`$valueCol`)"))
      val wOrd = Window.partitionBy(featureCol, "_vb").orderBy(v)
      val wPeers = wOrd.rangeBetween(Window.currentRow, Window.currentRow)
      val wOff = Window.partitionBy(featureCol).orderBy("_vb")
        .rowsBetween(Window.unboundedPreceding, -1)
      // bucket offsets + the feature NaN flag: feature×bucket-sized,
      // broadcast; NULL-SAFE on both keys (null values bucket to null and
      // must keep flowing — only their ranks null out; a null feature id
      // is its own feature, as in the single-window spelling)
      val bt = withVb.groupBy(featureCol, "_vb")
        .agg(count(lit(1)).as("_bc"), max(isBad(v)).as("_p_nan"))
        .withColumn("_off", coalesce(sum("_bc").over(wOff), lit(0L)))
        .withColumn("_f_nan",
          max(col("_p_nan")).over(Window.partitionBy(featureCol)))
        .select(col(featureCol).as("_bt_f"), col("_vb").as("_bt_vb"),
          col("_off"), col("_f_nan"))
      withVb
        .withColumn("tie_count", count(lit(1)).over(wPeers))
        .withColumn("_lrk", rank().over(wOrd).cast("long"))
        .join(broadcast(bt),
          col(featureCol) <=> col("_bt_f") && col("_vb") <=> col("_bt_vb"))
        .withColumn("feature_has_nan", col("_f_nan"))
        .withColumn("rank",
          when(col("feature_has_nan"), lit(null).cast("double"))
            .otherwise((col("_off") + col("_lrk")) + (col("tie_count") - 1L) / 2.0))
        .drop("_vb", "_lrk", "_bt_f", "_bt_vb", "_off", "_f_nan")
    }
  }

  /** [[withRanks]] collapsed to PER-DISTINCT-VALUE rows — (feature_id,
    * value, tie_count, rank), the relation `mwu_rank` materializes —
    * computed the tied-data scale way ([[MwuAgg.rankSumsAgg]]'s route):
    * cells collapse to (feature, value) counts FIRST (map-side combine,
    * so only distinct-value rows ever reach the sort), then one
    * cumulative window derives min-rank and tie size per distinct
    * value. On heavy-tie corpora the window input shrinks from n rows
    * to d distinct values (the replicated 10× corpus keeps d FIXED
    * while n grows 10× — the verdict-r12 slope probe); identical
    * output by the rank identities: tie_count(v) = t(v) and
    * min_rank(v) = cum(v) − t(v) + 1, NaN poisoning unchanged. Not a
    * replacement for [[withRanks]] where per-CELL ranks are the API
    * surface. */
  def ranksByValue(cells: DataFrame, valueCol: String = "value",
                   featureCol: String = "feature_id"): DataFrame = {
    val wOrd = Window.partitionBy(featureCol).orderBy(valueCol)
    val wCum = wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wFeat = Window.partitionBy(featureCol)
    cells
      .groupBy(featureCol, valueCol)
      .agg(count(lit(1)).as("tie_count"))
      .withColumn("cum", sum("tie_count").over(wCum))
      .withColumn("f_nan", max(isBad(col(valueCol))).over(wFeat))
      .withColumn("rank",
        when(col("f_nan"), lit(null).cast("double"))
          .otherwise((col("cum") - col("tie_count") + 1L) +
            (col("tie_count") - 1L) / 2.0))
      .select(col(featureCol), col(valueCol), col("tie_count"), col("rank"))
  }

  /** Oracle-SQL rendering of the same computation, including the NaN
    * branch: any NaN/NULL cell NULLs every rank of its feature while tie
    * counts stay finite (rank_data.py:193-196). Both engines order NaN
    * last and treat NaN = NaN as a tie, so tie_count agrees; the rank
    * values themselves are masked before anything downstream sums them. */
  def ranksSql(cellsSql: String): String =
    s"""select grp, feature_id, value, tie_count,
       | case when f_nan = 1 then null else rank0 end as rank
       |from (select grp, feature_id, value,
       | count(*) over (partition by feature_id order by value
       |   range between current row and current row) as tie_count,
       | cast(rank() over (partition by feature_id order by value) as bigint)
       |   + (cast(count(*) over (partition by feature_id order by value
       |       range between current row and current row) as bigint) - 1) / 2.0 as rank0,
       | max(case when value is null or isnan(value) then 1 else 0 end)
       |   over (partition by feature_id) as f_nan
       |from ($cellsSql))""".stripMargin.replace("\n", " ")
}
