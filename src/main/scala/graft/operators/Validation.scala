package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-flight validation predicates (SURVEY.md §2.2) — the Spark
  * rendering of the reference's reject-rather-than-filter checks:
  * `validate_ranks_and_masks` (/root/reference/dask_mwu/_utils.py:25-51),
  * `get_masks` shape rejects (rank_data.py:64-70), `create_df`
  * `_check_shapes` (create_df.py:11-64).
  *
  * Each check is a distributed assertion query (no full collect — at most
  * one offending row crosses to the driver for the error message).
  */
object Validation {

  final case class ValidationException(msg: String) extends IllegalArgumentException(msg)

  private def firstBad(bad: DataFrame, msg: String): Unit =
    bad.limit(1).collect().headOption.foreach { r =>
      throw ValidationException(s"$msg (e.g. $r)")
    }

  /** Partition-of-groups check: every observation in EXACTLY one group
    * (reference _utils.py:47-51: >=1 and <=1). For an obs dimension
    * table keyed by obs_id. */
  def requirePartition(obs: DataFrame, idCol: String = "obs_id",
                       groupCol: String = "grp"): Unit = {
    firstBad(obs.filter(col(groupCol).isNull),
      "every observation must belong to a group")
    firstBad(obs.groupBy(idCol).agg(count(lit(1)).as("n_groups"))
      .filter(col("n_groups") =!= 1),
      "observations must belong to exactly one group")
  }

  /** Matrix-shape consistency: every feature must cover the same
    * observation count (the reference validates ranks.shape == masks rows,
    * _utils.py:38-45; in long form: uniform per-feature cardinality). */
  def requireUniformFeatures(cells: DataFrame, featureCol: String = "feature_id"): Unit = {
    val counts = cells.groupBy(featureCol).agg(count(lit(1)).as("n_obs"))
    firstBad(
      counts.select(countDistinct("n_obs").as("d")).filter(col("d") > 1),
      "all features must have the same number of observations")
  }

  /** [[requirePartition]] on `obs` and [[requireUniformFeatures]] on
    * `cells`, answered "all clear" by one collect: obs rows, labelled
    * rows and distinct ids must agree, and the per-feature observation
    * counts must have one value. Only a check this flags runs in full, so
    * a rejection throws the same exception with the same example row, and
    * an input the summary cannot clear on its own (a single null obs id
    * is flagged here but is a valid partition) still passes. */
  def requirePartitionAndUniform(obs: DataFrame, cells: DataFrame,
                                 idCol: String = "obs_id", groupCol: String = "grp",
                                 featureCol: String = "feature_id"): Unit = {
    val obsRow = obs.agg(lit("obs").as("src"), count(lit(1)).as("a"),
      count(col(groupCol)).as("b"), countDistinct(col(idCol)).as("c"))
    val cellsRow = cells.groupBy(featureCol).agg(count(lit(1)).as("n_obs"))
      .agg(lit("cells").as("src"), min("n_obs").as("a"), max("n_obs").as("b"),
        lit(0L).as("c"))
    // one row per side, tagged by `src`: a union, because a cross join
    // of the two one-row frames would add a broadcast exchange
    val rows = obsRow.unionByName(cellsRow).collect().map(r => r.getString(0) -> r).toMap
    val o = rows("obs")
    if (o.getLong(1) != o.getLong(2) || o.getLong(2) != o.getLong(3))
      requirePartition(obs, idCol, groupCol)
    val c = rows("cells")
    if (!c.isNullAt(1) && c.getLong(1) != c.getLong(2))
      requireUniformFeatures(cells, featureCol)
  }

  /** vars/matrix length consistency (reference
    * scratch/rank_gene_groups.py:118-133): the gene-name table must cover
    * exactly the features present. */
  def requireVarsCover(cells: DataFrame, vars: DataFrame,
                       featureCol: String = "feature_id"): Unit = {
    firstBad(cells.select(featureCol).distinct()
      .join(vars, Seq(featureCol), "left_anti"),
      "vars table must name every feature")
  }

  /** create_df top_n bounds check (create_df.py:60-64,109-115). */
  def requireTopN(topN: Option[Int], nFeatures: Long): Unit =
    topN.foreach { k =>
      if (k < 1 || k > nFeatures)
        throw ValidationException(
          s"top_n must be in [1, $nFeatures], got $k (reference create_df.py:60-64)")
    }

  /** Pre-flight finiteness check for fixed-point-summed measures: NaN/Inf
    * inputs would not fail loudly — Spark's non-ANSI double→BIGINT cast
    * wraps them to 0/Long.Max while DuckDB throws — so the deterministic-
    * aggregation contract ([[graft.oracle.Parity.fpSum]]) only holds for
    * finite values. Reject up front, like the reference's shape checks. */
  def requireFinite(df: DataFrame, cols: Seq[String]): Unit =
    cols.foreach { c =>
      firstBad(
        df.filter(isnan(col(c)) || col(c) === Double.PositiveInfinity ||
          col(c) === Double.NegativeInfinity),
        s"measure column '$c' must be finite (NaN/Inf would diverge between engines)")
    }
}
