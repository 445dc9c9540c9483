package graft.api

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 1:1 facade over the reference's public API
  * (/root/reference/dask_mwu/__init__.py:1-15 — exactly 7 functions), so
  * a dask-mwu user can switch by name. Each function delegates to the
  * Spark-first operator modules; the long `cells(grp, feature_id, value)`
  * relation replaces the dense (n_obs × n_features) array and the
  * `obs(obs_id, grp)` relation replaces the choices vector (SURVEY.md
  * §7.1).
  *
  * | reference                           | here                      |
  * |-------------------------------------|---------------------------|
  * | get_masks(choices)                  | [[getMasks]]              |
  * | rank_data(data, ...)                | [[rankData]]              |
  * | compute_in_group_ranksum(ranks, m)  | [[computeInGroupRanksum]] |
  * | compute_tie_term(rank_ties)         | [[computeTieTerm]]        |
  * | mann_whitney_u(ranksum, tie, m)     | [[mannWhitneyU]]          |
  * | compute_logfoldchange(data, m, b)   | [[computeLogfoldchange]]  |
  * | create_df(gene_names, ...)          | [[createDf]]              |
  */
object MwuApi {

  /** get_masks (rank_data.py:41-87): sorted-distinct groups, one-hot
    * columns. The hot path never materializes masks — this is the
    * compatibility surface. */
  def getMasks(obs: DataFrame, groupCol: String = "grp"): DataFrame =
    Masks.oneHot(obs, groupCol)

  /** rank_data (rank_data.py:204-259): per-feature average ranks + tie
    * sizes with NaN propagation; the `(n_obs, F, 2)` tensor becomes the
    * `rank`/`tie_count` columns. Optional parquet checkpoint stands in
    * for the zarr cache (rank_data.py:221-223). */
  def rankData(spark: SparkSession, cells: DataFrame,
               checkpoint: Option[String] = None,
               recompute: Boolean = false): DataFrame =
    Pipeline.rankedCells(spark, cells,
      Pipeline.Config(checkpointDir = checkpoint, recomputeRanks = recompute))

  /** compute_in_group_ranksum (rank_data.py:262-298): the tensordot
    * becomes a hash aggregate; result stays distributed. */
  def computeInGroupRanksum(ranked: DataFrame): DataFrame =
    MwuAgg.rankSums(ranked)

  /** compute_tie_term (rank_data.py:301-315): Σ(t³−t) per feature. */
  def computeTieTerm(cells: DataFrame): DataFrame =
    MwuAgg.tieTerm(cells)

  /** mann_whitney_u (pvals.py:144-176): U (=U1), two-sided p, BH-adjusted
    * p from precomputed rank sums + tie terms — composable exactly like
    * the reference (users may supply their own aggregates). */
  def mannWhitneyU(rankSums: DataFrame, tieTerm: DataFrame): DataFrame =
    MwuStats.withBH(MwuStats.withP(MwuStats.withZ(MwuStats.withU(rankSums), tieTerm)))
      .select(col("feature_id"), col("grp"), col("u1").as("U"),
        col("p").as("p_value"), col("p_adj").as("p_adjusted"))

  /** compute_logfoldchange (logfoldchange.py:27-56). */
  def computeLogfoldchange(cells: DataFrame, base: Option[Double] = None): DataFrame =
    LogFold.withLfc(LogFold.groupMeans(cells), base)
      .select(col("feature_id"), col("grp"), col("lfc").as("logfoldchange"))

  /** create_df (create_df.py:70-134): one distributed frame with the
    * reference's column set and per-group top-n, instead of a generator
    * of pandas frames; write per-category files via
    * [[MarkerTable.writePerGroup]]. */
  def createDf(stats: DataFrame, lfc: DataFrame, vars: DataFrame,
               topN: Option[Int] = None, ascending: Boolean = false): DataFrame = {
    Validation.requireVarsCover(stats.select("feature_id"), vars)
    val joined = stats.join(lfc, Seq("feature_id", "grp"))
      .join(broadcast(vars), Seq("feature_id"))
      .withColumn("abs_logfoldchange", abs(col("logfoldchange")))
    val named = joined.select(col("grp"), col("gene_name").as("gene"), col("U"),
      col("p_value"), col("p_adjusted"), col("logfoldchange"),
      col("abs_logfoldchange"), col("abs_logfoldchange").as("abs_lfc"))
    MarkerTable.topK(named, topN, ascending).drop("abs_lfc")
  }

  /** The full rank_gene_groups_vec pipeline
    * (scratch/rank_gene_groups.py:261-309). */
  def rankGeneGroups(spark: SparkSession, cells: DataFrame,
                     cfg: Pipeline.Config = Pipeline.Config()): DataFrame =
    Pipeline.markerStats(spark, cells, cfg)

  /** Canonical split-relation input (FIXTURES.md §1): fact
    * `cells(obs_id, feature_id, value)` + dimension `obs(obs_id, grp)`.
    * Validates the partition-of-groups invariant (reference
    * _utils.py:47-51) and uniform feature counts in one pre-flight
    * collect, joins the labels onto the fact (the obs table is
    * n_obs-sized — broadcast when it fits, else a shuffle join on
    * obs_id), and runs the pipeline. */
  def rankGeneGroupsFromObs(spark: SparkSession, cells: DataFrame, obs: DataFrame,
                            cfg: Pipeline.Config = Pipeline.Config(),
                            broadcastObs: Boolean = true): DataFrame = {
    Validation.requirePartitionAndUniform(obs, cells)
    val dim = if (broadcastObs) broadcast(obs) else obs
    val joined = cells.join(dim, "obs_id")
      .select(col("grp"), col("feature_id"), col("value"))
    Pipeline.markerStats(spark, joined, cfg)
  }
}
