package perfbench

import graft.api.MwuApi
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The operations each workload times, all through public library
  * functions, plus the layer-by-layer decompositions of the traced run. */
object Workloads {

  val TopN = 25

  // ---------------------------------------------------------------- MWU

  final case class MwuInputs(m: Gen.Matrix, cells: String, obs: String)

  /** An output row; a null double reads as NaN. */
  def toMarker(r: Row): Reference.Marker = {
    def d(c: String) = { val i = r.fieldIndex(c); if (r.isNullAt(i)) Double.NaN else r.getDouble(i) }
    Reference.Marker(r.getAs[String]("grp"), r.getAs[Long]("gene"), d("U"), d("p_value"),
      d("p_adjusted"), d("logfoldchange"), r.getAs[Long]("rk"))
  }

  /** One marker query: `rankGeneGroupsFromObs` with every output row
    * evaluated and brought back for the check. */
  def markers(spark: SparkSession, in: MwuInputs, cfg: Pipeline.Config): Seq[Reference.Marker] =
    markersRun(spark, in, cfg)._1

  /** [[markers]], also returning the evaluated frame (for its plan). */
  def markersRun(spark: SparkSession, in: MwuInputs,
                 cfg: Pipeline.Config): (Seq[Reference.Marker], DataFrame) = {
    val df = markersFrame(spark, in, cfg)
    (df.collect().toSeq.map(toMarker), df)
  }

  def markersFrame(spark: SparkSession, in: MwuInputs, cfg: Pipeline.Config): DataFrame =
    MwuApi.rankGeneGroupsFromObs(spark, spark.read.parquet(in.cells),
      spark.read.parquet(in.obs), cfg.copy(topN = Some(TopN)))

  def evalRows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Exchanges in a query's executed (final adaptive) plan, counted
    * through query stages and subqueries. */
  def exchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange._
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case e: Exchange => 1 + e.children.map(count).sum + subq(e)
      case other => other.children.map(count).sum + subq(other)
    }
    def subq(p: SparkPlan): Int = p.subqueries.map(count).sum
    count(df.queryExecution.executedPlan)
  }

  def planningMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(p => p.durationMs.toDouble).sum

  /** Layer-by-layer decomposition of one marker query. Each layer runs
    * on its own from materialized (parquet) inputs inside its own span.
    * Returns the per-layer metrics and the summed seconds of the layers a
    * marker query runs end to end. */
  def mwuLayers(spark: SparkSession, tr: Trace, in: MwuInputs,
                dir: String): (Seq[(String, Double, String)], Double) = {
    val out = Seq.newBuilder[(String, Double, String)]
    def mb(b: Long) = b / 1048576.0
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val obs = spark.read.parquet(in.obs)
    val rawCells = spark.read.parquet(in.cells)
    val cells = stage(rawCells.join(broadcast(obs), "obs_id")
      .select(col("grp"), col("feature_id"), col("value")), "joined")
    val nCells = in.m.nCells.toDouble

    val (_, sVal) = tr.span("Validation") {
      Validation.requirePartition(obs); Validation.requireUniformFeatures(rawCells)
    }
    val (_, sRank) = tr.span("Ranking.withRanks")(evalRows(Ranking.withRanks(cells)))
    val ranked = stage(Ranking.withRanks(cells), "ranked")
    val (_, sTie) = tr.span("MwuAgg.tieTerm")(evalRows(MwuAgg.tieTerm(cells)))
    val tie = stage(MwuAgg.tieTerm(cells), "tie")
    val (_, sRs) = tr.span("MwuAgg.rankSums")(evalRows(MwuAgg.rankSums(ranked)))
    val rs = stage(MwuAgg.rankSums(ranked), "ranksums")
    val (_, sRsa) = tr.span("MwuAgg.rankSumsAgg")(evalRows(MwuAgg.rankSumsAgg(cells)))
    val (_, sMeans) = tr.span("LogFold.groupMeans")(evalRows(LogFold.groupMeans(cells)))
    val means = stage(LogFold.groupMeans(cells), "means")
    def stats = MwuStats.withBH(MwuStats.withP(MwuStats.withZ(MwuStats.withU(rs), tie)))
    val (_, sStats) = tr.span("MwuStats")(evalRows(stats))
    val joined = stage(stats.join(LogFold.withLfc(means).select("feature_id", "grp", "lfc", "abs_lfc"),
        Seq("feature_id", "grp"))
      .select(col("grp"), col("feature_id").as("gene"), col("u1").as("U"), col("p").as("p_value"),
        col("p_adj").as("p_adjusted"), col("lfc").as("logfoldchange"), col("abs_lfc")), "joined_stats")
    val (_, sTop) = tr.span("MarkerTable.topK")(evalRows(MarkerTable.topK(joined, Some(TopN))))

    val ck = s"$dir/rank_ckpt"
    val (_, sW) = tr.span("Pipeline.rankedCells.write") {
      Pipeline.rankedCells(spark, cells, Pipeline.Config(checkpointDir = Some(ck), recomputeRanks = true))
    }
    val (_, sR) = tr.span("Pipeline.rankedCells.read") {
      evalRows(Pipeline.rankedCells(spark, cells, Pipeline.Config(checkpointDir = Some(ck))))
    }
    val (distinctFv, cubeRows) = Gen.distinctCounts(in.m)
    tr.drain()

    def layer(name: String, s: tr.Span, extra: Seq[(String, Double, String)] = Nil): Unit = {
      out += ((s"$name.s", tr.seconds(s), "s"))
      extra.foreach(out += _)
    }
    val cRank = tr.counters(sRank)
    val sortedTasks = cRank.taskMs.sorted
    layer("Ranking.withRanks", sRank, Seq(
      ("Ranking.withRanks.max_task_s", sortedTasks.lastOption.getOrElse(0L) / 1000.0, "s"),
      ("Ranking.withRanks.median_task_s",
        if (sortedTasks.isEmpty) 0.0 else sortedTasks(sortedTasks.size / 2) / 1000.0, "s"),
      ("Ranking.withRanks.shuffle_write_mb", mb(cRank.shuffleWrite), "MB"),
      ("Ranking.withRanks.spill_mb", mb(cRank.spill), "MB")))
    layer("MwuAgg.tieTerm", sTie, Seq(
      ("MwuAgg.tieTerm.shuffle_write_mb", mb(tr.counters(sTie).shuffleWrite), "MB"),
      ("MwuAgg.tieTerm.distinct_per_cell", distinctFv / nCells, "1")))
    layer("MwuAgg.rankSums", sRs)
    layer("MwuAgg.rankSumsAgg", sRsa, Seq(("MwuAgg.rankSumsAgg.cube_rows_per_cell", cubeRows / nCells, "1")))
    layer("Validation", sVal)
    layer("LogFold.groupMeans", sMeans)
    layer("MwuStats", sStats)
    layer("MarkerTable.topK", sTop)
    out += (("Pipeline.rankedCells.write_s", tr.seconds(sW), "s"))
    out += (("Pipeline.rankedCells.write_mb", mb(dirBytes(ck)), "MB"))
    out += (("Pipeline.rankedCells.read_s", tr.seconds(sR), "s"))
    // the checkpoint and the per-value rank-sum alternative are not on a
    // marker query's path
    (out.result(), Seq(sVal, sRank, sTie, sRs, sMeans, sStats, sTop).map(tr.seconds).sum)
  }

  /** Whole-op counters of one traced marker query. */
  def mwuOpCounters(spark: SparkSession, tr: Trace, in: MwuInputs,
                    cfg: Pipeline.Config): Seq[(String, Double, String)] = {
    var df: DataFrame = null
    val (_, s) = tr.span("op") { df = markersFrame(spark, in, cfg); evalRows(df) }
    opCounters(tr)(s, df)
  }

  /** Whole-op counters of the marker query `df` run in span `s`. */
  def opCounters(tr: Trace)(s: tr.Span, df: DataFrame): Seq[(String, Double, String)] = {
    tr.drain()
    val c = tr.counters(s)
    Seq(("op.jobs", c.jobs.toDouble, "count"), ("op.stages", c.stages.toDouble, "count"),
      ("op.tasks", c.tasks.toDouble, "count"), ("op.exchanges", exchanges(df).toDouble, "count"),
      ("op.shuffle_write_mb", c.shuffleWrite / 1048576.0, "MB"),
      ("op.shuffle_read_mb", c.shuffleRead / 1048576.0, "MB"),
      ("op.spill_mb", c.spill / 1048576.0, "MB"), ("op.gc_s", c.gcMs / 1000.0, "s"),
      ("op.planning_ms", planningMs(df), "ms"),
      ("op.max_task_s", c.taskMs.maxOption.getOrElse(0L) / 1000.0, "s"))
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  // ------------------------------------------------------ stored indexes

  final case class Corpus(seed: Long, n0: Int, batch: Int, parts: Int)

  val Indexes = Seq("SparseIndex", "NearDupIndex", "Pq")

  /** The three stored indexes over one live id range [lo, hi), which
    * moves forward as batches are appended at hi and deleted at lo. */
  final class IndexState(spark: SparkSession, val c: Corpus, val dir: String) {
    var lo = 0L
    var hi: Long = c.n0.toLong
    def sparse = s"$dir/sparse"; def neardup = s"$dir/neardup"; def pq = s"$dir/pq"
    def docs(a: Long, b: Long): DataFrame = Gen.docs(spark, c.seed, a, b, c.parts)
    def emb(a: Long, b: Long): DataFrame = Gen.embeddings(spark, c.seed, a, b, c.parts)
    /** Near-copies of live docs, ids outside the corpus, served against
      * the near-duplicate index. */
    def probeShard: DataFrame = {
      import spark.implicits._
      val seed = c.seed; val (a, b) = (lo, hi)
      spark.range(0L, c.batch.toLong, 1L, 1).map { i =>
        val src = a + (Gen.mix(seed + i * 7919L + b) & Long.MaxValue) % (b - a)
        val t = Gen.docText(seed, src).split(" ")
        (1000000000L + i, t.updated((i % t.length).toInt, "zz").mkString(" "))
      }.toDF("doc_id", "text")
    }

    def build(): Unit = {
      SparseIndex.writeSparseIndex(docs(lo, hi), sparse)
      NearDupIndex.writeNearDupIndex(docs(lo, hi), neardup)
      Pq.writeIvfPqIndex(emb(lo, hi), pq)
    }

    def append(tr: Trace): Unit = {
      val (a, b) = (hi, hi + c.batch)
      tr.span("SparseIndex.append")(SparseIndex.appendSparseIndex(docs(a, b), sparse))
      tr.span("NearDupIndex.append")(NearDupIndex.appendNearDupIndex(docs(a, b), neardup))
      tr.span("Pq.append")(Pq.appendIvfPqIndex(emb(a, b), pq))
      hi = b
    }

    def delete(tr: Trace): Unit = {
      val (a, b) = (lo, lo + c.batch)
      tr.span("SparseIndex.delete")(SparseIndex.deleteFromSparseIndex(docs(a, b), sparse))
      tr.span("NearDupIndex.delete") {
        // the delete contract names only ids the index holds rows for
        NearDupIndex.deleteFromNearDupIndex(
          spark.range(a, b).toDF("doc_id").join(NearDupIndex.indexedIds(spark, neardup), "doc_id"),
          neardup)
      }
      tr.span("Pq.delete")(Pq.deleteFromIvfPqIndex(emb(a, b), pq))
      lo = b
    }

    def compact(tr: Trace): Unit = {
      tr.span("SparseIndex.compact")(SparseIndex.compactSparseIndex(spark, sparse))
      tr.span("NearDupIndex.compact")(NearDupIndex.compactNearDupIndex(spark, neardup))
      tr.span("Pq.compact")(Pq.compactIvfPqIndex(spark, pq))
    }

    /** One serve from each index; rows rendered as strings. */
    def serve(tr: Trace): Seq[Seq[String]] = Seq(
      tr.span("SparseIndex.serve")(rows(SparseIndex.sparseRetrievalStored(spark, sparse, queryEvery = 25)))._1,
      tr.span("NearDupIndex.serve")(rows(NearDupIndex.serveNearDup(spark, neardup, probeShard)))._1,
      tr.span("Pq.serve")(rows(Pq.ivfAdcTopKStored(emb(lo, hi), pq, queryEvery = 25)))._1)

    def diskBytesPerLiveRow: Seq[(String, Double)] = {
      val live = (hi - lo).toDouble
      Seq("SparseIndex" -> sparse, "NearDupIndex" -> neardup, "Pq" -> pq)
        .map { case (n, d) => n -> dirBytes(d) / live }
    }
  }

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
}
