package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, observation, feature), so the reference check rebuilds the
  * matrix from these functions without reading anything Spark wrote. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) keyed by (seed, stream, a, b). */
  def u01(seed: Long, stream: Long, a: Long, b: Long): Double = {
    val h = mix(mix(mix(seed * 0x632BE59BD9B4E019L + stream) + a) + b)
    (h >>> 11).toDouble * (1.0 / (1L << 53))
  }

  /** Standard normal by Box–Muller over two keyed uniforms. */
  def normal(seed: Long, stream: Long, a: Long, b: Long): Double = {
    val u1 = 1.0 - u01(seed, stream, a, b)
    val u2 = u01(seed, stream + 1, a, b)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** A matrix of `nObs` observations × `nFeatures` features whose
    * observations fall into `nGroups` groups of uneven size: group g has
    * weight 1 + (skew − 1)·g/(nGroups − 1), so the largest group is
    * `skew` times the smallest. */
  trait Matrix extends Serializable {
    def seed: Long
    def nObs: Int
    def nFeatures: Int
    def nGroups: Int
    def skew: Double
    def value(obs: Int, feature: Int): Double

    lazy val groupEnds: Array[Int] = {
      val w = (0 until nGroups).map(g =>
        1.0 + (skew - 1.0) * g / math.max(1, nGroups - 1))
      val tot = w.sum
      val ends = w.scanLeft(0.0)(_ + _).tail.map(c => math.round(c / tot * nObs).toInt)
      ends.updated(nGroups - 1, nObs).toArray
    }
    def groupOf(obs: Int): Int = {
      var g = 0
      while (obs >= groupEnds(g)) g += 1
      g
    }
    def groupName(g: Int): String = f"g$g%02d"
    def groupSizes: Seq[Int] = groupEnds.indices.map(g =>
      groupEnds(g) - (if (g == 0) 0 else groupEnds(g - 1)))
    def nCells: Long = nObs.toLong * nFeatures
  }

  /** scRNA-seq-like counts: each gene has a zero fraction in
    * [0.75, 0.95]; non-zeros are log1p of small integer counts. Gene f is
    * a marker of group f mod nGroups, where it is non-zero more often and
    * its counts are larger. The per-gene zero fractions are spread evenly
    * over their range and do not depend on the seed: which genes are the
    * densest sets the shuffle-partition loads, and a seed that moved them
    * changed the query time by ~10 %; the seed draws the cells. */
  final case class SingleCell(seed: Long, nObs: Int, nFeatures: Int,
                              nGroups: Int = 12, skew: Double = 10.0) extends Matrix {
    def zeroFrac(f: Int): Double = 0.75 + 0.20 * ((f * 0.6180339887498949) % 1.0)
    def value(obs: Int, f: Int): Double = {
      val marker = groupOf(obs) == f % nGroups
      val pNonZero = (1.0 - zeroFrac(f)) * (if (marker) 2.5 else 1.0)
      if (u01(seed, 2, obs, f) >= pNonZero) 0.0
      else {
        val mean = if (marker) 4.0 else 1.5
        val c = 1 + math.min(60, math.floor(-math.log(1.0 - u01(seed, 3, obs, f)) * mean).toInt)
        math.log1p(c.toDouble)
      }
    }
  }

  /** Continuous positive doubles with essentially no ties: log1p of a
    * log-normal whose location has a small per-(group, feature) shift. */
  final case class Continuous(seed: Long, nObs: Int, nFeatures: Int,
                              nGroups: Int = 4, skew: Double = 4.0) extends Matrix {
    def value(obs: Int, f: Int): Double =
      math.log1p(math.exp(normal(seed, 5, obs, f) + 0.05 * (((groupOf(obs) + f) % nGroups) - 1)))
  }

  /** Long-form inputs: `cells(obs_id, feature_id, value)` and
    * `obs(obs_id, grp)`, written as parquet under `dir`. */
  def writeMatrix(spark: SparkSession, m: Matrix, dir: String, parts: Int): (String, String) = {
    import spark.implicits._
    val nF = m.nFeatures
    val cellsPath = s"$dir/cells"
    val obsPath = s"$dir/obs"
    spark.range(0L, m.nCells, 1L, parts)
      .map { i => val o = (i / nF).toInt; val f = (i % nF).toInt; (o.toLong, f.toLong, m.value(o, f)) }
      .toDF("obs_id", "feature_id", "value")
      .write.mode("overwrite").parquet(cellsPath)
    spark.range(0L, m.nObs.toLong, 1L, parts)
      .map(o => (o, m.groupName(m.groupOf(o.toInt))))
      .toDF("obs_id", "grp")
      .write.mode("overwrite").parquet(obsPath)
    (cellsPath, obsPath)
  }

  /** Input stats printed every run, so a later change can show its
    * inputs did not move: zero fraction, distinct values per feature and
    * group sizes, all from the generator functions. */
  def stats(m: Matrix): String = {
    var zeros = 0L
    val distinct = (0 until m.nFeatures).map { f =>
      val s = new java.util.HashSet[java.lang.Double]()
      var o = 0
      while (o < m.nObs) {
        val v = m.value(o, f)
        if (v == 0.0) zeros += 1
        s.add(v)
        o += 1
      }
      s.size
    }.sorted
    f"cells=${m.nCells} obs=${m.nObs} features=${m.nFeatures} " +
      f"zero_frac=${zeros.toDouble / m.nCells}%.6f " +
      s"distinct_per_feature(min/median/max)=${distinct.head}/${distinct(distinct.size / 2)}/${distinct.last} " +
      s"group_sizes=${m.groupSizes.mkString("[", ",", "]")}"
  }

  /** Distinct (feature, value) and distinct (feature, value, group)
    * pairs of `m`: the rows of the tie term's and of a value-count cube's
    * input, counted from the generator functions. */
  def distinctCounts(m: Matrix): (Long, Long) = {
    var fv = 0L
    var fvg = 0L
    (0 until m.nFeatures).foreach { f =>
      val vs = new java.util.HashSet[java.lang.Double]()
      val vgs = new java.util.HashSet[(Double, Int)]()
      var o = 0
      while (o < m.nObs) {
        val v = m.value(o, f)
        vs.add(v)
        vgs.add((v, m.groupOf(o)))
        o += 1
      }
      fv += vs.size
      fvg += vgs.size
    }
    (fv, fvg)
  }

  // ---- documents and embeddings for the stored-index workload ----

  val VocabSize = 4000

  /** Word w of a seeded vocabulary: 4–8 random lower-case letters. */
  def word(seed: Long, w: Int): String = {
    val len = 4 + (u01(seed, 11, w, 99) * 5).toInt
    new String(Array.tabulate(len)(i => ('a' + (u01(seed, 11, w, i) * 26).toInt).toChar))
  }

  /** Document text: 48 words. Document `id` with `id mod 5 = 4` is a
    * near-copy (3 words replaced) of document `id − 4`, so the
    * near-duplicate index has real matches, and so does every query of
    * the sparse serve (every 25th id): the sparse index's tokens are
    * word 3-grams, which random words share only through copies. The
    * live range starts and ends on multiples of 5, so a live query's copy
    * is live too. A random source doc would leave every query without a
    * match, and the serve empty, on about one seed in ten. */
  def docText(seed: Long, id: Long): String = {
    val src = if (id % 5 == 4) id - 4 else id
    val words = (0 until 48).map(i => word(seed, (u01(seed, 7, src, i) * VocabSize).toInt))
    if (src == id) words.mkString(" ")
    else words.zipWithIndex.map { case (w, i) =>
      if (i % 16 == 3) word(seed, (u01(seed, 8, id, i) * VocabSize).toInt) else w
    }.mkString(" ")
  }

  val nLabels = 16

  /** 64-dim embedding: a label center plus gaussian noise; label is the
    * IVF cell. */
  def embedding(seed: Long, id: Long): (Array[Float], Long) = {
    val label = (mix(seed * 31 + id) & 0x7FFFFFFFL) % nLabels
    val v = Array.tabulate(64)(d =>
      (2.0 * u01(seed, 9, label, d) - 1.0 + 0.3 * normal(seed, 10, id, d)).toFloat)
    (v, label)
  }

  /** Docs `doc_id ∈ [lo, hi)` as (doc_id, text). */
  def docs(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1L, parts).map(id => (id.longValue, docText(seed, id))).toDF("doc_id", "text")
  }

  /** Embeddings `vec_id ∈ [lo, hi)` as (vec_id, embedding, label). */
  def embeddings(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1L, parts).map { id =>
      val (v, l) = embedding(seed, id); (id.longValue, v, l)
    }.toDF("vec_id", "embedding", "label")
  }
}
