package perfbench

import org.apache.commons.math3.special.Erf

/** Independent plain-Scala reference of the marker pipeline, written from
  * the reference semantics (scipy `rankdata(method='average')`, two-sided
  * normal-approximation Mann–Whitney U with tie and continuity
  * correction, Benjamini–Hochberg, log2 fold change with eps 1e-9, top-k
  * by |lfc| with a `gene` tie-break). It reads the matrix straight from
  * the generator and shares no code with the library. */
object Reference {

  final case class Marker(grp: String, gene: Long, u: Double, p: Double,
                          pAdj: Double, lfc: Double, rk: Long)

  /** Average ranks (1-based) and the tie term Σ(t³ − t) of one column. */
  def rankAverage(v: Array[Double]): (Array[Double], Long) = {
    val n = v.length
    val order = (0 until n).toArray.sortWith((a, b) => v(a) < v(b))
    val ranks = new Array[Double](n)
    var tie = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && v(order(j)) == v(order(i))) j += 1
      val avg = (i + 1 + j) / 2.0
      var k = i
      while (k < j) { ranks(order(k)) = avg; k += 1 }
      val t = (j - i).toLong
      tie += t * t * t - t
      i = j
    }
    (ranks, tie)
  }

  /** Two-sided p of one group vs the rest. Returns (U1, p). */
  def mwu(rankSum: Double, n1: Long, n: Long, tie: Long): (Double, Double) = {
    val n2 = n - n1
    val u1 = rankSum - n1 * (n1 + 1) / 2.0
    val u = math.max(u1, n1.toDouble * n2 - u1)
    val mu = n1.toDouble * n2 / 2.0
    val sigma = math.sqrt(n1.toDouble * n2 / 12.0 * ((n + 1.0) - tie / (n.toDouble * (n - 1.0))))
    val z = (u - mu - 0.5) / sigma
    (u1, math.min(1.0, Erf.erfc(z / math.sqrt(2.0))))
  }

  /** BH adjusted p values of one group, indexed like `p`. */
  def bh(p: Array[Double]): Array[Double] = {
    val m = p.length
    val order = p.indices.sortBy(i => (p(i), i)).toArray
    val adj = new Array[Double](m)
    var running = Double.PositiveInfinity
    var r = m - 1
    while (r >= 0) {
      val i = order(r)
      running = math.min(running, p(i) * m / (r + 1))
      adj(i) = math.min(1.0, running)
      r -= 1
    }
    adj
  }

  def lfc(mu1: Double, mu2: Double): Double = {
    def log2(x: Double) = math.log(x) / math.log(2.0)
    log2(math.expm1(mu1) + 1e-9) - log2(math.expm1(mu2) + 1e-9)
  }

  /** The per-group top-`topN` marker table of matrix `m`. */
  def markers(m: Gen.Matrix, topN: Int): Seq[Marker] = {
    val nG = m.nGroups
    val grp = Array.tabulate(m.nObs)(m.groupOf)
    val sizes = m.groupSizes.map(_.toLong).toArray
    val n = m.nObs.toLong
    // per group: (gene, U1, p, lfc)
    val perGroup = Array.fill(nG)(new Array[(Double, Double, Double)](m.nFeatures))
    (0 until m.nFeatures).foreach { f =>
      val v = Array.tabulate(m.nObs)(o => m.value(o, f))
      val (ranks, tie) = rankAverage(v)
      val rs = new Array[Double](nG)
      val sum = new Array[Double](nG)
      var o = 0
      while (o < m.nObs) { rs(grp(o)) += ranks(o); sum(grp(o)) += v(o); o += 1 }
      val total = sum.sum
      (0 until nG).foreach { g =>
        val (u1, p) = mwu(rs(g), sizes(g), n, tie)
        val mu1 = sum(g) / sizes(g)
        val mu2 = (total - sum(g)) / (n - sizes(g))
        perGroup(g)(f) = (u1, p, lfc(mu1, mu2))
      }
    }
    (0 until nG).flatMap { g =>
      val rows = perGroup(g)
      val adj = bh(rows.map(_._2))
      val ranked = rows.indices.sortBy(f => (-math.abs(rows(f)._3), f)).take(topN)
      ranked.zipWithIndex.map { case (f, i) =>
        Marker(m.groupName(g), f.toLong, rows(f)._1, rows(f)._2, adj(f), rows(f)._3, i + 1L)
      }
    }
  }

  def close(a: Double, b: Double, rel: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b))) ||
      (math.abs(a) < 1e-290 && math.abs(b) < 1e-290)

  def closeRel(a: Double, b: Double, rel: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) ||
      (math.abs(a) < 1e-290 && math.abs(b) < 1e-290)

  /** Compare an engine marker table with the reference; returns the
    * diverging rows (empty = pass). U must match exactly; p and p_adj to
    * 1e-9 relative; lfc to 1e-9 relative (absolute below 1); top-k rows
    * must agree gene by gene in (grp, rk) order. */
  def diff(engine: Seq[Marker], ref: Seq[Marker], rel: Double = 1e-9): Seq[String] = {
    val e = engine.map(r => (r.grp, r.rk) -> r).toMap
    val bad = ref.flatMap { r =>
      e.get((r.grp, r.rk)) match {
        case None => Some(s"missing row grp=${r.grp} rk=${r.rk} (reference gene ${r.gene})")
        case Some(x) =>
          val ok = x.gene == r.gene && x.u == r.u && closeRel(x.p, r.p, rel) &&
            closeRel(x.pAdj, r.pAdj, rel) && close(x.lfc, r.lfc, rel)
          if (ok) None else Some(s"row differs: engine $x reference $r")
      }
    }
    val extra = if (engine.size > ref.size) Seq(s"engine has ${engine.size} rows, reference ${ref.size}") else Nil
    bad ++ extra
  }
}
