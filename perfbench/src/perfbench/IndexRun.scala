package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The stored-index workload: a steady-size live corpus in the three
  * stored indexes (sparse postings, near-duplicate bands, IVF-PQ codes).
  * One cycle appends a micro-batch to all three, serves once from each,
  * deletes an equal micro-batch from all three, serves again, and
  * compacts all three. */
object IndexRun {
  import Main._
  import Workloads._

  val Verbs = Seq("append", "delete", "compact", "serve")

  /** Runs cycles while `more` holds; returns per-cycle seconds of the
    * cycles whose ops all succeeded, and the last serve's rows. With
    * `serveAfterAppend = false` a cycle serves only after the delete. */
  def cycles(st: IndexState, r: Runner, more: Int => Boolean,
             diskSamples: mutable.ArrayBuffer[Seq[(String, Double)]],
             serveAfterAppend: Boolean = true): (Seq[Double], Seq[Double], Option[(Seq[Seq[String]], r.Op)]) = {
    val cyc = mutable.ArrayBuffer.empty[Double]
    val batch = mutable.ArrayBuffer.empty[Double]
    var last: Option[(Seq[Seq[String]], r.Op)] = None
    var i = 0
    while (more(i)) {
      val before = r.ops.size
      val t0 = System.nanoTime()
      val ap = r.op("append")(st.append(r.tr))
      val s1 = if (serveAfterAppend) r.op("serve")(st.serve(r.tr)) else None
      val de = r.op("delete")(st.delete(r.tr))
      val s2 = r.op("serve")(st.serve(r.tr))
      diskSamples += st.diskBytesPerLiveRow
      r.op("compact")(st.compact(r.tr))
      val dt = (System.nanoTime() - t0) / 1e9
      // a serve that returns nothing from an index fails its check
      Seq(s1, s2).flatten.foreach { case (rows, o) =>
        val empty = Indexes.zip(rows).collect { case (n, rs) if rs.isEmpty => n }
        if (empty.nonEmpty) {
          o.ok = false
          System.err.println(s"check failed: serve of cycle $i returned no rows from ${empty.mkString(", ")} " +
            s"(live docs [${st.lo}, ${st.hi}))")
        }
      }
      if (s2.isDefined) last = s2
      if (r.ops.size - before == (if (serveAfterAppend) 5 else 4) && r.ops.drop(before).forall(_.ok)) {
        cyc += dt
        batch += Seq(ap, de).flatten.map(x => r.tr.seconds(x._2.span)).sum
      }
      i += 1
    }
    (cyc.toSeq, batch.toSeq, last)
  }

  /** One set-up: generate a corpus of `c.n0` live docs from id `lo`,
    * build the three indexes over it and serve once from each (the
    * warm-up). Returns the state, the serve's rows and the seconds. */
  def setup(spark: SparkSession, c: Corpus, dir: String, lo: Long,
            tr: Trace): (IndexState, Seq[Seq[String]], Double) = {
    val t0 = System.nanoTime()
    val st = new IndexState(spark, c, dir)
    st.lo = lo; st.hi = lo + c.n0
    st.build()
    val served = st.serve(tr)
    (st, served, (System.nanoTime() - t0) / 1e9)
  }

  /** The final serve must equal a serve from the three indexes built from
    * scratch over the surviving docs. Checked once per run, outside the
    * timed window; the rebuild is one more set-up, and its seconds are
    * returned with the diverging indexes. */
  def rebuildCheck(spark: SparkSession, st: IndexState, dir: String, served: Seq[Seq[String]],
                   tr: Trace): (Seq[String], Double) = {
    val (_, want, setupS) = setup(spark, st.c, dir, st.lo, tr)
    (Indexes.zip(served.zip(want)).collect { case (n, (got, exp)) if got != exp =>
      s"$n: lifecycle serve (${got.size} rows) != rebuild serve (${exp.size} rows); " +
        s"first differing: ${got.diff(exp).take(2).mkString("; ")} / ${exp.diff(got).take(2).mkString("; ")}"
    }, setupS)
  }

  /** Verb metrics from the traced spans opened at or after span id `from`. */
  def verbMetrics(tr: Trace, from: Int, disk: Seq[Seq[(String, Double)]], note: String): Seq[Metric] = {
    tr.drain()
    val spans = tr.allSpans.filter(s => s.traced && s.id >= from)
    Indexes.flatMap { x =>
      Verbs.flatMap { v =>
        val ss = spans.filter(_.name == s"$x.$v")
        Seq(Metric(s"$x.$v.s", median(ss.map(tr.seconds)), "s", ss.size, note = note),
          Metric(s"$x.$v.jobs", median(ss.map(s => tr.counters(s).jobs.toDouble)), "count", ss.size, note = note))
      } :+ {
        val d = disk.flatMap(_.filter(_._1 == x).map(_._2))
        Metric(s"$x.disk_bytes_per_live_row", median(d), "B", d.size, note = note)
      }
    }
  }

  /** Index layer metrics from one cycle on a small side corpus, for the
    * traced runs of the marker workloads (so every traced run reports
    * every layer). The cycle serves once, after the delete. Its ops count
    * in `r`; the rebuild check is left to [[run]], as it would push a
    * traced run past its time limit. */
  def sideLayers(spark: SparkSession, a: Args, r: Runner): Seq[Metric] = {
    val st = new IndexState(spark, Corpus(a.seed, n0 = 300, batch = 30, parts = a.cpus), s"${a.dir}/side_idx")
    st.build()
    val disk = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val from = r.tr.allSpans.size
    cycles(st, r, _ < 1, disk, serveAfterAppend = false)
    verbMetrics(r.tr, from, disk.toSeq, " [side corpus]")
  }

  def run(spark: SparkSession, a: Args, r: Runner, c: Corpus): (Seq[Metric], Seq[Metric], Boolean) = {
    println(s"input docs=${c.n0} batch=${c.batch} vocabulary=${Gen.VocabSize} words_per_doc=48 " +
      s"labels=${Gen.nLabels} dim=64")
    // two set-ups: one here, the other is the rebuild the output check
    // makes after the timed window
    val (st, _, setup1) = setup(spark, c, s"${a.dir}/idx", 0L, r.tr)
    val disk = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val layers = mutable.ArrayBuffer.empty[Metric]
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    val (cyc, batch, last) = if (!a.trace) cycles(st, r, i => i == 0 || System.nanoTime() < end, disk)
    else {
      // listener overhead A/B over untraced and traced serves, then
      // verb metrics from one traced cycle
      val (untraced, traced) = r.tr.aba(r.op("serve")(st.serve(r.tr)).map(x => r.tr.seconds(x._2.span)))
      val from = r.tr.allSpans.size
      val (cyc, _, last) = cycles(st, r, _ < 1, disk)
      val verbSpans = r.tr.allSpans.filter(s => s.id >= from && Indexes.exists(x => s.name.startsWith(x + ".")))
      val tracedVerbS = verbSpans.map(r.tr.seconds).sum / math.max(1, cyc.size)
      layers ++= verbMetrics(r.tr, from, disk.toSeq, "")
      layers += Metric("trace.overhead", mean(traced) / mean(untraced), "1", math.min(traced.size, untraced.size))
      layers += Metric("trace.coverage", tracedVerbS / median(cyc), "1", cyc.size)
      layers ++= MwuRun.sideLayers(spark, a, r.tr)
      (cyc, Seq.empty[Double], last)
    }

    var correct = true
    var setupS = Seq(setup1)
    last match {
      case Some((served, op)) =>
        val tc = System.nanoTime()
        val (d, rebuildS) = rebuildCheck(spark, st, s"${a.dir}/rebuild", served, r.tr)
        if (!a.trace) setupS :+= rebuildS
        if (d.nonEmpty) {
          op.ok = false
          d.foreach(x => System.err.println("check failed: " + x))
        }
        println(f"check: final serve vs rebuild over ${st.hi - st.lo} live docs in ${(System.nanoTime() - tc) / 1e9}%.2f s")
      case None => correct = false
    }
    correct &&= r.failed == 0

    val serve = r.seconds("serve")
    val compact = r.seconds("compact")
    val e2e = Seq(
      Metric("op_s", median(serve), "s", serve.size),
      Metric("op_cpu_s", median(r.cpuSeconds("serve")), "s", serve.size),
      Metric("cycle_s", median(cyc), "s", cyc.size, json = false),
      Metric("setup_s", median(setupS), "s", setupS.size))
    layers += Metric("peak_task_mem_mb", r.peakTaskMemMb, "MB", r.ops.size)
    val info = Seq(
      Metric("crud_batch_s", median(batch), "s", batch.size),
      Metric("serve_s", median(serve), "s", serve.size),
      Metric("compact_s", median(compact), "s", compact.size),
      Metric("fail_ratio", r.failed.toDouble / math.max(1, r.attempted), "1", r.attempted))
    if (!a.trace) info.foreach(_.show())
    (e2e, layers.toSeq, correct)
  }
}
