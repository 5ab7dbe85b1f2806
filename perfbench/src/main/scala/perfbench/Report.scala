package perfbench

import perfbench.Tracer.{Job, Span, StageStats}

/** A run's result: the metrics JSON for the harness, and for traced
  * runs the per-layer report text.
  */
final case class Result(json: String, text: String)

/** The finished trace of one phase, with the arithmetic over it. */
final case class Trace(spans: Vector[Span], jobs: Vector[Job], stages: Map[Int, StageStats],
    plans: Vector[(Long, Long)], taskFailures: Long, cores: Int) {

  private val children  = spans.groupBy(_.parent)
  private val directJobs = jobs.groupBy(_.span)

  def kids(s: Span): Vector[Span] = children.getOrElse(s.id, Vector.empty)
  def ownJobs(s: Span): Vector[Job] = directJobs.getOrElse(s.id, Vector.empty)
  def subtreeJobs(s: Span): Vector[Job] = ownJobs(s) ++ kids(s).flatMap(subtreeJobs)
  def unattributedJobs: Int = directJobs.getOrElse(-1, Vector.empty).size

  /** Length of the union of `[a, b)` intervals clipped to `s`. */
  private def covered(s: Span, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def jobIv(j: Job) = (j.start, if (j.end < 0) j.start else j.end)

  /** Time inside `s` during which one of its jobs was running. */
  def jobMs(s: Span): Long = covered(s, subtreeJobs(s).map(jobIv))
  /** Time inside `s` with no Spark job of its own running: driver-side work. */
  def noJobMs(s: Span): Long = s.ms - jobMs(s)
  /** Duration minus the time its child spans and own jobs cover. */
  def selfMs(s: Span): Long = s.ms - covered(s, kids(s).map(k => (k.start, k.end)) ++ ownJobs(s).map(jobIv))

  def stageStats(js: Seq[Job]): Seq[StageStats] = js.flatMap(_.stageIds).distinct.flatMap(stages.get)

  def planMs(within: Seq[Span]): Long =
    plans.collect { case (start, dur) if within.exists(s => start >= s.start && start <= s.end) => dur }.sum
}

object Report {
  val Stages = Seq("bronze_scholar", "bronze_arxiv", "bronze_nyt", "silver_scholar", "silver_arxiv",
    "silver_nyt", "gold_words", "gold_scored")
  val Families = Seq("core", "rel", "text", "dedup", "corpus", "sketch", "media")

  /** The per-layer metrics, with their units, in report order. */
  val PerLayer: Seq[(String, String)] =
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_failures" -> "count",
      "plan_s" -> "s", "job_s" -> "s", "no_job_s" -> "s", "executor_run_s" -> "s",
      "executor_cpu_s" -> "s", "gc_s" -> "s", "slot_util" -> "fraction",
      "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
      "input_rows" -> "count", "cpu_ns_per_input_row" -> "ns").map { case (n, u) => s"spark.$n" -> u } ++
      Stages.flatMap(st => Seq(s"pipeline.$st.s" -> "s", s"pipeline.$st.jobs" -> "count",
        s"pipeline.$st.no_job_s" -> "s", s"pipeline.$st.bytes_written" -> "bytes")) ++
      Seq("pipeline.skipped" -> "count", "sources.ledger_files" -> "count", "sources.bytes_on_disk" -> "bytes") ++
      Families.flatMap(f => Seq(s"query.$f.build_s" -> "s", s"query.$f.exec_s" -> "s",
        s"query.$f.jobs" -> "count")) ++
      Seq("backfill.day_s.p50" -> "s", "backfill.day_s.tail" -> "s", "backfill.articles_per_s" -> "1/s",
        "query.latency_s.p50" -> "s", "query.latency_s.tail" -> "s", "query.per_s" -> "1/s")

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def json(phase: Phase, metrics: Seq[(String, Double, String)], extra: Seq[(String, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    val fs = phase.failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'") + "\"")
    (Seq(s""""correct": ${phase.failed == 0}""", s""""attempted": ${phase.attempted}""",
      s""""failed": ${phase.failed}""", s""""metrics": {${ms.mkString(", ")}}""",
      s""""failures": [${fs.mkString(", ")}]""") ++ extra.map { case (k, v) => s""""$k": $v""" })
      .mkString("{", ", ", "}\n")
  }

  /** The untraced run's end-to-end metrics. */
  def endToEnd(setupS: Double, p: Phase): Result = {
    val (tp, tv) = Stats.tail(p.opSecs.toSeq)
    val okFrac = 1.0 - p.failed.toDouble / math.max(1L, p.attempted)
    Result(json(p, Seq(
      ("setup_s", setupS, "s"),
      ("op_latency_s.p50", Stats.median(p.opSecs.toSeq), "s"),
      ("op_latency_s.tail", tv, "s"),
      ("throughput_per_s", p.throughput, "1/s"),
      ("heap_retained_mb", Main.retainedHeapMb, "MB"),
      ("ok_frac", okFrac, "fraction")),
      Seq("tail_percentile" -> num(tp), "samples" -> p.opSecs.size.toString)), "")
  }

  /** The traced run's per-layer metrics and report. `untraced` is the
    * untraced op p50 the overhead is measured against, with where it
    * came from; `all` counts every op of the run for the verdict.
    */
  def perLayer(workload: String, untraced: (Double, String), all: Phase, phase: Phase, t: Trace): Result = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach { case (n, _) => m(n) = 0.0 }
    val ops  = t.spans.filter(_.layer == "op")
    val nOps = math.max(1, ops.size).toDouble
    val opJobs = ops.flatMap(t.subtreeJobs)
    val st = t.stageStats(opJobs)
    val wallMs = ops.map(_.ms).sum.toDouble
    val runMs = st.map(_.runMs).sum.toDouble
    val cpuNs = st.map(_.cpuNs).sum.toDouble
    val rows  = st.map(_.inputRows).sum.toDouble
    m("spark.jobs") = opJobs.size / nOps
    m("spark.stages") = st.size / nOps
    m("spark.tasks") = st.map(_.tasks).sum / nOps
    m("spark.task_failures") = t.taskFailures.toDouble
    m("spark.plan_s") = t.planMs(ops) / 1000.0 / nOps
    m("spark.job_s") = ops.map(t.jobMs).sum / 1000.0 / nOps
    m("spark.no_job_s") = ops.map(t.noJobMs).sum / 1000.0 / nOps
    m("spark.executor_run_s") = runMs / 1000.0 / nOps
    m("spark.executor_cpu_s") = cpuNs / 1e9 / nOps
    m("spark.gc_s") = st.map(_.gcMs).sum / 1000.0 / nOps
    m("spark.slot_util") = if (wallMs > 0) runMs / (wallMs * t.cores) else 0.0
    m("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum / nOps
    m("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum / nOps
    m("spark.spill_bytes") = st.map(_.spill).sum / nOps
    m("spark.input_rows") = rows / nOps
    m("spark.cpu_ns_per_input_row") = if (rows > 0) cpuNs / rows else 0.0

    def calls(layer: String, name: String) = t.spans.filter(s => s.layer == layer && s.name == name)
    Stages.foreach { st =>
      val ss = calls("pipeline", st)
      if (ss.nonEmpty) {
        val n = ss.size.toDouble
        m(s"pipeline.$st.s") = ss.map(_.ms).sum / 1000.0 / n
        m(s"pipeline.$st.jobs") = ss.map(t.subtreeJobs(_).size).sum / n
        m(s"pipeline.$st.no_job_s") = ss.map(t.noJobMs).sum / 1000.0 / n
        m(s"pipeline.$st.bytes_written") = phase.counts(s"pipeline.$st") / n
      }
    }
    m("pipeline.skipped") = phase.counts("pipeline.skipped").toDouble
    m("sources.ledger_files") = phase.counts("sources.ledger_files").toDouble
    m("sources.bytes_on_disk") = phase.counts("sources.bytes_on_disk").toDouble
    Families.foreach { f =>
      val b = calls("query", s"$f.build")
      val e = calls("query", s"$f.exec")
      if (b.nonEmpty) {
        m(s"query.$f.build_s") = b.map(_.ms).sum / 1000.0 / b.size
        m(s"query.$f.exec_s") = e.map(_.ms).sum / 1000.0 / math.max(1, e.size)
        m(s"query.$f.jobs") = (b ++ e).map(t.subtreeJobs(_).size).sum.toDouble / b.size
      }
    }
    // the workload's own end-to-end figures, as the traced phase saw them
    val ps = phase.opSecs.toSeq
    workload match {
      case "backfill" =>
        m("backfill.day_s.p50") = Stats.median(ps)
        m("backfill.day_s.tail") = Stats.tail(ps)._2
        m("backfill.articles_per_s") = phase.throughput
      case _ =>
        val qs = ops.map(_.ms / 1000.0)
        m("query.latency_s.p50") = Stats.median(qs)
        m("query.latency_s.tail") = Stats.tail(qs)._2
        m("query.per_s") = phase.throughput
    }
    val units = PerLayer.toMap
    Result(json(all, m.toSeq.map { case (n, v) => (n, v, units(n)) }, Nil),
      text(workload, untraced, phase, t, m))
  }

  private def text(workload: String, untraced: (Double, String), phase: Phase, t: Trace,
      m: collection.Map[String, Double]): String = {
    val sb = new StringBuilder
    val ops = t.spans.filter(_.layer == "op")
    val (p50u, from) = untraced
    val p50t = Stats.median(phase.opSecs.toSeq)
    sb ++= s"== perfbench traced run: $workload ==\n"
    sb ++= f"tracing overhead: op p50 $p50t%.4f s traced (${phase.opSecs.size} ops) vs $p50u%.4f s untraced " +
      f"($from): ${(p50t / p50u - 1) * 100}%+.1f%%\n"
    sb ++= s"jobs traced: ${t.jobs.size} (${t.unattributedJobs} outside any span: the benchmark's own checks), " +
      s"task failures: ${t.taskFailures}\n\n"
    sb ++= "per layer (totals over the traced phase; self = span time not covered by child spans or own jobs)\n"
    sb ++= f"${"layer"}%-10s ${"spans"}%6s ${"self_s"}%9s ${"jobs"}%6s ${"no_job_s"}%9s ${"executor_s"}%10s\n"
    val layers = Seq("op", "pipeline", "query")
    layers.foreach { l =>
      val ss = t.spans.filter(_.layer == l)
      if (ss.nonEmpty) {
        val own = ss.flatMap(t.ownJobs)
        val exec = t.stageStats(own).map(_.runMs).sum / 1000.0
        sb ++= f"$l%-10s ${ss.size}%6d ${ss.map(t.selfMs).sum / 1000.0}%9.3f ${own.size}%6d " +
          f"${ss.map(t.noJobMs).sum / 1000.0}%9.3f $exec%10.3f\n"
      }
    }
    val jobMs = ops.map(t.jobMs).sum / 1000.0
    sb ++= f"${"spark"}%-10s ${"-"}%6s $jobMs%9.3f ${ops.flatMap(t.subtreeJobs).size}%6d ${"-"}%9s " +
      f"${m("spark.executor_run_s") * ops.size}%10.3f\n\n"
    sb ++= "per op kind (means per op; a query_mix op is named after its query)\n"
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val js = ss.flatMap(t.subtreeJobs)
      sb ++= f"$k%-22s n=${ss.size}%4d s=${ss.map(_.ms).sum / 1000.0 / ss.size}%8.4f jobs=${js.size.toDouble / ss.size}%6.1f " +
        f"no_job_s=${ss.map(t.noJobMs).sum / 1000.0 / ss.size}%8.4f executor_s=${t.stageStats(js).map(_.runMs).sum / 1000.0 / ss.size}%8.4f\n"
    }
    if (workload == "backfill") {
      sb ++= "\nper day (s per stage; growth across days is history cost)\n"
      ops.zipWithIndex.foreach { case (d, i) =>
        val ks = t.kids(d)
        sb ++= f"day $i%-4d ${d.ms / 1000.0}%8.3f  " + ks.map(k => f"${k.name}=${k.ms / 1000.0}%.2f").mkString(" ") + "\n"
      }
    }
    sb ++= "\ntop spans by no_job_s (driver-side time outside any Spark job)\n"
    val calls = t.spans.filter(_.layer != "op").groupBy(s => s"${s.layer}.${s.name}").toSeq
      .map { case (k, ss) => (k, ss.size, ss.map(t.noJobMs).sum / 1000.0, ss.map(_.ms).sum / 1000.0,
        ss.map(t.subtreeJobs(_).size).sum) }
      .sortBy(-_._3)
    calls.take(15).foreach { case (k, n, nj, s, j) =>
      sb ++= f"$k%-28s calls=$n%4d no_job_s=$nj%8.3f of $s%8.3f s (${nj / math.max(s, 1e-9) * 100}%5.1f%%) jobs=$j%5d\n"
    }
    if (workload == "backfill") {
      val byStage = Stages.map(s => (s, m(s"pipeline.$s.s"), m(s"pipeline.$s.no_job_s")))
      val (name, s, nj) = byStage.maxBy(_._2)
      sb ++= f"\nslowest stage: $name%s at $s%.3f s per day, no_job_s share ${nj / math.max(s, 1e-9) * 100}%.1f%%\n"
      sb ++= s"ledger files at the end: ${m("sources.ledger_files").toLong}\n"
    }
    sb ++= "\nper-layer metrics\n"
    m.foreach { case (n, v) => sb ++= f"$n%-34s $v%16.6f\n" }
    sb.toString
  }
}
