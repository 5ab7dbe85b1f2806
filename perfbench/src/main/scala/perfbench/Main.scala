package perfbench

import graft.Engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What one measured phase of a workload saw. An op is one unit of the
  * closed loop whose latency is recorded (a day, a pass over the query
  * mix); `begin` counts an attempt (a day, a query), `op` records an
  * op's latency, and `check`/`fail` mark the current attempt failed.
  */
final class Phase {
  val opSecs   = mutable.ArrayBuffer.empty[Double]
  var work     = 0L
  var wallSecs = 0.0
  var attempted = 0L
  var failed    = 0L
  private var lastFailed = -1L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Byte, file and stage counts keyed by per-layer metric name. */
  val counts = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)

  def begin(): Unit = attempted += 1
  def op(secs: Double, work: Long): Unit = { opSecs += secs; this.work += work }
  def fail(msg: String): Unit = {
    if (failures.size < 20) failures += msg
    if (lastFailed != attempted) { failed += 1; lastFailed = attempted }
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def throughput: Double = work / wallSecs

  /** Op and failure counts of both phases (for a traced run's verdict). */
  def +(o: Phase): Phase = {
    val p = new Phase
    p.attempted = attempted + o.attempted
    p.failed = failed + o.failed
    p.failures ++= (failures ++ o.failures).take(20)
    p
  }
}

/** How much work a run measures. */
object Window {
  /** Ops for a run of `seconds`, given what one op nominally takes at
    * this commit on 4 cores: the work is fixed by `--seconds`, so two
    * builds measure exactly the same ops, and a faster program simply
    * measures for less time.
    */
  def ops(seconds: Double, nominalSecs: Double, min: Int = 1): Int =
    math.max(min, math.round(seconds / nominalSecs).toInt)
}

/** A workload: a set-up step the harness repeats, and a closed loop. */
trait Workload {
  /** One whole set-up. Every repetition does the same work, so the
    * median of their times covers all of it.
    */
  def setupOnce(): Unit
  /** Runs a closed loop of ops sized to `seconds`, traced through `tracer`. */
  def run(tracer: Tracer, seconds: Double): Phase
  /** Untimed work after the measured phases (writing outputs for checks). */
  def finish(phase: Phase): Unit = ()
}

/** Entry point of the benchmark JVM.
  *
  * {{{
  * Main --workload backfill|query_mix --seed N --seconds S --trace 0|1
  *      --work DIR --tables DIR --out FILE --report FILE
  * }}}
  *
  * Builds the session the program ships (`Engine.session`), repeats the
  * workload's whole set-up `SetupReps` times, then measures. An
  * untraced run measures one phase sized to `seconds`. A traced run
  * measures an untraced phase and then a traced one of the same ops,
  * and reports the gap between their op p50s as the tracing overhead.
  * Results go to `--out` as JSON, the traced report to `--report`.
  */
object Main {
  val SetupReps = 3
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed     = opt("seed").toLong
    val seconds  = opt("seconds").toDouble
    val traced   = opt("trace") == "1"
    val work     = Files.createDirectories(Paths.get(opt("work")))

    val t0 = System.nanoTime()
    def mark(what: String): Unit = System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = Engine.session(Cores)
    mark("session ready")
    val result =
      try {
        val w: Workload = workload match {
          case "backfill"  => new Backfill(spark, work, seed)
          case "query_mix" => new QueryMix(spark, opt("tables"), work.resolve("out"), seed)
          case other       => throw new IllegalArgumentException(s"unknown workload $other")
        }
        val setups = (1 to SetupReps).map { _ =>
          val t = System.nanoTime(); w.setupOnce(); (System.nanoTime() - t) / 1e9
        }
        mark(s"set-up done (${setups.map(s => f"$s%.2f").mkString(", ")} s)")
        if (!traced) {
          val p = w.run(new Tracer(spark, enabled = false), seconds)
          mark(s"measured (${p.opSecs.map(s => f"$s%.2f").mkString(", ")} s)")
          w.finish(p)
          mark("finished")
          Report.endToEnd(Stats.median(setups), p)
        } else {
          val plain  = w.run(new Tracer(spark, enabled = false), seconds)
          val tracer = new Tracer(spark, enabled = true)
          val phase  = w.run(tracer, seconds)
          val trace  = tracer.finish()
          w.finish(phase)
          val untraced = (Stats.median(plain.opSecs.toSeq), s"untraced phase of this run, ${plain.opSecs.size} ops")
          val r = Report.perLayer(workload, untraced, plain + phase, phase, trace)
          Files.write(Paths.get(opt("report")), r.text.getBytes(UTF_8))
          r
        }
      } finally spark.stop()
    Files.write(Paths.get(opt("out")), result.json.getBytes(UTF_8))
    mark("stopped")
  }

  /** Heap still reachable at the end of the run, in MB: the least heap
    * in use over five full collections. It is what the program keeps
    * (caches, listeners, state) once the work is done, and steadier than
    * resident set size, which follows the collector's growth policy.
    */
  def retainedHeapMb: Double = {
    val rt = Runtime.getRuntime
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }
}
