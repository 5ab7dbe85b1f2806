package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** `query_mix`: read-only entries of `SparkEntry.queries` over the
  * tables in `dir`, in a seeded order. Each op builds the query with
  * `fn(spark, dir)` and actions it through the `noop` sink.
  */
final class QueryMix(spark: SparkSession, dir: String, out: Path, seed: Long) extends Workload {
  import QueryMix._

  private val entries = Mix.map { case (q, fam) => (q, fam, SparkEntry.queries(q)) }
  private val rnd = new scala.util.Random(seed)

  /** Builds and actions one query of the mix, each step in its span. */
  private def once(tracer: Tracer, name: String, fam: String, fn: (SparkSession, String) => DataFrame): Unit =
    tracer.span("op", name) {
      val df = tracer.span("query", s"$fam.build")(fn(spark, dir))
      tracer.span("query", s"$fam.exec")(df.write.format("noop").mode("overwrite").save())
    }

  /** One set-up repetition is a pass over the mix in its listed order,
    * the same calls the measured passes make.
    */
  def setupOnce(): Unit = {
    val off = new Tracer(spark, enabled = false)
    entries.foreach { case (q, fam, fn) => once(off, q, fam, fn) }
  }

  /** Whole passes over the mix, each in its own seeded order, so every
    * run weighs every query the same. The end-to-end op is a pass: the
    * median latency of single queries, whose costs differ tenfold, is
    * whichever query sits in the middle, and it moved by 18 % between
    * runs. The traced spans stay one per query.
    */
  def run(tracer: Tracer, seconds: Double): Phase = {
    val phase = new Phase
    val t0 = System.nanoTime()
    (1 to Window.ops(seconds, NominalPassSecs)).foreach { _ =>
      val start = System.nanoTime()
      rnd.shuffle(entries).foreach { case (name, fam, fn) =>
        phase.begin()
        try once(tracer, name, fam, fn)
        catch { case e: Exception => phase.fail(s"$name threw $e") }
      }
      phase.op((System.nanoTime() - start) / 1e9, work = entries.size)
    }
    phase.wallSecs = (System.nanoTime() - t0) / 1e9
    phase
  }

  /** Writes each query's rows and its oracle SQL under `out` for the
    * DuckDB oracle check the harness makes after the JVM exits, and
    * fails the phase if a query of the mix left `Scratch` state (it
    * would not be read-only).
    */
  override def finish(phase: Phase): Unit = {
    entries.foreach { case (q, _, fn) =>
      try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      catch { case e: Exception => phase.fail(s"$q threw $e writing its rows") }
    }
    val oracle = SparkEntry.oracleSql
    val sql = Mix.map { case (q, _) =>
      val s = oracle(q).replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\t", "\\t")
      s""""$q": "$s""""
    }
    Files.write(out.resolve("oracle_sql.json"), sql.mkString("{", ",\n", "}\n").getBytes(UTF_8))
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val scratch = Files.list(tmp)
    try phase.check(!scratch.anyMatch(_.getFileName.toString.startsWith("graft_")),
      "a query of the mix wrote Scratch state")
    finally scratch.close()
  }
}

object QueryMix {
  /** A warm pass's nominal seconds for sizing a run. */
  val NominalPassSecs = 3.5

  /** The measured mix, each query with its family (the `Queries*` file
    * it lives in: `Queries` is `core`, `QueriesRel2` is `rel`). All are
    * read-only: of the 216 entries of `SparkEntry.queries`, 172 neither
    * build a `Warehouse` nor use `Scratch` (q164 and q165 read a
    * `Scratch`-built cluster table, so they are not among them). The mix
    * takes one or two of every family, with the `graft.functions` (q15,
    * q22) and `graft.plans` (q26, q60) paths: one warm pass takes about
    * 4 s on 4 cores, so a run cannot afford all 172.
    */
  val Mix: Seq[(String, String)] = Seq("q15_term_score" -> "core", "q33_asof_join" -> "rel",
    "q22_quality_score" -> "text", "q26_minhash_lsh_pairs" -> "dedup", "q60_tfidf" -> "corpus",
    "q128_c4_gopher_rules" -> "corpus", "q49_approx_distinct" -> "sketch", "q41_frame_sample" -> "media")
}
