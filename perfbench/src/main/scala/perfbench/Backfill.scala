package perfbench

import graft.pipeline.{Pipeline, Stages}
import graft.sources.Warehouse
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** `backfill`: the paper's own system. Each op is one run date of
  * `Pipeline.backfill` into a warehouse that starts empty, over seeded
  * landing JSON; a phase keeps going day after day, so history grows
  * the way it does in production.
  *
  * Untraced, a day is `Pipeline.backfill(day, day, freshLoad = first)`.
  * Traced, the day calls the eight `Stages.*` in `Pipeline.run`'s
  * order, each in its own span, which is the same work split where the
  * stages meet.
  */
final class Backfill(spark: SparkSession, work: Path, seed: Long) extends Workload {
  /** A day's nominal seconds for sizing a run (warm, day 0 costs about
    * 7 s and day 1 about 15 s).
    */
  private val NominalDaySecs = 10.0
  private val landing = new Landing(work.resolve("landing"), seed, scholarPerDay = 20, arxivPerDay = 200, nytPerDay = 300)
  private val firstDay = LocalDate.of(2022, 12, 1)
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Model snapshots per landed day: (arxiv id → kept version, NYT ids, articles). */
  private val models = scala.collection.mutable.ArrayBuffer.empty[(Map[String, String], Int, Long)]

  private def ensureLanded(day: Int): Unit =
    while (models.size <= day) {
      landing.landDay(firstDay.plusDays(models.size.toLong))
      models += ((landing.arxivModel.toMap, landing.nytIds.size, landing.articles))
    }

  private var phases = 0
  private def freshWarehouse(): Warehouse = {
    phases += 1
    new Warehouse(spark, work.resolve(s"warehouse-$phases").toString)
  }

  private def pipeline(wh: Warehouse): Pipeline =
    new Pipeline(spark, wh, landing.scholarDir.toString, landing.arxivDir.toString, landing.nytDir.toString)

  private def stageCalls(wh: Warehouse, rd: String): Seq[(String, () => Either[String, Long])] = {
    val (s, a, n) = (landing.scholarDir.toString, landing.arxivDir.toString, landing.nytDir.toString)
    Seq(
      () => Stages.bronzeScholar(spark, wh, s, rd),
      () => Stages.bronzeArxiv(spark, wh, a, rd),
      () => Stages.bronzeNyt(spark, wh, n, rd),
      () => Stages.silverScholar(spark, wh),
      () => Stages.silverArxiv(spark, wh),
      () => Stages.silverNyt(spark, wh),
      () => Stages.goldWords(spark, wh),
      () => Stages.goldScored(spark, wh)).zip(Report.Stages).map(_.swap)
  }

  /** Runs day `i` into `wh`; returns the skipped stages. */
  private def runDay(wh: Warehouse, i: Int, tracer: Tracer, phase: Phase): Seq[String] = {
    val rd = firstDay.plusDays(i.toLong).format(fmt)
    if (!tracer.enabled)
      pipeline(wh).backfill(rd, rd, freshLoad = i == 0).flatMap(_._2.skipped.map(_._1))
    else
      stageCalls(wh, rd).flatMap { case (name, call) =>
        val before = Disk.bytes(work.resolve(s"warehouse-$phases"))
        val r = tracer.span("pipeline", name)(call())
        phase.counts(s"pipeline.$name") += Disk.bytes(work.resolve(s"warehouse-$phases")) - before
        r.left.toOption.map(_ => name)
      }
  }

  /** Output checks after day `i` (untimed). */
  private def check(wh: Warehouse, i: Int, skipped: Seq[String], phase: Phase): Unit = {
    val (arxiv, nytIds, _) = models(i)
    phase.check(skipped.isEmpty, s"day $i skipped stages: ${skipped.mkString(",")}")
    val silverArxiv = wh.table("silver", "arxiv").select(col("id"), col("version")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    phase.check(silverArxiv == arxiv,
      s"day $i silver.arxiv differs from the model (${silverArxiv.size} vs ${arxiv.size} ids, " +
        s"${arxiv.count { case (k, v) => !silverArxiv.get(k).contains(v) }} wrong)")
    val nyt = wh.table("silver", "nytarchive")
      .selectExpr("count(*)", "count(distinct id)", "count(distinct nyt_sk)").head()
    val nytRows = nyt.getLong(0)
    phase.check(nytRows == nytIds && nyt.getLong(1) == nytIds && nyt.getLong(2) == nytIds,
      s"day $i silver.nytarchive has $nytRows rows, ${nyt.getLong(1)} ids, ${nyt.getLong(2)} keys; " +
        s"$nytIds distinct ids landed")
    val silverRows = silverArxiv.size + nytRows + wh.table("silver", "google_scholar").count()
    val gold = wh.table("gold", "combined_pre_nlp").count()
    phase.check(gold == silverRows, s"day $i gold.combined_pre_nlp has $gold rows, silver tables $silverRows")
  }

  /** One set-up repetition: lands day 0 if it is not yet landed and
    * runs the whole day, as the untraced loop does, into a throwaway
    * warehouse, so the measured days start warm.
    */
  def setupOnce(): Unit = {
    ensureLanded(0)
    val rd = firstDay.format(fmt)
    pipeline(freshWarehouse()).backfill(rd, rd, freshLoad = true)
  }

  def run(tracer: Tracer, seconds: Double): Phase = {
    val phase = new Phase
    val wh    = freshWarehouse()
    val t0    = System.nanoTime()
    (0 until Window.ops(seconds, NominalDaySecs, min = 2)).foreach { i =>
      ensureLanded(i)
      phase.begin()
      val start = System.nanoTime()
      val skipped =
        try Some(tracer.span("op", "day")(runDay(wh, i, tracer, phase)))
        catch { case e: Exception => phase.fail(s"day $i threw $e"); None }
      val secs = (System.nanoTime() - start) / 1e9
      skipped.foreach { s =>
        phase.counts("pipeline.skipped") += s.size
        phase.op(secs, work = models(i)._3 - (if (i == 0) 0L else models(i - 1)._3))
        try check(wh, i, s, phase)
        catch { case e: Exception => phase.fail(s"day $i check threw $e") }
      }
    }
    phase.wallSecs = (System.nanoTime() - t0) / 1e9
    phase.counts("sources.ledger_files") = Disk.files(work.resolve(s"warehouse-$phases").resolve("_ops").resolve("ledger"))
    phase.counts("sources.bytes_on_disk") = Disk.bytes(work.resolve(s"warehouse-$phases"))
    phase
  }
}

/** File-system sizes under a directory (0 when it is missing). */
object Disk {
  private def walk(p: Path)(f: Path => Long): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach(q => if (Files.isRegularFile(q)) n += f(q))
        n
      } finally s.close()
    }
  def bytes(p: Path): Long = walk(p)(Files.size)
  /** Data files, leaving out hidden checksum and marker files. */
  def files(p: Path): Long = walk(p) { q =>
    val n = q.getFileName.toString
    if (n.startsWith(".") || n.startsWith("_")) 0L else 1L
  }
}
