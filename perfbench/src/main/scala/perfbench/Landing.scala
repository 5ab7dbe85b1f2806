package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Random

/** Seeded landing-JSON generator in the reference's three source shapes
  * (FIXTURES.md §A), plus the generator-side model the backfill checks
  * compare the warehouse against.
  *
  *  - Scholar: one multiline, Airbyte-wrapped JSON object per file with
  *    at most 20 `organic_results`; snippets with and without the
  *    "N days ago" prefix; every run date also lands an older, stale
  *    file, so discovery has to pick the later timestamp token.
  *  - Arxiv: JSONL of `{"feed": {"entry": [...]}}` lines with unique ids
  *    per batch; later days re-land earlier ids at higher `version`s.
  *  - NYT: JSONL, Airbyte-wrapped, with a `multimedia` array whose
  *    elements carry keys that differ only by case, and some `_id`s
  *    re-landed from earlier days with their original `pub_date`.
  *
  * Everything is written under `root`; the same seed lands the same
  * bytes.
  */
final class Landing(root: Path, seed: Long, val scholarPerDay: Int, val arxivPerDay: Int, val nytPerDay: Int) {
  val scholarDir: Path = Files.createDirectories(root.resolve("scholar"))
  val arxivDir: Path   = Files.createDirectories(root.resolve("arxiv"))
  val nytDir: Path     = Files.createDirectories(root.resolve("nyt"))

  private val rnd = new Random(seed)

  /** Arxiv model: id → version string the silver MERGE must keep. The
    * reference compares versions as strings ("10" < "9"), so does this.
    */
  val arxivModel = mutable.LinkedHashMap.empty[String, String]
  /** Last version landed per arxiv id (may exceed the kept one). */
  private val arxivLanded = mutable.LinkedHashMap.empty[String, Int]
  /** NYT ids landed so far with their pub_date. */
  private val nytLanded = mutable.ArrayBuffer.empty[(String, String)]
  val nytIds = mutable.LinkedHashSet.empty[String]
  var articles = 0L

  private val vocab = Array(
    "climate", "change", "battery", "electricity", "emission", "lithium", "ion", "photovoltaic",
    "renewable", "energy", "solar", "carbon", "innovation", "technology", "clean", "green",
    "megawatt", "polysilicon", "biofuel", "efficiency", "fuel", "tax", "air", "quality", "biogas",
    "the", "and", "of", "to", "in", "is", "for", "on", "with", "as", "by", "at", "an", "be",
    "market", "policy", "grid", "storage", "wind", "turbine", "hydrogen", "research", "study",
    "report", "cost", "price", "plants", "cells", "systems", "networks", "batteries", "panels",
    "farms", "it", "we", "go", "up", "rt", "co", "data", "model", "analysis", "results")

  private def words(n: Int): String = {
    val sb = new StringBuilder
    var i  = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val r = rnd.nextInt(100)
      if (r == 0) sb.append("https://example.org/a/").append(rnd.nextInt(1000))
      else sb.append(vocab(rnd.nextInt(vocab.length)))
      i += 1
    }
    sb.toString
  }

  private def title: String = {
    val t = words(3 + rnd.nextInt(5))
    t.head.toUpper +: t.tail
  }

  private def write(dir: Path, name: String, body: String): Unit =
    Files.write(dir.resolve(name), body.getBytes(UTF_8))

  private val iso = DateTimeFormatter.ISO_LOCAL_DATE

  /** Lands one run date's files for all three sources. */
  def landDay(day: LocalDate): Unit = {
    val us    = day.format(DateTimeFormatter.ofPattern("yyyy_MM_dd"))
    val ds    = day.format(iso)
    val epoch = day.toEpochDay * 86400L
    val token = s"${epoch + 3600}.${100 + rnd.nextInt(900)}"
    val stale = s"${epoch + 60}.${100 + rnd.nextInt(900)}"
    landScholar(day, us, token, stale)
    landArxiv(day, ds, token)
    landNyt(day, us, ds, token)
  }

  private def scholarResult(day: LocalDate, pos: Int, id: String): String = {
    val prefix = if (rnd.nextBoolean()) s"${1 + rnd.nextInt(5)} days ago — " else ""
    s"""      {"position": $pos, "result_id": "$id", "title": "$title",
       |       "link": "https://scholar.example.org/$id", "snippet": "$prefix${words(12 + rnd.nextInt(20))}",
       |       "type": "html",
       |       "publication_info": {"summary": "${words(4)} - ${day.getYear}",
       |         "authors": [{"author_id": "a${rnd.nextInt(5000)}", "link": "https://scholar.example.org/u", "name": "Author ${rnd.nextInt(500)}", "serpapi_scholar_link": "https://serpapi.example.org/a"}]},
       |       "resources": [{"file_format": "PDF", "link": "https://files.example.org/$id.pdf", "title": "example.org"}],
       |       "inline_links": {"cached_page_link": "https://c.example.org/$id", "html_version": "https://h.example.org/$id", "serpapi_cite_link": "https://serpapi.example.org/c/$id"}}""".stripMargin
  }

  private def scholarFile(day: LocalDate, results: Seq[String], searchId: String): String =
    s"""{
       |  "_airbyte_ab_id": "$searchId",
       |  "_airbyte_emitted_at": ${day.toEpochDay * 86400000L},
       |  "_airbyte_data": {
       |    "organic_results": [
       |${results.mkString(",\n")}
       |    ],
       |    "pagination": {"current": 1, "next": "https://serpapi.example.org/next", "other_pages": {"2": "https://serpapi.example.org/2"}},
       |    "search_information": {"organic_results_state": "Results for exact spelling", "query_displayed": "clean technology", "time_taken_displayed": 0.05, "total_results": 18000},
       |    "search_metadata": {"created_at": "${day.format(iso)} 01:00:00 UTC", "id": "$searchId", "status": "Success", "total_time_taken": 1.2},
       |    "search_parameters": {"engine": "google_scholar", "q": "clean technology", "as_ylo": "${day.getYear}", "scisbd": "1", "hl": "en", "num": "20"}
       |  }
       |}""".stripMargin

  private def landScholar(day: LocalDate, us: String, token: String, stale: String): Unit = {
    val fresh = (1 to scholarPerDay).map(j => scholarResult(day, j, s"g${day.toEpochDay}r$j"))
    write(scholarDir, s"${us}_${token}_scholar.json", scholarFile(day, fresh, s"m${day.toEpochDay}"))
    val old = (1 to 3).map(j => scholarResult(day, j, s"stale${day.toEpochDay}r$j"))
    write(scholarDir, s"${us}_${stale}_scholar.json", scholarFile(day, old, s"s${day.toEpochDay}"))
    articles += scholarPerDay
  }

  private def landArxiv(day: LocalDate, ds: String, token: String): Unit = {
    val relandN = if (arxivLanded.isEmpty) 0 else math.min(arxivLanded.size, arxivPerDay / 4)
    val known   = arxivLanded.keys.toIndexedSeq
    val reland  = rnd.shuffle(known).take(relandN)
    val fresh   = (0 until arxivPerDay - relandN).map(j => f"${day.getYear % 100}%02d${day.getMonthValue}%02d.${day.getDayOfMonth}%02d$j%03d")
    val batch = rnd.shuffle(reland.map(id => id -> (arxivLanded(id) + 1)) ++ fresh.map(_ -> 1))
    val entries = batch.map { case (id, v) =>
      arxivLanded(id) = v
      val kept = arxivModel.get(id)
      if (kept.forall(k => v.toString > k)) arxivModel(id) = v.toString
      s"""{"id": "http://arxiv.org/abs/${id}v$v", "updated": "${ds}T10:00:00Z", "published": "${ds}T09:00:00Z", "title": "$title", "summary": "${words(30 + rnd.nextInt(40))}", "author": {"name": "Author ${rnd.nextInt(900)}"}, "link": [{"@href": "http://arxiv.org/abs/${id}v$v", "@rel": "alternate"}]}"""
    }
    val lines = entries.grouped(50).map(g => s"""{"feed": {"@xmlns": "http://www.w3.org/2005/Atom", "title": "arXiv query results", "entry": [${g.mkString(", ")}]}}""")
    write(arxivDir, s"${ds}_${token}_arxiv.json", lines.mkString("\n") + "\n")
    articles += batch.size
  }

  private def landNyt(day: LocalDate, us: String, ds: String, token: String): Unit = {
    val relandN = math.min(nytLanded.size, nytPerDay / 10)
    val reland  = rnd.shuffle(nytLanded.toIndexedSeq).take(relandN)
    val fresh   = (0 until nytPerDay - relandN).map(j => (s"nyt://article/${day.toEpochDay}-$j", s"${ds}T09:00:00+0000"))
    val batch   = rnd.shuffle(reland ++ fresh)
    val lines = batch.map { case (id, pub) =>
      s"""{"_airbyte_ab_id": "${rnd.nextLong()}", "_airbyte_emitted_at": ${day.toEpochDay * 86400000L}, "_airbyte_data": {"_id": "$id", "abstract": "${words(15 + rnd.nextInt(15))}", "lead_paragraph": "${words(25 + rnd.nextInt(25))}", "snippet": "${words(10 + rnd.nextInt(10))}", "pub_date": "$pub", "web_url": "https://nyt.example.org/${id.hashCode.abs}", "section_name": "Climate", "word_count": ${200 + rnd.nextInt(2000)}, "multimedia": [{"url": "images/${rnd.nextInt(1000)}.jpg", "Url": "IMAGES/X.JPG", "height": 400, "width": 600}], "headline": {"main": "$title", "print_headline": "$title"}}}"""
    }
    write(nytDir, s"${us}_${token}_nyt.json", lines.mkString("\n") + "\n")
    fresh.foreach { case (id, pub) => nytLanded += ((id, pub)); nytIds += id }
    articles += batch.size
  }
}
