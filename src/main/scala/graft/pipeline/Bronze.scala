package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.UUID

import scala.util.matching.Regex

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Bronze ingestion: paginated REST scan → one raw JSON file per page
  * under ingestion_date={d}/page_{N}_{uuid}.json.
  *
  * Driver-side by design — the page fetch is a serial HTTP walk (the
  * reference's too: /root/reference/app/tasks/extract.py:29-77); only
  * the downstream layers are distributed. The source is a trait so tests
  * inject pages (mirrors /root/reference/tests/unit/test_pagination.py).
  */
object Bronze {

  /** One fetched page: raw body (written verbatim to the lake, like the
    * reference's put_json of r.json(), app/io/storage.py:22-30), the
    * record count, and the HTTP Link header if any. */
  final case class Page(body: String, records: Int, linkHeader: Option[String])

  trait PageSource {
    def fetch(page: Int, perPage: Int): Page
  }

  /** Link-header pagination metadata parser
    * (/root/reference/app/tasks/extract.py:17-26): split on ',', find the
    * part carrying rel="last", extract its page number. */
  object Pagination {
    private val pageRe: Regex = """[?&]page=(\d+)""".r.unanchored

    def parseLastPage(linkHeader: Option[String]): Option[Int] =
      linkHeader.flatMap { h =>
        h.split(",").map(_.trim).find(_.contains("rel=\"last\"")).flatMap {
          case pageRe(n) => n.toIntOption
          case _ => None
        }
      }
  }

  /** Real HTTP source (java.net.http; UA/Accept headers and 30 s timeout
    * as in /root/reference/app/tasks/extract.py:11-14,41). */
  final class HttpPageSource(apiUrl: String) extends PageSource {
    private val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(30)).build()
    private val mapper = new ObjectMapper()

    override def fetch(page: Int, perPage: Int): Page = {
      val req = HttpRequest.newBuilder()
        .uri(URI.create(s"$apiUrl?per_page=$perPage&page=$page"))
        .timeout(Duration.ofSeconds(30))
        .header("User-Agent", "graft-spark-engine/1.0")
        .header("Accept", "application/json")
        .GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400)
        throw new RuntimeException(s"HTTP ${resp.statusCode()} for page $page")
      val n = mapper.readTree(resp.body()).size()
      Page(resp.body(), n, Option(resp.headers().firstValue("Link").orElse(null)))
    }
  }

  /** Fetch-all-pages walk (/root/reference/app/tasks/extract.py:29-77):
    * page 1 first; with a Link rel="last" → deterministic 2..min(last, cap) range
    * stopping only on an empty page; without → capped loop stopping on an
    * empty page or the first short page. Returns (pagesWritten, records).
    */
  def ingest(spark: SparkSession, settings: Settings, source: PageSource,
      ingestionDate: String): (Int, Int) = {
    val dir = settings.bronzeDir(ingestionDate)
    val fs = FileSystem.get(URI.create(dir), spark.sparkContext.hadoopConfiguration)

    def write(page: Int, body: String): Unit = {
      val key = new Path(s"$dir/page_${page}_${UUID.randomUUID().toString.replace("-", "")}.json")
      val out = fs.create(key, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }

    val first = source.fetch(1, settings.perPage)
    write(1, first.body)
    var pages = 1
    var records = first.records

    // a rel="last" page ≥ 2 bounds the walk (still capped); without it
    // the walk runs to the cap and a short page is the last page
    val last = Pagination.parseLastPage(first.linkHeader).filter(_ >= 2)
    val bound = last.fold(settings.maxPagesCap)(math.min(_, settings.maxPagesCap))
    var p = 2
    var stop = false
    while (p <= bound && !stop) {
      val pg = source.fetch(p, settings.perPage)
      if (pg.records == 0) stop = true
      else {
        write(p, pg.body); pages += 1; records += pg.records; p += 1
        stop = last.isEmpty && pg.records < settings.perPage
      }
    }
    (pages, records)
  }
}
