package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** One page fetch: `Some(body)` on success, `None` when the page does not
  * exist (the natural end-of-pagination signal). Implementations must be
  * serializable — page-numbered reads run them ON EXECUTORS. */
trait ApiFetcher extends Serializable {
  def fetch(url: String): Option[String]
}

/** Production fetcher over the JDK HTTP client. 404/410 → None (end of
  * pagination); 5xx, 429, and connection errors retry with exponential
  * backoff — a 429 carrying a `Retry-After: <seconds>` header waits that
  * long instead (capped at `maxRetryAfterMs`, so a hostile header can't
  * park an executor); other 4xx fail fast (a misconfigured request never
  * burns the retry budget). One client per JVM (lazy, transient). */
final case class HttpFetcher(headers: Map[String, String] = Map.empty,
                             maxRetries: Int = 3,
                             backoffMs: Long = 500,
                             timeoutMs: Long = 30000,
                             maxRetryAfterMs: Long = 60000) extends ApiFetcher {
  @transient private lazy val client =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()

  override def fetch(url: String): Option[String] = {
    var attempt = 0
    while (true) {
      val outcome =
        try {
          val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
            .timeout(java.time.Duration.ofMillis(timeoutMs))
          headers.foreach { case (k, v) => b.header(k, v) }
          val resp = client.send(b.GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          resp.statusCode() match {
            case 200 | 206          => Right(Some(resp.body()))
            case 404 | 410          => Right(None)
            case s if s >= 500      => Left((s"HTTP $s", None))
            case 429 =>
              val ra = resp.headers().firstValue("Retry-After")
              val retryAfter =
                if (ra.isPresent) ra.get.toLongOption.map(_ * 1000L) else None
              Left(("HTTP 429", retryAfter))
            case s                  => throw new java.io.IOException(
              s"API request failed: HTTP $s for $url")
          }
        } catch {
          case e: java.io.IOException if e.getMessage == null ||
              !e.getMessage.startsWith("API request failed") =>
            Left((e.toString, None))
        }
      outcome match {
        case Right(r) => return r
        case Left((err, retryAfterMs)) =>
          attempt += 1
          if (attempt > maxRetries) throw new java.io.IOException(
            s"API request failed after $maxRetries retries: $err for $url")
          Thread.sleep(retryAfterMs
            .map(ms => math.min(ms, maxRetryAfterMs))
            .getOrElse(backoffMs * (1L << (attempt - 1))))
      }
    }
    None // unreachable
  }
}

/** Test/replay fetcher: urls are local file paths (optionally file://);
  * a missing file is end-of-pagination. Lets every pagination/parse path
  * run e2e against an on-disk API dump — no network, fully deterministic. */
final case class FileFetcher() extends ApiFetcher {
  override def fetch(url: String): Option[String] = {
    val p = Paths.get(url.stripPrefix("file://"))
    if (Files.isRegularFile(p)) Some(Files.readString(p)) else None
  }
}

/** How the API pages. */
sealed trait Pagination
object Pagination {
  /** `urlTemplate` contains `{page}`; pages `start until start+maxPages`
    * are fetched IN PARALLEL across executors — the scale path (10k pages
    * fan out like any other partitioned scan). Pages past the end return
    * None and contribute nothing, so maxPages is an upper bound, not an
    * exact count. */
  final case class PageNumber(urlTemplate: String, start: Long = 0,
                              maxPages: Int = 1000) extends Pagination
  /** Cursor/next-token chaining: inherently SEQUENTIAL (each page's url
    * comes from the previous body — no engine can parallelize that), so
    * the driver walks the chain and spools each raw body to disk, then
    * Spark parses the spool in parallel. Driver memory stays O(one page).
    * `nextField` is a dotted path to the next-page url/token in the body;
    * chain ends when absent/null/empty. Two API styles:
    *   - `firstUrl` without `{cursor}`: `nextField` holds a COMPLETE url
    *     for the next page (HATEOAS-style `next` links).
    *   - `firstUrl` with `{cursor}`: `nextField` holds an opaque TOKEN,
    *     substituted into the template each hop (offset/token APIs);
    *     the first request substitutes `firstCursor` (default empty). */
  final case class Cursor(firstUrl: String, nextField: String,
                          maxPages: Int = 10000,
                          firstCursor: String = "") extends Pagination
}

/** API-dump source — the reference declares API sources in its
  * architecture (`/root/reference/docs/00-architecture-overview.md:204,277`,
  * `docs/01-problem-statement.md:17` "Sources: ... API dumps") but ships no
  * reader. Schema is explicit (registry-resolved), never inferred, matching
  * the repo-wide reader contract.
  *
  * Page bodies are either a bare JSON array of records or an object with
  * the array under `recordsField`. Parsing runs through `from_json` +
  * `inline` on executors (codegen'd, not driver loops). Rows that fail to
  * parse surface as `_corrupt_record` (PERMISSIVE-equivalent policy shared
  * with FileReader/KafkaReader) so DQ can quarantine instead of silently
  * dropping.
  *
  * Scale: PageNumber mode is embarrassingly parallel (repartitioned page
  * range, one HTTP GET per page on the executor, politeness delay between
  * requests within a partition); Cursor mode is sequential BY THE API'S
  * DESIGN — the spool keeps the driver at O(1) pages and hands Spark a
  * normal parallel file scan for the parse stage. */
final case class ApiReader(pagination: Pagination,
                           recordSchema: StructType,
                           recordsField: Option[String] = None,
                           fetcher: ApiFetcher = HttpFetcher(),
                           parallelism: Int = 8,
                           requestDelayMs: Long = 0,
                           spoolDir: Option[String] = None,
                           cursorStore: Option[(WatermarkStore, String)] = None)
    extends SourceReader {

  /** Cursor-mode incremental state (the WatermarkStore loop the JDBC
    * reader has, for APIs): `read` resumes from the stored cursor when
    * one exists, and records — but does NOT persist — the cursor of the
    * last successfully fetched page. [[commitCursor]] persists it; the
    * job calls that only AFTER the sink write succeeds, so a crash
    * between read and write refetches instead of losing pages. The
    * resume point is the final page's own cursor (that page is re-read
    * next run — it may have grown), so delivery is at-least-once;
    * downstream exact dedup makes it effectively-once. */
  @transient private var pendingCursor: Option[String] = None

  def commitCursor(): Unit =
    for ((store, key) <- cursorStore; c <- pendingCursor) store.put(key, c)

  override def read(spark: SparkSession): DataFrame = {
    val bodies: DataFrame = pagination match {
      case Pagination.PageNumber(template, start, maxPages) =>
        import spark.implicits._
        require(template.contains("{page}"),
          s"PageNumber urlTemplate needs a {page} placeholder: $template")
        val f = fetcher
        val delay = requestDelayMs
        spark.range(start, start + maxPages)
          .repartition(parallelism)
          .as[Long]
          .mapPartitions { pages =>
            pages.flatMap { p =>
              if (delay > 0) Thread.sleep(delay)
              f.fetch(template.replace("{page}", p.toString))
                .map(body => (p, body))
            }
          }
          .toDF("_page", "_body")

      case Pagination.Cursor(firstUrl, nextField, maxPages, firstCursor) =>
        // spool into a FRESH unique subdirectory per read(): a reused
        // caller-supplied spoolDir would otherwise leave page files from
        // a prior (longer) run behind, and spark.read.text(dir) would
        // resurrect them as duplicate records on rerun/resume
        val dir = spoolDir match {
          case Some(d) =>
            val base = Paths.get(d)
            Files.createDirectories(base)
            Files.createTempDirectory(base, "run-")
          case None => Files.createTempDirectory("graft-api-spool")
        }
        val tokenMode = firstUrl.contains("{cursor}")
        // resume from the committed cursor when a store is wired; the
        // stored value is a token (token mode) or a full url
        val start = cursorStore.flatMap { case (st, k) => st.get(k) }
        var ref = Option(start.getOrElse(
          if (tokenMode) firstCursor else firstUrl))
        var n = 0
        while (ref.isDefined && n < maxPages) {
          val url =
            if (tokenMode) firstUrl.replace("{cursor}", ref.get) else ref.get
          fetcher.fetch(url) match {
            case Some(body) =>
              Files.writeString(dir.resolve(f"page-$n%06d.body"), body)
              pendingCursor = ref
              ref = ApiReader.extractField(body, nextField)
              n += 1
            case None => ref = None
          }
        }
        // wholetext: one spooled body per row, so the parse stage below is
        // identical for both pagination modes
        spark.read.option("wholetext", "true").text(dir.toString)
          .select(monotonically_increasing_id().as("_page"),
            col("value").as("_body"))
    }
    parseBodies(bodies)
  }

  /** body → records via from_json with an explicit schema; unparseable
    * bodies keep their raw text in `_corrupt_record` with null fields. */
  private def parseBodies(bodies: DataFrame): DataFrame = {
    val arr = ArrayType(recordSchema)
    val parsed = recordsField match {
      case Some(field) =>
        val pageSchema = new StructType().add(field, arr)
        bodies.withColumn("_recs", from_json(col("_body"), pageSchema)(field))
      case None =>
        bodies.withColumn("_recs", from_json(col("_body"), arr))
    }
    val flag = when(col("_recs").isNull && col("_body").isNotNull, col("_body"))
      .otherwise(lit(null).cast("string")).as("_corrupt_record")
    parsed
      .select(col("_page"), flag, explode_outer(col("_recs")).as("_rec"))
      .filter(col("_rec").isNotNull || col("_corrupt_record").isNotNull)
      .select(col("_rec.*"), col("_corrupt_record"))
  }
}

object ApiReader {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Dotted-path field lookup in a JSON object body. Absent / null /
    * empty / non-string → None, ending the cursor chain. */
  private[graft] def extractField(body: String, dottedPath: String): Option[String] = {
    val value = dottedPath.split('.').foldLeft(json.readTree(body))(_.path(_))
    Some(value).collect { case v if v.isTextual && v.asText.nonEmpty => v.asText }
  }
}
