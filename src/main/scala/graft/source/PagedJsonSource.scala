package graft.source

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 batch connector for the reference's paged HTTP catalog sources
  * (SURVEY.md §2.1 S1-S6, §2.6 L2/L3, §2.9 T7).
  *
  * The reference fetches station catalogs page by page
  * (`page <= last_page` loops, reference app/main.py:444-487, 571-625)
  * and pushes its predicates into the request query string (`WHERE
  * source=%s`, date ranges — reference app/main.py:66-68, 722-728).
  * This connector expresses the same design in Spark's DataSourceV2
  * interface:
  *
  *  - PAGINATION ↔ PARTITION PLANNING: one `InputPartition` per page, so
  *    a 10,000-page source scans with 10,000-way parallelism and page
  *    fetches never serialize through the driver;
  *  - QUERY-PARAM PUSHDOWN ↔ `SupportsPushDownFilters`: equality
  *    predicates are accepted by the source and applied while reading
  *    the page (an HTTP implementation would turn them into request
  *    parameters); everything else stays in the Spark plan;
  *  - COLUMN PRUNING ↔ `SupportsPushDownRequiredColumns`;
  *  - REQUEST BUDGET (L2) ↔ planning-time page cap: the reference stops
  *    fetching and RETURNS WHAT IT HAS once its request counter reaches
  *    NL_REQUEST_LIMIT=280 (app/main.py:416, 460-470). A sequential
  *    counter does not exist across executors, so the distributed
  *    translation enforces the same contract — at most `requestBudget`
  *    page requests, output truncated not failed — where the engine
  *    actually controls request count: partition planning;
  *  - 429 RETRY/BACKOFF (T7) ↔ per-fetch retry loop in the
  *    PartitionReader, on the executor: sleep base + step·retry between
  *    attempts (reference base_sleep=1.0 growing by 0.5 per retry,
  *    app/main.py:447-481, 518-528), give up after `maxRetries`
  *    (reference: 5 for list pages) and fail the task;
  *  - PACING (T7) ↔ optional fixed `paceMs` sleep before each page fetch
  *    (reference time.sleep(0.1) between pages, 0.03-0.05 between detail
  *    requests, app/main.py:619, 626, 1103, 1154). Per-partition pacing
  *    bounds per-executor-slot request rate, the distributed analog of
  *    the reference's single-loop pacing.
  *
  * Pages live as local JSONL files (`page-*.jsonl`) — the zero-egress
  * stand-in for HTTP responses. A 429 burst is simulated by a sidecar
  * file `page-NNNN.jsonl.429` whose content is the number of consecutive
  * 429 responses the "server" returns before succeeding; the reader's
  * retry loop treats each as a live 429.
  *
  * Usage: spark.read.format("graft.source.PagedJsonSource")
  *   .schema(schema).option("path", pagesDir)
  *   .option("requestBudget", "280").option("maxRetries", "5")
  *   .option("backoffBaseMs", "1000").option("backoffStepMs", "500")
  *   .option("paceMs", "100").load()
  */
class PagedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedJsonSource.defaultSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table =
    new PagedJsonTable(schema, properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

object PagedJsonSource {
  /** Station-catalog shape (SURVEY §1.1 stations). */
  val defaultSchema: StructType = StructType(
    Seq(
      StructField("station_id", StringType),
      StructField("source", StringType),
      StructField("city", StringType),
      StructField("lat", DoubleType),
      StructField("lon", DoubleType)
    )
  )
}

/** Fetch-discipline knobs (L2/T7), serialized to executors with the
  * reader factory. Defaults mirror the reference's published numbers.
  */
case class FetchConfig(
    requestBudget: Int = Int.MaxValue, // reference: NL_REQUEST_LIMIT = 280
    maxRetries: Int = 5, // reference: retries < 5 for list pages
    backoffBaseMs: Long = 1000L, // reference: base_sleep = 1.0 s
    backoffStepMs: Long = 500L, // reference: +0.5 s per retry
    paceMs: Long = 0L, // reference: 0.03-0.1 s between requests
    transport: String = "file", // "file" (sidecar-simulated 429s) | "http"
    connectTimeoutMs: Int = 10000, // HTTP only: a hung server must fail the
    readTimeoutMs: Int = 30000 //    task, not stall it forever (the reference's
    //                               HTTP client is timeout-bounded too)
) {
  def fetcher: PageFetcher = transport match {
    case "file" => new FilePageFetcher
    case "http" => new HttpPageFetcher(connectTimeoutMs, readTimeoutMs)
    case other =>
      throw new IllegalArgumentException(
        s"unknown transport '$other' — expected 'file' or 'http'")
  }
}

object FetchConfig {
  /** An absent option keeps the case-class default. */
  def fromOptions(options: CaseInsensitiveStringMap): FetchConfig = {
    val d = FetchConfig()
    FetchConfig(
      requestBudget = options.getInt("requestBudget", d.requestBudget),
      maxRetries = options.getInt("maxRetries", d.maxRetries),
      backoffBaseMs = options.getLong("backoffBaseMs", d.backoffBaseMs),
      backoffStepMs = options.getLong("backoffStepMs", d.backoffStepMs),
      paceMs = options.getLong("paceMs", d.paceMs),
      transport = options.getOrDefault("transport", d.transport),
      connectTimeoutMs = options.getInt("connectTimeoutMs", d.connectTimeoutMs),
      readTimeoutMs = options.getInt("readTimeoutMs", d.readTimeoutMs)
    )
  }
}

/** TRANSPORT SEAM (SURVEY S1–S6; reference app/main.py:438-562): the
  * paging/pushdown/budget/backoff semantics above are transport-
  * independent — what varies is how pages are ENUMERATED (planning
  * side) and how one fetch ATTEMPT is performed (executor side). A
  * fetcher supplies exactly those two verbs; the shared reader owns
  * the 429 retry/backoff/pacing loop and the scan owns the budget, so
  * every transport inherits the reference's full fetch discipline.
  * Implementations must be Serializable (the instance rides to
  * executors inside the reader factory) and stateless — per-page
  * state lives in the [[PageConnection]] they open.
  */
trait PageFetcher extends Serializable {
  /** Planning side: enumerate page ids under `path` in page order —
    * file paths for the file transport, URLs for HTTP. */
  def listPages(path: String): Seq[String]

  /** Executor side: start fetching one page. */
  def open(page: String): PageConnection
}

/** One page's fetch state: `attempt(i)` performs the i-th try (0-based)
  * and reports either a live 429 (Left) or the page body (Right).
  * Non-429 failures throw — they are task failures, not retries.
  */
trait PageConnection {
  def attempt(retryIdx: Int): Either[Unit, scala.io.Source]
}

/** Zero-egress transport: pages are local `page-*.jsonl` files and a
  * 429 burst is simulated by a sidecar file `<page>.429` holding the
  * number of consecutive 429 responses the "server" returns before the
  * page succeeds. This is the transport the offline harness always
  * exercises; the shared retry loop treats each simulated 429 exactly
  * like a live one.
  */
class FilePageFetcher extends PageFetcher {
  override def listPages(path: String): Seq[String] =
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("page-") && f.getName.endsWith(".jsonl"))
      .sortBy(_.getName)
      .map(_.getAbsolutePath)
      .toSeq

  override def open(page: String): PageConnection = new PageConnection {
    private val burst: Int = {
      val sidecar = new java.io.File(page + ".429")
      if (!sidecar.exists()) 0
      else {
        val src = scala.io.Source.fromFile(sidecar)
        try {
          val raw = src.mkString.trim
          try raw.toInt
          catch {
            case _: NumberFormatException =>
              throw new java.io.IOException(
                s"malformed 429 sidecar ${sidecar.getPath}: expected an int, got '$raw'")
          }
        } finally src.close()
      }
    }
    override def attempt(retryIdx: Int): Either[Unit, scala.io.Source] =
      // explicit UTF-8: the HTTP transport decodes UTF-8, and transport
      // parity (same bytes → same rows) must not depend on file.encoding
      if (retryIdx < burst) Left(())
      else Right(scala.io.Source.fromFile(page, "UTF-8"))
  }
}

/** Live HTTP transport (drop-in when a networked deployment exists —
  * the reference's actual mode, app/main.py:438-562): pages are
  * enumerated from `<base>/index.txt` (one page name per line, the
  * stand-in for the reference's `last_page` field) and each attempt is
  * a plain GET; HTTP 429 feeds the shared backoff loop, any other
  * non-200 fails the task. No auth/TLS options — the harness stub
  * server speaks plain HTTP; a production deployment would extend
  * `open` with headers, which is the point of the seam.
  */
class HttpPageFetcher(connectTimeoutMs: Int, readTimeoutMs: Int) extends PageFetcher {
  private def get(url: String): Either[Unit, scala.io.Source] = {
    val conn = new java.net.URL(url)
      .openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    // bounded like every other part of the fetch discipline: a hung or
    // black-holed server surfaces as a SocketTimeoutException (an
    // IOException → task failure, same as the non-429 error path), not
    // an indefinitely stalled Spark task
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestMethod("GET")
    conn.getResponseCode match {
      case 200 =>
        Right(scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8"))
      case 429 => conn.disconnect(); Left(())
      case code =>
        conn.disconnect()
        throw new java.io.IOException(s"HTTP $code for $url")
    }
  }

  override def listPages(path: String): Seq[String] = {
    val base = path.stripSuffix("/")
    get(s"$base/index.txt") match {
      case Right(src) =>
        try src.getLines().map(_.trim).filter(_.nonEmpty).map(n => s"$base/$n").toList
        finally src.close()
      case Left(_) =>
        throw new java.io.IOException(
          s"HTTP 429 listing $base/index.txt at planning time — " +
            "retry the read (planning has no executor backoff loop)")
    }
  }

  override def open(page: String): PageConnection = new PageConnection {
    override def attempt(retryIdx: Int): Either[Unit, scala.io.Source] = get(page)
  }
}

class PagedJsonTable(tableSchema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"paged_json($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedJsonScanBuilder(tableSchema, path, FetchConfig.fromOptions(options))
}

class PagedJsonScanBuilder(tableSchema: StructType, path: String, cfg: FetchConfig)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  /** Accept STRING equality and not-null predicates (the shapes the
    * reference pushes as query params / WHERE clauses); everything else
    * is returned for Spark to evaluate. Numeric equality is deliberately
    * NOT accepted: the reader compares JSON text, and "52.50" vs 52.5
    * would silently drop matching rows — Spark trusts accepted filters
    * and never re-checks them.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(_, v) => v.isInstanceOf[String]
      case _: IsNotNull => true
      case _ => false
    }
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new PagedJsonScan(required, path, pushed, cfg)
}

class PagedJsonScan(readSchema: StructType, path: String, pushed: Array[Filter], cfg: FetchConfig)
    extends Scan
    with Batch
    with org.apache.spark.internal.Logging {
  override def readSchema(): StructType = readSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedJsonScan(path=$path, pushed=${pushed.mkString(",")}, budget=${cfg.requestBudget})"

  /** One partition per page — the pagination ↔ partition mapping
    * (enumeration delegated to the transport seam). The L2 request
    * budget caps how many pages are planned at all: like the reference
    * at its 280-request limit, a budgeted scan returns the prefix it
    * could afford instead of failing.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val pages = cfg.fetcher.listPages(path)
    if (pages.length > cfg.requestBudget) {
      logWarning(
        s"request budget reached: planning ${cfg.requestBudget} of ${pages.length} " +
          s"pages from $path (reference semantics: truncate, don't fail)")
    }
    pages.take(cfg.requestBudget).map(p => PageInputPartition(p): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PageReaderFactory(readSchema, pushed, cfg)
}

case class PageInputPartition(file: String) extends InputPartition

class PageReaderFactory(readSchema: StructType, pushed: Array[Filter], cfg: FetchConfig)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PageReader(partition.asInstanceOf[PageInputPartition].file, readSchema, pushed, cfg)
}

object PageReader {
  /** Local-mode diagnostics for specs: total simulated-429 retries and
    * paced fetches observed in this JVM. In cluster mode these are
    * per-executor numbers (a live connector would report them as custom
    * task metrics instead).
    */
  val retried429 = new java.util.concurrent.atomic.AtomicLong()
  val fetches = new java.util.concurrent.atomic.AtomicLong()
}

/** Reads one page. The "fetch" happens here, once per partition, on the
  * executor — pacing first, then the 429 retry/backoff loop (reference
  * app/main.py:447-481): sleep backoffBase + backoffStep·retry between
  * attempts, fail the task after `maxRetries` consecutive 429s exactly
  * as the reference re-raises after its retry cap. The loop is
  * transport-blind: each attempt goes through the [[PageFetcher]] seam,
  * so the file sidecar simulation and a live HTTP 429 exercise the
  * identical discipline.
  */
class PageReader(file: String, readSchema: StructType, pushed: Array[Filter], cfg: FetchConfig)
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val lines = fetch()
  private val it = lines.getLines().map(mapper.readTree).filter(matches)
  private var current: JsonNode = _

  private def fetch(): scala.io.Source = {
    if (cfg.paceMs > 0) Thread.sleep(cfg.paceMs)
    PageReader.fetches.incrementAndGet()
    val conn = cfg.fetcher.open(file)
    var retryIdx = 0
    while (true) {
      conn.attempt(retryIdx) match {
        case Right(src) => return src
        case Left(_) =>
          val retry = retryIdx + 1
          if (retry > cfg.maxRetries)
            throw new java.io.IOException(
              s"HTTP 429 for page $file: gave up after ${cfg.maxRetries} retries " +
                "(reference app/main.py:447-481 re-raises past its retry cap)")
          PageReader.retried429.incrementAndGet()
          Thread.sleep(cfg.backoffBaseMs + cfg.backoffStepMs * retry)
          retryIdx = retry
      }
    }
    throw new IllegalStateException("unreachable") // the loop returns or throws
  }

  private def matches(node: JsonNode): Boolean = pushed.forall {
    case EqualTo(attr, value) =>
      val v = node.get(attr)
      v != null && !v.isNull && v.asText() == value.toString
    case IsNotNull(attr) =>
      val v = node.get(attr)
      v != null && !v.isNull
    case _ => true
  }

  override def next(): Boolean = {
    if (it.hasNext) { current = it.next(); true } else false
  }

  override def get(): InternalRow = {
    val values = readSchema.fields.map { f =>
      val v = current.get(f.name)
      if (v == null || v.isNull) null
      else
        f.dataType match {
          case StringType => UTF8String.fromString(v.asText())
          case DoubleType => if (v.isNumber) java.lang.Double.valueOf(v.asDouble()) else null
          case LongType => if (v.isNumber) java.lang.Long.valueOf(v.asLong()) else null
          case IntegerType => if (v.isNumber) java.lang.Integer.valueOf(v.asInt()) else null
          case _ => null
        }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = lines.close()
}
