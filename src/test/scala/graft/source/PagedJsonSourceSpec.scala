package graft.source

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, TimestampType}

/** DSv2 paged source: partition-per-page planning, filter pushdown into
  * the reader, column pruning, catalog-refresh integration.
  */
class PagedJsonSourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("pages")
    // 3 pages of station rows (the reference's paged catalog GETs)
    Files.writeString(
      Paths.get(d, "page-0001.jsonl"),
      """{"station_id":"DE1","source":"de","city":"Berlin","lat":52.5,"lon":13.4}
        |{"station_id":"DE2","source":"de","city":"Hamburg","lat":53.6,"lon":10.0}
        |""".stripMargin
    )
    Files.writeString(
      Paths.get(d, "page-0002.jsonl"),
      """{"station_id":"NL1","source":"luchtmeetnet","city":"Amsterdam","lat":52.4,"lon":4.9}
        |{"station_id":"NL2","source":"luchtmeetnet","city":null,"lat":null,"lon":4.5}
        |""".stripMargin
    )
    Files.writeString(
      Paths.get(d, "page-0003.jsonl"),
      """{"station_id":"PL1","source":"gios","city":"Warszawa","lat":52.2,"lon":21.0}
        |""".stripMargin
    )
    d
  }

  private def read() =
    spark.read
      .format("graft.source.PagedJsonSource")
      .schema(PagedJsonSource.defaultSchema)
      .option("path", dir)
      .load()

  test("scans all pages; one partition per page") {
    val df = read()
    assert(df.count() == 5)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("an empty page directory reads as 0 rows without error") {
    val empty = tempDir("pages_empty")
    val df = spark.read
      .format("graft.source.PagedJsonSource")
      .schema(PagedJsonSource.defaultSchema)
      .option("path", empty)
      .load()
    assert(df.count() == 0)
    assert(df.collect().isEmpty)
  }

  test("a schema field the reader cannot decode is rejected, naming the field and its type") {
    for ((t, shown) <- Seq(BooleanType -> "boolean", TimestampType -> "timestamp")) {
      val schema = PagedJsonSource.defaultSchema.add("active", t)
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft.source.PagedJsonSource").schema(schema).option("path", dir).load()
      }
      assert(e.getMessage.contains(s"'active' of type $shown"), e.getMessage)
    }
  }

  test("equality filter is pushed into the source (reader-level filtering)") {
    val df = read().filter(col("source") === "de")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(source,de)"), s"pushed filter missing in:\n$plan")
    assert(df.count() == 2)
  }

  test("column pruning reaches the scan") {
    val df = read().select("station_id")
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PagedJsonScan")).getOrElse("")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("DE1", "DE2", "NL1", "NL2", "PL1"))
    assert(df.schema.fieldNames.toSeq == Seq("station_id"))
    assert(scanLine.nonEmpty)
  }

  test("L2 request budget: scan plans only the first N pages and truncates, not fails") {
    // reference semantics at NL_REQUEST_LIMIT (app/main.py:416, 460-470):
    // budget reached → return what was fetched so far
    val df = spark.read
      .format("graft.source.PagedJsonSource")
      .schema(PagedJsonSource.defaultSchema)
      .option("path", dir)
      .option("requestBudget", "2")
      .load()
    assert(df.rdd.getNumPartitions == 2)
    assert(df.select("station_id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("DE1", "DE2", "NL1", "NL2"))
  }

  test("fetch options outside their contract are rejected at planning, naming the option and value") {
    val bad = Seq(
      "requestBudget" -> "-1", "requestBudget" -> "0", "maxRetries" -> "-1",
      "backoffBaseMs" -> "-1", "backoffStepMs" -> "-500", "paceMs" -> "-1",
      "connectTimeoutMs" -> "0", "readTimeoutMs" -> "0")
    for ((key, value) <- bad) {
      val e = intercept[IllegalArgumentException] {
        spark.read
          .format("graft.source.PagedJsonSource")
          .schema(PagedJsonSource.defaultSchema)
          .option("path", dir)
          .option(key, value)
          .load()
          .count()
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"got $value"), e.getMessage)
    }
  }

  test("T7 backoff: a 429 burst below maxRetries is retried to success") {
    val d = tempDir("pages429")
    Files.writeString(
      Paths.get(d, "page-0001.jsonl"),
      """{"station_id":"A1","source":"de","city":"X","lat":1.0,"lon":2.0}
        |""".stripMargin
    )
    Files.writeString(Paths.get(d, "page-0001.jsonl.429"), "2")
    val before = PageReader.retried429.get()
    val df = spark.read
      .format("graft.source.PagedJsonSource")
      .schema(PagedJsonSource.defaultSchema)
      .option("path", d)
      .option("maxRetries", "5")
      .option("backoffBaseMs", "1")
      .option("backoffStepMs", "1")
      .option("paceMs", "1")
      .load()
    assert(df.count() == 1) // two simulated 429s, then success
    assert(PageReader.retried429.get() - before == 2)
  }

  test("T7 backoff: a 429 burst past maxRetries fails the read (reference re-raises)") {
    val d = tempDir("pages429x")
    Files.writeString(
      Paths.get(d, "page-0001.jsonl"),
      """{"station_id":"A1","source":"de","city":"X","lat":1.0,"lon":2.0}
        |""".stripMargin
    )
    Files.writeString(Paths.get(d, "page-0001.jsonl.429"), "7")
    val df = spark.read
      .format("graft.source.PagedJsonSource")
      .schema(PagedJsonSource.defaultSchema)
      .option("path", d)
      .option("maxRetries", "2")
      .option("backoffBaseMs", "1")
      .option("backoffStepMs", "0")
      .load()
    val e = intercept[Exception] { df.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("429")), s"unexpected failure: $e")
  }

  // ---------------------------------------------------------------- seam
  /** The r10 verdict's Fetcher-seam contract: the SAME scan, budget,
    * pushdown, and 429/backoff discipline must run against both the
    * file transport (always, zero egress) and a real HTTP transport
    * when sockets are permitted — identical rows. The stub server is
    * the JDK's own httpserver on a localhost ephemeral port; if the
    * sandbox forbids even loopback sockets, the HTTP tests cancel
    * (assume) rather than fail.
    */
  private def withStubServer(test429: Boolean)(body: String => Unit): Unit = {
    val server =
      try {
        com.sun.net.httpserver.HttpServer
          .create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      } catch {
        case e: Exception =>
          assume(false, s"loopback sockets unavailable: $e"); return
      }
    val pages = Map(
      "page-0001.jsonl" ->
        """{"station_id":"DE1","source":"de","city":"Berlin","lat":52.5,"lon":13.4}
          |{"station_id":"DE2","source":"de","city":"Hamburg","lat":53.6,"lon":10.0}
          |""".stripMargin,
      "page-0002.jsonl" ->
        """{"station_id":"NL1","source":"luchtmeetnet","city":"Amsterdam","lat":52.4,"lon":4.9}
          |""".stripMargin
    )
    // live 429 burst: the server answers 429 twice for page-0002, then 200
    val remaining429 = new java.util.concurrent.atomic.AtomicInteger(if (test429) 2 else 0)
    server.createContext(
      "/",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val name = ex.getRequestURI.getPath.stripPrefix("/")
        val resp: Either[Int, String] = name match {
          case "index.txt" => Right(pages.keys.toSeq.sorted.mkString("\n"))
          case p if pages.contains(p) =>
            if (p == "page-0002.jsonl" && remaining429.getAndDecrement() > 0) Left(429)
            else Right(pages(p))
          case _ => Left(404)
        }
        resp match {
          case Right(bodyTxt) =>
            val bytes = bodyTxt.getBytes("UTF-8")
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
          case Left(code) => ex.sendResponseHeaders(code, -1)
        }
        ex.close()
      }
    )
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("HTTP transport: same rows as the file transport through the same scan") {
    withStubServer(test429 = false) { base =>
      val http = spark.read
        .format("graft.source.PagedJsonSource")
        .schema(PagedJsonSource.defaultSchema)
        .option("path", base)
        .option("transport", "http")
        .load()
      assert(http.rdd.getNumPartitions == 2) // partition-per-page holds over HTTP
      val got = http.select("station_id").collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("DE1", "DE2", "NL1"))
      // pushdown reaches the HTTP reader exactly like the file reader
      val filtered = http.filter(col("source") === "de")
      assert(filtered.queryExecution.executedPlan.toString.contains("EqualTo(source,de)"))
      assert(filtered.count() == 2)
    }
  }

  test("HTTP transport: live 429s feed the shared backoff loop to success") {
    withStubServer(test429 = true) { base =>
      val before = PageReader.retried429.get()
      val df = spark.read
        .format("graft.source.PagedJsonSource")
        .schema(PagedJsonSource.defaultSchema)
        .option("path", base)
        .option("transport", "http")
        .option("maxRetries", "5")
        .option("backoffBaseMs", "1")
        .option("backoffStepMs", "1")
        .load()
      assert(df.count() == 3) // two live 429s on page-0002, then success
      assert(PageReader.retried429.get() - before == 2)
    }
  }

  test("feeds the catalog-refresh job end-to-end (null island dropped)") {
    val out = tempDir("cat") + "/stations"
    val n = graft.jobs.Jobs.catalogRefresh(spark, read(), out)
    assert(n == 4) // NL2 has null lat → dropped by P4
    val kept = spark.read.parquet(out).select("station_id").collect().map(_.getString(0)).sorted
    assert(kept.toSeq == Seq("DE1", "DE2", "NL1", "PL1"))
  }

  // ------------------------------------------- recorded-fixture replay
  /** r11 verdict task 5: the three national APIs' CAPTURED raw entry
    * shapes (UBA positional list, Luchtmeetnet geometry detail, GIOS
    * Polish-keyed findAll), replayed through BOTH transports from the
    * SAME fixture files — a directory-backed stub server serves the
    * identical bytes over loopback HTTP — then decoded by the S1-S3
    * catalog decoders. Done-condition: rows identical to the file
    * transport, per source, with the reference's fallback chains
    * exercised (dict-shaped DE entry, flat-lat/lon NL detail, English
    * GIOS keys) and null-island rows dropped.
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def pageLine(sid: String, raw: String): String = {
    val n = mapper.createObjectNode()
    n.put("station_id", sid)
    n.put("raw", raw)
    mapper.writeValueAsString(n)
  }

  private val rawSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("station_id", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("raw", org.apache.spark.sql.types.StringType)
  ))

  /** Captured-shape fixture pages, one file per national API. */
  private lazy val capturedDir: String = {
    val d = tempDir("captured")
    // UBA /stations/json entries (reference app/main.py:383-391):
    // positional [id, code, name, city, ..., lon@7, lat@8]; one
    // dict-shaped entry (the non-list branch); one without coords.
    Files.writeString(
      Paths.get(d, "page-0001.jsonl"),
      Seq(
        pageLine("DEBB021",
          """["DEBB021","021","Potsdam-Zentrum","Potsdam","route","1974-01-01","","13.0622","52.3932"]"""),
        pageLine("DEBE010",
          """{"latitude":"52.4893","longitude":"13.4309","name":"Neukoelln-Nansenstr.","city":"Berlin"}"""),
        pageLine("DEXX999", """["DEXX999","999","NoCoords","Nowhere"]""")
      ).mkString("", "\n", "\n")
    )
    // Luchtmeetnet station detail (reference app/main.py:529-545):
    // geometry.coordinates = [lon, lat]; one flat-lat/lon fallback with
    // locality instead of municipality and no location; one coordless.
    Files.writeString(
      Paths.get(d, "page-0002.jsonl"),
      Seq(
        pageLine("NL01494",
          """{"geometry":{"coordinates":["4.7592","52.3920"]},"municipality":"Zaanstad","location":"Zaandam-Wagenschotpad"}"""),
        pageLine("NL10404",
          """{"municipality":null,"locality":"Den Haag","lat":"52.11","lon":"4.28"}"""),
        pageLine("NL99999", """{"municipality":"Nergens"}""")
      ).mkString("", "\n", "\n")
    )
    // GIOS /station/findAll entries (reference app/main.py:577-618):
    // Polish production keys; one English-fallback entry (manual type,
    // WGS84 coordinate keys); one without coords.
    val phi = "WGS84 φ N"
    val lam = "WGS84 λ E"
    Files.writeString(
      Paths.get(d, "page-0003.jsonl"),
      Seq(
        pageLine("703",
          """{"Identyfikator stacji":"703","Typ stacji":"automatyczny","Nazwa miasta":"Warszawa","Nazwa stacji":"Warszawa-Komunikacyjna","gegrLat":"52.2195","gegrLon":"21.0042"}"""),
        pageLine("944",
          s"""{"id":"944","stationType":"manualna","Nazwa miasta":"Krakow","Nazwa stacji":"Krakow-Kurdwanow","$phi":"50.0105","$lam":"19.9490"}"""),
        pageLine("999", """{"id":"999","stationType":"automatyczny","Nazwa miasta":"Nigdzie","Nazwa stacji":"Nigdzie-0"}""")
      ).mkString("", "\n", "\n")
    )
    d
  }

  /** Serve the files of `dir` over loopback HTTP (index.txt = sorted
    * page names) so both transports read the IDENTICAL bytes. Cancels
    * (assume) if the sandbox forbids loopback sockets.
    */
  private def withDirStubServer(dir: String)(body: String => Unit): Unit = {
    val server =
      try {
        com.sun.net.httpserver.HttpServer
          .create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      } catch {
        case e: Exception =>
          assume(false, s"loopback sockets unavailable: $e"); return
      }
    val names = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".jsonl")).sorted
    server.createContext(
      "/",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val name = ex.getRequestURI.getPath.stripPrefix("/")
        val bytes: Option[Array[Byte]] =
          if (name == "index.txt") Some(names.mkString("\n").getBytes("UTF-8"))
          else if (names.contains(name))
            Some(Files.readAllBytes(Paths.get(dir, name)))
          else None
        bytes match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    )
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def readCaptured(path: String, transport: String) =
    spark.read
      .format("graft.source.PagedJsonSource")
      .schema(rawSchema)
      .option("path", path)
      .option("transport", transport)
      .load()

  private def collectRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("S1 DE/UBA captured replay: HTTP rows identical to file transport, fallbacks exercised") {
    import graft.ops.Normalize
    withDirStubServer(capturedDir) { base =>
      val file = Normalize.decodeDeCatalog(
        readCaptured(capturedDir, "file").filter(col("station_id").startsWith("DE")))
      val http = Normalize.decodeDeCatalog(
        readCaptured(base, "http").filter(col("station_id").startsWith("DE")))
      val rows = collectRows(file)
      assert(rows == collectRows(http)) // transport parity on identical bytes
      assert(rows == Seq(
        "DEBB021|de|DE|Potsdam|Potsdam-Zentrum|52.3932|13.0622",
        "DEBE010|de|DE|Berlin|Neukoelln-Nansenstr.|52.4893|13.4309"
      )) // positional list + dict shapes decoded; DEXX999 null-island dropped
    }
  }

  test("S2 NL/Luchtmeetnet captured replay: HTTP rows identical to file transport") {
    import graft.ops.Normalize
    withDirStubServer(capturedDir) { base =>
      val file = Normalize.decodeNlCatalog(
        readCaptured(capturedDir, "file").filter(col("station_id").startsWith("NL")))
      val http = Normalize.decodeNlCatalog(
        readCaptured(base, "http").filter(col("station_id").startsWith("NL")))
      val rows = collectRows(file)
      assert(rows == collectRows(http))
      assert(rows == Seq(
        "NL01494|luchtmeetnet|NL|Zaanstad|Zaandam-Wagenschotpad|52.392|4.7592",
        "NL10404|luchtmeetnet|NL|Den Haag|NL10404|52.11|4.28"
      )) // geometry[lon,lat] + flat fallback; location_name→station_id; NL99999 dropped
    }
  }

  test("S3 PL/GIOS captured replay: HTTP rows identical to file transport, P7 composes") {
    import graft.ops.Normalize
    withDirStubServer(capturedDir) { base =>
      def pl(df: org.apache.spark.sql.DataFrame) =
        Normalize.decodePlCatalog(df.filter(length(col("station_id")) === 3))
      val file = pl(readCaptured(capturedDir, "file"))
      val http = pl(readCaptured(base, "http"))
      val rows = collectRows(file)
      assert(rows == collectRows(http))
      assert(rows == Seq(
        "703|gios|PL|Warszawa|Warszawa-Komunikacyjna|52.2195|21.0042|automatyczny",
        "944|gios|PL|Krakow|Krakow-Kurdwanow|50.0105|19.949|manualna"
      )) // Polish + English key fallbacks; coordless 999 dropped
      // the reference's pl_only_auto predicate (P7) composes downstream
      val auto = Normalize.onlyAutomatic(file)
      assert(collectRows(auto.select(col("station_id"))) == Seq("703"))
    }
  }
}
