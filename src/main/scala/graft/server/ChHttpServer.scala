package graft.server

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.exec.GraftSession
import graft.types.BqlType

/** ClickHouse HTTP interface (the reference ships only the native TCP and
  * MySQL fronts; real CH deployments are driven through port 8123 at least
  * as often — curl, JDBC-over-HTTP, load balancers, health checks — so the
  * drop-in story needs it). Speaks the documented protocol surface:
  *
  *   - `GET /ping` → `Ok.` (the standard health probe) and `GET /` → `Ok.`
  *   - `?query=` URL parameter and/or request body: when BOTH are present
  *     the parameter holds the statement and the body is its INSERT
  *     payload (CH's big-insert idiom:
  *     `curl 'http://host/?query=INSERT+INTO+t+FORMAT+CSV' --data-binary
  *     @rows.csv`); otherwise the body IS the statement.
  *   - `FORMAT X` inside the statement wins; else `?default_format=`;
  *     else TabSeparated. Output formats: TabSeparated[WithNames[AndTypes]]
  *     (TSV aliases), CSV[WithNames], JSON (CH's meta/data/rows envelope),
  *     JSONEachRow, Values.
  *   - `?database=` selects the statement's database (like the native
  *     protocol's Hello database field).
  *   - errors → HTTP 500 with CH's `Code: NN. DB::Exception: …` body and
  *     the `X-ClickHouse-Exception-Code` header.
  *   - responses carry X-ClickHouse-Format / -Query-Id / -Timezone /
  *     -Summary headers (the summary's result counters are exact when the
  *     client buffers with `wait_end_of_query=1`, partial zeros on the
  *     streamed path — CH's own contract); gzip in both directions behind
  *     `enable_http_compression=1` / `Content-Encoding: gzip`.
  *   - `?session_id=` gives the request CH's HTTP-session state (its own
  *     current database via USE, its own temporary tables) — isolated
  *     through a per-session SparkSession and handle, LRU-bounded.
  *
  * Sessionless requests share one GraftSession; statements execute under
  * a lock.
  * Results stream row-group-wise through a chunked response via
  * [[ResultRows]] — the transport is a front door, not the 100 TB
  * egress path (same posture as the wire servers).
  */
final class ChHttpServer(spark: SparkSession, port: Int = 0) {

  private val session = new GraftSession(spark)
  private val lock = new Object
  private val http = HttpServer.create(new InetSocketAddress(port), 0)

  /** `?session_id=` sessions: each gets its OWN SparkSession (so USE —
    * which sets the Spark session's current database — and temporary
    * tables are isolated per session, CH's HTTP-session contract), created
    * lazily and evicted LRU past a small cap. Every session shares the
    * catalog's engine state (views, dictionaries, restore errors), which
    * the default GraftSession restored at server start. Sessionless
    * requests share the default GraftSession.
    */
  private val MaxSessions = 16
  private val sessions =
    new java.util.LinkedHashMap[String, GraftSession](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, GraftSession]): Boolean =
        size() > MaxSessions
    }
  private def sessionFor(id: Option[String]): GraftSession =
    id.fold(session) { sid =>
      sessions.synchronized {
        sessions.computeIfAbsent(sid, _ => new GraftSession(spark.newSession()))
      }
    }

  def boundPort: Int = http.getAddress.getPort

  def start(): ChHttpServer = {
    http.createContext("/", handler _)
    http.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    http.start()
    this
  }

  def stop(): Unit = http.stop(0)

  // ---- request plumbing -------------------------------------------------

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) {
      _.split("&").filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      headers: Seq[(String, String)] = Nil): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def handler(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val params = queryParams(ex)
      // gzip-compressed request bodies (INSERT payloads) decode here,
      // like CH's Content-Encoding handling
      val rawIn = ex.getRequestBody
      val in = if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.toLowerCase.contains("gzip")))
        new java.util.zip.GZIPInputStream(rawIn) else rawIn
      val body = new String(in.readAllBytes(), UTF_8)
      if (path == "/ping" || (path == "/" && params.isEmpty &&
          body.isEmpty && ex.getRequestMethod == "GET")) {
        respond(ex, 200, "Ok.\n".getBytes(UTF_8),
          Seq("Content-Type" -> "text/plain; charset=UTF-8"))
      } else if (path != "/") {
        respond(ex, 404, s"There is no handle $path\n".getBytes(UTF_8))
      } else {
        val (stmt0, payload) = params.get("query") match {
          case Some(q) => (q, body)
          case None => (body, "")
        }
        if (stmt0.trim.isEmpty)
          respond(ex, 400, "Empty query\n".getBytes(UTF_8))
        else serve(ex, stmt0, payload, params)
      }
    } catch {
      case NonFatal(e) =>
        try respond(ex, 500, chError(e).getBytes(UTF_8),
          Seq("X-ClickHouse-Exception-Code" -> "1000"))
        catch { case NonFatal(_) => () }
    } finally ex.close()

  private def chError(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    s"Code: 1000. DB::Exception: $msg\n"
  }

  /** Pull a trailing `FORMAT X` off the statement (the CH HTTP interface
    * treats it as the OUTPUT format selector; GraftSession would accept
    * and drop it, but here it must win over default_format).
    */
  private def splitFormat(stmt: String): (String, Option[String]) = {
    val m = java.util.regex.Pattern.compile(
      "(?is)^(.*?)\\bFORMAT\\s+([A-Za-z]+)\\s*;?\\s*$").matcher(stmt)
    val isInsert = stmt.trim.toLowerCase.startsWith("insert")
    if (!isInsert && m.matches()) (m.group(1).trim, Some(m.group(2)))
    else (stmt, None)
  }

  private def serve(ex: HttpExchange, stmt0: String, payload: String,
                    params: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    val (stmt, inlineFmt) = splitFormat(stmt0)
    val fmt = inlineFmt.orElse(params.get("default_format"))
      .getOrElse("TabSeparated")
    val qid = params.getOrElse("query_id",
      java.util.UUID.randomUUID().toString)
    val ses = sessionFor(params.get("session_id"))
    val df = lock.synchronized {
      params.get("database").foreach(db => ses.sql(s"USE `$db`"))
      ses.sql(stmt, payload)
    }
    // CH's HTTP compression contract: compress the response only when
    // the client both accepts gzip AND asks via enable_http_compression=1
    val gzip = params.get("enable_http_compression").contains("1") &&
      Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
        .exists(_.toLowerCase.contains("gzip"))
    // X-ClickHouse-Summary: CH's progress/result counters as string-typed
    // JSON. An HTTP header must be fixed before the body starts, so the
    // STREAMED path carries the partial (zero-counter) summary — exactly
    // what CH's early progress headers look like — and accurate
    // result_rows/result_bytes come back when the client buffers with
    // wait_end_of_query=1 (CH's own switch for trustworthy summaries).
    def summary(resultRows: Long, resultBytes: Long): String = {
      val el = System.nanoTime() - t0
      s"""{"read_rows":"$resultRows","read_bytes":"$resultBytes",""" +
        s""""written_rows":"0","written_bytes":"0","total_rows_to_read":"0",""" +
        s""""result_rows":"$resultRows","result_bytes":"$resultBytes",""" +
        s""""elapsed_ns":"$el"}"""
    }
    def headers(sum: String) = Seq(
      "Content-Type" -> contentType(fmt),
      "X-ClickHouse-Server-Display-Name" -> ChProto.ServerName,
      "X-ClickHouse-Format" -> fmt,
      "X-ClickHouse-Query-Id" -> qid,
      "X-ClickHouse-Timezone" ->
        ses.spark.conf.get("spark.sql.session.timeZone", "UTC"),
      "X-ClickHouse-Summary" -> sum) ++
      (if (gzip) Seq("Content-Encoding" -> "gzip") else Nil)
    if (df.schema.isEmpty) {
      respond(ex, 200, Array.emptyByteArray, headers(summary(0L, 0L))); return
    }
    if (params.get("wait_end_of_query").contains("1")) {
      // buffered: the summary header carries exact result counters
      val buf = new java.io.ByteArrayOutputStream()
      val os = if (gzip) new java.util.zip.GZIPOutputStream(buf) else buf
      val n = try render(os, df, fmt) finally os.close()
      val body = buf.toByteArray
      respond(ex, 200, body, headers(summary(n, body.length.toLong)))
      return
    }
    // stream the rendered rows chunked (response length 0 = chunked)
    headers(summary(0L, 0L)).foreach { case (k, v) =>
      ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(200, 0L)
    val raw = ex.getResponseBody
    val os = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
    try render(os, df, fmt) finally os.close()
  }

  private def contentType(fmt: String): String =
    fmt.toLowerCase match {
      case f if f.startsWith("json") => "application/json; charset=UTF-8"
      case f if f.startsWith("csv") => "text/csv; charset=UTF-8"
      case _ => "text/tab-separated-values; charset=UTF-8"
    }

  // ---- output formats ----------------------------------------------------

  private def chTypeNames(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f =>
      scala.util.Try(BqlType.fromSpark(f.dataType, f.nullable).chName)
        // a bare NULL literal (NullType) has no declared CH type;
        // CH itself names it Nullable(Nothing)
        .getOrElse("Nullable(Nothing)"))

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => new String(b, UTF_8)
    case other => String.valueOf(other)
  }

  private def tsvEscape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }

  private def csvCell(v: Any): String =
    if (v == null) "\\N"
    else {
      val s = cell(v)
      if (s.exists(c => c == ',' || c == '"' || c == '\n'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case _: java.lang.Number | _: java.lang.Boolean => String.valueOf(v)
    case d: java.math.BigDecimal => d.toPlainString
    case other =>
      "\"" + cell(other).flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
  }

  /** Renders the result in `fmt`; returns the number of data rows
    * rendered (the wait_end_of_query summary's result_rows).
    */
  private def render(os: OutputStream, df: DataFrame, fmt: String): Long = {
    val names = df.columns.toSeq
    val types = chTypeNames(df)
    def w(s: String): Unit = os.write(s.getBytes(UTF_8))
    var rendered = 0L
    def rows: Iterator[Row] =
      ResultRows.of(df).map { r => rendered += 1; r }
    fmt.toLowerCase match {
      case "tabseparated" | "tsv" | "tabseparatedwithnames" |
           "tsvwithnames" | "tabseparatedwithnamesandtypes" |
           "tsvwithnamesandtypes" =>
        val lf = fmt.toLowerCase
        if (lf.contains("withnames"))
          w(names.map(tsvEscape).mkString("", "\t", "\n"))
        if (lf.contains("andtypes"))
          w(types.map(tsvEscape).mkString("", "\t", "\n"))
        rows.foreach { r =>
          w(names.indices.map(i =>
            if (r.isNullAt(i)) "\\N" else tsvEscape(cell(r.get(i))))
            .mkString("", "\t", "\n"))
        }
      case "csv" | "csvwithnames" =>
        if (fmt.toLowerCase.contains("withnames"))
          w(names.map(csvCell).mkString("", ",", "\n"))
        rows.foreach(r => w(names.indices.map(i =>
          if (r.isNullAt(i)) "\\N" else csvCell(r.get(i)))
          .mkString("", ",", "\n")))
      case "jsoneachrow" =>
        rows.foreach { r =>
          w(names.indices.map(i => jsonVal(names(i)) + ":" +
            (if (r.isNullAt(i)) "null" else jsonVal(r.get(i))))
            .mkString("{", ",", "}\n"))
        }
      case "json" =>
        w("{\n\t\"meta\":\n\t[\n")
        w(names.zip(types).map { case (n, t) =>
          s"""\t\t{"name": ${jsonVal(n)}, "type": ${jsonVal(t)}}"""
        }.mkString("", ",\n", "\n\t],\n"))
        w("\t\"data\":\n\t[\n")
        var n = 0L
        rows.foreach { r =>
          if (n > 0) w(",\n")
          w("\t\t" + names.indices.map(i => jsonVal(names(i)) + ": " +
            (if (r.isNullAt(i)) "null" else jsonVal(r.get(i))))
            .mkString("{", ", ", "}"))
          n += 1
        }
        w(s"\n\t],\n\n\t\"rows\": $n\n}\n")
      case "values" =>
        rows.foreach { r =>
          w(names.indices.map(i =>
            if (r.isNullAt(i)) "NULL"
            else r.get(i) match {
              case x: java.lang.Number => String.valueOf(x)
              case other => "'" + cell(other).replace("'", "''") + "'"
            }).mkString("(", ",", ")\n"))
        }
      case "pretty" | "prettycompact" =>
        // CH's box table; display format — buffered and capped at 10k
        // rows like clickhouse-client's Pretty output
        val buf = rows.take(10000).toVector
        val cells = buf.map(r => names.indices.map(i =>
          if (r.isNullAt(i)) "ᴺᵁᴸᴸ" else cell(r.get(i))))
        val widths = names.indices.map(i =>
          (names(i).length +: cells.map(_(i).length)).max)
        def line(l: String, m: String, r: String): String =
          widths.map(x => "─" * (x + 2)).mkString(l, m, r) + "\n"
        w(line("┌", "┬", "┐"))
        w(names.indices.map(i => " " + names(i).padTo(widths(i), ' ') + " ")
          .mkString("│", "│", "│\n"))
        cells.foreach { r =>
          w(names.indices.map(i => " " + r(i).padTo(widths(i), ' ') + " ")
            .mkString("│", "│", "│\n"))
        }
        w(line("└", "┴", "┘"))
        w(s"${cells.size} rows in set.\n")
      case other =>
        throw new IllegalArgumentException(s"unsupported FORMAT $other " +
          "(supported: TabSeparated[WithNames[AndTypes]], TSV*, " +
          "CSV[WithNames], JSON, JSONEachRow, Values, Pretty[Compact])")
    }
    rendered
  }
}
