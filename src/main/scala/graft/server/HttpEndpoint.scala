package graft.server

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.sql.{ChDdl, ChSql}

/** HTTP query endpoint speaking the reference's HTTP protocol
  * (dbms/src/Server/HTTPHandler.cpp:162-280, HTTPRequestHandlerFactory):
  *
  *  - the query is the `query` URL parameter, a newline, then the
  *    request body (either part may be empty — GET `?query=...` and
  *    plain POST both work);
  *  - `GET /` and `GET /ping` answer `Ok.` (health probe for load
  *    balancers);
  *  - a trailing `FORMAT <name>` clause — or the `default_format`
  *    parameter — picks the wire format; the default is TabSeparated
  *    (executeQuery.cpp HTTP default);
  *  - errors return HTTP 500 with the exception text in the body,
  *    `X-ClickHouse-Exception-Code` style reduced to plain text.
  *
  * Statements run one at a time through the dialect, so the endpoint
  * exposes all of it (CREATE/INSERT/OPTIMIZE/ALTER, table functions,
  * FINAL, …): every statement but the last through [[ChDdl.execute]],
  * the last through [[ChDdl.executeRendered]], the same renderer the
  * client path uses (HTTPHandler and the client share executeQuery),
  * so only the last statement's result is sent (the reference rejects
  * multi-statement, we are slightly laxer for test convenience).
  *
  * Rendering collects the result to the server thread — the endpoint
  * is an interactive front door for small result sets, exactly like
  * the reference's HTTP interface (which streams, but is used for
  * human-sized outputs); bulk export goes through Formats.write's
  * distributed parquet/csv path instead.
  */
final class HttpEndpoint(spark: SparkSession, port: Int = 8123) {

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/", handle _)
  server.setExecutor(null) // serial: one query at a time, like a single client

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)

  /** Which port the OS actually bound (for port=0 ephemeral tests). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String = "text/tab-separated-values; charset=UTF-8"): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    val os: OutputStream = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) URLDecoder.decode(kv, "UTF-8") -> ""
        else URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap

  // an INSERT whose statement ends at `FORMAT <name>`: everything
  // after that line is raw ROW DATA, not SQL (HTTPHandler passes the
  // rest of the body to the format's BlockInputStream)
  private val insertDataRe =
    "(?is)^\\s*(INSERT\\s+INTO\\s+[^\\n]*?FORMAT\\s+[A-Za-z]+)\\s*\\n(.*)$".r

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val params = queryParams(ex)
      // add_http_cors_header=1 + an Origin request header → CORS `*`
      // (HTTPHandler.cpp cors; 00372_cors_header.sh)
      if (params.get("add_http_cors_header").contains("1") &&
        ex.getRequestHeaders.containsKey("Origin"))
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val queryParam = params.getOrElse("query", "")
      val full = (if (queryParam.nonEmpty) queryParam + "\n" else "") + body
      // URL-parameter settings are PER QUERY in the reference
      // (Context::setSetting from HTMLForm) — snapshot and restore so
      // one request's tolerance doesn't leak into the next (the
      // endpoint is serial, so the save/restore pair is race-free)
      val saved = (ChDdl.inputAllowErrorsNum, ChDdl.inputAllowErrorsRatio,
        ChDdl.inputSkipUnknownFields)
      params.get("input_format_allow_errors_num")
        .foreach(v => ChDdl.inputAllowErrorsNum = v.toLong)
      params.get("input_format_allow_errors_ratio")
        .foreach(v => ChDdl.inputAllowErrorsRatio = v.toDouble)
      params.get("input_format_skip_unknown_fields")
        .foreach(v => ChDdl.inputSkipUnknownFields = v != "0")
      try handleBody(ex, path, params, full)
      finally {
        ChDdl.inputAllowErrorsNum = saved._1
        ChDdl.inputAllowErrorsRatio = saved._2
        ChDdl.inputSkipUnknownFields = saved._3
      }
    } catch {
      case t: Throwable =>
        val msg = s"Code: 1000. Exception: ${Option(t.getMessage).getOrElse(t.toString)}\n"
        respond(ex, 500, msg.getBytes(UTF_8), "text/plain; charset=UTF-8")
    }

  private def handleBody(ex: HttpExchange, path: String,
      params: Map[String, String], full: String): Unit = {
      if (full.trim.isEmpty) {
        // health probe: `GET /` or `GET /ping` → "Ok." (HTTPHandler.cpp:444)
        if (path == "/" || path == "/ping")
          respond(ex, 200, "Ok.\n".getBytes(UTF_8), "text/html; charset=UTF-8")
        else respond(ex, 404, s"There is no handle $path\n".getBytes(UTF_8),
          "text/plain; charset=UTF-8")
      } else full match {
        case insertDataRe(stmt, data)
            if !"(?is)\\bFORMAT\\s+Values\\s*$".r.findFirstIn(stmt).isDefined ||
              data.trim.nonEmpty =>
          ChDdl.insertWithData(spark, stmt, data)
          respond(ex, 200, Array.emptyByteArray, "text/plain; charset=UTF-8")
        case _ =>
          // the server never writes a file the client names
          // (00415_into_outfile.sh: INTO OUTFILE over HTTP must fail)
          require("(?i)\\bINTO\\s+OUTFILE\\b".r.findFirstIn(ChSql.maskQuotes(full)).isEmpty,
            "INTO OUTFILE is not allowed over HTTP")
          val stmts = ChSql.statements(full)
          stmts.dropRight(1).foreach(ChDdl.execute(spark, _))
          val default = params.get("default_format")
          val format = ChDdl.outputFormat(stmts.lastOption.getOrElse(""), default)
          val bytes = stmts.lastOption.flatMap(ChDdl.executeRendered(spark, _, default))
            .fold(Array.emptyByteArray)(s =>
              if (ChDdl.BinaryFormats(format)) s.getBytes(ISO_8859_1)
              else (s + "\n").getBytes(UTF_8))
          respond(ex, 200, bytes, contentTypeOf(format))
      }
  }

  private def contentTypeOf(format: String): String = format match {
    case f if ChDdl.BinaryFormats(f) => "application/octet-stream"
    case "json" | "jsoncompact" | "jsoneachrow" => "application/json; charset=UTF-8"
    case "xml" => "application/xml; charset=UTF-8"
    case "csv" | "csvwithnames" => "text/csv; charset=UTF-8"
    // Pretty*/Vertical are human-readable text, not TSV
    // (getContentType in FormatFactory — 00265_content_type.sh)
    case f if f.startsWith("pretty") || f.startsWith("vertical") =>
      "text/plain; charset=UTF-8"
    case _ => "text/tab-separated-values; charset=UTF-8"
  }
}
