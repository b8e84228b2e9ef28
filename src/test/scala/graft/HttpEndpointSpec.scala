package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.HttpEndpoint

/** Integration test of the HTTP front door (HTTPHandler.cpp
  * semantics): ping, GET ?query=, POST body, query-param + body
  * concatenation, FORMAT selection, DDL + INSERT + SELECT round-trip,
  * error surface. */
class HttpEndpointSpec extends SparkSpec {

  private lazy val endpoint = new HttpEndpoint(spark, port = 0)
  private lazy val port = { endpoint.start(); endpoint.boundPort }
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    endpoint.stop()
    super.afterAll()
  }

  private def get(pathAndQuery: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(body: String, query: String = ""): HttpResponse[String] = {
    val q = if (query.nonEmpty) "/?" + query else "/"
    client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$q"))
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")

  test("ping and root answer Ok.") {
    assert(get("/ping").body() == "Ok.\n")
    assert(get("/").body() == "Ok.\n")
    assert(get("/nope").statusCode() == 404)
  }

  test("GET ?query= returns TabSeparated by default") {
    val r = get("/?query=" + enc("SELECT 1 + 1, 'x'"))
    assert(r.statusCode() == 200)
    assert(r.body() == "2\tx\n")
  }

  test("POST body is the query; FORMAT clause picks the renderer") {
    val r = post("SELECT 3 AS a, 'y' AS b FORMAT JSONEachRow")
    assert(r.statusCode() == 200)
    assert(r.body().trim == """{"a":3,"b":"y"}""")
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("application/json"))
  }

  test("query param + body concatenate like the reference") {
    // HTTPHandler.cpp:173-177: query = param + '\n' + body
    val r = post("2 AS two", "query=" + enc("SELECT 1 AS one,"))
    assert(r.statusCode() == 200)
    assert(r.body() == "1\t2\n")
  }

  test("default_format parameter applies when no FORMAT clause") {
    val r = get("/?default_format=CSVWithNames&query=" + enc("SELECT 1 AS a, 'q' AS s"))
    assert(r.body() == "\"a\",\"s\"\n1,\"q\"\n")
  }

  test("DDL + INSERT + SELECT round-trip over HTTP") {
    post("DROP TABLE IF EXISTS http_t")
    assert(post("CREATE TABLE http_t (k UInt32, v String) ENGINE = Memory").statusCode() == 200)
    assert(post("INSERT INTO http_t VALUES (1, 'a'), (2, 'b')").statusCode() == 200)
    val r = post("SELECT k, v FROM http_t ORDER BY k FORMAT TSVWithNames")
    assert(r.body() == "k\tv\n1\ta\n2\tb\n")
    post("DROP TABLE http_t")
  }

  test("CollapsingMergeTree state update over HTTP: FINAL keeps the last +1 row") {
    post("DROP TABLE IF EXISTS http_col")
    assert(post("CREATE TABLE http_col (d Date, k UInt32, val UInt32, sign Int8) " +
      "ENGINE = CollapsingMergeTree(d, k, 8192, sign)").statusCode() == 200)
    assert(post("INSERT INTO http_col VALUES ('2024-01-01', 1, 5, 1)").statusCode() == 200)
    // cancel the old state row, write the new one
    assert(post("INSERT INTO http_col VALUES ('2024-01-01', 1, 5, -1), " +
      "('2024-01-01', 1, 3, 1)").statusCode() == 200)
    assert(post("SELECT k, val, sign FROM http_col FINAL ORDER BY k").body() == "1\t3\t1\n")
    post("DROP TABLE http_col")
  }

  test("errors return 500 with the exception text") {
    val r = post("SELECT nonexistent_fn_xyz(1)")
    assert(r.statusCode() == 500)
    assert(r.body().startsWith("Code:"))
  }

  test("table function through HTTP: remote() doubles a two-shard pattern") {
    post("DROP TABLE IF EXISTS http_r")
    post("CREATE TABLE http_r (x UInt8) ENGINE = Memory")
    post("INSERT INTO http_r VALUES (7)")
    val r = post("SELECT count() FROM remote('127.0.0.{1,2}', default, http_r)")
    assert(r.body() == "2\n")
    post("DROP TABLE http_r")
  }
}
