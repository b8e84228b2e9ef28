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

  test("INTO OUTFILE over HTTP is refused and writes nothing") {
    val target = java.nio.file.Files.createTempDirectory("http_outfile").resolve("x.tsv")
    val r = post(s"SELECT 1 INTO OUTFILE '$target'")
    assert(r.statusCode() == 500 && r.body().contains("INTO OUTFILE"), r.body())
    assert(!java.nio.file.Files.exists(target))
    // the words inside a string literal are data
    assert(post("SELECT 'into outfile'").body() == "into outfile\n")
  }

  test("the HTTP body is executeRendered's text plus a newline") {
    def same(q: String, query: String = ""): String = {
      val r = post(q, query)
      assert(r.statusCode() == 200, s"$q: ${r.body()}")
      val fmt = "default_format=(\\w+)".r.findFirstMatchIn(query)
        .fold("")(" FORMAT " + _.group(1))
      assert(r.body() == graft.sql.ChDdl.executeRendered(spark, q + fmt)
        .fold("")(_ + "\n"), q)
      r.body()
    }
    post("DROP TABLE IF EXISTS http_eq")
    post("CREATE TABLE http_eq (k UInt32, e Enum8('a' = 1, 'b' = 2), s String) " +
      "ENGINE = Memory")
    post("INSERT INTO http_eq VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'b', 'z')")
    Seq(
      "SELECT e, count() AS c FROM http_eq GROUP BY e WITH TOTALS ORDER BY e",
      "SELECT k, e FROM http_eq ORDER BY k",
      "SELECT k, v FROM http_eq ANY LEFT JOIN (SELECT 2 AS k, 'two' AS v) USING k " +
        "ORDER BY k",
      "SELECT k, s FROM http_eq ORDER BY k SETTINGS extremes = 1",
      "SELECT 1 AS a, k, count() AS c FROM http_eq GROUP BY k ORDER BY k FORMAT JSON",
      "SELECT 1 AS a, k, count() AS c FROM http_eq GROUP BY k ORDER BY k " +
        "FORMAT JSONCompact",
      "SELECT 1 AS a, k, s FROM http_eq ORDER BY k FORMAT XML",
      "SELECT 1 AS a, k, s FROM http_eq ORDER BY k FORMAT TSVWithNamesAndTypes",
      "SELECT k, s FROM http_eq ORDER BY k FORMAT Pretty",
      "SELECT k, s FROM http_eq ORDER BY k FORMAT Vertical",
      "SELECT k, s FROM http_eq ORDER BY k FORMAT Values"
    ).foreach(q => assert(same(q).nonEmpty, q))
    assert(same("SELECT k, s FROM http_eq ORDER BY k", "default_format=JSONCompact")
      .startsWith("{"))
    assert(same("DESCRIBE TABLE http_eq", "default_format=TSVWithNames")
      .startsWith("name\t"))
    // default_format reaches every statement with a result, and the
    // content type follows the format the body was rendered in
    val exists = post("EXISTS TABLE http_eq", "default_format=JSON")
    assert(exists.headers().firstValue("Content-Type").get.startsWith("application/json"))
    assert(same("EXISTS TABLE http_eq", "default_format=JSON").contains("\"data\""))
    post("DROP TABLE http_eq")

    // the ingest benchmark's reads: a negative sum, FINAL over each
    // folding engine, and an empty FINAL
    val ddl = Seq(
      "http_sum" -> "SummingMergeTree(d, k, 8192)",
      "http_rep" -> "ReplacingMergeTree(d, k, 8192, val)",
      "http_col" -> "CollapsingMergeTree(d, k, 8192, sign)")
    ddl.foreach { case (t, engine) =>
      post(s"DROP TABLE IF EXISTS $t")
      post(s"CREATE TABLE $t (d Date, k UInt32, val UInt32, sign Int8) ENGINE = $engine")
      post(s"INSERT INTO $t FORMAT TabSeparated\n" +
        "2024-01-01\t1\t5\t1\n2024-01-01\t2\t4\t-1\n2024-01-01\t1\t3\t-1\n" +
        "2024-01-01\t2\t6\t-1\n")
      assert(same(s"SELECT k, val, sign FROM $t FINAL ORDER BY k").nonEmpty, t)
    }
    assert(same("SELECT sum(sign), sum(val * sign) FROM http_col") == "-2\t-8\n")
    post("CREATE TABLE http_empty (d Date, k UInt32, val UInt32, sign Int8) " +
      "ENGINE = CollapsingMergeTree(d, k, 8192, sign)")
    assert(same("SELECT k, val, sign FROM http_empty FINAL ORDER BY k") == "")
    (ddl.map(_._1) :+ "http_empty").foreach(t => post(s"DROP TABLE $t"))
  }

  test("an unknown FORMAT fails with 500; FORMAT Null answers nothing") {
    Seq("SELECT 1 FORMAT Bogus" -> "", "SELECT 1" -> "default_format=Bogus",
        "SELECT 1 FORMAT JSONCompactEachRow" -> "").foreach { case (q, query) =>
      val r = post(q, query)
      assert(r.statusCode() == 500 && r.body().contains("Unknown format"), s"$q: ${r.body()}")
    }
    val r = post("SELECT 1 FORMAT Null")
    assert(r.statusCode() == 200 && r.body() == "", r.body())
  }
}
