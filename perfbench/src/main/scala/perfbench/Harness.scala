package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM half of the benchmark: runs one workload as a single
  * closed-loop client against graft's public entry points and writes
  * raw timings, outputs and (with `--trace 1`) spans and listener
  * records under `--out`. `perfbench/run.py` generates the inputs,
  * checks the outputs and turns the records into metrics.
  *
  * A run is: set-up (session start, a warm-up round on tiny inputs where
  * the workload has one, then registering the inputs three times), then
  * the workload's fixed number of rounds, and more whole rounds while
  * fewer than `--seconds` have passed. With tracing on, the same rounds
  * are traced.
  */
object Harness {

  /** Epoch microseconds at nanoTime resolution, comparable with the
    * epoch-millisecond stamps of Spark's listener events. */
  object Clock {
    private val baseUs = System.currentTimeMillis() * 1000L
    private val baseNs = System.nanoTime()
    def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** CPU time of the whole process (every thread: tasks, driver, the
      * in-process server, JIT, GC), microseconds. */
    def cpuUs(): Long = os.getProcessCpuTime / 1000L
  }

  final class Lines(file: File) {
    private val w = new PrintWriter(file, "UTF-8")
    def add(s: String): Unit = w.println(s)
    def close(): Unit = w.close()
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** One result cell as JSON: numbers stay numbers, dates and
    * timestamps become UTC strings, arrays and structs become arrays. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => if (b) "1" else "0"
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => json(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n: java.lang.Number => n.toString
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case t: java.sql.Timestamp => str(tsFmt.format(t.toInstant))
    case t: java.time.Instant => str(tsFmt.format(t))
    case t: java.time.LocalDateTime => str(tsFmt.format(t.toInstant(java.time.ZoneOffset.UTC)))
    case a: Array[Byte] => str(a.map(b => f"${b & 0xff}%02x").mkString)
    case s: scala.collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(json).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${json(k)},${json(x)}]" }.mkString("[", ",", "]")
    case o => str(o.toString)
  }

  /** Spans recorded by the benchmark's own code around each call into
    * a layer; kept in memory, written at the end. */
  final class Tracer {
    var on = false
    var op = ""
    val spans = ArrayBuffer.empty[String]
    private var stack: List[Int] = Nil
    private var next = 0
    def span[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val id = next
        next += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = Clock.us()
        try body
        finally {
          val t1 = Clock.us()
          stack = stack.tail
          spans += s"""{"id":$id,"parent":$parent,"op":${str(op)},"name":${str(name)},"start_us":$t0,"end_us":$t1}"""
        }
      }
  }

  /** Scheduler and executor counts from Spark's public listener API:
    * one record per job and per stage (task metrics summed over the
    * stage's tasks). Events carry their own timestamps, so they are
    * attributed to operations by time after the run. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
    private val acc = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, st) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, Nil))
      jobs.add(s"""{"job":${e.jobId},"start_ms":$t0,"end_ms":${e.time},"stages":${st.mkString("[", ",", "]")}}""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc.computeIfAbsent(e.stageId, _ => new Array[Long](14))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.executorCpuTime
          a(3) += m.jvmGCTime
          a(4) += m.inputMetrics.bytesRead
          a(5) += m.inputMetrics.recordsRead
          a(6) += m.shuffleWriteMetrics.bytesWritten
          a(7) += m.shuffleWriteMetrics.recordsWritten
          a(8) += m.shuffleReadMetrics.totalBytesRead
          a(9) += m.shuffleReadMetrics.recordsRead
          a(10) += m.memoryBytesSpilled
          a(11) += m.diskBytesSpilled
          a(12) += m.outputMetrics.bytesWritten
          a(13) += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = Option(acc.remove(si.stageId)).getOrElse(new Array[Long](14))
      val keys = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "in_bytes", "in_rows",
        "shw_bytes", "shw_rows", "shr_bytes", "shr_rows", "spill_mem", "spill_disk",
        "out_bytes", "out_rows")
      val fields = keys.zip(a).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      stages.add(s"""{"stage":${si.stageId},"submit_ms":${si.submissionTime.getOrElse(0L)},"end_ms":${si.completionTime.getOrElse(0L)},$fields}""")
    }
  }

  /** Catalyst phase times (QueryExecution.tracker) and plan sizes for
    * every action, from the public QueryExecutionListener. */
  final class PlanRecorder extends QueryExecutionListener {
    val qes = new ConcurrentLinkedQueue[String]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
        s"""${str(n)}:[${p.startTimeMs},${p.endTimeMs}]"""
      }.mkString("{", ",", "}")
      val nodes = try qe.analyzed.collect { case p => p }.size catch { case _: Throwable => 0 }
      qes.add(s"""{"phases":$phases,"plan_nodes":$nodes}""")
    }
  }

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    new File(a.out, "results").mkdirs()
    // at most nproc task threads, and at most 4
    val threads = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = a.workload match {
      case "hits_olap" => new HitsOlap(spark, a)
      case "pipeline_sf01" => new Pipeline(spark, a)
      case "ingest_http" => new IngestHttp(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionUs = Clock.us() - jvmStartMs * 1000L
    val warm = new Lines(new File(a.out, "warmup.jsonl"))
    val warmupUs = w.timed(1)(w.warmup(warm)).head
    warm.close()
    val registerUs = w.timed(3)(w.register())

    val tracer = w.tracer
    val recorder = new Recorder
    val plans = new PlanRecorder
    val ops = new Lines(new File(a.out, "ops.jsonl"))
    if (a.trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(plans)
      tracer.on = true
    }
    val t0 = System.nanoTime()
    var round = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the workload's rounds, then whole rounds until --seconds have passed
    while (round < w.rounds || elapsed < a.seconds) {
      val r0 = Clock.us()
      w.round(round, ops)
      ops.add(s"""{"round":$round,"op":"__round__","start_us":$r0,"end_us":${Clock.us()}}""")
      round += 1
    }
    ops.close()
    // the heap the engine keeps after the rounds (catalog, caches, table
    // plans): in use after a full collection, once Spark's cleaner has
    // dropped the blocks and shuffles of collected plans
    System.gc()
    Thread.sleep(500)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    w.close()
    if (a.trace) {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      def dump(name: String, xs: Iterable[String]): Unit = {
        val l = new Lines(new File(a.out, name))
        xs.foreach(l.add)
        l.close()
      }
      dump("spans.jsonl", tracer.spans)
      dump("jobs.jsonl", recorder.jobs.asScala)
      dump("stages.jsonl", recorder.stages.asScala)
      dump("plans.jsonl", plans.qes.asScala)
    }
    val s = new Lines(new File(a.out, "summary.json"))
    s.add(s"""{"session_s":${sessionUs / 1e6},"warmup_s":${warmupUs / 1e6},"register_s":${registerUs.map(_ / 1e6).mkString("[", ",", "]")},"rounds":$round,"retained_heap_mb":$retainedMb}""")
    s.close()
    // every record is on disk; skip Spark's shutdown (its local
    // directories live under --out, which the next run clears)
    Runtime.getRuntime.halt(0)
  }

  /** One workload. `warmup` runs the JIT and code-generation warm-up of
    * set-up, if any, with its operations recorded apart; `register`
    * makes the inputs known to the engine (the repeatable part of
    * set-up); `round` runs every operation once. */
  abstract class Workload(val spark: SparkSession, val a: Args) {
    val tracer = new Tracer
    /** Rounds every run measures, whatever `--seconds` is. */
    val rounds: Int = 1
    def warmup(ops: Lines): Unit = ()
    def register(): Unit
    def round(r: Int, ops: Lines): Unit
    def close(): Unit = ()

    /** Time one operation; a thrown exception is a failed operation. */
    def op(r: Int, ops: Lines, name: String, kind: String)(body: => Long): Unit = {
      tracer.op = s"$name#$r"
      val (t0, c0) = (Clock.us(), Clock.cpuUs())
      val (rows, err) =
        try (tracer.span("op")(body), None)
        catch { case e: Throwable => (-1L, Some(Option(e.getMessage).getOrElse(e.toString))) }
      val (t1, c1) = (Clock.us(), Clock.cpuUs())
      ops.add(s"""{"round":$r,"op":${str(name)},"kind":${str(kind)},"start_us":$t0,"end_us":$t1,"cpu_us":${c1 - c0},"rows":$rows,"error":${err.map(m => str(m.take(300))).getOrElse("null")}}""")
    }

    def writeRows(file: String, df: DataFrame, rows: Array[Row]): Unit = {
      val w = new PrintWriter(new File(a.out, "results/" + file), "UTF-8")
      try {
        w.println(df.columns.map(str).mkString("[", ",", "]"))
        rows.foreach(r => w.println(r.toSeq.map(json).mkString("[", ",", "]")))
      } finally w.close()
    }

    def lines(file: String): Seq[String] =
      Files.readAllLines(Paths.get(a.data, file), UTF_8).asScala.toSeq.filter(_.trim.nonEmpty)

    /** Repeat `pass` `n` times and return each pass's duration. */
    def timed(n: Int)(pass: => Unit): Seq[Long] = (1 to n).map { _ =>
      val t0 = Clock.us()
      pass
      Clock.us() - t0
    }
  }

  /** The reference's 43 published `hits` queries in the ClickHouse
    * dialect, through ChDdl.execute, results collected. */
  final class HitsOlap(s: SparkSession, a0: Args) extends Workload(s, a0) {
    private val queries = lines("hits_queries.sql")
    private val dir = new File(a.data, "hits").getAbsolutePath
    // the sparse-index sidecars a MergeTree write leaves next to its
    // parts (graft's primary.idx analog)
    graft.operators.FooterStats.writeSidecars(spark.sessionState.newHadoopConf(), dir)
    def register(): Unit = spark.read.parquet(dir).createOrReplaceTempView("hits")
    def round(r: Int, ops: Lines): Unit = queries.zipWithIndex.foreach { case (q, i) =>
      val name = f"q${i + 1}%02d"
      var out: (DataFrame, Array[Row]) = null
      op(r, ops, name, "query") {
        if (tracer.on) tracer.span("sql.translate")(graft.sql.ChSql.translate(q))
        val df = tracer.span("sql.execute")(graft.sql.ChDdl.execute(spark, q).get)
        val rows = tracer.span("action")(df.collect())
        out = (df, rows)
        rows.length.toLong
      }
      if (out != null) writeRows(s"$name.r$r.jsonl", out._1, out._2)
    }
  }

  /** Registered data-pipeline and kernel queries through the DataFrame
    * API; each result is written as parquet with graft's Native format.
    * A cold round is three times a warm one (JIT of the kernels), so
    * set-up runs one round on the tiny inputs under `--data`/tiny. */
  final class Pipeline(s: SparkSession, a0: Args) extends Workload(s, a0) {
    private val names = lines("pipeline_queries.txt")
    private val fns = names.map(n => n -> graft.Registry.queriesMap(n))
    // the Registry's oracle SQL for the checks
    locally {
      val w = new PrintWriter(new File(a.out, "oracle.json"), "UTF-8")
      try w.println(names.flatMap(n => graft.Registry.oracleMap.get(n)
        .map(sql => s"${str(n)}:${str(sql)}")).mkString("{", ",", "}"))
      finally w.close()
    }
    private val full = new File(a.data, "full").getAbsolutePath
    // warm rounds keep getting cheaper (round 0 after the warm-up costs
    // about 1.6 times round 2): a fixed count keeps runs comparable
    override val rounds = 2
    override def warmup(ops: Lines): Unit = pass(-1, ops, new File(a.data, "tiny").getAbsolutePath)
    def register(): Unit =
      Seq("documents", "embeddings", "events").foreach(t => graft.core.Tables(spark, full, t).schema)
    def round(r: Int, ops: Lines): Unit = pass(r, ops, full)
    private def pass(r: Int, ops: Lines, dir: String): Unit =
      fns.foreach { case (n, fn) =>
        op(r, ops, n, "query") {
          val df = tracer.span("plans.build")(fn(spark, dir))
          tracer.span("sources.write")(graft.sources.Formats.write(
            df, new File(a.out, s"results/$n.r$r").getAbsolutePath, "Native"))
          0L
        }
      }
  }

  /** INSERT … FORMAT TabSeparated batches over HTTP into Summing,
    * Replacing and Collapsing MergeTree tables, with reads between the
    * batches, then OPTIMIZE and SELECT … FINAL. Every round rebuilds
    * the tables from scratch, so each round does the same work. */
  final class IngestHttp(s: SparkSession, a0: Args) extends Workload(s, a0) {
    private val endpoint = new graft.server.HttpEndpoint(spark, port = 0)
    private val port = endpoint.start()
    private val client = HttpClient.newHttpClient()
    private val engines = Seq("summing", "replacing", "collapsing")
    private val ddl = Map(
      "summing" -> "CREATE TABLE ing_summing (d Date, k UInt32, hits UInt64, cost UInt64) ENGINE = SummingMergeTree(d, k, 8192)",
      "replacing" -> "CREATE TABLE ing_replacing (d Date, k UInt32, ver UInt64, v String) ENGINE = ReplacingMergeTree(d, k, 8192, ver)",
      "collapsing" -> "CREATE TABLE ing_collapsing (d Date, k UInt32, val UInt32, sign Int8) ENGINE = CollapsingMergeTree(d, k, 8192, sign)")
    private val reads = Map(
      "summing" -> "SELECT sum(hits), sum(cost), uniqExact(k) FROM ing_summing",
      "replacing" -> "SELECT uniqExact(k), max(ver) FROM ing_replacing",
      "collapsing" -> "SELECT sum(sign), sum(val * sign) FROM ing_collapsing")
    private val finals = Map(
      "summing" -> "SELECT k, hits, cost FROM ing_summing FINAL ORDER BY k",
      "replacing" -> "SELECT k, ver, v FROM ing_replacing FINAL ORDER BY k",
      "collapsing" -> "SELECT k, val, sign FROM ing_collapsing FINAL ORDER BY k")
    private val schemas = Map(
      "summing" -> StructType(Seq(StructField("d", DateType), StructField("k", LongType),
        StructField("hits", LongType), StructField("cost", LongType))),
      "replacing" -> StructType(Seq(StructField("d", DateType), StructField("k", LongType),
        StructField("ver", LongType), StructField("v", StringType))),
      "collapsing" -> StructType(Seq(StructField("d", DateType), StructField("k", LongType),
        StructField("val", LongType), StructField("sign", IntegerType))))
    private def batches(dir: String, e: String): Seq[String] =
      new File(a.data, s"$dir/$e").listFiles().map(_.getName).sorted.toSeq
        .map(f => new String(Files.readAllBytes(Paths.get(a.data, dir, e, f)), UTF_8))

    private val full = engines.map(e => e -> batches("full", e)).toMap

    /** One request; a non-200 answer throws, failing the operation. */
    def post(body: String): String = tracer.span("server.request") {
      val rsp = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/"))
          .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
        HttpResponse.BodyHandlers.ofString(UTF_8))
      if (rsp.statusCode() != 200)
        throw new IllegalStateException(s"HTTP ${rsp.statusCode()}: ${rsp.body().take(200)}")
      rsp.body()
    }

    private def cycle(r: Int, ops: Lines, data: Map[String, Seq[String]]): Unit = {
      def run(name: String, kind: String)(body: => String): Unit = {
        var out: String = null
        op(r, ops, name, kind) {
          out = body
          out.count(_ == '\n').toLong
        }
        if (out != null) {
          val w = new PrintWriter(new File(a.out, s"results/$name.r$r.tsv"), "UTF-8")
          try w.print(out) finally w.close()
        }
      }
      engines.foreach { e =>
        run(s"create.$e", "ddl") {
          post(s"DROP TABLE IF EXISTS ing_$e")
          post(ddl(e))
        }
      }
      val n = data(engines.head).size
      (0 until n).foreach { b =>
        engines.foreach { e =>
          run(f"insert.$e.b$b%02d", "insert") {
            if (tracer.on) tracer.span("sources.parse")(
              graft.sources.InputFormats.parse(spark, "TabSeparated", data(e)(b), schemas(e)))
            post(s"INSERT INTO ing_$e FORMAT TabSeparated\n" + data(e)(b))
          }
        }
        engines.foreach { e =>
          run(f"read.$e.b$b%02d", "read") {
            if (tracer.on) tracer.span("sql.translate")(graft.sql.ChSql.translate(reads(e)))
            post(reads(e))
          }
        }
      }
      engines.foreach(e => run(s"optimize.$e", "optimize")(post(s"OPTIMIZE TABLE ing_$e")))
      engines.foreach { e =>
        run(s"final.$e", "final") {
          if (tracer.on) tracer.span("sql.translate")(graft.sql.ChSql.translate(finals(e)))
          post(finals(e))
        }
      }
      // fixed input, independent of the seed: a collapsing state update
      // (cancel the old state row, write the new one); the last positive
      // row (val 3) must survive the fold
      run("probe.collapsing_update", "probe") {
        post("DROP TABLE IF EXISTS ing_probe")
        post("CREATE TABLE ing_probe (d Date, k UInt32, val UInt32, sign Int8) " +
          "ENGINE = CollapsingMergeTree(d, k, 8192, sign)")
        post("INSERT INTO ing_probe VALUES ('2024-01-01', 1, 5, 1)")
        post("INSERT INTO ing_probe VALUES ('2024-01-01', 1, 5, -1), ('2024-01-01', 1, 3, 1)")
        post("SELECT k, val, sign FROM ing_probe FINAL ORDER BY k")
      }
    }

    def register(): Unit = engines.foreach { e =>
      post(s"DROP TABLE IF EXISTS ing_$e")
      post(ddl(e))
    }
    def round(r: Int, ops: Lines): Unit = cycle(r, ops, full)
    override def close(): Unit = endpoint.stop()
  }
}
