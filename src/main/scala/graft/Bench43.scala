package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own 43 published benchmark queries
  * (dbms/benchmark/clickhouse/queries.sql:1-43) run VERBATIM through
  * the ChSql dialect over a synthetic web-analytics `hits` table
  * (93 columns, dbms/benchmark/greenplum/schema.sql:1) — the direct
  * BASELINE comparison point the shape-analogy bench lacked.
  *
  * `main` generates the table if absent (deterministic, pure column
  * expressions over spark.range — no driver data), pins it in the
  * page cache (CacheKeeper), runs an untimed JIT pre-lap over every
  * query, then executes each query 3× through graft.sql.ChDdl.execute
  * with a noop sink (the reference benchmark's FORMAT Null) and
  * writes bench_43.json: per-query min-of-3 seconds (all runs warm by
  * construction; raw triples recorded), the published ClickHouse warm
  * seconds (website/benchmark.html:421-474, min of the two warm
  * runs), and the ratio.
  */
object Bench43 {

  /** Published ClickHouse warm times (s), 10M rows, FORMAT Null —
    * website/benchmark.html "data_size": 10000000 block, min of the
    * second and third run per query. */
  val baselineWarm: Seq[Double] = Seq(
    0.003, 0.003, 0.009, 0.008, 0.031, 0.047, 0.006, 0.004, 0.123,
    0.131, 0.026, 0.028, 0.090, 0.103, 0.101, 0.083, 0.210, 0.114,
    0.346, 0.006, 0.072, 0.097, 0.206, 0.211, 0.037, 0.032, 0.038,
    0.110, 0.171, 0.462, 0.096, 0.132, 0.533, 0.332, 0.321, 0.124,
    0.143, 0.051, 0.044, 0.224, 0.013, 0.013, 0.012)

  /** Published ClickHouse warm times (s), 100M rows, FORMAT Null —
    * website/benchmark.html "data_size": 100000000 block, min of the
    * second and third run per query. */
  val baselineWarm100m: Seq[Double] = Seq(
    0.011, 0.008, 0.064, 0.045, 0.096, 0.204, 0.044, 0.009, 0.427,
    0.508, 0.165, 0.187, 0.594, 0.715, 0.746, 0.727, 2.051, 0.994,
    4.869, 0.033, 0.762, 0.952, 1.566, 1.013, 0.215, 0.178, 0.222,
    1.296, 1.110, 4.349, 0.677, 1.000, 5.651, 3.206, 3.272, 1.216,
    0.099, 0.038, 0.037, 0.174, 0.011, 0.009, 0.002)

  val queriesFile = "/root/reference/dbms/benchmark/clickhouse/queries.sql"

  /** Deterministic synthetic hits table, ClickBench-ish marginals:
    * CounterID 34 ~5% of rows, SearchPhrase ~10% non-empty, AdvEngineID
    * ~2% non-zero, URL ~8% containing 'metrika', Title ~2% containing
    * 'Яндекс', EventDate spanning 2013-07-01..31, UserID drawn from
    * ~1.7M 64-bit values, and a 0.1% slice of RefererHash/URLHash
    * pinned to halfMD5('http://example.ru/') so queries 41/42 select
    * rows. Everything is a codegen'd expression over spark.range —
    * generation is one narrow pass, writes partitioned parquet. */
  def generate(spark: SparkSession, path: String, rows: Long): Unit = {
    val exampleRuHash = functions.HashFns.halfMD5(
      "http://example.ru/".getBytes("UTF-8"))
    def h(k: Int) = expr(s"xxhash64(id, $k)")
    def p(k: Int, m: Long) = pmod(h(k), lit(m))
    // 128 files + 8192-row parquet pages = the MergeTree granule:
    // the page index lets a row_index-pushed fetch (late
    // materialization, q24) skip straight to the ~n pages holding the
    // top-n rows instead of decoding whole files
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.page.row.count.limit", 8192)
    // Dictionary-page budget knob, kept for re-measurement. MEASURED
    // A LOSS at 10M (r14): raising the 1MB dict-page default to 64MB
    // so SearchPhrase/Title/URL encode dictionary-style made the
    // string-scan queries 1.3-1.4× SLOWER (q34 0.78→1.01 s, q13
    // 0.37→0.54 s, min of 4) — Spark's vectorized reader decodes
    // PLAIN string pages faster than it chases per-value dictionary
    // indirection. Do not flip without re-measuring.
    sys.env.get("HITS_DICT_PAGE_MB").foreach(mb =>
      spark.sparkContext.hadoopConfiguration
        .setInt("parquet.dictionary.page.size", mb.toInt << 20))
    // INT96 (Spark's default timestamp encoding) carries NO statistics:
    // no row-group pruning, no page column index — every pushed
    // EventTime predicate is a reader no-op. MICROS restores both
    // (and is the non-deprecated encoding FooterStats trusts).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val df = spark.range(0, rows, 1, 128)
      .withColumn("WatchID", h(1))
      .withColumn("JavaEnable", p(2, 2).cast("int"))
      .withColumn("Title",
        when(p(3, 100) < 2, concat(lit("Яндекс страница "), p(4, 100000)))
          .otherwise(concat(lit("Title "), p(4, 100000))))
      .withColumn("GoodEvent", lit(1))
      .withColumn("EventTime", to_timestamp(lit("2013-07-01 00:00:00"))
        + make_dt_interval(lit(0), lit(0), lit(0), p(5, 31L * 86400).cast("double")))
      .withColumn("EventDate", to_date(col("EventTime")))
      .withColumn("CounterID", when(p(6, 100) < 5, 34L).otherwise(p(7, 5000)))
      .withColumn("ClientIP", p(8, 1L << 32))
      .withColumn("RegionID", p(9, 1000))
      .withColumn("UserID", expr("xxhash64(pmod(xxhash64(id, 10), 1700000))"))
      .withColumn("CounterClass", lit(0))
      .withColumn("OS", p(11, 100).cast("int"))
      .withColumn("UserAgent", p(12, 100).cast("int"))
      .withColumn("URL",
        when(p(13, 100) < 8,
          concat(lit("http://yandex.ru/metrika/page/"), p(14, 100000)))
          .when(p(13, 100) < 13,
            concat(lit("http://m.yandex.ru/page/"), p(14, 1000000)))
          .when(p(13, 100) < 14, lit(""))
          .otherwise(concat(lit("http://example.com/page/"), p(14, 1000000))))
      .withColumn("Referer",
        when(p(15, 2) === 0, lit(""))
          .otherwise(concat(lit("http://www.r"), p(16, 100000),
            lit(".example.org/ref/"), p(17, 1000))))
      .withColumn("Refresh", (p(18, 50) === 0).cast("int"))
      .withColumn("RefererCategoryID", p(19, 100).cast("int"))
      .withColumn("RefererRegionID", p(20, 1000))
      .withColumn("URLCategoryID", p(21, 100).cast("int"))
      .withColumn("URLRegionID", p(22, 1000))
      .withColumn("ResolutionWidth", element_at(
        array(Seq(1366, 1920, 1280, 1024, 768, 360, 1440, 1600).map(lit): _*),
        (p(23, 8) + 1).cast("int")).cast("int"))
      .withColumn("ResolutionHeight", element_at(
        array(Seq(768, 1080, 800, 768, 1024, 640, 900, 1200).map(lit): _*),
        (p(23, 8) + 1).cast("int")).cast("int"))
      .withColumn("ResolutionDepth", lit(24))
      .withColumn("FlashMajor", p(24, 12).cast("int"))
      .withColumn("FlashMinor", p(25, 10).cast("int"))
      .withColumn("FlashMinor2", lit(""))
      .withColumn("NetMajor", lit(0)).withColumn("NetMinor", lit(0))
      .withColumn("UserAgentMajor", p(26, 30).cast("int"))
      .withColumn("CookieEnable", lit(1))
      .withColumn("JavascriptEnable", lit(1))
      .withColumn("IsMobile", (p(27, 4) === 0).cast("int"))
      .withColumn("MobilePhone", p(28, 10).cast("int"))
      .withColumn("MobilePhoneModel",
        when(p(29, 100) < 5, element_at(
          array(lit("iPhone 5"), lit("Galaxy S4"), lit("Lumia 920"), lit("Nexus 4")),
          (p(30, 4) + 1).cast("int"))).otherwise(lit("")))
      .withColumn("Params", lit(""))
      .withColumn("IPNetworkID", p(31, 100000))
      .withColumn("TraficSourceID", (p(32, 12) - 1).cast("int"))
      .withColumn("SearchEngineID", p(33, 50).cast("int"))
      .withColumn("SearchPhrase",
        when(p(34, 100) < 10, concat(lit("search phrase "), p(35, 100000)))
          .otherwise(lit("")))
      .withColumn("AdvEngineID",
        when(p(36, 100) < 2, (p(37, 20) + 1).cast("int")).otherwise(lit(0)))
      .withColumn("IsArtifical", (p(38, 100) === 0).cast("int"))
      .withColumn("WindowClientWidth", element_at(
        array(Seq(1366, 1903, 1263, 1008, 751, 360, 1423, 1583).map(lit): _*),
        (p(23, 8) + 1).cast("int")).cast("int"))
      .withColumn("WindowClientHeight", element_at(
        array(Seq(667, 955, 700, 668, 923, 560, 800, 1100).map(lit): _*),
        (p(23, 8) + 1).cast("int")).cast("int"))
      .withColumn("ClientTimeZone", lit(-180))
      .withColumn("ClientEventTime", col("EventTime"))
      .withColumn("SilverlightVersion1", lit(0))
      .withColumn("SilverlightVersion2", lit(0))
      .withColumn("SilverlightVersion3", lit(0L))
      .withColumn("SilverlightVersion4", lit(0))
      .withColumn("PageCharset", lit("utf-8"))
      .withColumn("CodeVersion", p(39, 1000))
      .withColumn("IsLink", (p(40, 10) === 0).cast("int"))
      .withColumn("IsDownload", (p(41, 100) === 0).cast("int"))
      .withColumn("IsNotBounce", (p(42, 3) === 0).cast("int"))
      .withColumn("FUniqID", h(43))
      .withColumn("OriginalURL", lit(""))
      .withColumn("HID", h(44))
      .withColumn("IsOldCounter", lit(0))
      .withColumn("IsEvent", lit(0))
      .withColumn("IsParameter", lit(0))
      .withColumn("DontCountHits", (p(45, 20) === 0).cast("int"))
      .withColumn("WithHash", lit(0))
      .withColumn("HitColor", element_at(
        array(lit("K"), lit("G"), lit("P")), (p(46, 3) + 1).cast("int")))
      .withColumn("LocalEventTime", col("EventTime"))
      .withColumn("Age", p(47, 80).cast("int"))
      .withColumn("Sex", p(48, 2).cast("int"))
      .withColumn("Income", p(49, 10).cast("int"))
      .withColumn("Interests", p(50, 1000).cast("int"))
      .withColumn("Robotness", (p(51, 50) === 0).cast("int"))
      .withColumn("RemoteIP", p(52, 1L << 32))
      .withColumn("WindowName", lit(-1))
      .withColumn("OpenerName", lit(-1))
      .withColumn("HistoryLength", p(53, 30).cast("int"))
      .withColumn("SocialNetwork", lit(""))
      .withColumn("SocialAction", lit(""))
      .withColumn("HTTPError", lit(0))
      .withColumn("SendTiming", p(54, 1000))
      .withColumn("DNSTiming", p(55, 200))
      .withColumn("ConnectTiming", p(56, 300))
      .withColumn("ResponseStartTiming", p(57, 800))
      .withColumn("ResponseEndTiming", p(58, 1500))
      .withColumn("FetchTiming", p(59, 2000))
      .withColumn("SocialSourceNetworkID", lit(0))
      .withColumn("SocialSourcePage", lit(""))
      .withColumn("ParamPrice", lit(0))
      .withColumn("ParamOrderID", lit(""))
      .withColumn("OpenstatServiceName", lit(""))
      .withColumn("OpenstatCampaignID", lit(""))
      .withColumn("OpenstatAdID", lit(""))
      .withColumn("OpenstatSourceID", lit(""))
      .withColumn("UTMSource", lit(""))
      .withColumn("UTMMedium", lit(""))
      .withColumn("UTMCampaign", lit(""))
      .withColumn("UTMContent", lit(""))
      .withColumn("UTMTerm", lit(""))
      .withColumn("FromTag", lit(""))
      .withColumn("HasGCLID", lit(0))
      .withColumn("RefererHash",
        when(p(60, 1000) === 0, lit(exampleRuHash)).otherwise(h(61)))
      .withColumn("URLHash",
        when(p(62, 1000) === 0, lit(exampleRuHash)).otherwise(h(63)))
      .withColumn("CLID", p(64, 100000))
      .drop("id")
    // MergeTree-faithful layout: the reference table is sorted by its
    // primary key (CounterID, EventDate, intHash32(UserID)) and the
    // benchmark's pruning queries (37-43: CounterID = 34 + a date
    // range) read only the matching granules. Range-partition + sort
    // gives parquet the same property — row-group min/max stats on
    // CounterID/EventDate prune the scan to the hit slice.
    df.repartitionByRange(128, col("CounterID"), col("EventDate"))
      .sortWithinPartitions("CounterID", "EventDate")
      .write.mode("overwrite").parquet(path)
    // persist the sparse index so bench sessions plan with zero
    // footer opens (the primary.idx analog)
    graft.operators.FooterStats.writeSidecars(
      df.sparkSession.sessionState.newHadoopConf(), path)
  }

  def loadQueries(): Seq[String] =
    scala.io.Source.fromFile(queriesFile)("UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty)
      .map(_.replace("{table}", "hits")).toSeq

  /** Isolation protocol (benchmark-new.sh semantics): `generate` as a
    * SEPARATE JVM invocation first — generating 1.4 GB of parquet in
    * the measuring JVM leaves GC/page-cache/compile debris that
    * inflates subsequent query timings 5-10× (the r11 artifact had
    * q24 at 24.4 s vs 9.9 s isolated). The measuring run records the
    * full cold+warm+warm triple per query and scores min-of-warm. */
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rows = sys.env.getOrElse("HITS_ROWS", "10000000").toLong
    val path = sys.env.getOrElse("HITS_PATH", "target/hits10m.parquet")
    val outFile = sys.env.getOrElse("BENCH43_OUT", "bench_43.json")
    val builder1 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
    // protocol A/B knobs (unset on driver runs): BENCH43_NO_TMPFS=1
    // keeps shuffle on the default local dir; BENCH43_SHUFFLE_COMPRESS
    // overrides spark.shuffle.compress; BENCH43_NO_TOUCH=1 pins pages
    // without the re-touch daemon — for isolating which protocol piece
    // moves a timing (r14 left q4/q5/q6/q16 unexplained)
    val builder0 = sys.env.get("BENCH43_SHUFFLE_COMPRESS")
      .fold(builder1)(v => builder1.config("spark.shuffle.compress", v))
    // shuffle/spill on RAM-backed temp — see CacheKeeper.benchLocalDir
    val builder =
      if (sys.env.get("BENCH43_NO_TMPFS").contains("1")) builder0
      else graft.tools.CacheKeeper.benchLocalDir()
        .fold(builder0)(d => builder0.config("spark.local.dir", d))
    val spark = builder
      // single-node 10M-row scale: AQE's stage-materialization
      // barriers and re-planning rounds cost 0.1-10s per query and
      // buy nothing (no skew, 32 shuffle partitions already sized);
      // measured: q29 10.9s->0.98s, q33 1.41->0.99, q01 0.55->0.25.
      // Bench-session tuning only — the library default stays AQE-on
      // for the multi-executor 100TB path.
      .config("spark.sql.adaptive.enabled", "false")
      // sketch aggregates (uniq/quantile*) plan as ObjectHashAggregate,
      // whose default sort-based fallback kicks in at 128 in-memory
      // groups — GROUP BY RegionID (1000 groups) would silently sort
      // the whole table. Sized so per-task agg state stays comfortably
      // in memory (1M groups x ~KB sketch). Same setting as
      // RunScript/CorpusTriage — the library's normal entry points.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // NOTE: raising spark.sql.codegen.aggregate.fastHashMap
      // .capacityBit to 2^20 was measured both ways at 100M: long-key
      // GROUP BYs gain ~20% (q16 4.2->3.3) but string-key GROUP BYs
      // lose the same (q34 6.1->7.9) — geomean-neutral, so the
      // default stays.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val genOnly = args.contains("generate")
    if (!new java.io.File(path).exists()) {
      System.err.println(s"[bench43] generating $rows rows at $path ...")
      generate(spark, path, rows)
      if (!genOnly) System.err.println(
        "[bench43] WARNING: generated in the measuring JVM — timings " +
          "are load-contaminated; run `Bench43 generate` separately first")
    }
    if (genOnly) { spark.stop(); return }
    // Keep the table page-cache-resident for the WHOLE run: the r13
    // one-shot stream warm-up still let the container's proactive
    // reclaimer evict columns mid-run over the ~11 MB/s cold device
    // (q33 swung 13 s ↔ 103 s run-to-run; the 127-query suite inflated
    // a uniform 1.4×). See CacheKeeper's header for the protocol
    // rationale.
    locally {
      val t0 = System.nanoTime()
      val touchMs =
        if (sys.env.get("BENCH43_NO_TOUCH").contains("1")) 0L else 4000L
      val bytes = graft.tools.CacheKeeper.pin(Seq(path), touchMs)
      System.err.println(f"[bench43] pinned ${bytes / 1e9}%.1f GB in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s (touch=${touchMs > 0})")
    }
    spark.read.parquet(path).createOrReplaceTempView("hits")
    // Iteration/profiling aids (no effect on driver runs, which leave
    // these unset): BENCH43_ONLY="9,16" runs a subset; BENCH43_REPEAT=N
    // replaces the cold+2-warm triple with N timed runs (keeps a hot
    // loop alive for jstack sampling).
    val only: Set[Int] = sys.env.get("BENCH43_ONLY")
      .map(_.split(",").map(_.trim.toInt).toSet).getOrElse(Set.empty)
    val repeat = sys.env.get("BENCH43_REPEAT").map(_.toInt).getOrElse(0)
    val qs = loadQueries()
    def once(q: String): Double = {
      val t0 = System.nanoTime()
      graft.sql.ChDdl.execute(spark, q) match {
        case Some(df) => df.write.format("noop").mode("overwrite").save()
        case None => ()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Untimed JIT pre-lap: run every measured query once before the
    // clock starts. The baseline's C++ is AOT-compiled — its warm-run
    // minimum never includes compiling ClickHouse — while a fresh JVM
    // spends its first ~30 queries JIT-compiling the dialect, codegen
    // and reader paths, which inflated early-suite minimums 3× (q2
    // suite-min 1.05 s vs 0.36 s isolated with enough reps).
    locally {
      val t0 = System.nanoTime()
      qs.zipWithIndex
        .filter { case (_, i) => only.isEmpty || only(i + 1) }
        .foreach { case (q, _) => try once(q) catch { case _: Throwable => () } }
      System.err.println(
        f"[bench43] JIT pre-lap done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // Host-weather gate + per-row probe (r16 verdict #1/#6): wait —
    // bounded — for a quiet single-thread-probe streak before the
    // scored pass, and record each query window's probe reading so the
    // artifact is self-certifying about weather. GRAFT_PROBE_WAIT=0
    // disables the wait (the per-row sampling stays).
    val probeWait =
      sys.env.get("GRAFT_PROBE_WAIT").map(_.toDouble).getOrElse(300.0)
    val gate =
      if (probeWait <= 0) (false, Double.NaN)
      else {
        val g = graft.tools.HostProbe.awaitQuiet(probeWait)
        System.err.println(
          f"[bench43] probe gate: quiet=${g._1} last=${g._2}%.2f s")
        g
      }
    val sampler = new graft.tools.HostProbe.Sampler()
    val probes = collection.mutable.Map.empty[Int, Double]
    val results = qs.zipWithIndex
      .filter { case (_, i) => only.isEmpty || only(i + 1) }
      .map { case (q, i) =>
      try {
        val w0 = System.nanoTime()
        val runs =
          if (repeat > 0) (1 to repeat).map(_ => once(q))
          else Seq(once(q), once(q), once(q))
        probes(i + 1) = sampler.windowMedian(w0, System.nanoTime())
        // min of ALL three: after the cache pin + JIT pre-lap every
        // run is warm by construction (the r14 artifact showed run 1
        // beating both later runs under scheduler noise), so
        // discarding run 1 only added noise. The baseline's
        // min-of-warm convention assumes run 1 is cold; ours isn't.
        val warm = runs.min
        System.err.println(f"[bench43] q${i + 1}%02d ${warm}%.3f s " +
          runs.map(t => f"$t%.3f").mkString("(", "/", ")"))
        (i + 1, warm, runs, None: Option[String])
      } catch { case e: Throwable =>
        System.err.println(s"[bench43] q${i + 1} FAILED: ${e.getMessage}")
        (i + 1, -1.0, Nil, Some(Option(e.getMessage).getOrElse("?").take(160)))
      }
    }
    // Heavy-class round-robin (r15 verdict ask #6): the host swings
    // 3-6× WITHIN a run, so per-query sequential triples score weather
    // for the slow aggregation queries. Re-measure the heavy set in
    // ROUND-ROBIN order — each round runs the whole set back-to-back,
    // so every query's samples cover the same host windows and their
    // medians are mutually comparable (interleaved pairs promoted
    // into the scored artifact). Off with
    // BENCH43_HEAVY_ROUNDS=0; subset runs skip absent queries.
    // r17 (r16 verdict ask #5): the default set covers every query the
    // r16 artifact measured >2× with a ≥0.1 s baseline (uniq-top-10
    // class 9/10/12/29, string-key 34/35) in addition to the heavy
    // five; override with BENCH43_RR_SET.
    val heavySet = sys.env.get("BENCH43_RR_SET")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(9, 10, 12, 16, 17, 19, 29, 33, 34, 35, 36))
      .filter(i => only.isEmpty || only(i))
    val rrRounds = sys.env.get("BENCH43_HEAVY_ROUNDS").map(_.toInt).getOrElse(3)
    val rr: Map[Int, Seq[Double]] =
      if (rrRounds <= 0 || heavySet.isEmpty) Map.empty
      else {
        val buf = collection.mutable.Map.empty[Int, Vector[Double]]
        (1 to rrRounds).foreach { r =>
          heavySet.foreach { i =>
            try {
              val t = once(qs(i - 1))
              buf(i) = buf.getOrElse(i, Vector.empty) :+ t
              System.err.println(f"[bench43] rr$r q$i%02d $t%.3f s")
            } catch { case _: Throwable => () }
          }
        }
        buf.toMap
      }
    val ok = results.filter(_._2 >= 0)
    val baseline =
      if (rows >= 100000000L) baselineWarm100m else baselineWarm
    // Variance is part of the artifact: min-of-N alone scores noise
    // when a query's runs span >2× (r14: q19 7.97–36.27 s, q5
    // 1.17–10.66 s across 5 runs — a regression smaller than that
    // spread is invisible). Each query reports median + spread
    // (max/min); spread > 2 marks it UNMEASURED, and the headline
    // geomean_measured excludes it (the all-queries geomean stays for
    // round-over-round continuity).
    def median(runs: Seq[Double]): Double = {
      val s = runs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def spread(runs: Seq[Double]): Double =
      if (runs.isEmpty || runs.min <= 0) -1.0 else runs.max / runs.min
    // a sub-resolution 0.000s run means the timer, not the query, was
    // measured — unmeasured, same as a >2x spread (the -1 sentinel
    // must not slip past the spread<=2 filter)
    def unmeasurable(runs: Seq[Double]): Boolean =
      runs.nonEmpty && (runs.min <= 0 || runs.max / runs.min > 2.0)
    def geo(rs: Seq[Double]): Double =
      if (rs.isEmpty) -1.0 else math.exp(rs.map(math.log).sum / rs.size)
    val ratios = ok.map { case (i, t, _, _) => t / baseline(i - 1) }
    val geomean = geo(ratios)
    val measured = ok.filter { case (_, _, runs, _) => !unmeasurable(runs) }
    val geomeanMeasured =
      geo(measured.map { case (i, t, _, _) => t / baseline(i - 1) })
    val perQ = results.map { case (i, t, runs, err) =>
      val base = baseline(i - 1)
      val r = if (t >= 0) f"${t / base}%.2f" else "null"
      val rs = runs.map(x => f"$x%.3f").mkString("[", ",", "]")
      val variance =
        if (runs.isEmpty) ""
        else f""","med":${median(runs)}%.3f,"spread":${spread(runs)}%.2f""" +
          (if (unmeasurable(runs)) ""","unmeasured":true""" else "")
      val rrPart = rr.get(i).filter(_.nonEmpty).map { xs =>
        val m = median(xs)
        f""","rr_runs":${xs.map(x => f"$x%.3f").mkString("[", ",", "]")},"rr_med":$m%.3f,"rr_ratio":${m / base}%.2f"""
      }.getOrElse("")
      val probePart = probes.get(i).filter(!_.isNaN)
        .map(p => f""","probe":$p%.2f""").getOrElse("")
      val e = err.map(m => s""","error":"${m.replace("\"", "'")}"""").getOrElse("")
      f"""{"q":$i,"sec":$t%.3f,"baseline_sec":$base,"ratio":$r,"runs":$rs$variance$rrPart$probePart$e}"""
    }.mkString("[", ",", "]")
    // heavy-class score from the round-robin medians (comparable
    // samples), falling back to nothing when the protocol was off
    val heavyGeoRr = geo(rr.toSeq.collect {
      case (i, xs) if xs.nonEmpty => median(xs) / baseline(i - 1)
    })
    val heavyPart =
      if (rr.isEmpty) ""
      else f""""heavy_geomean_rr":$heavyGeoRr%.3f,"heavy_protocol":"round-robin x$rrRounds, median","""
    val gatePart =
      if (gate._2.isNaN) s""""probe_quiet":${gate._1},"""
      else f""""probe_quiet":${gate._1},"probe_last":${gate._2}%.2f,"""
    val line =
      f"""{"metric":"bench43_geomean_ratio","value":$geomean%.3f,"geomean_measured":$geomeanMeasured%.3f,$heavyPart$gatePart"unmeasured":${ok.size - measured.size},"rows":$rows,"errors":${results.size - ok.size},"queries":$perQ}"""
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(line) finally w.close()
    println(line)
    sampler.stop()
    graft.tools.CacheKeeper.unpin()
    spark.stop()
  }
}
