package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.storage.MergeTreeTable
import graft.storage.MergeTreeTable.{Collapsing, Replacing, Spec, Summing}
import graft.streaming.MaterializedView

class StorageStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("MergeTree write partitions and sorts; partition pruning kicks in") {
    val path = tmpDir("mt-plain")
    val df = Seq(
      (202401, 3L, "a"), (202401, 1L, "b"), (202402, 2L, "c"), (202402, 9L, "d"))
      .toDF("yyyymm", "k", "v")
    MergeTreeTable.write(df, path, Spec(Seq("k"), Some("yyyymm")), SaveMode.Overwrite)

    // partition dirs exist
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("yyyymm="))
    assert(dirs.toSet === Set("yyyymm=202401", "yyyymm=202402"))

    // partition pruning is visible in the plan
    val plan = MergeTreeTable.read(spark, path).filter(col("yyyymm") === 202401)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("202401"), plan)
    assert(MergeTreeTable.read(spark, path).filter(col("yyyymm") === 202401).count() === 2)
  }

  test("_part virtual column names the source part file") {
    import java.nio.file.Files
    import graft.storage.MergeTreeTable
    val dir = Files.createTempDirectory("vpart").toString + "/t"
    val spec = MergeTreeTable.Spec(sortKey = Seq("id"))
    import spark.implicits._
    MergeTreeTable.write(Seq((1L, "a")).toDF("id", "v"), dir, spec)
    MergeTreeTable.write(Seq((2L, "b")).toDF("id", "v"), dir, spec)
    val got = MergeTreeTable.readWithPart(spark, dir)
      .select("id", "_part").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 2)
    assert(got.values.forall(_.startsWith("part-")))
    assert(got(1L) !== got(2L)) // two appends = two parts
  }

  test("Summing engine folds equal keys and drops merged-to-zero groups") {
    val path = tmpDir("mt-sum")
    val spec = Spec(Seq("k"), engine = Summing(Seq("v")))
    // "z" merges to zero → dropped; "q" is a SINGLE zero row → kept
    // (reference rule: only merged groups can zero out)
    MergeTreeTable.write(Seq(("a", 5L), ("a", 3L), ("z", 2L), ("z", -2L), ("q", 0L))
      .toDF("k", "v"), path, spec, SaveMode.Overwrite)
    val got = MergeTreeTable.readFinal(spark, path, spec)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 8L, "q" -> 0L))
    MergeTreeTable.optimize(spark, path, spec)
    assert(MergeTreeTable.read(spark, path).count() === 2)
  }

  test("Summing keeps the last group when everything merges to zero") {
    val df = Seq(("a", 1L), ("a", -1L), ("b", 2L), ("b", -2L)).toDF("k", "v")
    val got = MergeTreeTable.fold(df, Spec(Seq("k"), engine = Summing(Seq("v"))))
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("b", 0L)), "last group must survive an all-zero merge")
  }

  test("Replacing engine keeps the max-version row; optimize compacts") {
    val path = tmpDir("mt-rep")
    val spec = Spec(Seq("k"), engine = Replacing("ver"))
    MergeTreeTable.write(Seq(("a", 1L, "old"), ("a", 2L, "new"), ("b", 1L, "only"))
      .toDF("k", "ver", "v"), path, spec, SaveMode.Overwrite)
    // appends arrive later (a second part)
    MergeTreeTable.write(Seq(("a", 3L, "newest")).toDF("k", "ver", "v"), path, spec)
    val got = MergeTreeTable.readFinal(spark, path, spec)
      .select("k", "v").as[(String, String)].collect().toMap
    assert(got === Map("a" -> "newest", "b" -> "only"))
    MergeTreeTable.optimize(spark, path, spec)
    assert(MergeTreeTable.read(spark, path).count() === 2)
  }

  test("Replacing FINAL tie rule survives a file-listing reorder " +
      "(insert epochs persist in the sidecars)") {
    val path = tmpDir("mt-rep-epoch")
    val spec = Spec(Seq("k"), engine = Replacing("ver"))
    // two inserts with EQUAL versions: the LAST-INSERTED row must win
    // (ReplacingSortedBlockInputStream.h:11-15), pinned by the
    // persisted per-part insert epoch — not by file-listing order
    MergeTreeTable.write(Seq(("a", 1L, "first")).toDF("k", "ver", "v"),
      path, spec, SaveMode.Overwrite)
    MergeTreeTable.write(Seq(("a", 1L, "second")).toDF("k", "ver", "v"),
      path, spec)
    def survivor(): Seq[String] = MergeTreeTable.readFinal(spark, path, spec)
      .select("v").as[String].collect().toSeq
    assert(survivor() === Seq("second"))
    // Now RENAME the parts so lexicographic listing order INVERTS
    // insert order (the first insert's part lists last), patching the
    // sidecar keys to follow — exactly the "future change reorders
    // file listing" hazard. The epochs ride along; survivors must not.
    val conf = spark.sessionState.newHadoopConf()
    val epochs = graft.operators.FooterStats.insertEpochs(conf, path)
    assert(epochs.values.toSet === Set(0L, 1L), epochs.toString)
    val dir = new java.io.File(path)
    // insertEpochs keys are qualified paths; the rename needs names
    val renames = epochs.map { case (p, ep) =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      // epoch 0 (first insert) gets a late-sorting name, epoch 1 an
      // early-sorting one
      name -> (if (ep == 0L) s"part-zz-$ep.parquet" else s"part-aa-$ep.parquet")
    }
    renames.foreach { case (from, to) =>
      assert(new java.io.File(dir, from).renameTo(new java.io.File(dir, to)))
    }
    // stale checksum files for the old names would not match anything
    dir.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val sidecar = new java.io.File(dir, graft.operators.FooterStats.SidecarName)
    val patched = renames.foldLeft(
      new String(Files.readAllBytes(sidecar.toPath), "UTF-8")) {
      case (s, (from, to)) => s.replace(from, to)
    }
    Files.write(sidecar.toPath, patched.getBytes("UTF-8"))
    graft.operators.FooterStats.clearAllCaches()
    // listing order now shows "second"'s part first; the epoch keeps
    // the survivor identical
    assert(survivor() === Seq("second"))
  }

  test("Collapsing engine keeps the first -1 and the last +1 row in merge order") {
    val path = tmpDir("mt-col")
    val spec = Spec(Seq("k"), engine = Collapsing("sign"))
    // two inserts; the second spreads two rows per part file over four
    // files (local[4]), and "tie"'s +1 and -1 rows both sit at row
    // index 1 of their files: only the file order says which came last
    MergeTreeTable.write(Seq(
      ("gone", "x", 1), ("upd", "old", 1), ("neg", "n1", -1), ("eq", "e0", -1))
      .toDF("k", "v", "sign"), path, spec)
    MergeTreeTable.write(Seq(
      ("gone", "x", -1), ("upd", "old", -1),
      ("upd", "new", 1), ("neg", "n2", -1),
      ("neg", "p", 1), ("tie", "t", 1),
      ("eq", "e1", 1), ("tie", "t" * 100000, -1))
      .toDF("k", "v", "sign"), path, spec)
    // one scan task reads the files largest first, so the -1 row's
    // file is read before the +1 row's: read order alone would call
    // the +1 row the last one
    val conf = Map("spark.sql.files.maxPartitionBytes" -> "1g",
      "spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val got =
      try MergeTreeTable.readFinal(spark, path, spec)
        .select("k", "v", "sign").as[(String, String, Int)].collect().sorted.toSeq
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(got === Seq(
      ("eq", "e0", -1), ("eq", "e1", 1), // equal counts ending in +1: both
      ("neg", "n1", -1),                 // more -1 rows: the first -1
      ("upd", "new", 1)))                // more +1 rows: the last +1;
                                         // "gone" and "tie" cancel out
  }

  test("materialized view incrementally folds the insert stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val source = mem.toDF().toDF("k", "v")
    val base = Files.createTempDirectory("mv").toString
    val q = MaterializedView.startSumming(
      spark, source, Seq("k"), Seq("v"), "mv_target",
      s"$base/state", s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))

    mem.addData(("a", 1L), ("a", 2L), ("b", 10L))
    q.processAllAvailable()
    val after1 = spark.table("mv_target").as[(String, Long)].collect().toMap
    assert(after1 === Map("a" -> 3L, "b" -> 10L))

    // second insert wave arrives as a separate micro-batch and merges
    mem.addData(("a", 4L))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("mv_target").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 7L, "b" -> 10L))

    // the state log holds partials (no driver-side fold); compaction
    // folds it to one row per key without changing the view's answer
    assert(spark.read.parquet(s"$base/state").count() >= 3)
    MaterializedView.compact(spark, s"$base/state", Seq("k"), Seq("v"))
    assert(spark.read.parquet(s"$base/state").count() === 2)
    spark.read.parquet(s"$base/state").groupBy("k").agg(sum("v").as("v"))
      .as[(String, Long)].collect().toMap === Map("a" -> 7L, "b" -> 10L)
  }

  test("collapsing fold follows the insert-order column under any row layout") {
    val spec = Spec(Seq("k"), engine = Collapsing("sign"))
    val rows = Seq(
      ("k1", "v-old", 1), ("k1", "v-old", -1), ("k1", "v-new", 1),
      ("k2", "a", 1), ("k2", "b", 1), ("k2", "a", -1),
      ("k3", "c", -1), ("k3", "c", 1))
      .zipWithIndex.map { case ((k, v, sign), i) => (k, v, sign, i.toLong) }
    // every arrival order folds to the same survivors: the explicit
    // insert order decides, not the shuffled partition layout
    Seq(rows, rows.reverse, rows.sortBy(_._2), scala.util.Random.shuffle(rows)).foreach { perm =>
      val folded = MergeTreeTable.fold(
        perm.toDF("k", "v", "sign", "ord").repartition(7), spec, Some("ord"))
      assert(folded.columns.toSeq === Seq("k", "v", "sign"))
      val got = folded.as[(String, String, Int)].collect().sorted.toSeq
      assert(got === Seq(("k1", "v-new", 1), ("k2", "b", 1), ("k3", "c", -1), ("k3", "c", 1)),
        s"fold diverged for order $perm")
    }
  }

  test("as-of join attaches the latest right row at or before each left time") {
    import graft.operators.AsOfJoin
    val trades = Seq(("A", 3L, 101.0), ("A", 7L, 102.0), ("B", 5L, 50.0), ("C", 1L, 9.0))
      .toDF("sym", "t", "px")
    val quotes = Seq(("A", 1L, 100.5), ("A", 5L, 101.5), ("A", 7L, 101.9),
      ("B", 9L, 49.0)).toDF("sym", "qt", "bid")
    val got = AsOfJoin(trades, quotes, "sym", "t", "qt", Seq("bid"))
      .select("sym", "t", "bid").as[(String, Long, Option[Double])]
      .collect().toSet
    assert(got === Set(
      ("A", 3L, Some(100.5)),  // latest quote at t<=3 is t=1
      ("A", 7L, Some(101.9)),  // same-instant quote visible
      ("B", 5L, None),         // no quote yet
      ("C", 1L, None)))        // no quotes at all for key
  }

  test("event-time window with watermark aggregates late-arriving data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val windowed = MaterializedView.eventTimeWindow(
      mem.toDF().toDF("ts", "v"), "ts", "10 minutes", "5 minutes", "v")
    val q = windowed.writeStream.outputMode("update")
      .format("memory").queryName("win_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    mem.addData((ts(1), 1.0), (ts(4), 2.0), (ts(12), 10.0), (ts(3), 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .groupBy("win_start").agg(max("n").as("n"), max("total").as("total"))
      .collect().map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows("2024-01-01 10:00:00.0") === ((3L, 7.0)))
    assert(rows("2024-01-01 10:10:00.0") === ((1L, 10.0)))
  }

  test("flatMapGroupsWithState sessionization closes sessions on watermark timeout") {
    import graft.streaming.Sessionize
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val out = Sessionize.sessions(spark,
      mem.toDF().toDF("user", "ts", "v"),
      "user", "ts", "v", gapSeconds = 600, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    // user 1: two events 5 min apart (one session); user 2: one event
    mem.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (2L, ts(1), 9.0))
    q.processAllAvailable()
    // an in-batch >gap jump closes the first session immediately
    mem.addData((1L, ts(40), 5.0))
    q.processAllAvailable()
    // advance the watermark far enough to time out everything open
    mem.addData((3L, ts(59), 0.0))
    q.processAllAvailable()
    mem.addData((3L, ts(59), 0.0)) // one more batch so timeouts fire
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select("key", "session_start", "session_end", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString.stripSuffix(".0"),
        r.getTimestamp(2).toString.stripSuffix(".0"), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(rows.contains((1L, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L, 3.0)), rows)
    assert(rows.contains((2L, "2024-01-01 10:01:00", "2024-01-01 10:01:00", 1L, 9.0)), rows)
    assert(rows.contains((1L, "2024-01-01 10:40:00", "2024-01-01 10:40:00", 1L, 5.0)), rows)
  }

  test("sessionization folds late-but-on-time events backwards and bridge-merges sessions") {
    import graft.streaming.Sessionize
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val out = Sessionize.sessions(spark,
      mem.toDF().toDF("user", "ts", "v"),
      "user", "ts", "v", gapSeconds = 600, watermarkDelay = "30 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_late_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    // two events 16 min apart: two OPEN sessions (>gap), neither
    // emitted yet — a late event could still bridge them
    mem.addData((1L, ts(0), 1.0), (1L, ts(16), 2.0))
    q.processAllAvailable()
    // the late-but-on-time bridge arrives in a LATER batch: within
    // gap of BOTH sessions, so all three events merge into ONE
    // session (the r10 code folded late events into the newest
    // session without moving session_start, splitting this history)
    mem.addData((1L, ts(8), 4.0))
    q.processAllAvailable()
    // walk the watermark past last+gap so the merged session closes
    mem.addData((2L, ts(59), 0.0))
    q.processAllAvailable()
    mem.addData((2L, ts(59), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_late_out")
      .select("key", "session_start", "session_end", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString.stripSuffix(".0"),
        r.getTimestamp(2).toString.stripSuffix(".0"), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(rows.contains((1L, "2024-01-01 10:00:00", "2024-01-01 10:16:00", 3L, 7.0)),
      rows.toString)
  }

  test("streaming near-dup survives a batch of only re-seen doc ids after the watermark moved") {
    // r10 advanced the bucket's last-activity only for UNSEEN ids, so
    // a batch containing only already-seen ids computed an event-time
    // timeout at/below the watermark — which Spark rejects, killing
    // the whole query (advisor finding). The re-send below must flow
    // through without error and without duplicate candidate pairs.
    import graft.streaming.StreamNearDup
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val cands = StreamNearDup.candidates(
      spark, mem.toDF().toDF("id", "ts", "text"),
      "id", "ts", "text", watermarkDelay = "1 minute", windowMs = 60 * 60 * 1000L)
    val base = Files.createTempDirectory("sneardup_reseen").toString
    val q = cands.writeStream.format("memory")
      .queryName("sneardup_reseen_out").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt").start()
    mem.addData((1L, ts(0), txt))
    q.processAllAvailable()
    // unrelated docs walk the watermark forward (but stay inside the
    // 60-min window so the bucket is NOT evicted)
    mem.addData((2L, ts(20), "unrelated corpus of legal boilerplate paragraphs here"))
    q.processAllAvailable()
    mem.addData((3L, ts(40), "numeric tables 12345 67890 54321 with nothing in common"))
    q.processAllAvailable()
    // doc 1 re-arrives: every band bucket it hits holds ONLY the
    // already-seen id 1 — with the stale lastMs this batch crashed
    mem.addData((1L, ts(41), txt))
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty, q.exception.toString)
    val pairs = spark.table("sneardup_reseen_out").select("doc_id", "dup_of")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set.empty, pairs.toString)
  }

  test("batch sessionization matches the streaming semantics") {
    import graft.streaming.Sessionize
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = Seq(
      (1L, ts(0), 1.0), (1L, ts(5), 2.0), (1L, ts(40), 5.0),
      (2L, ts(1), 9.0))
      .toDF("user", "ts", "v")
    val got = Sessionize.sessionsBatch(df, "user", "ts", "v", gapSeconds = 600)
      .select("user", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 3.0), (1L, 1L, 5.0), (2L, 1L, 9.0)))
  }

  test("streaming dedup drops in-window duplicates, evicts state past the watermark") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = StreamDedup.byContent(
      mem.toDF().toDF("id", "ts", "text"), "text", "ts", "5 minutes")
    val base = Files.createTempDirectory("sdedup").toString
    val q = deduped.writeStream.format("memory")
      .queryName("sdedup_out").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt").start()

    // batch 1: duplicate content inside one batch → one survivor
    mem.addData((1L, ts(0), "alpha"), (2L, ts(1), "alpha"), (3L, ts(1), "beta"))
    q.processAllAvailable()
    // batch 2: near-in-time duplicate across batches is still caught
    mem.addData((4L, ts(2), "alpha"))
    q.processAllAvailable()
    assert(spark.table("sdedup_out").select("id").as[Long].collect().toSet
      === Set(1L, 3L))

    // batch 3: advance the watermark far past ts(2)+5min → digest
    // state evicted; the same content re-admits (downstream batch
    // dedup folds it)
    mem.addData((5L, ts(50), "gamma"))
    q.processAllAvailable()
    mem.addData((6L, ts(51), "alpha"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdedup_out").select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 3L, 5L, 6L), ids.toString)
  }

  test("streaming near-dup flags LSH-colliding docs in-window, evicts buckets after") {
    import graft.streaming.StreamNearDup
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy dog again and again!"
    val far = "completely different content with no shared shingles at all zzz"
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val cands = StreamNearDup.candidates(
      spark, mem.toDF().toDF("id", "ts", "text"),
      "id", "ts", "text", watermarkDelay = "1 minute", windowMs = 5 * 60 * 1000L)
    val base = Files.createTempDirectory("sneardup").toString
    val q = cands.writeStream.format("memory")
      .queryName("sneardup_out").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt").start()

    def pairs(): Set[(Long, Long)] =
      spark.table("sneardup_out").select("doc_id", "dup_of")
        .as[(Long, Long)].collect().toSet

    // near-identical docs collide in at least one band; the distinct
    // doc collides in none
    mem.addData((1L, ts(0), txt))
    q.processAllAvailable()
    mem.addData((2L, ts(1), near), (3L, ts(1), far))
    q.processAllAvailable()
    assert(pairs() === Set((2L, 1L)))

    // two quiet batches walk the watermark past the bucket's
    // last-activity + window -> state evicted
    mem.addData((4L, ts(60), "unrelated corpus of legal boilerplate paragraphs here"))
    q.processAllAvailable()
    mem.addData((5L, ts(61), "numeric tables 12345 67890 54321 with nothing in common"))
    q.processAllAvailable()
    // the same text re-arrives far outside the window: no pair
    mem.addData((6L, ts(62), txt))
    q.processAllAvailable()
    q.stop()
    assert(pairs() === Set((2L, 1L)), pairs().toString)
  }

  test("intake pipeline: dedup + quality gate + decontamination in one stream") {
    import graft.streaming.IntakeGate
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

    // static benchmark: one held-out "eval" document
    val bench = Seq("the secret eval answer is forty two exactly here today ok")
      .toDF("text")
    val bloom = IntakeGate.benchmarkBloom(bench, "text", n = 4)

    val clean = "many different words appear in this reasonably varied sentence structure"
    val repetitive = "spam spam spam spam spam spam spam spam spam spam spam spam"
    val contaminated = "prefix words then the secret eval answer is forty two leaked"
    val short = "too short"

    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = IntakeGate.intake(
      mem.toDF().toDF("id", "ts", "text"), "text", "ts",
      dedupDelay = "5 minutes", bloomBytes = bloom, n = 4,
      minTokens = 5L, maxDupTokenFrac = 0.6, maxTop2Frac = 0.5)
    val base = Files.createTempDirectory("intake").toString
    val q = out.writeStream.format("memory")
      .queryName("intake_out").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt").start()

    mem.addData(
      (1L, ts(0), clean),
      (2L, ts(1), clean),        // exact duplicate  → dedup drops
      (3L, ts(1), repetitive),   // dup-token frac 11/12 → quality drops
      (4L, ts(2), contaminated), // shares 4-grams with bench → bloom drops
      (5L, ts(2), short))        // < 5 tokens → quality drops
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("intake_out").select("id").as[Long].collect().toSet
    assert(ids === Set(1L), ids.toString)
  }

  test("buffer forwards micro-batches to a parquet target") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("buffer").toString
    // data must exist before an AvailableNow query plans its offsets
    mem.addData((1L, "x"), (2L, "y"))
    val q = MaterializedView.startBuffer(
      mem.toDF().toDF("id", "payload"), s"$base/data", s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$base/data").count() === 2)
  }
}
