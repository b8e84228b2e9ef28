package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.UniqSketch
import graft.operators.SketchAgg

/** Pins for the specialized uniq-sketch physical aggregation
  * (operators/SketchAgg.scala): plan shape (the strategy owns the
  * eligible Aggregate), BIT-IDENTICAL results vs the generic
  * ObjectHashAggregate plan across key layouts / nulls / empty input,
  * and the partial flush window. The generic baseline is obtained by
  * rebuilding the same query with the strategy's eligibility broken
  * (a FILTER clause keeps semantics but disqualifies the shape). */
class SketchAggSpec extends SparkSpec {
  import org.apache.spark.sql.graftbridge.Bridge

  private def uniqCol(c: String): org.apache.spark.sql.Column =
    Bridge.column(UniqSketch(Bridge.expression(col(c))).toAggregateExpression())

  /** Collect on the generic ObjectHashAggregate path (strategy off). */
  private def genericRows(df: => DataFrame): Seq[String] = {
    SketchAgg.enabled = false
    try df.collect().map(_.toString).sorted.toSeq
    finally SketchAgg.enabled = true
  }

  private lazy val base: DataFrame = {
    val df = spark.range(0, 40000, 1, 7)
      .withColumn("k1", pmod(expr("xxhash64(id, 1)"), lit(97)))
      .withColumn("k1i", pmod(expr("xxhash64(id, 8)"), lit(50)).cast("int"))
      .withColumn("ks", when(pmod(expr("xxhash64(id, 2)"), lit(11)) === 0, lit(null))
        .otherwise(concat(lit("key_"), pmod(expr("xxhash64(id, 3)"), lit(40)))))
      .withColumn("ks2", concat(lit("s"), pmod(expr("xxhash64(id, 9)"), lit(7))))
      .withColumn("u", expr("xxhash64(pmod(xxhash64(id, 4), 9000))"))
      .withColumn("v", when(pmod(expr("xxhash64(id, 5)"), lit(13)) === 0, lit(null))
        .otherwise(pmod(expr("xxhash64(id, 6)"), lit(1000)).cast("int")))
      // all-null through a non-foldable condition, so the optimizer
      // cannot constant-fold aggregates over it away
      .withColumn("vn", when(pmod(expr("xxhash64(id, 7)"), lit(2)) >= 2,
        lit(1)).cast("int"))
    df.cache(); df.count(); df
  }

  private def usedSketchAgg(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("SketchAgg")

  private def compare(mk: => DataFrame): Unit = {
    val fast = mk
    assert(usedSketchAgg(fast), fast.queryExecution.executedPlan.toString)
    val f = fast.collect().map(_.toString).sorted.toSeq
    val s = genericRows(mk)
    assert(f === s)
    assert(f.nonEmpty)
  }

  test("single long key: uniq + count + sum + avg bit-identical to generic plan") {
    compare(base.groupBy("k1").agg(
      uniqCol("u").as("nu"), count(lit(1)).as("c"), sum("v").as("s"), avg("v").as("a")))
  }

  test("string key with NULLs groups like the generic plan") {
    compare(base.groupBy("ks").agg(uniqCol("u").as("nu"), count(col("v")).as("cv")))
  }

  test("two keys (int + string)") {
    compare(base.groupBy("k1i", "ks").agg(uniqCol("u").as("nu"), count(lit(1)).as("c")))
  }

  test("global (no keys) uniq") {
    compare(base.agg(uniqCol("u").as("nu"), count(lit(1)).as("c")))
  }

  test("global agg over empty input emits one default row") {
    val empty = base.where(lit(false))
    val df = empty.agg(uniqCol("u").as("nu"), count(lit(1)).as("c"),
      sum("v").as("s"))
    assert(usedSketchAgg(df))
    val r = df.collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 0L)
    assert(r(0).getLong(1) === 0L)
    assert(r(0).isNullAt(2))
  }

  test("grouped agg over empty input emits no rows") {
    // non-foldable always-false filter keeps the Aggregate in the plan
    val df = base.where(col("ks") === "no_such_key")
      .groupBy("k1").agg(uniqCol("u").as("nu"))
    assert(usedSketchAgg(df))
    assert(df.collect().isEmpty)
  }

  test("partial flush window merges correctly across windows") {
    val saved = SketchAgg.PartialFlushGroups
    SketchAgg.PartialFlushGroups = 8 // force many emit-and-reset windows
    try {
      val fast = base.groupBy("k1").agg(
        uniqCol("u").as("nu"), count(lit(1)).as("c"), sum("v").as("s"))
      assert(usedSketchAgg(fast))
      val f = fast.collect().map(_.toString).sorted.toSeq
      SketchAgg.PartialFlushGroups = saved
      val s = genericRows(base.groupBy("k1").agg(
        uniqCol("u").as("nu"), count(lit(1)).as("c"), sum("v").as("s")))
      assert(f === s)
      assert(f.length === 97)
    } finally SketchAgg.PartialFlushGroups = saved
  }

  test("fixed-record packed blobs: bit-identical to the generic plan") {
    // count-only long key: all payload fields fixed AND non-nullable —
    // the bitmap-elided record path (8B key + 8B cnt, no len prefix)
    def countOnly = base.groupBy("k1").agg(count(lit(1)).as("c"))
    // nullable fixed fields (sum buffer + nullable long key): fixed
    // records with the bitmap kept
    def nullableFixed = base
      .withColumn("k1n", when(col("v").isNull, lit(null)).otherwise(col("k1")))
      .groupBy("k1n").agg(count(lit(1)).as("c"), sum("v").as("s"), avg("v").as("a"))
    // var-width payload (uniq sketch buffer): length-prefixed records
    def varWidth = base.groupBy("k1").agg(uniqCol("u").as("nu"), sum("v").as("s"))
    compare(countOnly)
    compare(nullableFixed)
    compare(varWidth)
  }

  test("sum/avg of all-null group is NULL; count is 0-compatible") {
    val df = base
      .groupBy("k1").agg(uniqCol("u").as("nu"), sum("vn").as("s"), avg("vn").as("a"))
    assert(usedSketchAgg(df))
    val r = df.collect()
    assert(r.forall(_.isNullAt(2)))
    assert(r.forall(_.isNullAt(3)))
  }

  test("ineligible shapes stay on the generic path") {
    // 3 grouping keys (tried and measured a loss at 100M — see
    // SketchAgg.eligible; the shape stays on the generic path)
    val d1 = base.groupBy("k1", "k1i", "ks").agg(uniqCol("u").as("nu"))
    assert(!usedSketchAgg(d1))
    // unsupported companion aggregate (max)
    val d2 = base.groupBy("k1").agg(uniqCol("u").as("nu"), max("v").as("m"))
    assert(!usedSketchAgg(d2))
    // plain aggs over NARROW keys (no 64-bit key): codegen
    // HashAggregate's territory
    val d3 = base.groupBy("k1i").agg(count(lit(1)).as("c"))
    assert(!usedSketchAgg(d3))
    // string keys are admitted (measured a win on the GROUP-BY-URL
    // class)
    val d4 = base.groupBy("ks").agg(count(lit(1)).as("c"), sum("v").as("s"))
    assert(usedSketchAgg(d4))
    // plain aggs with NO keys: global codegen agg
    val d5 = base.agg(count(lit(1)).as("c"), sum("v").as("s"))
    assert(!usedSketchAgg(d5))
    // results still correct on the fallback path
    assert(d1.collect().nonEmpty && d2.collect().nonEmpty &&
      d3.collect().nonEmpty && d4.collect().nonEmpty && d5.collect().nonEmpty)
  }

  test("zero-uniq long-key shapes: count/sum/avg bit-identical to codegen plan") {
    // bench q16 shape: single long key + count
    compare(base.groupBy("k1").agg(count(lit(1)).as("c")))
    // bench q33 shape: two keys (long + long-ish) + count/sum/avg
    compare(base.groupBy("k1", "u").agg(
      count(lit(1)).as("c"), sum("v").as("s"), avg("v").as("a")))
    // bench q17 shape: long + string key
    compare(base.groupBy("k1", "ks").agg(count(lit(1)).as("c")))
    // NULL-heavy value column
    compare(base.groupBy("k1").agg(sum("vn").as("s"), avg("vn").as("a"),
      count(col("vn")).as("cv")))
  }

  test("zero-object STRING-key shapes: count/sum/avg bit-identical to codegen plan") {
    // bench q34/q35/q13 class
    compare(base.groupBy("ks").agg(count(lit(1)).as("c")))
    compare(base.groupBy("ks").agg(
      count(lit(1)).as("c"), sum("v").as("s"), avg("v").as("a")))
    // two string keys (q118 class: GROUP BY source, token)
    compare(base.groupBy("ks", "ks2").agg(count(lit(1)).as("c")))
  }

  test("zero-object long-key shapes ride SketchAgg") {
    // the adaptive bypass admits them (it protects the high-NDV case;
    // low NDV keeps the map, which is correct either way)
    val df = base.groupBy("k1").agg(count(lit(1)).as("c"))
    assert(usedSketchAgg(df))
  }

  test("keyed shapes ship packed blobs; keyless shapes ship payload rows") {
    val keyed = partialOf(base.groupBy("k1").agg(uniqCol("u").as("nu")))
    assert(keyed.output.map(_.name) === Seq("__bucket", "__blob"))
    val keyless = partialOf(base.agg(uniqCol("u").as("nu"), count(lit(1)).as("c")))
    assert(keyless.output.map(_.name) === Seq("uniq0", "cnt1"))
  }

  private def partialOf(df: DataFrame): graft.operators.PartialSketchAggExec = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE hides stages behind AdaptiveSparkPlanExec/QueryStageExec
    // (not tree children) — descend explicitly
    def find(p: SparkPlan): Option[graft.operators.PartialSketchAggExec] =
      p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case x: graft.operators.PartialSketchAggExec => Some(x)
        case other => other.children.iterator.flatMap(find(_).iterator)
          .nextOption()
      }
    find(df.queryExecution.executedPlan).get
  }

  test("adaptive bypass: high-NDV key streams one-row partials, bit-identical") {
    val saved = SketchAgg.BypassSampleRows
    SketchAgg.BypassSampleRows = 64 // decide after 64 rows per task
    try {
      // ≈unique long key (NDV≈rows): every task should trip the bypass
      def q1 = base.groupBy("u").agg(uniqCol("v").as("nu"),
        count(lit(1)).as("c"), sum("v").as("s"), avg("v").as("a"))
      val fast = q1
      val rows = fast.collect().map(_.toString).sorted.toSeq
      val partial = partialOf(fast)
      assert(partial.metrics("bypassTasks").value > 0,
        partial.metrics.toString)
      assert(partial.metrics("bypassRows").value > 0)
      assert(rows === genericRows(q1))
      // long + NULL-bearing string key, null-heavy values, uniq of the
      // string itself — exercises the string/null singleton kernels
      compare(base.groupBy("u", "ks").agg(count(col("v")).as("cv"),
        sum("vn").as("sn"), avg("v").as("a"), uniqCol("ks").as("nk")))
      // zero-object shape (bench q16/q33): bypass carries count/sum/avg
      compare(base.groupBy("u").agg(count(lit(1)).as("c"),
        sum("v").as("s"), avg("v").as("a")))
    } finally SketchAgg.BypassSampleRows = saved
  }

  test("adaptive bypass is partition-layout invariant") {
    // the trigger decision is per task (depends on each task's local
    // data), so different input layouts take different map/stream
    // paths — results must still be byte-identical
    val saved = SketchAgg.BypassSampleRows
    SketchAgg.BypassSampleRows = 64
    try {
      def q(parts: Int) = base.repartition(parts).groupBy("u")
        .agg(uniqCol("v").as("nu"), count(lit(1)).as("c"), sum("v").as("s"))
      val a = q(3).collect().map(_.toString).sorted.toSeq
      val b = q(13).collect().map(_.toString).sorted.toSeq
      assert(a === b)
      assert(a.nonEmpty)
    } finally SketchAgg.BypassSampleRows = saved
  }

  test("adaptive bypass: low-NDV keys keep the map (no trigger)") {
    val saved = SketchAgg.BypassSampleRows
    SketchAgg.BypassSampleRows = 256 // 97-key domain saturates in-sample
    try {
      val df = base.groupBy("k1").agg(count(lit(1)).as("c"),
        uniqCol("u").as("nu"))
      df.collect()
      assert(partialOf(df).metrics("bypassTasks").value === 0)
    } finally SketchAgg.BypassSampleRows = saved
  }

  test("adaptive bypass: any() has no singleton form — never streams") {
    val saved = SketchAgg.BypassSampleRows
    SketchAgg.BypassSampleRows = 64
    try {
      val anyCol = Bridge.column(graft.functions.ChAny(
        Bridge.expression(col("v")), last = false).toAggregateExpression())
      val df = base.groupBy("u").agg(count(lit(1)).as("c"), anyCol.as("av"))
      df.collect()
      assert(usedSketchAgg(df))
      assert(partialOf(df).metrics("bypassTasks").value === 0)
    } finally SketchAgg.BypassSampleRows = saved
  }

  test("adaptive bypass re-samples after the streamed window " +
      "(clustered-prefix shape stops streaming)") {
    val savedS = SketchAgg.BypassSampleRows
    val savedR = SketchAgg.BypassRecheckRows
    SketchAgg.BypassSampleRows = 256
    SketchAgg.BypassRecheckRows = 1024
    try {
      // a high-NDV HEAD (2000 unique keys) then a repetitive TAIL
      // (100k rows of one key), over two partitions so the partial
      // still runs (one partition aggregates in one complete pass,
      // which has no bypass). A one-shot decision
      // would stream all ~100k tail rows as one-row partials; the
      // re-check must bring the map back within a few windows.
      def q = spark.range(0, 102000, 1, 2)
        .withColumn("k",
          when(col("id") < 2000, col("id")).otherwise(lit(-1L)))
        .withColumn("v", pmod(col("id"), lit(7)).cast("int"))
        .groupBy("k")
        .agg(count(lit(1)).as("c"), sum("v").as("s"))
      val fast = q
      val rows = fast.collect().map(_.toString).sorted.toSeq
      val partial = partialOf(fast)
      assert(partial.metrics("bypassTasks").value > 0)
      val streamed = partial.metrics("bypassRows").value
      // head ≈ 2000 rows; allow a handful of straddling windows
      assert(streamed > 0 && streamed < 8000,
        s"streamed $streamed rows — re-check did not stop the bypass")
      assert(rows === genericRows(q))
    } finally {
      SketchAgg.BypassSampleRows = savedS
      SketchAgg.BypassRecheckRows = savedR
    }
  }

  test("count(NULL literal) is 0, not a row count — map and bypass paths") {
    // map path (low-NDV key saturates the sample, no bypass)
    compare(base.groupBy("k1").agg(
      count(lit(null)).as("cn"), count(lit(1)).as("c"), sum("v").as("s")))
    // bypass path (high-NDV key, tiny sample forces streaming)
    val saved = SketchAgg.BypassSampleRows
    SketchAgg.BypassSampleRows = 64
    try compare(base.groupBy("u").agg(
      count(lit(null)).as("cn"), count(lit(1)).as("c"), sum("v").as("s")))
    finally SketchAgg.BypassSampleRows = saved
  }

  test("adaptive bypass composes with the partial flush window") {
    val savedF = SketchAgg.PartialFlushGroups
    val savedS = SketchAgg.BypassSampleRows
    // flush window smaller than the sample: the decision lands at a
    // flush boundary and must still be bit-identical
    SketchAgg.PartialFlushGroups = 8
    SketchAgg.BypassSampleRows = 64
    try {
      compare(base.groupBy("u").agg(uniqCol("v").as("nu"),
        count(lit(1)).as("c")))
    } finally {
      SketchAgg.PartialFlushGroups = savedF
      SketchAgg.BypassSampleRows = savedS
    }
  }

  test("final-stage sort fallback is bit-identical past the group cap") {
    val saved = SketchAgg.FinalMaxGroups
    SketchAgg.FinalMaxGroups = 16 // force the UnsafeKVExternalSorter path
    try {
      // sketch + plain aggs, 97 groups >> 16-group cap per partition
      val fast = base.groupBy("k1").agg(
        uniqCol("u").as("nu"), count(lit(1)).as("c"), sum("v").as("s"),
        avg("v").as("a"))
      assert(usedSketchAgg(fast))
      val f = fast.collect().map(_.toString).sorted.toSeq
      SketchAgg.FinalMaxGroups = saved
      val s = genericRows(base.groupBy("k1").agg(
        uniqCol("u").as("nu"), count(lit(1)).as("c"), sum("v").as("s"),
        avg("v").as("a")))
      assert(f === s)
      assert(f.length === 97)
    } finally SketchAgg.FinalMaxGroups = saved
  }

  test("final-stage sort fallback handles string keys with NULLs") {
    val saved = SketchAgg.FinalMaxGroups
    SketchAgg.FinalMaxGroups = 4
    try {
      val fast = base.groupBy("ks").agg(
        uniqCol("u").as("nu"), count(col("v")).as("cv"))
      assert(usedSketchAgg(fast))
      val f = fast.collect().map(_.toString).sorted.toSeq
      SketchAgg.FinalMaxGroups = saved
      val s = genericRows(base.groupBy("ks").agg(
        uniqCol("u").as("nu"), count(col("v")).as("cv")))
      assert(f === s)
    } finally SketchAgg.FinalMaxGroups = saved
  }

  test("expression key + any + avg(expr) (bench q29 shape)") {
    base.createOrReplaceTempView("sa_t29")
    def q = sql.ChDdl.execute(spark,
      "SELECT substring(ks, 1, 4) AS pre, avg(length(ks)) AS l, " +
        "count() AS c, any(ks) AS a, uniq(u) AS nu " +
        "FROM sa_t29 WHERE ks != '' GROUP BY pre ORDER BY l DESC, pre LIMIT 25").get
    val fast = q
    assert(usedSketchAgg(fast), fast.queryExecution.executedPlan.toString)
    val f = fast.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(4))).toSeq
    SketchAgg.enabled = false
    val s = try q.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(4))).toSeq
      finally SketchAgg.enabled = true
    // any() is nondeterministic cross-plan; compare the deterministic columns
    assert(f === s)
    assert(f.nonEmpty)
  }

  test("anyLast over grouped data returns a value from the group") {
    val df = base.groupBy("k1").agg(
      uniqCol("u").as("nu"),
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.ChAny(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("ks")),
          last = true).toAggregateExpression()).as("al"))
    assert(usedSketchAgg(df))
    val rows = df.collect()
    assert(rows.length === 97)
    // value must belong to the group (or be null — ks has nulls)
    val byK = base.select("k1", "ks").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        if (r.isNullAt(1)) null else r.getString(1)).toSet).toMap
    rows.foreach { r =>
      val v = if (r.isNullAt(2)) null else r.getString(2)
      assert(byK(r.getLong(0)).contains(v))
    }
  }

  test("single-split scan: one complete SketchAgg pass, no exchange") {
    val dir = java.nio.file.Files.createTempDirectory("sa_single").toString + "/t"
    base.select("k1", "u", "v").write.parquet(dir)
    def scan = spark.read.parquet(dir)
    for (mk <- Seq(
        () => scan.groupBy("k1").agg(uniqCol("u").as("nu"), count(lit(1)).as("c")),
        () => scan.agg(uniqCol("u").as("nu"), sum("v").as("s")))) {
      val df = mk()
      compare(df)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SingleSplitScan"), p)
      // the AQE plan string prints the final and the initial plan
      assert("CompleteSketchAgg".r.findAllIn(p).size === 2, p)
      assert(!p.contains("PartialSketchAgg") && !p.contains("FinalSketchAgg"), p)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("complete pass past the flush window merges its windows bit-identically") {
    val saved = SketchAgg.PartialFlushGroups
    val savedMax = SketchAgg.FinalMaxGroups
    // one partition, many flush windows; the second query's 16-group
    // cap also sends the merge to its sort fallback
    def one = base.coalesce(1)
    try {
      for ((flush, cap) <- Seq((8, savedMax), (8, 16))) {
        SketchAgg.PartialFlushGroups = flush
        SketchAgg.FinalMaxGroups = cap
        for (mk <- Seq(
            () => one.groupBy("k1").agg(uniqCol("u").as("nu"), count(lit(1)).as("c"),
              sum("v").as("s"), avg("v").as("a")),
            () => one.groupBy("ks").agg(uniqCol("u").as("nu"), count(col("v")).as("cv")))) {
          val df = mk()
          val p = df.queryExecution.executedPlan.toString
          assert(p.contains("CompleteSketchAgg") && !p.contains("PartialSketchAgg"), p)
          val f = df.collect().map(_.toString).sorted.toSeq
          SketchAgg.PartialFlushGroups = saved
          SketchAgg.FinalMaxGroups = savedMax
          assert(f === genericRows(mk()))
          assert(f.length > 8)
          SketchAgg.PartialFlushGroups = flush
          SketchAgg.FinalMaxGroups = cap
        }
      }
    } finally {
      SketchAgg.PartialFlushGroups = saved
      SketchAgg.FinalMaxGroups = savedMax
    }
  }

  test("dialect uniq GROUP BY goes through SketchAgg (bench q9 shape)") {
    base.createOrReplaceTempView("sa_t")
    val df = sql.ChDdl.execute(spark,
      "SELECT k1, uniq(u) AS nu FROM sa_t GROUP BY k1 ORDER BY nu DESC LIMIT 10").get
    assert(usedSketchAgg(df), df.queryExecution.executedPlan.toString)
    assert(df.collect().length === 10)
  }
}
