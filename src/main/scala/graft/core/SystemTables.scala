package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's system tables (dbms/src/Storages/System — numbers,
  * one, tables, columns, databases, functions, settings, metrics,
  * events, parts, merges, replicas, asynchronous_metrics, processes,
  * build_options) as registered views over the Spark catalog, status
  * APIs, and graft-side registries. Introspection queries a reference
  * user runs (`SELECT * FROM system.tables`) work after
  * `SystemTables.register(spark)` with a `system_` prefix (temp views
  * cannot be schema-qualified).
  */
object SystemTables {

  /** system.events counters (StorageSystemEvents.cpp over
    * ProfileEvents): cumulative since-process-start counts bumped by
    * the query/insert/merge paths. */
  object Events {
    private val counters =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    def inc(name: String, by: Long = 1L): Unit =
      counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())
        .addAndGet(by)
    def snapshot: Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      counters.asScala.map { case (k, v) => (k, v.get()) }.toSeq.sortBy(_._1)
    }
  }

  /** system.merges (StorageSystemMerges.cpp over MergeList): merges
    * currently executing, plus a bounded history of completed ones so
    * the table is observable after the fact in a batch engine. */
  object Merges {
    final case class Merge(table: String, startedMs: Long,
        var elapsedMs: Long = -1L) { def active: Boolean = elapsedMs < 0 }
    private val list = new java.util.concurrent.ConcurrentLinkedDeque[Merge]()
    def begin(table: String, nowMs: Long): Merge = {
      val m = Merge(table, nowMs)
      list.addLast(m); while (list.size > 64) list.removeFirst()
      m
    }
    def end(m: Merge, nowMs: Long): Unit = m.elapsedMs = nowMs - m.startedMs
    def snapshot: Seq[(String, Boolean, Long)] = {
      import scala.jdk.CollectionConverters._
      list.asScala.map(m => (m.table, m.active, math.max(0L, m.elapsedMs))).toSeq
    }
  }

  /** Path-backed MergeTree tables whose on-disk parts system.parts
    * reports (StorageSystemParts.cpp). [[graft.storage.MergeTreeTable]]
    * writes register here; tests may add entries directly. */
  object PartsCatalog {
    private val paths = scala.collection.concurrent.TrieMap[String, String]()
    def put(table: String, path: String): Unit = paths.put(table, path)
    def all: Seq[(String, String)] = paths.toSeq.sortBy(_._1)
    def clear(): Unit = paths.clear()
  }

  def register(spark: SparkSession): Unit = {
    import spark.implicits._

    spark.sql("SELECT 0 AS dummy").createOrReplaceTempView("system_one")
    // bounded stand-in for the infinite generator (LocalLimit stops it)
    spark.range(100000000L).toDF("number").createOrReplaceTempView("system_numbers")

    // rows: decoding the typed catalog.Table fails under NO_CODEGEN
    val tables = spark.catalog.listTables().toDF()
      .selectExpr("namespace", "name", "tableType", "isTemporary")
    tables.createOrReplaceTempView("system_tables")

    val cols = tables.collect().map(_.getAs[String]("name"))
      .filter(t => !t.startsWith("system_"))
      .flatMap { t =>
        scala.util.Try(spark.table(t).schema.fields.map(f =>
          (t, f.name, f.dataType.simpleString, f.nullable))).getOrElse(Array())
      }.toSeq
    cols.toDF("table", "name", "type", "nullable")
      .createOrReplaceTempView("system_columns")

    spark.catalog.listDatabases().toDF()
      .selectExpr("name", "locationUri")
      .createOrReplaceTempView("system_databases")

    spark.sessionState.functionRegistry.listFunction()
      .map(f => f.funcName).sorted.toDF("name")
      .createOrReplaceTempView("system_functions")

    spark.conf.getAll.toSeq.toDF("name", "value")
      .createOrReplaceTempView("system_settings")

    val tracker = spark.sparkContext.statusTracker
    tracker.getActiveJobIds().toSeq
      .map(id => (id, tracker.getJobInfo(id).map(_.status().toString).getOrElse("UNKNOWN")))
      .toDF("job_id", "status")
      .createOrReplaceTempView("system_processes")

    Seq(
      ("spark_version", spark.version),
      ("scala_version", scala.util.Properties.versionNumberString),
      ("java_version", System.getProperty("java.version")))
      .toDF("name", "value")
      .createOrReplaceTempView("system_build_options")

    // ---- metrics: instantaneous gauges (StorageSystemMetrics.cpp
    // over CurrentMetrics — Query/Merge in flight, memory) ----
    val rt = Runtime.getRuntime
    Seq(
      ("Query", tracker.getActiveJobIds().length.toLong),
      ("Merge", Merges.snapshot.count(_._2).toLong),
      ("MemoryTracking", rt.totalMemory() - rt.freeMemory()),
      ("BackgroundPoolTask",
        tracker.getActiveStageIds().length.toLong))
      .toDF("metric", "value")
      .createOrReplaceTempView("system_metrics")

    // ---- events: cumulative counters since start ----
    val ev = Events.snapshot
    (if (ev.isEmpty) Seq(("Query", 0L)) else ev)
      .toDF("event", "value")
      .createOrReplaceTempView("system_events")

    // ---- merges: in-flight + recent compactions ----
    Merges.snapshot
      .toDF("table", "is_active", "elapsed_ms")
      .createOrReplaceTempView("system_merges")

    // ---- parts: one row per on-disk parquet file of each registered
    // MergeTree path; partition dir name = the partition id ----
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val parts = PartsCatalog.all.flatMap { case (table, dir) =>
      val base = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(base)) Seq.empty
      else {
        val it = fs.listFiles(base, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long, Long)]
        while (it.hasNext) {
          val st = it.next()
          val p = st.getPath
          if (p.getName.endsWith(".parquet")) {
            val rel = p.toString.stripPrefix(base.toString).stripPrefix("/")
            val partition = rel.split('/').dropRight(1).mkString("/") match {
              case "" => "all"; case s => s
            }
            buf += ((table, partition, p.getName, st.getLen, st.getModificationTime))
          }
        }
        buf.toSeq
      }
    }
    parts.toDF("table", "partition", "name", "bytes_on_disk", "modification_time")
      .createOrReplaceTempView("system_parts")

    // ---- replicas: this engine has no replication layer (Spark's
    // storage supplies durability); the table exists with the
    // reference's key columns and is empty ----
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("database", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("table", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("is_leader", org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("is_readonly", org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("absolute_delay", org.apache.spark.sql.types.LongType))))
      .createOrReplaceTempView("system_replicas")

    // ---- asynchronous_metrics: background-sampled host/JVM gauges
    // (AsynchronousMetrics.cpp) ----
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    Seq(
      ("jemalloc.resident", mx.getHeapMemoryUsage.getUsed.toDouble),
      ("MemoryHeapCommitted", mx.getHeapMemoryUsage.getCommitted.toDouble),
      ("NumberOfLogicalProcessorCores", os.getAvailableProcessors.toDouble),
      ("LoadAverage1", os.getSystemLoadAverage),
      ("UptimeSeconds", up / 1000.0))
      .toDF("metric", "value")
      .createOrReplaceTempView("system_asynchronous_metrics")

    // ---- clusters: the execution topology (StorageSystemClusters.cpp
    // columns). local[*] is one shard of one cluster; on a real Spark
    // cluster one row per executor would land here ----
    val host = java.net.InetAddress.getLocalHost
    Seq(("default", 1, 1, 1, host.getHostName, host.getHostAddress, 0, 1))
      .toDF("cluster", "shard_num", "shard_weight", "replica_num",
        "host_name", "host_address", "port", "is_local")
      .createOrReplaceTempView("system_clusters")

    // ---- graphite: registered rollup schemes, one row per
    // retention rung (StorageSystemGraphite.cpp:114-121) ----
    graft.storage.GraphiteRollup.systemRows
      .toDF("config_name", "regexp", "function", "age", "precision",
        "priority", "is_default")
      .createOrReplaceTempView("system_graphite")

    // ---- replication_queue: this engine has no replication layer,
    // so the queue is structurally empty; the reference's key columns
    // exist for compatibility (StorageSystemReplicationQueue.cpp:23-45) ----
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("database", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("table", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("replica_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("position", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("node_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("create_time", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("required_quorum", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source_replica", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("new_part_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("parts_to_merge",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("is_currently_executing", org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("num_tries", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("last_exception", org.apache.spark.sql.types.StringType))))
      .createOrReplaceTempView("system_replication_queue")

    // ---- dictionaries: the loaded external dictionaries
    // (StorageSystemDictionaries.cpp key columns) — the regions
    // hierarchy is the one this engine ships ----
    Seq(("regions_hierarchy", "builtin", "Hierarchical", "UInt64",
      Seq("parent", "type", "population"),
      Seq("UInt64", "UInt8", "UInt32"),
      graft.functions.RegionDict.dict.size.toLong))
      .toDF("name", "origin", "type", "key",
        "attribute_names", "attribute_types", "element_count")
      .createOrReplaceTempView("system_dictionaries")
  }
}

/** DDL/admin verbs (InterpreterFactory.cpp dispatch): SHOW TABLES /
  * DESCRIBE / SHOW PROCESSLIST / KILL QUERY / OPTIMIZE. */
object Admin {
  def showTables(spark: SparkSession): DataFrame = {
    SystemTables.register(spark)
    spark.table("system_tables")
  }

  def describeTable(spark: SparkSession, name: String): DataFrame =
    spark.sql(s"DESCRIBE TABLE $name")

  def showProcesslist(spark: SparkSession): DataFrame = {
    SystemTables.register(spark)
    spark.table("system_processes")
  }

  /** KILL QUERY ≈ cancel the job group that ran it. */
  def killQuery(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroup(group)

  /** OPTIMIZE TABLE — explicit compaction of a MergeTree path. */
  def optimize(spark: SparkSession, path: String,
      spec: graft.storage.MergeTreeTable.Spec): Unit =
    graft.storage.MergeTreeTable.optimize(spark, path, spec)

  /** The `extremes=1` side channel (IProfilingBlockInputStream):
    * a (min, max) row pair over every numeric column of a result. */
  def extremes(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val numeric = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).map(_.name)
    require(numeric.nonEmpty, "extremes: no numeric columns")
    val mins = df.groupBy().agg(min(col(numeric.head)).as(numeric.head),
      numeric.tail.map(c => min(col(c)).as(c)).toIndexedSeq: _*)
      .withColumn("extreme", lit("min"))
    val maxs = df.groupBy().agg(max(col(numeric.head)).as(numeric.head),
      numeric.tail.map(c => max(col(c)).as(c)).toIndexedSeq: _*)
      .withColumn("extreme", lit("max"))
    mins.unionByName(maxs).select(("extreme" +: numeric.toIndexedSeq).map(col): _*)
  }
}
