package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** MergeTree-on-Parquet storage layer (SURVEY.md §2.1).
  *
  * The reference's MergeTree stores sorted parts, partitioned by
  * toYYYYMM(date), with a sparse primary index every 8192 rows
  * (dbms/src/Storages/MergeTree/MergeTreeData.h:59-61,230). The
  * Spark-native restatement:
  *
  *  - partition dirs  ↔ `partitionBy(partition key)` → Catalyst
  *    partition pruning (the by-month part pruning,
  *    MergeTreeDataSelectExecutor.cpp:222-238);
  *  - sorted parts    ↔ `sortWithinPartitions(sort key)` → parquet
  *    row-group min/max stats become selective, so predicate pushdown
  *    skips row groups exactly like the sparse index's
  *    `mayBeTrueInRange` (PKCondition.cpp);
  *  - background merge ↔ [[optimize]] — an explicit compaction that
  *    folds rows per engine semantics and rewrites sorted parts
  *    (MergeTreeDataMerger.cpp; SQL `OPTIMIZE TABLE`).
  *
  * At cluster scale each partition dir compacts independently and in
  * parallel; nothing here serializes through the driver.
  */
object MergeTreeTable {

  /** Engine flavor = how equal-sort-key rows fold at merge/read
    * (StorageFactory.cpp:242-561 dispatch). */
  sealed trait Engine
  /** Plain MergeTree: no folding. */
  case object Plain extends Engine
  /** SummingMergeTree: sum `sumCols`, drop zero-sum rows. */
  final case class Summing(sumCols: Seq[String]) extends Engine
  /** ReplacingMergeTree: keep the max-`version` row per key. */
  final case class Replacing(version: String) extends Engine
  /** CollapsingMergeTree: ±1 `sign` rows cancel in merge order; a key
    * keeps its first -1 and/or last +1 row (see [[fold]]). */
  final case class Collapsing(sign: String) extends Engine
  /** AggregatingMergeTree: merge AggregateFunction states per key.
    * `stateCols` maps state column name → lowercased aggregate base
    * name from the declared AggregateFunction(...) type. */
  final case class Aggregating(stateCols: Map[String, String]) extends Engine
  /** GraphiteMergeTree: config-driven retention rollup
    * ([[GraphiteRollup]]). `timeOfMerge` pins the age reference point
    * (epoch seconds); None = wall clock at fold time. */
  final case class Graphite(
      params: GraphiteRollup.Params,
      timeOfMerge: Option[Long] = None) extends Engine

  final case class Spec(
      sortKey: Seq[String],
      partitionCol: Option[String] = None,
      engine: Engine = Plain)

  /** Sorted, partitioned append — the INSERT path. */
  def write(df: DataFrame, path: String, spec: Spec,
      mode: SaveMode = SaveMode.Append): Unit = {
    val sorted = spec.partitionCol match {
      case Some(p) =>
        df.repartition(col(p))
          .sortWithinPartitions((p +: spec.sortKey).map(col): _*)
      case None =>
        df.sortWithinPartitions(spec.sortKey.map(col): _*)
    }
    // INT96 (the session default timestamp encoding) writes NO
    // statistics — timestamp predicates would never prune row groups
    // or pages on MergeTree parts. Force the annotated MICROS
    // encoding, which FooterStats also verifies as exact; restore the
    // caller's setting afterwards.
    val conf = df.sparkSession.conf
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val savedTs = conf.getOption(tsKey)
    conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      val w = sorted.write.mode(mode)
      spec.partitionCol.fold(w)(p => w.partitionBy(p)).parquet(path)
    } finally savedTs match {
      case Some(v) => conf.set(tsKey, v)
      case None => conf.unset(tsKey)
    }
    // persist the sparse index (the primary.idx analog): per-file
    // min/max sidecars so a FRESH session plans with zero footer opens
    try graft.operators.FooterStats.writeSidecars(
      df.sparkSession.sessionState.newHadoopConf(), path)
    catch { case scala.util.control.NonFatal(_) => () }
    graft.core.SystemTables.PartsCatalog.put(
      path.split('/').last.stripSuffix(".parquet"), path)
    graft.core.SystemTables.Events.inc("InsertedParts")
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read exposing the reference's `_part` virtual column
    * (MergeTreeDataSelectExecutor virtual columns; `_table` is the
    * Merge-engine analog in MergeTreeQueries): the source part name
    * derives from the parquet split path — no extra I/O, constant per
    * file, usable in WHERE for part pruning after a filter. */
  def readWithPart(spark: SparkSession, path: String): DataFrame =
    read(spark, path).withColumn("_part",
      regexp_extract(input_file_name(), "([^/]+)\\.parquet", 1))

  /** Hidden column name carrying the data-pinned insert order (see
    * [[readFinal]]); excluded from every fold output. */
  private val InsCol = "__graft_ins"

  /** FINAL read — the engine's folded view computed at read time
    * (CollapsingFinalBlockInputStream.cpp; SELECT ... FINAL).
    *
    * For the engines whose fold depends on INSERT ORDER (Replacing's
    * last-inserted-wins tiebreak, Summing's first-row payload,
    * Collapsing's first-negative/last-positive rows), the order is
    * reconstructed from persisted data, not read layout: the part
    * sidecars carry a per-file insert epoch
    * ([[graft.operators.FooterStats.insertEpochs]]), the file path
    * orders the files one write produced (part-00000, part-00001, …
    * in the written DataFrame's partition order) and
    * `_metadata.row_index` gives the position within the sorted part —
    * together the exact merge order of ReplacingSortedBlockInputStream
    * over parts. A future change to file-listing order cannot move
    * survivors. Tables without sidecars fall back to the
    * listing-order monotone id (exact while reads list parts in
    * insert order — the historical behavior). */
  def readFinal(spark: SparkSession, path: String, spec: Spec): DataFrame =
    spec.engine match {
      case Replacing(_) | Summing(_) | Collapsing(_) =>
        // epochsCoveringAll: None unless EVERY data file has an epoch
        // — a write whose sidecar persist failed (write() swallows
        // those) may be exactly the newest insert, and any default
        // epoch for its files would invert last-inserted-wins. Keyed
        // by qualified file PATH (not name): the dynamic-partition
        // writer reuses file names across partition dirs.
        val epochs =
          try graft.operators.FooterStats.epochsCoveringAll(
            spark.sessionState.newHadoopConf(), path)
          catch { case scala.util.control.NonFatal(_) => None }
        epochs match {
          case None => fold(read(spark, path), spec)
          case Some(eps) =>
            // broadcast epoch lookup: O(1) per row at any part count
            // (a map-literal lookup would scan linearly per row).
            // Inner semantics are safe: coverage was just verified, so
            // the left join hits every row.
            val epochDf = spark.createDataFrame(eps.toSeq)
              .toDF("__graft_file", "__graft_epoch")
            val withIns = read(spark, path)
              .select(col("*"),
                col("_metadata.file_path").as("__graft_file"),
                col("_metadata.row_index").as("__graft_row"))
              .join(broadcast(epochDf), Seq("__graft_file"), "left")
              .withColumn(InsCol, struct(
                coalesce(col("__graft_epoch"), lit(-1L)).as("e"),
                col("__graft_file").as("f"),
                col("__graft_row").as("r")))
              .drop("__graft_file", "__graft_epoch", "__graft_row")
            fold(withIns, spec, Some(InsCol))
        }
      case _ => fold(read(spark, path), spec)
    }

  /** OPTIMIZE — fold and rewrite sorted (the background merge made
    * explicit). Rewrites to a temp dir first so a failed compaction
    * never destroys the table. */
  def optimize(spark: SparkSession, path: String, spec: Spec): Unit = {
    val m = graft.core.SystemTables.Merges.begin(
      path.split('/').last, System.currentTimeMillis())
    val tmp = path + "__optimizing"
    // readFinal, not fold(read(...)): the compaction's survivors must
    // follow the same data-pinned insert order as a FINAL read
    write(readFinal(spark, path, spec), tmp, spec, SaveMode.Overwrite)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
    graft.core.SystemTables.Merges.end(m, System.currentTimeMillis())
    graft.core.SystemTables.Events.inc("Merge")
    graft.core.SystemTables.PartsCatalog.put(path.split('/').last, path)
  }

  /** The merge fold for each engine (SummingSortedBlockInputStream,
    * ReplacingSortedBlockInputStream, CollapsingSortedBlockInputStream
    * semantics as declarative plans).
    *
    * `insCol`: name of a column IN `df` carrying the insert order
    * (orderable; excluded from the output) — [[readFinal]] passes the
    * persisted (epoch, file, row_index) triple. None ⇒ the order
    * derives from `monotonically_increasing_id()`, which encodes insert
    * order ONLY while the DataFrame's partition layout still reflects
    * the insert-union lineage (true for the dialect catalog's in-memory
    * tables, whose batches are coalesce(1)-sorted unions and never
    * repartitioned between inserts, and whose OPTIMIZEd part keeps each
    * key's rows together in merge order — ChDdl's fold call sites). */
  def fold(df0: DataFrame, spec: Spec,
      insCol0: Option[String] = None): DataFrame = {
    val groups = foldGroups(df0, spec, insCol0)
    if (!spec.engine.isInstanceOf[Summing]) groups
    else {
      // Summing's all-zero edge (keep the last group) needs one global
      // fact, not a global ordering: a 1-row aggregate (any-survivor
      // flag, max key tuple) broadcast-cross-joined back. Its second
      // reduce pass is paid only on these lazy paths (FINAL before
      // OPTIMIZE, readFinal, optimize); ChDdl's OPTIMIZE decides the
      // edge on its materialized part.
      val summary = groups.agg(max(col(KeepCol).cast("int")).as("__any"),
        max(col(KeyCol)).as("__lastkey"))
      groups.crossJoin(broadcast(summary))
        .filter(col(KeepCol) || (col("__any") === 0 && col(KeyCol) === col("__lastkey")))
        .drop(KeepCol, KeyCol, "__any", "__lastkey")
    }
  }

  val KeepCol = "__keep"
  val KeyCol = "__key"

  /** The fold up to Summing's all-zero edge: for Summing, every folded
    * group with its [[KeepCol]] flag (whether it survives on its own)
    * and its [[KeyCol]] tuple; for the other engines, the fold itself. */
  def foldGroups(df0: DataFrame, spec: Spec,
      insCol0: Option[String] = None): DataFrame = {
    // only the insert-order-sensitive folds consume insCol; the rest
    // drop it up front so it can never leak into their output
    val (df, insCol) = spec.engine match {
      case Replacing(_) | Summing(_) | Collapsing(_) => (df0, insCol0)
      case _ => (insCol0.fold(df0)(df0.drop(_)), None)
    }
    foldImpl(df, spec, insCol)
  }

  /** Column reference that keeps a dotted Nested member name whole. */
  private def qcol(n: String) = col(if (n.contains(".")) s"`$n`" else n)

  private def foldImpl(df: DataFrame, spec: Spec,
      insCol: Option[String]): DataFrame = spec.engine match {
    case Plain => df
    case Summing(sumCols) =>
      // Reference drop rule (SummingSortedBlockInputStream.cpp:195-247):
      // only a MERGED group can become zero (a single row never does,
      // `current_row_is_zero = false` on group start), and if every
      // group zeroed out the LAST group is written anyway so the
      // output is never empty while input wasn't.
      val keyNames = spec.partitionCol.toSeq ++ spec.sortKey
      val keys = keyNames.map(col)
      // Nested groups named *Map fold as MAPS (SummingSortedBlockInputStream
      // map discovery): key members = the first member plus names
      // ending ID/Key/Type (integral element type), value members =
      // the numeric rest; groups violating the shape stay ordinary.
      def elemType(c: String) = df.schema(c).dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) => Some(et)
        case _ => None
      }
      def integral(dt: org.apache.spark.sql.types.DataType) = dt match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DateType => true
        case _: org.apache.spark.sql.types.DecimalType => true
        case _ => false
      }
      def numeric(dt: org.apache.spark.sql.types.DataType) =
        integral(dt) || dt == org.apache.spark.sql.types.DoubleType ||
          dt == org.apache.spark.sql.types.FloatType
      // map VALUES must behave as numbers — Date/DateTime do not
      // (SummingSortedBlockInputStream.cpp:155-159; the
      // NonArithmeticValueMap case of corpus 00148)
      def summable(dt: org.apache.spark.sql.types.DataType) =
        numeric(dt) && dt != org.apache.spark.sql.types.DateType &&
          dt != org.apache.spark.sql.types.TimestampType
      val mapGroups: Map[String, (Seq[String], Seq[Int])] =
        df.columns.filter(_.contains(".")).groupBy(_.takeWhile(_ != '.'))
          .filter { case (g, ms) =>
            g.endsWith("Map") && ms.forall(m => !keyNames.contains(m))
          }
          .flatMap { case (g, ms0) =>
            val ms = ms0.toSeq
            val flags = ms.zipWithIndex.map { case (m, i) =>
              val leaf = m.drop(g.length + 1)
              val isKey = i == 0 || leaf.endsWith("ID") ||
                leaf.endsWith("Key") || leaf.endsWith("Type")
              (m, i, isKey)
            }
            val ok = flags.forall { case (m, _, isKey) =>
              elemType(m).exists(et =>
                if (isKey) integral(et) else summable(et))
            }
            if (ok && flags.exists(!_._3))
              Some(g -> (ms, flags.filter(_._3).map(_._2)))
            else None
          }
      val mapMembers = mapGroups.values.flatMap(_._1).toSet
      val sumCols2 = sumCols.filterNot(mapMembers.contains)
      val dataCols = df.columns.filterNot(insCol.contains)
      val others = dataCols.filterNot(c =>
        keyNames.contains(c) || sumCols2.contains(c) || mapMembers.contains(c))
      val mapAlias: Map[String, String] =
        mapGroups.keys.zipWithIndex.map { case (g, i) => g -> s"__map$i" }.toMap
      // non-summed columns keep the FIRST merge-order row's value
      // (SummingSortedBlockInputStream keeps the current row and only
      // overwrites summed columns); min_by over a per-row insertion
      // sequence is deterministic under a shuffle where first() is
      // pick-any, and matches the reference's part order
      val aggs = sumCols2.map(c => sum(col(c)).as(c)) ++
        others.map(c => min_by(qcol(c), col("__ins")).as(c)) ++
        mapGroups.map { case (g, (ms, _)) =>
          flatten(collect_list(arrays_zip(ms.map(qcol): _*))).as(mapAlias(g))
        } :+ count(lit(1)).as("__cnt")
      val keep0 =
        if (sumCols2.isEmpty) lit(true) // nothing to sum → plain dedup
        else col("__cnt") === 1 || sumCols2.map(c => col(c) =!= 0).reduce(_ || _)
      val keep =
        if (mapGroups.isEmpty) keep0
        else mapGroups.values.map { case (ms, _) => size(qcol(ms.head)) > 0 }
          .foldLeft(keep0)(_ || _)
      // per-row insertion sequence: the caller's data-pinned column
      // when given, else the monotone id (see fold's scaladoc)
      val folded0 = df
        .withColumn("__ins", insCol.map(col)
          .getOrElse(monotonically_increasing_id()))
        .groupBy(keys: _*)
        .agg(aggs.head, aggs.tail: _*)
      // expand the merged maps back into their member columns
      val folded1 = mapGroups.foldLeft(folded0) { case (d, (g, (ms, ki))) =>
        val mergedCol = org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.SumMapMergeExpr(
            org.apache.spark.sql.graftbridge.Bridge.expression(col(mapAlias(g))),
            ki))
        ms.foldLeft(d)((dd, m) =>
          dd.withColumn(m, transform(mergedCol, x => x.getField(m))))
      }
      // every group stays; the all-zero edge is fold's or the caller's
      folded1.select((dataCols.map(qcol) :+ keep.as(KeepCol) :+
        struct(keys: _*).as(KeyCol)).toIndexedSeq: _*)
    case Replacing(version) =>
      // max_by over a groupBy, not a row_number window: a declarative
      // aggregate gets map-side partial aggregation — one survivor
      // candidate per key per task into the exchange, no full per-key
      // shuffle+sort of every row. Reference semantics
      // (ReplacingSortedBlockInputStream.h:11-15): max version wins;
      // among EQUAL versions the last-inserted row survives — pinned
      // by the caller's data-pinned insert column (readFinal's
      // persisted (epoch, row_index)) or, fallback, a monotone insert
      // id (see fold's scaladoc for the lineage precondition).
      val keys = (spec.partitionCol.toSeq ++ spec.sortKey).map(col)
      val cols = df.columns.filterNot(insCol.contains)
      df.withColumn("__ins", insCol.map(col)
          .getOrElse(monotonically_increasing_id()))
        .groupBy(keys: _*)
        .agg(max_by(struct(cols.map(col).toIndexedSeq: _*),
          struct(col(version), col("__ins"))).as("__row"))
        .select(cols.map(c => col("__row").getField(c).as(c)).toIndexedSeq: _*)
    case Collapsing(sign) =>
      // Reference rule over merge order, per key
      // (CollapsingSortedBlockInputStream::insertRows):
      //  - as many +1 as -1 rows and the last one -1 → no row;
      //  - pos <= neg → the first -1 row;
      //  - pos >= neg → the last +1 row (so equal counts ending in +1
      //    keep both, the -1 row first);
      // every row keeps its own sign. The reference's "all rows
      // collapsed" edge (emit one row when the whole result would be
      // empty) is left out. One partial/final hash aggregation: the
      // counts plus min_by/max_by over the insert order, whose null
      // orderings (rows of the other sign) are skipped; then at most
      // two rows per key come back out of an array.
      val keys = (spec.partitionCol.toSeq ++ spec.sortKey).map(col)
      val cols = df.columns.filterNot(insCol.contains)
      val row = struct(cols.map(qcol).toIndexedSeq: _*)
      val pos = col(sign) > 0
      val neg = col(sign) < 0
      val ins = col("__ins")
      val cancelled = col("__pos") === col("__neg") && !col("__lastIsPos")
      df.withColumn("__ins", insCol.map(col)
          .getOrElse(monotonically_increasing_id()))
        .groupBy(keys: _*)
        .agg(count(when(pos, 1)).as("__pos"), count(when(neg, 1)).as("__neg"),
          min_by(row, when(neg, ins)).as("__firstNeg"),
          max_by(row, when(pos, ins)).as("__lastPos"),
          max_by(pos, when(pos || neg, ins)).as("__lastIsPos"))
        .select(explode(array(
          when(col("__pos") <= col("__neg") && !cancelled, col("__firstNeg")),
          when(col("__pos") >= col("__neg") && !cancelled, col("__lastPos"))))
          .as("__row"))
        .filter(col("__row").isNotNull)
        .select(cols.map(c => col("__row").getField(c).as(c)).toIndexedSeq: _*)
    case Graphite(params, timeOfMerge) =>
      GraphiteRollup.rollup(df, params,
        timeOfMerge.getOrElse(System.currentTimeMillis() / 1000L))
    case Aggregating(stateCols) =>
      // Merge equal-key rows by re-aggregating each state under its
      // declared aggregate's -Merge rule (AggregatingSortedBlockInputStream
      // / the ChSql stateMergeFns layout): set states union, list and
      // reservoir states concatenate, value states re-reduce, avg sums
      // its (s, c) pair. One partial/final hash agg — single shuffle.
      val keyNames = spec.partitionCol.toSeq ++ spec.sortKey
      val keys = keyNames.map(col)
      def mergeCol(c: String): Column = {
        val kind = stateCols(c)
        if (kind.startsWith("quantile") || kind.startsWith("median") ||
            kind == "grouparray")
          flatten(collect_list(col(c))).as(c)
        else kind match {
          // plain uniq states are serialized sketches — merge via
          // UniquesHashSet::merge, keep the state serialized
          case "uniq" =>
            org.apache.spark.sql.graftbridge.Bridge.column(
              graft.functions.UniqSketchMerge(
                org.apache.spark.sql.graftbridge.Bridge.expression(col(c)),
                asState = true).toAggregateExpression()).as(c)
          case "uniqexact" | "uniqhll12" | "uniqcombined" |
               "groupuniqarray" =>
            array_distinct(flatten(collect_list(col(c)))).as(c)
          case "sum" | "sumif" | "count" => sum(col(c)).as(c)
          case "min" | "minif" => min(col(c)).as(c)
          case "max" | "maxif" => max(col(c)).as(c)
          case "any" | "anyif" => first(col(c), ignoreNulls = true).as(c)
          case "anylast" | "anylastif" => last(col(c), ignoreNulls = true).as(c)
          case "avg" => struct(
            sum(col(c)("s")).as("s"), sum(col(c)("c")).as("c")).as(c)
          case _ => first(col(c)).as(c)
        }
      }
      val aggs = df.columns.filterNot(keyNames.contains).map { c =>
        if (stateCols.contains(c)) mergeCol(c) else min(col(c)).as(c)
      }.toIndexedSeq
      if (aggs.isEmpty) df.dropDuplicates(keyNames)
      else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        .select(df.columns.map(col).toIndexedSeq: _*)
  }
}
