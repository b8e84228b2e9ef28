package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.types._

/** Driver-side parquet footer statistics, shared by the metadata-only
  * aggregate ([[MetadataAggregate]]) and the sparse file index
  * ([[FilePruning]]) — the in-memory analog of the reference's
  * primary-index `.idx` files, which live in RAM per part
  * (MergeTreeData loads them at startup; PKCondition consults them
  * without touching data).
  *
  * One entry per (path, size, mtime): total row count and per-column
  * min/max merged over row groups. A column is `exact` only when
  * every row group either carried usable statistics or was all-null —
  * consumers must check it before trusting min/max or emptiness.
  * Entries are LRU-bounded and merge newly requested columns into the
  * cached map, so repeated queries over the same immutable files do
  * no I/O.
  */
object FooterStats {

  /** Per-column summary over all row groups of one file.
    * `exact`: every row group had trustworthy stats (or was all-null).
    * `hasValues`: at least one non-null value exists (min/max set).
    * `enc`: the column's physical+logical parquet encoding (see
    * [[encOf]]) — consumers must verify it matches the Catalyst type
    * they are answering for via [[encodingOk]], or a TIMESTAMP(MILLIS)
    * / unsigned-int / INT96 writer silently misorders stats. */
  final case class ColStat(min: Any, max: Any, hasValues: Boolean,
      exact: Boolean, enc: String)
  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  /** Compact tag for the parquet encodings whose footer min/max are
    * EXACT and order-compatible with the matching Catalyst type.
    * Anything else — TIMESTAMP MILLIS/NANOS, INT96, unsigned ints,
    * decimals, strings (truncatable stats), floats/doubles (NaN is
    * skipped or misordered by writers, and Spark orders NaN above all
    * values) — tags "other" and is never trusted. */
  private[graft] def encOf(pt: PrimitiveType): String = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 => ann match {
        case null => "i32"
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.isSigned && i.getBitWidth <= 32 => "i32"
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "date"
        case _ => "other"
      }
      case INT64 => ann match {
        case null => "i64"
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.isSigned && i.getBitWidth == 64 => "i64"
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => "ts_micros"
        case _ => "other"
      }
      case _ => "other"
    }
  }

  /** True when a footer stat tagged `enc` is exact and order-compatible
    * with Catalyst type `dt`. Floats/doubles are deliberately ABSENT:
    * parquet writers skip or misorder NaN in min/max while Spark orders
    * NaN above every value, so a footer max can disagree with a scan. */
  def encodingOk(dt: DataType, enc: String): Boolean = dt match {
    case ByteType | ShortType | IntegerType => enc == "i32"
    case LongType => enc == "i64"
    case DateType => enc == "date"
    // UTC-adjustment doesn't change the stored micros value or order
    case TimestampType | TimestampNTZType => enc == "ts_micros"
    case _ => false
  }

  /** In-RAM entry bound (configurable: at 10⁵-file tables the default
    * would thrash — raise it, or rely on the persisted sidecar which
    * makes cold entries a dir-local JSON read instead of a footer). */
  private[graft] var maxEntries: Int =
    Integer.getInteger("graft.footer.cacheEntries", 65536)

  /** Count of actual footer opens — the persisted-sidecar pin asserts
    * a fresh session plans with ZERO of these. */
  @volatile private[graft] var footerOpens = 0L

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), FileStat](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), FileStat]): Boolean =
        size() > maxEntries
    })

  /** Stats for one file covering at least `wanted` columns. Resolution
    * order: in-RAM cache → persisted sidecar (the durable half of the
    * reference's primary index — `primary.idx` lives on disk per part
    * and loads at startup, MergeTree/MergeTreeData.h:59-61) → footer. */
  def get(conf: Configuration, f: FileStatus,
      wanted: Set[String]): FileStat = {
    val key = (f.getPath.toString, f.getLen, f.getModificationTime)
    val hit = cache.get(key)
    if (hit != null && wanted.subsetOf(hit.cols.keySet)) return hit
    if (hit == null) sidecarLookup(conf, f) match {
      case Some(st) if wanted.subsetOf(st.cols.keySet) =>
        cache.put(key, st); return st
      case _ =>
    }
    val need = if (hit == null) wanted else wanted -- hit.cols.keySet
    footerOpens += 1
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var rows = 0L
      val mins = scala.collection.mutable.Map[String, Any]()
      val maxs = scala.collection.mutable.Map[String, Any]()
      val seen = scala.collection.mutable.Map[String, Boolean]()
      val bad = scala.collection.mutable.Set[String]()
      val encs = scala.collection.mutable.Map[String, String]()
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val c = cit.next()
          val name = c.getPath.toDotString
          if (need.contains(name) && !bad.contains(name)) {
            if (!encs.contains(name)) encs(name) = encOf(c.getPrimitiveType)
            val st = c.getStatistics
            if (st == null || st.isEmpty) {
              if (b.getRowCount > 0) bad += name
            } else if (st.hasNonNullValue) {
              val lo = st.genericGetMin.asInstanceOf[Comparable[Any]]
              val hi = st.genericGetMax.asInstanceOf[Comparable[Any]]
              if (!seen.getOrElse(name, false)) {
                mins(name) = lo; maxs(name) = hi; seen(name) = true
              } else {
                if (lo.compareTo(mins(name)) < 0) mins(name) = lo
                if (hi.compareTo(maxs(name)) > 0) maxs(name) = hi
              }
            } else if (st.getNumNulls != b.getRowCount) {
              // no recorded values yet not all-null: untrustworthy
              bad += name
            }
          }
        }
      }
      val newCols = need.map(n => n -> ColStat(
        mins.getOrElse(n, null), maxs.getOrElse(n, null),
        seen.getOrElse(n, false), exact = !bad.contains(n),
        enc = encs.getOrElse(n, "other"))).toMap
      val merged = FileStat(rows,
        (if (hit == null) Map.empty[String, ColStat] else hit.cols) ++ newCols)
      cache.put(key, merged)
      merged
    } finally reader.close()
  }

  /** Do the files' footer row counts sum to at most `limit`? Stops past
    * `limit`, so a large table opens only its first footers; a listing
    * or footer that cannot be read answers false. */
  def rowsAtMost(conf: Configuration, files: => Iterator[FileStatus], limit: Long): Boolean =
    try {
      val it = files
      var rows = 0L
      while (rows <= limit && it.hasNext) rows += get(conf, it.next(), Set.empty).rows
      rows <= limit
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Dedicated pool for footer/sidecar reads — the work is I/O-bound,
    * so it is sized well above the CPU count (ExecutionContext.global
    * would cap cold planning at #cores concurrent opens). */
  private lazy val ioPool = {
    val n = Integer.getInteger("graft.footer.ioThreads",
      math.min(64, math.max(16, Runtime.getRuntime.availableProcessors * 2)))
    java.util.concurrent.Executors.newFixedThreadPool(n,
      new java.util.concurrent.ThreadFactory {
        private val c = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-io-${c.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })
  }

  /** Parallel stats for many files (cold footers are independent). */
  def getAll(conf: Configuration,
      fsys: org.apache.hadoop.fs.FileSystem, paths: Seq[String],
      wanted: Set[String]): Seq[FileStat] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(ioPool)
    Await.result(
      Future.traverse(paths)(p => Future(
        get(conf, fsys.getFileStatus(new org.apache.hadoop.fs.Path(p)), wanted))),
      scala.concurrent.duration.Duration(10, "min"))
  }

  // ---- persisted sidecar (the durable primary-index analog) ----------
  //
  // `_graft_stats.json`, one per directory that directly holds parquet
  // files (flat tables get one; month-partitioned layouts one per month
  // dir — mirroring one primary.idx per part). The leading underscore
  // hides it from Spark's file listing. Entries carry the file SIZE as
  // an integrity check: a rewritten file falls back to its footer.

  val SidecarName = "_graft_stats.json"

  /** Per-directory sidecar cache (a miss caches the empty map, so
    * sidecar-less tables pay one existence check per directory). */
  private val sidecars = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, (Long, FileStat)]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, (Long, FileStat)]])
          : Boolean = size() > 1024
    })

  private[graft] def clearSidecarCache(): Unit = sidecars.clear()

  /** Tests only: simulate a fresh session (cold in-RAM caches). */
  private[graft] def clearAllCaches(): Unit = { cache.clear(); sidecars.clear() }

  private def sidecarLookup(conf: Configuration,
      f: FileStatus): Option[FileStat] = {
    val dir = f.getPath.getParent
    if (dir == null) return None
    val dirKey = dir.toString
    var m = sidecars.get(dirKey)
    if (m == null) {
      m = try loadSidecar(conf, dir)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
      sidecars.put(dirKey, m)
    }
    m.get(f.getPath.getName).collect {
      case (sz, st) if sz == f.getLen => st
    }
  }

  private def loadSidecar(conf: Configuration,
      dir: org.apache.hadoop.fs.Path): Map[String, (Long, FileStat)] = {
    val p = new org.apache.hadoop.fs.Path(dir, SidecarName)
    val fsys = p.getFileSystem(conf)
    if (!fsys.exists(p)) return Map.empty
    val in = fsys.open(p)
    val bytes =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        bos.toByteArray
      } finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(bytes)
    if (root.path("version").asInt(-1) != 1) return Map.empty
    val files = root.path("files")
    val out = Map.newBuilder[String, (Long, FileStat)]
    val it = files.fields()
    while (it.hasNext) {
      val e = it.next()
      val fn = e.getValue
      val cols = Map.newBuilder[String, ColStat]
      val cit = fn.path("cols").fields()
      while (cit.hasNext) {
        val ce = cit.next()
        val c = ce.getValue
        val enc = c.path("enc").asText("other")
        val hasValues = c.path("hv").asBoolean(false)
        // values round-trip as longs; i32/date narrow back to Integer
        // so they compare identically to footer-read stats
        def v(field: String): Any =
          if (!hasValues || !c.has(field)) null
          else enc match {
            case "i32" | "date" =>
              java.lang.Integer.valueOf(c.path(field).asLong().toInt)
            case "i64" | "ts_micros" =>
              java.lang.Long.valueOf(c.path(field).asLong())
            case _ => null
          }
        cols += ce.getKey -> ColStat(v("min"), v("max"), hasValues,
          exact = c.path("exact").asBoolean(false), enc = enc)
      }
      out += e.getKey -> (fn.path("size").asLong(),
        FileStat(fn.path("rows").asLong(), cols.result()))
    }
    out.result()
  }

  /** Per-file INSERT EPOCH from the sidecars under `root`: QUALIFIED
    * file path (the exact string `_metadata.file_path` yields for that
    * file) → the 0-based insert sequence number its part arrived in.
    * The reference's "last inserted wins among equal versions"
    * (ReplacingSortedBlockInputStream.h:11-15) needs insert ORDER as a
    * persisted fact — file-listing order is a layout accident. Keys
    * are directory-qualified because Spark's dynamic-partition writer
    * reuses one file NAME across partition directories (same
    * part-<split>-<jobUUID>.c000 in p=a/ and p=b/ when one task writes
    * both values) — a name-keyed map silently collides. Epochs are
    * assigned by [[writeSidecars]]: files already in a sidecar keep
    * their epoch; each write's new files share a TABLE-level max+1
    * (one insert = one part set = one epoch, comparable across
    * partition dirs). Empty map when no sidecars exist. */
  def insertEpochs(conf: Configuration, root: String): Map[String, Long] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fsys = rootPath.getFileSystem(conf)
    if (!fsys.exists(rootPath)) return Map.empty
    val out = Map.newBuilder[String, Long]
    def walk(dir: org.apache.hadoop.fs.Path): Unit = {
      val qdir = fsys.makeQualified(dir)
      out ++= loadEpochs(conf, dir).map { case (name, ep) =>
        new org.apache.hadoop.fs.Path(qdir, name).toString -> ep
      }
      fsys.listStatus(dir).filter(_.isDirectory).foreach(s => walk(s.getPath))
    }
    walk(if (fsys.getFileStatus(rootPath).isFile) rootPath.getParent
      else rootPath)
    out.result()
  }

  /** [[insertEpochs]] with a completeness guarantee: Some(map) only
    * when EVERY parquet data file under `root` has an epoch entry.
    * A write that failed to persist its sidecar (write() swallows
    * sidecar failures) leaves its files unmapped — and those files may
    * be exactly the NEWEST insert, so any default epoch for them
    * inverts the last-inserted-wins tiebreak. Callers must fall back
    * to the listing-order fold on None. */
  def epochsCoveringAll(conf: Configuration,
      root: String): Option[Map[String, Long]] = {
    val epochs = insertEpochs(conf, root)
    if (epochs.isEmpty) return None
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fsys = rootPath.getFileSystem(conf)
    var complete = true
    def walk(dir: org.apache.hadoop.fs.Path): Unit = if (complete) {
      val entries = fsys.listStatus(dir)
      entries.foreach { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet") &&
            !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith(".") &&
            !epochs.contains(fsys.makeQualified(s.getPath).toString))
          complete = false
      }
    }
    walk(if (fsys.getFileStatus(rootPath).isFile) rootPath.getParent
      else rootPath)
    if (complete) Some(epochs) else None
  }

  private def loadEpochs(conf: Configuration,
      dir: org.apache.hadoop.fs.Path): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, SidecarName)
    val fsys = p.getFileSystem(conf)
    if (!fsys.exists(p)) return Map.empty
    val in = fsys.open(p)
    val bytes =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        bos.toByteArray
      } finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(bytes)
    if (root.path("version").asInt(-1) != 1) return Map.empty
    val out = Map.newBuilder[String, Long]
    val it = root.path("files").fields()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.has("epoch")) out += e.getKey -> e.getValue.path("epoch").asLong()
    }
    out.result()
  }

  /** Write `_graft_stats.json` for every directory under `root` that
    * directly holds parquet files — called by the storage write path
    * (MergeTreeTable.write, Bench43 layout) after the data lands, so
    * a fresh session plans (prunes, metadata-aggregates) with zero
    * footer opens. Columns whose encoding is untrusted serialize
    * without min/max (consumers never read them). */
  def writeSidecars(conf: Configuration, root: String): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fsys = rootPath.getFileSystem(conf)
    if (!fsys.exists(rootPath)) return
    // the NEW epoch is TABLE-level (max over every dir's sidecar + 1):
    // per-dir counters would give one logical insert different epochs
    // in different partition dirs (a fresh dir restarts at 0), making
    // cross-dir epoch comparison meaningless
    val start = if (fsys.getFileStatus(rootPath).isFile) rootPath.getParent
      else rootPath
    var tableMax = -1L
    def scanMax(dir: org.apache.hadoop.fs.Path): Unit = {
      val prev = try loadEpochs(conf, dir)
        catch { case scala.util.control.NonFatal(_) => Map.empty[String, Long] }
      if (prev.nonEmpty) tableMax = math.max(tableMax, prev.values.max)
      fsys.listStatus(dir).filter(_.isDirectory).foreach(s => scanMax(s.getPath))
    }
    scanMax(start)
    val nextEpoch = tableMax + 1L
    def walk(dir: org.apache.hadoop.fs.Path): Unit = {
      val entries = fsys.listStatus(dir)
      val parts = entries.filter(s => s.isFile &&
        s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      if (parts.nonEmpty) writeOne(conf, fsys, dir, parts, nextEpoch)
      entries.filter(_.isDirectory).foreach(s => walk(s.getPath))
    }
    walk(start)
  }

  private def writeOne(conf: Configuration,
      fsys: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, parts: Array[FileStatus],
      nextEpoch: Long): Unit = {
    // all leaf columns of the first footer = the stat column set
    // (identical schemas within one table directory)
    val first = ParquetFileReader.open(
      HadoopInputFile.fromPath(parts.head.getPath, conf))
    val leafCols =
      try {
        val sc = first.getFooter.getFileMetaData.getSchema
        (0 until sc.getPaths.size()).map(i =>
          org.apache.parquet.hadoop.metadata.ColumnPath.get(
            sc.getPaths.get(i): _*).toDotString).toSet
      } finally first.close()
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(ioPool)
    val stats = Await.result(
      Future.traverse(parts.toSeq)(p => Future(get(conf, p, leafCols))),
      scala.concurrent.duration.Duration(10, "min"))
    // insert epochs: files already recorded keep theirs; this write's
    // NEW files share the caller's TABLE-level next epoch (one insert
    // = one part set = one epoch) — see [[insertEpochs]]
    val prevEpochs = try loadEpochs(conf, dir)
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Long] }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = mapper.createObjectNode()
    rootNode.put("version", 1)
    val filesNode = rootNode.putObject("files")
    parts.zip(stats).foreach { case (p, st) =>
      val f = filesNode.putObject(p.getPath.getName)
      f.put("size", p.getLen)
      f.put("rows", st.rows)
      f.put("epoch", prevEpochs.getOrElse(p.getPath.getName, nextEpoch))
      val cols = f.putObject("cols")
      st.cols.foreach { case (name, c) =>
        val cn = cols.putObject(name)
        cn.put("enc", c.enc)
        cn.put("exact", c.exact)
        cn.put("hv", c.hasValues)
        if (c.hasValues) (c.enc, c.min, c.max) match {
          case ("i32" | "date", mn: Number, mx: Number) =>
            cn.put("min", mn.longValue()); cn.put("max", mx.longValue())
          case ("i64" | "ts_micros", mn: Number, mx: Number) =>
            cn.put("min", mn.longValue()); cn.put("max", mx.longValue())
          case _ => // untrusted encoding: no values serialized
        }
      }
    }
    val target = new org.apache.hadoop.fs.Path(dir, SidecarName)
    val out = fsys.create(target, /* overwrite = */ true)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(rootNode))
    finally out.close()
    sidecars.remove(dir.toString) // next lookup reloads the fresh file
  }
}
