package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** I/O format registry (reference: dbms/src/DataStreams/
  * FormatFactory.cpp — Native, TabSeparated±WithNames, CSV±WithNames,
  * JSONEachRow, Pretty*, Vertical…).
  *
  * Input/output formats map onto Spark's datasources: TSV/CSV are the
  * csv source with the right separator/header, JSONEachRow is the
  * json source, Native is parquet (our columnar native layout).
  *
  * The result renderers here (values, rows, JSON/XML/Pretty documents,
  * CSV, TSKV, RowBinary, ODBCDriver) are the building blocks of
  * [[graft.sql.ChDdl.executeRendered]], which picks one by the
  * statement's FORMAT and is the only caller that turns a query result
  * into wire text; they format driver-side rows of a small, already
  * limited result rather than pretending to be distributed sinks.
  */
object Formats {

  /** Byte-transparent rendering mode for goldens containing invalid
    * UTF-8 (00309-class): string data arrives as Array[Byte] (the
    * executeRendered byte view) and renders via ISO-8859-1 so every
    * byte survives the String-based comparison pipeline 1:1. Off by
    * default — ordinary renders decode UTF-8. Thread-local because
    * test suites share the JVM. */
  val byteMode: ThreadLocal[Boolean] = ThreadLocal.withInitial(() => false)

  private[graft] def latin1(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Decode raw string bytes for rendering: byte-preserving latin1 in
    * [[byteMode]], ordinary UTF-8 (with per-byte replacement, like
    * UTF8String.toString) otherwise. */
  private[graft] def decodeBin(b: Array[Byte]): String =
    if (byteMode.get()) latin1(b)
    else new String(b, java.nio.charset.StandardCharsets.UTF_8)

  /** [[validUtf8]] for renderer output: in byteMode the result must
    * stay in latin1-byte space (U+FFFD re-encodes to its three UTF-8
    * bytes) so the byte-level comparison sees what the reference
    * wrote. */
  private[graft] def validUtf8Out(b: Array[Byte]): String = {
    val s = validUtf8(b)
    if (byteMode.get())
      latin1(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else s
  }

  /** The reference's WriteBufferValidUTF8 with group_replacements
    * (JSON/XML output paths): copy valid UTF-8 sequences through,
    * collapse each RUN of invalid bytes into a single U+FFFD. */
  private[graft] def validUtf8(b: Array[Byte]): String = {
    val sb = new StringBuilder
    var i = 0
    var justReplaced = false
    while (i < b.length) {
      val c = b(i) & 0xff
      val len =
        if (c < 0x80) 1 else if (c < 0xc0) 0 // bare continuation
        else if (c < 0xe0) 2 else if (c < 0xf0) 3
        else if (c < 0xf8) 4 else 0
      if (len == 0 || i + len > b.length) {
        if (!justReplaced) { sb.append('�'); justReplaced = true }
        i += 1
      } else {
        val s = new String(b, i, len, java.nio.charset.StandardCharsets.UTF_8)
        if (s.length == 1 && (s.charAt(0) != '�' || (len == 3 &&
            c == 0xef && (b(i + 1) & 0xff) == 0xbf && (b(i + 2) & 0xff) == 0xbd))) {
          sb.append(s); justReplaced = false; i += len
        } else if (s.length == 2 && Character.isSurrogatePair(s.charAt(0), s.charAt(1))) {
          sb.append(s); justReplaced = false; i += len
        } else {
          if (!justReplaced) { sb.append('�'); justReplaced = true }
          i += 1
        }
      }
    }
    sb.toString
  }

  final case class Fmt(source: String, options: Map[String, String])

  val registry: Map[String, Fmt] = Map(
    "Native" -> Fmt("parquet", Map.empty),
    "TabSeparated" -> Fmt("csv", Map("sep" -> "\t", "header" -> "false")),
    "TabSeparatedWithNames" -> Fmt("csv", Map("sep" -> "\t", "header" -> "true")),
    "CSV" -> Fmt("csv", Map("header" -> "false")),
    "CSVWithNames" -> Fmt("csv", Map("header" -> "true")),
    "JSONEachRow" -> Fmt("json", Map.empty))

  def read(spark: SparkSession, path: String, format: String,
      schema: Option[StructType] = None): DataFrame = {
    val f = registry.getOrElse(format,
      throw new IllegalArgumentException(s"unknown format: $format"))
    val r = spark.read.format(f.source).options(f.options)
    schema.fold(r)(r.schema).load(path)
  }

  def write(df: DataFrame, path: String, format: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val f = registry.getOrElse(format,
      throw new IllegalArgumentException(s"unknown format: $format"))
    df.write.format(f.source).options(f.options).mode(mode).save(path)
  }

  /** Values — the INSERT literal format `(1,'a'),(2,'b')`
    * (ValuesRowInputStream): delegated to Spark SQL's VALUES clause,
    * then named and cast to the target schema. */
  def parseValues(spark: SparkSession, values: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    // Spark inline tables only evaluate foldable expressions; the
    // reference's VALUES admit arbitrary expressions
    // (ValuesRowInputStream falls back to the expression parser —
    // corpus 00306/00432). Fall back to one-row SELECTs per tuple.
    val raw =
      try spark.sql(s"SELECT * FROM VALUES $values")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        val sel = splitTuples(values)
          .map(t => s"SELECT ${t.trim.stripPrefix("(").stripSuffix(")")}")
          .mkString(" UNION ALL ")
        // expressions may call dialect functions (toDate, arrayReduce)
        graft.sql.ChSql.withDialectFunctions(spark)(spark.sql(sel))
      }
    require(raw.columns.length == schema.length,
      s"VALUES arity ${raw.columns.length} != schema arity ${schema.length}")
    raw.select(raw.columns.zip(schema.fields).map { case (c, f) =>
      val target = graft.types.ChTypes.deepNullable(f.dataType)
      val v = if (graft.types.ChEnum.of(f).isDefined)
        // enum names (or numbers) → stored numeric values
        graft.types.ChEnum.encodeCol(col(c), f).cast(target)
      else (f.dataType, raw.schema(c).dataType) match {
        // a STRING of digits into DateTime is a unix timestamp
        // (ReadHelpers readDateTimeText fallback; corpus 00141)
        case (_: org.apache.spark.sql.types.TimestampType,
            org.apache.spark.sql.types.StringType) =>
          org.apache.spark.sql.functions.when(
            col(c).rlike("^\\d{5,}$"),
            col(c).cast("long").cast(target)).otherwise(col(c).cast(target))
        case _ => col(c).cast(target)
      }
      v.as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Split a `(…), (…)` VALUES body into tuple texts (quote- and
    * depth-aware; commas between tuples separate, commas inside don't). */
  private def splitTuples(values: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQ = false; var esc = false; var start = -1
    values.indices.foreach { i =>
      val c = values(i)
      if (inQ) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '\'') inQ = false
      } else c match {
        case '\'' => inQ = true
        case '(' =>
          if (depth == 0) start = i
          depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0 && start >= 0) {
            out += values.substring(start, i + 1); start = -1
          }
        case _ => ()
      }
    }
    out.result()
  }

  /** FORMAT JSON / JSONCompact — byte-exact rendering of the
    * reference's JSONRowOutputStream.cpp / JSONCompactRowOutputStream
    * .cpp: tab-indented layout, CH type names in `meta`, 64-bit
    * integers quoted (force_quoting_64bit_integers default), invalid
    * UTF-8 replaced with U+FFFD (WriteBufferValidUTF8 — the JVM's
    * UTF-8 decode already did this upstream). `rows_before_limit_at_
    * least` prints only when a LIMIT applied somewhere in the stream.
    */
  def renderJson(names: Seq[String], chTypes: Seq[String],
      rows: Seq[Seq[Any]], totals: Option[Seq[Any]],
      rowsBeforeLimit: Option[Long], compact: Boolean,
      quote64: Boolean = true,
      extremes: Option[(Seq[Any], Seq[Any])] = None): String = {
    def jsonStr(s: String): String = {
      // writeJSONString: also escapes '/', renders control chars with
      // UPPERCASE hex, and spells out U+2028/U+2029
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '/' => sb.append("\\/")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04X")
        case c if c == '\u2028' => sb.append("\\u2028")
        case c if c == '\u2029' => sb.append("\\u2029")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
    def jsonVal(v: Any, chType: String): String = v match {
      case null => "null"
      case b: Boolean => if (b) "1" else "0"
      case s: String => jsonStr(s)
      // JSON output runs through WriteBufferValidUTF8: invalid byte
      // runs collapse to one U+FFFD before escaping
      case b: Array[Byte] => jsonStr(validUtf8Out(b))
      case d: java.sql.Date => jsonStr(d.toString)
      // DateTime JSON is SECOND-precision ("yyyy-MM-dd HH:mm:ss" —
      // DataTypeDateTime::serializeTextJSON); Timestamp.toString keeps
      // fractional digits ("…:00.5") which the reference never emits
      case t: java.sql.Timestamp => jsonStr(
        new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
          .format(t))
      case a: scala.collection.Seq[_] =>
        val elemT = if (chType.startsWith("Array(") && chType.endsWith(")"))
          chType.substring(6, chType.length - 1) else chType
        a.map(jsonVal(_, elemT)).mkString("[", ",", "]")
      // tuples serialize as JSON ARRAYS with per-element types
      // (DataTypeTuple::serializeTextJSON; corpus 00378)
      case r: org.apache.spark.sql.Row =>
        val elemTs: Seq[String] =
          if (chType.startsWith("Tuple(") && chType.endsWith(")"))
            graft.types.ChTypes.splitTopCommas(
              chType.substring(6, chType.length - 1)).map(_.trim)
          else Seq.fill(r.length)(chType)
        r.toSeq.zipWithIndex.map { case (v, i) =>
          jsonVal(v, elemTs.lift(i).getOrElse(chType))
        }.mkString("[", ",", "]")
      case n =>
        // Nullable(T) writes a value the way T does
        val t = if (chType.startsWith("Nullable("))
          chType.substring(9, chType.length - 1) else chType
        // a reference-UInt64 in wrapped Long storage prints UNSIGNED
        val s = n match {
          case l: Long if t == "UInt64" && l < 0 =>
            java.lang.Long.toUnsignedString(l)
          case _ => renderValue(n, inArray = false)
        }
        // serializeTextJSON quotes 64-bit integer types (by default —
        // output_format_json_quote_64bit_integers)
        if (quote64 && (t == "UInt64" || t == "Int64"))
          "\"" + s + "\"" else s
    }
    val sb = new StringBuilder
    sb.append("{\n\t\"meta\":\n\t[\n")
    names.indices.foreach { i =>
      sb.append("\t\t{\n")
        .append("\t\t\t\"name\": ").append(jsonStr(names(i))).append(",\n")
        .append("\t\t\t\"type\": ").append(jsonStr(chTypes(i))).append("\n")
        .append("\t\t}")
      if (i + 1 < names.length) sb.append(',')
      sb.append('\n')
    }
    sb.append("\t],\n\n\t\"data\":\n\t[\n")
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      if (compact)
        sb.append("\t\t[")
          .append(r.indices.map(j => jsonVal(r(j), chTypes(j))).mkString(", "))
          .append("]")
      else
        sb.append("\t\t{\n")
          .append(r.indices.map(j =>
            "\t\t\t" + jsonStr(names(j)) + ": " + jsonVal(r(j), chTypes(j)))
            .mkString(",\n"))
          .append("\n\t\t}")
    }
    sb.append("\n\t]")
    totals.foreach { t =>
      sb.append(",\n\n")
      if (compact)
        sb.append("\t\"totals\": [")
          .append(t.indices.map(j => jsonVal(t(j), chTypes(j))).mkString(","))
          .append("]")
      else
        sb.append("\t\"totals\":\n\t{\n")
          .append(t.indices.map(j =>
            "\t\t" + jsonStr(names(j)) + ": " + jsonVal(t(j), chTypes(j)))
            .mkString(",\n"))
          .append("\n\t}")
    }
    extremes.foreach { case (mins, maxs) =>
      def one(tag: String, vals: Seq[Any]): String =
        if (compact)
          "\t\t\"" + tag + "\": [" +
            vals.indices.map(j => jsonVal(vals(j), chTypes(j))).mkString(",") + "]"
        else
          "\t\t\"" + tag + "\":\n\t\t{\n" +
            vals.indices.map(j =>
              "\t\t\t" + jsonStr(names(j)) + ": " + jsonVal(vals(j), chTypes(j)))
              .mkString(",\n") + "\n\t\t}"
      sb.append(",\n\n\t\"extremes\":\n\t{\n")
        .append(one("min", mins)).append(",\n")
        .append(one("max", maxs))
        .append("\n\t}")
    }
    sb.append(",\n\n\t\"rows\": ").append(rows.length)
    rowsBeforeLimit.foreach(n =>
      sb.append(",\n\n\t\"rows_before_limit_at_least\": ").append(n))
    sb.append("\n}")
    sb.toString
  }

  /** FORMAT JSONEachRow — one compact JSON object per row
    * (JSONEachRowRowOutputStream); no meta/totals/extremes. */
  def renderJsonEachRow(names: Seq[String], chTypes: Seq[String],
      rows: Seq[Seq[Any]], quote64: Boolean): String =
    rows.map { r =>
      names.indices.map { i =>
        // reuse renderJson's value rules via one-column documents:
        // the single data row renders as a line "\t\t[<value>]"
        val body = renderJson(Seq(names(i)), Seq(chTypes(i)),
          Seq(Seq(r(i))), None, None, compact = true, quote64 = quote64)
        val start = body.indexOf("\t\t[")
        val lineEnd = body.indexOf("\n\t]", start)
        val v = body.substring(start + 3, lineEnd).stripSuffix("]")
        "\"" + names(i) + "\":" + v
      }.mkString("{", ",", "}")
    }.mkString("\n")

  /** FORMAT XML (XMLRowOutputStream): tab-indented result document —
    * meta columns, rows with per-column tags (a non-identifier column
    * name falls back to the tag `field`), arrays as
    * `<array><elem>…</elem></array>`, tuples as `<tuple>…</tuple>`,
    * optional totals/extremes sections, and the row count. Escapes
    * `&` and `<` only (writeXMLString). */
  def renderXml(names: Seq[String], chTypes: Seq[String],
      rows: Seq[Seq[Any]], totals: Option[Seq[Any]],
      extremes: Option[(Seq[Any], Seq[Any])],
      rowsBeforeLimit: Option[Long] = None): String = {
    def esc(t: String): String = t.replace("&", "&amp;").replace("<", "&lt;")
    def tagOf(n: String): String =
      if (n.matches("[A-Za-z_][A-Za-z0-9_-]*")) n else "field"
    def xmlVal(v: Any): String = v match {
      case null => ""
      // writeXMLString escapes only & and < — newlines stay literal
      case str: String => esc(str)
      // XML also writes through WriteBufferValidUTF8 (grouped)
      case b: Array[Byte] => esc(validUtf8Out(b))
      case a: scala.collection.Seq[_] =>
        "<array>" + a.map(e => s"<elem>${xmlVal(e)}</elem>").mkString + "</array>"
      case r: org.apache.spark.sql.Row =>
        "<tuple>" + r.toSeq.map(e => s"<elem>${xmlVal(e)}</elem>").mkString + "</tuple>"
      case other => esc(renderValue(other, inArray = false))
    }
    val sb = new StringBuilder
    sb.append("<?xml version='1.0' encoding='UTF-8' ?>\n<result>\n")
    sb.append("\t<meta>\n\t\t<columns>\n")
    names.indices.foreach { i =>
      sb.append("\t\t\t<column>\n")
        .append("\t\t\t\t<name>").append(esc(names(i))).append("</name>\n")
        .append("\t\t\t\t<type>").append(esc(chTypes(i))).append("</type>\n")
        .append("\t\t\t</column>\n")
    }
    sb.append("\t\t</columns>\n\t</meta>\n")
    def section(indent: String, vals: Seq[Any]): String =
      names.indices.map { i =>
        val t = tagOf(names(i))
        s"$indent<$t>${xmlVal(vals(i))}</$t>\n"
      }.mkString
    sb.append("\t<data>\n")
    rows.foreach { r =>
      sb.append("\t\t<row>\n").append(section("\t\t\t", r))
        .append("\t\t</row>\n")
    }
    sb.append("\t</data>\n")
    totals.foreach { t =>
      sb.append("\t<totals>\n").append(section("\t\t", t))
        .append("\t</totals>\n")
    }
    extremes.foreach { case (mins, maxs) =>
      sb.append("\t<extremes>\n")
        .append("\t\t<min>\n").append(section("\t\t\t", mins))
        .append("\t\t</min>\n")
        .append("\t\t<max>\n").append(section("\t\t\t", maxs))
        .append("\t\t</max>\n")
        .append("\t</extremes>\n")
    }
    sb.append("\t<rows>").append(rows.length).append("</rows>\n")
    rowsBeforeLimit.foreach(n => sb.append("\t<rows_before_limit_at_least>")
      .append(n).append("</rows_before_limit_at_least>\n"))
    sb.append("</result>")
    sb.toString
  }

  /** The Pretty* family (PrettyBlockOutputStream and friends):
    * box-drawing tables, one per BLOCK of the result stream, ANSI-bold
    * column names (suppressed by the NoEscapes variants), numeric
    * columns right-aligned, `output_format_pretty_max_rows`
    * truncation with a trailing "Showed first N." note.
    * `kind` is Pretty, PrettyCompact or PrettySpace; MonoBlock folds
    * all blocks into one table before rendering. */
  def renderPretty(kind: String, noEscapes: Boolean,
      names: Seq[String], alignRight: Seq[Boolean],
      blocks: Seq[Seq[Seq[Any]]], maxRows: Long): String = {
    def bold(t: String): String =
      if (noEscapes) t else "\u001b[1m" + t + "\u001b[0m"
    def cellText(v: Any): String = renderValue(v, inArray = false)
    val out = new StringBuilder
    var shown = 0L
    var truncated = false
    val itBlocks = blocks.iterator.filter(_.nonEmpty)
    while (itBlocks.hasNext && !truncated) {
      val block0 = itBlocks.next()
      val room = maxRows - shown
      val block = if (block0.length <= room) block0
        else { truncated = true; block0.take(room.toInt) }
      if (block.nonEmpty) {
        val cells = block.map(_.map(cellText))
        val widths = names.indices.map { i =>
          (names(i).length +: cells.map(_(i).length)).max
        }
        def pad(t: String, w: Int, right: Boolean): String =
          if (right) " " * (w - t.length) + t else t + " " * (w - t.length)
        kind match {
          case "Pretty" =>
            out.append(widths.map(w => "━" * (w + 2)).mkString("┏", "┳", "┓")).append('\n')
            out.append(names.indices.map(i =>
              " " + bold(pad(names(i), widths(i), right = false)) + " ")
              .mkString("┃", "┃", "┃")).append('\n')
            out.append(widths.map(w => "━" * (w + 2)).mkString("┡", "╇", "┩")).append('\n')
            cells.zipWithIndex.foreach { case (r, ri) =>
              if (ri > 0)
                out.append(widths.map(w => "─" * (w + 2)).mkString("├", "┼", "┤")).append('\n')
              out.append(names.indices.map(i =>
                " " + pad(r(i), widths(i), alignRight(i)) + " ")
                .mkString("│", "│", "│")).append('\n')
            }
            out.append(widths.map(w => "─" * (w + 2)).mkString("└", "┴", "┘")).append('\n')
          case "PrettyCompact" =>
            // header names align WITH their column: right-aligned
            // columns pad dashes before the name (corpus 00406/00298)
            out.append(names.indices.map { i =>
              val padLen = widths(i) - names(i).length
              if (alignRight(i))
                "─" * (padLen + 1) + bold(names(i)) + "─"
              else "─" + bold(names(i)) + "─" * (padLen + 1)
            }.mkString("┌", "┬", "┐")).append('\n')
            cells.foreach { r =>
              out.append(names.indices.map(i =>
                " " + pad(r(i), widths(i), alignRight(i)) + " ")
                .mkString("│", "│", "│")).append('\n')
            }
            out.append(widths.map(w => "─" * (w + 2)).mkString("└", "┴", "┘")).append('\n')
          case "PrettySpace" =>
            // padding stays OUTSIDE the bold sequence
            out.append(names.indices.map { i =>
              val padded = bold(names(i)) +
                " " * (widths(i) - names(i).length)
              if (i == 0) padded else "   " + padded
            }.mkString.replaceAll("\\s+$", "")).append('\n')
            out.append('\n')
            cells.foreach { r =>
              out.append(names.indices.map { i =>
                if (i == 0) pad(r(i), widths(i), alignRight(i))
                else "   " + pad(r(i), widths(i), alignRight(i))
              }.mkString.replaceAll("\\s+$", "")).append('\n')
            }
        }
        shown += block.length
      }
    }
    if (truncated) {
      if (kind == "PrettySpace")
        out.append("\nShowed first ").append(shown).append(".\n")
      else out.append("  Showed first ").append(shown).append(".\n")
    }
    val res = out.toString
    if (res.endsWith("\n")) res.dropRight(1) else res
  }

  /** TabSeparatedRaw / TSVRaw (TabSeparatedRawRowOutputStream):
    * top-level strings write UNESCAPED; containers keep their
    * literal form. */
  def tabSeparatedRaw(df: DataFrame, limit: Int = 1000000): String =
    df.limit(limit).collect()
      .map(_.toSeq.map {
        case s: String => s
        case b: Array[Byte] => decodeBin(b)
        case v => renderValue(v, inArray = false)
      }.mkString("\t"))
      .mkString("\n")

  /** One external row, TabSeparated (shared with the WITH TOTALS
    * renderer in ChDdl). */
  def renderRow(values: Seq[Any]): String =
    values.map(renderValue(_, inArray = false)).mkString("\t")

  /** CH TabSeparated renders Float64 in plain (non-scientific)
    * notation over the everyday range; Java's Double.toString switches
    * to exponent form at 1e7. Specials print as inf/-inf/nan. */
  def renderDouble(d: Double): String = {
    if (d.isNaN) "nan"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else renderShortest(shortestRepr(math.abs(d)), d < 0 || 1 / d < 0)
  }

  /** Shortest round-tripping decimal form of a non-negative double.
    * JDK 17's Double.toString is NOT always shortest (it can emit 17
    * significant digits where 16 round-trip — fixed only in JDK 19's
    * Ryū rewrite), while the reference's double-conversion ToShortest
    * is; search precisions 1..17 for the first that round-trips. */
  private def shortestRepr(ad: Double): String = {
    var p = 1
    while (p <= 17) {
      // Locale.ROOT: a comma-decimal default locale (de, fr, …) would
      // render "1,234E+00" and crash the parseDouble round-trip check
      val s = String.format(java.util.Locale.ROOT,
        "%." + (p - 1) + "E", ad.asInstanceOf[AnyRef])
      if (java.lang.Double.parseDouble(s) == ad)
        return if (s.contains('.')) s
          else { val i = s.indexOf('E'); s.substring(0, i) + ".0" + s.substring(i) }
      p += 1
    }
    ad.toString
  }

  /** The reference prints floats via double-conversion ToShortest
    * (writeFloatText): plain decimal while the leading digit's
    * exponent is in [-6, 21), else `d.ddde±X` with a lowercase bare
    * exponent. `repr` is the JVM's shortest round-trip form of the
    * absolute value. */
  private def renderShortest(repr: String, neg: Boolean): String = {
    val (mant, exp10) = repr.indexOf('E') match {
      case -1 => (repr, 0)
      case i => (repr.substring(0, i), repr.substring(i + 1).toInt)
    }
    val dot = mant.indexOf('.')
    var digits = mant.substring(0, dot) + mant.substring(dot + 1)
    var pointExp = dot + exp10 // digits before the point, plain form
    val lead = digits.takeWhile(_ == '0').length
    digits = digits.drop(lead)
    pointExp -= lead
    digits = digits.reverse.dropWhile(_ == '0').reverse
    if (digits.isEmpty) return if (neg) "-0" else "0"
    val e = pointExp - 1
    val body =
      if (e >= -6 && e < 21) {
        if (pointExp >= digits.length) digits + "0" * (pointExp - digits.length)
        else if (pointExp > 0)
          digits.substring(0, pointExp) + "." + digits.substring(pointExp)
        else "0." + "0" * (-pointExp) + digits
      } else {
        val m = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
        s"${m}e$e"
      }
    if (neg) "-" + body else body
  }

  def renderValue(v: Any, inArray: Boolean): String = {
    // writeEscapedString (TabSeparated): \b \f \n \r \t \0 \' \\ are
    // escaped in String VALUES; strings inside containers also quote
    def escape(s: String): String =
      s.replace("\\", "\\\\").replace("\b", "\\b").replace("\f", "\\f")
        .replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")
        .replace("\u0000", "\\0").replace("'", "\\'")
    def render(v: Any, inArray: Boolean): String = v match {
      // top-level NULL prints \N; inside containers the reference
      // spells it NULL (writeQuoted of Null field)
      case null => if (inArray) "NULL" else "\\N"
      case b: Boolean => if (b) "1" else "0"
      case s: String =>
        if (inArray) "'" + escape(s) + "'" else escape(s)
      case a: scala.collection.Seq[_] =>
        a.map(render(_, inArray = true)).mkString("[", ",", "]")
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(render(_, inArray = true)).mkString("(", ",", ")")
      case d: Double => renderDouble(d)
      case f: Float if f.isNaN => "nan"
      case f: Float if f.isPosInfinity => "inf"
      case f: Float if f.isNegInfinity => "-inf"
      case f: Float =>
        // the FLOAT's own shortest repr — a double round-trip would
        // print the binary approximation tail
        renderShortest(math.abs(f).toString, f < 0 || 1 / f < 0)
      case d: java.sql.Date =>
        // day 0 is the reference's zero Date, rendered 0000-00-00
        val s = if (d.toLocalDate.toEpochDay == 0L) "0000-00-00" else d.toString
        if (inArray) s"'$s'" else s
      case t: java.sql.Timestamp =>
        val s0 = t.toString.stripSuffix(".0")
        val s = if (s0 == "1970-01-01 00:00:00") "0000-00-00 00:00:00" else s0
        if (inArray) s"'$s'" else s
      case b: java.math.BigDecimal =>
        // decimal literals keep their scale in toString ('-1.0');
        // the reference prints the plain numeric value ('-1')
        val s = b.stripTrailingZeros
        if (s.scale <= 0) s.toBigInteger.toString else s.toPlainString
      // raw byte strings (convertCharset output, or the byteMode view
      // of String columns): CH String has no encoding — in byteMode
      // every byte passes through via latin1, otherwise decode UTF-8
      case b: Array[Byte] =>
        val s = escape(decodeBin(b))
        if (inArray) s"'$s'" else s
      case other => other.toString
    }
    render(v, inArray)
  }

  /** TabSeparatedWithNames / …AndTypes — header row(s) then data
    * (TabSeparatedRowOutputStream with_names/with_types), with the
    * caller supplying the CH type spellings (analysis metadata knows
    * UInt8 where the storage only says Int32). */
  def tabSeparatedWithNamesTyped(df: DataFrame, withTypes: Boolean,
      chTypes: Seq[String], limit: Int = 1000000): String = {
    val header = Seq(df.columns.mkString("\t")) ++
      (if (withTypes) Seq(chTypes.mkString("\t")) else Seq.empty)
    (header ++ df.limit(limit).collect()
      .map(r => renderRow(r.toSeq))).mkString("\n")
  }

  /** TSKV — `name=value` pairs, tab-separated (TSKVRowOutputStream). */
  def tskv(df: DataFrame, limit: Int = 1000000): String = {
    val names = df.columns
    df.limit(limit).collect().map { r =>
      names.indices.map(i =>
        s"${names(i)}=${renderValue(r.get(i), inArray = false)}").mkString("\t")
    }.mkString("\n")
  }

  /** CSV / CSVWithNames (CSVRowOutputStream): strings, dates,
    * datetimes and array literal forms double-quote with `"` doubled
    * (embedded newlines stay raw inside the quotes); numbers print
    * bare; a TUPLE flattens into one CSV field per element
    * (DataTypeTuple::serializeTextCSV — corpus 00300). */
  def csv(df: DataFrame, withNames: Boolean = false,
      limit: Int = 1000000): String = {
    def q(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
    def field(v: Any): Seq[String] = v match {
      case null => Seq("\\N")
      case r: org.apache.spark.sql.Row => r.toSeq.flatMap(field)
      case s: String => Seq(q(s))
      case b: Array[Byte] => Seq(q(decodeBin(b)))
      case a: scala.collection.Seq[_] =>
        Seq(q(a.map(renderValue(_, inArray = true)).mkString("[", ",", "]")))
      case d: java.sql.Date => Seq(q(renderValue(d, inArray = false)))
      case t: java.sql.Timestamp => Seq(q(renderValue(t, inArray = false)))
      case b: Boolean => Seq(if (b) "1" else "0")
      case other => Seq(renderValue(other, inArray = false))
    }
    val header =
      if (withNames) Seq(df.columns.map(q).mkString(",")) else Seq.empty
    (header ++ df.limit(limit).collect()
      .map(r => r.toSeq.flatMap(field).mkString(","))).mkString("\n")
  }

  /** RowBinary — fixed-width little-endian scalars, varint-prefixed
    * strings (RowBinaryRowOutputStream). Returns the raw bytes. */
  def rowBinary(df: DataFrame, limit: Int = 1000000): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(n0: Long): Unit = {
      var n = n0
      while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
      out.write(n.toInt)
    }
    def le(v: Long, bytes: Int): Unit =
      (0 until bytes).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def write(v: Any): Unit = v match {
      case b: Boolean => out.write(if (b) 1 else 0)
      case b: Byte => le(b.toLong, 1)
      case s: Short => le(s.toLong, 2)
      case i: Int => le(i.toLong, 4)
      case l: Long => le(l, 8)
      case f: Float => le(java.lang.Float.floatToIntBits(f).toLong, 4)
      case d: Double => le(java.lang.Double.doubleToLongBits(d), 8)
      case s: String =>
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        varint(b.length.toLong); out.write(b)
      case b: Array[Byte] => // byteMode view of a String column
        varint(b.length.toLong); out.write(b)
      // tuples serialize flat, element after element (RowBinary has
      // no per-row framing at all)
      case r: org.apache.spark.sql.Row => r.toSeq.foreach(write)
      case a: scala.collection.Seq[_] =>
        varint(a.length.toLong); a.foreach(write)
      case d: java.sql.Date => le(d.toLocalDate.toEpochDay, 2) // UInt16 days
      case t: java.sql.Timestamp => le(t.getTime / 1000, 4)    // UInt32 secs
      case other => write(other.toString)
    }
    df.limit(limit).collect().foreach(r => r.toSeq.foreach(write))
    out.toByteArray
  }

  /** ODBCDriver — the binary format the reference's ODBC driver
    * consumes (ODBCDriverBlockOutputStream.cpp): varint column count,
    * then (name, CH type name) as varint-length-prefixed strings,
    * then EVERY value as its plain-text rendering, also
    * varint-length-prefixed. No row framing, no footer. */
  def odbcDriver(df: DataFrame, limit: Int = 1000000): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(n0: Long): Unit = {
      var n = n0
      while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
      out.write(n.toInt)
    }
    def strBin(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      varint(b.length.toLong); out.write(b)
    }
    varint(df.columns.length.toLong)
    df.schema.fields.foreach { f =>
      strBin(f.name)
      strBin(graft.types.ChTypes.toChName(f.dataType, f.nullable))
    }
    // serializeText semantics: top-level strings UNESCAPED (the
    // length prefix frames them); containers keep their literal form
    df.limit(limit).collect().foreach(r =>
      r.toSeq.foreach {
        case s: String => strBin(s)
        case b: Array[Byte] => strBin(decodeBin(b))
        case v => strBin(renderValue(v, inArray = false))
      })
    out.toByteArray
  }
}
