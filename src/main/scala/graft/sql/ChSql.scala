package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** CH-SQL dialect front end (SURVEY.md §7.2 step 6): translate the
  * reference's SQL dialect into Spark SQL and register CH-named
  * functions, so the reference's own stateless test queries
  * (dbms/tests/queries/0_stateless) run nearly verbatim.
  *
  * Two layers:
  *  - [[translate]] — structural rewrites (a token/char-level pass):
  *    `system.numbers` → bounded `range`, `count()` → `count(*)`,
  *    `[..]` literals → `array(..)`, `ARRAY JOIN` → `LATERAL VIEW
  *    explode`, ANY/ALL join strictness, bare `USING a, b` →
  *    `USING (a, b)`, `FORMAT x` / `SET x=y` stripping;
  *  - [[registerChFunctions]] — CH-named functions as catalyst
  *    builders (materialize, intDiv, toString/to*, position with the
  *    reference's haystack-first argument order, arrayExists/Map/
  *    Filter with the lambda-first order).
  *
  * Documented divergences: ANY JOIN translates to a plain join
  * (identical when the build side is key-unique); `ARRAY JOIN col`
  * without an alias shadows the source column name; outer-join
  * non-matched columns are NULL (SQL / `join_use_nulls` semantics)
  * where this reference version default-fills with 0/''.
  */
object ChSql {

  def apply(spark: SparkSession, chQuery: String): DataFrame = {
    // CH has no positional GROUP BY/ORDER BY: integers are constants
    spark.conf.set("spark.sql.groupByOrdinal", "false")
    spark.conf.set("spark.sql.orderByOrdinal", "false")
    // CH arithmetic wraps on overflow and casts saturate — the
    // pre-ANSI semantics (the engine's own query registry builds
    // ANSI-safe plans; the dialect needs the reference's behavior)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // spark.sql + Bridge.ofRows both analyze eagerly, so the dialect
    // builders that shadow Spark built-ins live only inside this block
    randConstCache.remove() // one randConstant() value PER QUERY
    withDialectFunctions(spark) {
      val df = spark.sql(translate(chQuery))
      // CH float division is IEEE (1/0 = inf, 0/0 = nan); Spark's
      // Divide nulls a zero divisor. Swap analyzed double divides.
      val fixed = df.queryExecution.analyzed.transformAllExpressions {
        case d: org.apache.spark.sql.catalyst.expressions.Divide
            if d.dataType == DoubleType =>
          graft.functions.ChFloatDivide(d.left, d.right)
      }
      org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, fixed)
    }
  }

  // ------------------------------------------------------------------
  // structural translation
  // ------------------------------------------------------------------

  /** Blank quoted text and every depth>0 character, keeping offsets —
    * for top-level clause detection. */
  private[sql] def maskTop(s: String): String = {
    val out = s.toCharArray
    var depth = 0
    var inQ = false
    var esc = false
    s.indices.foreach { i =>
      val c = s(i)
      if (inQ) {
        out(i) = ' '
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '\'') inQ = false
      } else c match {
        case '\'' => inQ = true; out(i) = ' '
        case '(' => depth += 1; out(i) = ' '
        case ')' => depth -= 1; out(i) = ' '
        case _ => if (depth > 0) out(i) = ' '
      }
    }
    new String(out)
  }

  /** Blank quoted text and `(SELECT …)` subquery bodies only — plain
    * paren groups (arithmetic, function args) stay visible. */
  private def maskSubqueries(s: String): String = {
    val out = s.toCharArray
    var inQ = false
    var esc = false
    var i = 0
    // depth counts only open subquery parens
    var subDepth = 0
    while (i < s.length) {
      val c = s(i)
      if (inQ) {
        out(i) = ' '
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '\'') inQ = false
      } else if (c == '\'') { inQ = true; out(i) = ' ' }
      else if (c == '(') {
        if (subDepth > 0) { subDepth += 1; out(i) = ' ' }
        else {
          val ahead = s.substring(i + 1).dropWhile(_.isWhitespace)
          if (ahead.length >= 6 && ahead.substring(0, 6).equalsIgnoreCase("SELECT")) {
            subDepth = 1
            out(i) = ' '
          }
        }
      } else if (c == ')') {
        if (subDepth > 0) { subDepth -= 1; out(i) = ' ' }
      } else if (subDepth > 0) out(i) = ' '
      i += 1
    }
    new String(out)
  }

  /** Top-level SELECT-list items of a CH statement (raw text, split
    * on depth-0 commas) with their output names — alias when an
    * `AS x` is present, the expression text otherwise (the
    * reference's ASTFunction::getColumnName). Empty when the
    * statement isn't a plain SELECT. */
  private[sql] def selectItems(q0: String): Seq[(String, String)] = {
    val q = q0.trim.stripSuffix(";").trim
    if (!q.take(6).equalsIgnoreCase("SELECT")) return Seq.empty
    val top = maskTop(q)
    val end = ("(?i)\\b(FROM|WHERE|PREWHERE|GROUP|HAVING|ORDER|LIMIT|ARRAY|" +
      "UNION|SETTINGS|FORMAT|WITH)\\b").r
      .findFirstMatchIn(top).map(_.start).getOrElse(q.length)
    var body = q.substring(6, end).trim
    if (body.toUpperCase.startsWith("DISTINCT "))
      body = body.substring("DISTINCT ".length)
    splitTopLevel(body).map { item =>
      val it = item.trim
      "(?i)\\sAS\\s+`?([\\w.]+)`?\\s*$".r.findFirstMatchIn(maskTop(it)) match {
        case Some(m) => (m.group(1), it.substring(0, m.start).trim)
        case None => (it, it)
      }
    }
  }

  /** Bound `FROM system.numbers LIMIT n` levels to an n-row range —
    * see the call site. Applied per paren level and union branch;
    * `LIMIT o, n` bounds to o+n. Conservative: any clause that could
    * consume more than n source rows (WHERE, GROUP BY, ORDER BY,
    * HAVING, DISTINCT, ARRAY JOIN, or a row-dropping arrayJoin in the
    * select list) disables the rewrite for that level. */
  private def boundNumbers(q: String): String =
    recurseParens(q)(level0 => mapUnionBranches(level0)(boundNumbersLevel))

  private def boundNumbersLevel(level: String): String = {
    val t = level.trim
    if (!t.take(6).equalsIgnoreCase("SELECT")) return level
    val top = maskTop(t)
    if (("(?i)\\b(WHERE|PREWHERE|GROUP|HAVING|ORDER|UNION|DISTINCT)\\b").r
      .findFirstIn(top).isDefined) return level
    if ("(?i)(\\bARRAY\\s+JOIN\\b|\\barrayJoin\\s*\\()".r
      .findFirstIn(t).isDefined) return level
    val m = ("(?is)\\bFROM\\s+system\\.numbers(?:_mt)?(\\s+LIMIT\\s+(\\d+)" +
      "(?:\\s*,\\s*(\\d+))?)\\s*$").r.findFirstMatchIn(top).getOrElse(return level)
    val bound =
      if (m.group(3) != null) m.group(2).toLong + m.group(3).toLong
      else m.group(2).toLong
    val lead = level.substring(0, level.length - level.stripLeading().length)
    // preserve trailing whitespace: union branches are re-joined with
    // their separators, `LIMIT 1000` + `UNION` must not glue together
    val trail = level.substring(level.stripTrailing().length)
    // system.numbers is a SEQUENTIAL generator in the reference
    // (StorageSystemNumbers.cpp — one ascending stream; numbers_mt is
    // the parallel variant): a single slice reproduces its insertion
    // order, which order-sensitive sampler states observe
    // (ReservoirSamplerDeterministic's bump-straggler — corpus 00273).
    // Large bounded reads keep 16 slices: beyond a few million rows
    // parallelism matters more than order and nothing order-sensitive
    // is pinned at that size.
    val slices = if (bound <= 4000000L) 1 else 16
    lead + t.substring(0, m.start) +
      s"FROM (SELECT ch_type_tag(id, 'UInt64') AS number FROM range(0, $bound, 1, $slices))" +
      t.substring(m.start(1)) + trail
  }

  private val keylessAggRe =
    ("(?i)\\b(count|sum|avg|min|max|anyLast|anyHeavy|any|uniq\\w*|groupArray|" +
      "groupUniqArray|argMin|argMax|median\\w*|quantile\\w*|varSamp|varPop|" +
      "stddevSamp|stddevPop|covarSamp|covarPop|corr|topK|sequenceMatch|" +
      "sequenceCount|sumMap)(If|Array|ArrayIf|ForEach|State|Merge)?\\s*\\(").r

  /** Keyless aggregates group by a constant so an EMPTY input yields
    * an EMPTY result, like the reference's Aggregator (top-level
    * SELECTs only; subqueries keep Spark semantics — a scalar
    * subquery's empty aggregate is never observed row-wise). */
  private[sql] def injectEmptyAggGroup(q: String): String = {
    if (!q.take(6).equalsIgnoreCase("SELECT")) return q
    val top = maskTop(q)
    if ("(?i)GROUP\\s+BY|WITH\\s+TOTALS|\\bUNION\\b".r.findFirstIn(top).isDefined)
      return q
    val end = "(?i)\\b(FROM|WHERE|PREWHERE|HAVING|ORDER|LIMIT|ARRAY)\\b".r
      .findFirstMatchIn(top).map(_.start).getOrElse(q.length)
    if (keylessAggRe.findFirstIn(maskSubqueries(q.substring(6, end))).isEmpty)
      return q
    "(?i)\\b(HAVING|ORDER|LIMIT)\\b".r.findFirstMatchIn(top)
      .filter(_.start >= end) match {
      case Some(m) =>
        q.substring(0, m.start) + "GROUP BY '__all' " + q.substring(m.start)
      case None => q + " GROUP BY '__all'"
    }
  }

  def translate(ch: String): String = {
    val __res = translateImpl(ch)
    if (sys.env.contains("GRAFT_SHOW_SQL"))
      System.err.println(s"[translate] ${__res}")
    __res
  }

  private def translateImpl(ch: String): String = {
    var q = stripComments(ch).trim.stripSuffix(";").trim
    // FORMAT <name> at the end is presentation, not semantics
    q = q.replaceAll("(?i)\\s+FORMAT\\s+[A-Za-z]+\\s*$", "")
    // `SETTINGS max_rows_to_read = N, read_overflow_mode = 'break'`
    // over system.numbers bounds the generator like the reference's
    // read quota (Limits.cpp 'break' stops at the block that crosses
    // N): ceil N up to the level's block size — corpus 00167 reads
    // ~1000 rows where the unbounded generator is 100M. MUST run
    // BEFORE the generic SETTINGS strip below consumes the clause;
    // the level's max_block_size survives as a comment marker that
    // the blockSize() model (rewriteBlockFnsLevel) reads back.
    q = recurseParens(q)(l => mapUnionBranches(l) { level =>
      // LAST match: statement-level SETTINGS trail the query, and an
      // already-processed inner level's settings text sits earlier
      val hasBreak =
        "(?i)\\bmax_rows_to_read\\s*=\\s*(\\d+)".r.findAllMatchIn(level)
          .toSeq.lastOption
          .filter(_ =>
            "(?i)\\bread_overflow_mode\\s*=\\s*'break'".r
              .findFirstIn(level).isDefined)
      hasBreak match {
        case Some(m)
            if "(?i)\\bFROM\\s+(`?system`?\\s*\\.\\s*`?numbers(_mt)?`?\\b|\\(SELECT ch_type_tag)".r
              .findFirstIn(level).isDefined =>
          val n = m.group(1).toLong
          val s = "(?i)\\bmax_block_size\\s*=\\s*(\\d+)".r
            .findAllMatchIn(level).toSeq.lastOption.map(_.group(1).toLong)
            .getOrElse(ChDdl.currentMaxBlockSize)
          val bound = ((n + s - 1) / s) * s
          val slices = if (bound <= 4000000L) 1 else 16
          level
            .replaceAll("(?i)`?\\bsystem`?\\s*\\.\\s*`?numbers(_mt)?`?\\b",
              java.util.regex.Matcher.quoteReplacement(
                s"(SELECT ch_type_tag(id, 'UInt64') AS number " +
                  s"FROM range(0, $bound, 1, $slices))"))
            // a remote()-expanded numbers fragment (ChDdl rewrote the
            // table function before translation) carries the wide
            // default bound — the read quota shrinks it the same way
            .replace("range(0, 100000000, 1, 16)",
              s"range(0, $bound, 1, $slices)")
            // drop this level's SETTINGS clause now, keeping the
            // block size visible for the block-function model
            .replaceAll(
              "(?is)\\bSETTINGS\\s+\\w+\\s*=\\s*('[^']*'|[\\w.]+)" +
                "(\\s*,\\s*\\w+\\s*=\\s*('[^']*'|[\\w.]+))*",
              java.util.regex.Matcher.quoteReplacement(
                s" /* max_block_size = $s */ "))
        case _ => level
      }
    })
    // SETTINGS k=v[, …] is an execution hint. Value pattern must not
    // swallow a closing paren or a quoted string's tail — `SETTINGS
    // max_result_rows = 0) GROUP BY` inside a subquery keeps its `)`
    // (corpus 00266)
    q = q.replaceAll(
      "(?is)\\bSETTINGS\\s+\\w+\\s*=\\s*('[^']*'|[\\w.]+)" +
        "(\\s*,\\s*\\w+\\s*=\\s*('[^']*'|[\\w.]+))*", "")
    // single-parameter parenthesized lambda `(x) -> e` — Spark's
    // parser only accepts the bare form for one parameter
    q = mapOutsideQuotes(q)(seg =>
      seg.replaceAll("\\(\\s*(\\w+)\\s*\\)\\s*->", "$1 ->"))
    q = q.replaceAll("(?i)\\bcount\\(\\s*\\)", "count(*)")
    // keyless aggregation over EMPTY input yields an EMPTY result in
    // the reference (Aggregator::convertToBlocks: `if (data_variants
    // .empty()) return blocks` — no stream ever reached the
    // aggregator), while Spark's global aggregate always emits one
    // row. Grouping by a constant reproduces the reference exactly:
    // same single row when input is non-empty, zero rows when empty
    // (corpus 00017).
    q = injectEmptyAggGroup(q)
    // backtick-quoted / whitespace-padded system refs normalize first
    q = q.replaceAll("(?i)`system`\\s*\\.\\s*`(one|numbers|numbers_mt)`", "system.$1")
    q = q.replaceAll("(?i)\\bsystem\\s*\\.\\s*`(one|numbers|numbers_mt)`", "system.$1")
    q = q.replaceAll("(?i)`system`\\s*\\.\\s*(one|numbers|numbers_mt)\\b", "system.$1")
    q = q.replaceAll("(?i)\\bsystem\\s*\\.\\s*(one|numbers|numbers_mt)\\b", "system.$1")
    // system tables → generators. Explicit slice count: RangeExec
    // with numSlices=None reads the session's default parallelism
    // lazily, which NPEs when the plan is (de)serialized without an
    // active session (AQE map stages).
    //
    // Scale guard (StorageSystemNumbers.cpp reads only what LIMIT
    // needs): when a level is exactly `SELECT … FROM system.numbers
    // LIMIT n` — no WHERE/GROUP/ORDER/ARRAY JOIN, no row-dropping
    // generator in the select list — the reference reads exactly n
    // rows, so the generator itself is bounded to n. Without this, a
    // mid-plan LIMIT under an outer filter plans as LocalLimit PER
    // PARTITION and each of the 16 slices materializes rows at
    // offsets up to ~94M (corpus 00179 shuffle-wrote >19 GB for a
    // 10-row answer). Levels that don't match keep the wide bound
    // with 16 parallel slices (a 100M-row DISTINCT should use every
    // core; the corpus's largest real read is 10M).
    q = boundNumbers(q)
    q = q.replaceAll("(?i)\\bsystem\\.numbers(_mt)?\\b",
      "(SELECT ch_type_tag(id, 'UInt64') AS number FROM range(0, 100000000, 1, 16))")
    // CH `LIMIT offset, n` → SQL `LIMIT n OFFSET offset`
    q = q.replaceAll("(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)", "LIMIT $2 OFFSET $1")
    // LIMIT n BY cols → per-key row_number cap (LimitByBlockInputStream)
    q = rewriteLimitBy(q)
    // a UNION ALL branch's trailing LIMIT binds to THAT branch in the
    // reference (each branch is an independent SELECT); SQL reads it
    // as a limit over the union — parenthesize the branch (00098_c)
    q = rewriteUnionBranchLimit(q)
    // Literal spellings the reference's lexer accepts and Spark's
    // doesn't (corpus 00031 pins the full matrix):
    //  - hex FLOATS 0x123p4 / -0x1P1023 (C99 strtod) → Float64
    //  - hex ints up to 64 bits (wrapped top-bit stays UInt64);
    //    LONGER hex overflows strtoull and re-parses as Float64
    //  - a leading `-` in unary position negates: a UInt64-magnitude
    //    value leaves the Int64 domain and becomes Float64
    //  - leading-zero ints are OCTAL (strtoull base 0: 0377 = 255)
    //  - integer/fraction literals too long for exact types fall back
    //    to Float64 (strtod), e.g. a 300-digit int → 1e308
    q = mapOutsideQuotes(q)(seg => {
      var s = seg
      // double literal text Spark reads as DOUBLE (exponent form)
      def dbl(v: Double): String =
        if (v.isInfinity) { if (v > 0) "double('Infinity')" else "double('-Infinity')" }
        else { val t = java.lang.Double.toString(v)
          if (t.contains('E') || t.contains('e')) t else t + "E0" }
      // hex floats first (the int pattern can't match them — the p
      // suffix breaks its word boundary — but order makes it clear)
      s = "(?i)(?<![\\w.')\\]])(-\\s*)?\\b0x([0-9a-f]+(?:\\.[0-9a-f]*)?p[+-]?\\d+)\\b".r
        .replaceAllIn(s, m => {
          val sign = if (m.group(1) != null) "-" else ""
          dbl(java.lang.Double.parseDouble(sign + "0x" + m.group(2)))
        })
      // unary minus over a hex literal (preceded by start / an opener
      // / an operator — a binary minus after an identifier is NOT
      // rewritten): magnitude above Int64 range negates in Float64
      // (FieldVisitors: UInt64 → negate → Float64)
      s = "(?i)(^|[(,=<>+*/%]|\\bSELECT\\s|\\bWHEN\\s|\\bTHEN\\s|\\bELSE\\s)(\\s*)-\\s*0x([0-9a-f]+)\\b".r
        .replaceAllIn(s, m => {
          val big = BigInt(m.group(3), 16)
          val lit = if (big > Long.MaxValue) dbl(-big.toDouble)
            else "-" + big.toString
          java.util.regex.Matcher.quoteReplacement(
            m.group(1) + m.group(2) + lit)
        })
      s = "(?i)\\b0x([0-9a-f]+)\\b".r.replaceAllIn(s, m => {
        val digits = m.group(1)
        if (digits.length > 16) dbl(BigInt(digits, 16).toDouble)
        else {
          val v = java.lang.Long.parseUnsignedLong(digits, 16)
          // a wrapped (top-bit) literal is still UInt64 in the
          // reference — keep the identity for unsigned arithmetic
          // ((number + 0x8ffc…) * … % 131, corpus 00264)
          if (v < 0) s"ch_type_tag(${v}L, 'UInt64')" else v.toString
        }
      })
      // octal (strtoull base 0); an unparseably long run of digits
      // re-parses as DECIMAL Float64 (strtod has no octal)
      s = "(?<![\\w.'])0(\\d+)\\b(?!\\s*[.:xXeE])".r.replaceAllIn(s, m => {
        val digits = m.group(1)
        if (digits.length <= 21 && digits.forall(c => c >= '0' && c <= '7'))
          java.lang.Long.parseLong(digits, 8).toString
        else if (digits.length > 21)
          dbl(new java.math.BigDecimal("0" + digits).doubleValue())
        else m.group(0)
      })
      // decimal ints too long for UInt64 → Float64
      s = "(?<![\\w.'])([1-9]\\d{19,})\\b(?!\\s*[.:eE])".r.replaceAllIn(s, m => {
        val digits = m.group(1)
        if (BigInt(digits) > BigInt("18446744073709551615"))
          dbl(new java.math.BigDecimal(digits).doubleValue())
        else m.group(0)
      })
      // fractions with more digits than Float64 resolves parse via
      // strtod — shorten through an exact BigDecimal→double hop
      s = "(?<![\\w.'])(\\d+\\.\\d{18,})\\b(?![eE])".r.replaceAllIn(s, m =>
        dbl(new java.math.BigDecimal(m.group(1)).doubleValue()))
      s
    })
    // `IN (SELECT (tuple))` — Spark's parser reads `SELECT (` as a
    // call to a routine named SELECT; spell the tuple projection as
    // tuple(...) so the subquery alternative wins (corpus 00132)
    q = mapOutsideQuotes(q)(seg =>
      seg.replaceAll("(?i)\\b(IN\\s*\\(\\s*SELECT)\\s+\\(", "$1 tuple("))
    // CH `x IN f(...)` — scalar RHS is a one-element set; SQL needs
    // parens (tuple(...) excluded: that's already a list). Matches
    // are found on the quote MASK (so literal data like 'a IN
    // concat(b)' never rewrites) but the replacement spans the
    // original text — the call's parens stay together even when its
    // arguments are string literals.
    locally {
      val inCallRe = ("(?i)\\b(IN\\s+)(?!tuple\\b)([A-Za-z_][A-Za-z0-9_]*\\(" +
        "(?:[^()]|\\([^()]*\\))*\\))").r
      val qm = maskQuotes(q)
      val sb = new java.lang.StringBuilder
      var last = 0
      inCallRe.findAllMatchIn(qm).foreach { m =>
        sb.append(q, last, m.start(2)).append("(")
          .append(q, m.start(2), m.end(2)).append(")")
        last = m.end(2)
      }
      sb.append(q, last, q.length)
      q = sb.toString
    }
    // round/ceil/floor/coalesce resolve to the CH-semantics builders
    // (registered under ch-prefixed names so the shared session
    // registry keeps Spark's own built-ins intact for the engine)
    q = mapOutsideQuotes(q)(seg => seg
      .replaceAll("(?i)\\bround\\s*\\(", "chround(")
      .replaceAll("(?i)\\bceil(?:ing)?\\s*\\(", "chceil(")
      .replaceAll("(?i)\\bfloor\\s*\\(", "chfloor(")
      .replaceAll("(?i)\\bcoalesce\\s*\\(", "chcoalesce("))
    // C escapes Spark's parser lacks: \a (bell), \v (vtab), \? — the
    // reference's unescapeForFileName set (corpus 00342)
    q = q.replace("\\a", "\u0007").replace("\\v", "\u000b").replace("\\f", "").replace("\\?", "?")
    // \xNN byte escapes in string literals: decode the WHOLE literal
    // under the reference's escape rules (ReadHelpers.h
    // parseEscapeSequence: \x is a raw byte). Valid-UTF-8 results ride
    // in the SQL text as before; byte sequences that are NOT valid
    // UTF-8 would be mangled to U+FFFD by the parser's String
    // round-trip, so they respell as CAST(unhex(...) AS STRING),
    // which preserves exact bytes (corpus 00342's \xAA)
    q = "'((?:\\\\.|[^'\\\\])*)'".r.replaceAllIn(q, m => {
      val body = m.group(1)
      if (!body.contains("\\x"))
        java.util.regex.Matcher.quoteReplacement(m.group(0))
      else {
        val out = new java.io.ByteArrayOutputStream()
        var i = 0
        while (i < body.length) {
          val c = body.charAt(i)
          if (c == '\\' && i + 1 < body.length) {
            body.charAt(i + 1) match {
              case 'x' if i + 3 < body.length =>
                out.write(Integer.parseInt(body.substring(i + 2, i + 4), 16))
                i += 4
              case e =>
                out.write(e match {
                  case 'a' => 0x07; case 'b' => 0x08; case 'f' => 0x0c
                  case 'n' => 0x0a; case 'r' => 0x0d; case 't' => 0x09
                  case 'v' => 0x0b; case '0' => 0x00; case o => o.toInt
                })
                i += 2
            }
          } else {
            out.write(c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            i += 1
          }
        }
        val bytes = out.toByteArray
        val valid =
          try {
            java.nio.charset.StandardCharsets.UTF_8.newDecoder()
              .decode(java.nio.ByteBuffer.wrap(bytes)); true
          } catch { case _: java.nio.charset.CharacterCodingException => false }
        if (valid) {
          val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            .replace("\\", "\\\\").replace("'", "\\'")
          java.util.regex.Matcher.quoteReplacement("'" + s + "'")
        } else {
          val hex = bytes.map(b => f"${b & 0xff}%02X").mkString
          s"unhex('$hex')"
        }
      }
    })
    q = q.replaceAll("(?i)\\bsystem\\.one\\b", "(SELECT 0 AS dummy)")
    // CH float literals inf / nan (FieldVisitors / Float64 parsing);
    // double() not CAST(... AS DOUBLE): the literal-alias inliner
    // would read the latter's `'Infinity' AS DOUBLE` as an alias
    q = mapOutsideQuotes(q)(seg => seg
      .replaceAll("(?i)(?<![\\w.'])inf(?![\\w'(])",
        "ch_type_tag(double('Infinity'), 'Float64')")
      .replaceAll("(?i)(?<![\\w.'])nan(?![\\w'(])",
        "ch_type_tag(double('NaN'), 'Float64')")
      // edge float spellings `0.` / `.0` (strtod accepts both, Spark
      // neither; a trailing-dot or leading-dot literal is Float64 in
      // the reference, not DECIMAL — corpus 00031 x15-x17)
      .replaceAll("(?<![\\w.])(\\d+)\\.(?![\\w.])", "$1.0E0")
      // NOT after `)`/`]` — `(tuple).3` is ELEMENT ACCESS, not a float
      .replaceAll("(?<![\\w.)\\]])\\.(\\d+)\\b(?![.eE])", "0.$1E0"))
    // join strictness: ANY ≈ plain join (exact when RHS key-unique).
    // GLOBAL prefix = ship-to-every-shard, Spark's broadcast planning;
    // the full CH prefix grammar is [GLOBAL] [ANY|ALL] [type] [OUTER]
    q = q.replaceAll(
      "(?i)\\bGLOBAL\\s+((?:ANY\\s+|ALL\\s+)?(?:LEFT\\s+|RIGHT\\s+|INNER\\s+" +
        "|FULL\\s+|CROSS\\s+)?(?:OUTER\\s+)?JOIN)", "$1")
    q = q.replaceAll(
      "(?i)\\b(?:ANY|ALL)\\s+(LEFT|RIGHT|INNER|FULL)(\\s+OUTER)?\\s+JOIN",
      "$1$2 JOIN")
    // PREWHERE is an execution hint — a filter, which Catalyst pushes
    // to the scan anyway. `PREWHERE p WHERE q` (both clauses, valid
    // CH) merges to `WHERE (p) AND (q)`.
    q = mergePrewhere(q)
    // duplicate output names in FROM/JOIN subqueries collapse to the
    // first occurrence (corpus 00217/00225/00370)
    q = dedupSubqueryColumns(q)
    // CH allows aliasing ANY expression in place (`lower('x' AS s)`);
    // inline the constant-alias form Spark can't parse
    // CAST(x AS Enum8/16('a' = 1, …)) — DataTypeEnum.cpp cast
    // semantics: a STRING operand resolves through the name→value map
    // and the result renders as the NAME; a numeric operand changes
    // only the storage channel. String/array literals fold at
    // translate time (validated against the entry list — an unknown
    // name throws, as the reference's cast does); non-literal
    // operands keep the storage-width integer cast (the entry list
    // lives in table metadata; 00324 hashes the numeric channel).
    q = rewriteEnumCasts(q)
    q = q.replaceAll("(?i)\\bAS\\s+Enum8\\s*\\(([^()]*)\\)", "AS TINYINT")
    q = q.replaceAll("(?i)\\bAS\\s+Enum16\\s*\\(([^()]*)\\)", "AS SMALLINT")
    q = q.replaceAll("(?i)\\bAS\\s+Array\\s*\\(\\s*Enum8\\s*\\(([^()]*)\\)\\s*\\)",
      "AS ARRAY<TINYINT>")
    q = q.replaceAll("(?i)\\bAS\\s+Array\\s*\\(\\s*Enum16\\s*\\(([^()]*)\\)\\s*\\)",
      "AS ARRAY<SMALLINT>")
    // bare select items self-alias first so in-place alias inlining
    // can't erase their output names (corpus 00393)
    q = selfNameBareItems(q)
    q = inlineLiteralAliases(q)
    // CH in-function expression aliases (`abs(e AS x)` … uses x later)
    q = inlineExprAliases(q)
    // CH select-list aliases SHADOW source columns for later items
    // (`number * 2 AS number, number + 1` uses the doubled value);
    // Spark resolves the real column first — inline the shadowing
    // expression into later items
    q = inlineShadowingAliases(q)
    // toTypeName over a sibling alias types the aliased expression
    q = inlineToTypeNameArgs(q)
    // keyless `SELECT aggs WITH TOTALS` ≡ totals over a constant
    // group key: one main row plus an equal totals row (corpus 00257
    // `SELECT count() WITH TOTALS`); inject the key so the GROUP BY
    // machinery below covers it uniformly (incl. subquery
    // pass-through, 00220)
    q = injectKeylessTotalsGroup(q)
    // GROUP BY k WITH TOTALS → GROUPING SETS ((k),()) + hidden
    // grouping_id marker; ChDdl.executeRendered splits the totals row
    q = rewriteWithTotals(q)
    // GLOBAL IN/JOIN ship the set to every shard = broadcast, which
    // Spark plans on its own
    q = q.replaceAll("(?i)\\bGLOBAL\\s+(NOT\\s+)?IN\\b", " $1IN")
    // CH float literals are Float64, never Decimal (the dialect has no
    // decimal type): suffix D so Spark parses `1.0` as double, not
    // decimal(2,1). Exponent forms are already double in Spark.
    q = mapOutsideQuotes(q)(seg =>
      seg.replaceAll("(?<![\\w.])(\\d+\\.\\d+)(?![\\w.])", "$1D"))
    // ORDER BY x COLLATE 'loc' → sort on a locale collation key
    // (InterpreterSelectQuery.cpp:1032-1049); key is memcmp-sortable
    // so the sort stays Spark's ordinary distributed sort
    q = q.replaceAll(
      "(?i)([\\w.`]+|\\([^()]*\\))\\s+COLLATE\\s+'([^']+)'",
      "ch_collation_key($1, '$2')")
    // parameterized-aggregate call syntax f('p')(args) →
    // f_impl('p', args) for the sequence DSL aggregates
    q = q.replaceAll("(?i)\\bsequenceMatch\\s*\\(\\s*('[^']*')\\s*\\)\\s*\\(",
      "sequence_match($1, ")
    q = q.replaceAll("(?i)\\bsequenceCount\\s*\\(\\s*('[^']*')\\s*\\)\\s*\\(",
      "sequence_count($1, ")
    // finalizeAggregation over an explicit -State call: the state IS
    // the partial value in this model (see stateMergeFns), so
    // finalizing fooState(args) is foo(args) and fooMergeState(s) is
    // fooMerge(s); a bare state COLUMN keeps the identity builder
    // (FunctionsMiscellaneous finalizeAggregation; corpus 00208/00271)
    q = mapOutsideQuotes(q)(seg => seg
      .replaceAll("(?i)\\b(finalizeAggregation\\s*\\(\\s*)([A-Za-z_]\\w*?)MergeState\\s*\\(", "$1$2Merge(")
      .replaceAll("(?i)\\b(finalizeAggregation\\s*\\(\\s*)([A-Za-z_]\\w*?)State\\s*\\(", "$1$2("))
    // generic parameterized-aggregate syntax fn(params)(args) →
    // fn(args, params) — the quantile/topK/groupArray families
    // (AggregateFunctionFactory parameter dispatch)
    q = flattenParamCalls(q)
    // typed CASTs keep their declared CH name via ch_type_tag
    q = rewriteTypedCasts(q)
    // CAST type surface: Nullable(T) unwraps (Spark columns are
    // nullable); CH scalar type names map to Spark spellings in the
    // `AS type` seat (exact case — aliases are never CH-cased names)
    q = mapOutsideQuotes(q)(seg => {
      var s = seg.replaceAll("\\bNullable\\s*\\(\\s*(\\w+(?:\\([^()]*\\))?)\\s*\\)", "$1")
      s = "\\bAS\\s+(UInt8|UInt16|UInt32|UInt64|Int8|Int16|Int32|Int64|Float32|Float64|DateTime)\\b".r
        .replaceAllIn(s, m => "AS " + (m.group(1) match {
          case "UInt8" | "UInt16" | "Int32" => "INT"
          case "UInt32" | "UInt64" | "Int64" => "BIGINT"
          case "Int8" => "TINYINT"
          case "Int16" => "SMALLINT"
          case "Float32" => "FLOAT"
          case "Float64" => "DOUBLE"
          case "DateTime" => "TIMESTAMP"
        }))
      s
    })
    // bare USING list → parenthesized (never inside string literals —
    // 00261's '-- … not using the result' captions)
    q = mapOutsideQuotes(q)(_.replaceAll(
      "(?i)\\bUSING\\s+([A-Za-z_][A-Za-z0-9_]*(?:\\s*,\\s*[A-Za-z_][A-Za-z0-9_]*)*)",
      "USING ($1)"))
    // USING-join resolution quirks (outer-alias keys, main-table `*`,
    // left-priority ambiguity)
    // sibling-alias inlining must run FIRST: rewriteUsingJoin may
    // copy a select item into the left join side, where outer aliases
    // aren't visible (00163's `dummy + 2 AS number, number / 2 AS n`)
    q = inlineForwardAliases(q)
    // a multi-item scalar subquery yields the row as a TUPLE in CH
    // (interpretSubquery single-row block → tuple; corpus 00211
    // renders `(SELECT 2 AS x, x)` as (2,2)) — Spark scalar
    // subqueries are single-column, so wrap the items in struct()
    q = tupleizeScalarSubqueries(q)
    q = rewriteUsingJoin(q)
    // CH ternary operator `cond ? a : b` (parenthesized form)
    q = ternaryToIf(q)
    // a scalar-subquery hasColumnInTable is a translate-time constant
    // (the reference's analyzer evaluates it before the dead ternary
    // branch is ever looked at — corpus 00393's
    // `(SELECT hasColumnInTable(…)) ? not_existing : 42`)
    q = "(?is)\\(\\s*SELECT\\s+hasColumnInTable\\(\\s*'([^']*)'\\s*,\\s*'([^']*)'\\s*,\\s*'([^']*)'\\s*\\)\\s*\\)".r
      .replaceAllIn(q, m => {
        val (db, tbl, col) = (m.group(1), m.group(2), m.group(3))
        val has =
          if (db == "system" && (tbl == "numbers" || tbl == "numbers_mt"))
            col == "number"
          else if (db == "system" && tbl == "one") col == "dummy"
          else ChDdl.hasColumn(s"$db.$tbl", col)
        if (has) "1" else "0"
      })
    // constant-condition if() folds to the live branch TEXTUALLY —
    // the reference's interpreter never analyzes the dead branch, so
    // `0 ? not_existing_column : 1` works (corpus 00393); Spark's
    // analyzer would reject the unresolved reference
    q = foldConstIf(q)
    // CH null placement: NULLs sort as the GREATEST value
    q = defaultNullsOrdering(q)
    // an aggregate over runningAccumulate(...) can't nest in one
    // Spark expression (window-inside-aggregate): hoist the
    // accumulate into a projection below the aggregation
    q = hoistRunningAccumulate(q)
    // literal NULL tuples in IN lists never match — drop them
    q = dropNullTuplesInIn(q)
    // CASE-with-expression + Float32 results zero out (see helper)
    q = caseExprFloat32(q)
    // block introspection family → row-order windows (after
    // defaultNullsOrdering so the injected OVER(ORDER BY) is untouched)
    q = rewriteBlockFns(q)
    // table-less `FROM ARRAY JOIN …` — give it a one-row source and
    // let the ordinary ARRAY JOIN passes (single or lockstep) handle
    // the clause; covers trailing WHERE and multi-item forms
    // (corpus 00190)
    q = mapOutsideQuotes(q)(_.replaceAll(
      "(?i)\\bFROM\\s+ARRAY\\s+JOIN\\b",
      "FROM (SELECT 0 AS __ajfl) ARRAY JOIN"))
    // multi-expression ARRAY JOIN (lockstep unnest): posexplode the
    // first array; every further alias becomes positional access into
    // its expression — shared offsets, exactly the Nested semantics
    q = rewriteMultiArrayJoin(q)
    // `ARRAY JOIN col AS col` — self-alias IS the replace semantics
    // and the named element would collide with the source column:
    // drop the alias and let the bare-column pass redirect refs
    // (corpus 00261)
    q = mapOutsideQuotes(q)(_.replaceAll(
      "(?i)\\b(ARRAY\\s+JOIN\\s+)([A-Za-z_]\\w*)\\s+AS\\s+\\2(?![\\w.`])", "$1$2"))
    // ARRAY JOIN clause → LATERAL VIEW explode
    // LEFT ARRAY JOIN ≡ ARRAY JOIN of emptyArrayToSingle: an empty
    // array contributes one row holding the element type's default
    // (NULL when the elements are Nullable — corpus 00452)
    q = replaceQuoteAware(q,
      "(?i)\\bLEFT\\s+ARRAY\\s+JOIN\\s+(`[^`]+`|\\[[^\\[\\]]*\\]|[A-Za-z_][A-Za-z0-9_]*(?:\\((?:[^()]|\\([^()]*\\))*\\))?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)".r)(m =>
      java.util.regex.Matcher.quoteReplacement(
        s"LATERAL VIEW explode(emptyArrayToSingle(${m.group(1)})) __aj AS ${m.group(2)}"))
    q = replaceQuoteAware(q,
      "(?i)\\bARRAY\\s+JOIN\\s+(`[^`]+`|\\[[^\\[\\]]*\\]|[A-Za-z_][A-Za-z0-9_]*(?:\\((?:[^()]|\\([^()]*\\))*\\))?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)".r)(m =>
      java.util.regex.Matcher.quoteReplacement(
        s"LATERAL VIEW explode(${m.group(1)}) __aj AS ${m.group(2)}"))
    q = rewriteBareArrayJoin(q)
    // FROM-less queries referencing `dummy` implicitly read system.one
    // — at every nesting level and in every UNION branch
    q = addDummyFrom(q)
    // arrayJoin(x) nested inside expressions: Spark generators can't
    // nest, so hoist each call to a LATERAL VIEW explode and use the
    // generated column (multiple calls multiply, like the reference)
    q = hoistArrayJoinCalls(q)
    // arrayJoin + aggregates in one SELECT with no GROUP BY: the
    // reference aggregates per exploded value (the generated column
    // is a plain column by aggregation time) — group by the hoisted
    // vars (corpus 00181 `SELECT arrayJoin([1]) AS ID2, covarSamp(…)`)
    q = groupHoistedArrayJoinWithAggs(q)
    // a FROM-less SELECT with WHERE reads the one-row system.one
    // source in the reference (`SELECT 1 WHERE 0` is an empty
    // relation, 00420's NULL scalar subqueries); Spark's parser
    // rejects WHERE without FROM
    q = injectFromlessWhere(q)
    q = q.replaceAll("(?i)\\bCAST\\s*\\(\\s*NULL\\s+AS\\s+Null\\s*\\)",
      "CAST(NULL AS STRING)")
    // CH SELECT-list aliases are visible in WHERE of the same level
    // (ExpressionAnalyzer alias scope); Spark's are not — substitute
    q = inlineAliasInWhere(q)
    // (sibling-alias inlining moved before rewriteUsingJoin above:
    // CH aliases resolve order-independently — ExpressionAnalyzer
    // substitutes the whole alias map before analysis, corpus 00216 —
    // while Spark's lateral aliases are left-to-right and absent
    // under joins)
    q = bracketLiteralsToArray(q)
    // `(SELECT 'str' …)` — Spark's parser reads `SELECT 'str'` as a
    // typed literal of type SELECT; concat() is a string identity
    // that breaks the ambiguity
    q = q.replaceAll("(?i)\\(\\s*SELECT\\s+('(?:[^'\\\\]|\\\\.)*')",
      "(SELECT concat($1)")
    // CH tuple element access `t.2` / `(…).2` (1-based)
    q = tupleElementAccess(q)
    q
  }

  /** FROM-less SELECTs that reference `dummy` read system.one — the
    * reference resolves the implicit table at every nesting level
    * (InterpreterSelectQuery getDefault). Recurses into parenthesized
    * subqueries and handles each top-level UNION branch. */
  private def addDummyFrom(q: String): String = {
    // recurse into paren groups first
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') { inQ = !inQ; sb += c; i += 1 }
      else if (!inQ && c == '(') {
        var depth = 1; var j = i + 1; var q2 = false
        while (j < q.length && depth > 0) {
          val cj = q.charAt(j)
          if (cj == '\'') q2 = !q2
          else if (!q2 && cj == '(') depth += 1
          else if (!q2 && cj == ')') depth -= 1
          j += 1
        }
        sb += '('
        sb ++= addDummyFrom(q.substring(i + 1, j - 1))
        sb += ')'
        i = j
      } else { sb += c; i += 1 }
    }
    mapUnionBranches(sb.toString)(fixSelectSegment)
  }

  private def fixSelectSegment(seg: String): String = {
    if (!seg.trim.toUpperCase.startsWith("SELECT")) return seg
    if ("(?i)(?<![\\w.`])dummy(?![\\w.`])".r.findFirstIn(seg).isEmpty) return seg
    val d = depths(seg)
    if (topMatches(seg, d, "FROM").nonEmpty) return seg
    val at = topMatches(seg, d, "WHERE|GROUP|ORDER|LIMIT|HAVING|SETTINGS")
      .minOption.getOrElse(seg.length)
    seg.substring(0, at) + " FROM (SELECT 0 AS dummy) " + seg.substring(at)
  }

  /** Apply `f` to the text at every paren-nesting level (quote-aware,
    * innermost first). */
  private def recurseParens(q: String)(f: String => String): String = {
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') { inQ = !inQ; sb += c; i += 1 }
      else if (!inQ && c == '(') {
        var depth = 1; var j = i + 1; var q2 = false
        while (j < q.length && depth > 0) {
          val cj = q.charAt(j)
          if (cj == '\'') q2 = !q2
          else if (!q2 && cj == '(') depth += 1
          else if (!q2 && cj == ')') depth -= 1
          j += 1
        }
        sb += '('
        sb ++= recurseParens(q.substring(i + 1, j - 1))(f)
        sb += ')'
        i = j
      } else { sb += c; i += 1 }
    }
    f(sb.toString)
  }

  /** `arrayJoin(x)` is a generator: Spark allows `explode` only as a
    * top-level select item, the reference allows it anywhere in the
    * row expression (FunctionArrayJoin + ExpressionAnalyzer special
    * case). Hoist every call at each SELECT level to a LATERAL VIEW
    * explode and substitute the generated column. */
  private val ajCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** `LIMIT n BY c1, …` keeps the first n rows per distinct BY key in
    * result order (reference LimitByBlockInputStream): a per-key
    * row_number cap over the query's ORDER BY, with a trailing plain
    * LIMIT applied after. One window shuffle on the BY key — the same
    * plan [[graft.operators.LimitBy]] builds for the DataFrame API. */
  private def rewriteLimitBy(q: String): String = {
    val d = depths(q)
    "(?i)\\bLIMIT\\s+(\\d+)\\s+BY\\s+".r.findAllMatchIn(q)
      .find(mm => d(mm.start) == 0) match {
      case None => q
      case Some(mm) =>
        val n = mm.group(1)
        val afterBy = mm.end
        val limAt = "(?i)\\bLIMIT\\b".r.findAllMatchIn(q).map(_.start)
          .find(i => i >= afterBy && d(i) == 0)
        val byList = q.substring(afterBy, limAt.getOrElse(q.length)).trim
        val tailLimit = limAt.map(i => " " + q.substring(i)).getOrElse("")
        val pre = q.substring(0, mm.start).trim
        val ordAt = topMatches(pre, depths(pre), "ORDER").lastOption
        val ordExpr = ordAt.map(i =>
          pre.substring(i).replaceAll("(?is)^ORDER\\s+BY\\s+", "").trim)
        val ord = ordExpr.getOrElse(byList)
        val outerOrder = ordExpr.map(o => s" ORDER BY $o").getOrElse("")
        s"SELECT * EXCEPT(__lb) FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY $byList ORDER BY $ord) AS __lb FROM ($pre)) " +
          s"WHERE __lb <= $n$outerOrder$tailLimit"
    }
  }

  /** `( … UNION ALL SELECT … LIMIT n )` — wrap the final branch in
    * parens so the LIMIT stays branch-local like the reference's
    * per-SELECT parse. Only the innermost-paren case needs handling:
    * a top-level UNION's trailing LIMIT already binds to the whole
    * statement in both dialects. */
  private def rewriteUnionBranchLimit(q0: String): String = {
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      val d = depths(q)
      val unions = "(?i)\\bUNION\\s+ALL\\s+".r.findAllMatchIn(q).toSeq
      unions.find { m =>
        val dep = d(m.start)
        if (dep == 0) false
        else {
          // branch extends to the close of the enclosing paren
          var k = m.end
          while (k < q.length && d(k) >= dep) k += 1
          val branch = q.substring(m.end, k)
          val bd = depths(branch)
          val lim = "(?i)\\bLIMIT\\s+\\d+\\s*$".r.findFirstMatchIn(branch.stripTrailing())
          lim.exists(l => bd(l.start) == 0) && {
            q = q.substring(0, m.end) + "(" + branch.trim + ") " + q.substring(k)
            changed = true
            true
          }
        }
      }
    }
    // the branch BEFORE a union needs the same wrap when its trailing
    // LIMIT would otherwise read as `… LIMIT n UNION ALL …`, which
    // SQL cannot parse (corpus 00374's first branch)
    changed = true
    while (changed) {
      changed = false
      val d = depths(q)
      val unions = "(?i)\\bUNION\\s+ALL\\s+".r.findAllMatchIn(q).toSeq
      unions.find { m =>
        val dep = d(m.start)
        if (dep == 0) false
        else {
          var s0 = m.start
          // stop just INSIDE the enclosing paren — the '(' itself
          // carries the inner depth, so the ENCLOSING one is the '('
          // whose depth equals the union's (a nested subquery's '('
          // sits deeper and must be walked over)
          while (s0 > 0 && d(s0 - 1) >= dep &&
            !(q.charAt(s0 - 1) == '(' && d(s0 - 1) == dep)) s0 -= 1
          // start after the previous same-depth union, if any
          unions.filter(u => u.end <= m.start && d(u.start) == dep)
            .map(_.end).maxOption.foreach(p => s0 = math.max(s0, p))
          val branch = q.substring(s0, m.start)
          val bd = depths(branch)
          val lim = "(?i)\\bLIMIT\\s+\\d+\\s*$".r
            .findFirstMatchIn(branch.stripTrailing())
          val wrapped = branch.trim.startsWith("(") && branch.trim.endsWith(")")
          lim.exists(l => bd(l.start) == 0) && !wrapped && {
            q = q.substring(0, s0) + "(" + branch.trim + ") " + q.substring(m.start)
            changed = true
            true
          }
        }
      }
    }
    q
  }

  /** Positions of a keyword regex at paren depth 0 (quote-blind at
    * the match site; callers pass word-boundary patterns). */
  private def topMatches(s: String, d: Array[Int], pat: String): Seq[Int] =
    ("(?i)\\b(?:" + pat + ")\\b").r.findAllMatchIn(s).map(_.start)
      .filter(i => d(i) == 0).toSeq

  /** Apply `f` to each top-level UNION branch of a level. */
  private def mapUnionBranches(level0: String)(f: String => String): String = {
    val d = depths(level0)
    val unionAt = topMatches(level0, d, "UNION")
    if (unionAt.isEmpty) f(level0)
    else {
      val starts = 0 +: unionAt
      val ends = unionAt :+ level0.length
      starts.zip(ends).map { case (s0, e0) =>
        val seg = level0.substring(s0, e0)
        val m = "(?is)^(\\s*UNION\\s+(?:ALL|DISTINCT)\\s+)".r.findFirstMatchIn(seg)
        val off = m.map(_.end).getOrElse(0)
        seg.substring(0, off) + f(seg.substring(off))
      }.mkString
    }
  }

  /** CH sorts NULLs (and NaNs) LAST ascending, FIRST descending —
    * they compare as the GREATEST value; Spark's SQL default is the
    * opposite for NULLs. Append the explicit placement to every
    * ORDER BY item that doesn't already carry one. */
  private def defaultNullsOrdering(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l) { level =>
      val t = level.trim
      if (!t.take(6).equalsIgnoreCase("SELECT")) level
      else {
        val d = depths(t)
        "(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(t).toSeq
          .filter(m => d(m.start) == 0).lastOption match {
          case None => level
          case Some(ob) =>
            val end = ("(?i)\\b(LIMIT|SETTINGS|FORMAT|UNION)\\b").r
              .findAllMatchIn(t).map(_.start)
              .find(i => i > ob.end && d(i) == 0).getOrElse(t.length)
            val items = splitTopLevel(t.substring(ob.end, end)).map { it0 =>
              val it = it0.trim
              if ("(?i)\\bNULLS\\s+(FIRST|LAST)\\b".r.findFirstIn(it).isDefined) it
              else if ("(?i)\\bDESC(ENDING)?\\s*$".r.findFirstIn(it).isDefined)
                it + " NULLS FIRST"
              else it + " NULLS LAST"
            }
            val lead = level.substring(0, level.length - level.stripLeading().length)
            lead + t.substring(0, ob.end) + " " + items.mkString(", ") + " " +
              t.substring(end)
        }
      }
    })

  /** Insert ` FROM (SELECT 0 AS __flw)` into a SELECT level that has
    * a WHERE but no FROM — see the call site. */
  /** Literal tuples containing NULL inside an IN list can never match
    * (the reference's Set::createFromAST skips rows with nulls), and
    * Spark's coercion rejects the struct<null,null> literal outright —
    * drop them from the list (corpus 00441: `(a, b) IN ((1, -1),
    * (NULL, NULL), (3, -3))` behaves as the two-tuple list). */
  private def dropNullTuplesInIn(q: String): String = {
    val re = "(?i)\\bIN\\s*\\(".r
    var cur = q
    var searchFrom = 0
    var m = re.findFirstMatchIn(cur.substring(searchFrom))
    // iterate matches manually since replacements change offsets
    var guard = 0
    while (m.isDefined && guard < 1000) {
      guard += 1
      val abs = searchFrom + m.get.start
      val open = searchFrom + m.get.end - 1
      // find matching close
      var depth = 0; var k = open; var inQ = false
      while (k < cur.length && { val c = cur.charAt(k)
        if (c == '\'') inQ = !inQ
        else if (!inQ && c == '(') depth += 1
        else if (!inQ && c == ')') depth -= 1
        depth != 0 || c != ')' }) k += 1
      if (k >= cur.length) { searchFrom = open + 1 }
      else {
        val body = cur.substring(open + 1, k)
        val items = splitTopLevel(body)
        val isTupleList = items.length > 1 && items.forall { it =>
          val t = it.trim; t.startsWith("(") && t.endsWith(")")
        }
        // scalar lists drop bare NULL items the same way — but only
        // in a LIST (not a subquery or a single parenthesized expr)
        val isScalarList = items.length > 1 && !isTupleList
        val kept =
          if (isTupleList) items.filterNot { it =>
            val t = it.trim
            splitTopLevel(t.substring(1, t.length - 1))
              .exists(_.trim.equalsIgnoreCase("NULL"))
          }
          else if (isScalarList)
            items.filterNot(_.trim.equalsIgnoreCase("NULL"))
          else items
        if (kept.nonEmpty && kept.length != items.length) {
          cur = cur.substring(0, open + 1) + kept.mkString(", ") +
            cur.substring(k)
          searchFrom = abs + 1
        } else searchFrom = k + 1
      }
      m = if (searchFrom < cur.length)
        re.findFirstMatchIn(cur.substring(searchFrom)) else None
    }
    cur
  }

  /** `CASE x WHEN … END` (with a head expression) routes through the
    * reference's transform(), whose numeric lookup tables cannot carry
    * Float32 results — every row of such a CASE comes out 0
    * (FunctionsTransform.h table init bitcasts the to-values; corpus
    * 00328 pins the whole matrix). Searched CASE (no head expr) takes
    * the multiIf path and is unaffected. */
  private def caseExprFloat32(q: String): String = {
    val caseRe = "(?i)\\bCASE\\b".r
    var out = q
    var changed = true
    var guard = 0
    while (changed && guard < 50) {
      changed = false
      guard += 1
      val m0 = maskQuotes(out)
      caseRe.findAllMatchIn(m0).toSeq.reverseIterator.foreach { m =>
        if (!changed) {
          // matching END with nested-CASE counting
          var depth = 1
          var endAt = -1
          val tail = m0.substring(m.end)
          val tok = "(?i)\\b(CASE|END)\\b".r
          tok.findAllMatchIn(tail).foreach { t =>
            if (endAt < 0) {
              if (t.group(1).equalsIgnoreCase("CASE")) depth += 1
              else { depth -= 1; if (depth == 0) endAt = m.end + t.end }
            }
          }
          if (endAt > 0) {
            val block = out.substring(m.start, endAt)
            val headLen = "(?i)\\bWHEN\\b".r.findFirstMatchIn(
              maskQuotes(block).drop(4)).map(_.start).getOrElse(-1)
            val head =
              if (headLen < 0) "" else block.substring(4, 4 + headLen).trim
            // zeroes only when the branch supertype lands on Float32
            // (Float32 present, everything else ≤ 16-bit): wider
            // companions promote the table to Float64, which works
            val f32Super =
              "(?i)\\btoFloat32\\s*\\(".r.findFirstIn(block).isDefined &&
                "(?i)\\bto(Float64|U?Int32|U?Int64)\\s*\\(".r
                  .findFirstIn(block).isEmpty
            if (head.nonEmpty && f32Super) {
              out = out.substring(0, m.start) + "0" + out.substring(endAt)
              changed = true
            }
          }
        }
      }
    }
    out
  }

  private val raCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** `sum(length(runningAccumulate(x)))` — the reference evaluates
    * runningAccumulate per ROW (scalar over states in result order,
    * FunctionsMiscellaneous) and then aggregates; Spark rejects the
    * window-inside-aggregate nesting. Hoist each such call into a
    * `SELECT *, runningAccumulate(x) AS __ra FROM (…)` projection
    * below the aggregation (corpus 00410). */
  private def hoistRunningAccumulate(q: String): String = {
    val aggNames = Set("sum", "min", "max", "avg", "count", "any",
      "anylast", "uniq", "uniqexact", "grouparray", "groupuniqarray")
    recurseParens(q)(l => mapUnionBranches(l) { level =>
      val t = level.trim
      if (!t.take(6).equalsIgnoreCase("SELECT") ||
          "(?i)\\brunningAccumulate\\s*\\(".r.findFirstIn(t).isEmpty) level
      else {
        var cur = t
        var changed = true
        var hoisted = List.empty[(String, String)] // (call text, alias)
        while (changed) {
          changed = false
          val d = depths(cur)
          // enclosing call name per open paren: identifier directly
          // before each unclosed '(' at the match position
          val m0 = "(?i)\\brunningAccumulate\\s*\\(".r.findAllMatchIn(cur)
            .find { m =>
              if (d(m.start) == 0) false
              else {
                // walk outward: collect identifiers preceding each
                // unclosed paren before m.start
                var names = List.empty[String]
                var j = 0
                var inQ = false
                val stack = new scala.collection.mutable.ArrayBuffer[Int]
                while (j < m.start) {
                  val c = cur.charAt(j)
                  if (c == '\'') inQ = !inQ
                  else if (!inQ && c == '(') stack += j
                  else if (!inQ && c == ')' && stack.nonEmpty)
                    stack.remove(stack.length - 1)
                  j += 1
                }
                stack.foreach { p =>
                  val pre = cur.substring(0, p)
                  "([A-Za-z_]\\w*)\\s*$".r.findFirstMatchIn(pre)
                    .foreach(mm => names ::= mm.group(1).toLowerCase)
                }
                names.exists(aggNames.contains)
              }
            }
          m0.foreach { m =>
            // extent of the runningAccumulate(...) call
            var depth2 = 0; var k = m.end - 1; var q2 = false
            while (k < cur.length && { val c = cur.charAt(k)
              if (c == '\'') q2 = !q2
              else if (!q2 && c == '(') depth2 += 1
              else if (!q2 && c == ')') depth2 -= 1
              depth2 != 0 || c != ')' }) k += 1
            val call = cur.substring(m.start, k + 1)
            val alias = s"__ra${raCounter.incrementAndGet()}"
            cur = cur.substring(0, m.start) + alias + cur.substring(k + 1)
            hoisted ::= (call, alias)
            changed = true
          }
        }
        if (hoisted.isEmpty) level
        else {
          // wrap the FROM operand with the hoisted projection
          val d = depths(cur)
          "(?i)\\bFROM\\b".r.findAllMatchIn(cur)
            .find(m => d(m.start) == 0) match {
            case None => level // FROM-less: leave untouched
            case Some(fm) =>
              val end = "(?i)\\b(WHERE|GROUP|HAVING|ORDER|LIMIT|SETTINGS|FORMAT|UNION)\\b".r
                .findAllMatchIn(cur)
                .find(m => m.start > fm.end && d(m.start) == 0)
                .map(_.start).getOrElse(cur.length)
              val operand = cur.substring(fm.end, end).trim
              val proj = hoisted.reverse
                .map { case (call, alias) => s"$call AS $alias" }
                .mkString(", ")
              val lead = level.substring(0,
                level.length - level.stripLeading().length)
              lead + cur.substring(0, fm.end) +
                s" (SELECT *, $proj FROM $operand) " + cur.substring(end)
          }
        }
      }
    })
  }

  private def injectFromlessWhere(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l) { level =>
      val t = level.trim
      if (!t.take(6).equalsIgnoreCase("SELECT")) level
      else {
        val d = depths(t)
        val hasFrom = topMatches(t, d, "FROM").nonEmpty
        topMatches(t, d, "WHERE").headOption match {
          case Some(w) if !hasFrom =>
            val lead = level.substring(0, level.length - level.stripLeading().length)
            lead + t.substring(0, w) + "FROM (SELECT 0 AS __flw) " + t.substring(w)
          case _ => level
        }
      }
    })

  private def hoistArrayJoinCalls(q: String): String =
    recurseParens(q)(level0 => mapUnionBranches(level0)(hoistArrayJoinLevel))

  private def hoistArrayJoinLevel(level: String): String = {
    if (!level.trim.toUpperCase.startsWith("SELECT")) level
    else {
      val re = "(?i)\\barrayJoin\\s*\\(".r
      var cur = level
      val laterals = Seq.newBuilder[String]
      var found = true
      var n = 0
      while (found && n < 16) {
        val m = re.findAllMatchIn(cur).toSeq.headOption
        m match {
          case None => found = false
          case Some(mm) =>
            var depth = 1; var j = mm.end; var inQ = false
            while (j < cur.length && depth > 0) {
              val c = cur.charAt(j)
              if (c == '\'') inQ = !inQ
              else if (!inQ && c == '(') depth += 1
              else if (!inQ && c == ')') depth -= 1
              j += 1
            }
            val arg = cur.substring(mm.end, j - 1)
            val id = ajCounter.incrementAndGet()
            laterals += s"LATERAL VIEW explode($arg) __ajc$id AS __ajv$id"
            cur = cur.substring(0, mm.start) + s"__ajv$id" + cur.substring(j)
            n += 1
        }
      }
      val lat = laterals.result()
      if (lat.isEmpty) level
      else {
        val up = cur.toUpperCase
        val d = depths(cur)
        // CH aliases resolve order-independently inside the select
        // list: `range(k) AS y, arrayJoin(..) AS k` needs k → __ajvN
        // in sibling items (Spark lateral aliases are left-to-right)
        val fromAt0 = topMatches(cur, d, "FROM").headOption
        // FROM-less query: the sibling-alias substitution may run over
        // WHERE/GROUP/HAVING (pre-aggregation scope) but must stop
        // before ORDER BY — the sort resolves against the OUTPUT
        // aliases, and a substituted `__ajvN` cannot resolve through a
        // GROUPING SETS aggregate (00037's totals + ORDER BY + LIMIT)
        val selEnd = fromAt0
          .orElse(topMatches(cur, d, "ORDER").headOption)
          .getOrElse(cur.length)
        val selStart = up.indexOf("SELECT") + 6
        var selList = cur.substring(selStart, selEnd)
        "(?i)\\b(__ajv\\d+)\\s+AS\\s+(\\w+)".r.findAllMatchIn(selList).toSeq
          .foreach { m =>
            val (v, alias) = (m.group(1), m.group(2))
            // mask the defining occurrence so only sibling refs rewrite
            val mask = s"$v AS \u0001"
            selList = selList.replace(m.group(0), mask)
            val pat = ("(?<![\\w.`'])" + java.util.regex.Pattern.quote(alias) +
              "(?![\\w.`'])").r
            selList = mapOutsideQuotes(selList)(seg =>
              pat.replaceAllIn(seg, java.util.regex.Matcher.quoteReplacement(v)))
            selList = selList.replace(mask, m.group(0))
          }
        val cur2 = cur.substring(0, selStart) + selList + cur.substring(selEnd)
        val d2 = depths(cur2)
        val hasFrom = topMatches(cur2, d2, "FROM").nonEmpty
        val insertAt = topMatches(cur2, d2, "WHERE|GROUP|ORDER|LIMIT|HAVING|SETTINGS")
          .minOption.getOrElse(cur2.length)
        val fromPart = if (hasFrom) "" else " FROM (SELECT 0 AS __ajdummy)"
        cur2.substring(0, insertAt) + fromPart + " " + lat.mkString(" ") + " " +
          cur2.substring(insertAt)
      }
    }
  }

  /** CH scopes SELECT-list aliases into WHERE of the same query level
    * (the reference's ExpressionAnalyzer does alias substitution
    * before analysis); Spark resolves WHERE against the FROM relation
    * only. Substitute `alias` → `(expr)` inside the WHERE clause at
    * each level. */
  /** Inline FORWARD sibling-alias references inside a select list —
    * see the call site. Aliases whose expression contains arrayJoin
    * are left to the arrayJoin hoist pass (inlining would duplicate
    * the generator); iteration is bounded to break alias cycles. */
  /** `(SELECT a, b[, …])` used as an EXPRESSION (a select item) →
    * `(SELECT struct(a, b, …))`: the reference types a multi-column
    * scalar subquery as the row tuple. Narrow shape: the whole item
    * is one parenthesized SELECT with ≥ 2 top-level items. */
  private def tupleizeScalarSubqueries(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l) { level =>
      val t = level.trim
      if (!t.take(6).equalsIgnoreCase("SELECT")) level
      else {
        val top = maskTop(t)
        val end = ("(?i)\\b(FROM|WHERE|PREWHERE|GROUP|HAVING|ORDER|LIMIT|" +
          "ARRAY|UNION|SETTINGS|FORMAT)\\b").r
          .findFirstMatchIn(top).map(_.start).getOrElse(t.length)
        val body = t.substring(6, end)
        val items = splitTopLevel(body)
        var changed = false
        val out = items.map { it0 =>
          val it = it0.trim
          val isSub = it.startsWith("(") && it.endsWith(")") &&
            it.substring(1).stripLeading.toUpperCase.startsWith("SELECT")
          if (!isSub) it0
          else {
            val inner = it.substring(1, it.length - 1).trim
            val innerTop = maskTop(inner)
            val innerEnd = ("(?i)\\b(FROM|WHERE|GROUP|ORDER|LIMIT|UNION)\\b").r
              .findFirstMatchIn(innerTop).map(_.start).getOrElse(inner.length)
            val innerItems = splitTopLevel(inner.substring(6, innerEnd))
            if (innerItems.length < 2) it0
            else {
              changed = true
              // sibling alias refs must inline — inside one struct()
              // there is no lateral alias resolution
              var defined = List.empty[(String, String)]
              val inlined = innerItems.map { raw =>
                var e = raw
                defined.foreach { case (a, ex) =>
                  val pat = ("(?<![\\w.`'])(?<![Aa][Ss] )" +
                    java.util.regex.Pattern.quote(a) + "(?![\\w.`'])").r
                  e = mapOutsideQuotes(e)(seg => pat.replaceAllIn(seg,
                    java.util.regex.Matcher.quoteReplacement(s"($ex)")))
                }
                "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r
                  .findFirstMatchIn(e.trim).foreach(m =>
                    defined ::= (m.group(2), m.group(1).trim))
                e
              }
              "(SELECT struct(" + inlined.mkString(", ") + ") " +
                inner.substring(innerEnd) + ")"
            }
          }
        }
        if (!changed) level
        else {
          val lead = level.substring(0, level.length - level.stripLeading().length)
          val trail = level.substring(lead.length + t.length)
          lead + "SELECT " + out.mkString(", ") + " " + t.substring(end) + trail
        }
      }
    })

  private def inlineForwardAliases(q: String): String =
    recurseParens(q)(level0 => mapUnionBranches(level0)(inlineForwardLevel))

  private def inlineForwardLevel(level: String): String = {
    val t = level.trim
    if (!t.take(6).equalsIgnoreCase("SELECT")) return level
    var items = selectItems(t)
    if (items.length < 2) return level
    val top = maskTop(t)
    val end = ("(?i)\\b(FROM|WHERE|PREWHERE|GROUP|HAVING|ORDER|LIMIT|ARRAY|" +
      "UNION|SETTINGS|FORMAT|WITH)\\b").r
      .findFirstMatchIn(top).map(_.start).getOrElse(t.length)
    if (t.substring(6, end).trim.toUpperCase.startsWith("DISTINCT "))
      return level
    def aliasRe(a: String) =
      ("(?<![\\w.`'])(?<![Aa][Ss] )" +
        java.util.regex.Pattern.quote(a) + "(?![\\w.`'])").r
    // items keep (outputName, currentExpr, hadAlias) — an unaliased
    // item re-renders as its (possibly substituted) expression alone
    var its = items.map { case (n, e) =>
      (n, e, n.replaceAll("\\s+", "") != e.replaceAll("\\s+", "")) }
    def substitutable(a: String, e: String, aliased: Boolean): Boolean =
      aliased && !a.contains(".") &&
        "(?i)\\barrayJoin\\s*\\(".r.findFirstIn(e).isEmpty
    // a lambda formal parameter SHADOWS an outer alias of the same
    // name inside its item (`arrayMap(x -> 1, [2]), 123 AS x` keeps
    // the lambda's x — corpus 00157); skip such items wholesale
    def shadowedByLambda(target: String, a: String): Boolean =
      (java.util.regex.Pattern.quote(a) + "\\s*->").r
        .findFirstIn(target).isDefined ||
      ("\\(([^()]*)\\)\\s*->").r.findAllMatchIn(target)
        .exists(m => m.group(1).split(",").map(_.trim).contains(a)) ||
      // a sub-SELECT defining its own `AS a` shadows the outer alias
      // for the whole item (corpus 00211's scalar subquery)
      hasShadowingSubselect(target, a)
    // under a top-level JOIN Spark's lateral column aliases don't
    // resolve at all (the name searches the join relations only), so
    // BACKWARD references inline there too (00163's
    // `dummy + 2 AS number, number / 2 AS n` over a join)
    val joined = topMatches(t, depths(t), "JOIN").nonEmpty
    def refs(i: Int, j: Int): Boolean = if (joined) j != i else j > i
    def hasForwardRef: Boolean =
      its.zipWithIndex.exists { case ((_, expr, _), i) =>
        its.zipWithIndex.exists { case ((a, e, al), j) =>
          refs(i, j) && substitutable(a, e, al) && !shadowedByLambda(expr, a) &&
            aliasRe(a).findFirstIn(maskQuotes(expr)).isDefined
        }
      }
    // aggregate-span backward refs are handled below even when no
    // forward ref exists
    val hadForward = hasForwardRef
    var rounds = 0
    while (hasForwardRef && rounds < 10) {
      its = its.zipWithIndex.map { case ((name, expr, al0), i) =>
        var e2 = expr
        its.zipWithIndex.foreach { case ((a, e, al), j) =>
          if (refs(i, j) && substitutable(a, e, al) && !shadowedByLambda(e2, a) &&
            aliasRe(a).findFirstIn(maskQuotes(e2)).isDefined)
            e2 = mapOutsideQuotes(e2)(seg => aliasRe(a).replaceAllIn(seg,
              java.util.regex.Matcher.quoteReplacement(s"($e)")))
        }
        (name, e2, al0)
      }
      rounds += 1
    }
    // BACKWARD refs inside AGGREGATE arguments: Spark's lateral
    // column aliases don't reach aggregate functions (corpus 00135
    // `concat(…) AS s, …, max(s)`) — inline those too, but only
    // within the aggregate-call span
    var aggChanged = false
    its = its.zipWithIndex.map { case ((name, expr, al0), i) =>
      var e2 = expr
      its.zipWithIndex.foreach { case ((a, e, al), j) =>
        if (j < i && !joined && substitutable(a, e, al) &&
            !shadowedByLambda(e2, a)) {
          val e3 = substInAggSpans(e2, a, e)
          if (e3 != e2) { aggChanged = true; e2 = e3 }
        }
      }
      (name, e2, al0)
    }
    // BACKWARD refs inside an alias that the GROUP BY names: Spark
    // rejects GROUP BY over an alias whose definition reads a lateral
    // alias (`a AS k1, k1 + 1 AS k2 … GROUP BY k1, k2` — corpus
    // 00223); inline the chain so the grouped alias reads source
    // columns only
    var gbChanged = false
    val gbNames: Set[String] = {
      val d0 = depths(t)
      topMatches(t, d0, "GROUP").headOption.map { g =>
        val gEnd = topMatches(t, d0, "HAVING|ORDER|LIMIT|SETTINGS|UNION")
          .filter(_ > g).minOption.getOrElse(t.length)
        splitTopLevel(t.substring(g, gEnd)
            .replaceAll("(?i)^GROUP\\s+BY\\s*", ""))
          .map(_.trim).filter(_.matches("[A-Za-z_]\\w*")).toSet
      }.getOrElse(Set.empty)
    }
    if (gbNames.nonEmpty)
      its = its.zipWithIndex.map { case ((name, expr, al0), i) =>
        var e2 = expr
        if (al0 && gbNames.contains(name))
          its.zipWithIndex.foreach { case ((a, e, al), j) =>
            if (j < i && substitutable(a, e, al) &&
                !shadowedByLambda(e2, a) &&
                aliasRe(a).findFirstIn(maskQuotes(e2)).isDefined) {
              e2 = mapOutsideQuotes(e2)(seg => aliasRe(a).replaceAllIn(seg,
                java.util.regex.Matcher.quoteReplacement(s"($e)")))
              gbChanged = true
            }
          }
        (name, e2, al0)
      }
    if (!hadForward && !aggChanged && !gbChanged) return level
    val list = its.map { case (n, e, al) =>
      if (al) s"$e AS $n" else e }.mkString(", ")
    val lead = level.substring(0, level.length - level.stripLeading().length)
    lead + "SELECT " + list + " " + t.substring(end)
  }

  /** Replace `alias` with `(expr)` only INSIDE aggregate-call spans
    * of `text` (the spans where a lateral alias can't resolve). */
  private def substInAggSpans(text: String, alias: String, expr: String): String = {
    val masked = maskQuotes(text)
    val pat = ("(?<![\\w.`'])(?<![Aa][Ss] )" +
      java.util.regex.Pattern.quote(alias) + "(?![\\w(`'])").r
    var out = text
    // rightmost-first keeps earlier span offsets valid
    keylessAggRe.findAllMatchIn(masked).toSeq.reverse.foreach { am =>
      val open = masked.indexOf('(', am.end - 1)
      if (open >= 0) {
        var depth = 1; var j = open + 1
        while (j < masked.length && depth > 0) {
          if (masked(j) == '(') depth += 1
          else if (masked(j) == ')') depth -= 1
          j += 1
        }
        val span = out.substring(open, j)
        if (pat.findFirstIn(maskQuotes(span)).isDefined) {
          val replaced = mapOutsideQuotes(span)(seg => pat.replaceAllIn(seg,
            java.util.regex.Matcher.quoteReplacement(s"($expr)")))
          out = out.substring(0, open) + replaced + out.substring(j)
        }
      }
    }
    out
  }

  /** `expr AS res, toTypeName(res)` types the aliased EXPRESSION:
    * Spark's lateral-column-alias resolution hands the type-name
    * inference a bare attribute (the alias's output slot), erasing
    * the expression structure the CH spelling derives from — so
    * inline the sibling item's text into the call (both directions;
    * values are unaffected, only the typed argument changes). */
  private def inlineToTypeNameArgs(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l)(inlineToTypeNameLevel))

  private def inlineToTypeNameLevel(level: String): String = {
    val t = level.trim
    if (!t.take(6).equalsIgnoreCase("SELECT")) return level
    if ("(?i)\\btoTypeName\\s*\\(".r.findFirstIn(maskQuotes(t)).isEmpty)
      return level
    val aliased = selectItems(t).filter { case (n, e) =>
      n.replaceAll("\\s+", "") != e.replaceAll("\\s+", "") &&
        !n.contains(".") &&
        "(?i)\\barrayJoin\\s*\\(".r.findFirstIn(e).isEmpty }
    if (aliased.isEmpty) return level
    var out = level
    aliased.foreach { case (a, e) =>
      val re = ("(?i)\\btoTypeName\\s*\\(\\s*" +
        java.util.regex.Pattern.quote(a) + "\\s*\\)").r
      out = mapOutsideQuotes(out)(seg => re.replaceAllIn(seg,
        java.util.regex.Matcher.quoteReplacement(s"toTypeName(($e))")))
    }
    out
  }

  /** Block-introspection family (rowNumberInAllBlocks / blockNumber /
    * rowNumberInBlock / blockSize — FunctionsMiscellaneous.cpp).
    * Spark has no block concept, so model the pipeline as a dense row
    * order sliced into `max_block_size` blocks — exactly how the
    * reference's single-thread pipeline chops a stream
    * (IBlockInputStream max_block_size; corpus 00344 pins the whole
    * family under SET max_block_size).
    *
    * Calls at SELECT level become window expressions directly (they
    * evaluate post-WHERE, like the reference's final pipeline stage —
    * corpus 00160's `blockSize() < 10` over two index-selected rows).
    * Calls INSIDE an aggregate can't hold a window, so the level's
    * FROM..WHERE wraps into a subquery that projects the row number /
    * total as `__rnab`/`__cnt` first.
    *
    * Scale note: the unpartitioned row_number window is a
    * single-partition construct — inherent to the function family's
    * sequential semantics (a global dense row order), and only paid
    * by queries that call it. */
  private val blockFnRe =
    "(?i)\\b(rowNumberInAllBlocks|rowNumberInBlock|blockNumber|blockSize)\\s*\\(\\s*\\)".r

  private def rewriteBlockFns(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l)(rewriteBlockFnsLevel))

  private def rewriteBlockFnsLevel(level: String): String = {
    val t = level.trim
    if (!t.take(6).equalsIgnoreCase("SELECT")) return level
    if (blockFnRe.findFirstIn(maskQuotes(level)).isEmpty) return level
    val s = ChDdl.currentMaxBlockSize
    // system.numbers source: block identity = number div block_size
    // (read order IS the ordinal), so the block functions compute as
    // DISTRIBUTED partition windows, and blockSize() observes the
    // post-WHERE block population exactly like the reference's
    // filtered stream (corpus 00167 halves 123-blocks to 61/62).
    // rowNumberInAllBlocks keeps the generic global-order machinery.
    if ("(?i)\\bAS\\s+number\\s+FROM\\s+range\\s*\\(".r
          .findFirstIn(maskQuotes(level)).isDefined &&
        "(?i)\\browNumberInAllBlocks".r.findFirstIn(level).isEmpty) {
      // LAST marker wins: an inner subquery's /* max_block_size */
      // marker precedes the level's own trailing one (00167's nested
      // break quotas)
      val s1 = "(?i)\\bmax_block_size\\s*=\\s*(\\d+)".r
        .findAllMatchIn(level).toSeq.lastOption.map(_.group(1).toLong)
        .getOrElse(s)
      val blk = s"(number div $s1)"
      // shard-tagged remote() branches are independent streams: the
      // block windows partition per shard (ChDdl remote expansion)
      val part = if ("(?i)\\b__shardno\\b".r.findFirstIn(level).isDefined)
        s"__shardno, $blk" else blk
      return mapOutsideQuotes(level)(seg => seg
        .replaceAll("(?i)\\browNumberInBlock\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(
            s"(row_number() OVER (PARTITION BY $part ORDER BY number) - 1)"))
        .replaceAll("(?i)\\bblockNumber\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(blk))
        .replaceAll("(?i)\\bblockSize\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(
            s"(count(*) OVER (PARTITION BY $part))")))
    }
    val rn = "(row_number() OVER (ORDER BY 'b') - 1)"
    val cnt = "(count(*) OVER ())"
    // is any call nested inside an aggregate call's argument list?
    val masked = maskQuotes(level)
    val inAgg = keylessAggRe.findAllMatchIn(masked).exists { am =>
      val open = masked.indexOf('(', am.end - 1)
      if (open < 0) false
      else {
        var depth = 1; var j = open + 1
        while (j < masked.length && depth > 0) {
          if (masked(j) == '(') depth += 1
          else if (masked(j) == ')') depth -= 1
          j += 1
        }
        blockFnRe.findFirstIn(masked.substring(open, j)).isDefined
      }
    }
    // when the FROM table carries a RECORDED block structure (the
    // squashed-insert shape, ChDdl.blockSizesForView), blockSize()
    // maps each row to ITS block's size instead of the uniform
    // max_block_size approximation (corpus 00340/00341)
    val recorded: Option[Seq[Long]] =
      // only for an UNFILTERED scan: a WHERE (or index selection)
      // re-blocks the read stream, so the stored structure no longer
      // describes what blockSize() observes (00160 reads 2 index-
      // selected rows out of a 100k-row insert block)
      if ("(?i)\\b(WHERE|PREWHERE)\\b".r.findFirstIn(maskQuotes(level)).isDefined)
        None
      else "(?i)\\bFROM\\s+`?([\\w.]+)`?".r.findFirstMatchIn(maskQuotes(level))
        .flatMap(m => ChDdl.blockSizesForView(m.group(1)))
    def bsExpr(rnE: String, cntE: String): String = recorded match {
      case Some(sizes) =>
        val starts = sizes.scanLeft(0L)(_ + _).dropRight(1)
        s"element_at(array(${sizes.mkString(", ")}), " +
          s"size(filter(array(${starts.mkString(", ")}), __bss -> __bss <= $rnE)))"
      case None => s"least($s, $cntE - ($rnE div $s) * $s)"
    }
    def subst(text: String, rnE: String, cntE: String): String =
      mapOutsideQuotes(text)(seg => seg
        .replaceAll("(?i)\\browNumberInAllBlocks\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(rnE))
        .replaceAll("(?i)\\browNumberInBlock\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(s"($rnE % $s)"))
        .replaceAll("(?i)\\bblockNumber\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(s"($rnE div $s)"))
        .replaceAll("(?i)\\bblockSize\\s*\\(\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(bsExpr(rnE, cntE))))
    // `ignore(...)` is constant 0 whatever its arguments; when the
    // arguments hold one of the injected windows (00160's WHERE
    // `NOT ignore(blockSize() < 10 AS b)`) fold the call away
    // textually — the analyzer rejects windows inside WHERE before
    // the ignore builder would discard them
    def foldIgnoreWindows(text: String): String = {
      var out = text
      var again = true
      while (again) {
        again = false
        val m0 = "(?i)\\bignore\\s*\\(".r.findAllMatchIn(maskQuotes(out))
          .find(m => {
            val open = out.indexOf('(', m.start)
            var depth = 1; var j = open + 1
            val msk = maskQuotes(out)
            while (j < out.length && depth > 0) {
              if (msk(j) == '(') depth += 1
              else if (msk(j) == ')') depth -= 1
              j += 1
            }
            out.substring(open, j).contains("OVER (ORDER BY 'b')")
          })
        m0.foreach { m =>
          val open = out.indexOf('(', m.start)
          var depth = 1; var j = open + 1
          val msk = maskQuotes(out)
          while (j < out.length && depth > 0) {
            if (msk(j) == '(') depth += 1
            else if (msk(j) == ')') depth -= 1
            j += 1
          }
          out = out.substring(0, m.start) + "0" + out.substring(j)
          again = true
        }
      }
      out
    }
    // a block fn in GROUP BY needs the same hoist as one inside an
    // aggregate: the window primitives move into a projection below
    // (corpus 00340's GROUP BY blockSize())
    val inGroupBy = {
      val d0 = depths(level)
      topMatches(level, d0, "GROUP").exists { g =>
        val end = topMatches(level, d0, "HAVING|ORDER|LIMIT|SETTINGS")
          .filter(_ > g).minOption.getOrElse(level.length)
        blockFnRe.findFirstIn(maskQuotes(level.substring(g, end))).isDefined
      }
    }
    if (!inAgg && !inGroupBy) foldIgnoreWindows(subst(level, rn, cnt))
    else {
      val d = depths(level)
      val fromAt = topMatches(level, d, "FROM").headOption.getOrElse(return level)
      val wrapEnd = topMatches(level, d, "GROUP|HAVING|ORDER|LIMIT|SETTINGS")
        .filter(_ > fromAt).minOption.getOrElse(level.length)
      val rel = level.substring(fromAt + 4, wrapEnd).trim
      subst(level.substring(0, fromAt), "__rnab", "__cnt") +
        s"FROM (SELECT *, $rn AS __rnab, $cnt AS __cnt FROM $rel) " +
        subst(level.substring(wrapEnd), "__rnab", "__cnt")
    }
  }

  /** Levels with hoisted arrayJoin vars AND top-level aggregates but
    * no GROUP BY get `GROUP BY <vars>` appended — the reference's
    * pipeline explodes first, then aggregates with the generated
    * column as an ordinary key (corpus 00181). */
  private def groupHoistedArrayJoinWithAggs(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l) { level =>
      val t = level.trim
      if (!t.take(6).equalsIgnoreCase("SELECT")) level
      else {
        val top = maskTop(t)
        if ("(?i)\\bGROUP\\s+BY\\b".r.findFirstIn(top).isDefined) level
        else {
          val end = ("(?i)\\b(FROM|UNION|SETTINGS|FORMAT)\\b").r
            .findFirstMatchIn(top).map(_.start).getOrElse(t.length)
          val body = t.substring(6, end)
          val bodyMasked = maskQuotes(body)
          // aggregate-call argument spans within the body
          val aggSpans = keylessAggRe.findAllMatchIn(bodyMasked).toSeq.flatMap { am =>
            val open = bodyMasked.indexOf('(', am.end - 1)
            if (open < 0) None
            else {
              var depth = 1; var j = open + 1
              while (j < bodyMasked.length && depth > 0) {
                if (bodyMasked(j) == '(') depth += 1
                else if (bodyMasked(j) == ')') depth -= 1
                j += 1
              }
              Some((open, j))
            }
          }
          // only vars used OUTSIDE aggregates become group keys —
          // `groupArray(arrayJoin([4,5,6]))` collects all exploded
          // values into ONE row (corpus 00371)
          val ajVars = "__ajv\\d+".r.findAllMatchIn(bodyMasked)
            .filter(vm => !aggSpans.exists(sp => vm.start >= sp._1 && vm.start < sp._2))
            .map(_.matched).toSeq.distinct
          if (ajVars.isEmpty ||
              keylessAggRe.findFirstIn(maskSubqueries(body)).isEmpty) level
          else {
            val insertAt = ("(?i)\\b(ORDER|LIMIT|HAVING|SETTINGS|FORMAT|UNION)\\b").r
              .findFirstMatchIn(top).map(_.start).getOrElse(t.length)
            val lead = level.substring(0, level.length - level.stripLeading().length)
            lead + t.substring(0, insertAt) +
              s" GROUP BY ${ajVars.mkString(", ")} " + t.substring(insertAt)
          }
        }
      }
    })

  /** Balanced `(SELECT …)` spans of `s` that contain their OWN
    * `AS alias` definition — those shadow an outer alias of the same
    * name, so alias-inlining passes must leave them untouched. */
  private def shadowingSubselectSpans(s: String, alias: String): Seq[(Int, Int)] = {
    val defRe = ("(?i)\\bAS\\s+`?" +
      java.util.regex.Pattern.quote(alias) + "`?(?![\\w])").r
    val msk = maskQuotes(s)
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < s.length) {
      if (msk.charAt(i) == '(' &&
          msk.substring(i + 1).stripLeading.toUpperCase.startsWith("SELECT")) {
        var depth = 1
        var j = i + 1
        while (j < s.length && depth > 0) {
          if (msk.charAt(j) == '(') depth += 1
          else if (msk.charAt(j) == ')') depth -= 1
          j += 1
        }
        if (defRe.findFirstIn(msk.substring(i, j)).isDefined) {
          out += ((i, j)); i = j
        } else i += 1
      } else i += 1
    }
    out.result()
  }

  private[sql] def hasShadowingSubselect(s: String, alias: String): Boolean =
    shadowingSubselectSpans(s, alias).nonEmpty

  private def inlineAliasInWhere(q: String): String =
    recurseParens(q)(level0 => mapUnionBranches(level0)(inlineAliasInWhereLevel))

  private def inlineAliasInWhereLevel(level: String): String = {
    val up = level.toUpperCase
    val d = depths(level)
    if (!up.trim.startsWith("SELECT")) level
    else {
      val selStart = up.indexOf("SELECT") + 6
      val fromAt = topMatches(level, d, "FROM").headOption
      val whereAt = topMatches(level, d, "WHERE").headOption
      (fromAt, whereAt) match {
        case (Some(f), Some(w)) if f < w =>
          val aliases = splitTopLevel(level.substring(selStart, f)).flatMap { item =>
            "(?is)^(.*\\S)\\s+AS\\s+(\\w+)$".r.findFirstMatchIn(item.trim)
              .filter(m => m.group(1).trim != m.group(2))
              .map(m => (m.group(1).trim, m.group(2)))
          }
          if (aliases.isEmpty) level
          else {
            val wEnd = topMatches(level, d, "GROUP|ORDER|LIMIT|HAVING|SETTINGS")
              .filter(_ > w).minOption.getOrElse(level.length)
            var clause = level.substring(w, wEnd)
            aliases.foreach { case (expr, alias) =>
              // never rewrite an `AS alias` DEFINITION, and leave
              // sub-SELECTs that REDEFINE the alias alone — their own
              // definition shadows the outer one (corpus 00211)
              val pat = ("(?<![\\w.`'])(?<![Aa][Ss] )" +
                java.util.regex.Pattern.quote(alias) + "(?![\\w.`'])").r
              val spans = shadowingSubselectSpans(clause, alias)
              def inShadow(at: Int) = spans.exists(s => at >= s._1 && at < s._2)
              // match on the masked text (string literals blanked, so
              // clause-relative offsets line up with the spans)
              val msk = maskQuotes(clause)
              val sb = new java.lang.StringBuilder
              var last = 0
              pat.findAllMatchIn(msk).foreach { m =>
                if (!inShadow(m.start)) {
                  sb.append(clause, last, m.start).append(s"($expr)")
                  last = m.end
                }
              }
              sb.append(clause.substring(last))
              clause = sb.toString
            }
            level.substring(0, w) + clause + level.substring(wEnd)
          }
        case _ => level
      }
    }
  }

  /** Paren depth at each character position (quote-aware). */
  private def depths(q: String): Array[Int] = {
    val d = new Array[Int](q.length)
    var depth = 0
    var inQ = false
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'') inQ = !inQ
      else if (!inQ && (c == '(' || c == '[')) depth += 1
      else if (!inQ && (c == ')' || c == ']')) depth -= 1
      d(i) = depth
      i += 1
    }
    d
  }

  private val chTypeNames = Set(
    "UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16", "Int32", "Int64",
    "Float32", "Float64", "String", "Date", "DateTime", "Array", "FixedString", "Nullable",
    // Spark spellings — `CAST(x AS TINYINT)` is not an alias either
    // (uppercased before lookup)
    "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "LONG", "FLOAT", "REAL",
    "DOUBLE", "BOOLEAN", "BINARY", "TIMESTAMP", "DECIMAL", "MAP", "STRUCT",
    "BYTE", "SHORT", "VARCHAR", "CHAR")

  private def isTypeName(s: String): Boolean =
    chTypeNames.contains(s) || chTypeNames.contains(s.toUpperCase)

  /** CH permits aliasing any subexpression in place (`f('x' AS s)`,
    * later referring to `s`). Spark can't parse the inner AS; for the
    * LITERAL case the alias is inlined: the ` AS s` is dropped and
    * every bare `s` reference becomes the literal. Only applies at
    * paren depth > 0 (top-level `SELECT 1 AS x` is normal SQL), and
    * never when the "alias" is a CH type name (CAST syntax). */
  /** Before in-place aliases are inlined away, re-alias bare select
    * items to their own name (`(1 AS a) ? … , a` → `…, a AS a`): the
    * inline passes substitute `a` with `(1)` and the OUTPUT COLUMN
    * NAME would otherwise degrade to Spark's auto-name (corpus 00393
    * TSKV prints `a=1`). Only levels that hold an in-paren alias are
    * touched — `x AS x` is the identity everywhere else. */
  private def selfNameBareItems(q: String): String =
    recurseParens(q)(l => mapUnionBranches(l)(selfNameLevel))

  /** Names bound by an IN-PAREN alias at this level — an ` AS x`
    * whose innermost enclosing bracket is a function call, plain
    * group, or array literal (NOT a subquery): exactly the aliases
    * the inline passes will erase. */
  private def inParenAliasNames(t: String): Set[String] = {
    val out = Set.newBuilder[String]
    "(?i)\\s+AS\\s+`?([A-Za-z_]\\w*)`?".r.findAllMatchIn(maskQuotes(t))
      .foreach { m =>
        var stack = List.empty[Int]
        var inQ = false
        var i = 0
        while (i < m.start) {
          val c = t.charAt(i)
          if (c == '\'') inQ = !inQ
          else if (!inQ && (c == '(' || c == '[')) stack = i :: stack
          else if (!inQ && (c == ')' || c == ']')) stack = stack.drop(1)
          i += 1
        }
        val inlineable = stack.headOption.exists { p =>
          t.charAt(p) == '[' || (t.charAt(p) == '(' &&
            !t.substring(p + 1).stripLeading.toUpperCase.startsWith("SELECT"))
        }
        if (inlineable && !isTypeName(m.group(1))) out += m.group(1)
      }
    out.result()
  }

  private def selfNameLevel(level: String): String = {
    val t = level.trim
    if (!t.take(6).equalsIgnoreCase("SELECT")) return level
    val erased = inParenAliasNames(t)
    if (erased.isEmpty) return level
    val top = maskTop(t)
    val end = ("(?i)\\b(FROM|WHERE|PREWHERE|GROUP|HAVING|ORDER|LIMIT|ARRAY|" +
      "UNION|SETTINGS|FORMAT|WITH)\\b").r
      .findFirstMatchIn(top).map(_.start).getOrElse(t.length)
    val body = t.substring(6, end)
    if (body.stripLeading().toUpperCase.startsWith("DISTINCT ")) return level
    val items = splitTopLevel(body).map { it =>
      val bare = it.trim
      if (bare.matches("[A-Za-z_]\\w*") && erased.contains(bare))
        s"$bare AS $bare"
      else bare
    }
    val lead = level.substring(0, level.length - level.stripLeading().length)
    // keep trailing whitespace: a union branch's trim would otherwise
    // glue its last token to the following UNION keyword
    val trail = level.substring(lead.length + t.length)
    lead + "SELECT " + items.mkString(", ") + " " + t.substring(end) + trail
  }

  private def inlineLiteralAliases(q: String): String = {
    val lit = "'(?:[^'\\\\]|\\\\.)*'|(?<![\\w.])\\d+(?:\\.\\d+)?"
    val re = (s"(materialize\\(\\s*(?:$lit)\\s*\\)|$lit)" +
      "\\s+[Aa][Ss]\\s+([A-Za-z_]\\w*)").r
    val d = depths(q)
    // innermost enclosing '(' of a position; None at top level
    def openParenOf(pos: Int): Option[Int] = {
      var stack = List.empty[Int]
      var inQ = false
      var i = 0
      while (i < pos) {
        val c = q.charAt(i)
        if (c == '\'') inQ = !inQ
        else if (!inQ && c == '(') stack = i :: stack
        else if (!inQ && c == ')') stack = stack.drop(1)
        i += 1
      }
      stack.headOption
    }
    // inline only inside FUNCTION parens — `(SELECT 1 AS x)` is a
    // subquery whose alias is a real output column, not inlineable
    def inFunctionCall(pos: Int): Boolean = openParenOf(pos) match {
      case None => false
      case Some(p) =>
        !q.substring(p + 1).stripLeading.toUpperCase.startsWith("SELECT")
    }
    // the literal must be a WHOLE argument — `number - 10 AS x`
    // aliases the arithmetic expression, not the 10 (that form is
    // inlineExprAliases' job)
    def wholeArg(start: Int): Boolean = {
      var p = start - 1
      while (p >= 0 && q.charAt(p).isWhitespace) p -= 1
      p < 0 || q.charAt(p) == '(' || q.charAt(p) == ','
    }
    val matches = re.findAllMatchIn(q).toList
      .filter(m => d(m.start) > 0 && !isTypeName(m.group(2)) &&
        inFunctionCall(m.start) && wholeArg(m.start))
    if (matches.isEmpty) return q
    // drop the ` AS alias` part of each match (right to left)
    var out = q
    matches.reverse.foreach { m =>
      out = out.substring(0, m.start) + m.group(1) + out.substring(m.end)
    }
    // replace bare alias references with the literal — but never a
    // FUNCTION CALL of the same name (`'…' AS hex` must not rewrite
    // `hex(x)`, corpus 00396)
    matches.foreach { m =>
      val pat = ("(?<![\\w.`'])(?<![Aa][Ss] )" +
        java.util.regex.Pattern.quote(m.group(2)) + "(?![\\w(`'])").r
      val repl = java.util.regex.Matcher.quoteReplacement(m.group(1))
      out = mapOutsideQuotes(out)(seg => pat.replaceAllIn(seg, repl))
    }
    out
  }

  /** CH aliases ANY subexpression in place and the alias is visible
    * query-wide (`abs(number - 10 AS x) = (x < 0 ? -x : x)` — x is
    * `number - 10`). [[inlineLiteralAliases]] handles the literal
    * case; this pass handles full expressions inside FUNCTION-call
    * parens: strip ` AS x`, then substitute `(expr)` for later bare
    * `x` references. Subquery select lists (parens starting with
    * SELECT) are real output columns and stay untouched. */
  private def inlineExprAliases(q0: String): String = {
    var q = q0
    var guard = 0
    var changed = true
    while (changed && guard < 16) {
      changed = false
      guard += 1
      val d = depths(q)
      val re = "(?i)\\s+AS\\s+`?([A-Za-z_]\\w*)`?(?![\\w(])".r
      val cand = re.findAllMatchIn(q).find { m =>
        d(m.start) > 0 && !isTypeName(m.group(1)) && {
          // enclosing paren must be a function call, not a subquery
          var stack = List.empty[Int]
          var inQ = false
          var i = 0
          while (i < m.start) {
            val c = q.charAt(i)
            if (c == '\'') inQ = !inQ
            else if (!inQ && (c == '(' || c == '[')) stack = i :: stack
            else if (!inQ && (c == ')' || c == ']')) stack = stack.drop(1)
            i += 1
          }
          // any paren EXCEPT a subquery: `(e AS x)` aliases e in CH;
          // an array literal counts too (`[0 AS x]`, corpus 00230)
          stack.headOption.exists { p =>
            q.charAt(p) == '[' || (q.charAt(p) == '(' &&
              !q.substring(p + 1).stripLeading.toUpperCase.startsWith("SELECT"))
          }
        }
      }
      cand.foreach { m =>
        val alias = m.group(1)
        val dep = d(m.start)
        // expression start: enclosing '('/'[' or same-depth ',' left
        var p = m.start - 1
        while (p >= 0 && !((q.charAt(p) == '(' || q.charAt(p) == '[' ||
            q.charAt(p) == ',') && d(p) == dep))
          p -= 1
        val expr = q.substring(p + 1, m.start).trim
        if (expr.nonEmpty && !expr.equalsIgnoreCase(alias)) {
          val before = q.substring(0, m.start) + q.substring(m.end)
          val pat = ("(?<![\\w.`'])(?<![Aa][Ss] )" +
            java.util.regex.Pattern.quote(alias) + "(?![\\w(`'])").r
          val repl = java.util.regex.Matcher.quoteReplacement(s"($expr)")
          // CH in-place aliases bind QUERY-WIDE (`SELECT *, b FROM t
          // WHERE ignore(e AS b)` — corpus 00160): substitute before
          // and after the definition, skipping the defining
          // expression's own span (`x + 1 AS x` must keep reading the
          // source column inside its definition)
          val head = mapOutsideQuotes(before.substring(0, p + 1))(seg =>
            pat.replaceAllIn(seg, repl)) + before.substring(p + 1, m.start)
          val tail = mapOutsideQuotes(before.substring(m.start))(seg =>
            pat.replaceAllIn(seg, repl))
          q = head + tail
          changed = true
        }
      }
    }
    q
  }

  /** Bare `[LEFT] ARRAY JOIN col`: the reference REPLACES `col` with
    * its elements for the whole query (shadowing). Emit the lateral
    * view under a fresh alias and redirect the query's own (depth-0)
    * `col` references to it — subqueries keep their bindings, so a
    * subquery-produced array still feeds the explode. */
  /** replaceAllIn skipping matches that START inside a single-quoted
    * string literal (a match may legally CONTAIN literals — `ARRAY
    * JOIN ['a','b'] AS x` — which mapOutsideQuotes would split). */
  private def replaceQuoteAware(q: String,
      re: scala.util.matching.Regex)(
      fn: scala.util.matching.Regex.Match => String): String = {
    val inQuote = new Array[Boolean](q.length + 1)
    var inQ = false
    q.indices.foreach { i => inQuote(i) = inQ; if (q(i) == '\'') inQ = !inQ }
    re.replaceAllIn(q, m =>
      if (inQuote(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
      else fn(m))
  }

  private def rewriteBareArrayJoin(q0: String): String = {
    val re = "(?i)\\b(LEFT\\s+)?ARRAY\\s+JOIN\\s+([A-Za-z_]\\w*)\\b".r
    var q = q0
    // match on the quote-masked text: '… array join …' inside a
    // string literal is data (00261 captions)
    var m = re.findFirstMatchIn(maskQuotes(q))
    var guard = 0
    while (m.isDefined && guard < 8) {
      val mm = m.get
      val outer = mm.group(1) != null
      val name = mm.group(2)
      val fresh = s"__aj_$name"
      val marker = ""
      q = q.substring(0, mm.start) +
        s"LATERAL VIEW ${if (outer) "OUTER " else ""}explode($marker) __aj AS $fresh" +
        q.substring(mm.end)
      // redirect depth-0 references only (subqueries are protected)
      val d = depths(q)
      val pat = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      val sb = new StringBuilder
      var i = 0
      var inQ = false
      val seg = new StringBuilder
      def flush(depth0: Boolean): Unit = {
        if (depth0) sb.append(pat.replaceAllIn(seg.toString, fresh))
        else sb.append(seg.toString)
        seg.clear()
      }
      var curDepth0 = true
      while (i < q.length) {
        val c = q.charAt(i)
        if (c == '\'') inQ = !inQ
        val isDepth0 = !inQ && d(i) == 0 && c != '\''
        if (isDepth0 != curDepth0) { flush(curDepth0); curDepth0 = isDepth0 }
        seg.append(c)
        i += 1
      }
      flush(curDepth0)
      q = sb.toString.replace(marker, name)
      m = re.findFirstMatchIn(maskQuotes(q))
      guard += 1
    }
    q
  }

  /** Self-shadowing select-list aliases: in `EXPR AS a` where `a` is
    * itself referenced inside EXPR (so the alias shadows a source
    * column), later select items referring to `a` get `(EXPR)`
    * inlined — the reference resolves the ALIAS there, Spark the
    * source column. */
  private def inlineShadowingAliases(q: String): String = {
    val selRe = "(?is)\\bSELECT\\s+(.+?)\\s+FROM\\b".r
    selRe.replaceAllIn(q, m => {
      // a nested subquery's FROM would truncate the span — skip then
      val span = m.group(1)
      val balanced = span.count(_ == '(') == span.count(_ == ')')
      if (!balanced) java.util.regex.Matcher.quoteReplacement(m.matched)
      else {
        val items = splitTopLevel(span)
        val aliasRe = "(?is)^(.+?)\\s+AS\\s+([A-Za-z_]\\w*)$".r
        val out = items.toBuffer
        items.zipWithIndex.foreach {
          case (aliasRe(expr, name), idx) =>
            val selfRef = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
            if (selfRef.findFirstIn(expr).isDefined && expr.trim != name) {
              val repl = java.util.regex.Matcher.quoteReplacement(s"($expr)")
              for (j <- (idx + 1) until out.length) {
                // don't touch the later item's own alias position
                out(j) = aliasRe.findFirstMatchIn(out(j)) match {
                  case Some(mm) =>
                    mapOutsideQuotes(mm.group(1))(seg =>
                      selfRef.replaceAllIn(seg, repl)) + s" AS ${mm.group(2)}"
                  case None =>
                    mapOutsideQuotes(out(j))(seg => selfRef.replaceAllIn(seg, repl))
                }
              }
            }
          case _ =>
        }
        java.util.regex.Matcher.quoteReplacement(
          "SELECT " + out.mkString(", ") + " FROM ")
      }
    })
  }

  /** Fold `CAST('name' AS Enum8('a' = 1, …))` (and the Array form over
    * a literal array) to the validated name literal — the reference's
    * enum cast keyed by name (DataTypeEnum.cpp `castToValue`), whose
    * result serializes as the name. Only LITERAL operands fold; see
    * the call site for the non-literal channel. */
  /** `CAST(expr AS T)` with T a CH scalar name (optionally
    * Nullable-wrapped) → `ch_type_tag(CAST(expr AS <spark>), 'T')`:
    * runs as the plain Spark cast, but the DECLARED reference name —
    * unsignedness and explicit Nullable(...) — survives analysis for
    * toTypeName (corpus 00424: sum(1 + CAST(dummy AS Nullable(UInt8)))
    * is Nullable(UInt64)). Types outside the map keep the untagged
    * path (the general AS-map below). */
  private val castTypeMap = Map(
    "UInt8" -> "INT", "UInt16" -> "INT", "Int32" -> "INT",
    "UInt32" -> "BIGINT", "UInt64" -> "BIGINT", "Int64" -> "BIGINT",
    "Int8" -> "TINYINT", "Int16" -> "SMALLINT",
    "Float32" -> "FLOAT", "Float64" -> "DOUBLE",
    "String" -> "STRING", "Date" -> "DATE", "DateTime" -> "TIMESTAMP")

  private def rewriteTypedCasts(q0: String): String = {
    var q = q0
    // rightmost-first: inner casts rewrite before enclosing ones and
    // earlier match offsets stay valid
    "(?i)\\bCAST\\s*\\(".r.findAllMatchIn(q).toSeq.reverse.foreach { m =>
      val d = depths(q)
      val open = m.end - 1
      val close = (open + 1 until q.length).find(j => d(j) == d(open) - 1)
      close.foreach { c =>
        val inner = q.substring(open + 1, c)
        val masked = maskTop(inner)
        val asM = "(?i)\\sAS\\s+".r.findAllMatchIn(masked).toSeq.lastOption
        asM.foreach { am =>
          val typeText = inner.substring(am.end).trim
          val expr = inner.substring(0, am.start).trim
          def replaceWith(text: String): Unit =
            q = q.substring(0, m.start) + text + q.substring(c + 1)
          val tm = "^(?:Nullable\\s*\\(\\s*(\\w+)\\s*\\)|(\\w+))$".r
            .findFirstMatchIn(typeText)
          val arrM = "^Array\\s*\\(\\s*(\\w+)\\s*\\)$".r
            .findFirstMatchIn(typeText)
          val tupM = "^Tuple\\s*\\((.*)\\)$".r.findFirstMatchIn(typeText)
          if (tm.isDefined) {
            val t = tm.get
            val base = Option(t.group(1)).getOrElse(t.group(2))
            // CAST(x AS String) IS toString(x) in the reference
            // (FunctionsConversion generic-to-String path renders
            // tuples/arrays in their literal form — corpus 00357)
            if (base == "String" && t.group(1) == null)
              replaceWith(s"toString($expr)")
            else castTypeMap.get(base).foreach { spark =>
              val chName =
                if (t.group(1) != null) s"Nullable($base)" else base
              replaceWith(s"ch_type_tag(CAST($expr AS $spark), '$chName')")
            }
          } else if (arrM.isDefined) {
            // CAST(string AS Array(T)) parses the literal text
            // (corpus 00358); numeric element text is JSON-compatible
            castTypeMap.get(arrM.get.group(1)).foreach { spark =>
              replaceWith(s"from_json($expr, 'array<$spark>')")
            }
          } else if (tupM.isDefined) {
            // CAST(string AS Tuple(T…)): strip the parens, parse CSV,
            // wrap each field to its declared width (UInt8 wraps mod
            // 256 — corpus 00358's (9, 231))
            val parts = splitTopLevel(tupM.get.group(1)).map(_.trim)
            if (parts.nonEmpty && parts.forall(castTypeMap.contains)) {
              val src =
                s"from_csv(regexp_replace($expr, '^\\\\(|\\\\)$$', ''), " +
                  s"'${parts.indices.map(i => s"c$i BIGINT").mkString(", ")}')"
              val fields = parts.zipWithIndex.map { case (p, i) =>
                val v = s"$src.c$i"
                val wrapped = p match {
                  case "UInt8" => s"pmod($v, 256)"
                  case "UInt16" => s"pmod($v, 65536)"
                  case "UInt32" => s"pmod($v, 4294967296)"
                  case "Int8" => s"(pmod($v + 128, 256) - 128)"
                  case "Int16" => s"(pmod($v + 32768, 65536) - 32768)"
                  case "Int32" => s"(pmod($v + 2147483648, 4294967296) - 2147483648)"
                  case _ => v
                }
                s"ch_type_tag(CAST($wrapped AS ${castTypeMap(p)}), '$p') AS c$i"
              }
              replaceWith(s"struct(${fields.mkString(", ")})")
            }
          }
        }
      }
    }
    q
  }

  private def rewriteEnumCasts(q0: String): String = {
    val lit = "'(?:[^'\\\\]|\\\\.)*'"
    def check(bits: Int, nameLit: String, body: String): String = {
      val d = graft.types.ChEnum.parseDef(bits, body)
      val name = nameLit.substring(1, nameLit.length - 1)
        .replace("\\'", "'").replace("\\\\", "\\")
      require(d.hasName(name),
        s"unknown Enum$bits name in CAST: '$name' (${d.typeName})")
      nameLit
    }
    var q = q0
    q = ("(?is)\\bCAST\\s*\\(\\s*(" + lit + ")\\s+AS\\s+Enum(8|16)\\s*" +
      "\\(([^()]*)\\)\\s*\\)").r.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(
        check(m.group(2).toInt, m.group(1), m.group(3))))
    q = ("(?is)\\bCAST\\s*\\(\\s*\\[\\s*(" + lit + "(?:\\s*,\\s*" + lit +
      ")*)\\s*\\]\\s+AS\\s+Array\\s*\\(\\s*Enum(8|16)\\s*\\(([^()]*)\\)\\s*\\)\\s*\\)")
      .r.replaceAllIn(q, m => {
        val bits = m.group(2).toInt
        val names = ("'(?:[^'\\\\]|\\\\.)*'").r.findAllIn(m.group(1)).toSeq
          .map(n => check(bits, n, m.group(3)))
        java.util.regex.Matcher.quoteReplacement(
          names.mkString("array(", ", ", ")"))
      })
    // NON-literal operand: runtime cast through the name map — a
    // string validates and passes as its name, a number decodes to
    // its name (DataTypeEnum castColumn; corpus 00298). The entry
    // list can't ride in SQL text (quoting), so it parks in a
    // registry keyed by id.
    q = ("(?is)\\bCAST\\s*\\(\\s*(.+?)\\s+AS\\s+Enum(8|16)\\s*" +
      "\\(([^()]*)\\)\\s*\\)").r.replaceAllIn(q, m => {
      val bits = m.group(2).toInt
      val id = enumCastIds.getAndIncrement()
      enumCastDefs.put(id, (bits, m.group(3)))
      java.util.regex.Matcher.quoteReplacement(
        s"ch_enum_cast(${m.group(1)}, $id)")
    })
    q
  }

  /** The per-query randConstant() value (see the fns entry). */
  private val randConstCache = new ThreadLocal[java.lang.Long]()

  /** Entry lists parked for ch_enum_cast (see rewriteEnumCasts). Ids
    * come from an atomic counter — size-based allocation collides
    * under concurrent translation and would silently resolve a cast
    * to the wrong Enum definition. */
  val enumCastDefs =
    scala.collection.concurrent.TrieMap[Int, (Int, String)]()
  private val enumCastIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `GROUP BY k1, k2 WITH TOTALS` → `GROUP BY GROUPING SETS
    * ((k1, k2), ())`, appending a hidden `grouping_id() AS __gid`
    * column to the select list so the renderer can split the totals
    * row (TotalsHavingBlockInputStream's side-channel row, rendered
    * after a blank line in TabSeparated).
    *
    * A WITH TOTALS inside a SUBQUERY rewrites within that subquery,
    * then the outer query decides the totals row's fate the way the
    * reference pipeline does (the totals block travels as a side
    * channel): an aggregating outer query consumes only main rows
    * (corpus 00152 `SELECT count() FROM (… WITH TOTALS)` = 1), while a
    * plain projection passes the totals row through (`SELECT *` shows
    * main, blank line, totals). */
  /** `WITH TOTALS` with no GROUP BY at its level gets a constant
    * group key injected — keyless totals are the totals of a
    * one-group aggregation (corpus 00257/00220). */
  private def injectKeylessTotalsGroup(q0: String): String = {
    val re = "(?is)\\bWITH\\s+TOTALS\\b".r
    re.findAllMatchIn(maskQuotes(q0)).toSeq.reverse.foldLeft(q0) { (acc, m) =>
      val d = depths(acc)
      val d0 = d(m.start)
      var j = m.start - 1
      while (j >= 0 &&
          !(d(j) < d0 || (d(j) == d0 && acc.charAt(j) == '('))) j -= 1
      val spanStart = j + 1
      val masked = maskQuotes(acc)
      val span = {
        val arr = masked.substring(spanStart, m.start).toCharArray
        var k = 0
        while (k < arr.length) {
          if (d(spanStart + k) != d0) arr(k) = ' '
          k += 1
        }
        new String(arr)
      }
      if ("(?i)\\bGROUP\\s+BY\\b".r.findFirstIn(span).isDefined) acc
      else acc.substring(0, m.start) + "GROUP BY '__kt' " + acc.substring(m.start)
    }
  }

  private def rewriteWithTotals(q: String): String = {
    val re = "(?is)\\bGROUP\\s+BY\\s+(.+?)\\s+WITH\\s+TOTALS".r
    re.findFirstMatchIn(q) match {
      case None => q
      case Some(m) if depths(q)(m.start) > 0 =>
        // enclosing subquery parens of the match
        val d = depths(q)
        val d0 = d(m.start)
        val open = (m.start to 0 by -1)
          .find(j => q.charAt(j) == '(' && d(j) == d0).get
        val close = (m.end until q.length)
          .find(j => q.charAt(j) == ')' && d(j) == d0 - 1).get
        val innerRw = rewriteWithTotals(q.substring(open + 1, close))
        // does the OUTER level aggregate over this FROM? (masked text:
        // subquery bodies blanked)
        val outerMasked = maskTop(q)
        val outerAggs = ("(?i)\\b(count|sum|min|max|avg|any|anyLast|uniq\\w*|" +
          "argMin|argMax|quantile\\w*|median\\w*|group(Array|UniqArray)|corr|" +
          "covar\\w*|var\\w+|stddev\\w*|topK|anyHeavy)\\s*\\(").r
          .findFirstIn(outerMasked).isDefined ||
          "(?i)\\bGROUP\\s+BY\\b".r.findFirstIn(outerMasked).isDefined
        val sub =
          if (outerAggs) s"(SELECT * FROM ($innerRw) WHERE __gid = 0)"
          else s"($innerRw)"
        // pass-through: the outer projection must carry the totals
        // marker so the renderer can split (corpus 00220 `SELECT x
        // FROM (… WITH TOTALS) LIMIT 1` prints main, blank, totals);
        // an outer `*` already propagates it
        val pre0 = q.substring(0, open)
        val outerBody = "(?is)\\bSELECT\\b(.*?)\\bFROM\\s*$".r
          .findFirstMatchIn(maskTop(pre0.trim))
        val q2 =
          if (outerAggs || outerBody.isEmpty ||
              outerBody.get.group(1).contains("*") ||
              outerBody.get.group(1).contains("__gid"))
            q.substring(0, open) + sub + q.substring(close + 1)
          else {
            val fromAt = pre0.length - "(?is)\\bFROM\\s*$".r
              .findFirstMatchIn(pre0).map(mm => pre0.length - mm.start)
              .getOrElse(0)
            if (fromAt <= 0 || fromAt >= pre0.length)
              q.substring(0, open) + sub + q.substring(close + 1)
            else pre0.substring(0, fromAt) + ", __gid " +
              pre0.substring(fromAt) + sub + q.substring(close + 1)
          }
        rewriteWithTotals(q2)
      case Some(m) =>
        val keys = m.group(1).trim
        var rewritten = q.substring(0, m.start) +
          s"GROUP BY GROUPING SETS (($keys), ())" + q.substring(m.end)
        // a top-level ORDER BY over a group key that's NOT a select
        // item can't resolve through GROUPING SETS in Spark — project
        // the key as a hidden `__sortN` column and sort on that; the
        // renderer drops `__sortN` columns (corpus 00285
        // `SELECT ignore(x), count() … GROUP BY x WITH TOTALS ORDER
        // BY x`)
        val keyNames = splitTopLevel(keys).map(_.trim)
          .filter(_.matches("[A-Za-z_]\\w*"))
        val itemNames = selectItems(q).map(_._1).toSet
        var hidden = Seq.empty[String]
        if (keyNames.nonEmpty) {
          val dR = depths(rewritten)
          "(?i)\\bORDER\\s+BY\\s+".r.findAllMatchIn(maskQuotes(rewritten)).toSeq
            .filter(om => dR(om.start) == 0).lastOption.foreach { om =>
              val obEnd = ("(?i)\\b(LIMIT|SETTINGS|FORMAT|UNION)\\b").r
                .findAllMatchIn(maskQuotes(rewritten))
                .map(_.start).find(_ > om.end)
                .getOrElse(rewritten.length)
              var clause = rewritten.substring(om.end, obEnd)
              keyNames.zipWithIndex.foreach { case (k, n) =>
                if (!itemNames.contains(k)) {
                  val pat = ("(?<![\\w.`'])" + java.util.regex.Pattern.quote(k) +
                    "(?![\\w(`'])").r
                  if (pat.findFirstIn(mapOutsideQuotes(clause)(identity)).isDefined) {
                    clause = mapOutsideQuotes(clause)(seg =>
                      pat.replaceAllIn(seg, s"__sort$n"))
                    hidden = hidden :+ s", $k AS __sort$n"
                  }
                }
              }
              rewritten = rewritten.substring(0, om.end) + clause +
                rewritten.substring(obEnd)
            }
        }
        // insert the marker before the first top-level FROM/GROUP
        val d = depths(rewritten)
        val up = rewritten.toUpperCase
        val fromIx = Iterator.from(0)
          .map(i => up.indexOf(" FROM ", i))
          .takeWhile(_ >= 0)
          .find(i => d(i) == 0)
        val groupIx = Iterator.from(0)
          .map(i => up.indexOf(" GROUP ", i))
          .takeWhile(_ >= 0)
          .find(i => d(i) == 0)
        val at = (fromIx, groupIx) match {
          case (Some(f), Some(g)) => math.min(f, g)
          case (Some(f), None) => f
          case (None, Some(g)) => g
          case _ => rewritten.length
        }
        rewritten.substring(0, at) + ", grouping_id() AS __gid" +
          hidden.mkString + rewritten.substring(at)
    }
  }

  /** CH `cond ? a : b` → `if(cond, a, b)`. The expression's extent:
    * cond reaches back to the nearest same-depth boundary (enclosing
    * '(', a same-depth ',', or a keyword like SELECT/WHERE/THEN); the
    * else-branch reaches forward to the matching same-depth boundary
    * (enclosing ')', ',', or AS/FROM/GROUP/…). Applied repeatedly,
    * innermost-'?'-first, until no ternary remains. */
  private def ternaryToIf(q0: String): String = {
    // greedy .* ⇒ group(1) is the LAST keyword before the '?'
    val leftKw = "(?is).*\\b(SELECT|WHERE|HAVING|THEN|WHEN|ELSE|ON|BY|AND|OR)\\b".r
    val rightKw = Seq("AS", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT",
      "FORMAT", "UNION", "HAVING", "SETTINGS")
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      val d = depths(q)
      var inQ = false
      var i = 0
      while (i < q.length && !changed) {
        val c = q.charAt(i)
        if (c == '\'') inQ = !inQ
        else if (!inQ && c == '?') {
          val d0 = d(i)
          // LEFT boundary: nearest same-depth ',', enclosing '(', or
          // keyword end before the condition
          var start = 0
          var j = i - 1
          var stop = false
          while (j >= 0 && !stop) {
            if (d(j) < d0) {
              // j is just before the enclosing '(' (the paren itself
              // carries the inner depth) — skip past it
              start = j + 2; stop = true
            }
            else if (d(j) == d0 && q.charAt(j) == ',') {
              start = j + 1; stop = true
            }
            else if (d(j) == d0 && q.charAt(j) == '>' && j > 0 &&
              q.charAt(j - 1) == '-') {
              // lambda arrow: `x -> cond ? a : b` — cond starts after it
              start = j + 1; stop = true
            } else j -= 1
          }
          if (!stop && d0 > 0 && start < q.length &&
            (q.charAt(start) == '(' || q.charAt(start) == '[')) start += 1
          // tighten: a trailing keyword inside [start, i) shifts start.
          // Search on a depth-masked view — a keyword INSIDE a
          // parenthesized subquery condition belongs to the condition
          // (`(SELECT … LIMIT 1) ? a : b`, corpus 00393)
          val segMasked = {
            val arr = q.substring(start, i).toCharArray
            var k2 = 0
            while (k2 < arr.length) {
              if (d(start + k2) != d0) arr(k2) = ' '
              k2 += 1
            }
            new String(arr)
          }
          leftKw.findFirstMatchIn(segMasked) match {
            case Some(m) => start = start + m.end(1)
            case None =>
          }
          // RIGHT: same-depth ':' then the else-branch end
          var colon = -1
          var end = q.length
          var k = i + 1
          var inQ3 = false
          var done = false
          while (k < q.length && !done) {
            val ch = q.charAt(k)
            if (ch == '\'') inQ3 = !inQ3
            else if (!inQ3 && d(k) < d0) { end = k; done = true }
            else if (!inQ3 && d(k) == d0) {
              if (colon < 0 && ch == ':') colon = k
              else if (colon >= 0 && ch == ',') { end = k; done = true }
              else if (colon >= 0 && ch == ' ') {
                val rest = q.substring(k + 1)
                if (rightKw.exists(kw => rest.regionMatches(true, 0, kw, 0, kw.length) &&
                  (rest.length == kw.length || !rest.charAt(kw.length).isLetterOrDigit))) {
                  end = k; done = true
                }
              }
            }
            if (!done) k += 1
          }
          if (colon > i) {
            val cond = q.substring(start, i).trim
            val a = q.substring(i + 1, colon).trim
            val b = q.substring(colon, end).substring(1).trim
            if (cond.nonEmpty && a.nonEmpty && b.nonEmpty) {
              val pre = q.substring(0, start)
              val sep = if (pre.nonEmpty && pre.last.isLetterOrDigit) " " else ""
              // literal condition folds TEXTUALLY — the reference
              // folds before resolution, so the dead branch may name
              // columns that don't exist
              val folded =
                if (cond.matches("\\d+"))
                  if (cond.toLong != 0L) a else b
                else s"if($cond, $a, $b)"
              q = pre + sep + folded + q.substring(end)
              changed = true
            }
          }
        }
        i += 1
      }
    }
    q
  }

  /** `PREWHERE p [WHERE q]` → `WHERE (p) AND (q)` / `WHERE p`. */
  private def mergePrewhere(q: String): String = {
    val both = ("(?is)\\bPREWHERE\\s+(.+?)\\s+WHERE\\s+(.+?)" +
      "(?=\\s+(?:GROUP\\s+BY|ORDER\\s+BY|LIMIT|HAVING|UNION|SETTINGS|FORMAT)\\b|\\s*$)").r
    both.findFirstMatchIn(q) match {
      case Some(m) =>
        q.substring(0, m.start) +
          s"WHERE (${m.group(1).trim}) AND (${m.group(2).trim})" +
          q.substring(m.end)
      case None => q.replaceAll("(?i)\\bPREWHERE\\b", "WHERE")
    }
  }

  /** Apply `f` to the parts of `sql` OUTSIDE single-quoted string
    * literals — structural rewrites must never touch data values. */
  /** Duplicate output names inside FROM/JOIN subqueries collapse to
    * the FIRST occurrence — the reference interprets a subquery as a
    * table, whose NamesAndTypes are unique, and later same-name items
    * (`SELECT 1 AS x, 2 AS y, x, y`, `2 AS b, 2 AS b`) resolve to the
    * first (corpus 00217/00225/00370). The TOP-level list keeps its
    * duplicates (they print twice), and IN-subqueries keep full arity
    * (a tuple matches positionally), so only FROM/JOIN seats rewrite.
    */
  private[sql] def dedupSubqueryColumns(q: String): String = {
    val clauseRe = ("(?i)\\b(FROM|WHERE|PREWHERE|GROUP|HAVING|ORDER|LIMIT|" +
      "ARRAY|UNION|SETTINGS|FORMAT|WITH)\\b").r
    def itemName(it: String): String =
      "(?i)\\sAS\\s+`?([\\w.]+)`?\\s*$".r.findFirstMatchIn(maskTop(it)) match {
        case Some(m) => m.group(1)
        case None => it.trim
      }
    def dedupeOwnList(sel0: String): String = {
      val sel = sel0.trim
      if (!sel.take(6).equalsIgnoreCase("SELECT")) return sel0
      val top = maskTop(sel)
      val end = clauseRe.findFirstMatchIn(top).map(_.start).getOrElse(sel.length)
      var body = sel.substring(6, end)
      val lead = new StringBuilder("SELECT")
      val bodyTrim = body.trim
      if (bodyTrim.toUpperCase.startsWith("DISTINCT ")) {
        lead.append(" DISTINCT")
        body = bodyTrim.substring("DISTINCT ".length)
      }
      val items = splitTopLevel(body)
      val seen = scala.collection.mutable.HashSet[String]()
      val kept = items.filter(it => seen.add(itemName(it)))
      if (kept.length == items.length) sel0
      else lead.append(" ").append(kept.mkString(", ")).append(" ")
        .append(sel.substring(end)).toString
    }
    def recurse(text: String, dedupeTop: Boolean): String = {
      val masked = maskQuotes(text)
      val subRe = "(?i)\\b(FROM|JOIN)\\s*\\(".r
      // rebuild right-to-left so earlier offsets stay valid
      val spans = subRe.findAllMatchIn(masked).flatMap { m =>
        val kw = m.group(1).toUpperCase
        val before = masked.substring(0, m.start).reverse.dropWhile(_.isWhitespace)
        val isArrayJoin = kw == "JOIN" &&
          before.take(5).reverse.equalsIgnoreCase("ARRAY")
        val open = m.end - 1
        val ahead = masked.substring(open + 1).dropWhile(_.isWhitespace)
        if (isArrayJoin || !ahead.take(6).equalsIgnoreCase("SELECT")) None
        else {
          var depth = 0
          var close = -1
          var i = open
          while (close < 0 && i < masked.length) {
            masked(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) close = i
              case _ =>
            }
            i += 1
          }
          if (close < 0) None else Some((open, close))
        }
      }.toSeq
      // nested spans are handled by the recursion on their enclosing
      // span — only top-level spans rewrite here (offsets stay valid
      // replacing right-to-left over disjoint spans)
      val topSpans = spans.filterNot { case (o, c) =>
        spans.exists { case (o2, c2) => o2 < o && c <= c2 } }
      var out = text
      topSpans.sortBy(-_._1).foreach { case (open, close) =>
        val inner = out.substring(open + 1, close)
        out = out.substring(0, open + 1) + recurse(inner, dedupeTop = true) +
          out.substring(close)
      }
      if (dedupeTop) dedupeOwnList(out) else out
    }
    recurse(q, dedupeTop = false)
  }

  /** Blank quoted text only — parens stay visible and offsets are
    * kept, so regex matches on the mask index into the original. */
  private[graft] def maskQuotes(s: String): String = {
    val out = s.toCharArray
    var inQ = false
    var esc = false
    s.indices.foreach { i =>
      val c = s(i)
      if (inQ) {
        out(i) = ' '
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '\'') inQ = false
      } else if (c == '\'') { inQ = true; out(i) = ' ' }
    }
    new String(out)
  }

  private[sql] def mapOutsideQuotes(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var inQ = false
    sql.foreach { c =>
      if (c == '\'') {
        if (!inQ) { out.append(f(seg.toString)); seg.clear() }
        out.append(c)
        inQ = !inQ
      } else if (inQ) out.append(c)
      else seg.append(c)
    }
    out.append(f(seg.toString))
    out.toString
  }

  /** `ARRAY JOIN e1 AS a1, e2 AS a2, …` (clause at statement end):
    * `LATERAL VIEW posexplode(e1) __aj AS __ajpos, a1`, and each
    * further alias ak is textually replaced by
    * `charrayelement(ek, __ajpos + 1)` — same offsets, so the unnest
    * is lockstep like the reference's shared-offset Nested columns. */
  /** JOIN … USING resolution quirks of the reference dialect
    * (ExpressionAnalyzer.cpp name resolution):
    *  - `*` after a USING join expands to the LEFT (main) table's
    *    columns only, not the joined width;
    *  - a USING column may name an alias defined in the OUTER select
    *    list (`number/2 AS n … USING (n)` joins on the computed
    *    value) — Spark resolves USING against the table sides, so
    *    the alias is injected into the left side;
    *  - a bare column present on BOTH sides (and not in USING)
    *    resolves to the left table — Spark calls it ambiguous, so
    *    such refs are qualified to the aliased left side.
    * Only the single-top-level-JOIN shape is rewritten (the corpus
    * shape); anything else passes through untouched.
    */
  private def rewriteUsingJoin(q: String): String = {
    if (!q.toUpperCase.startsWith("SELECT")) return q
    val d = depths(q)
    def topMatches(pat: String): List[scala.util.matching.Regex.Match] =
      ("(?i)" + pat).r.findAllMatchIn(q).filter(m => d(m.start) == 0).toList
    val joins = topMatches("\\bJOIN\\b")
    if (joins.size != 1) return q
    val joinM = joins.head
    val usings = topMatches("\\bUSING\\s*\\(").filter(_.start > joinM.end)
    if (usings.isEmpty) return q
    val usingM = usings.head
    val froms = topMatches("\\bFROM\\b").filter(_.start < joinM.start)
    if (froms.isEmpty) return q
    val fromM = froms.head

    var sel = q.substring("SELECT".length, fromM.start)
    // left operand, peeling trailing join-type keywords
    var leftSeg = q.substring(fromM.end, joinM.start)
    val jtWords = new StringBuilder
    val kw = "(?is)\\s+(LEFT|RIGHT|INNER|FULL|OUTER|CROSS|ANY|ALL|GLOBAL|ASOF)\\s*$".r
    var km = kw.findFirstMatchIn(leftSeg)
    while (km.isDefined) {
      jtWords.insert(0, km.get.group(1) + " ")
      leftSeg = leftSeg.substring(0, km.get.start)
      km = kw.findFirstMatchIn(leftSeg)
    }
    var left = leftSeg.trim
    var right = q.substring(joinM.end, usingM.start).trim
    // USING (...) column list
    val openIdx = usingM.end - 1
    var depth = 0
    var close = openIdx
    while (close < q.length && { if (q.charAt(close) == '(') depth += 1
      else if (q.charAt(close) == ')') depth -= 1; depth != 0 }) close += 1
    val usingCols = splitTopLevel(q.substring(openIdx + 1, close))
      .map(_.trim.replace("`", ""))
    var rest = q.substring(close + 1)

    /** Output column names of a parenthesized subquery (first branch
      * of a UNION); None when not statically known. */
    def colsOf(op: String): Option[Seq[String]] = {
      var t = op.trim
      // peel a trailing operand alias: `(SELECT …) AS x`
      "(?is)^(.*\\))\\s*(?:AS\\s+)?`?\\w+`?$".r.findFirstMatchIn(t)
        .foreach(m => t = m.group(1).trim)
      if (!t.startsWith("(") || !t.endsWith(")")) return None
      val inner = t.substring(1, t.length - 1).trim
      if (!inner.toUpperCase.startsWith("SELECT")) return None
      val di = depths(inner)
      val stop = "(?i)\\bFROM\\b|\\bUNION\\b".r.findAllMatchIn(inner)
        .find(m => di(m.start) == 0).map(_.start).getOrElse(inner.length)
      val items = splitTopLevel(inner.substring("SELECT".length, stop))
      val aliasRe = "(?is)\\s+AS\\s+`?([A-Za-z_]\\w*)`?\\s*$".r
      val bare = "^`?([A-Za-z_]\\w*)`?$".r
      Some(items.flatMap { it =>
        aliasRe.findFirstMatchIn(it).map(_.group(1)).orElse(it.trim match {
          case bare(n) => Some(n)
          case _ => None
        })
      })
    }

    /** Known columns of a PLAIN TABLE operand (`system.one AS x`,
      * a dialect-catalog table) — corpus 00138 joins USING a key
      * that only exists as an outer-select alias over a table. */
    def colsOfTableRef(op: String): Option[Seq[String]] = {
      val m = "^([\\w.]+?)(?:\\s+(?:[Aa][Ss]\\s+)?(\\w+))?$".r
        .findFirstMatchIn(op.trim.replace("`", ""))
      m.flatMap { mm =>
        val name = mm.group(1)
        if (name.equalsIgnoreCase("system.one")) Some(Seq("dummy"))
        else ChDdl.tableColumns(name)
      }
    }

    // RIGHT/FULL outer: a build-side row with a NULL key never enters
    // the reference's join hash table (Interpreters/Join.cpp insertFromBlock
    // skips null keys), so it is absent from the non-joined output —
    // where Spark would preserve it with default-filled left columns.
    // Pre-filter the right operand on key non-nullness (corpus 00445).
    var leftCols = colsOf(left).orElse(colsOfTableRef(left))
    val rightCols = colsOf(right)
    if ("(?i)\\b(RIGHT|FULL)\\b".r.findFirstIn(jtWords.toString).isDefined) {
      val nn = usingCols.map(c => s"$c IS NOT NULL").mkString(" AND ")
      right = s"(SELECT * FROM $right AS __jnk WHERE $nn)"
    }
    val selItems = splitTopLevel(sel)

    // (1) USING key defined as an outer-select alias → inject into left
    usingCols.foreach { uc =>
      if (leftCols.exists(cs => !cs.contains(uc))) {
        val aliasDef = selItems.find(it =>
          ("(?is)\\s+AS\\s+`?" + java.util.regex.Pattern.quote(uc) + "`?\\s*$").r
            .findFirstIn(it).isDefined)
        aliasDef.foreach { item =>
          left = s"(SELECT *, ${item.trim} FROM $left)"
          leftCols = leftCols.map(_ :+ uc)
        }
      }
    }

    // (2) `*` expands to the left table's columns
    if (leftCols.isDefined && selItems.exists(_.trim == "*")) {
      val expanded = selItems.map(it =>
        if (it.trim == "*") leftCols.get.mkString(", ") else it)
      sel = " " + expanded.mkString(", ") + " "
    }

    // (3) both-sides columns resolve left → qualify via side aliases
    val dups = (for { lc <- leftCols; rc <- rightCols }
      yield lc.intersect(rc).filterNot(usingCols.contains)).getOrElse(Seq.empty)
    var leftOut = left
    var rightOut = right
    if (dups.nonEmpty) {
      val referenced = dups.filter { c =>
        val pat = ("(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(c) + "(?![\\w.`])").r
        pat.findFirstIn(sel).isDefined || pat.findFirstIn(rest).isDefined
      }
      if (referenced.nonEmpty) {
        leftOut = s"$left __jl"
        rightOut = s"$right __jr"
        referenced.foreach { c =>
          val pat = ("(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(c) + "(?![\\w.`])").r
          sel = mapOutsideQuotes(sel)(seg => pat.replaceAllIn(seg, s"__jl.$c"))
          rest = mapOutsideQuotes(rest)(seg => pat.replaceAllIn(seg, s"__jl.$c"))
        }
      }
    }

    s"SELECT $sel FROM $leftOut ${jtWords.toString}JOIN $rightOut USING (${usingCols.mkString(", ")})$rest"
  }

  private def rewriteMultiArrayJoin(q: String): String = {
    // the clause runs to end-of-query or to the next top-level clause
    // keyword (WHERE/GROUP/ORDER/…) — `ARRAY JOIN a AS x, f(a) AS n
    // ORDER BY x` must not swallow the ORDER BY. Items are
    // `expr [AS alias]`, mixed freely (ExpressionAnalyzer
    // getArrayJoinedColumns): an UNALIASED column is REPLACED
    // query-wide by its element; an aliased one keeps the original
    // array and the alias names the element (corpus 00261). All
    // items unnest in LOCKSTEP (shared offsets) — posexplode the
    // first, positional access for the rest.
    val re = ("(?is)\\b(LEFT\\s+)?ARRAY\\s+JOIN\\s+(.+?)" +
      "(?=\\s(?:WHERE|GROUP|ORDER|HAVING|LIMIT|SETTINGS)\\b|$)").r
    // match on the QUOTE-MASKED text ('… array join …' inside a
    // string literal must not trigger the rewrite), then cut the
    // original by the mask's offsets (same length)
    val m = re.findFirstMatchIn(maskQuotes(q)).getOrElse(return q)
    val itemsRaw = splitTopLevel(
      q.substring(m.start(2), m.end(2))).map(_.trim).filter(_.nonEmpty)
    if (itemsRaw.length < 2) return q // single-item passes handle it
    val left = m.group(1) != null
    val items = itemsRaw.map { it =>
      "(?is)^(.+)\\s+AS\\s+`?([\\w.]+)`?\\s*$".r.findFirstMatchIn(it) match {
        case Some(am) => (am.group(1).trim, Some(am.group(2)))
        case None => (it, None)
      }
    }
    val bareCol = "^`?[A-Za-z_][\\w.]*`?$"
    val (e1, a1opt) = items.head
    // `col AS col` is the unaliased replace semantics, and the alias
    // would collide with the source column — treat as bare
    val selfAliased1 =
      e1.matches(bareCol) && a1opt.contains(e1.replace("`", ""))
    val name1 =
      if (selfAliased1) "__ajx_" + e1.replaceAll("[^A-Za-z0-9_]", "_")
      else a1opt.getOrElse("__ajx_" + e1.replaceAll("[^A-Za-z0-9_]", "_"))
    var body = q.substring(0, m.start)
    var rest = q.substring(m.end)
    def subst(pat: scala.util.matching.Regex, repl: String): Unit = {
      // quote the replacement ($ or \ in exprs would corrupt it);
      // never touch string literals
      val r = java.util.regex.Matcher.quoteReplacement(repl)
      body = mapOutsideQuotes(body)(seg => pat.replaceAllIn(seg, r))
      rest = mapOutsideQuotes(rest)(seg => pat.replaceAllIn(seg, r))
    }
    def barePat(name: String) =
      ("(?<![\\w.`])" + java.util.regex.Pattern.quote(name) + "(?![\\w.`(])").r
    items.tail.foreach { case (ek, akOpt) =>
      val elem = s"charrayelement($ek, __ajpos + 1)"
      akOpt match {
        case Some(ak) => subst(("\\b" +
          java.util.regex.Pattern.quote(ak) + "\\b").r, elem)
        case None if ek.matches(bareCol) =>
          subst(barePat(ek.replace("`", "")), elem)
        case None => // unaliased non-column expr: nothing can name it
      }
    }
    if ((a1opt.isEmpty || selfAliased1) && e1.matches(bareCol))
      subst(barePat(e1.replace("`", "")), name1)
    val src = if (left) s"emptyArrayToSingle($e1)" else e1
    body + s" LATERAL VIEW posexplode($src) __aj AS __ajpos, $name1 " + rest
  }

  /** CH parameterized-aggregate call `fn(p1,…)(a1,…)` → `fn(a1,…,
    * p1,…)` — parameters appended as trailing (foldable) arguments so
    * a plain function builder can dispatch on them. Applies to the
    * families that take parameters in the reference
    * (AggregateFunctionFactory.cpp parameter parsing); parameters are
    * literal lists, never nested calls. */
  private val paramCallRe =
    ("(?i)\\b(quantiles?[A-Za-z]*|medians?[A-Za-z]*|groupArray|groupUniqArray|" +
      "topK|uniqUpTo)\\s*\\(([^()]*)\\)\\s*\\(").r

  private def flattenParamCalls(q: String): String = {
    var s = q
    var go = true
    while (go) {
      paramCallRe.findFirstMatchIn(s) match {
        case None => go = false
        case Some(m) =>
          val argsStart = m.end
          var depth = 1; var i = argsStart; var inQ = false
          while (i < s.length && depth > 0) {
            val c = s.charAt(i)
            if (c == '\'') inQ = !inQ
            else if (!inQ && c == '(') depth += 1
            else if (!inQ && c == ')') depth -= 1
            i += 1
          }
          val args = s.substring(argsStart, i - 1)
          val params = m.group(2).trim
          val sep = if (args.trim.isEmpty || params.isEmpty) "" else ", "
          s = s.substring(0, m.start) + m.group(1) + "(" + args + sep + params + ")" +
            s.substring(i)
      }
    }
    s
  }

  /** Split on top-level commas (nesting- and quote-aware). */
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false
    val cur = new StringBuilder
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case c@('(' | '[') if !inQuote => depth += 1; cur += c
      case c@(')' | ']') if !inQuote => depth -= 1; cur += c
      case ',' if depth == 0 && !inQuote => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Split a multi-statement test file into executable SELECTs,
    * dropping SET statements and empty fragments. */
  // SET statements stay in the list: ChDdl.execute applies the ones
  // the engine models (join_use_nulls) and ignores the rest
  def statements(file: String): Seq[String] = {
    // split on ';' OUTSIDE string literals ('Hello;%' is data —
    // corpus 00319) — CH escaping: \' stays inside the literal
    val s = stripComments(file)
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var esc = false
    s.foreach { c =>
      if (inQ) {
        cur += c
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '\'') inQ = false
      } else if (c == '\'') { inQ = true; cur += c }
      else if (c == ';') { out += cur.toString; cur.clear() }
      else cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def stripComments(s: String): String = {
    val noBlock = s.replaceAll("(?s)/\\*.*?\\*/", " ")
    noBlock.linesIterator.map { l =>
      // strip -- comments only outside string literals
      var inQuote = false
      var cut = l.length
      var i = 0
      while (i < l.length - 1 && cut == l.length) {
        if (l(i) == '\'') inQuote = !inQuote
        else if (!inQuote && l(i) == '-' && l(i + 1) == '-') cut = i
        i += 1
      }
      l.substring(0, cut)
    }.mkString("\n")
  }

  private val keywords = Set(
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "AS", "BY", "ON",
    "THEN", "ELSE", "WHEN", "CASE", "FROM", "JOIN", "USING", "HAVING",
    "LIMIT", "OFFSET", "UNION", "ALL", "DISTINCT", "GROUP", "ORDER",
    "RETURN", "IF", "ARRAY")

  /** `[1,2]` → `array(1,2)` (nested too); indexing brackets become
    * `charrayelement(base, idx)` — the reference's 1-based /
    * negative-from-end / default-on-out-of-range element access
    * ([[graft.functions.ChArrayElement]]; Spark's own `[]` is
    * 0-based). String literals untouched. A bracket is indexing only
    * when the preceding token is a non-keyword identifier, `)` or a
    * prior index result. */
  /** CH tuple element access: `tuple.N` / `(expr).N` / `arr[i].N`,
    * 1-based (ExpressionListParsers tuple-element operator). Wraps
    * the base in `tupleelement(base, N)` — a registered builder that
    * picks the struct field by ordinal, so it works on both `_N`- and
    * `colN`-named structs. A digit before the dot means a decimal
    * literal and is left alone. */
  private[sql] def tupleElementAccess(q: String): String = {
    val out = new StringBuilder
    var inString = false
    var i = 0
    def baseStart: Int = {
      var j = out.length - 1
      while (j >= 0 && out(j).isWhitespace) j -= 1
      if (j < 0) return 0
      if (out(j) == ')') {
        var depth = 0
        while (j >= 0) {
          if (out(j) == ')') depth += 1
          else if (out(j) == '(') {
            depth -= 1
            if (depth == 0) {
              j -= 1
              while (j >= 0 && (out(j).isLetterOrDigit || out(j) == '_')) j -= 1
              return j + 1
            }
          }
          j -= 1
        }
        0
      } else {
        while (j >= 0 && (out(j).isLetterOrDigit || out(j) == '_' || out(j) == '`')) j -= 1
        j + 1
      }
    }
    while (i < q.length) {
      val c = q(i)
      if (inString) { out += c; if (c == '\'') inString = false }
      else if (c == '\'') { inString = true; out += c }
      else if (c == '.' && i + 1 < q.length && q(i + 1).isDigit && out.nonEmpty &&
        (out.last == ')' || out.last == '`' || out.last == '_' || out.last.isLetter)) {
        var j = i + 1
        while (j < q.length && q(j).isDigit) j += 1
        // a following letter (e.g. `.1e3`) means not an index; a
        // following '.' is a CHAINED access (`t.1.2`) and stays one
        if (j < q.length && q(j).isLetter) {
          out += c
        } else {
          val n = q.substring(i + 1, j)
          out.insert(baseStart, "tupleelement(")
          out ++= s", $n)"
          i = j - 1
        }
      } else out += c
      i += 1
    }
    out.toString
  }

  /** Scalar-expression subset of [[translate]] for dialect text
    * evaluated OUTSIDE a SELECT (DEFAULT/ALIAS column expressions):
    * array literals, hex integers, ternaries, single-param
    * parenthesized lambdas, Float64 literal typing (corpus 00261:
    * `array default ['zero','one','two']`). */
  private[sql] def translateScalarExpr(e0: String): String = {
    var e = bracketLiteralsToArray(e0)
    e = mapOutsideQuotes(e)(seg =>
      "(?i)\\b0x([0-9a-f]+)\\b".r.replaceAllIn(seg,
        m => java.lang.Long.parseUnsignedLong(m.group(1), 16).toString))
    e = mapOutsideQuotes(e)(seg =>
      seg.replaceAll("\\(\\s*(\\w+)\\s*\\)\\s*->", "$1 ->"))
    e = ternaryToIf(e)
    mapOutsideQuotes(e)(seg =>
      seg.replaceAll("(?<![\\w.])(\\d+\\.\\d+)(?![\\w.])", "$1D"))
  }

  private[sql] def bracketLiteralsToArray(q: String): String = {
    val out = new StringBuilder
    val stack = scala.collection.mutable.Stack[Boolean]() // true = literal bracket
    var inString = false
    var i = 0
    def prevTokenIsValue: Boolean = {
      var j = out.length - 1
      while (j >= 0 && out(j).isWhitespace) j -= 1
      if (j < 0) return false
      val c = out(j)
      if (c == ')') return true
      if (!c.isLetterOrDigit && c != '_' && c != '.') return false
      val end = j
      while (j >= 0 && (out(j).isLetterOrDigit || out(j) == '_' || out(j) == '.')) j -= 1
      val tok = out.substring(j + 1, end + 1).toUpperCase
      !keywords.contains(tok)
    }
    /** Start offset of the base expression ending at out's tail. */
    def baseStart: Int = {
      var j = out.length - 1
      while (j >= 0 && out(j).isWhitespace) j -= 1
      if (j < 0) return 0
      if (out(j) == ')') {
        var depth = 0
        while (j >= 0) {
          if (out(j) == ')') depth += 1
          else if (out(j) == '(') {
            depth -= 1
            if (depth == 0) {
              // include a function name directly before the parens
              j -= 1
              while (j >= 0 && (out(j).isLetterOrDigit || out(j) == '_')) j -= 1
              return j + 1
            }
          }
          j -= 1
        }
        0
      } else {
        while (j >= 0 && (out(j).isLetterOrDigit || out(j) == '_' || out(j) == '.')) j -= 1
        j + 1
      }
    }
    while (i < q.length) {
      val c = q(i)
      if (inString) { out += c; if (c == '\'') inString = false }
      else c match {
        case '\'' => inString = true; out += c
        case '[' =>
          if (prevTokenIsValue) {
            out.insert(baseStart, "charrayelement(")
            out ++= ", "
            stack.push(false)
          } else {
            stack.push(true)
            out ++= "array("
          }
        case ']' =>
          if (stack.nonEmpty) stack.pop()
          out ++= ")"
        case _ => out += c
      }
      i += 1
    }
    out.toString
  }

  // ------------------------------------------------------------------
  // CH-named functions
  // ------------------------------------------------------------------

  /** CH numeric conversions WRAP on overflow (reinterpret-style
    * truncation, e.g. toInt32(3584912846) < 0) — LEGACY cast, not the
    * ANSI error. */
  /** round/ceil/floor with CH semantics: bankers' rounding for
    * round(), Int-folded scale, and integer truncation under a
    * negative scale (FunctionsRound.h). */
  /** Strip ChTypeTag markers for foldability checks/eval — a tagged
    * literal (toUInt8(6)) is still a literal argument. */
  private def untag(e: Expression): Expression = e match {
    case graft.functions.ChTypeTag(c, _) => untag(c)
    case _ => e
  }

  private def chRound(kind: String): Seq[Expression] => Expression = { args =>
    // the scale keeps its FLOAT value for the NullScale cutoff —
    // `round(toUInt8(13), -2.1)` compares -2.1 < -digits10 BEFORE
    // truncating for the power-of-10 index (ScaleForRightType signed
    // branch; 00161 lines 61-62)
    val (x, sD) = args match {
      case Seq(x0) => (x0, 0d)
      case Seq(x0, s0) if untag(s0).foldable => (x0, evalD(untag(s0)))
      case other => throw new IllegalArgumentException(
        s"$kind(x[, scale literal]) expected, got $other")
    }
    val s = sD.toInt
    // the DECLARED width decides the NullScale cutoff
    // (std::numeric_limits<T>::digits10); a ChTypeTag recovers it
    // where Spark's storage type widened (toUInt8 → IntegerType)
    val tagDigits = x match {
      case graft.functions.ChTypeTag(_, n) =>
        Map("UInt8" -> 2, "Int8" -> 2, "UInt16" -> 4, "Int16" -> 4,
          "UInt32" -> 9, "Int32" -> 9, "UInt64" -> 19, "Int64" -> 18)
          .get(graft.types.ChTypeInfer.parse(n).base)
      case _ => None
    }
    val digits10 = tagDigits.orElse(if (x.resolved) x.dataType match {
      case ByteType => Some(2)
      case ShortType => Some(4)
      case IntegerType => Some(9)
      case LongType => Some(18)
      case _ => None
    } else None)
    // float x (or not-yet-typed x) with a negative scale: the
    // reference's magnitude algorithm over doubles (roundNegScale);
    // resolved-integer x keeps the exact integer arithmetic below
    if (sD < 0 && digits10.isEmpty) {
      val mode = kind match {
        case "round" => 0
        case "floor" => 1
        case _ => 2
      }
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[graft.functions.MathKernels.type], DoubleType, "roundNegScale",
        Seq(Cast(x, DoubleType), Literal(math.pow(10, -s)), Literal(mode)),
        Seq(DoubleType, DoubleType, IntegerType), returnNullable = false)
    } else if (sD < 0 && digits10.isDefined) {
      // integer NegativeScale path (FunctionsRound.h
      // IntegerRoundingComputation): work on |x|, then re-sign;
      // ceil adds the divisor unconditionally (the reference's
      // exact arithmetic, golden-pinned by 00161). Past the type's
      // digit count the result is the fixed zero (NullScale).
      if (sD < -digits10.get) Cast(Literal(0L), x.dataType)
      else {
        val p = Literal(math.pow(10, -s).toLong)
        val xL = Cast(x, LongType)
        val neg = LessThan(xL, Literal(0L))
        val ax = If(neg, UnaryMinus(xL), xL)
        val rem = Remainder(ax, p)
        val base = Subtract(ax, rem)
        val res0 = kind match {
          case "round" =>
            If(LessThan(Multiply(rem, Literal(2L)), p), base, Add(base, p))
          case "ceil" => Add(base, p)
          case "floor" => base
        }
        If(neg, UnaryMinus(res0), res0)
      }
    } else kind match {
      case "round" if s > 0 => graft.functions.ChRoundPositive(x, s)
      case "round" => org.apache.spark.sql.catalyst.expressions.BRound(x, Literal(s))
      case "ceil" => org.apache.spark.sql.catalyst.expressions.RoundCeil(x, Literal(s))
      case "floor" => org.apache.spark.sql.catalyst.expressions.RoundFloor(x, Literal(s))
    }
  }

  /** `x -> x != 0` for the no-lambda higher-order forms; the variable
    * binds during HOF resolution. */
  /** CH byte-based position: locate at code-point granularity, then
    * report 1 + octet length of the preceding prefix (PositionImpl
    * searches raw bytes; a valid-UTF-8 needle can only match on a
    * character boundary, so the first char match IS the first byte
    * match). 0 stays 0 (not found). */
  private def bytePosition(h: Expression, n: Expression): Expression = {
    val p = new StringLocate(n, h)
    CaseWhen(Seq((EqualTo(p, Literal(0)): Expression, Literal(0): Expression)),
      Some(Add(OctetLength(Substring(h, Literal(1), Subtract(p, Literal(1)))),
        Literal(1))))
  }

  /** CH byte-based substring: 1-based byte offset, clamped length
    * (SubstringImpl). 2-arg form takes the rest of the string. */
  private def byteSubstring(args: Seq[Expression]): Expression = {
    val (str, pos, len) = args match {
      case Seq(s, p) => (s, p, Literal(Long.MaxValue))
      case Seq(s, p, l) => (s, p, l)
      case other => throw new IllegalArgumentException(
        s"substring expects 2 or 3 arguments, got ${other.length}")
    }
    // LongType casts: an Int cast would silently truncate a 64-bit
    // start/len (substring(s, 4294967297, 2) must clamp, not wrap).
    // ANSI casts, not LEGACY: a value past Int64 range (a UInt64
    // literal >= 2^63) must RAISE — the reference rejects it with
    // ARGUMENT_OUT_OF_BOUND "Too large values" (FunctionsString
    // .cpp:1413) — where a LEGACY cast would null it out and the
    // substring would silently return NULL.
    def toLong(e: Expression): Expression =
      if (e.dataType == LongType) e
      else Cast(e, LongType, None, EvalMode.ANSI)
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[graft.functions.StringKernels.type], StringType,
      "byteSubstring",
      Seq(str, toLong(pos), toLong(len)))
  }

  /** Fold `if(0, a, b)` → `b` and `if(1, a, b)` → `a` textually (see
    * the call site). Innermost-first via repetition; args split on
    * depth-0 commas inside the call. */
  private def foldConstIf(q0: String): String = {
    var q = q0
    var changed = true
    var rounds = 0
    while (changed && rounds < 20) {
      changed = false
      rounds += 1
      val m = "(?i)\\bif\\s*\\(\\s*([01])\\s*,".r.findFirstMatchIn(maskQuotes(q))
      m.foreach { mm =>
        // find the matching close paren and the two arg boundaries
        var depth = 1
        var i = mm.end
        var commaAt = -1
        var inQ = false
        var close = -1
        // bracket depth counts too — `[1,2]` array literals hold
        // commas that are NOT the arg separator
        while (i < q.length && close < 0) {
          val c = q.charAt(i)
          if (c == '\'') inQ = !inQ
          else if (!inQ && (c == '(' || c == '[')) depth += 1
          else if (!inQ && c == ']') depth -= 1
          else if (!inQ && c == ')') { depth -= 1; if (depth == 0) close = i }
          else if (!inQ && c == ',' && depth == 1 && commaAt < 0) commaAt = i
          i += 1
        }
        if (close >= 0 && commaAt >= 0) {
          val thenTxt = q.substring(mm.end, commaAt).trim
          val elseTxt = q.substring(commaAt + 1, close).trim
          val live = if (mm.group(1) == "1") thenTxt else elseTxt
          q = q.substring(0, mm.start) + "(" + live + ")" + q.substring(close + 1)
          changed = true
        }
      }
    }
    q
  }

  /** ASCII-only lowercase via translate — the case folding CH's
    * non-UTF8 case-insensitive string search applies (bytes < 0x80). */
  private def asciiLower(e: Expression): Expression =
    StringTranslate(e, Literal("ABCDEFGHIJKLMNOPQRSTUVWXYZ"),
      Literal("abcdefghijklmnopqrstuvwxyz"))

  private def nonZeroLambda(arr: Expression): Expression = {
    val v = org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable(Seq("__x"))
    org.apache.spark.sql.catalyst.expressions.LambdaFunction(
      graft.functions.UInt8ToBool(v), Seq(v))
  }

  /** Spark's function resolver requires the ROOT of a call whose
    * arguments include a lambda to be a HigherOrderFunction
    * (ResolveFunctions NON_HIGHER_ORDER_FUNCTION check). For CH forms
    * whose natural translation wraps the HOF in a scalar (e.g.
    * `arrayCount` = size∘filter), smuggle the finished expression in
    * through ArrayAggregate's zero seat: a fold over an empty array
    * returns its zero untouched. */
  private def hofRoot(result: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    val acc = UnresolvedNamedLambdaVariable(Seq("__acc"))
    val ign = UnresolvedNamedLambdaVariable(Seq("__ign"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__fin"))
    ArrayAggregate(
      Literal.create(Seq.empty[Int], ArrayType(IntegerType, containsNull = false)),
      result,
      LambdaFunction(acc, Seq(acc, ign)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** Wrap a conversion builder's result in a [[graft.functions.ChTypeTag]]
    * carrying the CH-declared name (erased to identity after analysis). */
  private def tagged(chName: String, b: Seq[Expression] => Expression):
      Seq[Expression] => Expression =
    args => graft.functions.ChTypeTag(b(args), chName)

  private def cast(dt: DataType): Seq[Expression] => Expression = {
    // toUInt16(Date) is the raw day count, toUInt32(DateTime) the
    // epoch second (DataTypeDate=UInt16 / DataTypeDateTime=UInt32
    // are plain integers in the reference) — Spark can't cast
    // date→int directly, so read the day number via datediff
    case Seq(e) if e.resolved && e.dataType == DateType &&
        (dt == IntegerType || dt == LongType || dt == ShortType) =>
      new Cast(org.apache.spark.sql.catalyst.expressions.DateDiff(
        e, Literal.create(0, DateType)), dt, None,
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
    case Seq(e) => new Cast(e, dt, None,
      org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
    case other => throw new IllegalArgumentException(s"expected 1 arg, got $other")
  }

  /** `toXxxOrZero`: TRY-cast, 0 when unparseable. */
  private def orZero(dt: DataType): Seq[Expression] => Expression = {
    case Seq(e) => Coalesce(Seq(
      new Cast(e, dt, None, org.apache.spark.sql.catalyst.expressions.EvalMode.TRY),
      Cast(Literal(0), dt)))
    case other => throw new IllegalArgumentException(s"expected 1 arg, got $other")
  }

  /** toFloat64/32 with the reference's inf/-inf/±nan spellings. */
  private def floatConv(e: Expression, dt: DataType): Expression = {
    val s = Lower(Cast(e, StringType))
    def d(v: Double): Expression =
      if (dt == FloatType) Literal(v.toFloat) else Literal(v)
    CaseWhen(Seq(
      (In(s, Seq(Literal("inf"), Literal("+inf"), Literal("infinity"), Literal("+infinity"))),
        d(Double.PositiveInfinity)),
      (In(s, Seq(Literal("-inf"), Literal("-infinity"))),
        d(Double.NegativeInfinity)),
      (In(s, Seq(Literal("nan"), Literal("-nan"), Literal("+nan"))), d(Double.NaN))),
      Some(new Cast(e, dt, None,
        org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)))
  }

  /** CH transform: CaseWhen over zipped from/to array literals
    * (FunctionsTransform.cpp). */
  private def chTransform(x: Expression, from: Expression, to: Expression,
      default: Expression): Expression = {
    def items(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.CreateArray(es, _) => es
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("array") => f.arguments
      case other => throw new IllegalArgumentException(
        s"transform expects array literals, got $other")
    }
    CaseWhen(items(from).zip(items(to)).map { case (f, t) => (EqualTo(x, f), t) },
      Some(default))
  }

  /** Bridge a Column-level helper (graft.functions.ch) into a SQL
    * function builder. */
  private def viaColumn(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
      : Seq[Expression] => Expression = { es =>
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.expression(f(es.map(Bridge.column)))
  }

  /** `arraySort([lam,] arr)` / `arrayReverseSort` — CH sorts by the
    * lambda's key (FunctionsArray.h arraySort): emulated as
    * transform→struct(key, value)→sort_array→extract, which Catalyst
    * keeps codegen'd; ties break by value where the reference's
    * stable sort keeps input order (divergence documented; no corpus
    * test has equal keys with distinct values). */
  private def arraySortFn(asc: Boolean): Seq[Expression] => Expression = {
    case Seq(arr) => new SortArray(arr, Literal(asc))
    case Seq(lam: LambdaFunction, arr) =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      val kv = LambdaFunction(
        CreateNamedStruct(Seq(
          Literal("k"), lam.function,
          Literal("v"), lam.arguments.head)),
        lam.arguments)
      val sorted = new SortArray(ArrayTransform(arr, kv), Literal(asc))
      val s = UnresolvedNamedLambdaVariable(Seq("__sorted"))
      ArrayTransform(sorted,
        LambdaFunction(UnresolvedExtractValue(s, Literal("v")), Seq(s)))
    case Seq(lam: LambdaFunction, a1, a2) if lam.arguments.size == 2 =>
      // lockstep form: sort a1 by the key the 2-arg lambda computes
      // over (a1[i], a2[i]) pairs
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      val kv = LambdaFunction(
        CreateNamedStruct(Seq(
          Literal("k"), lam.function,
          Literal("v"), lam.arguments.head)),
        lam.arguments)
      val sorted = new SortArray(ZipWith(a1, a2, kv), Literal(asc))
      val s = UnresolvedNamedLambdaVariable(Seq("__sorted"))
      ArrayTransform(sorted,
        LambdaFunction(UnresolvedExtractValue(s, Literal("v")), Seq(s)))
    case other => throw new IllegalArgumentException(
      s"arraySort([lambda,] array...) expected, got $other")
  }

  private val baseFns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "materialize" -> { case Seq(e) => e },
    // CH round() is round-half-to-even — the C nearbyint under the
    // default FP mode; ceil/floor take a scale too, and a NEGATIVE
    // scale on an integer input truncates toward zero for all three
    // (FunctionsRound.h integer path; corpus 00161/00273). Registered
    // under ch-prefixed names (translate rewrites the call sites) so
    // the session registry never shadows Spark's own round/ceil/floor
    // for the engine's query registry.
    "chround" -> chRound("round"),
    "chceil" -> chRound("ceil"),
    "chfloor" -> chRound("floor"),
    // coalesce() with no arguments is NULL in the reference
    // (FunctionsMiscellaneous coalesce; corpus 00435)
    "chcoalesce" -> { case Seq() => Literal.create(null, NullType)
      case args => org.apache.spark.sql.catalyst.expressions.Coalesce(args) },
    "anyHeavy" -> { case Seq(e) => graft.functions.AnyHeavy(e) },
    "toTypeName" -> { case Seq(e) => graft.functions.ToTypeName(e) },
    // groupArray keeps encounter order in the reference; collect_list
    // matches on the single-partition corpus shapes (documented).
    // groupArray(N)(x) arrives flattened as groupArray(x, N).
    "groupArray" -> viaColumn {
      case Seq(e) => org.apache.spark.sql.functions.collect_list(e)
      case Seq(e, n) => org.apache.spark.sql.functions.slice(
        org.apache.spark.sql.functions.collect_list(e),
        org.apache.spark.sql.functions.lit(1), n) },
    "groupUniqArray" -> viaColumn {
      case Seq(e) => org.apache.spark.sql.functions.collect_set(e)
      case Seq(e, n) => org.apache.spark.sql.functions.slice(
        org.apache.spark.sql.functions.collect_set(e),
        org.apache.spark.sql.functions.lit(1), n) },
    // -Array combinator of sum: total over all elements of all rows
    "sumArray" -> { case Seq(arr) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
        graft.functions.ChArraySum(arr)) },
    // occurrence index of each element at its position
    // (FunctionsArray.h arrayEnumerateUniq) — quadratic per row, fine
    // for row-local arrays
    "arrayEnumerateUniq" -> viaColumn { cols =>
      import org.apache.spark.sql.functions._
      // several arrays enumerate their element TUPLES in lockstep
      // (FunctionsArray.h arrayEnumerateUniq variadic; corpus 00040)
      val a = cols match {
        case Seq(one) => one
        case more => more.reduce((x, y) => zip_with(x, y, (p, q) => struct(p, q)))
      }
      transform(sequence(lit(1), size(a)),
        i => size(filter(slice(a, lit(1), i), w => w === element_at(a, i)))) },
    // tuple element by 1-based ordinal (tupleElementAccess rewrite +
    // the reference's tupleElement function)
    "tupleelement" -> { case Seq(t, n) =>
      val ord = n match {
        case Literal(i: Int, _) => i
        case Literal(l: Long, _) => l.toInt
        case other => throw new IllegalArgumentException(
          s"tupleElement ordinal must be a literal, got $other")
      }
      GetStructField(t, ord - 1)
    },
    // exact Int64 semantics via IntegralDivide; float-literal operands
    // (Float64 after the D-suffix rewrite) re-enter as decimal so the
    // integral division still resolves — CH intDiv(1, 0.3) = 3
    "intDiv" -> { case Seq(a, b) =>
      def dec(e: Expression): Expression = e match {
        case Literal(d: Double, DoubleType) =>
          Literal(org.apache.spark.sql.types.Decimal(BigDecimal(d)))
        case other => other
      }
      new IntegralDivide(dec(a), dec(b)) },
    // string replace family (FunctionsStringSearch.h replaceAll/One):
    // replaceAll is literal replace; the *One forms stop after the
    // first occurrence
    "replaceAll" -> { case Seq(s, f, t) => StringReplace(s, f, t) },
    "replaceOne" -> viaColumn { case Seq(s, f, t) =>
      graft.functions.ch.replaceOne(s, f, t) },
    "replaceRegexpOne" -> viaColumn { case Seq(s, f, t) =>
      graft.functions.ch.replaceRegexpOne(s, f, t) },
    // arraySum widens to the 64-bit type of the element family
    "arraySum" -> { case Seq(arr) => graft.functions.ChArraySum(arr)
      case Seq(lam, arr) =>
        hofRoot(graft.functions.ChArraySum(new ArrayTransform(arr, lam))) },
    "arrayMin" -> viaColumn { case Seq(arr) =>
      org.apache.spark.sql.functions.array_min(arr) },
    "arrayMax" -> viaColumn { case Seq(arr) =>
      org.apache.spark.sql.functions.array_max(arr) },
    "arraySort" -> arraySortFn(asc = true),
    "arrayReverseSort" -> arraySortFn(asc = false),
    // scalar bit ops (FunctionsArithmetic.h bitAnd/bitOr/…)
    "bitAnd" -> { case Seq(a, b) => BitwiseAnd(Cast(a, LongType), Cast(b, LongType)) },
    "bitOr" -> { case Seq(a, b) => BitwiseOr(Cast(a, LongType), Cast(b, LongType)) },
    "bitXor" -> { case Seq(a, b) => BitwiseXor(Cast(a, LongType), Cast(b, LongType)) },
    "bitNot" -> { case Seq(a) => BitwiseNot(Cast(a, LongType)) },
    "bitShiftLeft" -> { case Seq(a, n) => ShiftLeft(Cast(a, LongType), Cast(n, IntegerType)) },
    "bitShiftRight" -> { case Seq(a, n) => ShiftRight(Cast(a, LongType), Cast(n, IntegerType)) },
    // bitTest(x, i) = (x >> i) & 1; -All/-Any fold over bit indexes
    // (FunctionsArithmetic.h bitTest family; corpus 00216)
    "bitTest" -> { case Seq(a, i) =>
      BitwiseAnd(ShiftRight(Cast(a, LongType), Cast(i, IntegerType)), Literal(1L)) },
    "bitTestAll" -> { case a +: bits if bits.nonEmpty =>
      bits.map(i => EqualTo(BitwiseAnd(ShiftRight(Cast(a, LongType),
          Cast(i, IntegerType)), Literal(1L)), Literal(1L)): Expression)
        .reduceLeft[Expression]((l, r) => And(l, r)) },
    "bitTestAny" -> { case a +: bits if bits.nonEmpty =>
      bits.map(i => EqualTo(BitwiseAnd(ShiftRight(Cast(a, LongType),
          Cast(i, IntegerType)), Literal(1L)), Literal(1L)): Expression)
        .reduceLeft[Expression]((l, r) => Or(l, r)) },
    // C-math family (FunctionsMath.h): gamma/erf via commons-math3,
    // log* with -inf-at-zero semantics (Spark builtins yield NULL)
    "tgamma" -> viaColumn { case Seq(x) => graft.functions.ch.tgamma(x) },
    "lgamma" -> viaColumn { case Seq(x) => graft.functions.ch.lgamma(x) },
    "erf" -> viaColumn { case Seq(x) => graft.functions.ch.erf(x) },
    "erfc" -> viaColumn { case Seq(x) => graft.functions.ch.erfc(x) },
    // keep Spark's 2-arg log(base, x) working (session-global registry)
    "log" -> {
      case Seq(x) => viaColumn { case Seq(c) => graft.functions.ch.logC(c) }(Seq(x))
      case Seq(b, x) => Logarithm(b, x)
    },
    "ln" -> viaColumn { case Seq(x) => graft.functions.ch.logC(x) },
    "log2" -> viaColumn { case Seq(x) => graft.functions.ch.log2C(x) },
    "log10" -> viaColumn { case Seq(x) => graft.functions.ch.log10C(x) },
    // argMin/argMax (AggregateFunctionsArgMinMax.h) — value at the
    // row extremizing the second argument; FIRST tied row wins
    // (strict-improvement update), where Spark's min_by keeps last
    "argMin" -> { case Seq(v, o) =>
      graft.functions.ChArgExtremum(v, o, isMin = true).toAggregateExpression() },
    "argMax" -> { case Seq(v, o) =>
      graft.functions.ChArgExtremum(v, o, isMin = false).toAggregateExpression() },
    "groupUniqArrayIf" -> viaColumn { case Seq(x, c) =>
      org.apache.spark.sql.functions.collect_set(
        org.apache.spark.sql.functions.when(c, x)) },
    "extractURLParameterNames" -> { case Seq(u) =>
      graft.functions.KernelExpr(u, "extract_url_parameter_names") },
    "URLPathHierarchy" -> { case Seq(u) =>
      graft.functions.KernelExpr(u, "url_path_hierarchy") },
    // indexHint(cond) — pure index-analysis hint, the result column is
    // the constant 1 (FunctionsMiscellaneous.cpp FunctionIndexHint)
    "indexHint" -> { case _ => Literal(1) },
    // replicate(x, arr) — an array sized like arr filled with x
    // (FunctionsMiscellaneous replicate; corpus 00178)
    "replicate" -> viaColumn { case Seq(x, arr) =>
      org.apache.spark.sql.functions.transform(arr, _ => x) },
    // now()/today()/yesterday() (FunctionsDateTime.h) — per-query
    // constants, like Spark's current_timestamp/current_date; second
    // granularity for now()
    "now" -> { case Seq() => graft.functions.ChTypeTag(
      Cast(Cast(org.apache.spark.sql.catalyst.expressions.CurrentTimestamp(),
        LongType), TimestampType), "DateTime") },
    "today" -> { case Seq() => graft.functions.ChTypeTag(
      org.apache.spark.sql.catalyst.expressions.CurrentDate(None), "Date") },
    "yesterday" -> { case Seq() => graft.functions.ChTypeTag(
      org.apache.spark.sql.catalyst.expressions.DateSub(
        org.apache.spark.sql.catalyst.expressions.CurrentDate(None),
        Literal(1)), "Date") },
    // rand()/rand64() (FunctionsRandom.h): pseudorandom UInt32/UInt64
    // per row; the type tag matters more than the stream (tests using
    // the VALUES are nondeterministic and excluded by design)
    "rand" -> { case Seq() => graft.functions.ChTypeTag(
      org.apache.spark.sql.catalyst.expressions.KnownNotNull(
        Cast(Multiply(
          org.apache.spark.sql.catalyst.expressions.Rand(
            Literal(scala.util.Random.nextLong()), hideSeed = true),
          Literal(4294967296.0)), LongType)), "UInt32") },
    "rand64" -> { case Seq() => graft.functions.ChTypeTag(
      org.apache.spark.sql.catalyst.expressions.KnownNotNull(
        Cast(Multiply(Subtract(
          org.apache.spark.sql.catalyst.expressions.Rand(
            Literal(scala.util.Random.nextLong()), hideSeed = true),
          Literal(0.5)), Literal(1.8446744073709552E19)), LongType)),
      "UInt64") },
    // randConstant(): ONE pseudorandom UInt32 PER QUERY
    // (FunctionsRandom.h FunctionRandConstant) — every call site in
    // the same statement folds to the same literal (00223 compares
    // two randConstant() ranges for consistency)
    "randConstant" -> { case Seq() =>
      val v = Option(randConstCache.get).map(_.longValue).getOrElse {
        val nv = scala.util.Random.nextLong() & 0xffffffffL
        randConstCache.set(nv)
        nv
      }
      graft.functions.ChTypeTag(Literal(v), "UInt32") },
    // hasColumnInTable('db','table','col') — catalog probe, resolved
    // to a constant at translate time (FunctionsMiscellaneous.cpp)
    "hasColumnInTable" -> { case Seq(d, t, c)
        if Seq(d, t, c).forall(_.foldable) =>
      Literal(if (ChDdl.hasColumn(
        s"${d.eval(null)}.${t.eval(null)}", c.eval(null).toString)) 1 else 0) },
    "toString" -> { case Seq(e) =>
      // UInt64-producing children (the hash kernels) render as
      // UNSIGNED decimal, like the reference's UInt64 columns —
      // Spark's LongType can't carry the signedness itself
      val unsigned = e match {
        case k: graft.functions.KernelExpr =>
          Set("inthash64", "cityhash64", "farmhash64", "metrohash64",
            "urlhash")(k.kernel)
        case _: graft.functions.SipHash64Expr => true
        case _ => false
      }
      if (unsigned)
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[graft.functions.StringKernels.type], StringType,
          "uint64ToString", Seq(e), Seq(LongType), returnNullable = false)
      else if (e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression] &&
          e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]
            .aggregateFunction.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Count])
        // toString of a COUNT STATE is its serialized varint
        // (AggregateFunctionCount serialize = writeVarUInt; corpus
        // 00357 hex(toString(countState())) = '0A')
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[graft.functions.CodingFns.type], StringType,
          "varintStr", Seq(e), Seq(LongType), returnNullable = false)
      else e match {
        // toString(FixedString) cuts the zero padding
        // (FunctionsConversion FixedString→String; corpus 00032)
        case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
            if si.functionName == "fixedString" =>
          org.apache.spark.sql.catalyst.expressions.StringTrimRight(
            e, Some(Literal("\u0000")))
        case org.apache.spark.sql.catalyst.expressions.StringRPad(
            _, _, Literal(pad, StringType))
            if pad != null && pad.toString == "\u0000" =>
          org.apache.spark.sql.catalyst.expressions.StringTrimRight(
            e, Some(Literal("\u0000")))
        case _ => graft.functions.ChToStringExpr(e)
      } },
    // CH lower/upper are ASCII-only (lowerUTF8/upperUTF8 do Unicode)
    "lower" -> { case Seq(e) => StringTranslate(e,
      Literal("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), Literal("abcdefghijklmnopqrstuvwxyz")) },
    "upper" -> { case Seq(e) => StringTranslate(e,
      Literal("abcdefghijklmnopqrstuvwxyz"), Literal("ABCDEFGHIJKLMNOPQRSTUVWXYZ")) },
    // to<N> conversions carry their declared CH name via ChTypeTag —
    // the Spark storage type erases unsignedness, toTypeName needs it
    // float sources wrap like the reference's static_cast<UInt64>
    // ([2^63, 2^64) keeps its unsigned bit pattern, ≥ 2^64 → 0 —
    // MathKernels.toUInt64FromDouble); everything else is the plain
    // legacy cast
    "toUInt64" -> tagged("UInt64", {
      case Seq(e) if e.resolved &&
          (e.dataType == DoubleType || e.dataType == FloatType) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[graft.functions.MathKernels.type], LongType,
          "toUInt64FromDouble",
          Seq(Cast(e, DoubleType)), Seq(DoubleType), returnNullable = false)
      case args => cast(LongType)(args)
    }),
    "toInt64" -> tagged("Int64", cast(LongType)),
    "toUInt32" -> tagged("UInt32", cast(LongType)),
    "toInt32" -> tagged("Int32", cast(IntegerType)),
    "toUInt16" -> tagged("UInt16", cast(IntegerType)),
    "toInt16" -> tagged("Int16", cast(IntegerType)),
    "toUInt8" -> tagged("UInt8", cast(IntegerType)),
    "toInt8" -> tagged("Int8", cast(IntegerType)),
    // toFloat64/32 accept the reference's special spellings
    // inf/-inf/±nan. The fallback is a TRY cast: an ANSI cast of 'inf'
    // would throw at constant-folding time even on an unreached branch.
    "toFloat64" -> { case Seq(e) =>
      graft.functions.ChTypeTag(floatConv(e, DoubleType), "Float64") },
    "toFloat32" -> { case Seq(e) =>
      graft.functions.ChTypeTag(floatConv(e, FloatType), "Float32") },
    // toDate(integer) = epoch-day number (DataTypeDate is UInt16)
    "toDate" -> { case Seq(e) if e.resolved && (e.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false }) =>
      org.apache.spark.sql.catalyst.expressions.DateAdd(
        Literal.create(0, DateType), new Cast(e, IntegerType, None,
          org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
      // a foldable string argument evaluates NOW so the result is a
      // NON-NULL literal: CH toDate returns Date, never
      // Nullable(Date) (DataTypeDate — it throws on bad input), and
      // the nullability shows in WithNamesAndTypes/JSON meta headers
      case Seq(e) if e.resolved && e.foldable && e.dataType == StringType =>
        val v = Cast(e, DateType, Some("UTC")).eval(null)
        if (v != null) Literal(v, DateType)
        else Cast(e, DateType, Some("UTC"))
      case args => cast(DateType)(args) },
    // FixedString(n): shorter strings zero-pad to n bytes
    // (DataTypeFixedString serialization; corpus 00439)
    // FixedString(n) pads to n BYTES, not chars — binary payloads
    // (unhex output) miscount as UTF8 chars under rpad (corpus
    // 00396's toFixedString(unhex(32 hex digits), 16))
    "toFixedString" -> { case Seq(s, n) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[graft.functions.CodingFns.type], StringType, "fixedString",
        Seq(s, Cast(n, IntegerType)), Seq(StringType, IntegerType),
        returnNullable = false) },
    // reference argument order: position(haystack, needle).
    // CH position counts BYTES (PositionImpl is a memmem over the
    // raw bytes: position('абв','бв')=3); positionUTF8 counts code
    // points. Spark's locate is code-point based, so convert the
    // char index to a byte offset via the prefix's octet length
    // (bytePosition below).
    "position" -> { case Seq(h, n) => bytePosition(h, n) },
    // higher-order family: lambda first in the reference; the
    // no-lambda forms test elements for non-zero (FunctionsHigherOrder.h)
    "arrayExists" -> { case Seq(lam, arr) => new ArrayExists(arr, lam)
      case Seq(arr) => new ArrayExists(arr, nonZeroLambda(arr)) },
    "arrayMap" -> {
      case Seq(lam, arr) => new ArrayTransform(arr, lam)
      // multi-array arrayMap is a LOCKSTEP map (FunctionsHigherOrder
      // same-offsets rule) — two arrays are Spark's zip_with
      case Seq(lam, a, b) =>
        org.apache.spark.sql.catalyst.expressions.ZipWith(a, b, lam) },
    "arrayFilter" -> { case Seq(lam, arr) => new ArrayFilter(arr, lam) },
    "arrayAll" -> { case Seq(lam, arr) => new ArrayForAll(arr, lam)
      case Seq(arr) => new ArrayForAll(arr, nonZeroLambda(arr)) },
    "arrayCount" -> { case Seq(lam, arr) =>
      hofRoot(new Size(new ArrayFilter(arr, lam)))
      case Seq(arr) => new Size(new ArrayFilter(arr, nonZeroLambda(arr))) },
    // first match, or the element type's default when none
    // (ArrayFirstImpl; ChArrayElement supplies the default)
    "arrayFirst" -> { case Seq(lam, arr) =>
      hofRoot(graft.functions.ChArrayElement(new ArrayFilter(arr, lam), Literal(1))) },
    "arrayFirstIndex" -> { case Seq(lam: org.apache.spark.sql.catalyst.expressions.LambdaFunction, arr) =>
      // 1-based index of the first match, 0 when none: position of
      // `true` in the element-wise predicate image
      hofRoot(org.apache.spark.sql.catalyst.expressions.ArrayPosition(
        new ArrayTransform(arr, lam.copy(
          function = graft.functions.UInt8ToBool(lam.function))),
        Literal(true))) },
    "arrayJoin" -> { case Seq(arr) => Explode(arr) },
    // index casts to LONG: a UInt64 index column arrives as
    // Decimal(20,0), which the kernel's integral check rejects
    "arrayElement" -> { case Seq(a, i) =>
      graft.functions.ChArrayElement(a, Cast(i, LongType)) },
    "charrayelement" -> { case Seq(a, i) =>
      graft.functions.ChArrayElement(a, Cast(i, LongType)) },
    // more conversions / misc
    // toDateTime: a STRING of digits is a unix timestamp (the
    // reference parses '1000000000' as the epoch second)
    "toDateTime" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      when(c.cast("string").rlike("^[0-9]+$"),
        c.cast("string").cast("long").cast("timestamp"))
        .otherwise(c.cast("timestamp")) },
    // toNullable wraps the TYPE even when the value can't be null
    // (DataTypeNullable); KnownNullable keeps that visible to
    // toTypeName (corpus 00433/00434)
    "toNullable" -> { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.KnownNullable(e) },
    "assumeNotNull" -> { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.KnownNotNull(e) },
    "identity" -> { case Seq(e) => e },
    "ignore" -> { case es => Literal(0) },
    "tuple" -> { es => CreateStruct(es) },
    // CH nullIf is TRI-STATE: when `a = b` evaluates to NULL (either
    // side NULL) the result is NULL, where SQL's NULLIF returns a
    // (FunctionsNull nullIf via if(a=b, NULL, a); corpus 00395:
    // nullIf(9, NULL) = NULL)
    "nullIf" -> { case Seq(a, b) =>
      CaseWhen(Seq((Not(Coalesce(Seq(EqualTo(a, b), Literal(true))))
        : Expression, a)), None) },
    "has" -> { case Seq(arr, e) =>
      if (e.dataType == NullType) {
        // has(arr, NULL) = does the array hold a NULL element
        // (FunctionsArray.h has with Nullable); array_contains
        // rejects a NULL needle
        val v = UnresolvedNamedLambdaVariable(Seq("__hx"))
        new ArrayExists(arr, LambdaFunction(IsNull(v), Seq(v)))
      } else
        // no-match over an array CONTAINING nulls (or a NULL needle
        // value at runtime) is 0 in the reference, not SQL's
        // three-valued NULL; a NULL ARRAY stays NULL
        If(IsNull(arr), Literal.create(null, BooleanType),
          Coalesce(Seq(ArrayContains(arr, e), Literal(false)))) },
    "indexOf" -> { case Seq(arr, e) => new ArrayPosition(arr, e) },
    // countEqual(arr, x): occurrences of x among the elements —
    // null-safe equality counts NULL needles against NULL elements
    // (FunctionsArray.h CountEqualAction; corpus 00230)
    "countEqual" -> viaColumn { case Seq(arr, x) =>
      import org.apache.spark.sql.functions._
      size(filter(arr, e => e <=> x)) },
    "match" -> { case Seq(h, p) => RLike(h, p) },
    "positionUTF8" -> { case Seq(h, n) => new StringLocate(n, h) },
    "replaceAll" -> { case Seq(s, f, t) => StringReplace(s, f, t) },
    "replaceRegexpAll" -> { case Seq(s, f, t) => RegExpReplace(s, f, t) },
    "lengthUTF8" -> { case Seq(e) => Length(e) },
    // CH length() covers String AND Array/Map
    "length" -> { case Seq(e) => graft.functions.ChLength(e) },
    "lowerUTF8" -> { case Seq(e) => Lower(e) },
    "upperUTF8" -> { case Seq(e) => Upper(e) },
    "substringUTF8" -> { case Seq(s, p, l) => Substring(s, p, l) },
    // CH substring/reverse on String are BYTE-based (SubstringImpl /
    // ReverseImpl; the *UTF8 names are the code-point variants) —
    // StaticInvoke kernels, codegen'd static calls
    "substring" -> { case args => byteSubstring(args) },
    "substr" -> { case args => byteSubstring(args) },
    "mid" -> { case args => byteSubstring(args) },
    "reverse" -> { case Seq(e) => graft.functions.ChReverse(e) },
    "reverseUTF8" -> { case Seq(e) => Reverse(e) },
    // Column-helper bridges (graft.functions.ch)
    "notEmpty" -> viaColumn { case Seq(c) => graft.functions.ch.notEmpty(c) },
    "empty" -> viaColumn { case Seq(c) => graft.functions.ch.empty(c) },
    // DivideIntegralOrZeroImpl also zeroes the one overflowing case,
    // typeMin / -1, under the DECLARED CH width of the dividend
    // (corpus 00081: intDivOrZero(-128, -1) = 0 because -128 is Int8)
    "intDivOrZero" -> { case Seq(a, b) =>
      val base = graft.types.ChTypeInfer.infer(a).map(_.base).getOrElse(
        a.dataType match {
          case ByteType => "Int8"; case ShortType => "Int16"
          case IntegerType => "Int32"; case LongType => "Int64"
          case _ => ""
        })
      val minVal: Option[Long] = base match {
        case "Int8" => Some(-128L); case "Int16" => Some(-32768L)
        case "Int32" => Some(Int.MinValue.toLong)
        case "Int64" => Some(Long.MinValue); case _ => None
      }
      viaColumn { case Seq(ac, bc) =>
        import org.apache.spark.sql.functions._
        val overflow = minVal
          .map(m => ac === lit(m) && bc === lit(-1L))
          .getOrElse(lit(false))
        when(overflow, lit(0L))
          .otherwise(graft.functions.ch.intDivOrZero(ac, bc))
      }(Seq(a, b)) },
    "moduloOrZero" -> viaColumn { case Seq(a, b) => graft.functions.ch.moduloOrZero(a, b) },
    "toYYYYMM" -> viaColumn { case Seq(c) => graft.functions.ch.toYYYYMM(c) },
    "toStartOfMonth" -> viaColumn { case Seq(c) => graft.functions.ch.toStartOfMonth(c) },
    // remaining DateTimeTransforms surface (FunctionsDateTime.h);
    // every one of these takes the optional trailing timezone via
    // tzWrap (see the fns assembly)
    "toStartOfQuarter" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.date_trunc("quarter", c.cast("timestamp"))) },
    "toStartOfYear" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.date_trunc("year", c.cast("timestamp"))) },
    "toStartOfDay" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.date_trunc("day", c.cast("timestamp")) },
    "toTime" -> viaColumn { case Seq(c) => graft.functions.ch.toTime(c) },
    "toYear" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.year(c.cast("timestamp")) },
    "toMonth" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.month(c.cast("timestamp")) },
    "toDayOfMonth" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.dayofmonth(c.cast("timestamp")) },
    "toDayOfWeek" -> viaColumn { case Seq(c) => graft.functions.ch.chDayOfWeek(c) },
    "toHour" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.hour(c.cast("timestamp")) },
    "toMinute" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.minute(c.cast("timestamp")) },
    "toSecond" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.second(c.cast("timestamp")) },
    "toRelativeYearNum" -> viaColumn { case Seq(c) =>
      graft.functions.ch.toRelativeYearNum(c) },
    "toRelativeMonthNum" -> viaColumn { case Seq(c) =>
      graft.functions.ch.toRelativeMonthNum(c) },
    "toRelativeWeekNum" -> viaColumn { case Seq(c) =>
      graft.functions.ch.toRelativeWeekNum(c) },
    "toRelativeDayNum" -> viaColumn { case Seq(c) =>
      graft.functions.ch.toRelativeDayNum(c) },
    // hour/minute/second relatives are plain epoch division — the
    // reference IGNORES the zone argument there (DateLUTImpl
    // toRelativeHourNum = t/3600)
    "toRelativeHourNum" -> viaColumn { case cs =>
      graft.functions.ch.toRelativeHourNum(cs.head) },
    "toRelativeMinuteNum" -> viaColumn { case cs =>
      graft.functions.ch.toRelativeMinuteNum(cs.head) },
    "toRelativeSecondNum" -> viaColumn { case cs =>
      graft.functions.ch.toRelativeSecondNum(cs.head) },
    "toMonday" -> viaColumn { case Seq(c) => graft.functions.ch.toMonday(c) },
    // toUnixTimestamp(x[, tz]): epoch seconds; with a zone the string
    // parses as THAT zone's wall clock (FunctionsConversion.h +
    // DateLUT parse path)
    "toUnixTimestamp" -> {
      case Seq(x) => Cast(Cast(x, TimestampType), LongType)
      case Seq(x, tz) if isTzLiteral(tz) =>
        Cast(ToUTCTimestamp(Cast(x, TimestampType), tz), LongType) },
    "toStartOfHour" -> viaColumn { case Seq(c) => graft.functions.ch.toStartOfHour(c) },
    "toStartOfMinute" -> viaColumn { case Seq(c) => graft.functions.ch.toStartOfMinute(c) },
    "toStartOfFiveMinute" -> viaColumn { case Seq(c) => graft.functions.ch.toStartOfFiveMinute(c) },
    "timeSlot" -> viaColumn { case Seq(c) => graft.functions.ch.timeSlot(c) },
    "roundAge" -> viaColumn { case Seq(c) => graft.functions.ch.roundAge(c) },
    "roundDuration" -> viaColumn { case Seq(c) => graft.functions.ch.roundDuration(c) },
    "roundToExp2" -> viaColumn { case Seq(c) => graft.functions.ch.roundToExp2(c) },
    "protocol" -> viaColumn { case Seq(c) => graft.functions.ch.protocol(c) },
    "domain" -> viaColumn { case Seq(c) => graft.functions.ch.domain(c) },
    "domainWithoutWWW" -> viaColumn { case Seq(c) => graft.functions.ch.domainWithoutWWW(c) },
    "topLevelDomain" -> viaColumn { case Seq(c) => graft.functions.ch.topLevelDomain(c) },
    "path" -> viaColumn { case Seq(c) => graft.functions.ch.path(c) },
    "queryString" -> viaColumn { case Seq(c) => graft.functions.ch.queryString(c) },
    "fragment" -> viaColumn { case Seq(c) => graft.functions.ch.fragment(c) },
    "cutWWW" -> viaColumn { case Seq(c) => graft.functions.ch.cutWWW(c) },
    "cutQueryString" -> viaColumn { case Seq(c) => graft.functions.ch.cutQueryString(c) },
    "greatCircleDistance" -> viaColumn { case Seq(a, b, c, d) =>
      graft.functions.ch.greatCircleDistance(a, b, c, d) },
    // a reference-UInt64 argument (wrapped Long storage) reads as
    // UNSIGNED before the Float64 conversion (corpus 00232:
    // formatReadableSize(toUInt64(1.2e19)) is 11.15 EiB, not −4.85);
    // the marker resolves once alias metadata is visible
    "formatReadableSize" -> { case Seq(e) =>
      viaColumn { case Seq(c) => graft.functions.ch.formatReadableSize(c) }(
        Seq(graft.functions.ChUnsignedToDouble(e))) },
    "multiIf" -> viaColumn { cs =>
      graft.functions.ch.multiIf(
        cs.dropRight(1).grouped(2).collect { case Seq(c, v) => (c, v) }.toSeq,
        cs.last)
    },
    // CH range(n) = [0, …, n-1]; arrayEnumerate(arr) = [1, …, len]
    "range" -> { case Seq(n) =>
      val nL = Cast(n, LongType)
      // the element type is the ARGUMENT's type — range(100) is
      // Array(UInt8) (FunctionRange::getReturnTypeImpl returns
      // arg->clone()); unresolvable args fall back to UInt64
      val elemT = graft.types.ChTypeInfer.infer(n).map(_.base)
        .getOrElse("UInt64")
      graft.functions.ChTypeTag(
        If(LessThanOrEqual(nL, Literal(0L)),
          Literal.create(Seq.empty[Long], ArrayType(LongType, containsNull = false)),
          new Sequence(Literal(0L), Subtract(nL, Literal(1L)))),
        s"Array($elemT)") },
    "arrayEnumerate" -> { case Seq(arr) =>
      If(LessThanOrEqual(new Size(arr), Literal(0)),
        Literal.create(Seq.empty[Int], ArrayType(IntegerType, containsNull = false)),
        new Sequence(Literal(1), new Size(arr))) },
    // parse-or-zero conversions: TRY cast, zero when unparseable
    "toUInt64OrZero" -> orZero(LongType),
    "toInt64OrZero" -> orZero(LongType),
    "toUInt32OrZero" -> orZero(LongType),
    "toInt32OrZero" -> orZero(IntegerType),
    "toFloat64OrZero" -> orZero(DoubleType),
    "toFloat32OrZero" -> orZero(FloatType),
    // ASCII-ONLY case folding (PositionCaseInsensitiveImpl lowercases
    // bytes <0x80: Cyrillic 'Б' does not match 'б'); the UTF8 variant
    // folds full Unicode
    "positionCaseInsensitive" -> { case Seq(h, n) =>
      bytePosition(asciiLower(h), asciiLower(n)) },
    "positionCaseInsensitiveUTF8" -> { case Seq(h, n) =>
      new StringLocate(Lower(n), Lower(h)) },
    "isFinite" -> { case Seq(e) =>
      And(Not(IsNaN(e)), LessThan(Abs(e), Literal(Double.PositiveInfinity))) },
    "isInfinite" -> { case Seq(e) =>
      And(Not(IsNaN(e)), GreaterThanOrEqual(Abs(e), Literal(Double.PositiveInfinity))) },
    "isNaN" -> { case Seq(e) => IsNaN(e) },
    // visitParam JSON family (FunctionsVisitParam.cpp); name given as
    // a string literal, path built at registration time
    "visitParamHas" -> { case Seq(j, Literal(n, StringType)) =>
      IsNotNull(GetJsonObject(j, Literal(s"$$.$n"))) },
    "visitParamExtractUInt" -> { case Seq(j, Literal(n, StringType)) =>
      Cast(GetJsonObject(j, Literal(s"$$.$n")), LongType) },
    "visitParamExtractInt" -> { case Seq(j, Literal(n, StringType)) =>
      Cast(GetJsonObject(j, Literal(s"$$.$n")), LongType) },
    "visitParamExtractFloat" -> { case Seq(j, Literal(n, StringType)) =>
      Cast(GetJsonObject(j, Literal(s"$$.$n")), DoubleType) },
    "visitParamExtractBool" -> { case Seq(j, Literal(n, StringType)) =>
      Cast(GetJsonObject(j, Literal(s"$$.$n")), BooleanType) },
    "visitParamExtractString" -> { case Seq(j, Literal(n, StringType)) =>
      GetJsonObject(j, Literal(s"$$.$n")) },
    "visitParamExtractRaw" -> { case Seq(j, Literal(n, StringType)) =>
      GetJsonObject(j, Literal(s"$$.$n")) },
    "exp10" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.pow(org.apache.spark.sql.functions.lit(10.0), c) },
    "exp2" -> viaColumn { case Seq(c) =>
      org.apache.spark.sql.functions.pow(org.apache.spark.sql.functions.lit(2.0), c) },
    // coding family (FunctionsCoding.h) under the CH names whose
    // spelling differs beyond case from the kernel registrations
    "hex" -> { case Seq(e) => graft.functions.ChHexExpr(e) },
    // CH unhex returns String (raw bytes); kernel yields binary
    "unhex" -> { case Seq(e) =>
      Cast(graft.functions.KernelExpr(e, "unhex_ch"), StringType) },
    "bitmaskToArray" -> { case Seq(e) =>
      graft.functions.KernelExpr(Cast(e, LongType), "bitmask_to_array") },
    "bitmaskToList" -> { case Seq(e) =>
      graft.functions.KernelExpr(Cast(e, LongType), "bitmask_to_list") },
    "IPv6NumToString" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "ipv6_num_to_string") },
    "IPv6StringToNum" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "ipv6_string_to_num") },
    "IPv4ToIPv6" -> { case Seq(e) =>
      graft.functions.KernelExpr(Cast(e, LongType), "ipv4_to_ipv6") },
    "convertCharset" -> { case Seq(s, f, t) =>
      // BINARY result: the target charset's bytes are not generally
      // valid UTF-8 (hex() reads them raw; the renderers print them)
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[graft.functions.CodingFns.type], BinaryType, "convertCharset",
        Seq(Cast(s, BinaryType), f, t),
        Seq(BinaryType, StringType, StringType),
        returnNullable = false) },
    "cutIPv6" -> { case Seq(a, v6, v4) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[graft.functions.CodingFns.type], StringType, "cutIPv6",
        Seq(Cast(a, BinaryType), Cast(v6, IntegerType), Cast(v4, IntegerType)),
        Seq(BinaryType, IntegerType, IntegerType),
        returnNullable = false) },
    "UUIDNumToString" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "uuid_num_to_string") },
    "UUIDStringToNum" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "uuid_string_to_num") },
    "toStringCutToZero" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "to_string_cut_to_zero") },
    // statistics aggregates under CH camelCase names
    // the -Samp estimators return +inf below two samples
    // (AggregateFunctionsStatistics.h: NUM_DECIMAL_DIGITS... the
    // count<2 branch yields infinity; Spark returns NULL — corpus
    // 00181 `varSamp(LIMIT 1)` prints inf)
    "varSamp" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      when(count(c) < 2, lit(Double.PositiveInfinity)).otherwise(var_samp(c)) },
    "varPop" -> viaColumn { case Seq(c) => org.apache.spark.sql.functions.var_pop(c) },
    "stddevSamp" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      when(count(c) < 2, lit(Double.PositiveInfinity)).otherwise(stddev_samp(c)) },
    "stddevPop" -> viaColumn { case Seq(c) => org.apache.spark.sql.functions.stddev_pop(c) },
    "covarSamp" -> viaColumn { case Seq(a, b) =>
      import org.apache.spark.sql.functions._
      when(count(a) < 2, lit(Double.PositiveInfinity)).otherwise(covar_samp(a, b)) },
    "covarPop" -> viaColumn { case Seq(a, b) => org.apache.spark.sql.functions.covar_pop(a, b) },
    "corr" -> viaColumn { case Seq(a, b) =>
      import org.apache.spark.sql.functions._
      // NOT functions.corr — the name resolves back into this scoped
      // registry and the analyzer loops; build the Catalyst aggregate
      val corrCol = org.apache.spark.sql.graftbridge.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.aggregate.Corr(
          org.apache.spark.sql.graftbridge.Bridge.expression(a.cast("double")),
          org.apache.spark.sql.graftbridge.Bridge.expression(b.cast("double")))
          .toAggregateExpression())
      when(count(a) < 2, lit(Double.PositiveInfinity)).otherwise(corrCol) },
    // replaceOne: first occurrence only (FunctionsStringSearch.h)
    "replaceOne" -> { case Seq(s, f, t) =>
      val loc = new StringLocate(f, s)
      If(GreaterThan(loc, Literal(0)),
        Concat(Seq(
          Substring(s, Literal(1), Subtract(loc, Literal(1))),
          t,
          Substring(s, Add(loc, Length(f)), Literal(Int.MaxValue)))),
        s) },
    // string-array family (FunctionsStringArray.h)
    "arrayStringConcat" -> { case Seq(a) => ArrayJoin(a, Literal(""), None)
      case Seq(a, sep) => ArrayJoin(a, sep, None) },
    // split family (FunctionsStringArray.h:20,112) — NOTE the CH arg
    // order is (separator, subject). Empty substrings are kept
    // (splitByChar(',', ',a,') = ['','a','']), which matches Spark's
    // split limit=-1; separators are literal text, not regexes, so
    // quote them before handing to Spark's regex split.
    "splitByChar" -> { case Seq(Literal(sep, StringType), s) =>
      StringSplit(s,
        Literal(java.util.regex.Pattern.quote(sep.toString)), Literal(-1)) },
    "splitByString" -> { case Seq(Literal(sep, StringType), s) =>
      // empty separator splits into single characters (the reference's
      // SplitByStringImpl special case)
      if (sep.toString.isEmpty) StringSplit(s, Literal("(?!^)(?!$)"), Literal(-1))
      else StringSplit(s,
        Literal(java.util.regex.Pattern.quote(sep.toString)), Literal(-1)) },
    // alphaTokens: maximal runs of ASCII letters, no empties
    "alphaTokens" -> { case Seq(s) =>
      RegExpExtractAll(s, Literal("[a-zA-Z]+"), Literal(0)) },
    // extractAll(s, re): every match; the first capture group when the
    // pattern has one, else the whole match (OneOrZeroStringSearcher)
    "extractAll" -> { case Seq(s, re @ Literal(pat, StringType)) =>
      val groups = java.util.regex.Pattern.compile(pat.toString)
        .matcher("").groupCount()
      RegExpExtractAll(s, re, Literal(if (groups > 0) 1 else 0)) },
    "emptyArrayToSingle" -> { case Seq(a) =>
      If(LessThanOrEqual(new Size(a), Literal(0)),
        CreateArray(Seq(graft.functions.ChArrayElement(a, Literal(1),
          nullableDefault = true))), a) },
    "appendTrailingCharIfAbsent" -> { case Seq(s, Literal(c, StringType)) =>
      org.apache.spark.sql.graftbridge.Bridge.expression(
        graft.functions.ch.appendTrailingCharIfAbsent(
          org.apache.spark.sql.graftbridge.Bridge.column(s), c.toString)) },
    // bit rotation over the UInt64 ring (FunctionsArithmetic.h)
    "bitRotateLeft" -> { case Seq(x, n) =>
      BitwiseOr(ShiftLeft(Cast(x, LongType), Cast(n, IntegerType)),
        ShiftRightUnsigned(Cast(x, LongType),
          Subtract(Literal(64), Cast(n, IntegerType)))) },
    "bitRotateRight" -> { case Seq(x, n) =>
      BitwiseOr(ShiftRightUnsigned(Cast(x, LongType), Cast(n, IntegerType)),
        ShiftLeft(Cast(x, LongType),
          Subtract(Literal(64), Cast(n, IntegerType)))) },
    // IPv4 text coding (FunctionsCoding.h:640-927); malformed input
    // yields 0 (the reference's default-value convention)
    "IPv4StringToNum" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      val p = split(c, "\\.")
      val octets = (1 to 4).map(i => element_at(p, i).cast("long"))
      when(c.rlike("^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$") &&
        octets.map(_ < 256).reduce(_ && _),
        octets(0) * 16777216L + octets(1) * 65536L + octets(2) * 256L + octets(3))
        .otherwise(0L) },
    "IPv4NumToString" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      concat_ws(".",
        (c.cast("long") / 16777216L).cast("long") % 256,
        (c.cast("long") / 65536L).cast("long") % 256,
        (c.cast("long") / 256L).cast("long") % 256,
        c.cast("long") % 256) },
    "IPv4NumToStringClassC" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      concat_ws(".",
        (c.cast("long") / 16777216L).cast("long") % 256,
        (c.cast("long") / 65536L).cast("long") % 256,
        (c.cast("long") / 256L).cast("long") % 256,
        lit("xxx")) },
    // MAC text coding (SURVEY §2 coding family; public ClickHouse
    // FunctionsCoding surface — this reference revision predates the
    // MAC trio, semantics follow the IPv4 functions' malformed→0
    // convention): UInt64 low 6 bytes ↔ "AA:BB:CC:DD:EE:FF"
    "MACNumToString" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      val x = c.cast("long")
      concat_ws(":", (5 to 0 by -1).map(i =>
        lpad(hex(shiftright(x, i * 8) % 256), 2, "0")): _*) },
    "MACStringToNum" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      when(c.rlike("^[0-9A-Fa-f]{2}(:[0-9A-Fa-f]{2}){5}$"),
        conv(regexp_replace(c, ":", ""), 16, 10).cast("long"))
        .otherwise(0L) },
    "MACStringToOUI" -> viaColumn { case Seq(c) =>
      import org.apache.spark.sql.functions._
      when(c.rlike("^[0-9A-Fa-f]{2}(:[0-9A-Fa-f]{2}){5}$"),
        conv(regexp_replace(substring(c, 1, 8), ":", ""), 16, 10).cast("long"))
        .otherwise(0L) },
    // pointInEllipses(x, y, x₀, y₀, a₀, b₀, …) — 1 when the point
    // falls inside ANY ellipse: ((x-xᵢ)/aᵢ)² + ((y-yᵢ)/bᵢ)² ≤ 1
    // (FunctionsGeo.h FunctionPointInEllipses::isPointInEllipses)
    "pointInEllipses" -> { case args
        if args.length >= 6 && (args.length - 2) % 4 == 0 =>
      def d(e: Expression) = Cast(e, DoubleType)
      val (x, y) = (d(args(0)), d(args(1)))
      args.drop(2).grouped(4).map { case Seq(ex, ey, ea, eb) =>
        val p1 = Divide(Subtract(x, d(ex)), d(ea))
        val p2 = Divide(Subtract(y, d(ey)), d(eb))
        LessThanOrEqual(Add(Multiply(p1, p1), Multiply(p2, p2)),
          Literal(1.0)): Expression
      }.reduce(Or(_, _)) },
    // deeper URL surface (FunctionsURL.h)
    "URLHierarchy" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "url_hierarchy") },
    // URLHash(url, level) ≡ URLHash(URLHierarchy(url)[level+1]) — the
    // out-of-range level hashes the array element's default ''
    "URLHash" -> {
      case Seq(e) => graft.functions.KernelExpr(e, "urlhash")
      case Seq(e, l) => graft.functions.KernelExpr(
        graft.functions.ChArrayElement(
          graft.functions.KernelExpr(e, "url_hierarchy"),
          Add(Cast(l, IntegerType), Literal(1))), "urlhash") },
    // CH transform(x, [from…], [to…][, default]) — value remapping.
    // The 2-arg lambda form stays Spark's higher-order transform so
    // the session-wide registration is non-destructive.
    "transform" -> {
      case Seq(a, l) => ArrayTransform(a, l)
      case Seq(x, f, t) => chTransform(x, f, t, x)
      case Seq(x, f, t, d) => chTransform(x, f, t, d) },
    "firstSignificantSubdomain" -> { case Seq(e) =>
      graft.functions.KernelExpr(e, "first_significant_subdomain") },
    "extractURLParameter" -> { case Seq(u, Literal(name, StringType)) =>
      RegExpExtract(u,
        Literal("[?&#]" + java.util.regex.Pattern.quote(name.toString) + "=([^&#]*)"),
        Literal(1)) },
    // everything after the first '?' or '#', split on & and # —
    // fragment parameters count too (FunctionsURL.h
    // ExtractURLParametersImpl scans past the fragment; corpus 00296)
    "extractURLParameters" -> viaColumn { case Seq(u) =>
      import org.apache.spark.sql.functions._
      // after the first [?#]; a trailing token without '=' is never
      // emitted (the scanner needs a terminator), and a '?' inside a
      // token restarts it (FunctionsURL.h ExtractURLParametersImpl)
      val s0 = regexp_extract(u, "[?#](.*)", 1)
      val s1 = regexp_replace(s0, "(^|[&#])[^=&#]*$", "$1")
      transform(
        filter(split(s1, "[&#]"), x => x =!= ""),
        p => regexp_replace(p, "^[^=]*\\?", "")) },
    "visibleWidth" -> { case Seq(e) => graft.functions.VisibleWidthExpr(e) },
    // -State/-Merge scaffolding for the simple cases the corpus hits
    "countState" -> { es =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Count(
        if (es.isEmpty) Seq(Literal(1)) else es) },
    "finalizeAggregation" -> { case Seq(e) =>
      graft.functions.FinalizeAggregation(e) },
    // Spark 4's Exp evaluates via StrictMath.exp (fdlibm), which is
    // 1 ulp off glibc's correctly-rounded exp on some inputs
    // (exp(26), corpus 00232); the reference links glibc, and
    // java.lang.Math.exp matches it on the corpus values
    "exp" -> { case Seq(x) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[java.lang.Math], DoubleType, "exp",
        Seq(Cast(x, DoubleType)), Seq(DoubleType),
        returnNullable = false) },
    // bit-test family (FunctionsCoding.h:1866-2236)
    "bitTest" -> { case Seq(x, p) =>
      Cast(BitwiseAnd(ShiftRight(Cast(x, LongType), Cast(p, IntegerType)), Literal(1L)), IntegerType) },
    "bitTestAny" -> { case x +: ps =>
      Cast(ps.map(p => GreaterThan(
        BitwiseAnd(ShiftRight(Cast(x, LongType), Cast(p, IntegerType)), Literal(1L)), Literal(0L)))
        .reduceLeft[Expression]((a, b) => Or(a, b)), IntegerType) },
    "bitTestAll" -> { case x +: ps =>
      Cast(ps.map(p => GreaterThan(
        BitwiseAnd(ShiftRight(Cast(x, LongType), Cast(p, IntegerType)), Literal(1L)), Literal(0L)))
        .reduceLeft[Expression]((a, b) => And(a, b)), IntegerType) },
    // CH if(cond, a, b): numeric conditions mean `!= 0`; a LITERAL
    // condition folds at build time (the reference folds before
    // resolution, so the dead branch may reference unknown columns)
    "if" -> {
      case Seq(Literal(c, _), a, b) =>
        val truthy = c match {
          case null => false
          case b0: Boolean => b0
          case n: Number => n.longValue != 0L
          case _ => true
        }
        if (truthy) a else b
      case Seq(c, a, b) if c.resolved && c.nullable &&
          graft.types.ChTypeInfer.isChNullable(c) =>
        // Nullable condition: if(NULL, a, b) is NULL in the reference
        // (FunctionsConditional over Nullable; corpus 00431). Decided
        // on the REFERENCE's nullability — Spark marks `%` nullable
        // for the zero-divisor NULL where CH UInt8 modulo is plain
        CaseWhen(Seq(
          (IsNull(c), Literal.create(null, NullType)),
          (graft.functions.UInt8ToBool(c), a)), Some(b))
      case Seq(c, a, b) => If(graft.functions.UInt8ToBool(c), a, b) },
    "and" -> { es => es.map(e => graft.functions.UInt8ToBool(e): Expression)
      .reduceLeft[Expression]((a, b) => And(a, b)) },
    "or" -> { es => es.map(e => graft.functions.UInt8ToBool(e): Expression)
      .reduceLeft[Expression]((a, b) => Or(a, b)) },
    "not" -> { case Seq(e) => Not(graft.functions.UInt8ToBool(e)) },
    // CH sums/avgs UInt8 comparison results (`sum(x = y)`)
    "sum" -> { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
        graft.functions.BoolToUInt8(e)) },
    "avg" -> { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Average(
        graft.functions.BoolToUInt8(e)) },
    "min" -> { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Min(
        graft.functions.BoolToUInt8(e)) },
    "max" -> { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Max(
        graft.functions.BoolToUInt8(e)) })

  private val emptyArrayFns: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, DataType)](
      "emptyArrayUInt8" -> IntegerType, "emptyArrayUInt16" -> IntegerType,
      "emptyArrayUInt32" -> LongType, "emptyArrayUInt64" -> LongType,
      "emptyArrayInt8" -> ByteType, "emptyArrayInt16" -> ShortType,
      "emptyArrayInt32" -> IntegerType, "emptyArrayInt64" -> LongType,
      "emptyArrayFloat32" -> FloatType, "emptyArrayFloat64" -> DoubleType,
      "emptyArrayString" -> StringType, "emptyArrayDate" -> DateType,
      "emptyArrayDateTime" -> TimestampType).map {
      case (n, dt) => n -> { (_: Seq[Expression]) =>
        // the tag carries the DECLARED element type the Long/Int
        // storage erases (toTypeName over if(…, emptyArrayInt64()))
        graft.functions.ChTypeTag(
          Literal.create(Seq.empty[Any], ArrayType(dt, containsNull = false)),
          s"Array(${n.stripPrefix("emptyArray")})"): Expression }
    }

  // -If aggregate combinators (AggregateFunctionIf.cpp)
  private val ifCombinatorFns: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "countIf" -> viaColumn { case Seq(c) =>
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.when(c, 1)) },
      "sumIf" -> viaColumn { case Seq(x, c) =>
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(c, x)),
          org.apache.spark.sql.functions.lit(0)) },
      "minIf" -> viaColumn { case Seq(x, c) =>
        org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.when(c, x)) },
      "maxIf" -> viaColumn { case Seq(x, c) =>
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.when(c, x)) },
      "avgIf" -> viaColumn { case Seq(x, c) =>
        org.apache.spark.sql.functions.avg(
          org.apache.spark.sql.functions.when(c, x)) })

  // ---- aggregate-combinator surface ------------------------------
  // (AggregateFunctionFactory combinator dispatch: -State/-Merge/
  // -Array/-If suffixes, parameterized quantile family). The uniq
  // names count exactly: the reference's uniq/uniqHLL12 are exact
  // below their sketch thresholds, which covers every corpus shape;
  // at scale uniqExact semantics are the safe superset. A uniq STATE
  // is represented as the exact distinct-value array (the
  // uniqExactState layout), so State/Merge compose through ordinary
  // array functions and AggregatingMergeTree storage.

  private def evalD(e: Expression): Double =
    Cast(e, DoubleType).eval(null) match {
      case d: Double => d
      case other => other.toString.toDouble
    }

  /** CH quantileExact element rule (AggregateFunctionQuantileExact:
    * n = level < 1 ? level*size : size-1, then nth element). */
  private def chQuantileExactCol(x: org.apache.spark.sql.Column, level: Double)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val arr = sort_array(collect_list(x))
    val n = size(arr)
    element_at(arr,
      least(floor(lit(level) * n.cast("double")).cast("int"), n - 1) + 1)
  }

  private def distinctSetMerge(s: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    array_distinct(flatten(collect_list(s)))
  }

  private val combinatorFns: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val exactCount: Seq[Column] => Column =
      es => count_distinct(es.head, es.tail: _*)
    Seq(
      // uniq is the adaptive-sampling sketch (UniquesHashSet.h), NOT
      // exact distinct: fixed ≤256 KB state per group at any
      // cardinality, exact below 2^16 distinct hashes — the corpus
      // pins only small exact counts, which the sketch reproduces
      "uniq" -> { args => (args match {
        case Seq(e) => graft.functions.UniqSketch(e)
        case es => graft.functions.UniqSketch(
          graft.functions.UniqVariadicKeyExpr(es, Nil), trivial = true)
      }).toAggregateExpression() },
      "uniqExact" -> viaColumn(exactCount),
      // single-arg uniqHLL12 is the BIT-EXACT estimator port (16-key
      // small set + 4096-bucket HLL, UniqHLL12.scala — corpus 00212
      // pins the estimates); multi-arg keeps the exact fallback
      "uniqHLL12" -> { args => args match {
        case Seq(e) => graft.functions.UniqHLL12(e).toAggregateExpression()
        case es => graft.functions.UniqHLL12(
          graft.functions.UniqVariadicKeyExpr(es, Nil), trivial = true)
          .toAggregateExpression()
      } },
      // single-arg uniqCombined: bit-exact three-phase estimator port
      // (UniqCombined.scala); multi-arg keeps the exact fallback
      "uniqCombined" -> { args => args match {
        case Seq(e) => graft.functions.UniqCombined(e).toAggregateExpression()
        case es => graft.functions.UniqCombined(
          graft.functions.UniqVariadicKeyExpr(es, Nil), variadic = true)
          .toAggregateExpression()
      } },
      // plain uniqState is the SERIALIZED adaptive sketch (bounded
      // ≤256 KB per group at any cardinality — UniquesHashSet::write,
      // the state the reference stores in AggregateFunction(uniq, T)
      // columns); only the uniqExact* spellings keep the exact
      // distinct-set array state. The tag tells a downstream
      // finalizeAggregation over the bare COLUMN which decode to run.
      "uniqState" -> { case Seq(e) =>
        graft.functions.ChTypeTag(
          graft.functions.UniqSketch(e, asState = true).toAggregateExpression(),
          s"AggregateFunction(uniq, ${graft.types.ChTypeInfer.name(e)})") },
      "uniqExactState" -> { case Seq(e) =>
        graft.functions.ChTypeTag(
          viaColumn { case Seq(c) => collect_set(c) }(Seq(e)),
          s"AggregateFunction(uniqExact, ${graft.types.ChTypeInfer.name(e)})") },
      "uniqMerge" -> { case Seq(s) =>
        graft.functions.UniqSketchMerge(s).toAggregateExpression() },
      "uniqExactMerge" -> viaColumn { case Seq(s) =>
        size(distinctSetMerge(s)).cast("long") },
      "uniqMergeState" -> { case Seq(s) =>
        graft.functions.UniqSketchMerge(s, asState = true).toAggregateExpression() },
      "groupUniqArrayMerge" -> viaColumn { case Seq(s) => distinctSetMerge(s) },
      "groupArrayMerge" -> viaColumn { case Seq(s) => flatten(collect_list(s)) },
      // -Array combinators: the aggregate runs over array elements
      "uniqArray" -> viaColumn { case Seq(a) =>
        size(distinctSetMerge(a)).cast("long") },
      "sumArray" -> viaColumn { case Seq(a) =>
        sum(aggregate(a, lit(0L), (acc, e) => acc + e)) },
      "sumArrayIf" -> viaColumn { case Seq(a, c) =>
        coalesce(sum(when(c, aggregate(a, lit(0L), (acc, e) => acc + e))), lit(0L)) },
      "minArray" -> viaColumn { case Seq(a) => min(array_min(a)) },
      "maxArray" -> viaColumn { case Seq(a) => max(array_max(a)) },
      "avgArray" -> viaColumn { case Seq(a) =>
        sum(aggregate(a, lit(0.0), (acc, e) => acc + e)) /
          sum(size(a)).cast("double") },
      "countArray" -> viaColumn { case Seq(a) => sum(size(a)).cast("long") },
      // per-row reduction picks the first extremal element (lockstep
      // pairs scan left-to-right), cross-row via the first-win
      // ChArgExtremum — the -Array combinator over argMin/argMax
      "argMinArray" -> { case Seq(x, a) =>
        val (xc, ac) = (org.apache.spark.sql.graftbridge.Bridge.column(x),
          org.apache.spark.sql.graftbridge.Bridge.column(a))
        graft.functions.ChArgExtremum(
          org.apache.spark.sql.graftbridge.Bridge.expression(
            element_at(xc, array_position(ac, array_min(ac)).cast("int"))),
          org.apache.spark.sql.graftbridge.Bridge.expression(array_min(ac)),
          isMin = true).toAggregateExpression() },
      "argMaxArray" -> { case Seq(x, a) =>
        val (xc, ac) = (org.apache.spark.sql.graftbridge.Bridge.column(x),
          org.apache.spark.sql.graftbridge.Bridge.column(a))
        graft.functions.ChArgExtremum(
          org.apache.spark.sql.graftbridge.Bridge.expression(
            element_at(xc, array_position(ac, array_max(ac)).cast("int"))),
          org.apache.spark.sql.graftbridge.Bridge.expression(array_max(ac)),
          isMin = false).toAggregateExpression() },
      // anyLast = last non-null in data order; the corpus runs
      // single-threaded inserts so max_by over a monotonic id matches
      "anyLastIf" -> viaColumn { case Seq(x, c) => last(when(c, x), true) },
      "anyIf" -> viaColumn { case Seq(x, c) => first(when(c, x), true) },
      // CH any/anyLast take ANY type (first/last in data order);
      // Spark's built-in `any` is bool_or, so the dialect rebinds.
      // ChAny (typed aggregate) instead of First/Last keeps mixed
      // aggregations on the hash path — First's var-length buffer
      // forces the whole query into SortAggregate (bench43 q29)
      "any" -> viaColumn { case Seq(x) =>
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.ChAny(
            org.apache.spark.sql.graftbridge.Bridge.expression(x),
            last = false).toAggregateExpression()) },
      "anyLast" -> viaColumn { case Seq(x) =>
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.ChAny(
            org.apache.spark.sql.graftbridge.Bridge.expression(x),
            last = true).toAggregateExpression()) },
      // -State spellings: the partial-aggregate VALUE is the state in
      // the Spark model (sum's state is the sum, uniq's the distinct
      // set) — finalizeAggregation is then the identity and -Merge a
      // re-aggregate (corpus 00166)
      "groupUniqArrayState" -> viaColumn { case Seq(e) => collect_set(e) },
      "groupArrayState" -> viaColumn { case Seq(e) => collect_list(e) },
      "sumState" -> viaColumn { case Seq(e) => sum(e) },
      "minState" -> viaColumn { case Seq(e) => min(e) },
      "maxState" -> viaColumn { case Seq(e) => max(e) },
      // runningAccumulate folds states in result order
      // (FunctionsMiscellaneous runningAccumulate): numeric states
      // sum, set states union (corpus 00166/00410)
      "runningAccumulate" -> { case Seq(e) =>
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(org.apache.spark.sql.functions.lit(0))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val c = org.apache.spark.sql.graftbridge.Bridge.column(e)
        val acc =
          if (e.resolved && e.dataType.isInstanceOf[ArrayType])
            array_distinct(flatten(collect_list(c).over(w)))
          else sum(c).over(w)
        org.apache.spark.sql.graftbridge.Bridge.expression(acc) },
      // -ForEach combinator: element-wise aggregate across array rows
      // (AggregateFunctionForEach.h); ragged arrays extend with the
      // shorter side's identity — zip_with pads with null
      "sumForEach" -> viaColumn(forEachCombinator((p, q) =>
        coalesce(p, lit(0)) + coalesce(q, lit(0)))),
      "minForEach" -> viaColumn(forEachCombinator(least(_, _))),
      "maxForEach" -> viaColumn(forEachCombinator(greatest(_, _))),
      "countForEach" -> viaColumn { case Seq(a) =>
        forEachCombinator((p, q) => coalesce(p, lit(0L)) + coalesce(q, lit(0L)))(
          Seq(transform(a, _ => lit(1L)))) },
      "groupArrayForEach" -> viaColumn { case Seq(a) => groupArrayForEachCol(a) },
      "uniqForEach" -> viaColumn { case Seq(a) =>
        transform(groupArrayForEachCol(a),
          v => size(array_distinct(v)).cast("long")) })
  }

  /** Element-wise groupArray: position i of the result collects the
    * i-th element of every input array (AggregateFunctionForEach.h
    * with groupArray nested; ragged inputs contribute only to the
    * positions they have). */
  private def groupArrayForEachCol(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val lst = collect_list(a)
    aggregate(
      slice(lst, lit(2), greatest(size(lst) - 1, lit(0))),
      transform(element_at(lst, 1), e => array(e)),
      (acc, x) => zip_with(acc, x, (p, q) =>
        when(q.isNull, p).otherwise(
          when(p.isNull, array(q)).otherwise(
            concat(p, array(q))))))
  }

  /** Fold collected arrays element-wise: init = first array, merge =
    * zip_with(acc, next, f) (null-extended on length mismatch). */
  private def forEachCombinator(
      f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    { case Seq(a) =>
      val lst = collect_list(a)
      aggregate(
        slice(lst, lit(2), greatest(size(lst) - 1, lit(0))),
        element_at(lst, 1),
        (acc, x) => zip_with(acc, x, (p, q) => coalesce(f(p, q), p, q)))
    }
  }

  /** Interpolated quantile over an array column (the scalar
    * arrayReduce path): rank = level*(n-1), linear interpolation —
    * the ReservoirSampler::quantileInterpolated rule. Empty → NaN. */
  private def arrQuantileCol(a: org.apache.spark.sql.Column, l: Double)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val s = sort_array(a)
    val n = size(s)
    val h = lit(l) * (n - 1).cast("double")
    val lo = floor(h).cast("int")
    val loV = element_at(s, lo + 1).cast("double")
    val hiV = element_at(s, least(lo + 1, n - 1) + 1).cast("double")
    // the reference's exact expression shape (ReservoirSampler
    // quantileInterpolated: left*(right−index) + right*(index−left)) —
    // algebraically equal to lerp but NOT bit-equal in IEEE doubles,
    // and the corpus diffs full-precision float text
    when(n === 0, lit(Double.NaN))
      .otherwise(loV * ((lo + 1).cast("double") - h) + hiV * (h - lo.cast("double")))
  }

  private val arrayReduceFns: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    Seq(
      "decodeURLComponent" -> { case Seq(u) =>
        graft.functions.KernelExpr(u, "decode_url_component") },
      // pathFull = path + query string (FunctionsURL.h PathFullImpl)
      "pathFull" -> viaColumn { case Seq(u) =>
        import org.apache.spark.sql.functions._
        regexp_replace(u, "^[A-Za-z0-9]+://[^/?#]*", "") },
      // cutURLParameter(url, 'name') — drop name=value plus its
      // separator (FunctionsURL.h CutURLParameterImpl)
      "cutURLParameter" -> { case Seq(u, Literal(name, StringType)) =>
        val qn = java.util.regex.Pattern.quote(name.toString)
        viaColumn { case Seq(uc) =>
          // fragment parameters cut too, but '#' itself stays
          regexp_replace(
            regexp_replace(
              regexp_replace(uc, "([?&#])" + qn + "=[^&#]*&", "$1"),
              "(#)" + qn + "=[^&#]*", "$1"),
            "[?&]" + qn + "=[^&#]*", "")
        }(Seq(u)) },
      // arrayReduce('agg', arr…) — run an aggregate over array
      // elements as a scalar fn (FunctionArrayReduce.cpp). The agg
      // name may carry parameters ('uniqUpTo(5)') or an -If suffix.
      "arrayReduce" -> { case Literal(nameU8, StringType) +: arrays if arrays.nonEmpty =>
        val spec = nameU8.toString.trim
        val m = "(\\w+?)(If)?(?:\\((.*)\\))?$".r.findFirstMatchIn(spec).getOrElse(
          throw new IllegalArgumentException(s"arrayReduce: bad aggregate '$spec'"))
        // -State is the identity in the value-state model (the state
        // IS the partial value, see stateMergeFns); -Merge folds an
        // array OF states (corpus 00432)
        val base0 = m.group(1)
        val base =
          if (base0 == "avgState") "avgState" // (s, c) struct state
          else if (base0.endsWith("State")) base0.dropRight(5)
          else if (base0 == "groupUniqArrayMerge") "groupUniqArrayMergeFlat"
          else if (base0 == "sumMerge") "sum"
          else base0
        val hasIf = m.group(2) != null
        val params = Option(m.group(3))
          .map(_.split(",").map(_.trim.toDouble).toSeq).getOrElse(Seq.empty)
        viaColumn { cols0 =>
          // -If: last array is the 0/1 condition — keep elements with
          // non-zero cond in every value array
          val cols =
            if (!hasIf) cols0
            else cols0.dropRight(1).map { v =>
              transform(
                filter(zip_with(v, cols0.last, (x, c) => struct(x.as("v"), c.as("c"))),
                  s => s.getField("c") =!= 0),
                s => s.getField("v"))
            }
          def tuples: Column = cols match {
            case Seq(a) => a
            case Seq(a, b) => zip_with(a, b, (x, y) => struct(x, y))
            case more => more.reduce((a, b) => zip_with(a, b, (x, y) => struct(x, y)))
          }
          base match {
            case "uniq" | "uniqExact" | "uniqHLL12" | "uniqCombined" =>
              size(array_distinct(tuples)).cast("long")
            case "uniqUpTo" =>
              least(size(array_distinct(tuples)).cast("long"),
                lit(params.head.toLong + 1))
            case "sum" => aggregate(cols.head, lit(0L), (acc, e) => acc + e)
            case "min" => array_min(cols.head)
            case "max" => array_max(cols.head)
            case "count" => size(cols.head).cast("long")
            case "avg" =>
              aggregate(cols.head, lit(0.0), (acc, e) => acc + e) /
                size(cols.head).cast("double")
            case "any" => element_at(cols.head, 1)
            case "anyLast" => element_at(cols.head, -1)
            case "groupArray" => cols.head
            case "groupUniqArray" => array_distinct(cols.head)
            case "groupUniqArrayMergeFlat" =>
              array_distinct(flatten(cols.head))
            // avg's state is its (sum, count) pair
            // (AggregateFunctionAvg; ChTypes AggregateFunction(avg)
            // parses to the same struct layout)
            case "avgState" => struct(
              aggregate(cols.head, lit(0L), (acc, e) => acc + e.cast("long")).as("s"),
              size(cols.head).cast("long").as("c"))
            case "median" => arrQuantileCol(cols.head, 0.5)
            case "quantile" =>
              arrQuantileCol(cols.head, params.headOption.getOrElse(0.5))
            case "quantiles" =>
              array(params.map(l => arrQuantileCol(cols.head, l)): _*)
            case other => throw new IllegalArgumentException(
              s"arrayReduce: unsupported aggregate '$other'")
          }
        }(arrays) })
  }

  private val quantileFns: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.functions._
    def interp(x: org.apache.spark.sql.Column, l: Double) =
      call_function("percentile", x, lit(l))
    Seq(
      "quantile" -> viaColumn {
        case Seq(x) => interp(x, 0.5)
        case Seq(x, l) => call_function("percentile", x, l) },
      "median" -> viaColumn { case Seq(x) => interp(x, 0.5) },
      "quantiles" -> {
        // zero levels → empty result array (00382: the reference
        // returns [] rather than segfaulting)
        case Seq(x) => viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x))
        case x +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        viaColumn { case Seq(xc) =>
          array(levels.map(l => interp(xc, evalD(l))): _*) }(Seq(x)) },
      "quantileExact" -> {
        case Seq(x, l) if l.foldable =>
          viaColumn { case Seq(xc) => chQuantileExactCol(xc, evalD(l)) }(Seq(x))
        case Seq(x) => // level defaults to 0.5 (AggregateFunctionsQuantile)
          viaColumn { case Seq(xc) => chQuantileExactCol(xc, 0.5) }(Seq(x)) },
      "medianExact" -> { case Seq(x) =>
        viaColumn { case Seq(xc) => chQuantileExactCol(xc, 0.5) }(Seq(x)) },
      // element-wise exact quantiles over array rows: per position,
      // sort that position's values and index by the exact rule
      "quantilesExactForEach" -> { case x +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        viaColumn { case Seq(xc) =>
          import org.apache.spark.sql.functions._
          transform(groupArrayForEachCol(xc), v => {
            val s = sort_array(v)
            val n = size(s)
            array(levels.map(l => element_at(s,
              least(floor(lit(evalD(l)) * n.cast("double")).cast("int"), n - 1) + 1)): _*)
          }) }(Seq(x)) },
      "quantilesExact" -> {
        case Seq(x) => viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x))
        case x +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        viaColumn { case Seq(xc) =>
          array(levels.map(l => chQuantileExactCol(xc, evalD(l))): _*) }(Seq(x)) },
      "quantileTiming" -> {
        case Seq(x, l) if l.foldable => graft.functions.QuantileTiming(x, evalD(l))
        case Seq(x) => graft.functions.QuantileTiming(x, 0.5) },
      "medianTiming" -> { case Seq(x) => graft.functions.QuantileTiming(x, 0.5) },
      "quantilesTiming" -> {
        case Seq(x) => viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x))
        case x +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        graft.functions.QuantilesTiming(x, levels.map(evalD)) },
      "quantileTimingWeighted" -> {
        case Seq(x, w, l) if l.foldable =>
          graft.functions.QuantileTimingWeighted(x, w, evalD(l))
        case Seq(x, w) => graft.functions.QuantileTimingWeighted(x, w, 0.5) },
      "quantilesTimingWeighted" -> {
        case Seq(x, w) => viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x))
        case x +: w +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        graft.functions.QuantilesTimingWeighted(x, w, levels.map(evalD)) },
      "quantileExactWeighted" -> {
        case Seq(x, w, l) if l.foldable =>
          graft.functions.QuantileExactWeighted(x, w, evalD(l))
        case Seq(x, w) => graft.functions.QuantileExactWeighted(x, w, 0.5) },
      "medianExactWeighted" -> { case Seq(x, w) =>
        graft.functions.QuantileExactWeighted(x, w, 0.5) },
      "quantilesExactWeighted" -> {
        case Seq(x, w) => viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x))
        case x +: w +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        graft.functions.QuantilesExactWeighted(x, w, levels.map(evalD)) },
      "medianTimingWeighted" -> { case Seq(x, w) =>
        graft.functions.QuantileTimingWeighted(x, w, 0.5) },
      "medianDeterministic" -> { case Seq(x, d) =>
        graft.functions.QuantileDeterministic(x, d, 0.5) },
      // uniqUpTo(N)(x…) arrives flattened; multiple exprs hash as a
      // tuple (AggregateFunctionUniqUpTo.h)
      "uniqUpTo" -> { case args :+ n if n.foldable && args.nonEmpty =>
        // multi-arg / tuple forms count distinct TUPLES — uniqUpTo is
        // exact, so any injective-enough 64-bit key works (xxhash64)
        val child = args match {
          case Seq(s)
              if s.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CreateNamedStruct] =>
            new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(s))
          case Seq(single) => single
          case more =>
            new org.apache.spark.sql.catalyst.expressions.XxHash64(more)
        }
        graft.functions.UniqUpTo(child, evalD(n).toInt) },
      // arrayUniq(arr…) — distinct elements (lockstep tuples for
      // multiple arrays), a scalar fn (FunctionsArray.h arrayUniq)
      "arrayUniq" -> viaColumn { cols =>
        import org.apache.spark.sql.functions._
        val tuples = cols match {
          case Seq(a) => a
          case more => more.reduce((a, b) => zip_with(a, b, (x, y) => struct(x, y)))
        }
        size(array_distinct(tuples)).cast("long") },
      "quantileDeterministic" -> {
        case Seq(x, d, l) if l.foldable =>
          graft.functions.QuantileDeterministic(x, d, evalD(l))
        case Seq(x, d) => graft.functions.QuantileDeterministic(x, d, 0.5) },
      "quantileTDigest" -> {
        case Seq(x, l) if l.foldable => graft.functions.QuantileTDigest(x, evalD(l))
        case Seq(x) => graft.functions.QuantileTDigest(x, 0.5) },
      "medianTDigest" -> { case Seq(x) => graft.functions.QuantileTDigest(x, 0.5) },
      "quantilesTDigest" -> { case Seq(x) =>
        viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x)) },
      "quantilesTDigestWeighted" -> { case Seq(x, w) =>
        viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x)) },
      "quantilesDeterministic" -> {
        case Seq(x, d) => viaColumn { _ => org.apache.spark.sql.functions.array().cast("array<double>") }(Seq(x))
        case x +: d +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        graft.functions.QuantilesDeterministic(x, d, levels.map(evalD)) })
  }

  // ---- generic -State / -Merge / -MergeState dispatch ------------
  // (AggregateFunctionFactory.cpp:163-279 combinator registration).
  // A state in the Spark model is the partial-aggregate VALUE:
  // distributive aggregates carry the value itself, the uniq family
  // the distinct set, groupArray the collected list, avg its
  // (sum, count) pair (AggregateFunctionAvg state layout), quantile
  // reservoirs the collected values. Every spelling below is
  // generated from one per-base model, so -State inserts compose with
  // AggregatingMergeTree storage (ChTypes AggregateFunction parsing
  // uses the same layouts) and -Merge is an ordinary re-aggregate —
  // at scale both are plain partial→final hash aggregates.
  private val stateMergeFns: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    // value-state families: state == partial value; Merge re-applies
    // the combining aggregate over stored values
    val valueFamilies: Seq[(String, Column => Column, Column => Column)] = Seq(
      ("sum", (x: Column) => sum(x), (s: Column) => sum(s)),
      ("min", (x: Column) => min(x), (s: Column) => min(s)),
      ("max", (x: Column) => max(x), (s: Column) => max(s)),
      ("any", (x: Column) => first(x, ignoreNulls = true),
        (s: Column) => first(s, ignoreNulls = true)),
      ("anyLast", (x: Column) => last(x, ignoreNulls = true),
        (s: Column) => last(s, ignoreNulls = true)))
    val valueEntries = valueFamilies.flatMap { case (base, st, comb) =>
      Seq(
        base + "State" -> viaColumn { case Seq(x) => st(x) },
        base + "IfState" -> viaColumn { case Seq(x, c) => st(when(c, x)) },
        base + "Merge" -> viaColumn { case Seq(s) => comb(s) },
        base + "IfMerge" -> viaColumn { case Seq(s) => comb(s) },
        base + "MergeState" -> viaColumn { case Seq(s) => comb(s) })
    }
    val countEntries = Seq(
      "countMerge" -> viaColumn { case Seq(s) => sum(s).cast("long") },
      "countMergeState" -> viaColumn { case Seq(s) => sum(s).cast("long") },
      "countIfState" -> viaColumn { case Seq(c) =>
        count(when(c, lit(1))) },
      "countIfMerge" -> viaColumn { case Seq(s) => sum(s).cast("long") })
    val avgEntries = Seq(
      "avgState" -> viaColumn { case Seq(x) =>
        struct(sum(x).as("s"), count(x).as("c")) },
      "avgIfState" -> viaColumn { case Seq(x, c) =>
        struct(sum(when(c, x)).as("s"), count(when(c, x)).as("c")) },
      "avgMerge" -> viaColumn { case Seq(s) =>
        sum(s.getField("s")).cast("double") / sum(s.getField("c")).cast("double") },
      "avgIfMerge" -> viaColumn { case Seq(s) =>
        sum(s.getField("s")).cast("double") / sum(s.getField("c")).cast("double") },
      "avgMergeState" -> viaColumn { case Seq(s) =>
        struct(sum(s.getField("s")).as("s"), sum(s.getField("c")).as("c")) })
    // quantile reservoir: state = collected values (below the 8192
    // sample threshold the reference reservoir holds everything, the
    // corpus regime); Merge = interpolated quantile over the union.
    // Trailing foldable args are the flattened level parameters.
    def listState: Seq[Expression] => Expression =
      { case x +: _ => viaColumn { case Seq(xc) => collect_list(xc) }(Seq(x)) }
    val quantEntries: Seq[(String, Seq[Expression] => Expression)] = Seq(
      "quantileState" -> listState,
      "quantilesState" -> listState,
      "medianState" -> listState,
      "quantileMerge" -> { case s +: rest =>
        val l = rest.headOption.map(evalD).getOrElse(0.5)
        viaColumn { case Seq(sc) =>
          arrQuantileCol(flatten(collect_list(sc)), l) }(Seq(s)) },
      "quantilesMerge" -> { case s +: levels if levels.nonEmpty && levels.forall(_.foldable) =>
        viaColumn { case Seq(sc) =>
          val flat = flatten(collect_list(sc))
          array(levels.map(l => arrQuantileCol(flat, evalD(l))): _*) }(Seq(s)) },
      "medianMerge" -> { case Seq(s) =>
        viaColumn { case Seq(sc) =>
          arrQuantileCol(flatten(collect_list(sc)), 0.5) }(Seq(s)) },
      "quantileMergeState" -> { case s +: _ =>
        viaColumn { case Seq(sc) => flatten(collect_list(sc)) }(Seq(s)) },
      "quantilesMergeState" -> { case s +: _ =>
        viaColumn { case Seq(sc) => flatten(collect_list(sc)) }(Seq(s)) },
      "groupArrayMergeState" -> viaColumn { case Seq(s) =>
        flatten(collect_list(s)) },
      "groupUniqArrayMergeState" -> viaColumn { case Seq(s) =>
        distinctSetMerge(s) })
    valueEntries ++ countEntries ++ avgEntries ++ quantEntries
  }

  /** Date-family names accepting the reference's optional trailing
    * TIMEZONE argument (DateTimeTransforms.h: every transform takes a
    * DateLUT). The wrapper shifts the instant to that zone's wall
    * clock (from_utc_timestamp) and reuses the 1-arg builder — for
    * Date/number results that is exact; for DateTime results the
    * value stays in shifted wall-clock form, which renders exactly as
    * the reference renders a DateTime('zone') column (corpus 00189).
    */
  private val tzAwareDateFns: Set[String] = Set(
    "tomonday", "tostartofmonth", "tostartofquarter", "tostartofyear",
    "toyear", "tomonth", "todayofmonth",
    "todayofweek", "tohour", "tominute", "tosecond",
    "torelativeyearnum", "torelativemonthnum", "torelativeweeknum",
    "torelativedaynum", "tostring", "todate", "toyyyymm")

  /** The DateTime-returning subset, wrapped with the back-conversion
    * variant. */
  private val tzAwareDateTimeFns: Set[String] = Set(
    "totime", "tostartofday", "tostartofhour", "tostartofminute",
    "tostartoffiveminute", "timeslot")

  private def isTzLiteral(e: Expression): Boolean =
    e.foldable && e.dataType == StringType && {
      val v = Option(e.eval(null)).map(_.toString).getOrElse("")
      v == "UTC" || v.contains("/")
    }

  private def tzWrap(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    case init :+ tz if init.nonEmpty && isTzLiteral(tz) =>
      b(FromUTCTimestamp(Cast(init.head, TimestampType), tz) +: init.tail)
    case other => b(other)
  }

  /** Like [[tzWrap]] but for DateTime-RETURNING transforms: the
    * result converts back to an instant, so a downstream
    * `toString(x, tz)` (which shifts again for display) round-trips
    * exactly as the reference's DateTime('zone') column does
    * (00189's `toString(toTime(dt, tz), tz)` pairs). */
  private def tzWrapDateTime(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    case init :+ tz if init.nonEmpty && isTzLiteral(tz) =>
      ToUTCTimestamp(
        b(FromUTCTimestamp(Cast(init.head, TimestampType), tz) +: init.tail), tz)
    case other => b(other)
  }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = {
    val all = baseFns ++ emptyArrayFns ++ ifCombinatorFns ++ combinatorFns ++
      quantileFns ++ arrayReduceFns ++ stateMergeFns
    // A few names appear in more than one sub-list (e.g. bitTest):
    // registration order made the LAST one win; keep that contract
    // explicitly now that registration is idempotent. The registry
    // lowercases names, so dedupe case-insensitively.
    val byName = scala.collection.mutable.LinkedHashMap[String, (String, Seq[Expression] => Expression)]()
    all.foreach { case e @ (n, _) => byName(n.toLowerCase(java.util.Locale.ROOT)) = e }
    tzAwareDateFns.foreach(k => byName.get(k).foreach { case (n, b) =>
      byName(k) = (n, tzWrap(b))
    })
    tzAwareDateTimeFns.foreach(k => byName.get(k).foreach { case (n, b) =>
      byName(k) = (n, tzWrapDateTime(b))
    })
    byName.values.toSeq
  }

  /** Dialect names that shadow a Spark built-in (sum, if, transform,
    * hex, …). These are NEVER left in the session registry: they are
    * installed only inside [[withDialectFunctions]] and restored
    * afterwards, so engine DataFrame/SQL queries in the same session
    * keep resolving Spark natives. */
  private lazy val (collidingFns, safeFns) =
    fns.partition { case (name, _) =>
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(FunctionIdentifier(name.toLowerCase(java.util.Locale.ROOT)))
    }

  /** Register the CH-named functions whose names don't collide with
    * Spark built-ins. Idempotent per session (re-registration would
    * spam "replaced a previously registered function" warnings). */
  def registerChFunctions(spark: SparkSession): Unit = {
    graft.GraftFunctions.register(spark)
    val reg = spark.sessionState.functionRegistry
    safeFns.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.lookupFunction(id).exists(_.getClassName == getClass.getName))
        reg.registerFunction(id, new ExpressionInfo(getClass.getName, name), builder)
    }
  }

  /** Run `body` (which must analyze its plans eagerly — spark.sql and
    * Dataset construction both do) with the full dialect function
    * surface installed, then put back whatever the session registry
    * held for the colliding names. Re-entrant: a nested call restores
    * to the outer call's view, the outer call restores the Spark
    * built-ins. */
  def withDialectFunctions[T](spark: SparkSession)(body: => T): T = {
    registerChFunctions(spark)
    val reg = spark.sessionState.functionRegistry
    val saved = collidingFns.map { case (name, _) =>
      val id = FunctionIdentifier(name)
      (id, reg.lookupFunction(id), reg.lookupFunctionBuilder(id))
    }
    collidingFns.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      reg.dropFunction(id) // drop first: replace-in-place logs a warning
      reg.registerFunction(id, new ExpressionInfo(getClass.getName, name), builder)
    }
    try body
    finally saved.foreach { case (id, info, builder) =>
      reg.dropFunction(id)
      (info, builder) match {
        case (Some(i), Some(b)) => reg.registerFunction(id, i, b)
        case _ => ()
      }
    }
  }
}
