package graft

import graft.sql.{ChDdl, ChSql}

class ChDdlSpec extends SparkSpec {

  test("create / insert / select round-trip (Memory engine)") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE t1 (s String, arr Array(UInt8)) ENGINE = Memory")
    ChDdl.execute(spark, "INSERT INTO t1 VALUES ('Hello', [1,2]), ('World', [3,4,5]), ('Empty', [])")
    val got = ChDdl.execute(spark, "SELECT s, arr FROM t1 ORDER BY s").get
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    assert(got === Map("Hello" -> List(1, 2), "World" -> List(3, 4, 5), "Empty" -> Nil))
    ChDdl.execute(spark, "DROP TABLE t1")
  }

  test("db-qualified summing table with OPTIMIZE folds rows") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE test.sm (d Date, k UInt64, v Int8) ENGINE=SummingMergeTree(d, k, 8192)")
    ChDdl.execute(spark, "INSERT INTO test.sm VALUES ('2015-01-01', 1, 10)")
    ChDdl.execute(spark, "INSERT INTO test.sm VALUES ('2015-01-01', 1, -3),('2015-01-01', 2, 7)")
    ChDdl.execute(spark, "OPTIMIZE TABLE test.sm")
    val got = ChDdl.execute(spark, "SELECT k, v FROM test.sm ORDER BY k").get
      .collect().map(r => (r.getDecimal(0).longValue(), r.getLong(1))).toMap
    assert(got === Map(1L -> 7L, 2L -> 7L))
    ChDdl.execute(spark, "DROP TABLE test.sm")
  }

  test("ch array indexing: 1-based, negative from end, default out of range") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE ix (arr Array(Int32), id Int32) ENGINE = Memory")
    ChDdl.execute(spark,
      "INSERT INTO ix VALUES ([11,12,13], 2), ([11,12], -1), ([11,12], 0), ([11], 5)")
    val got = ChDdl.execute(spark, "SELECT arr[id] FROM ix").get
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(12, 12, 0, 0))
    // string arrays default to ''
    ChDdl.execute(spark, "CREATE TABLE ixs (arr Array(String)) ENGINE = Memory")
    ChDdl.execute(spark, "INSERT INTO ixs VALUES (['a','b'])")
    assert(ChDdl.execute(spark, "SELECT arr[7] FROM ixs").get
      .collect()(0).getString(0) === "")
    ChDdl.execute(spark, "DROP TABLE ix")
    ChDdl.execute(spark, "DROP TABLE ixs")
  }

  test("insert-select appends through the dialect") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE nums (n UInt32) ENGINE = TinyLog")
    ChDdl.execute(spark, "INSERT INTO nums SELECT number FROM system.numbers LIMIT 5")
    ChDdl.execute(spark, "INSERT INTO nums VALUES (100)")
    val got = ChDdl.execute(spark, "SELECT sum(n) FROM nums").get.collect()(0).getLong(0)
    assert(got === 110L)
    ChDdl.execute(spark, "DROP TABLE nums")
  }

  test("bare ARRAY JOIN shadows the source column") {
    assert(ChSql.translate("SELECT s, arr FROM t ARRAY JOIN arr")
      .contains("LATERAL VIEW"))
  }

  test("bare LEFT ARRAY JOIN keeps OUTER semantics, no dangling LEFT") {
    val t = ChSql.translate("SELECT x FROM t LEFT ARRAY JOIN arr")
    assert(t.contains("LATERAL VIEW OUTER explode(arr)"), t)
    assert(!t.matches("(?s).*\\bLEFT\\s+LATERAL.*"), t)
  }

  test("qualified column indexing translates cleanly") {
    val t = ChSql.translate("SELECT t.arr[1] FROM tbl t")
    assert(t.contains("charrayelement(t.arr, 1)"), t)
  }

  test("double dash inside a string literal is not a comment") {
    ChDdl.reset(spark)
    val r = ChDdl.execute(spark, "SELECT 'a--b' AS s").get.collect()(0).getString(0)
    assert(r === "a--b")
  }

  test("range(0) and arrayEnumerate on empty arrays yield empty arrays") {
    ChDdl.reset(spark)
    assert(ChDdl.execute(spark, "SELECT range(0) AS r").get
      .collect()(0).getSeq[Long](0).isEmpty)
    assert(ChDdl.execute(spark, "SELECT arrayEnumerate(emptyArrayUInt8()) AS r").get
      .collect()(0).getSeq[Int](0).isEmpty)
    assert(ChDdl.execute(spark, "SELECT range(3) AS r").get
      .collect()(0).getSeq[Long](0) === Seq(0L, 1L, 2L))
  }

  test("ReplacingMergeTree OPTIMIZE keeps the max-version row") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE test.rp (d Date, k UInt32, ver UInt32, v String) ENGINE=ReplacingMergeTree(d, k, 8192, ver)")
    ChDdl.execute(spark, "INSERT INTO test.rp VALUES ('2020-01-01', 1, 1, 'old')")
    ChDdl.execute(spark, "INSERT INTO test.rp VALUES ('2020-01-01', 1, 2, 'new'), ('2020-01-01', 2, 1, 'only')")
    ChDdl.execute(spark, "OPTIMIZE TABLE test.rp")
    val got = ChDdl.execute(spark, "SELECT k, v FROM test.rp ORDER BY k").get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "new", 2L -> "only"))
    ChDdl.execute(spark, "DROP TABLE test.rp")
  }

  test("SummingMergeTree with no numeric non-key columns degrades to dedup") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE test.sv (d Date, k UInt32, v String) ENGINE=SummingMergeTree(d, k, 8192)")
    ChDdl.execute(spark, "INSERT INTO test.sv VALUES ('2020-01-01', 1, 'a'), ('2020-01-01', 1, 'b')")
    ChDdl.execute(spark, "OPTIMIZE TABLE test.sv")
    assert(ChDdl.execute(spark, "SELECT count(*) FROM test.sv").get
      .collect()(0).getLong(0) === 1L)
    ChDdl.execute(spark, "DROP TABLE test.sv")
  }

  test("PREWHERE combined with WHERE merges into one conjunction") {
    val t = graft.sql.ChSql.translate(
      "SELECT count() FROM t PREWHERE a > 1 WHERE b < 2 GROUP BY c")
    assert(t.contains("WHERE (a > 1) AND (b < 2)"), t)
    val solo = graft.sql.ChSql.translate("SELECT count() FROM t PREWHERE a > 1")
    assert(solo.contains("WHERE a > 1"), solo)
  }

  test("table name inside a string literal is not rewritten") {
    ChDdl.execute(spark, "CREATE TABLE test.lit (x UInt32) ENGINE=Memory")
    ChDdl.execute(spark, "INSERT INTO test.lit VALUES (7)")
    val r = ChDdl.execute(spark,
      "SELECT 'test.lit' AS tag, x FROM test.lit").get.collect()(0)
    assert(r.getString(0) === "test.lit")
    assert(r.getLong(1) === 7L)
    ChDdl.execute(spark, "DROP TABLE test.lit")
  }

  test("ALTER TABLE add/modify/drop column evolves the schema in place") {
    ChDdl.execute(spark, "CREATE TABLE test.alt (k UInt32, v String) ENGINE=Memory")
    ChDdl.execute(spark, "INSERT INTO test.alt VALUES (1, 'a'), (2, 'b')")
    // ADD with AFTER positioning; existing rows take the default
    ChDdl.execute(spark, "ALTER TABLE test.alt ADD COLUMN n UInt32 AFTER k")
    val df1 = ChDdl.execute(spark, "SELECT * FROM test.alt ORDER BY k").get
    assert(df1.columns.toSeq === Seq("k", "n", "v"))
    assert(df1.collect()(0).getLong(1) === 0L)
    // MODIFY retypes in place (UInt32 -> String)
    ChDdl.execute(spark, "ALTER TABLE test.alt MODIFY COLUMN n String")
    val df2 = ChDdl.execute(spark, "SELECT n FROM test.alt").get
    assert(df2.schema.fields.head.dataType ===
      org.apache.spark.sql.types.StringType)
    // DROP removes; inserts against the new schema work
    ChDdl.execute(spark, "ALTER TABLE test.alt DROP COLUMN v")
    ChDdl.execute(spark, "INSERT INTO test.alt VALUES (3, 'three')")
    val rows = ChDdl.execute(spark, "SELECT k, n FROM test.alt ORDER BY k").get.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(2).getString(1) === "three")
    ChDdl.execute(spark, "DROP TABLE test.alt")
  }

  test("RENAME TABLE moves the catalog entry") {
    ChDdl.execute(spark, "CREATE TABLE test.rn_a (x UInt32) ENGINE=Memory")
    ChDdl.execute(spark, "INSERT INTO test.rn_a VALUES (9)")
    ChDdl.execute(spark, "RENAME TABLE test.rn_a TO test.rn_b")
    assert(ChDdl.execute(spark, "SELECT x FROM test.rn_b").get
      .collect()(0).getLong(0) === 9L)
    intercept[Exception] {
      ChDdl.execute(spark, "SELECT x FROM test.rn_a").get.collect()
    }
    ChDdl.execute(spark, "DROP TABLE test.rn_b")
  }

  test("out-of-range index on an array of tuples yields a default tuple") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      array(struct(lit(5).as("a"), lit("x").as("b"))).as("arr"))
    val got = df.select(Bridge.column(graft.functions.ChArrayElement(
      Bridge.expression(col("arr")), Bridge.expression(lit(9)))).as("e"))
      .collect()(0).getStruct(0)
    assert(got.getInt(0) === 0)
    assert(got.getString(1) === "")
  }

  test("CAST to Enum by name folds to the validated name (DataTypeEnum cast)") {
    // string-literal operand: name channel, renders as the name
    assert(graft.sql.ChDdl.executeRendered(spark,
      "SELECT CAST('a' AS Enum8('a' = 1, 'b' = 2))") === Some("a"))
    // array-of-literals form (00367 shape)
    assert(graft.sql.ChDdl.executeRendered(spark,
      "SELECT CAST(['hello'] AS Array(Enum8('hello' = 1))) AS x")
      === Some("['hello']"))
    // numeric operand keeps the storage channel (00324 hashes it)
    assert(graft.sql.ChDdl.executeRendered(spark,
      "SELECT CAST(1 AS Enum8('a' = 1, 'b' = 2))") === Some("1"))
    // unknown name throws, as the reference's cast does
    intercept[IllegalArgumentException](graft.sql.ChDdl.executeRendered(spark,
      "SELECT CAST('zzz' AS Enum8('a' = 1))"))
  }

  test("FORMAT BlockTabSeparated transposes: one line per COLUMN, tab-joined") {
    // reference TabSeparatedBlockOutputStream.cpp:15-30 writes each
    // column's escaped values on its own line (corpus 00364 pins the
    // float rendering through this format)
    assert(graft.sql.ChDdl.executeRendered(spark,
      "SELECT number AS n, toString(number) AS s FROM system.numbers " +
        "LIMIT 3 FORMAT BlockTabSeparated")
      === Some("0\t1\t2\n0\t1\t2"))
    // values use TSV escaping: an embedded tab is \t, not a separator
    assert(graft.sql.ChDdl.executeRendered(spark,
      "SELECT 'a\\tb' AS x, 1 AS y FORMAT BlockTabSeparated")
      === Some("a\\tb\n1"))
  }

  test("Merge table with dropped members fails only on its own read") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE mm_a (x Int32) ENGINE = Memory")
    ChDdl.execute(spark, "INSERT INTO mm_a VALUES (1), (2)")
    ChDdl.execute(spark, "CREATE TABLE mm_all (x Int32) ENGINE = Merge(default, '^mm_')")
    assert(ChDdl.execute(spark, "SELECT count() AS c FROM mm_all").get
      .collect()(0).getLong(0) === 2L)
    ChDdl.execute(spark, "DROP TABLE mm_a")
    // unrelated statements keep working (StorageMerge resolves
    // membership only when the Merge table itself is read)
    assert(ChDdl.execute(spark, "SELECT 1 AS one").get.collect()(0).getInt(0) === 1)
    intercept[IllegalArgumentException](
      ChDdl.execute(spark, "SELECT count() FROM mm_all"))
    // a Merge table may be CREATED before any member exists
    ChDdl.execute(spark, "CREATE TABLE me_all (x Int32) ENGINE = Merge(default, '^me_m')")
    ChDdl.execute(spark, "CREATE TABLE me_m1 (x Int32) ENGINE = Memory")
    ChDdl.execute(spark, "INSERT INTO me_m1 VALUES (7)")
    assert(ChDdl.execute(spark, "SELECT x FROM me_all").get
      .collect()(0).getInt(0) === 7)
    Seq("mm_all", "me_all", "me_m1").foreach(t =>
      ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  test("admin surface: EXISTS TABLE / SHOW PROCESSLIST / KILL QUERY") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE adm (x Int32) ENGINE = Memory")
    // EXISTS [TABLE] name → one 0/1 row (InterpreterExistsQuery)
    assert(ChDdl.execute(spark, "EXISTS TABLE adm").get
      .collect()(0).getInt(0) === 1)
    assert(ChDdl.execute(spark, "EXISTS adm").get.collect()(0).getInt(0) === 1)
    assert(ChDdl.execute(spark, "EXISTS TABLE no_such_table").get
      .collect()(0).getInt(0) === 0)
    // SHOW PROCESSLIST resolves to the live job table (may be empty)
    val pl = ChDdl.execute(spark, "SHOW PROCESSLIST").get
    assert(pl.columns.toSeq === Seq("job_id", "status"))
    // KILL QUERY on an unknown query_id is a no-op, like the reference
    assert(ChDdl.execute(spark,
      "KILL QUERY WHERE query_id = 'no-such-query'") === None)
    ChDdl.execute(spark, "DROP TABLE adm")
  }

  test("Join(ANY, …) engine folds at INSERT: first row per key wins") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE ja (k UInt32, v String) ENGINE = Join(ANY, LEFT, k)")
    ChDdl.execute(spark, "INSERT INTO ja VALUES (1, 'a')")
    // later insert of an existing key is ignored (Join::insertFromBlock
    // under ANY strictness); within one block the first occurrence wins
    ChDdl.execute(spark, "INSERT INTO ja VALUES (1, 'b'), (2, 'c'), (2, 'd')")
    val got = ChDdl.execute(spark, "SELECT k, v FROM ja ORDER BY k").get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toList
    assert(got === List(1L -> "a", 2L -> "c"))
    // ALL strictness keeps every row — no fold
    ChDdl.execute(spark,
      "CREATE TABLE jall (k UInt32, v String) ENGINE = Join(ALL, LEFT, k)")
    ChDdl.execute(spark, "INSERT INTO jall VALUES (1, 'a'), (1, 'b')")
    assert(ChDdl.execute(spark, "SELECT count() FROM jall").get
      .collect()(0).getLong(0) === 2L)
    Seq("ja", "jall").foreach(t => ChDdl.execute(spark, s"DROP TABLE $t"))
  }

  private def rows(sql: String): Seq[String] =
    ChDdl.execute(spark, sql).get.collect().map(_.mkString("|")).toSeq

  /** `rows`, with arrays spelled [a,b]. */
  private def cells(sql: String): Seq[String] =
    ChDdl.execute(spark, sql).get.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq

  test("parts read in insert order, each sorted by the key") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE po (d Date, k UInt32, v String) ENGINE = MergeTree(d, k, 8192)")
    Seq("('2020-01-01', 3, 'a'), ('2020-01-01', 1, 'b'), ('2020-01-01', 2, 'c')",
      "('2020-02-01', 9, 'd'), ('2020-01-01', 5, 'e')",
      "('2020-01-01', 7, 'f'), ('2020-02-01', 0, 'g'), ('2020-01-01', 4, 'h')")
      .foreach(vs => ChDdl.execute(spark, s"INSERT INTO po VALUES $vs"))
    val order = "SELECT groupArray(k), groupArray(v) FROM po"
    assert(cells(order) === Seq("[1,2,3,5,9,4,7,0]|[b,c,a,e,d,h,f,g]"))
    assert(rows("SELECT k, blockSize(), _part_index FROM po ORDER BY k") === Seq(
      "0|3|2", "1|3|0", "2|3|0", "3|3|0", "4|3|2", "5|2|1", "7|3|2", "9|2|1"))
    // DETACH parks the month; ATTACH appends it after the rest, and the
    // next INSERT reads behind both
    ChDdl.execute(spark, "ALTER TABLE po DETACH PARTITION 202002")
    assert(cells(order) === Seq("[1,2,3,5,4,7]|[b,c,a,e,h,f]"))
    ChDdl.execute(spark, "ALTER TABLE po ATTACH PARTITION 202002")
    assert(cells(order) === Seq("[1,2,3,5,4,7,9,0]|[b,c,a,e,h,f,d,g]"))
    // a column added between INSERTs reads its default in older parts
    ChDdl.execute(spark, "ALTER TABLE po ADD COLUMN w UInt32")
    ChDdl.execute(spark, "INSERT INTO po VALUES ('2020-01-01', 8, 'i', 80), " +
      "('2020-01-01', 6, 'j', 60)")
    assert(cells("SELECT groupArray(k), groupArray(w) FROM po") ===
      Seq("[1,2,3,5,4,7,9,0,6,8]|[0,0,0,0,0,0,0,0,60,80]"))
    ChDdl.execute(spark, "DROP TABLE po")
  }

  test("Buffer and replica reads see the destination's parts in order") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE pd (d Date, k UInt32) ENGINE = MergeTree(d, k, 8192)")
    ChDdl.execute(spark, "CREATE TABLE pb (d Date, k UInt32) ENGINE = " +
      "Buffer(default, pd, 1, 10, 100, 10000, 1000000, 10000000, 100000000)")
    ChDdl.execute(spark, "INSERT INTO pd VALUES ('2020-01-01', 3), ('2020-01-01', 1)")
    ChDdl.execute(spark, "INSERT INTO pb VALUES ('2020-01-01', 2), ('2020-01-01', 0)")
    Seq("pb", "pd").foreach(t =>
      assert(cells(s"SELECT groupArray(k) FROM $t") === Seq("[1,3,0,2]"), t))
    Seq("r1", "r2").foreach(r => ChDdl.execute(spark, s"CREATE TABLE p$r (d Date, k UInt32) " +
      s"ENGINE = ReplicatedMergeTree('/clickhouse/tables/po', '$r', d, k, 8192)"))
    ChDdl.execute(spark, "INSERT INTO pr1 VALUES ('2020-01-01', 3), ('2020-02-01', 1), " +
      "('2020-01-01', 2)")
    ChDdl.execute(spark, "INSERT INTO pr2 VALUES ('2020-01-01', 0), ('2020-01-01', 5)")
    ChDdl.execute(spark, "INSERT INTO pr1 VALUES ('2020-02-01', 4)")
    Seq("pr1", "pr2").foreach(t =>
      assert(cells(s"SELECT groupArray(k) FROM $t") === Seq("[2,3,1,0,5,4]"), t))
    assert(rows("SELECT name FROM system.parts WHERE table = 'pr2' ORDER BY name") === Seq(
      "20200101_20200101_200_200_0", "20200101_20200101_201_201_0",
      "20200201_20200201_200_200_0", "20200201_20200201_201_201_0"))
    // the detached parts come back as the slices their INSERTs stored
    ChDdl.execute(spark, "ALTER TABLE pr1 DETACH PARTITION 202002")
    assert(cells("SELECT groupArray(k) FROM pr1") === Seq("[2,3,0,5]"))
    ChDdl.execute(spark, "ALTER TABLE pr1 ATTACH PARTITION 202002")
    assert(cells("SELECT groupArray(k) FROM pr1") === Seq("[2,3,0,5,1,4]"))
    ChDdl.reset(spark)
  }

  test("a read scans the stored part: the INSERT's plan does not run again") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE big (d Date, k UInt64, s String) ENGINE = MergeTree(d, k, 8192)")
    ChDdl.execute(spark, "INSERT INTO big SELECT toDate('2024-01-01'), number, " +
      "toString(number) FROM system.numbers LIMIT 200000")
    val q = "SELECT count(), sum(k) FROM big"
    assert(rows(q) === Seq("200000|19999900000"))
    val again = ChDdl.execute(spark, q).get
    assert(again.collect().map(_.mkString("|")).toSeq === Seq("200000|19999900000"))
    val plan = nodeNames(again)
    assert(plan.intersect(Seq("Range", "Sort", "LocalTableScan")).isEmpty,
      again.queryExecution.executedPlan.toString)
    ChDdl.execute(spark, "DROP TABLE big")
  }

  test("a table's plan does not grow with its INSERTs") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE grow (d Date, k UInt32, v Int32) ENGINE = SummingMergeTree(d, k, 8192)")
    def insert(i: Int): Unit =
      ChDdl.execute(spark, s"INSERT INTO grow VALUES ('2020-01-01', $i, 1)")
    def nodes: Int = ChDdl.execute(spark, "SELECT k, v FROM grow").get
      .queryExecution.analyzed.collect { case p => p }.size
    // an empty part reads as no rows
    ChDdl.execute(spark, "INSERT INTO grow SELECT toDate('2020-01-01'), 1, 1 WHERE 0")
    assert(ChDdl.execute(spark, "SELECT k FROM grow").get.count() === 0L)
    insert(0)
    val one = nodes
    (1 until 8).foreach(insert)
    assert(nodes === one)
    assert(rows("SELECT count(), sum(k) FROM grow") === Seq("8|28"))
    ChDdl.execute(spark, "DROP TABLE grow")
  }

  test("a table of empty INSERTs counts 0 rows") {
    ChDdl.reset(spark)
    // Memory parts are not coalesced, so an empty one has no partition
    ChDdl.execute(spark, "CREATE TABLE none (d Date, k UInt32) ENGINE = Memory")
    (1 to 2).foreach(_ => ChDdl.execute(spark,
      "INSERT INTO none SELECT toDate('2020-01-01'), 1 WHERE 0"))
    // Spark's keyless aggregate gives one row over no input; the
    // dialect's gives none (the reference's empty-input aggregate)
    val table = ChDdl.execute(spark, "SELECT k FROM none").get
    import org.apache.spark.sql.functions.{count, lit, sum}
    assert(table.agg(count(lit(1)), sum("k")).collect().map(_.mkString("|")).toSeq ===
      Seq("0|null"))
    assert(rows("SELECT count() FROM none") === Nil)
    ChDdl.execute(spark, "DROP TABLE none")
  }

  test("a part whose source blocks are cached still reads after older parts") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE src (d Date, k UInt32, ver UInt32, v String) " +
      "ENGINE = MergeTree(d, k, 8192)")
    ChDdl.execute(spark, "INSERT INTO src VALUES ('2020-01-01', 9, 1, 's9'), " +
      "('2020-01-01', 2, 5, 'from-src')")
    // the first read fills src's blocks and the second sees where they
    // are, so a part selected from src has a preferred location while
    // the VALUES part before it has none
    (1 to 2).foreach(_ => assert(rows("SELECT count() FROM src") === Seq("2")))
    ChDdl.execute(spark, "CREATE TABLE dst (d Date, k UInt32, ver UInt32, v String) " +
      "ENGINE = ReplacingMergeTree(d, k, 8192, ver)")
    ChDdl.execute(spark, "INSERT INTO dst VALUES ('2020-01-01', 2, 5, 'values'), " +
      "('2020-01-01', 1, 1, 'v1')")
    ChDdl.execute(spark, "INSERT INTO dst SELECT d, k, ver, v FROM src")
    assert(cells("SELECT groupArray(k), groupArray(v) FROM dst") ===
      Seq("[1,2,2,9]|[v1,values,from-src,s9]"))
    // equal versions: the last insert wins
    assert(rows("SELECT k, v FROM dst FINAL ORDER BY k") ===
      Seq("1|v1", "2|from-src", "9|s9"))
    ChDdl.reset(spark)
  }

  /** Whether FINAL's analyzed plan still folds (an Aggregate). */
  private def finalFolds(sql: String): Boolean =
    ChDdl.execute(spark, sql).get.queryExecution.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  /** CREATE, the INSERTs, then FINAL before OPTIMIZE, after it and
    * after a second OPTIMIZE must agree, as must a plain read of the
    * optimized table. `query` spells the read over a FROM target.
    * Returns the FINAL rows. */
  private def finalStableUnderOptimize(create: String, inserts: Seq[String],
      table: String)(query: String => String): Seq[String] = {
    ChDdl.reset(spark)
    ChDdl.execute(spark, create)
    inserts.foreach(ChDdl.execute(spark, _))
    val fin = query(s"$table FINAL")
    val before = rows(fin)
    ChDdl.execute(spark, s"OPTIMIZE TABLE $table")
    assert(rows(fin) === before)
    assert(rows(query(table)) === before)
    ChDdl.execute(spark, s"OPTIMIZE TABLE $table")
    assert(rows(fin) === before)
    ChDdl.execute(spark, s"DROP TABLE $table")
    before
  }

  test("Summing / Replacing FINAL is the same before and after OPTIMIZE") {
    // key 1 sums to zero over a merge and drops; key 3 is a lone zero row
    val sum = finalStableUnderOptimize(
      "CREATE TABLE fs (d Date, k UInt32, v Int32) ENGINE = SummingMergeTree(d, k, 8192)",
      Seq("INSERT INTO fs VALUES ('2020-01-01', 1, 5), ('2020-01-01', 2, 3), ('2020-01-01', 3, 0)",
        "INSERT INTO fs VALUES ('2020-01-01', 1, -5), ('2020-01-01', 2, 4)"),
      "fs")(from => s"SELECT k, v FROM $from ORDER BY k")
    assert(sum === Seq("2|7", "3|0"))
    val rep = finalStableUnderOptimize(
      "CREATE TABLE fr (d Date, k UInt32, ver UInt32, v String) " +
        "ENGINE = ReplacingMergeTree(d, k, 8192, ver)",
      Seq("INSERT INTO fr VALUES ('2020-01-01', 2, 5, 'keep'), ('2020-01-01', 1, 1, 'old')",
        "INSERT INTO fr VALUES ('2020-01-01', 2, 5, 'tie'), ('2020-01-01', 1, 2, 'new')",
        "INSERT INTO fr VALUES ('2020-01-01', 2, 5, 'tie-last'), ('2020-01-01', 1, 0, 'older')"),
      "fr")(from => s"SELECT k, ver, v FROM $from ORDER BY k")
    assert(rep === Seq("1|2|new", "2|5|tie-last"))
  }

  test("Summing FINAL keeps the last group when every group sums to zero") {
    // the reference writes the last group so that a merge of a
    // non-empty input is never empty
    val got = finalStableUnderOptimize(
      "CREATE TABLE fz (d Date, k UInt32, v Int32) ENGINE = SummingMergeTree(d, k, 8192)",
      Seq("INSERT INTO fz VALUES ('2020-01-01', 1, 5), ('2020-01-01', 2, 3)",
        "INSERT INTO fz VALUES ('2020-01-01', 1, -5), ('2020-01-01', 2, -3)"),
      "fz")(from => s"SELECT k, v FROM $from ORDER BY k")
    assert(got === Seq("2|0"))
  }

  test("OPTIMIZE leaves one block of the surviving rows") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE fb (d Date, k UInt32, v Int32) ENGINE = SummingMergeTree(d, k, 8192)")
    ChDdl.execute(spark, "INSERT INTO fb VALUES ('2020-01-01', 1, 5), " +
      "('2020-01-01', 2, 3), ('2020-01-01', 3, 1)")
    ChDdl.execute(spark, "INSERT INTO fb VALUES ('2020-01-01', 1, -5), ('2020-01-01', 2, 4)")
    val q = "SELECT k, v, blockSize(), _part_index FROM fb ORDER BY k, _part_index"
    assert(rows(q) === Seq("1|5|3|0", "1|-5|2|1", "2|3|3|0", "2|4|2|1", "3|1|3|0"))
    // key 1 sums to zero and drops: the part holds two rows, not three
    ChDdl.execute(spark, "OPTIMIZE TABLE fb")
    assert(rows(q) === Seq("2|7|2|0", "3|1|2|0"))
    ChDdl.execute(spark, "DROP TABLE fb")
  }

  test("Collapsing FINAL is the same before and after OPTIMIZE") {
    // k 1: the cancel-and-rewrite state update keeps the last +1 row;
    // k 2: as many -1 as +1 rows ending in +1 keeps both; k 3 cancels
    val got = finalStableUnderOptimize(
      "CREATE TABLE fc (d Date, k UInt32, val UInt32, sign Int8) " +
        "ENGINE = CollapsingMergeTree(d, k, 8192, sign)",
      Seq("INSERT INTO fc VALUES ('2020-01-01', 1, 5, 1), ('2020-01-01', 2, 7, -1), " +
          "('2020-01-01', 3, 9, 1)",
        "INSERT INTO fc VALUES ('2020-01-01', 1, 5, -1), ('2020-01-01', 1, 3, 1), " +
          "('2020-01-01', 2, 8, 1), ('2020-01-01', 3, 9, -1)"),
      "fc")(from => s"SELECT k, val, sign FROM $from ORDER BY k, sign")
    assert(got === Seq("1|3|1", "2|7|-1", "2|8|1"))
  }

  test("Aggregating FINAL is the same before and after OPTIMIZE") {
    // two inserts of uniq/avg states over numbers 0..9 (n % 3 != 0,
    // then n % 3 != 1), keyed by parity
    val got = finalStableUnderOptimize(
      "CREATE TABLE fa (d Date, k UInt32, u AggregateFunction(uniq, UInt64), " +
        "a AggregateFunction(avg, UInt64)) ENGINE = AggregatingMergeTree(d, k, 8192)",
      Seq(0, 1).map(i =>
        "INSERT INTO fa SELECT toDate('2020-01-01') AS d, number % 2 AS k, " +
          "uniqState(number) AS u, avgState(number) AS a FROM (SELECT number FROM " +
          s"system.numbers LIMIT 10) WHERE number % 3 != $i GROUP BY d, k"),
      "fa")(from => s"SELECT k, uniqMerge(u), avgMerge(a) FROM $from GROUP BY k ORDER BY k")
    assert(got === Seq(s"0|5|${30.0 / 7}", "1|5|5.0"))
  }

  test("FINAL folds again after INSERT or ALTER, never skips for Graphite") {
    ChDdl.reset(spark)
    ChDdl.execute(spark, "CREATE TABLE fi (d Date, k UInt32, v Int32) " +
      "ENGINE = SummingMergeTree(d, k, 8192)")
    ChDdl.execute(spark, "INSERT INTO fi VALUES ('2020-01-01', 1, 5), ('2020-01-01', 2, 1)")
    ChDdl.execute(spark, "INSERT INTO fi VALUES ('2020-01-01', 1, 2)")
    val fin = "SELECT k, v FROM fi FINAL ORDER BY k"
    assert(finalFolds(fin))
    ChDdl.execute(spark, "OPTIMIZE TABLE fi")
    assert(!finalFolds(fin))
    assert(rows(fin) === Seq("1|7", "2|1"))
    ChDdl.execute(spark, "INSERT INTO fi VALUES ('2020-01-01', 2, 4), ('2020-01-01', 3, 1)")
    assert(finalFolds(fin))
    assert(rows(fin) === Seq("1|7", "2|5", "3|1"))
    ChDdl.execute(spark, "OPTIMIZE TABLE fi")
    assert(!finalFolds(fin))
    ChDdl.execute(spark, "ALTER TABLE fi ADD COLUMN w Int32")
    assert(finalFolds(fin))
    assert(rows(fin) === Seq("1|7", "2|5", "3|1"))
    // a new sort key changes the fold's grouping, not the data
    ChDdl.execute(spark, "OPTIMIZE TABLE fi")
    assert(!finalFolds(fin))
    ChDdl.execute(spark, "ALTER TABLE fi MODIFY PRIMARY KEY (k, w)")
    assert(finalFolds(fin))
    ChDdl.execute(spark, "DROP TABLE fi")
    // the rollup depends on the time of the fold
    ChDdl.execute(spark, "CREATE TABLE fg (d Date, Path String, Time UInt32, " +
      "Value Float64, Version UInt32) " +
      "ENGINE = GraphiteMergeTree(d, (Path, Time), 8192, 'graphite_rollup')")
    ChDdl.execute(spark, "INSERT INTO fg VALUES ('1970-01-02', 'site.cpu', 90000, 1.5, 1)")
    ChDdl.execute(spark, "OPTIMIZE TABLE fg")
    assert(finalFolds("SELECT Time, Value FROM fg FINAL"))
    ChDdl.execute(spark, "DROP TABLE fg")
  }

  test("reset forgets replicated insert dedup and Buffer destinations") {
    ChDdl.reset(spark)
    val create = "CREATE TABLE rr (d Date, x UInt32) ENGINE = " +
      "ReplicatedMergeTree('/clickhouse/tables/rr', 'r1', d, x, 8192)"
    ChDdl.execute(spark, create)
    ChDdl.execute(spark, "INSERT INTO rr VALUES ('2020-01-01', 1)")
    ChDdl.execute(spark, "CREATE TABLE test.bd (x UInt32) ENGINE = Memory")
    ChDdl.execute(spark, "CREATE TABLE test.bb (x UInt32) ENGINE = " +
      "Buffer(test, bd, 1, 10, 100, 10000, 1000000, 10000000, 100000000)")
    ChDdl.reset(spark)
    ChDdl.execute(spark, create)
    ChDdl.execute(spark, "INSERT INTO rr VALUES ('2020-01-01', 1)")
    assert(ChDdl.execute(spark, "SELECT x FROM rr").get
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // a re-created table named like the old Buffer keeps its own rows
    ChDdl.execute(spark, "CREATE TABLE test.bd (x UInt32) ENGINE = Memory")
    ChDdl.execute(spark, "CREATE TABLE test.bb (x UInt32) ENGINE = Memory")
    ChDdl.execute(spark, "INSERT INTO test.bb VALUES (7)")
    assert(ChDdl.execute(spark, "SELECT x FROM test.bb").get
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(ChDdl.execute(spark, "SELECT x FROM test.bd").get.collect().isEmpty)
    ChDdl.reset(spark)
  }

  test("Buffer over a bare destination name forwards writes to it") {
    ChDdl.execute(spark, "DROP TABLE IF EXISTS bb")
    ChDdl.execute(spark, "DROP TABLE IF EXISTS bd")
    ChDdl.execute(spark, "CREATE TABLE bd (x UInt32) ENGINE = Memory")
    // `default.bd` names the bare `bd`, as it does in reads and INSERTs
    ChDdl.execute(spark, "CREATE TABLE bb (x UInt32) ENGINE = " +
      "Buffer(default, bd, 1, 10, 100, 10000, 1000000, 10000000, 100000000)")
    ChDdl.execute(spark, "INSERT INTO bb VALUES (7)")
    assert(ChDdl.execute(spark, "SELECT x FROM bd").get
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(ChDdl.execute(spark, "SELECT x FROM bb").get
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
    ChDdl.execute(spark, "DROP TABLE bb")
    ChDdl.execute(spark, "DROP TABLE bd")
  }

  /** Parquet view `name` of `rows` rows in 8 files; `rows` / `copies`
    * ids, each `copies` times, one copy with `dup` false. Every file
    * holds both `dup` values, so a filter on it prunes no file. */
  private def idsView(name: String, rows: Long, copies: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("interp").toString + "/t"
    spark.range(0, rows, 1, 8).selectExpr(s"id DIV $copies AS id",
      s"(id DIV $copies) % 89 AS k", s"id % $copies > 0 AS dup").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(name)
  }

  /** Physical node names of `df`'s executed plan, through AQE stages. */
  private def nodeNames(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def names(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => names(a.executedPlan)
      case s: QueryStageExec => names(s.plan)
      case _ => p.nodeName +: p.children.flatMap(names)
    }
    names(df.queryExecution.executedPlan)
  }

  private def wholeStage(df: org.apache.spark.sql.DataFrame): Boolean =
    nodeNames(df).exists(_.startsWith("WholeStageCodegen"))

  /** Does `df`'s executed plan hold a partial aggregate? */
  private def partialAggregate(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    nodeNames(df).contains("PartialSketchAgg") || p.contains("partial_")
  }

  test("a GROUP BY over a dialect table's stored parts is one complete pass, same rows") {
    ChDdl.reset(spark)
    ChDdl.execute(spark,
      "CREATE TABLE gp (d Date, k UInt64, v Int32) ENGINE = MergeTree(d, k, 8192)")
    for (i <- 0 until 3)
      ChDdl.execute(spark, s"INSERT INTO gp SELECT toDate('2024-01-01'), " +
        s"number % 7, toInt32(number + $i) FROM system.numbers LIMIT 1000")
    val q = "SELECT k, count() AS c, sum(v) AS s, max(v) AS m FROM gp GROUP BY k ORDER BY k"
    val df = ChDdl.execute(spark, q).get
    val expected = (0 until 7).map { k =>
      val vs = for (i <- 0 until 3; n <- 0 until 1000 if n % 7 == k) yield (n + i).toLong
      s"$k|${vs.size}|${vs.sum}|${vs.max}"
    }
    assert(df.collect().map(_.mkString("|")).toSeq === expected)
    assert(!partialAggregate(df), df.queryExecution.executedPlan)
    assert(!nodeNames(df).exists(_.contains("Exchange")), df.queryExecution.executedPlan)
    ChDdl.execute(spark, "DROP TABLE gp")
  }

  test("a SELECT over at most 20 x 8192 parquet rows runs interpreted, a larger one compiled") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    idsView("ids_small", 100000, 1)
    idsView("ids_big", 200000, 2)
    /** `text` over `t`: its frame, its rows and the classes compiled. */
    def run(text: String, t: String) = {
      val c0 = METRIC_COMPILATION_TIME.getCount
      val df = ChDdl.execute(spark, text.replace("TBL", t)).get
      val got = df.collect().map(_.mkString("|")).toSeq
      (df, got, METRIC_COMPILATION_TIME.getCount - c0)
    }
    // filter, projection, sort and collect: nothing is compiled
    val sorted = "SELECT id, k, id * 9931 + k AS v FROM TBL WHERE id % 9929 < 3 AND NOT dup " +
      "ORDER BY v DESC"
    val (small, smallRows, smallCompiles) = run(sorted, "ids_small")
    assert(!wholeStage(small), small.queryExecution.executedPlan)
    assert(smallCompiles === 0)
    val (big, bigRows, bigCompiles) = run(sorted, "ids_big")
    assert(wholeStage(big), big.queryExecution.executedPlan)
    assert(bigCompiles > 0)
    assert(smallRows.size === 33)
    assert(smallRows === bigRows)
    // an aggregate and top-k: one complete aggregate pass, an
    // interpreted top-k ordering, nothing compiled
    val top = "SELECT k, count() AS c, sum(id * 9931) AS s FROM TBL WHERE NOT dup " +
      "GROUP BY k ORDER BY c DESC, s DESC LIMIT 10"
    val (smallTop, smallTopRows, smallTopCompiles) = run(top, "ids_small")
    assert(!wholeStage(smallTop), smallTop.queryExecution.executedPlan)
    assert(smallTopCompiles === 0)
    assert(!partialAggregate(smallTop), smallTop.queryExecution.executedPlan)
    val (bigTop, bigTopRows, _) = run(top, "ids_big")
    assert(wholeStage(bigTop), bigTop.queryExecution.executedPlan)
    assert(smallTopRows.size === 10)
    assert(smallTopRows === bigTopRows)
  }

  test("a small dialect query leaves the caller's session, settings and listeners as they were") {
    import org.apache.spark.sql.execution.QueryExecution
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(spark.conf.getOption)
    val dir = java.nio.file.Files.createTempDirectory("interp").toString + "/ts"
    spark.sql("SELECT TIMESTAMP'2020-01-01 00:00:00 UTC' AS ts").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("ts_src")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val tz = "spark.sql.session.timeZone"
    assert(rows("SELECT count() FROM ts_src") === Seq("1"))
    spark.listenerManager.register(l)
    spark.conf.set(tz, "America/New_York")
    try {
      val df = ChDdl.execute(spark, "SELECT toHour(ts) AS h FROM ts_src").get
      assert(df.collect().map(_.getInt(0)).toSeq === Seq(19))
      assert(df.sparkSession.conf.get(tz) === "America/New_York")
      assert(!wholeStage(df), df.queryExecution.executedPlan)
      org.apache.spark.sql.graftbridge.TestBridge.drainListeners(spark.sparkContext)
      assert(seen.contains(df.queryExecution))
    } finally {
      spark.listenerManager.unregister(l)
      spark.conf.set(tz, "UTC")
    }
    assert(keys.map(spark.conf.getOption) === before)
    val plain = spark.sql("SELECT id % 7 AS k, count(*) FROM range(1000) GROUP BY id % 7")
    assert(plain.collect().length === 7)
    assert(wholeStage(plain), plain.queryExecution.executedPlan)
  }
}
