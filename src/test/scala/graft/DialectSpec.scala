package graft

import org.apache.spark.sql.Row

import graft.sql.RedshiftSql.rewrite
import graft.sql.expressions.HashExpressions

/** Dialect-layer specs: each Redshift construct rewrites to runnable Spark
  * SQL (executed, not just string-compared), the registered functions
  * resolve and compute known values, and the rewriter is the identity on
  * already-valid Spark SQL (SURVEY §5.2 property).
  */
class DialectSpec extends SparkSpecBase {

  private def sql1(q: String): Row = spark.sql(rewrite(q)).collect()(0)

  // ---- TOP n ----
  test("TOP n becomes LIMIT n at the end of the block") {
    val r = rewrite("SELECT TOP 10 a, b FROM t ORDER BY a")
    assert(r === "SELECT a, b FROM t ORDER BY a LIMIT 10")
  }
  test("TOP n inside a subquery lands before the closing paren") {
    val r = rewrite("SELECT * FROM (SELECT TOP 3 a FROM t ORDER BY a) s JOIN u ON s.a = u.a")
    assert(r === "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 3) s JOIN u ON s.a = u.a")
  }
  test("TOP n stops at a set-op boundary") {
    val r = rewrite("SELECT TOP 2 a FROM t UNION ALL SELECT a FROM u")
    assert(r === "SELECT a FROM t LIMIT 2 UNION ALL SELECT a FROM u")
  }
  test("a column named top is not a TOP clause") {
    val q = "SELECT top FROM t"
    assert(rewrite(q) === q)
  }
  test("TOP executes") {
    Tables.registerAll(spark, sfDir)
    val rows = spark.sql(rewrite("SELECT TOP 3 o_orderkey FROM orders ORDER BY o_orderkey"))
      .collect().map(_.getLong(0))
    assert(rows.length === 3 && rows.sameElements(rows.sorted))
  }

  // ---- APPROXIMATE COUNT(DISTINCT) ----
  test("APPROXIMATE COUNT(DISTINCT x) becomes approx_count_distinct") {
    val r = rewrite("SELECT APPROXIMATE COUNT(DISTINCT l_partkey) FROM lineitem")
    assert(r === "SELECT approx_count_distinct(l_partkey) FROM lineitem")
    Tables.registerAll(spark, sfDir)
    val approx = spark.sql(r).collect()(0).getLong(0)
    val exact = spark.sql("SELECT COUNT(DISTINCT l_partkey) FROM lineitem").collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
  }

  // ---- RATIO_TO_REPORT ----
  test("RATIO_TO_REPORT rewrites to x / sum(x) OVER and executes") {
    Tables.registerAll(spark, sfDir)
    val q = """SELECT o_orderkey,
              |  RATIO_TO_REPORT(o_totalprice) OVER (PARTITION BY o_orderpriority) AS ratio
              |FROM orders""".stripMargin
    val sums = spark.sql(rewrite(q))
      .groupBy().sum("ratio").collect()(0).getDouble(0)
    val nGroups = spark.sql("SELECT COUNT(DISTINCT o_orderpriority) FROM orders")
      .collect()(0).getLong(0)
    assert(math.abs(sums - nGroups) < 1e-6) // ratios sum to 1 per partition
  }

  // ---- SIMILAR TO ----
  test("SIMILAR TO anchors and translates % and _") {
    Tables.registerAll(spark, sfDir)
    val hits = spark.sql(rewrite(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority SIMILAR TO '1-URG%'"))
      .collect()(0).getLong(0)
    val expected = spark.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority LIKE '1-URG%'")
      .collect()(0).getLong(0)
    assert(hits === expected && hits > 0)
    // anchored: mid-string match must NOT hit
    val mid = spark.sql(rewrite(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority SIMILAR TO 'URG%'"))
      .collect()(0).getLong(0)
    assert(mid === 0)
  }
  test("NOT SIMILAR TO becomes NOT RLIKE") {
    val r = rewrite("SELECT * FROM t WHERE a NOT SIMILAR TO 'x_y'")
    assert(r === "SELECT * FROM t WHERE a NOT RLIKE '^(x.y)$'")
  }

  // ---- simple call rewrites ----
  test("GETDATE / SYSDATE / RANDOM rewrite and execute") {
    assert(rewrite("SELECT GETDATE()") === "SELECT current_timestamp()")
    assert(rewrite("SELECT SYSDATE") === "SELECT current_timestamp()")
    assert(rewrite("SELECT RANDOM()") === "SELECT rand()")
    assert(!sql1("SELECT GETDATE()").isNullAt(0))
    val rnd = sql1("SELECT RANDOM()").getDouble(0)
    assert(rnd >= 0.0 && rnd < 1.0)
  }

  // ---- CONVERT ----
  test("CONVERT(type, x) becomes CAST(x AS type)") {
    assert(rewrite("SELECT CONVERT(INTEGER, '42')") === "SELECT CAST('42' AS INTEGER)")
    assert(sql1("SELECT CONVERT(INTEGER, '42')").getInt(0) === 42)
    assert(sql1("SELECT CONVERT(DECIMAL(10,2), 1.5)").getDecimal(0).doubleValue() === 1.5)
  }

  // ---- DATEADD / DATEDIFF ----
  test("3-arg DATEADD/DATEDIFF become timestampadd/timestampdiff and execute") {
    assert(sql1("SELECT DATEDIFF(day, DATE '2024-01-01', DATE '2024-02-01')").getLong(0) === 31L)
    assert(sql1("SELECT DATEADD(month, 2, DATE '2024-01-15')")
      .get(0).toString.startsWith("2024-03-15"))
    // Spark's own 2-arg datediff is untouched
    val q2 = "SELECT datediff(a, b) FROM t"
    assert(rewrite(q2) === q2)
  }

  test("DATEADD/DATEDIFF normalize Redshift unit abbreviations, bare or quoted") {
    assert(rewrite("SELECT DATEADD(d, 1, ts) FROM t") ===
      "SELECT timestampadd(DAY, 1, ts) FROM t")
    assert(rewrite("SELECT DATEDIFF('h', a, b) FROM t") ===
      "SELECT timestampdiff(HOUR, date_trunc('HOUR', a), date_trunc('HOUR', b)) FROM t")
    // Redshift DATEDIFF counts BOUNDARY CROSSINGS, not elapsed units:
    // 10:59→11:01 is 1 hour, 23:59→00:01 is 1 day
    assert(sql1("SELECT DATEDIFF(hour, TIMESTAMP '2024-01-01 10:59:00', " +
      "TIMESTAMP '2024-01-01 11:01:00')").getLong(0) === 1L)
    assert(sql1("SELECT DATEDIFF(day, TIMESTAMP '2024-01-01 23:59:00', " +
      "TIMESTAMP '2024-01-02 00:01:00')").getLong(0) === 1L)
    assert(sql1("SELECT DATEDIFF(hour, TIMESTAMP '2024-01-01 10:01:00', " +
      "TIMESTAMP '2024-01-01 10:59:00')").getLong(0) === 0L)
    assert(sql1("SELECT DATEADD(d, 1, DATE '2024-01-31')")
      .get(0).toString.startsWith("2024-02-01"))
    assert(sql1("SELECT DATEDIFF(min, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 02:30:00')")
      .getLong(0) === 150L)
    assert(sql1("SELECT DATEADD(qtr, 1, DATE '2024-01-15')")
      .get(0).toString.startsWith("2024-04-15"))
    assert(sql1("SELECT DATEDIFF(mon, DATE '2024-01-01', DATE '2024-06-01')").getLong(0) === 5L)
    assert(sql1("SELECT DATEADD(w, 2, DATE '2024-01-01')")
      .get(0).toString.startsWith("2024-01-15"))
  }

  test("DATEDIFF boundary rewrite keeps nested rewritable calls visible") {
    // the replacement is RE-TOKENIZED, so a 3-arg DATEADD nested inside a
    // DATEDIFF operand is itself rewritten instead of surviving as
    // untranslated text inside one opaque token
    assert(sql1("SELECT DATEDIFF(day, DATEADD(day, -7, DATE '2024-01-10'), " +
      "DATE '2024-01-10')").getLong(0) === 7L)
    // …and a nested TO_DATE with a PG format is translated too
    assert(sql1("SELECT DATEDIFF(day, TO_DATE('2024-01-01', 'YYYY-MM-DD'), " +
      "DATE '2024-01-08')").getLong(0) === 7L)
    // nested DATEDIFF inside DATEDIFF
    assert(sql1("SELECT DATEDIFF(day, DATE '2024-01-01', DATEADD(day, " +
      "DATEDIFF(day, DATE '2024-01-01', DATE '2024-01-04'), DATE '2024-01-01'))")
      .getLong(0) === 3L)
  }

  // ---- CONVERT_TIMEZONE ----
  test("CONVERT_TIMEZONE executes with Redshift argument order (2- and 3-arg)") {
    // 3-arg (source, target, ts): both engines share this order natively
    assert(sql1(
      "SELECT CONVERT_TIMEZONE('UTC', 'America/New_York', TIMESTAMP_NTZ '2024-01-01 12:00:00')")
      .get(0).toString.startsWith("2024-01-01T07:00"))
    // 2-arg (target, ts): source defaults to UTC in Redshift; Spark uses the
    // session time zone, which GraftSession pins to UTC — same semantics
    assert(sql1(
      "SELECT CONVERT_TIMEZONE('Asia/Tokyo', TIMESTAMP_NTZ '2024-01-01 12:00:00')")
      .get(0).toString.startsWith("2024-01-01T21:00"))
  }

  // ---- JSON function aliases ----
  test("Redshift JSON functions resolve and compute (incl. events.props)") {
    assert(sql1("""SELECT json_extract_path_text('{"a": {"b": 7}}', 'a', 'b')""")
      .getString(0) === "7")
    assert(sql1("""SELECT json_extract_path_text('{"a": 1}', 'missing')""").isNullAt(0))
    assert(sql1("""SELECT json_extract_path_text('not json', 'a', true)""").isNullAt(0))
    assert(sql1("""SELECT json_extract_array_element_text('[10, 20, 30]', 1)""")
      .getString(0) === "20")
    assert(sql1("""SELECT is_valid_json('{"k": 1}')""").getBoolean(0))
    assert(!sql1("SELECT is_valid_json('nope')").getBoolean(0))
    // JSON literal truth table: the bare literals are valid JSON values in
    // Redshift even though GetJsonObject returns NULL for them (ADVICE r4)
    assert(sql1("SELECT is_valid_json('null')").getBoolean(0))
    assert(sql1("SELECT is_valid_json(' true ')").getBoolean(0))
    assert(sql1("SELECT is_valid_json('false')").getBoolean(0))
    assert(sql1("SELECT is_valid_json('3.14')").getBoolean(0))
    assert(sql1("SELECT is_valid_json('\"str\"')").getBoolean(0))
    assert(!sql1("SELECT is_valid_json('nulls')").getBoolean(0))
    assert(!sql1("SELECT is_valid_json('')").getBoolean(0))
    assert(sql1("SELECT is_valid_json_array('[1, 2]')").getBoolean(0))
    assert(!sql1("SELECT is_valid_json_array('{\"k\": 1}')").getBoolean(0))
    Tables.registerAll(spark, sfDir)
    val n = spark.sql(
      "SELECT count(*) FROM events WHERE CAST(json_extract_path_text(props, 'k') AS BIGINT) >= 0")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("remaining Redshift string functions resolve and compute") {
    assert(sql1("SELECT replicate('ab', 3)").getString(0) === "ababab")
    assert(sql1("SELECT textlen('hello')").getInt(0) === 5)
    assert(sql1("SELECT strtol('ff', 16)").getLong(0) === 255L)
    assert(sql1("SELECT strtol('101', 2)").getLong(0) === 5L)
    assert(sql1("SELECT quote_literal(\"o'brien\")").getString(0) === "'o''brien'")
    assert(sql1("SELECT quote_ident('weird col')").getString(0) === "\"weird col\"")
    assert(sql1("SELECT bpcharcmp('a', 'b')").getInt(0) === -1)
    assert(sql1("SELECT bpcharcmp('b', 'a')").getInt(0) === 1)
    assert(sql1("SELECT bpcharcmp('a', 'a')").getInt(0) === 0)
  }

  test("zvalue kernel: hand vectors, codegen == pure-SQL fold on fixture keys") {
    // interleave(0b11, 0b01) = bits x0@0, y0@1, x1@2 → 0b0111 = 7
    assert(sql1("SELECT zvalue(3, 1, 4)").getLong(0) === 7L)
    // y bits land odd: interleave(0, 0b11) = 0b1010 = 10
    assert(sql1("SELECT zvalue(0, 3, 4)").getLong(0) === 10L)
    // bits beyond the width mask off: only x0 survives width 1
    assert(sql1("SELECT zvalue(5, 0, 1)").getLong(0) === 1L)
    val mism = Tables.load(spark, sfDir, "lineitem")
      .selectExpr(
        graft.ops.LayoutOps.zValueExpr("l_partkey", "l_suppkey", 21) + " as a",
        graft.ops.LayoutOps.zValueFoldExpr("l_partkey", "l_suppkey", 21) + " as b")
      .filter("a <> b").count()
    assert(mism === 0L, "native zvalue diverged from the SQL fold")
  }

  test("hvalue kernel: hand U-curve, codegen == struct fold, Manhattan adjacency, bijection") {
    // the 2×2 U: (0,0)=0, (0,1)=1, (1,1)=2, (1,0)=3
    assert(sql1("SELECT hvalue(0, 0, 1)").getLong(0) === 0L)
    assert(sql1("SELECT hvalue(0, 1, 1)").getLong(0) === 1L)
    assert(sql1("SELECT hvalue(1, 1, 1)").getLong(0) === 2L)
    assert(sql1("SELECT hvalue(1, 0, 1)").getLong(0) === 3L)
    // kernel == the pure-SQL struct fold on fixture keys
    val mism = Tables.load(spark, sfDir, "lineitem")
      .selectExpr(
        graft.ops.LayoutOps.hValueExpr("l_partkey", "l_suppkey", 21) + " as a",
        graft.ops.LayoutOps.hValueFoldExpr("l_partkey", "l_suppkey", 21) + " as b")
      .filter("a <> b").count()
    assert(mism === 0L, "native hvalue diverged from the SQL fold")
    // THE Hilbert property (what zvalue lacks): a bijection onto the
    // 8×8 grid whose consecutive positions are Manhattan-adjacent —
    // no diagonal corner-to-corner jumps, hence tighter file bounds
    val cells = spark.range(64)
      .selectExpr("id div 8 as x", "id % 8 as y")
      .selectExpr("x", "y", "hvalue(x, y, 3) as d")
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(cells.map(_._1).toSeq === (0L until 64L))
    cells.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"non-adjacent step ($x1,$y1)→($x2,$y2)")
    }
  }

  test("r8 scalar sweep: to_hex, json_array_length, difference, cmp variants, octetindex") {
    assert(sql1("SELECT to_hex(2147676847)").getString(0) === "8002f2af")
    assert(sql1("SELECT to_hex(255)").getString(0) === "ff")
    assert(sql1("SELECT json_array_length('[11,12,13,{\"f1\":21,\"f2\":[25,26]},14]')")
      .getInt(0) === 5)
    assert(sql1("SELECT json_array_length('not json', true)").isNullAt(0))
    // Redshift doc examples: identical soundex codes → 4
    assert(sql1("SELECT difference('Amherst', 'Amerst')").getInt(0) === 4)
    assert(sql1("SELECT difference('Greene', 'Green')").getInt(0) === 4)
    assert(sql1("SELECT difference('smith', 'smyth')").getInt(0) === 4)
    assert(sql1("SELECT difference('abc', 'xyz')").getInt(0) < 4)
    assert(sql1("SELECT difference('', '')").getInt(0) === 0)
    assert(sql1("SELECT difference(NULL, 'x')").isNullAt(0))
    assert(sql1("SELECT date_cmp_timestamp(DATE'2008-01-04', TIMESTAMP'2008-01-04 00:00:00')")
      .getInt(0) === 0)
    assert(sql1("SELECT date_cmp_timestamp(DATE'2008-01-04', TIMESTAMP'2008-01-03 23:59:59')")
      .getInt(0) === 1)
    assert(sql1("SELECT timestamp_cmp_date(TIMESTAMP'2008-01-04 12:00:00', DATE'2008-01-05')")
      .getInt(0) === -1)
    // octet (byte) index, not char index: 'é' is 2 bytes in UTF-8
    assert(sql1("SELECT octetindex('и', 'мир')").getInt(0) === 3)
    assert(sql1("SELECT octetindex('zz', 'abc')").getInt(0) === 0)
    assert(sql1("SELECT octetindex('b', 'abc')").getInt(0) === 2)
    assert(sql1("SELECT timeofday()").getString(0).matches(
      """\w{3} \w{3} \d{2} \d{2}:\d{2}:\d{2}\.\d{6} \w+ \d{4}"""))
    // CONVERT_TIMEZONE passes through to Spark's same-order builtin
    assert(sql1("SELECT CAST(convert_timezone('UTC', 'America/Los_Angeles', " +
      "TIMESTAMP'2008-08-21 17:00:00') AS STRING)").getString(0) === "2008-08-21 10:00:00")
  }

  // ---- array function aliases ----
  test("Redshift array functions resolve and compute") {
    val r = sql1(
      """SELECT array_concat(array(1, 2), array(3)) AS c,
        |       array_flatten(array(array(1), array(2, 3))) AS f,
        |       get_array_length(array(1, 2, 3)) AS l,
        |       split_to_array('a,b,c') AS s1,
        |       split_to_array('a|b|c', '|') AS s2,
        |       subarray(array(10, 20, 30, 40), 1, 2) AS sub""".stripMargin)
    assert(r.getSeq[Int](0) === Seq(1, 2, 3))
    assert(r.getSeq[Int](1) === Seq(1, 2, 3))
    assert(r.getLong(2) === 3L)
    assert(r.getSeq[String](3) === Seq("a", "b", "c"))
    assert(r.getSeq[String](4) === Seq("a", "b", "c")) // literal '|', not regex
    assert(r.getSeq[Int](5) === Seq(20, 30))           // 0-based Redshift start
  }

  test("trunc is polymorphic: date with a format literal, numeric otherwise") {
    assert(sql1("SELECT trunc(DATE '2024-07-19', 'MM')").get(0).toString === "2024-07-01")
    assert(sql1("SELECT trunc(123.456, 1)").getDouble(0) === 123.4)
    assert(sql1("SELECT trunc(-123.456, 2)").getDouble(0) === -123.45) // toward zero
    assert(sql1("SELECT trunc(987.654)").getDouble(0) === 987.0)
  }

  test("trunc dispatches on the resolved type: timestamps truncate to DATE") {
    // Redshift: single-arg TRUNC(timestamp) drops the time part
    assert(sql1("SELECT trunc(TIMESTAMP '2024-07-19 13:45:10')").get(0).toString === "2024-07-19")
    assert(sql1("SELECT trunc(TIMESTAMP '2024-07-19 13:45:10', 'MM')").get(0).toString === "2024-07-01")
    // a NON-literal string format must still take the date path
    assert(sql1("SELECT trunc(DATE '2024-07-19', substr('xMM', 2))").get(0).toString === "2024-07-01")
  }

  test("comparators propagate NULL; unclosed lists raise instead of looping or degrading") {
    assert(sql1("SELECT date_cmp(NULL, DATE '2024-01-01')").isNullAt(0))
    assert(sql1("SELECT timestamp_cmp(TIMESTAMP '2024-01-01 00:00:00', NULL)").isNullAt(0))
    assert(sql1("SELECT bpcharcmp(NULL, 'x')").isNullAt(0))
    spark.sql("DROP TABLE IF EXISTS guard_t")
    spark.sql("CREATE TABLE guard_t (id BIGINT, k BIGINT)")
    // unclosed column list must error, not silently compute table-only stats
    intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, "ANALYZE guard_t (id, k", None)
    }
    // unclosed PARTITION BY must error, not loop forever
    intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        "UNLOAD ('SELECT 1 AS k') TO '/tmp/guard_unload' PARTITION BY (k", None)
    }
  }

  test("ANALYZE ALL/PREDICATE COLUMNS and VACUUM keep column statistics") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS maint_s")
    (1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "k")
      .write.saveAsTable("maint_s")
    def colStats = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("maint_s"))
      .stats.map(_.colStats.keySet).getOrElse(Set.empty[String])
    graft.cli.ExecuteSql.run(spark, "ANALYZE maint_s ALL COLUMNS", None)
    assert(colStats === Set("id", "k"))
    // VACUUM recomputes (not drops) the stats across the copy-on-write swap
    graft.cli.ExecuteSql.run(spark, "VACUUM maint_s", None)
    assert(colStats === Set("id", "k"), "stats lost across VACUUM")
  }

  test("DISTKEY/SORTKEY bucket spec survives VACUUM; sorted layout restored") {
    spark.sql("DROP TABLE IF EXISTS vac_layout")
    graft.cli.ExecuteSql.run(spark,
      "CREATE TABLE vac_layout (id BIGINT, v DOUBLE) DISTKEY(id) SORTKEY(id)", None)
    spark.sql("INSERT INTO vac_layout SELECT id, cast(id as double) FROM range(200)")
    def meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("vac_layout"))
    val specBefore = meta.bucketSpec
    assert(specBefore.exists(bs => bs.numBuckets === 32 &&
      bs.bucketColumnNames === Seq("id") && bs.sortColumnNames === Seq("id")))
    graft.cli.ExecuteSql.run(spark, "VACUUM FULL vac_layout", None)
    assert(meta.bucketSpec === specBefore,
      s"bucket spec changed across VACUUM: ${meta.bucketSpec}")
    assert(spark.table("vac_layout").count() === 200)
    // the restored layout is EXPLAIN-visible: a bucket-keyed aggregation
    // over the vacuumed table needs no exchange (bucketing survived as
    // a real physical property, not just catalog metadata)
    val agg = spark.table("vac_layout").groupBy("id").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed table re-shuffled after VACUUM:\n$plan")
    spark.sql("DROP TABLE vac_layout")
  }

  test("ANALYZE column stats flip a selective-filter join to broadcast (CBO)") {
    // raw file sizes reach the planner with or without ANALYZE (the file
    // index knows them), so what catalog stats BUY is selectivity: with
    // column stats on k, CBO shrinks the `k = 7` filter's estimate to
    // ~1/ndv of the table and the filtered side drops under the broadcast
    // threshold; without them the filter passes the full file size
    // through and the join stays sort-merge
    spark.sql("DROP TABLE IF EXISTS an_facts")
    spark.sql("DROP TABLE IF EXISTS an_mid")
    spark.sql("CREATE TABLE an_facts AS SELECT id, id % 50 AS k, " +
      "repeat(cast(id as string), 5) AS pad FROM range(100000)")
    spark.sql("CREATE TABLE an_mid AS SELECT id % 50 AS k, id, " +
      "repeat(cast(id as string), 5) AS pad FROM range(100000)")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier _
    Seq("an_facts", "an_mid").foreach { t =>
      spark.sessionState.catalog.alterTableStats(ident(t), None)
      spark.sessionState.catalog.refreshTable(ident(t))
    }
    val rawSize = spark.table("an_facts").queryExecution
      .optimizedPlan.stats.sizeInBytes
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // threshold below both unfiltered tables, far above size/ndv(k)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (rawSize / 2).toString)
    try {
      def joinPlan = spark.sql(
        """SELECT b.id, s.id AS mid FROM (SELECT * FROM an_facts WHERE k = 7) b
          |JOIN an_mid s ON b.k = s.k""".stripMargin)
        .queryExecution.sparkPlan.toString // pre-AQE: the stats-driven choice
      assert(!joinPlan.contains("BroadcastHashJoin"),
        s"filter shrank the estimate without any column stats:\n$joinPlan")
      graft.cli.ExecuteSql.run(spark, "ANALYZE an_facts (k)", None)
      assert(joinPlan.contains("BroadcastHashJoin"),
        s"ANALYZE column stats did not flip the join to broadcast:\n$joinPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    spark.sql("DROP TABLE an_facts"); spark.sql("DROP TABLE an_mid")
  }

  test("dump-preamble DDL (principals, ownership, default privileges) is loud-ignored") {
    // every statement class a pg_dump/DDL archive carries next to GRANT:
    // each must flow through without aborting the script
    Seq(
      "CREATE USER etl_user PASSWORD 'md5abc123'",
      "ALTER USER etl_user SET search_path TO public",
      "CREATE GROUP readers WITH USER etl_user",
      "ALTER GROUP readers ADD USER etl_user",
      "CREATE ROLE auditor",
      "DROP USER etl_user",
      "ALTER TABLE missing_is_fine OWNER TO etl_user",
      "ALTER SCHEMA default OWNER TO etl_user",
      "ALTER DEFAULT PRIVILEGES IN SCHEMA default GRANT SELECT ON TABLES TO GROUP readers",
      "DROP PROCEDURE sp_cleanup(int)"
    ).foreach(s => graft.cli.ExecuteSql.run(spark, s, None))
    // interleaved in a script, the REAL statements still execute
    spark.sql("DROP TABLE IF EXISTS acl_t")
    graft.cli.ExecuteSql.run(spark,
      """CREATE TABLE acl_t AS SELECT 1 AS x;
        |GRANT SELECT ON acl_t TO GROUP readers;
        |ALTER TABLE acl_t OWNER TO etl_user;
        |INSERT INTO acl_t VALUES (2)""".stripMargin, None)
    assert(spark.table("acl_t").count() === 2)
    spark.sql("DROP TABLE acl_t")
  }

  test("LOCK TABLE and SET SESSION AUTHORIZATION are loud-ignored inside a script") {
    // the dump-tail statements pg_dump emits around data sections — both
    // interleave between real statements without aborting the script
    spark.sql("DROP TABLE IF EXISTS lock_t")
    graft.cli.ExecuteSql.run(spark,
      """SET SESSION AUTHORIZATION etl_user;
        |CREATE TABLE lock_t AS SELECT 1 AS x;
        |LOCK TABLE lock_t;
        |INSERT INTO lock_t VALUES (2);
        |LOCK lock_t, other_t IN ACCESS EXCLUSIVE MODE;
        |INSERT INTO lock_t VALUES (3);
        |SET SESSION AUTHORIZATION DEFAULT""".stripMargin, None)
    assert(spark.table("lock_t").count() === 3)
    spark.sql("DROP TABLE lock_t")
    // plain SET statements are untouched by the authorization branch
    graft.cli.ExecuteSql.run(spark, "SET SESSION timezone TO 'UTC'", None)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("stored procedures raise with the reason; CALL raises; plain ALTER TABLE unaffected") {
    val e = intercept[IllegalArgumentException](graft.cli.ExecuteSql.run(spark,
      "CREATE OR REPLACE PROCEDURE sp_x() AS $$ BEGIN SELECT 1; END $$ LANGUAGE plpgsql",
      None))
    assert(e.getMessage.contains("plpgsql"))
    val e2 = intercept[IllegalArgumentException](
      graft.cli.ExecuteSql.run(spark, "CALL sp_x()", None))
    assert(e2.getMessage.contains("CALL"))
    // a real ALTER TABLE still reaches native DDL after the new branches
    spark.sql("DROP TABLE IF EXISTS alt_t")
    spark.sql("CREATE TABLE alt_t (a INT)")
    graft.cli.ExecuteSql.run(spark, "ALTER TABLE alt_t ADD COLUMN b INT", None)
    assert(spark.table("alt_t").schema.fieldNames.toSeq === Seq("a", "b"))
    spark.sql("DROP TABLE alt_t")
  }

  test("TIME literals still raise — the SURVEY §2.2 TIME/TIMETZ exclusion tripwire") {
    // Spark 4.1 hard-gates TimeType; TIME/TIMETZ are documented exclusions
    // (SURVEY §2.2). The day a Spark upgrade makes this parse, this test
    // fails loudly and the exclusion row must be revisited instead of
    // silently aging.
    val e = intercept[Exception](spark.sql("SELECT TIME '12:34:56'").collect())
    assert(e.getMessage != null && e.getMessage.nonEmpty)
  }

  test("legacy math aliases and date/timestamp comparators resolve and compute") {
    assert(math.abs(sql1("SELECT dexp(1.0)").getDouble(0) - math.E) < 1e-12)
    assert(math.abs(sql1("SELECT dlog1(dexp(2.5))").getDouble(0) - 2.5) < 1e-12)
    assert(sql1("SELECT dlog10(1000.0)").getDouble(0) === 3.0)
    assert(sql1("SELECT func_sha1('abc')").getString(0)
      === "a9993e364706816aba3e25717850c26c9cd0d89d") // published SHA-1 vector
    assert(sql1("SELECT date_cmp(DATE '2024-01-01', DATE '2024-06-01')").getInt(0) === -1)
    assert(sql1("SELECT date_cmp(DATE '2024-01-01', DATE '2024-01-01')").getInt(0) === 0)
    assert(sql1("SELECT timestamp_cmp(TIMESTAMP '2024-01-01 12:00:01', TIMESTAMP '2024-01-01 12:00:00')")
      .getInt(0) === 1)
  }

  test("to_varbyte / from_varbyte convert hex, base64 and utf8 both directions") {
    assert(sql1("SELECT from_varbyte(to_varbyte('spark', 'utf8'), 'hex')")
      .getString(0) === "737061726b")              // Redshift emits lowercase hex
    assert(sql1("SELECT from_varbyte(to_varbyte('6162', 'hex'), 'utf8')")
      .getString(0) === "ab")
    assert(sql1("SELECT from_varbyte(to_varbyte('aGk=', 'base64'), 'utf8')")
      .getString(0) === "hi")
    assert(sql1("SELECT from_varbyte(to_varbyte('hi', 'utf8'), 'base64')")
      .getString(0) === "aGk=")
  }

  // ---- local UPDATE / DELETE (copy-on-write) ----
  test("local UPDATE and DELETE run via copy-on-write swap") {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "tag", "amt")
      .write.mode("overwrite").saveAsTable("dml_t")
    graft.cli.ExecuteSql.run(spark,
      "UPDATE dml_t SET amt = amt * 2, tag = upper(tag) WHERE id >= 2", None)
    val afterUpdate = spark.table("dml_t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(afterUpdate === Array((1L, "a", 10.0), (2L, "B", 40.0), (3L, "C", 60.0)))
    graft.cli.ExecuteSql.run(spark, "DELETE FROM dml_t WHERE amt > 50", None)
    assert(spark.table("dml_t").count() === 2)
    graft.cli.ExecuteSql.run(spark, "DELETE FROM dml_t", None)
    assert(spark.table("dml_t").count() === 0)
    // schema survives the swap
    assert(spark.table("dml_t").schema.fieldNames.toSeq === Seq("id", "tag", "amt"))
  }

  test("local MERGE: matched update + not-matched insert via copy-on-write") {
    import spark.implicits._
    Seq((1L, 100.0), (2L, 200.0)).toDF("id", "amt")
      .write.mode("overwrite").saveAsTable("merge_t")
    Seq((2L, 5.0), (3L, 7.0)).toDF("id", "delta")
      .write.mode("overwrite").saveAsTable("merge_s")
    graft.cli.ExecuteSql.run(spark,
      """MERGE INTO merge_t USING merge_s ON merge_t.id = merge_s.id
        |WHEN MATCHED THEN UPDATE SET amt = merge_t.amt + merge_s.delta
        |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (merge_s.id, merge_s.delta)""".stripMargin,
      None)
    val rows = spark.table("merge_t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows === Array((1L, 100.0), (2L, 205.0), (3L, 7.0)))
  }

  test("local MERGE rejects a multi-match source (Redshift restriction)") {
    import spark.implicits._
    Seq((1L, 10.0)).toDF("id", "amt")
      .write.mode("overwrite").saveAsTable("merge_m")
    Seq((1L, 1.0), (1L, 2.0)).toDF("id", "delta")
      .write.mode("overwrite").saveAsTable("merge_ms")
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        """MERGE INTO merge_m USING merge_ms ON merge_m.id = merge_ms.id
          |WHEN MATCHED THEN UPDATE SET amt = merge_m.amt + merge_ms.delta""".stripMargin,
        None)
    }
    assert(e.getMessage.contains("more than one"))
    // and the target is untouched — the check runs before anything is dropped
    assert(spark.table("merge_m").collect()
      .map(r => (r.getLong(0), r.getDouble(1))) === Array((1L, 10.0)))
  }

  test("local MERGE: alias-qualified SET columns resolve; unknown columns raise") {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt")
      .write.mode("overwrite").saveAsTable("merge_q")
    Seq((2L, 5.0)).toDF("id", "delta")
      .write.mode("overwrite").saveAsTable("merge_qs")
    graft.cli.ExecuteSql.run(spark,
      """MERGE INTO merge_q t USING merge_qs s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.amt = t.amt + s.delta""".stripMargin, None)
    assert(spark.table("merge_q").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))) === Array((1L, 10.0), (2L, 25.0)))
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        """MERGE INTO merge_q t USING merge_qs s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET nope = 1""".stripMargin, None)
    }
    assert(e.getMessage.contains("unknown column"))
  }

  test("copy-on-write preserves a bucketed layout across UPDATE") {
    import spark.implicits._
    graft.io.TableIO.writeBucketed(
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), "cow_b", "id", 4)
    graft.cli.ExecuteSql.run(spark, "UPDATE cow_b SET v = v + 1 WHERE id = 1", None)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("cow_b"))
    assert(meta.bucketSpec.exists(_.numBuckets === 4),
      s"bucket spec lost in the swap: ${meta.bucketSpec}")
    assert(spark.table("cow_b").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))) === Array((1L, 2.0), (2L, 2.0)))
  }

  test("PartiQL UNNEST of a SUPER array maps to a lateral variant_explode") {
    val rows = spark.sql(
      """SELECT id, p.pos, CAST(p.value AS BIGINT) AS v
        |FROM VALUES (1, '[10,20,30]') AS t(id, arr),
        |     LATERAL variant_explode(json_parse(arr)) AS p
        |ORDER BY id, pos""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq ===
      Seq((1, 0, 10L), (1, 1, 20L), (1, 2, 30L)))
  }

  test("local MERGE: matched delete with an extra condition") {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amt")
      .write.mode("overwrite").saveAsTable("merge_d")
    Seq((1L, 0), (2L, 1)).toDF("id", "kill")
      .write.mode("overwrite").saveAsTable("merge_ds")
    graft.cli.ExecuteSql.run(spark,
      """MERGE INTO merge_d USING merge_ds ON merge_d.id = merge_ds.id
        |WHEN MATCHED AND merge_ds.kill = 1 THEN DELETE""".stripMargin, None)
    val ids = spark.table("merge_d").orderBy("id").collect().map(_.getLong(0))
    assert(ids === Array(1L, 3L)) // only the kill-flagged match is removed
  }

  test("CREATE TABLE with DISTKEY/SORTKEY/DISTSTYLE/ENCODE becomes a bucketed sorted table") {
    spark.sql("DROP TABLE IF EXISTS ddl_layout")
    graft.cli.ExecuteSql.run(spark,
      """CREATE TABLE ddl_layout (
        |  id BIGINT ENCODE az64,
        |  cat STRING ENCODE lzo,
        |  amt DOUBLE)
        |DISTSTYLE KEY DISTKEY(id) COMPOUND SORTKEY(id, cat)""".stripMargin, None)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("ddl_layout"))
    assert(meta.bucketSpec.exists(bs =>
      bs.numBuckets === 32 && bs.bucketColumnNames === Seq("id") &&
        bs.sortColumnNames === Seq("id", "cat")), meta.bucketSpec.toString)
    assert(meta.schema.fieldNames.toSeq === Seq("id", "cat", "amt"))
  }

  test("column-level DISTKEY/SORTKEY attributes map to bucketing; attr-free DDL is untouched") {
    spark.sql("DROP TABLE IF EXISTS ddl_col")
    graft.cli.ExecuteSql.run(spark,
      "CREATE TABLE ddl_col (id BIGINT DISTKEY, ts STRING SORTKEY, v DOUBLE)", None)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("ddl_col"))
    assert(meta.bucketSpec.exists(bs =>
      bs.bucketColumnNames === Seq("id") && bs.sortColumnNames === Seq("ts")))
    // columns NAMED distkey/sortkey are not attributes
    val same = "CREATE TABLE t2 (distkey INT, sortkey INT)"
    assert(graft.sql.RedshiftSql.rewrite(same) === same)
    // DISTSTYLE alone is dropped, no bucket clause invented
    assert(graft.sql.RedshiftSql.rewrite("CREATE TABLE t3 (a INT) DISTSTYLE EVEN")
      === "CREATE TABLE t3 (a INT) ")
  }

  test("trunc dispatch survives late-resolved arguments (subquery, lateral alias)") {
    // the builder keys on e.resolved at registry-build time; these verify
    // the analyzer hands it RESOLVED children for deferred shapes too
    assert(sql1("SELECT trunc((SELECT TIMESTAMP '2024-07-19 13:45:10'))")
      .get(0).toString === "2024-07-19")
    assert(sql1(
      "SELECT trunc(ts2) FROM (SELECT CAST('2024-07-19 13:45:10' AS TIMESTAMP) AS ts2)")
      .get(0).toString === "2024-07-19")
    // lateral column alias referencing a just-computed timestamp
    assert(sql1(
      "SELECT CAST('2024-07-19 13:45:10' AS TIMESTAMP) AS ts3, trunc(ts3) AS d")
      .get(1).toString === "2024-07-19")
  }

  test("CREATE TABLE IF NOT EXISTS with attr-named tables rewrites safely") {
    // IF NOT EXISTS must not be mistaken for the table name — a following
    // table named `backup` or `distkey` would otherwise be eaten as an attr
    val q1 = "CREATE TABLE IF NOT EXISTS backup (id INT)"
    assert(graft.sql.RedshiftSql.rewrite(q1) === q1)
    val q2 = "CREATE TABLE IF NOT EXISTS distkey (id INT)"
    assert(graft.sql.RedshiftSql.rewrite(q2) === q2)
    // and real attrs after IF NOT EXISTS still rewrite
    val r = graft.sql.RedshiftSql.rewrite(
      "CREATE TABLE IF NOT EXISTS t9 (id BIGINT) DISTKEY(id)")
    assert(r.contains("CLUSTERED BY (`id`)") && r.contains("INTO 32 BUCKETS"), r)
  }

  // ---- QUALIFY ----
  test("QUALIFY on a select-list alias hoists into a subquery filter") {
    val r = rewrite(
      "SELECT a, row_number() OVER (PARTITION BY b ORDER BY c) AS rn FROM t QUALIFY rn <= 2")
    assert(r === "SELECT * FROM (SELECT a, row_number() OVER (PARTITION BY b ORDER BY c) AS rn " +
      "FROM t ) __qualify_src WHERE rn <= 2")
  }

  test("QUALIFY executes: top-1 per group, inline window, WHERE, tail, DISTINCT, CTE") {
    Tables.registerAll(spark, sfDir)
    // alias predicate + ORDER BY/LIMIT tail applies AFTER the filter
    val top1 = spark.sql(rewrite(
      """SELECT o_orderpriority, o_orderkey,
        |       row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders QUALIFY rn = 1 ORDER BY o_orderpriority LIMIT 3""".stripMargin))
      .collect()
    assert(top1.length === 3 && top1.forall(_.getInt(2) === 1))
    // inline window call in the predicate, composed with an existing WHERE;
    // the helper column must NOT leak into the output schema
    val inline = spark.sql(rewrite(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |QUALIFY row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) <= 5""".stripMargin))
    assert(inline.columns.toSeq === Seq("o_orderkey", "o_totalprice"))
    val exp5 = spark.sql(
      """SELECT o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin)
      .collect().map(_.getDouble(0)).toSeq
    assert(inline.collect().map(_.getDouble(1)).sorted.toSeq === exp5.sorted)
    // the window may partition by a NON-selected source column
    val nonSel = spark.sql(rewrite(
      """SELECT o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) = 1""".stripMargin))
    assert(nonSel.count() === 5 && nonSel.columns.toSeq === Seq("o_orderkey"))
    // DISTINCT dedups AFTER the window filter (helpers must not weaken it)
    val dist = spark.sql(rewrite(
      """SELECT DISTINCT o_orderpriority FROM orders
        |QUALIFY rank() OVER (PARTITION BY o_orderkey ORDER BY o_orderkey) = 1""".stripMargin))
    assert(dist.count() === 5)
    // QUALIFY inside a CTE body rewrites in place
    val cte = spark.sql(rewrite(
      """WITH best AS (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders QUALIFY rn = 1)
        |SELECT COUNT(*) AS n FROM best""".stripMargin)).collect()(0).getLong(0)
    val exactCte = spark.sql("SELECT COUNT(DISTINCT o_custkey) FROM orders")
      .collect()(0).getLong(0)
    assert(cte === exactCte)
  }

  test("COPY rejects unsupported formats, unknown options and IGNOREHEADER > 1") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_guard")
    spark.sql("CREATE TABLE copy_guard (id BIGINT)")
    val f = Files.createTempDirectory("graft_copyg_").resolve("d.csv")
    Files.writeString(f, "1\n")
    val e1 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY copy_guard FROM '$f' FORMAT AS AVRO", None)
    }
    assert(e1.getMessage.contains("not supported"))
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY copy_guard FROM '$f' CSV IGNOREHEADER 2", None)
    }
    assert(e2.getMessage.contains("IGNOREHEADER"))
    // an unrecognized option word raises instead of being skipped as noise
    val e3 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY copy_guard FROM '$f' CSV FROBNICATE", None)
    }
    assert(e3.getMessage.contains("FROBNICATE"))
    // a jsonpaths file spec (not 'auto') raises
    val e4 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"COPY copy_guard FROM '$f' JSON 's3://paths/jp.json'", None)
    }
    assert(e4.getMessage.toLowerCase.contains("json"))
    assert(spark.table("copy_guard").count() === 0) // nothing loaded
  }

  test("COPY FORMAT AS PARQUET round-trips a table (columns map by position)") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_pq")
    spark.sql("CREATE TABLE copy_pq (id BIGINT, name STRING, amt DOUBLE)")
    val dir = Files.createTempDirectory("graft_copypq_").resolve("data")
    // source columns have different NAMES but matching positions/types —
    // Redshift's columnar rule maps by position
    spark.range(3).selectExpr("id AS a", "concat('n', id) AS b", "id * 1.5 AS c")
      .write.parquet(dir.toString)
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_pq FROM '$dir' FORMAT AS PARQUET", None)
    val rows = spark.table("copy_pq").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows === Array((0L, "n0", 0.0), (1L, "n1", 1.5), (2L, "n2", 3.0)))
    // a column-count mismatch raises instead of silently mismapping
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"COPY copy_pq (id, name) FROM '$dir' PARQUET", None)
    }
    assert(e.getMessage.contains("columns"))
    // delimited-text options are rejected with columnar formats
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"COPY copy_pq FROM '$dir' DELIMITER '|' PARQUET", None)
    }
    assert(e2.getMessage.contains("DELIMITER"))
  }

  test("COPY FORMAT AS ORC loads by position; UNLOAD rejects ORC") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_orc")
    spark.sql("CREATE TABLE copy_orc (id BIGINT, name STRING, amt DOUBLE)")
    val dir = Files.createTempDirectory("graft_copyorc_").resolve("data")
    spark.range(3).selectExpr("id AS a", "concat('n', id) AS b", "id * 1.5 AS c")
      .write.orc(dir.toString)
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_orc FROM '$dir' FORMAT AS ORC", None)
    val rows = spark.table("copy_orc").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows === Array((0L, "n0", 0.0), (1L, "n1", 1.5), (2L, "n2", 3.0)))
    // delimited options are rejected with ORC, like the other columnar formats
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"COPY copy_orc FROM '$dir' DELIMITER '|' ORC", None)
    }
    assert(e.getMessage.contains("DELIMITER"))
    // Redshift UNLOAD has no ORC target — refuse rather than invent one
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 1') TO '${dir}_out' FORMAT AS ORC", None)
    }
    assert(e2.getMessage.contains("ORC"))
  }

  test("COPY JSON 'auto' matches fields by name; 'auto ignorecase' folds case") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_js")
    spark.sql("CREATE TABLE copy_js (id BIGINT, name STRING, amt DOUBLE)")
    val dir = Files.createTempDirectory("graft_copyjs_")
    Files.writeString(dir.resolve("a.json"),
      "{\"id\": 1, \"name\": \"x\", \"amt\": 2.5}\n{\"amt\": 7.0, \"id\": 2, \"name\": \"y\"}\n")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_js FROM '${dir.resolve("a.json")}' FORMAT AS JSON 'auto'", None)
    val rows = spark.table("copy_js").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows === Array((1L, "x", 2.5), (2L, "y", 7.0)))
    // ignorecase: upper-cased keys + a missing field (NULL-filled)
    graft.cli.ExecuteSql.run(spark, "DELETE FROM copy_js", None) // LocalDml CoW
    Files.writeString(dir.resolve("b.json"), "{\"ID\": 3, \"Name\": \"z\"}\n")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_js FROM '${dir.resolve("b.json")}' JSON 'auto ignorecase'", None)
    val r3 = spark.table("copy_js").collect()(0)
    assert(r3.getLong(0) === 3L && r3.getString(1) === "z" && r3.isNullAt(2))
  }

  test("COPY column lists resolve case-insensitively like Redshift identifiers") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_ci")
    spark.sql("CREATE TABLE copy_ci (id BIGINT, name STRING)")
    val f = Files.createTempDirectory("graft_copyci_").resolve("in.csv")
    Files.writeString(f, "5,e\n")
    graft.cli.ExecuteSql.run(spark, s"COPY copy_ci (ID, Name) FROM '$f' CSV", None)
    val r = spark.table("copy_ci").collect()(0)
    assert(r.getLong(0) === 5L && r.getString(1) === "e")
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY copy_ci (id, nope) FROM '$f' CSV", None)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("UNLOAD FORMAT AS PARQUET re-reads equal; JSON writes one object per line") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS unload_fmt")
    spark.range(10).selectExpr("id", "id * 2 AS v", "concat('s', id) AS s")
      .write.saveAsTable("unload_fmt")
    val dir = Files.createTempDirectory("graft_unloadfmt_")
    val pq = dir.resolve("pq")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, v, s FROM unload_fmt') TO '$pq' FORMAT AS PARQUET", None)
    val back = spark.read.parquet(pq.toString)
    assert(back.count() === 10 &&
      back.schema.fieldNames.toSeq === Seq("id", "v", "s") &&
      back.agg(org.apache.spark.sql.functions.sum("v")).collect()(0).getLong(0) === 90L)
    // JSON: newline-delimited objects, single-file contract under PARALLEL OFF
    val js = dir.resolve("out.json")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id FROM unload_fmt ORDER BY id') TO '$js' JSON PARALLEL OFF", None)
    val lines = Files.readAllLines(js)
    assert(lines.size === 10 && lines.get(0) === "{\"id\":0}")
    // HEADER with PARQUET is a delimited-text option → rejected
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 1 AS x') TO '${dir.resolve("x")}' PARQUET HEADER", None)
    }
    assert(e.getMessage.contains("HEADER"))
  }

  test("UNLOAD refuses an occupied destination unless ALLOWOVERWRITE (Redshift default)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_unloadow_")
    val out = dir.resolve("dest")
    graft.cli.ExecuteSql.run(spark, s"UNLOAD ('SELECT 1 AS x') TO '$out'", None)
    // second UNLOAD to the same non-empty destination raises…
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"UNLOAD ('SELECT 2 AS x') TO '$out'", None)
    }
    assert(e.getMessage.contains("ALLOWOVERWRITE"))
    // …and ALLOWOVERWRITE opts into replacement
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT 2 AS x') TO '$out' ALLOWOVERWRITE", None)
    val back = spark.read.option("sep", "|").csv(out.toString)
    assert(back.collect().map(_.getString(0)).toSeq === Seq("2"))
    // single-file (PARALLEL OFF) destinations honor the same contract
    val single = dir.resolve("one.csv")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT 1 AS x') TO '$single' PARALLEL OFF", None)
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 3 AS x') TO '$single' PARALLEL OFF", None)
    }
    assert(e2.getMessage.contains("ALLOWOVERWRITE"))
    // unknown UNLOAD options raise; PARALLEL requires an ON/OFF value
    val e3 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 1 AS x') TO '${dir.resolve("y")}' FROBNICATE", None)
    }
    assert(e3.getMessage.contains("FROBNICATE"))
    val e4 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 1 AS x') TO '${dir.resolve("z")}' PARALLEL MAYBE", None)
    }
    assert(e4.getMessage.contains("PARALLEL"))
  }

  test("UNLOAD MANIFEST writes the <path>manifest JSON listing the data files") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_unloadmf_")
    val out = dir.resolve("parts")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id FROM range(5)') TO '$out' MANIFEST VERBOSE", None)
    val mf = dir.resolve("partsmanifest")
    assert(Files.exists(mf))
    val txt = Files.readString(mf)
    assert(txt.startsWith("{\"entries\": [") && txt.contains("\"url\": ") &&
      txt.contains("\"content_length\": "))
    // every listed url is a real file
    val urls = "\"url\": \"([^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq
    assert(urls.nonEmpty && urls.forall(u =>
      Files.exists(java.nio.file.Paths.get(new java.net.URI(u)))))
  }

  test("UNLOAD MANIFEST round-trips through COPY MANIFEST") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_copymf_")
    val out = dir.resolve("rt_")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, id * 3 AS v FROM range(20)') TO '$out' MANIFEST", None)
    spark.sql("DROP TABLE IF EXISTS copymf_t")
    spark.sql("CREATE TABLE copymf_t (id BIGINT, v BIGINT)")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copymf_t FROM '${dir.resolve("rt_manifest")}' MANIFEST", None)
    val rows = spark.table("copymf_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === (0L until 20L).map(i => (i, i * 3)))
    // parquet UNLOAD round-trips too (by-position columnar mapping)
    val pout = dir.resolve("pq_")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, id * 7 AS v FROM range(6)') TO '$pout' PARQUET MANIFEST", None)
    spark.sql("DROP TABLE IF EXISTS copymfp_t")
    spark.sql("CREATE TABLE copymfp_t (id BIGINT, v BIGINT)")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copymfp_t FROM '${dir.resolve("pq_manifest")}' PARQUET MANIFEST", None)
    assert(spark.table("copymfp_t").selectExpr("sum(v)").collect()(0).getLong(0) ===
      (0L until 6L).map(_ * 7).sum)
  }

  test("UNLOAD GZIP round-trips through COPY GZIP; BZIP2 single-file too") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_gz_")
    val out = dir.resolve("gz_out")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, id * 3 AS v FROM range(50)') TO '$out' GZIP", None)
    // the files really are gzip: Hadoop's extension contract
    val parts = Files.list(out).iterator()
    val names = Iterator.continually(parts).takeWhile(_.hasNext).map(_.next()
      .getFileName.toString).filter(_.startsWith("part-")).toList
    assert(names.nonEmpty && names.forall(_.endsWith(".gz")), names.toString)
    spark.sql("DROP TABLE IF EXISTS gz_t")
    spark.sql("CREATE TABLE gz_t (id BIGINT, v BIGINT)")
    graft.cli.ExecuteSql.run(spark, s"COPY gz_t FROM '$out' GZIP", None)
    val rows = spark.table("gz_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === (0L until 50L).map(i => (i, i * 3)))
    // BZIP2 through the PARALLEL OFF single-file contract
    val zout = dir.resolve("b.csv.bz2")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id FROM range(7)') TO '$zout' BZIP2 PARALLEL OFF", None)
    assert(Files.exists(zout))
    spark.sql("DROP TABLE IF EXISTS bz_t")
    spark.sql("CREATE TABLE bz_t (id BIGINT)")
    graft.cli.ExecuteSql.run(spark, s"COPY bz_t FROM '$zout' BZIP2", None)
    assert(spark.table("bz_t").count() === 7L)
  }

  test("UNLOAD ZSTD round-trips through COPY ZSTD (aircompressor codec, .zst files)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_zstd_")
    val out = dir.resolve("zstd_out")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, id * 7 AS v FROM range(50)') TO '$out' ZSTD", None)
    // real zstd files: the Hadoop extension contract, like the GZIP case
    val parts = Files.list(out).iterator()
    val names = Iterator.continually(parts).takeWhile(_.hasNext).map(_.next()
      .getFileName.toString).filter(_.startsWith("part-")).toList
    assert(names.nonEmpty && names.forall(_.endsWith(".zst")), names.toString)
    // the bytes really are zstd: 4-byte magic 0xFD2FB528 (little-endian)
    val first = Files.list(out).iterator()
    val p0 = Iterator.continually(first).takeWhile(_.hasNext).map(_.next())
      .find(_.getFileName.toString.startsWith("part-")).get
    val magic = Files.readAllBytes(p0).take(4).map(_ & 0xff)
    assert(magic.toSeq === Seq(0x28, 0xb5, 0x2f, 0xfd), magic.mkString(","))
    spark.sql("DROP TABLE IF EXISTS zst_t")
    spark.sql("CREATE TABLE zst_t (id BIGINT, v BIGINT)")
    graft.cli.ExecuteSql.run(spark, s"COPY zst_t FROM '$out' ZSTD", None)
    val rows = spark.table("zst_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === (0L until 50L).map(i => (i, i * 7)))
    // single-file contract too
    val one = dir.resolve("z.csv.zst")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id FROM range(9)') TO '$one' ZSTD PARALLEL OFF", None)
    assert(Files.exists(one))
    spark.sql("DROP TABLE IF EXISTS zst1_t")
    spark.sql("CREATE TABLE zst1_t (id BIGINT)")
    graft.cli.ExecuteSql.run(spark, s"COPY zst1_t FROM '$one' ZSTD", None)
    assert(spark.table("zst1_t").count() === 9L)
  }

  test("COPY codec contract: extension mismatch, columnar formats, LZOP all raise") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_gzbad_")
    val plain = dir.resolve("plain.csv")
    Files.write(plain, "1|2\n".getBytes("UTF-8"))
    spark.sql("DROP TABLE IF EXISTS gzbad_t")
    spark.sql("CREATE TABLE gzbad_t (id BIGINT, v BIGINT)")
    // GZIP against a file without .gz would load compressed bytes as rows
    val e1 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY gzbad_t FROM '$plain' GZIP", None)
    }
    assert(e1.getMessage.contains(".gz"), e1.getMessage)
    // columnar formats own their compression internally
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY gzbad_t FROM '$plain' PARQUET GZIP", None)
    }
    assert(e2.getMessage.contains("PARQUET"), e2.getMessage)
    // LZOP has no Hadoop-native codec — COPY and UNLOAD both refuse
    val e3 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY gzbad_t FROM '$plain' LZOP", None)
    }
    assert(e3.getMessage.contains("LZOP"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 1') TO '${dir.resolve("lz")}' LZOP", None)
    }
    assert(e4.getMessage.contains("LZOP"), e4.getMessage)
    // ZSTD against a file without .zst would load compressed bytes as rows
    val e5 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY gzbad_t FROM '$plain' ZSTD", None)
    }
    assert(e5.getMessage.contains(".zst"), e5.getMessage)
    // parquet + codec: compression is internal to the format (both verbs)
    val e6 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT 1') TO '${dir.resolve("p")}' PARQUET GZIP", None)
    }
    assert(e6.getMessage.contains("PARQUET"), e6.getMessage)
  }

  test("COPY MANIFEST honors mandatory: missing mandatory raises, optional skips") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_copymfm_")
    Files.writeString(dir.resolve("a.csv"), "1|x\n")
    spark.sql("DROP TABLE IF EXISTS copymfm_t")
    spark.sql("CREATE TABLE copymfm_t (id BIGINT, name STRING)")
    // optional missing file → skipped, the present file loads
    val okMf = dir.resolve("ok.manifest")
    Files.writeString(okMf,
      s"""{"entries": [
         |  {"url": "${dir.resolve("a.csv")}", "mandatory": true},
         |  {"url": "${dir.resolve("gone.csv")}", "mandatory": false},
         |  {"url": "${dir.resolve("alsogone.csv")}"}
         |]}""".stripMargin)
    graft.cli.ExecuteSql.run(spark, s"COPY copymfm_t FROM '$okMf' MANIFEST", None)
    assert(spark.table("copymfm_t").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // missing MANDATORY file → raise, nothing appended
    val badMf = dir.resolve("bad.manifest")
    Files.writeString(badMf,
      s"""{"entries": [{"url": "${dir.resolve("gone.csv")}", "mandatory": true}]}""")
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY copymfm_t FROM '$badMf' MANIFEST", None)
    }
    assert(e.getMessage.contains("mandatory"))
    assert(spark.table("copymfm_t").count() === 1)
    // a non-manifest file behind MANIFEST raises instead of loading garbage
    val notMf = dir.resolve("not.manifest")
    Files.writeString(notMf, """{"something": "else"}""")
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, s"COPY copymfm_t FROM '$notMf' MANIFEST", None)
    }
    assert(e2.getMessage.contains("entries"))
    // an all-optional, all-missing manifest loads zero rows and succeeds
    val emptyMf = dir.resolve("empty.manifest")
    Files.writeString(emptyMf,
      s"""{"entries": [{"url": "${dir.resolve("gone.csv")}"}]}""")
    graft.cli.ExecuteSql.run(spark, s"COPY copymfm_t FROM '$emptyMf' MANIFEST", None)
    assert(spark.table("copymfm_t").count() === 1)
  }

  test("UNLOAD PARALLEL OFF writes an empty file (not no file) for an empty result") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_unloade_").resolve("empty.psv")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT 1 AS x WHERE 1 = 0') TO '$out' PARALLEL OFF", None)
    assert(Files.exists(out) && Files.size(out) === 0L)
  }

  test("COPY FROM local files appends into an existing table with the target's types") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_t")
    spark.sql("CREATE TABLE copy_t (id BIGINT, name STRING, amt DOUBLE)")
    val dir = Files.createTempDirectory("graft_copy_")
    Files.writeString(dir.resolve("in.csv"), "id,name,amt\n1,a,10.5\n2,b,20.0\n")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_t FROM '${dir.resolve("in.csv")}' CSV IGNOREHEADER 1", None)
    assert(spark.table("copy_t").count() === 2)
    // Redshift's default text format is pipe-delimited, no header
    Files.writeString(dir.resolve("in.psv"), "3|c|30.5\n")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_t FROM '${dir.resolve("in.psv")}'", None)
    val rows = spark.table("copy_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows === Array((1L, "a", 10.5), (2L, "b", 20.0), (3L, "c", 30.5)))
    // a column list loads those columns and nulls the rest
    Files.writeString(dir.resolve("part.csv"), "4,d\n")
    graft.cli.ExecuteSql.run(spark,
      s"COPY copy_t (id, name) FROM '${dir.resolve("part.csv")}' CSV", None)
    val r4 = spark.table("copy_t").filter("id = 4").collect()(0)
    assert(r4.getString(1) === "d" && r4.isNullAt(2))
    // COPY into a missing table raises like Redshift
    intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"COPY nope_t FROM '${dir.resolve("in.csv")}' CSV", None)
    }
  }

  test("UNLOAD writes the query result; PARALLEL OFF yields the single-file contract") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS unload_t")
    spark.range(10).selectExpr("id", "id * 2 as v")
      .write.saveAsTable("unload_t")
    val dir = Files.createTempDirectory("graft_unload_")
    val single = dir.resolve("out.csv")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT TOP 3 id, v FROM unload_t ORDER BY id') TO '$single' HEADER PARALLEL OFF CSV",
      None)
    val lines = Files.readAllLines(single)
    assert(lines.size === 4 && lines.get(0) === "id,v" && lines.get(1) === "0,0")
    // default: parallel directory of parts, pipe-delimited, no header
    val pdir = dir.resolve("parts")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, v FROM unload_t') TO '$pdir'", None)
    val back = spark.read.option("sep", "|").csv(pdir.toString)
    assert(back.count() === 10)
  }

  test("COPY FROM a directory loads every file in it (Hadoop FS path semantics)") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS copy_dir")
    spark.sql("CREATE TABLE copy_dir (id BIGINT, v DOUBLE)")
    val dir = Files.createTempDirectory("graft_copydir_")
    Files.writeString(dir.resolve("a.csv"), "1|1.5\n2|2.5\n")
    Files.writeString(dir.resolve("b.csv"), "3|3.5\n")
    graft.cli.ExecuteSql.run(spark, s"COPY copy_dir FROM '$dir'", None)
    val rows = spark.table("copy_dir").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows === Array((1L, 1.5), (2L, 2.5), (3L, 3.5)))
  }

  test("UNLOAD PARTITION BY writes Redshift's partitioned directory layout") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS unload_p")
    spark.range(100).selectExpr("id", "id % 3 AS k")
      .write.saveAsTable("unload_p")
    val out = Files.createTempDirectory("graft_unloadp_").resolve("byk")
    graft.cli.ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, k FROM unload_p') TO '$out' CSV PARTITION BY (k)", None)
    val dirs = Files.list(out)
    val keys = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("k=")).toSet
    } finally dirs.close()
    assert(keys === Set("k=0", "k=1", "k=2"))
    val back = spark.read.option("sep", ",").csv(out.toString)
    assert(back.count() === 100)
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        s"UNLOAD ('SELECT id, k FROM unload_p') TO '$out' PARTITION BY (k) INCLUDE", None)
    }
    assert(e.getMessage.contains("INCLUDE"))
  }

  test("pg_table_def and svv_table_info resolve as generated catalog views") {
    import graft.cli.ExecuteSql
    spark.sql("DROP TABLE IF EXISTS shim_t")
    ExecuteSql.run(spark,
      "CREATE TABLE shim_t (id BIGINT, name STRING, amt DOUBLE) DISTKEY(id) SORTKEY(name)",
      None)
    ExecuteSql.run(spark, "INSERT INTO shim_t VALUES (1, 'a', 1.5), (2, 'b', 2.5)", None)
    ExecuteSql.run(spark, "ANALYZE shim_t", None)
    // the introspection query executes through the pass-through…
    ExecuteSql.run(spark,
      "SELECT tablename, type FROM pg_table_def WHERE tablename = 'shim_t'", None)
    // …and the generated views answer it: types, distkey/sortkey mapping
    val cols = spark.sql(
      "SELECT `column`, type, distkey, sortkey FROM pg_table_def " +
        "WHERE tablename = 'shim_t' ORDER BY `column`").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getInt(3)))
    assert(cols === Array(
      ("amt", "double precision", false, 0),
      ("id", "bigint", true, 0),
      ("name", "character varying(65535)", false, 1)))
    ExecuteSql.run(spark, "SELECT diststyle FROM svv_table_info", None)
    val info = spark.sql(
      "SELECT diststyle, sortkey1, sortkey_num, tbl_rows FROM svv_table_info " +
        "WHERE `table` = 'shim_t'").collect()(0)
    assert(info.getString(0) === "KEY(id)" && info.getString(1) === "name" &&
      info.getInt(2) === 1 && info.getLong(3) === 2L)
  }

  test("ANALYZE maps to catalog statistics; VACUUM compacts files copy-on-write") {
    import spark.implicits._
    def meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("maint_t"))
    def partFiles: Int = {
      val dir = java.nio.file.Paths.get(new java.net.URI(meta.location.toString))
      val s = java.nio.file.Files.list(dir)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    spark.sql("DROP TABLE IF EXISTS maint_t")
    (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "k")
      .repartition(16).write.saveAsTable("maint_t")
    assert(partFiles === 16)
    graft.cli.ExecuteSql.run(spark, "ANALYZE maint_t", None)
    assert(meta.stats.exists(_.sizeInBytes > 0), "table stats missing after ANALYZE")
    graft.cli.ExecuteSql.run(spark, "ANALYZE maint_t (id, k)", None)
    assert(meta.stats.exists(_.colStats.nonEmpty), "column stats missing")
    // VACUUM: 16 tiny files pack into far fewer on the rewrite
    graft.cli.ExecuteSql.run(spark, "VACUUM FULL maint_t", None)
    assert(partFiles < 16, s"expected compaction, still $partFiles files")
    assert(spark.table("maint_t").count() === 1000)
    // Spark's own ANALYZE TABLE syntax passes through untouched
    graft.cli.ExecuteSql.run(spark, "ANALYZE TABLE maint_t COMPUTE STATISTICS", None)
  }

  // ---- PIVOT / UNPIVOT ----
  test("PIVOT and UNPIVOT execute natively") {
    Tables.registerAll(spark, sfDir)
    val piv = spark.sql(
      """SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
        |PIVOT (COUNT(*) FOR o_orderpriority IN ('1-URGENT' AS urgent, '2-HIGH' AS high))
        |ORDER BY o_orderstatus""".stripMargin).collect()
    assert(piv.nonEmpty && piv.head.schema.fieldNames.toSeq === Seq("o_orderstatus", "urgent", "high"))
    val unpiv = spark.sql(
      """SELECT * FROM (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
        |                      CAST(o_custkey AS DOUBLE) AS cust
        |               FROM orders LIMIT 3)
        |UNPIVOT (val FOR metric IN (price, cust))""".stripMargin).collect()
    assert(unpiv.length === 6) // 3 rows × 2 unpivoted metrics
  }

  // ---- recursive CTE ----
  test("WITH RECURSIVE executes natively (fixed-point union)") {
    assert(sql1(
      "WITH RECURSIVE f(n, x) AS (SELECT 1, 1 UNION ALL SELECT n + 1, x * (n + 1) FROM f WHERE n < 5) " +
        "SELECT max(x) FROM f").getInt(0) === 120) // 5!
  }

  // ---- HLLSKETCH ops ----
  test("hll sketch ops: create/cardinality/combine track exact distinct counts") {
    Tables.registerAll(spark, sfDir)
    val exact = spark.sql("SELECT COUNT(DISTINCT o_custkey) FROM orders")
      .collect()(0).getLong(0)
    val direct = sql1("SELECT hll(o_custkey) FROM orders").getLong(0)
    assert(math.abs(direct - exact).toDouble / exact < 0.05, s"hll $direct vs $exact")
    val viaSketch = sql1("SELECT hll_cardinality(hll_create_sketch(o_custkey)) FROM orders")
      .getLong(0)
    assert(math.abs(viaSketch - exact).toDouble / exact < 0.05)
    // mergeability: per-group sketches combined == one global sketch
    val combined = sql1(
      """SELECT hll_cardinality(hll_combine(sk)) FROM
        |  (SELECT o_orderstatus, hll_create_sketch(o_custkey) AS sk
        |   FROM orders GROUP BY o_orderstatus)""".stripMargin).getLong(0)
    assert(combined === viaSketch)
  }

  // ---- SUPER / Variant ----
  test("json_parse/json_serialize round-trip and variant navigation") {
    assert(sql1("""SELECT json_serialize(json_parse('{"k": 69}'))""")
      .getString(0) === """{"k":69}""")
    assert(sql1("""SELECT CAST(variant_get(json_parse('{"a": {"b": [1, 7]}}'), '$.a.b[1]') AS INT)""")
      .getInt(0) === 7)
    // native colon navigation on the parsed variant
    assert(sql1("""SELECT json_parse('{"a": 5}'):a::int""").getInt(0) === 5)
  }

  // ---- TO_CHAR ----
  test("TO_CHAR with date tokens becomes date_format with java tokens") {
    assert(rewrite("SELECT TO_CHAR(ts, 'YYYY-MM-DD HH24:MI:SS')") ===
      "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss')")
    assert(sql1("SELECT TO_CHAR(TIMESTAMP '2024-03-05 07:08:09', 'YYYY-MM-DD HH24:MI:SS')")
      .getString(0) === "2024-03-05 07:08:09")
    // numeric to_char untouched (native in Spark)
    val qn = "SELECT to_char(x, '999.99') FROM t"
    assert(rewrite(qn) === qn)
  }

  // ---- registered functions ----
  test("fnv_hash matches the published FNV-1a test vectors") {
    // vectors from the public FNV reference: fnv1a64('') = cbf29ce484222325,
    // fnv1a64('a') = af63dc4c8601ec8c, fnv1a64('foobar') = 85944171f73967e8
    assert(HashExpressions.fnv1a("".getBytes("UTF-8")) === 0xcbf29ce484222325L)
    assert(HashExpressions.fnv1a("a".getBytes("UTF-8")) === 0xaf63dc4c8601ec8cL)
    assert(HashExpressions.fnv1a("foobar".getBytes("UTF-8")) === 0x85944171f73967e8L)
    assert(sql1("SELECT fnv_hash('foobar')").getLong(0) === 0x85944171f73967e8L)
  }
  test("fnv_hash over a column is distributed + deterministic") {
    Tables.registerAll(spark, sfDir)
    val a = spark.sql("SELECT bit_xor(fnv_hash(o_orderpriority)) FROM orders").collect()(0).getLong(0)
    val b = spark.sql("SELECT bit_xor(fnv_hash(o_orderpriority)) FROM orders").collect()(0).getLong(0)
    assert(a === b)
  }
  test("checksum / charindex / len / regexp_substr resolve and compute") {
    assert(sql1("SELECT checksum('foobar')").getInt(0) ===
      HashExpressions.checksum(0x85944171f73967e8L))
    assert(sql1("SELECT charindex('dog', 'catdogfish')").getInt(0) === 4)
    assert(sql1("SELECT charindex('zzz', 'catdogfish')").getInt(0) === 0)
    assert(sql1("SELECT len('hello')").getInt(0) === 5)
    assert(sql1("SELECT regexp_substr('a1b22c333', '[0-9]+')").getString(0) === "1")
    assert(sql1("SELECT fnv_hash(CAST(42 AS BIGINT))").getLong(0) ===
      HashExpressions.fnv1aLong(42L))
  }

  // ---- identity property ----
  // ---- ALTER TABLE APPEND ----
  test("ALTER TABLE APPEND moves all rows from source and empties it") {
    import graft.cli.ExecuteSql.{run => x}
    spark.sql("DROP TABLE IF EXISTS app_t")
    spark.sql("DROP TABLE IF EXISTS app_s")
    spark.range(3).selectExpr("id", "id * 2 as v").write.saveAsTable("app_t")
    spark.range(10, 13).selectExpr("id", "id * 2 as v").write.saveAsTable("app_s")
    x(spark, "ALTER TABLE app_t APPEND FROM app_s", None)
    assert(spark.table("app_t").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(0L, 1L, 2L, 10L, 11L, 12L))
    assert(spark.table("app_s").count() === 0)      // emptied, not dropped
    assert(spark.catalog.tableExists("app_s"))
    // FILLTARGET: source lacking a target column fills it with NULL
    spark.sql("DROP TABLE IF EXISTS app_s2")
    spark.range(20, 22).selectExpr("id").write.saveAsTable("app_s2")
    val e = intercept[IllegalArgumentException] {
      x(spark, "ALTER TABLE app_t APPEND FROM app_s2", None)
    }
    assert(e.getMessage.contains("FILLTARGET"))
    x(spark, "ALTER TABLE app_t APPEND FROM app_s2 FILLTARGET", None)
    assert(spark.table("app_t").filter("id = 20").collect()(0).isNullAt(1))
    // IGNOREEXTRA: a source-only column raises unless asked to drop it
    spark.sql("DROP TABLE IF EXISTS app_s3")
    spark.range(30, 31).selectExpr("id", "id * 2 as v", "'x' as junk")
      .write.saveAsTable("app_s3")
    val e2 = intercept[IllegalArgumentException] {
      x(spark, "ALTER TABLE app_t APPEND FROM app_s3", None)
    }
    assert(e2.getMessage.contains("IGNOREEXTRA"))
    x(spark, "ALTER TABLE app_t APPEND FROM app_s3 IGNOREEXTRA", None)
    assert(spark.table("app_t").filter("id = 30").collect()(0).getLong(1) === 60L)
    // mismatched column TYPES raise (Redshift rule — no silent cast)
    spark.sql("DROP TABLE IF EXISTS app_s4")
    spark.range(1).selectExpr("cast(id as int) as id", "id * 2 as v")
      .write.saveAsTable("app_s4")
    val e3 = intercept[IllegalArgumentException] {
      x(spark, "ALTER TABLE app_t APPEND FROM app_s4", None)
    }
    assert(e3.getMessage.contains("types must match"))
    // other ALTER TABLE forms still reach Spark's native DDL
    x(spark, "ALTER TABLE app_t RENAME TO app_renamed", None)
    assert(spark.catalog.tableExists("app_renamed"))
    Seq("app_renamed", "app_s", "app_s2", "app_s3", "app_s4")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  // ---- MATERIALIZED VIEW shim ----
  test("CREATE/REFRESH/DROP MATERIALIZED VIEW: refresh sees base-table changes") {
    import graft.cli.ExecuteSql.{run => x}
    spark.sql("DROP TABLE IF EXISTS mv_base")
    spark.sql("DROP TABLE IF EXISTS mv_sum")
    spark.range(10).selectExpr("id % 2 as k", "id as v").write.saveAsTable("mv_base")
    x(spark, """CREATE MATERIALIZED VIEW mv_sum AS
               |SELECT k, SUM(v) AS total FROM mv_base GROUP BY k""".stripMargin, None)
    // querying the MV is just querying the table
    val before = spark.table("mv_sum").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(before.toSeq === Seq((0L, 20L), (1L, 25L)))
    // base changes are NOT visible until refresh (materialized semantics)…
    spark.sql("INSERT INTO mv_base VALUES (0, 100)")
    assert(spark.table("mv_sum").orderBy("k").collect()(0).getLong(1) === 20L)
    // …and ARE after REFRESH (full recompute, copy-on-write swap)
    x(spark, "REFRESH MATERIALIZED VIEW mv_sum", None)
    val after = spark.table("mv_sum").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq === Seq((0L, 120L), (1L, 25L)))
    // a second refresh keeps working (the query property survives the swap)
    x(spark, "REFRESH MATERIALIZED VIEW mv_sum", None)
    assert(spark.table("mv_sum").count() === 2)
    // guards: refresh of a plain table raises; drop requires MV-ness
    val e = intercept[IllegalArgumentException] {
      x(spark, "REFRESH MATERIALIZED VIEW mv_base", None)
    }
    assert(e.getMessage.contains("not a materialized view"))
    val e2 = intercept[IllegalArgumentException] {
      x(spark, "DROP MATERIALIZED VIEW mv_base", None)
    }
    assert(e2.getMessage.contains("DROP TABLE"))
    // AUTO REFRESH YES raises (no background refresher — stale data must
    // not be served silently); NO is accepted
    val e3 = intercept[IllegalArgumentException] {
      x(spark, "CREATE MATERIALIZED VIEW mv_auto AUTO REFRESH YES AS SELECT 1 AS x", None)
    }
    assert(e3.getMessage.contains("AUTO REFRESH"))
    x(spark, "DROP MATERIALIZED VIEW mv_sum", None)
    assert(!spark.catalog.tableExists("mv_sum"))
    x(spark, "DROP MATERIALIZED VIEW IF EXISTS mv_sum", None) // no-op, no raise
    spark.sql("DROP TABLE IF EXISTS mv_base")
  }

  test("MATERIALIZED VIEW defining query may use dialect constructs; DISTKEY buckets") {
    import graft.cli.ExecuteSql.{run => x}
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS mv_top")
    // the whole statement goes through the rewriter before LocalMv sees it,
    // so TOP/QUALIFY in the defining query work and the STORED query is
    // already valid Spark SQL (refresh re-runs it directly)
    x(spark, """CREATE MATERIALIZED VIEW mv_top DISTKEY (o_custkey)
               |SORTKEY (o_totalprice) AS
               |SELECT TOP 5 o_custkey, o_totalprice FROM orders
               |ORDER BY o_totalprice DESC""".stripMargin, None)
    assert(spark.table("mv_top").count() === 5)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("mv_top"))
    assert(meta.bucketSpec.exists(_.bucketColumnNames == Seq("o_custkey")))
    assert(meta.bucketSpec.exists(_.sortColumnNames == Seq("o_totalprice")))
    x(spark, "REFRESH MATERIALIZED VIEW mv_top", None)
    // the bucketed layout survives the refresh swap
    val meta2 = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("mv_top"))
    assert(meta2.bucketSpec.exists(_.bucketColumnNames == Seq("o_custkey")))
    x(spark, "DROP MATERIALIZED VIEW mv_top", None)
  }

  test("MV defining queries with backslashes/quotes survive REFRESH byte-identically") {
    import graft.cli.ExecuteSql.{run => x}
    spark.sql("DROP TABLE IF EXISTS mv_esc")
    // '\\d' parses to regex \d at CREATE; the stored query must hold the
    // SAME text so REFRESH computes the same regex (a SQL-literal property
    // round-trip would re-process the escapes — code-review r8 finding)
    x(spark, """CREATE MATERIALIZED VIEW mv_esc AS
               |SELECT regexp_replace('a1b2c3', '\\d', '') AS t, 'it''s' AS q""".stripMargin, None)
    val before = spark.table("mv_esc").collect()(0)
    assert(before.getString(0) === "abc" && before.getString(1) === "it's")
    x(spark, "REFRESH MATERIALIZED VIEW mv_esc", None)
    val after = spark.table("mv_esc").collect()(0)
    assert(after.getString(0) === "abc" && after.getString(1) === "it's")
    x(spark, "DROP MATERIALIZED VIEW mv_esc", None)
  }

  test("MV guards: DML on an MV raises; VACUUM keeps it refreshable; SORTKEY-only buckets") {
    import graft.cli.ExecuteSql.{run => x}
    spark.sql("DROP TABLE IF EXISTS mvg_base")
    spark.sql("DROP TABLE IF EXISTS mvg")
    spark.range(6).selectExpr("id as k", "id * 2 as v").write.saveAsTable("mvg_base")
    x(spark, "CREATE MATERIALIZED VIEW mvg SORTKEY (k) AS SELECT k, v FROM mvg_base", None)
    // SORTKEY without DISTKEY still produces the bucketed sorted layout
    // (same rule as CREATE TABLE DDL — review finding: it was dropped)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("mvg"))
    assert(meta.bucketSpec.exists(_.sortColumnNames == Seq("k")))
    // row-level DML against the MV raises (Redshift rule) …
    val e = intercept[IllegalArgumentException] {
      x(spark, "UPDATE mvg SET v = 0", None)
    }
    assert(e.getMessage.contains("materialized view"))
    intercept[IllegalArgumentException] { x(spark, "DELETE FROM mvg", None) }
    // … but VACUUM is allowed and must NOT demote the MV (swapDf keeps
    // graft.* properties): REFRESH still works afterwards
    x(spark, "VACUUM mvg", None)
    spark.sql("INSERT INTO mvg_base VALUES (100, 200)")
    x(spark, "REFRESH MATERIALIZED VIEW mvg", None)
    assert(spark.table("mvg").count() === 7)
    x(spark, "DROP MATERIALIZED VIEW mvg", None)
    spark.sql("DROP TABLE IF EXISTS mvg_base")
  }

  test("ALTER TABLE APPEND refuses self-append instead of destroying the table") {
    import graft.cli.ExecuteSql.{run => x}
    spark.sql("DROP TABLE IF EXISTS selfapp_t")
    spark.range(4).write.saveAsTable("selfapp_t")
    val e = intercept[IllegalArgumentException] {
      x(spark, "ALTER TABLE selfapp_t APPEND FROM selfapp_t", None)
    }
    assert(e.getMessage.contains("different tables"))
    assert(spark.table("selfapp_t").count() === 4) // untouched
    spark.sql("DROP TABLE selfapp_t")
  }

  test("EXPLAIN over an emulated statement fails with the reason, not a parse error") {
    import graft.cli.ExecuteSql.{run => x}
    val e = intercept[IllegalArgumentException] {
      x(spark, "EXPLAIN UPDATE some_t SET a = 1", None)
    }
    assert(e.getMessage.contains("local emulation"))
  }

  // ---- EXPLAIN pass-through ----
  test("EXPLAIN over dialect constructs rewrites the inner query and returns a plan") {
    Tables.registerAll(spark, sfDir)
    val plan = spark.sql(rewrite(
      """EXPLAIN SELECT TOP 3 o_custkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk
        |FROM orders QUALIFY rk = 1 ORDER BY o_custkey""".stripMargin))
      .collect()(0).getString(0)
    assert(plan.contains("Physical Plan"), plan)
    assert(!plan.toLowerCase.contains("qualify"), s"QUALIFY must be rewritten away:\n$plan")
  }
  test("EXPLAIN VERBOSE maps to Spark's EXTENDED mode") {
    val r = rewrite("EXPLAIN VERBOSE SELECT TOP 1 a FROM t")
    assert(r === "EXPLAIN EXTENDED SELECT a FROM t LIMIT 1")
    val plain = rewrite("EXPLAIN SELECT a FROM t")
    assert(plain === "EXPLAIN SELECT a FROM t")
  }

  // ---- TO_DATE / TO_TIMESTAMP (PG format tokens) ----
  test("TO_DATE/TO_TIMESTAMP translate PG format tokens and compute") {
    assert(rewrite("SELECT TO_DATE('2019-06-30', 'YYYY-MM-DD')") ===
      "SELECT TO_DATE('2019-06-30', 'yyyy-MM-dd')")
    val d = sql1("SELECT TO_DATE('2019-06-30', 'YYYY-MM-DD') AS d")
    assert(d.getDate(0).toString === "2019-06-30")
    val t = sql1("SELECT TO_TIMESTAMP('30 Jun 2019 23:15:59', 'DD Mon YYYY HH24:MI:SS') AS t")
    assert(t.getTimestamp(0).toString === "2019-06-30 23:15:59.0")
    val t12 = sql1("SELECT TO_TIMESTAMP('2019-06-30 11:15 PM', 'YYYY-MM-DD HH12:MI PM') AS t")
    assert(t12.getTimestamp(0).toString === "2019-06-30 23:15:00.0")
  }
  test("TO_DATE/TO_TIMESTAMP leave java-pattern formats untouched") {
    val q = "SELECT to_timestamp('2019-06-30 23:15:59', 'yyyy-MM-dd HH:mm:ss')"
    assert(rewrite(q) === q) // translating its HH would silently shift 12 hours
    val r = sql1(q + " AS t")
    assert(r.getTimestamp(0).toString === "2019-06-30 23:15:59.0")
  }

  // ---- CREATE TABLE (LIKE parent) ----
  test("CREATE TABLE (LIKE parent) maps to Spark CREATE TABLE LIKE and executes") {
    assert(rewrite("CREATE TABLE t2 (LIKE s.t1 INCLUDING DEFAULTS)") ===
      "CREATE TABLE t2 LIKE s.t1")
    spark.sql("DROP TABLE IF EXISTS like_child")
    spark.sql("DROP TABLE IF EXISTS like_parent")
    spark.sql("CREATE TABLE like_parent (id BIGINT, v DOUBLE) USING parquet")
    graft.cli.ExecuteSql.run(spark, "CREATE TABLE like_child (LIKE like_parent)", None)
    graft.cli.ExecuteSql.run(spark,
      "INSERT INTO like_child VALUES (1, 1.5), (2, 2.5)", None)
    assert(spark.table("like_child").count() === 2)
    assert(spark.table("like_child").schema === spark.table("like_parent").schema)
    // a plain column list with a column named `like` must not trigger it
    assert(rewrite("CREATE TABLE t3 (like INT, a STRING)") ===
      "CREATE TABLE t3 (like INT, a STRING)")
  }

  test("pg_last_copy_count tracks the rows loaded by the latest COPY") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS plcc_t")
    spark.sql("CREATE TABLE plcc_t (id BIGINT, v DOUBLE) USING parquet")
    val f = Files.createTempDirectory("graft_plcc_").resolve("d.csv")
    Files.writeString(f, "1|1.5\n2|2.5\n3|3.5\n")
    graft.cli.ExecuteSql.run(spark, s"COPY plcc_t FROM '$f'", None)
    assert(sql1("SELECT pg_last_copy_count() AS n").getLong(0) === 3L)
    Files.writeString(f, "9|9.9\n")
    graft.cli.ExecuteSql.run(spark, s"COPY plcc_t FROM '$f'", None)
    assert(sql1("SELECT pg_last_copy_count() AS n").getLong(0) === 1L)
  }

  test("information_schema.tables/columns resolve through the shim views") {
    import graft.cli.ExecuteSql
    spark.sql("DROP TABLE IF EXISTS infos_t")
    spark.sql("CREATE TABLE infos_t (id BIGINT, name STRING) USING parquet")
    // executes through the pass-through (rewriter folds the qualified name)
    ExecuteSql.run(spark,
      "SELECT table_name FROM information_schema.tables WHERE table_name = 'infos_t'", None)
    graft.sql.CatalogShims.register(spark)
    val t = spark.sql(rewrite(
      "SELECT table_schema, table_type FROM information_schema.tables " +
        "WHERE table_name = 'infos_t'")).collect()
    assert(t.length === 1 && t(0).getString(1) === "BASE TABLE")
    val cols = spark.sql(rewrite(
      "SELECT column_name, ordinal_position, is_nullable, data_type " +
        "FROM information_schema.columns WHERE table_name = 'infos_t' " +
        "ORDER BY ordinal_position")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(cols.toSeq === Seq(
      ("id", 1, "YES", "bigint"),
      ("name", 2, "YES", "character varying(65535)")))
  }

  // ---- multi-statement scripts / transaction control / comments ----
  test("multi-statement script with BEGIN/COMMIT executes every statement in order") {
    spark.sql("DROP TABLE IF EXISTS script_t")
    graft.cli.ExecuteSql.run(spark,
      """BEGIN;
        |CREATE TABLE script_t (id BIGINT, v DOUBLE) USING parquet;
        |INSERT INTO script_t VALUES (1, 1.0), (2, 2.0);
        |UPDATE script_t SET v = v * 10 WHERE id = 2;
        |GRANT SELECT ON script_t TO PUBLIC;
        |COMMIT;""".stripMargin, None)
    val rows = spark.table("script_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq === Seq((1L, 1.0), (2L, 20.0)))
    // a semicolon INSIDE a string literal must not split the script
    graft.cli.ExecuteSql.run(spark,
      "INSERT INTO script_t VALUES (3, 3.0); " +
        "CREATE TABLE IF NOT EXISTS script_t2 AS SELECT 'a;b' AS s", None)
    assert(spark.table("script_t").count() === 3)
    assert(spark.table("script_t2").head.getString(0) === "a;b")
  }

  test("COMMENT ON TABLE/COLUMN map to Spark comment metadata") {
    spark.sql("DROP TABLE IF EXISTS cmt_t")
    spark.sql("CREATE TABLE cmt_t (id BIGINT, v DOUBLE) USING parquet")
    def tblComment: Option[String] = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("cmt_t"))
      .comment
    graft.cli.ExecuteSql.run(spark, "COMMENT ON TABLE cmt_t IS 'fact table'", None)
    assert(tblComment.contains("fact table"))
    graft.cli.ExecuteSql.run(spark, "COMMENT ON COLUMN cmt_t.v IS 'value col'", None)
    assert(spark.table("cmt_t").schema("v").getComment().contains("value col"))
    graft.cli.ExecuteSql.run(spark, "COMMENT ON TABLE cmt_t IS NULL", None)
    assert(tblComment.isEmpty)
    // native ALTER COLUMN COMMENT passes through runAlterColumns untouched
    graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE cmt_t ALTER COLUMN id COMMENT 'pk'", None)
    assert(spark.table("cmt_t").schema("id").getComment().contains("pk"))
  }

  // ---- CONNECT BY ----
  test("CONNECT BY PRIOR rewrites to a recursive CTE with LEVEL and executes") {
    spark.sql("DROP TABLE IF EXISTS cb_emp")
    spark.sql("CREATE TABLE cb_emp (id BIGINT, mgr BIGINT, name STRING) USING parquet")
    spark.sql("INSERT INTO cb_emp VALUES (1, NULL, 'ceo'), (2, 1, 'vp1'), " +
      "(3, 1, 'vp2'), (4, 2, 'ic1'), (5, 4, 'intern')")
    val rows = spark.sql(rewrite(
      "SELECT id, name, level FROM cb_emp START WITH mgr IS NULL " +
        "CONNECT BY PRIOR id = mgr ORDER BY id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq((1L, "ceo", 1L), (2L, "vp1", 2L), (3L, "vp2", 2L),
      (4L, "ic1", 3L), (5L, "intern", 4L)))
    // reversed operand order; WHERE filters AFTER hierarchy expansion
    val rows2 = spark.sql(rewrite(
      "SELECT id, level FROM cb_emp WHERE id <> 3 START WITH mgr IS NULL " +
        "CONNECT BY mgr = PRIOR id ORDER BY id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows2.toSeq === Seq((1L, 1L), (2L, 2L), (4L, 3L), (5L, 4L)))
    // guards: PRIOR required on exactly one side; START WITH required
    intercept[IllegalArgumentException] {
      rewrite("SELECT id FROM cb_emp START WITH mgr IS NULL CONNECT BY id = mgr")
    }
    intercept[IllegalArgumentException] {
      rewrite("SELECT id FROM cb_emp CONNECT BY PRIOR id = mgr")
    }
  }

  // ---- POSIX regex operators ----
  test("POSIX regex operators map to RLIKE; bitwise ~ stays untouched") {
    assert(rewrite("SELECT * FROM t WHERE a ~ '^ab'") ===
      "SELECT * FROM t WHERE a RLIKE '^ab'")
    assert(rewrite("SELECT * FROM t WHERE a !~* 'ab$'") ===
      "SELECT * FROM t WHERE a NOT RLIKE '(?i)ab$'")
    assert(rewrite("SELECT * FROM t WHERE a ~* upper(b)") ===
      "SELECT * FROM t WHERE a RLIKE concat('(?i)', upper(b))")
    assert(rewrite("SELECT c FROM t WHERE x~'p' AND y !~ 'q'") ===
      "SELECT c FROM t WHERE x RLIKE 'p' AND y NOT RLIKE 'q'")
    Seq("SELECT ~5", "SELECT 5 & ~x FROM t",
        "SELECT CASE WHEN a THEN ~b ELSE c END FROM t").foreach { q =>
      assert(rewrite(q) === q, s"bitwise ~ corrupted: $q")
    }
    Tables.registerAll(spark, sfDir)
    val n = spark.sql(rewrite(
      "SELECT count(*) AS n FROM nation WHERE n_name ~* '^nation_1'")).head.getLong(0)
    val m = spark.sql(
      "SELECT count(*) FROM nation WHERE lower(n_name) LIKE 'nation_1%'").head.getLong(0)
    assert(n === m && n > 0)
  }

  test("strtol and date_part_year compute") {
    assert(sql1("SELECT strtol('ff', 16) AS v").getLong(0) === 255L)
    assert(sql1("SELECT strtol('101', 2) AS v").getLong(0) === 5L)
    assert(sql1("SELECT date_part_year(DATE'2008-06-01') AS y").getInt(0) === 2008)
  }

  // ---- session SETs ----
  test("SET search_path picks the first existing schema; SET timezone maps to the session conf") {
    val prevDb = spark.catalog.currentDatabase
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.sql("CREATE SCHEMA IF NOT EXISTS sp_target")
      graft.cli.ExecuteSql.run(spark,
        "SET search_path TO no_such_schema, \"$user\", sp_target, default", None)
      assert(spark.catalog.currentDatabase === "sp_target")
      // unqualified DDL now lands in the schema the path selected
      graft.cli.ExecuteSql.run(spark,
        "CREATE TABLE sp_unqualified (id INT) USING parquet", None)
      assert(spark.catalog.tableExists("sp_target.sp_unqualified"))
      graft.cli.ExecuteSql.run(spark, "SET TIME ZONE 'America/New_York'", None)
      assert(spark.conf.get("spark.sql.session.timeZone") === "America/New_York")
      // generic TO-form session knobs execute as Spark SET (inert keys)
      graft.cli.ExecuteSql.run(spark, "SET statement_timeout TO 0", None)
      intercept[IllegalArgumentException] {
        graft.cli.ExecuteSql.run(spark, "SET search_path TO nope_a, nope_b", None)
      }
    } finally {
      spark.catalog.setCurrentDatabase(prevDb)
      spark.conf.set("spark.sql.session.timeZone", prevTz)
    }
  }

  test("events loader refuses a non-UTC session (NTZ wall clocks would shift silently)") {
    // Tables.load casts the fixture's TIMESTAMP_NTZ ts into the SESSION
    // zone; under any zone but UTC every event would shift vs DuckDB
    // reading the same file — the loader must fail loudly (ADVICE r10).
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Tables.load(spark, sfDir, "events")
      }
      assert(e.getMessage.contains("timeZone"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  // ---- column-level ALTER TABLE ----
  test("ALTER TABLE ADD COLUMN rewrites to native ADD COLUMNS with type normalization") {
    assert(rewrite("ALTER TABLE t ADD COLUMN c INT8") ===
      "ALTER TABLE t ADD COLUMNS (c BIGINT)")
    assert(rewrite("ALTER TABLE t ADD c DOUBLE PRECISION DEFAULT 0.0") ===
      "ALTER TABLE t ADD COLUMNS (c DOUBLE DEFAULT 0.0)")
    // native Spark forms and non-column ADDs stay untouched
    Seq("ALTER TABLE t ADD COLUMNS (c INT)",
        "ALTER TABLE t ADD PARTITION (dt='2008-01-01')").foreach { q =>
      assert(rewrite(q) === q)
    }
  }

  test("ALTER TABLE column DDL executes: add/alter-type/rename/drop, data kept") {
    spark.sql("DROP TABLE IF EXISTS altcol_t")
    spark.sql("CREATE TABLE altcol_t (id BIGINT, v DOUBLE) USING parquet")
    spark.sql("INSERT INTO altcol_t VALUES (1, 1.5), (2, 2.5)")
    // Redshift one-column ADD with DEFAULT: existing rows read the default
    graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE altcol_t ADD COLUMN tag VARCHAR(8) DEFAULT 'none'", None)
    assert(spark.table("altcol_t").filter("tag = 'none'").count() === 2)
    // type change is a cast, column order preserved
    graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE altcol_t ALTER COLUMN v TYPE DECIMAL(10,2)", None)
    assert(spark.table("altcol_t").schema("v").dataType ===
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(spark.table("altcol_t").schema.fieldNames.toSeq === Seq("id", "v", "tag"))
    // rename + drop, rows intact throughout
    graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE altcol_t RENAME COLUMN tag TO label", None)
    assert(spark.table("altcol_t").schema.fieldNames.toSeq === Seq("id", "v", "label"))
    graft.cli.ExecuteSql.run(spark, "ALTER TABLE altcol_t DROP COLUMN label", None)
    assert(spark.table("altcol_t").schema.fieldNames.toSeq === Seq("id", "v"))
    assert(spark.table("altcol_t").count() === 2)
    assert(spark.sql("SELECT CAST(sum(v) AS DOUBLE) FROM altcol_t")
      .head.getDouble(0) === 4.0)
    // guards: unknown column, duplicate rename target
    intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, "ALTER TABLE altcol_t DROP COLUMN nope", None)
    }
    intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, "ALTER TABLE altcol_t RENAME COLUMN v TO id", None)
    }
  }

  // ---- Spectrum external DDL ----
  test("CREATE EXTERNAL SCHEMA maps to CREATE SCHEMA, catalog plumbing dropped") {
    assert(rewrite("CREATE EXTERNAL SCHEMA spectrum FROM DATA CATALOG " +
      "DATABASE 'lake' IAM_ROLE 'arn:aws:iam::123:role/x' " +
      "CREATE EXTERNAL DATABASE IF NOT EXISTS") === "CREATE SCHEMA spectrum")
    assert(rewrite("CREATE EXTERNAL SCHEMA IF NOT EXISTS s2 FROM HIVE METASTORE " +
      "URI '10.0.0.1'") === "CREATE SCHEMA IF NOT EXISTS s2")
  }

  test("CREATE EXTERNAL TABLE parquet executes: LOCATION-pinned, queryable") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_ext_parq_")
    spark.range(10).selectExpr("id AS o_orderkey", "cast(id * 1.5 as double) AS o_totalprice")
      .write.mode("overwrite").parquet(dir.toString)
    graft.cli.ExecuteSql.run(spark,
      "CREATE EXTERNAL SCHEMA ext_s1 FROM DATA CATALOG DATABASE 'l' IAM_ROLE 'r'", None)
    graft.cli.ExecuteSql.run(spark,
      s"CREATE EXTERNAL TABLE ext_s1.ext_orders (o_orderkey BIGINT, " +
        s"o_totalprice DOUBLE PRECISION) STORED AS PARQUET LOCATION '$dir'", None)
    assert(spark.table("ext_s1.ext_orders").count() === 10)
    assert(spark.sql("SELECT count(*) FROM ext_s1.ext_orders WHERE o_totalprice > 6.0")
      .head.getLong(0) === 5)
    // dropping the external table must leave the data files in place
    spark.sql("DROP TABLE ext_s1.ext_orders")
    assert(Files.list(dir).iterator().hasNext, "external data files were deleted")
  }

  test("CREATE EXTERNAL TABLE partitioned + ALTER TABLE ADD PARTITION prunes") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_ext_part_")
    val p1 = base.resolve("d1"); val p2 = base.resolve("d2")
    spark.range(4).selectExpr("id", "cast(id as double) AS v")
      .write.parquet(p1.toString)
    spark.range(6).selectExpr("id", "cast(id as double) AS v")
      .write.parquet(p2.toString)
    graft.cli.ExecuteSql.run(spark,
      "CREATE EXTERNAL SCHEMA IF NOT EXISTS ext_s2 FROM DATA CATALOG DATABASE 'l'", None)
    graft.cli.ExecuteSql.run(spark,
      s"CREATE EXTERNAL TABLE ext_s2.sales (id BIGINT, v DOUBLE) " +
        s"PARTITIONED BY (dt DATE) STORED AS PARQUET LOCATION '$base/tbl'", None)
    graft.cli.ExecuteSql.run(spark,
      s"ALTER TABLE ext_s2.sales ADD PARTITION (dt='2008-01-01') LOCATION '$p1'", None)
    graft.cli.ExecuteSql.run(spark,
      s"ALTER TABLE ext_s2.sales ADD IF NOT EXISTS PARTITION (dt='2008-02-01') " +
        s"LOCATION '$p2'", None)
    assert(spark.table("ext_s2.sales").count() === 10)
    val one = spark.sql("SELECT * FROM ext_s2.sales WHERE dt = DATE'2008-01-01'")
    assert(one.count() === 4)
    // the partition filter must prune at the scan, not post-filter all files
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"),
      s"no partition pruning in:\n$plan")
    // Spectrum's DROP PARTITION detaches without deleting files
    graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE ext_s2.sales DROP PARTITION (dt='2008-01-01')", None)
    assert(spark.table("ext_s2.sales").count() === 6)
    assert(Files.list(p1).iterator().hasNext, "dropped partition files were deleted")
  }

  test("CREATE EXTERNAL TABLE textfile: delimiter + skip.header.line.count") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_ext_csv_")
    Files.writeString(dir.resolve("data.csv"), "id|name\n1|alpha\n2|beta\n")
    graft.cli.ExecuteSql.run(spark,
      "CREATE EXTERNAL SCHEMA IF NOT EXISTS ext_s3 FROM DATA CATALOG DATABASE 'l'", None)
    graft.cli.ExecuteSql.run(spark,
      s"CREATE EXTERNAL TABLE ext_s3.ext_csv (id INT, name VARCHAR(10)) " +
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' LINES TERMINATED BY '\\n' " +
        s"STORED AS TEXTFILE LOCATION '$dir' " +
        "TABLE PROPERTIES ('skip.header.line.count'='1', 'numRows'='2')", None)
    val rows = spark.table("ext_s3.ext_csv").orderBy("id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "alpha"), (2, "beta")))
    // pass-through property survives as table metadata
    val props = spark.sql("SHOW TBLPROPERTIES ext_s3.ext_csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("numRows").contains("2"))
  }

  test("CREATE EXTERNAL TABLE normalizes Redshift type spellings") {
    val r = rewrite("CREATE EXTERNAL TABLE s.t (a INT8, b DOUBLE PRECISION, " +
      "c FLOAT, d TEXT, e TIMESTAMPTZ, f BPCHAR, int8 VARBYTE) " +
      "PARTITIONED BY (dt INT4) STORED AS PARQUET LOCATION '/x'")
    assert(r === "CREATE TABLE s.t (a BIGINT, b DOUBLE, c DOUBLE, d STRING, " +
      "e TIMESTAMP_LTZ, f CHAR(256), int8 BINARY, dt INT) USING PARQUET " +
      "PARTITIONED BY (dt) LOCATION '/x'")
  }

  test("CREATE EXTERNAL TABLE guards: SERDE, unsupported formats, missing clauses") {
    intercept[IllegalArgumentException] {
      rewrite("CREATE EXTERNAL TABLE s.t (a INT) STORED AS AVRO LOCATION '/x'")
    }
    intercept[IllegalArgumentException] {
      rewrite("CREATE EXTERNAL TABLE s.t (a INT) ROW FORMAT SERDE 'org.x.Y' " +
        "STORED AS TEXTFILE LOCATION '/x'")
    }
    intercept[IllegalArgumentException] {
      rewrite("CREATE EXTERNAL TABLE s.t (a INT) STORED AS PARQUET") // no LOCATION
    }
    intercept[IllegalArgumentException] { // delimiter is a TEXTFILE concept
      rewrite("CREATE EXTERNAL TABLE s.t (a INT) ROW FORMAT DELIMITED " +
        "FIELDS TERMINATED BY '|' STORED AS PARQUET LOCATION '/x'")
    }
    intercept[IllegalArgumentException] { // only one header line is skippable
      rewrite("CREATE EXTERNAL TABLE s.t (a INT) STORED AS TEXTFILE LOCATION '/x' " +
        "TABLE PROPERTIES ('skip.header.line.count'='3')")
    }
  }

  test("range-join rule: plain SQL BETWEEN join goes bucketed-equi, results unchanged") {
    Tables.registerAll(spark, sfDir)
    val sql =
      """SELECT o_orderkey, COUNT(*) AS n
        |FROM orders o JOIN lineitem l
        |  ON l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 7 DAYS
        |WHERE o.o_totalprice > 450000
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin
    val off = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(off.nonEmpty)
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", (7L * 86400).toString)
    try {
      val df = spark.sql(sql)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"rule did not rescue the range join:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
      val on = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(on.toSeq === off.toSeq)
      // an equi join keeps its SMJ/SHJ shape — the rule must not touch it
      val equi = spark.sql(
        "SELECT COUNT(*) FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey")
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_bkt"))
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    // rule disabled (conf unset): identical results, nested loop allowed
    val off2 = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(off2.toSeq === off.toSeq)
  }

  test("IDENTITY and informational constraints strip out of CREATE TABLE") {
    spark.sql("DROP TABLE IF EXISTS ddl_idt")
    // column-level IDENTITY + PRIMARY KEY + REFERENCES + UNIQUE, and a
    // trailing table-level constraint item — Redshift never enforces any
    // of these, so the stripped table must accept ordinary inserts
    graft.cli.ExecuteSql.run(spark,
      """CREATE TABLE ddl_idt (
        |  id BIGINT IDENTITY(0, 1) PRIMARY KEY,
        |  gid BIGINT GENERATED BY DEFAULT AS IDENTITY(1, 2),
        |  ref BIGINT REFERENCES ddl_idt (id),
        |  u VARCHAR(10) UNIQUE,
        |  PRIMARY KEY (id),
        |  UNIQUE (u, ref),
        |  FOREIGN KEY (ref) REFERENCES ddl_idt (id)
        |);
        |INSERT INTO ddl_idt VALUES (1, 2, 1, 'x'), (2, 4, 1, 'x')""".stripMargin, None)
    val rows = spark.table("ddl_idt").orderBy("id").collect()
    assert(rows.length === 2 && rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(spark.table("ddl_idt").schema.fieldNames.toSeq === Seq("id", "gid", "ref", "u"))
  }

  test("SELECT INTO rewrites to CTAS; the TEMP form dies with the run") {
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS sel_into")
    graft.cli.ExecuteSql.run(spark,
      "SELECT r_regionkey, r_name INTO sel_into FROM region WHERE r_regionkey < 3", None)
    assert(spark.table("sel_into").count() === 3)
    assert(spark.table("sel_into").schema.fieldNames.toSeq === Seq("r_regionkey", "r_name"))
    spark.sql("DROP TABLE sel_into")
    // TEMP form: usable later in the same script, gone after the run
    spark.sql("DROP TABLE IF EXISTS sel_out")
    spark.sql("CREATE TABLE sel_out (n BIGINT)")
    graft.cli.ExecuteSql.run(spark,
      """SELECT r_regionkey INTO TEMP TABLE sel_tmp FROM region;
        |INSERT INTO sel_out SELECT COUNT(*) FROM sel_tmp""".stripMargin, None)
    assert(spark.table("sel_out").head().getLong(0) === 5L)
    assert(!spark.catalog.tableExists("sel_tmp"))
    // INSERT INTO must never trip the rewrite
    graft.cli.ExecuteSql.run(spark, "INSERT INTO sel_out SELECT 7", None)
    assert(spark.table("sel_out").count() === 2)
  }

  test("CREATE TEMP TABLE lives for the script, dies with the run") {
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS temp_out")
    spark.sql("CREATE TABLE temp_out (n BIGINT)")
    // one run = one session: the temp table feeds a later statement …
    graft.cli.ExecuteSql.run(spark,
      """CREATE TEMP TABLE big_orders AS SELECT * FROM orders WHERE o_totalprice > 400000;
        |INSERT INTO temp_out SELECT COUNT(*) FROM big_orders""".stripMargin, None)
    val n = spark.table("temp_out").head().getLong(0)
    assert(n > 0)
    // … and is gone once the run ends
    assert(!spark.catalog.tableExists("big_orders"))
    // plain column-list form too
    graft.cli.ExecuteSql.run(spark, "CREATE TEMPORARY TABLE tt2 (a INT)", None)
    assert(!spark.catalog.tableExists("tt2"))
  }

  test("PREPARE / EXECUTE / DEALLOCATE substitute positional parameters") {
    Tables.registerAll(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS prep_out")
    spark.sql("CREATE TABLE prep_out (k BIGINT, n BIGINT)")
    graft.cli.ExecuteSql.run(spark,
      """PREPARE cnt (int, int) AS
        |  INSERT INTO prep_out SELECT $2, COUNT(*) FROM region WHERE r_regionkey > $1;
        |EXECUTE cnt(1, 10);
        |EXECUTE cnt(3, 20);
        |DEALLOCATE cnt""".stripMargin, None)
    val rows = spark.table("prep_out").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows(0)._1 === 10L && rows(1)._1 === 20L)
    assert(rows(0)._2 === rows(1)._2 + 2) // two more regions clear key > 1 than > 3
    // after DEALLOCATE (and at the start of any new run) the name is gone
    val e = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark, "EXECUTE cnt(0, 0)", None)
    }
    assert(e.getMessage.contains("no such prepared statement"))
    // an unbound parameter is an error, not silently-broken SQL
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.ExecuteSql.run(spark,
        "PREPARE p2 AS SELECT $1 + $2; EXECUTE p2(5)", None)
    }
    assert(e2.getMessage.contains("unbound parameter"))
  }

  test("EXECUTE substitutes only real $n tokens, never inside string literals") {
    spark.sql("DROP TABLE IF EXISTS prep_lit")
    spark.sql("CREATE TABLE prep_lit (lit STRING, v INT)")
    graft.cli.ExecuteSql.run(spark,
      "PREPARE plit AS INSERT INTO prep_lit SELECT 'price is $1', $1; " +
        "EXECUTE plit(42); DEALLOCATE plit", None)
    val row = spark.table("prep_lit").collect()(0)
    assert(row.getString(0) === "price is $1") // literal untouched
    assert(row.getInt(1) === 42)               // parameter bound
    spark.sql("DROP TABLE IF EXISTS prep_lit")
  }

  test("APPROXIMATE PERCENTILE_DISC rewrites to approx_percentile and executes") {
    Tables.registerAll(spark, sfDir)
    val sql = """SELECT l_returnflag,
                 APPROXIMATE PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med
                 FROM lineitem GROUP BY l_returnflag"""
    val rows = spark.sql(graft.sql.RedshiftSql.rewrite(sql))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = spark.sql(
      """SELECT l_returnflag, PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet === exact.keySet && rows.nonEmpty)
    // the sketch is exact at this cardinality
    rows.foreach { case (k, v) => assert(math.abs(v - exact(k)) <= 1.0, s"$k: $v vs ${exact(k)}") }
  }

  test("APPROXIMATE PERCENTILE_DISC: DESC flips the fraction, modifiers stripped") {
    val r = rewrite("SELECT APPROXIMATE PERCENTILE_DISC(0.25) WITHIN GROUP " +
      "(ORDER BY x DESC) FROM t")
    assert(r.contains("approx_percentile(x") && r.contains("1 - (0.25)"), r)
    // DESC p=0 is the maximum; ASC (with NULLS modifiers) p=0 is the minimum
    assert(sql1("SELECT APPROXIMATE PERCENTILE_DISC(0) WITHIN GROUP " +
      "(ORDER BY v DESC) FROM (SELECT explode(array(1, 5, 9)) AS v)").getInt(0) === 9)
    assert(sql1("SELECT APPROXIMATE PERCENTILE_DISC(0) WITHIN GROUP " +
      "(ORDER BY v ASC NULLS LAST) FROM (SELECT explode(array(1, 5, 9)) AS v)")
      .getInt(0) === 1)
    assert(sql1("SELECT APPROXIMATE PERCENTILE_DISC(0.5) WITHIN GROUP " +
      "(ORDER BY v DESC NULLS FIRST) FROM (SELECT explode(array(1, 5, 9)) AS v)")
      .getInt(0) === 5)
  }

  test("TO_DATE lowercase Redshift formats translate (mm is month, not minutes)") {
    assert(rewrite("SELECT TO_DATE(s, 'yyyy-mm-dd') FROM t") ===
      "SELECT TO_DATE(s, 'yyyy-MM-dd') FROM t")
    assert(sql1("SELECT TO_DATE('2024-07-09', 'yyyy-mm-dd')")
      .get(0).toString === "2024-07-09")
    assert(sql1("SELECT TO_DATE('09/07/2024', 'dd/mm/yyyy')")
      .get(0).toString === "2024-07-09")
    // an all-lowercase java TIME pattern is left alone: there mm plausibly
    // means minutes and the PG spelling would be MI
    val q = "SELECT to_timestamp(s, 'hh:mm:ss') FROM t"
    assert(rewrite(q) === q)
    // mixed-case java patterns still pass through untouched
    val q2 = "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t"
    assert(rewrite(q2) === q2)
  }

  test("range-join rule: integer and DATE domains, negatives and inverted intervals") {
    import spark.implicits._
    Seq(-9L, -7L, 0L, 3L, 7L, 15L, 100L).toDF("v")
      .createOrReplaceTempView("rj_probe")
    Seq((1L, -10L, -8L), (2L, 0L, 7L), (3L, 14L, 2L), (4L, -5L, 40L))
      .toDF("iid", "lo", "hi").createOrReplaceTempView("rj_build")
    val sql = """SELECT iid, v FROM rj_build b JOIN rj_probe p
                 ON p.v BETWEEN b.lo AND b.hi ORDER BY iid, v"""
    val off = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    try {
      val df = spark.sql(sql)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === off.toSeq)
      // DATE domain: bucket units are days
      spark.sql("SELECT CAST('2024-01-01' AS DATE) + CAST(v + 9 AS INT) AS d FROM rj_probe")
        .createOrReplaceTempView("rj_pd")
      spark.sql("""SELECT iid, CAST('2024-01-01' AS DATE) + CAST(lo + 10 AS INT) AS dlo,
                          CAST('2024-01-01' AS DATE) + CAST(hi + 10 AS INT) AS dhi
                   FROM rj_build""").createOrReplaceTempView("rj_bd")
      val dsql = "SELECT iid, d FROM rj_bd b JOIN rj_pd p ON p.d BETWEEN b.dlo AND b.dhi ORDER BY iid, d"
      val dOn = spark.sql(dsql)
      assert(!dOn.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      val got = dOn.collect().map(r => (r.getLong(0), r.getDate(1).toString))
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      val want = spark.sql(dsql).collect().map(r => (r.getLong(0), r.getDate(1).toString))
      assert(got.toSeq === want.toSeq && got.nonEmpty)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("rewriter is the identity on already-valid Spark SQL") {
    val valid = Seq(
      "SELECT a, b FROM t WHERE a > 1 ORDER BY b LIMIT 10",
      "SELECT count(DISTINCT a) FROM t GROUP BY b HAVING count(*) > 2",
      "WITH x AS (SELECT 1 AS a) SELECT * FROM x",
      "SELECT 'TOP 5 SIMILAR TO GETDATE() CONVERT(a,b)' AS s FROM t", // literals untouched
      "SELECT \"top\", \"convert\" FROM t",                           // quoted idents untouched
      "SELECT sum(x) OVER (PARTITION BY k ORDER BY ts) FROM t",
      "SELECT CASE WHEN a THEN 1 ELSE 2 END FROM t",
      "SELECT date_format(ts, 'yyyy-MM-dd') FROM t",
      "SELECT a /* TOP 3 */ FROM t -- SELECT TOP 9",
      "SELECT array_sort(collect_list(x)) FROM t GROUP BY k",
      // dollar signs that are NOT dollar-quote openers: inside a string
      // literal, and a bare mid-identifier $ (tag$col is Word+Sym+Word)
      "SELECT 'a $$ not a quote $$ b' AS s FROM t",
      "SELECT a$b, c FROM t WHERE note = '$tag$'")
    valid.foreach(q => assert(rewrite(q) === q, s"rewriter changed valid SQL: $q"))
  }
  // ---- late-binding views (WITH NO SCHEMA BINDING) ----
  test("CREATE VIEW WITH NO SCHEMA BINDING strips the clause, plain views untouched") {
    assert(rewrite("CREATE VIEW v AS SELECT a FROM t WITH NO SCHEMA BINDING").trim
      === "CREATE VIEW v AS SELECT a FROM t")
    assert(rewrite("CREATE OR REPLACE VIEW s.v AS SELECT a, b FROM s.t " +
      "WITH NO SCHEMA BINDING").trim === "CREATE OR REPLACE VIEW s.v AS SELECT a, b FROM s.t")
    // the words inside a WHERE clause are not the trailing clause
    val q = "CREATE VIEW v AS SELECT * FROM t WHERE note = 'WITH NO SCHEMA BINDING'"
    assert(rewrite(q) === q)
    // non-view statements with the same tail are untouched
    val sel = "SELECT with_, no_, schema_, binding_ FROM t"
    assert(rewrite(sel) === sel)
  }

  test("late-binding view executes: create + query + drop over a catalog table") {
    spark.sql("DROP VIEW IF EXISTS lbv_v")
    spark.sql("DROP TABLE IF EXISTS lbv_t")
    spark.sql("CREATE TABLE lbv_t AS SELECT id, id * 2 AS v FROM range(10)")
    graft.cli.ExecuteSql.run(spark,
      "CREATE OR REPLACE VIEW lbv_v AS SELECT id, v FROM lbv_t WHERE v >= 10 " +
        "WITH NO SCHEMA BINDING", None)
    assert(spark.sql("SELECT count(*) FROM lbv_v").head.getLong(0) === 5)
    graft.cli.ExecuteSql.run(spark, "DROP VIEW lbv_v", None)
    spark.sql("DROP TABLE lbv_t")
  }

  test("late-binding view over a Spectrum external table, in a multi-statement script") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_lbv_ext_")
    spark.range(8).selectExpr("id AS k", "cast(id * 3 as double) AS v")
      .write.mode("overwrite").parquet(dir.toString)
    // the whole Redshift-shaped script — external DDL, late-binding view,
    // consumer query — must run end-to-end through one pass-through call
    graft.cli.ExecuteSql.run(spark,
      s"""CREATE EXTERNAL SCHEMA IF NOT EXISTS lbv_ext FROM DATA CATALOG DATABASE 'l';
         |CREATE EXTERNAL TABLE lbv_ext.src (k BIGINT, v DOUBLE PRECISION)
         |  STORED AS PARQUET LOCATION '$dir';
         |CREATE OR REPLACE VIEW lbv_ext.over_src AS
         |  SELECT k, v FROM lbv_ext.src WHERE v > 6.0
         |WITH NO SCHEMA BINDING;
         |CREATE TABLE lbv_counted AS SELECT count(*) AS n FROM lbv_ext.over_src
         |""".stripMargin, None)
    assert(spark.table("lbv_counted").head.getLong(0) === 5)
    spark.sql("DROP TABLE lbv_counted")
    spark.sql("DROP VIEW lbv_ext.over_src")
    spark.sql("DROP TABLE lbv_ext.src")
  }

  // ---- Redshift scalar SQL UDFs ----
  test("CREATE FUNCTION LANGUAGE sql rewrites to a Spark SQL UDF") {
    val r = rewrite("CREATE OR REPLACE FUNCTION f_greater (float, float) " +
      "RETURNS float STABLE AS $$ select case when $1 > $2 then $1 else $2 end " +
      "$$ LANGUAGE sql")
    // float is Redshift float8 — normalized to DOUBLE like external DDL
    assert(r === "CREATE OR REPLACE FUNCTION f_greater(p1 DOUBLE, p2 DOUBLE) " +
      "RETURNS DOUBLE RETURN case when p1 > p2 then p1 else p2 end")
    // IMMUTABLE maps to DETERMINISTIC; single-quoted body form accepted
    val r2 = rewrite("CREATE FUNCTION f_sq (int) RETURNS int IMMUTABLE " +
      "AS 'select $1 * $1' LANGUAGE sql")
    assert(r2 === "CREATE FUNCTION f_sq(p1 int) RETURNS int DETERMINISTIC " +
      "RETURN p1 * p1")
  }

  test("SQL UDF executes: define, call in a query, DROP FUNCTION with arg types") {
    spark.sql("DROP FUNCTION IF EXISTS f_taxed")
    graft.cli.ExecuteSql.run(spark,
      "CREATE OR REPLACE FUNCTION f_taxed (float, float) RETURNS float STABLE " +
        "AS $$ select $1 * (1.0 + $2) $$ LANGUAGE sql", None)
    Tables.registerAll(spark, sfDir)
    val got = spark.sql(
      "SELECT f_taxed(o_totalprice, 0.1) AS t, o_totalprice FROM orders LIMIT 5")
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1) * 1.1) < 1e-6))
    // Redshift DROP FUNCTION carries the mandatory arg-type list
    graft.cli.ExecuteSql.run(spark, "DROP FUNCTION f_taxed(float, float)", None)
    assertThrows[Exception](spark.sql("SELECT f_taxed(1.0, 2.0)").collect())
  }

  test("SQL UDF in a multi-statement script; $n inside string literals survives") {
    graft.cli.ExecuteSql.run(spark,
      """CREATE OR REPLACE FUNCTION f_label (int) RETURNS varchar IMMUTABLE
        |AS $$ select concat('$1 is ', cast($1 as varchar(10))) $$ LANGUAGE sql;
        |CREATE TABLE udf_out AS SELECT f_label(7) AS lbl;
        |DROP FUNCTION f_label(int)
        |""".stripMargin, None)
    assert(spark.table("udf_out").head.getString(0) === "$1 is 7")
    spark.sql("DROP TABLE udf_out")
  }

  test("$-bearing identifiers never open a dollar quote; LANGUAGE is positional") {
    import graft.sql.SqlTokens._
    // glued $tag$ (Redshift identifiers may contain $): stays symbols, so
    // the depth-0 ';' still splits and the second statement survives
    val toks = tokenize("SELECT a$x$ FROM t; SELECT b$x$ FROM u")
    assert(!toks.exists(_.kind == DollarStr))
    assert(toks.exists(t => t.kind == Sym && t.text == ";"))
    // an opener with no closing delimiter anywhere is not a quote either
    assert(!tokenize("SELECT 1 WHERE x = $$oops").exists(_.kind == DollarStr))
    // a table named `language` in a Spark-native SQL UDF body must not
    // trip the Redshift LANGUAGE check (it is positional, after the body)
    val native = "CREATE FUNCTION f(p INT) RETURNS INT RETURN p + (SELECT count(*) FROM language)"
    assert(rewrite(native) === native)
  }

  test("LANGUAGE plpythonu raises loudly; body semicolons never split the script") {
    val e = intercept[IllegalArgumentException](rewrite(
      "CREATE FUNCTION f_py (a int) RETURNS int VOLATILE AS $$ return a $$ " +
        "LANGUAGE plpythonu"))
    assert(e.getMessage.contains("plpythonu"))
    // a dollar-quoted body containing ';' is ONE statement end-to-end
    graft.cli.ExecuteSql.run(spark,
      "CREATE OR REPLACE FUNCTION f_semi (int) RETURNS int IMMUTABLE " +
        "AS $body$ select $1 + length('a;b') $body$ LANGUAGE sql; " +
        "CREATE TABLE udf_semi AS SELECT f_semi(1) AS v", None)
    assert(spark.table("udf_semi").head.getInt(0) === 4)
    spark.sql("DROP TABLE udf_semi")
    spark.sql("DROP FUNCTION f_semi")
  }

  test("UDF params named like type keywords; adjacent dollar strings; OWNER TO tail-anchored") {
    import graft.sql.SqlTokens._
    // `name type` where the NAME is itself a type keyword (`date date`,
    // `text varchar`) is the named form — previously classified as a bare
    // positional type and rendered `p1 date date` (ADVICE r12)
    val r = rewrite("CREATE FUNCTION f_dd (date date) RETURNS int IMMUTABLE " +
      "AS $$ select extract(year from date) $$ LANGUAGE sql")
    assert(r === "CREATE FUNCTION f_dd(date date) RETURNS int DETERMINISTIC " +
      "RETURN extract(year from date)")
    spark.sql("DROP FUNCTION IF EXISTS f_tlen")
    graft.cli.ExecuteSql.run(spark,
      "CREATE FUNCTION f_tlen (text varchar) RETURNS int IMMUTABLE " +
        "AS $$ select length(text) $$ LANGUAGE sql", None)
    assert(spark.sql("SELECT f_tlen('abcd')").head.getInt(0) === 4)
    spark.sql("DROP FUNCTION f_tlen")
    // a lone type keyword stays positional, and multi-word types too
    assert(rewrite("CREATE FUNCTION f_p (date, double precision) RETURNS int " +
      "IMMUTABLE AS $$ select 1 $$ LANGUAGE sql")
      === "CREATE FUNCTION f_p(p1 date, p2 DOUBLE) RETURNS int DETERMINISTIC RETURN 1")
    // adjacent dollar-quoted strings: the closer's `$` is a token
    // boundary, not a glued identifier character (ADVICE r12)
    val adj = tokenize("SELECT $$a$$$$b$$")
    assert(adj.count(_.kind == DollarStr) === 2)
    assert(adj.filter(_.kind == DollarStr).map(dollarBody) === Vector("a", "b"))
    assert(render(adj) === "SELECT $$a$$$$b$$")
    val adjTag = tokenize("SELECT $$a$$$t$b$t$")
    assert(adjTag.filter(_.kind == DollarStr).map(dollarBody) === Vector("a", "b"))
    // OWNER TO is recognized only as the statement TAIL (ADVICE r12): a
    // variant with trailing tokens reaches native DDL (and raises there)
    // instead of being silently swallowed by the loud-ignore path
    assertThrows[Exception](graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE alt_own OWNER TO bob CASCADE", None))
    // ADVICE r13: renaming a column NAMED owner ends in the same anchored
    // `owner TO <ident>` tail — the RENAME/COLUMN token before `owner`
    // must route it to native DDL (rename or raise), never loud-ignore
    spark.sql("DROP TABLE IF EXISTS own_rn")
    spark.sql("CREATE TABLE own_rn (owner STRING, v INT)")
    val rn = scala.util.Try(graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE own_rn RENAME COLUMN owner TO renamed", None))
    assert(rn.isFailure ||
      spark.table("own_rn").schema.fieldNames.contains("renamed"),
      "RENAME COLUMN owner TO x was silently swallowed by the OWNER TO guard")
    spark.sql("DROP TABLE own_rn")
    // ADVICE r14: a table literally NAMED rename — the RENAME token sits
    // in the OBJECT-NAME slot, so this is the plain `ALTER … OWNER TO`
    // shape and must take the loud-ignore path (not fall through to
    // native DDL and die on an opaque parse error). Same for a qualified
    // name ending in `.rename`.
    graft.cli.ExecuteSql.run(spark, "ALTER TABLE rename OWNER TO bob", None)
    graft.cli.ExecuteSql.run(spark, "ALTER TABLE s9.rename OWNER TO bob", None)
    // …while the genuine rename-of-a-column-named-owner on a table named
    // rename still routes to native DDL (both RENAME tokens present)
    spark.sql("DROP TABLE IF EXISTS rename")
    spark.sql("CREATE TABLE rename (owner STRING, v INT)")
    val rn2 = scala.util.Try(graft.cli.ExecuteSql.run(spark,
      "ALTER TABLE rename RENAME COLUMN owner TO renamed", None))
    assert(rn2.isFailure ||
      spark.table("rename").schema.fieldNames.contains("renamed"),
      "RENAME COLUMN owner TO x on table `rename` was swallowed")
    spark.sql("DROP TABLE rename")
  }

  test("dollar-quoted strings rewrite to plain literals anywhere a literal goes") {
    // general literal position (not a UDF body): Redshift allows $tag$…$tag$
    // wherever '…' goes; Spark does not — the rewriter re-quotes, escaping
    assert(spark.sql(rewrite("SELECT $$O'Hara; \\ FETCH$$ AS s")).head.getString(0)
      === "O'Hara; \\ FETCH")
    assert(spark.sql(rewrite("SELECT $q$a$$b$q$ AS s")).head.getString(0) === "a$$b")
    // UDF bodies are consumed by the CREATE FUNCTION branch first — the
    // general pass must not touch them (the function still creates/runs)
    graft.cli.ExecuteSql.run(spark,
      "CREATE OR REPLACE FUNCTION dq_f (a int) RETURNS int IMMUTABLE " +
        "AS $$ select a + 1 $$ LANGUAGE sql", None)
    assert(spark.sql("SELECT dq_f(41)").head.getInt(0) === 42)
  }

  test("rewriter is idempotent on rewritten output") {
    val dialect = Seq(
      "SELECT TOP 10 a FROM t ORDER BY a",
      "SELECT $$don't; split$$ AS s, $tag$x$tag$ AS t2",
      "SELECT APPROXIMATE COUNT(DISTINCT a) FROM t",
      "SELECT RATIO_TO_REPORT(x) OVER (PARTITION BY k) FROM t",
      "SELECT * FROM t WHERE a SIMILAR TO 'ab%'",
      "SELECT GETDATE(), SYSDATE, RANDOM()",
      "SELECT CONVERT(INT, a), DATEADD(day, 1, ts), DATEDIFF(hour, a, b) FROM t",
      "SELECT TO_CHAR(ts, 'YYYY-MM-DD') FROM t",
      "CREATE TABLE t (id BIGINT ENCODE az64, v DOUBLE) DISTSTYLE KEY DISTKEY(id) SORTKEY(id)",
      "CREATE TABLE t2 (id BIGINT DISTKEY, ts STRING SORTKEY, v DOUBLE)",
      "CREATE OR REPLACE VIEW v AS SELECT a FROM t WITH NO SCHEMA BINDING",
      "CREATE OR REPLACE FUNCTION f (float, float) RETURNS float STABLE " +
        "AS $$ select case when $1 > $2 then $1 else $2 end $$ LANGUAGE sql",
      "DROP FUNCTION f (float, float) CASCADE")
    dialect.foreach { q =>
      val once = rewrite(q)
      assert(rewrite(once) === once, s"not idempotent on: $q -> $once")
    }
  }

  // ── cursor protocol (DECLARE / FETCH / CLOSE — ExecuteSql.runCursor) ──

  test("cursor protocol: a script pages a pinned snapshot and CLOSE frees it") {
    import graft.cli.ExecuteSql
    spark.sql("DROP TABLE IF EXISTS cur_t")
    spark.sql("CREATE TABLE cur_t AS SELECT id FROM range(7)")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the r12 done-criterion script: NEXT, a counted page, ALL, then a
    // FETCH past end (0 rows, no error), CLOSE inside the same script
    ExecuteSql.run(spark,
      """BEGIN;
        |DECLARE c CURSOR FOR SELECT id FROM cur_t ORDER BY id;
        |FETCH NEXT FROM c;
        |FETCH FORWARD 2 FROM c;
        |FETCH ALL FROM c;
        |FETCH 5 FROM c;
        |CLOSE c;
        |COMMIT""".stripMargin, None)
    assert(ExecuteSql.fetchLog.toList ===
      List(("c", 1L), ("c", 2L), ("c", 4L), ("c", 0L)))
    // CLOSE released the localCheckpoint blocks eagerly — nothing new
    // persisted survives the run (the rrf leak-test pattern)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "cursor snapshot blocks leaked past CLOSE")
    spark.sql("DROP TABLE cur_t")
  }

  test("cursor protocol: unknown cursors raise; re-DECLARE raises; bad counts raise") {
    import graft.cli.ExecuteSql
    val e1 = intercept[IllegalArgumentException](
      ExecuteSql.run(spark, "FETCH 2 FROM nope", None))
    assert(e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      ExecuteSql.run(spark, "CLOSE nope", None))
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](ExecuteSql.run(spark,
      """DECLARE d CURSOR FOR SELECT 1 AS x;
        |DECLARE d CURSOR FOR SELECT 2 AS x""".stripMargin, None))
    assert(e3.getMessage.contains("already exists"), e3.getMessage)
    // ADVICE r13: a decimal count must raise a clear error, not a
    // NumberFormatException from toLong
    val e4 = intercept[IllegalArgumentException](ExecuteSql.run(spark,
      """DECLARE d CURSOR FOR SELECT 1 AS x;
        |FETCH 1.5 FROM d""".stripMargin, None))
    assert(e4.getMessage.contains("integer"), e4.getMessage)
  }

  test("cursor protocol: WITH HOLD, full modifier chain, dollar-quoted body, CLOSE ALL") {
    import graft.cli.ExecuteSql
    spark.sql("DROP TABLE IF EXISTS cur_h")
    spark.sql("CREATE TABLE cur_h AS SELECT id FROM range(5)")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // WITH HOLD survives COMMIT (run-scoped locally, so paging continues
    // after the transaction tokens); the $tag$ body carries a semicolon
    // and a FETCH keyword that must NOT split or confuse the script;
    // the 4-token modifier chain is the ADVICE r13 hop-cap case
    ExecuteSql.run(spark,
      """BEGIN;
        |DECLARE h CURSOR WITH HOLD FOR SELECT id FROM cur_h ORDER BY id;
        |FETCH 2 FROM h;
        |COMMIT;
        |FETCH ALL FROM h;
        |DECLARE m BINARY INSENSITIVE NO SCROLL CURSOR FOR
        |  SELECT $tag$a;FETCH 9 FROM h;b$tag$ AS s FROM range(3);
        |FETCH ALL IN m;
        |CLOSE ALL""".stripMargin, None)
    assert(ExecuteSql.fetchLog.toList ===
      List(("h", 2L), ("h", 3L), ("m", 3L)))
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "CLOSE ALL left cursor snapshot blocks persisted")
    // end-of-run cleanup frees cursors a script forgot to CLOSE
    ExecuteSql.run(spark,
      """DECLARE u1 CURSOR FOR SELECT id FROM cur_h;
        |DECLARE u2 CURSOR FOR SELECT id FROM cur_h;
        |FETCH 1 FROM u1""".stripMargin, None)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "end-of-run cleanup left unclosed-cursor blocks persisted")
    // and the next run starts with a fresh cursor namespace
    val e = intercept[IllegalArgumentException](
      ExecuteSql.run(spark, "FETCH 1 FROM u1", None))
    assert(e.getMessage.contains("u1"), e.getMessage)
    spark.sql("DROP TABLE cur_h")
  }

  test("cursor and UNLOAD over pg_table_def see the table the script just created") {
    import java.nio.file.Files
    import graft.cli.ExecuteSql
    spark.sql("DROP TABLE IF EXISTS cur_shim")
    // the cursor query is planned like any other statement: the system-
    // catalog views are generated for it, from the catalog as it is now
    val q = "SELECT * FROM pg_table_def WHERE tablename = 'cur_shim'"
    ExecuteSql.run(spark,
      s"""CREATE TABLE cur_shim (id BIGINT, name STRING, amt DOUBLE);
         |DECLARE c CURSOR FOR $q;
         |FETCH ALL FROM c;
         |CLOSE c""".stripMargin, None)
    assert(ExecuteSql.fetchLog.toList === List(("c", 3L)))
    val out = Files.createTempDirectory("graft_unload_shim_").resolve("cols.csv")
    ExecuteSql.run(spark,
      s"UNLOAD ('${q.replace("'", "''")}') TO '$out' PARALLEL OFF", None)
    assert(Files.readAllLines(out).size === 3)
    spark.sql("DROP TABLE cur_shim")
  }

  test("depth-0 scan: nested and quoted parens, an unmatched ')', the until bound, blockEnd") {
    import graft.sql.SqlTokens._
    def top(s: String, from: Int = 0, until: Int = Int.MaxValue): Seq[String] = {
      val toks = tokenize(s)
      topLevel(toks, from, until).map(toks(_)).filter(_.kind != Ws).map(_.text).toSeq
    }
    // a '(' is yielded and its span skipped, however deep; an unclosed one
    // hides the rest
    assert(top("a (b (c) d) e") === Seq("a", "(", "e"))
    assert(top("a (b c") === Seq("a", "("))
    // a paren inside a string literal or a comment is not a paren
    assert(top("a '(' b /* ( */ c -- (\nd") ===
      Seq("a", "'('", "b", "/* ( */", "c", "-- (", "d"))
    // a ')' with no open '(' closes the enclosing block: yielded, then the end
    assert(top("a) b (c") === Seq("a", ")"))
    assert(top("(x, (y), z) w", from = 1) === Seq("x", ",", "(", ",", "z", ")"))
    // `until` is exclusive
    assert(top("a b c", until = 2) === Seq("a"))
    assert(topCommas(tokenize("(x, f(y, z), w)"), 0, 14) === Seq(2, 11))

    def end(s: String): String = {
      val toks = tokenize(s)
      val e = blockEnd(toks, 0)
      if (e == toks.length) "<end>" else render(toks.drop(e))
    }
    assert(end("SELECT a FROM (SELECT b FROM t) s) x") === ") x")
    assert(end("SELECT a FROM t WHERE b IN (1, 2); SELECT c") === "; SELECT c")
    Seq("UNION", "intersect", "EXCEPT", "Minus").foreach { op =>
      assert(end(s"SELECT a FROM (SELECT b FROM t $op SELECT c FROM u) s $op SELECT d") ===
        s"$op SELECT d")
    }
    assert(end("SELECT a FROM t") === "<end>")
  }

  test("EXTRACT day-of-week parts count Sunday as 0, as Redshift does") {
    // 2024-01-07 is a Sunday, 2024-01-13 a Saturday
    val r = sql1("SELECT EXTRACT(DOW FROM DATE '2024-01-07') AS a, " +
      "EXTRACT(dw FROM DATE '2024-01-13') * 10 AS b, " +
      "EXTRACT(WEEKDAY FROM TIMESTAMP '2024-01-08 10:00:00') AS c, " +
      "EXTRACT(dayofweek FROM DATE '2024-01-13') AS d")
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) === (0, 60, 1, 6))
  }

  test("DATE_PART and DATEPART day-of-week parts count Sunday as 0") {
    val r = sql1("SELECT DATE_PART('dow', DATE '2024-01-13') AS a, " +
      "datepart('weekday', DATE '2024-01-07') AS b, " +
      "DATE_PART(dow, DATE '2024-01-13') AS c, DATEPART(dw, DATE '2024-01-08') AS d")
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) === (6, 0, 6, 1))
  }

  test("DATE_PART with a bare part resolves it through the Redshift unit aliases") {
    assert(rewrite("SELECT DATE_PART(year, d), DATEPART(mon, d) FROM t") ===
      "SELECT DATE_PART('YEAR', d), DATEPART('MONTH', d) FROM t")
    val r = sql1("SELECT DATE_PART(year, DATE '2024-03-13') AS y, " +
      "DATEPART(qtr, DATE '2024-03-13') AS q, DATE_PART(d, DATE '2024-03-13') AS dd, " +
      "DATE_PART(h, TIMESTAMP '2024-03-13 10:20:30') AS hh, " +
      "DATE_PART(doy, DATE '2024-03-13') AS doy")
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) ===
      (2024, 1, 13, 10, 73))
  }

  test("EXTRACT/DATE_PART epoch, millisecond and microsecond parts take DuckDB's values") {
    // Spark's EXTRACT has none of these fields (INVALID_EXTRACT_FIELD)
    val ts = "TIMESTAMP '2009-09-09 12:08:43.101'"
    val r = sql1(s"SELECT EXTRACT(EPOCH FROM $ts) AS e, DATE_PART(epoch, $ts) AS e2, " +
      s"DATE_PART(ms, $ts) AS ms, DATE_PART('milliseconds', $ts) AS ms2, " +
      s"EXTRACT(us FROM $ts) AS us, DATEPART(microsecond, $ts) AS us2, " +
      "DATE_PART('epoch', DATE '2024-01-07') AS de")
    assert((r.getDouble(0), r.getDouble(1)) === (1252498123.101, 1252498123.101))
    assert((r.getLong(2), r.getLong(3)) === (43101L, 43101L))
    assert((r.getLong(4), r.getLong(5)) === (43101000L, 43101000L))
    assert(r.getDouble(6) === 1704585600.0)
  }

  test("FIRST_VALUE/LAST_VALUE(x IGNORE|RESPECT NULLS) OVER moves the modifier after the call") {
    assert(rewrite("SELECT LAST_VALUE(f(x) IGNORE NULLS) OVER (ORDER BY i) FROM t") ===
      "SELECT LAST_VALUE(f(x)) IGNORE NULLS OVER (ORDER BY i) FROM t")
    val rows = spark.sql(rewrite(
      """SELECT i,
        |  LAST_VALUE(x IGNORE NULLS) OVER (ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l,
        |  FIRST_VALUE(x IGNORE NULLS) OVER (ORDER BY i
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f,
        |  FIRST_VALUE(x RESPECT NULLS) OVER (ORDER BY i
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS r
        |FROM VALUES (1, 5), (2, NULL), (3, 7) AS t(i, x)
        |ORDER BY i""".stripMargin)).collect()
      .map(r => (r.getInt(1), r.getInt(2), Option(r.get(3))))
    assert(rows.toSeq === Seq((5, 5, Some(5)), (5, 7, None), (7, 7, Some(7))))
  }

  test("CREATE TEMP TABLE IF NOT EXISTS is dropped with the run too") {
    spark.sql("DROP TABLE IF EXISTS tt_ine")
    graft.cli.ExecuteSql.run(spark, "CREATE TEMP TABLE IF NOT EXISTS tt_ine (a INT)", None)
    assert(!spark.catalog.tableExists("tt_ine"))
  }

  test("CREATE TEMP TABLE over a taken name leaves the existing table and its rows") {
    spark.sql("DROP TABLE IF EXISTS tt_kept")
    spark.sql("CREATE TABLE tt_kept USING parquet AS SELECT 7 AS a")
    try {
      graft.cli.ExecuteSql.run(spark, "CREATE TEMP TABLE IF NOT EXISTS tt_kept (a INT)", None)
      intercept[Exception](
        graft.cli.ExecuteSql.run(spark, "CREATE TEMP TABLE tt_kept (a INT)", None))
      assert(spark.table("tt_kept").collect().map(_.getInt(0)).toSeq === Seq(7))
    } finally spark.sql("DROP TABLE IF EXISTS tt_kept")
  }

  test("a temp table is dropped from its own schema after SET search_path") {
    val home = spark.catalog.currentDatabase
    spark.sql("CREATE DATABASE IF NOT EXISTS tt_sp")
    spark.sql(s"DROP TABLE IF EXISTS $home.tt_x")
    spark.sql("DROP TABLE IF EXISTS tt_sp.tt_x")
    spark.sql("CREATE TABLE tt_sp.tt_x USING parquet AS SELECT 7 AS a")
    try {
      graft.cli.ExecuteSql.run(spark,
        "CREATE TEMP TABLE tt_x (a INT); SET search_path TO tt_sp", None)
      assert(!spark.catalog.tableExists(s"$home.tt_x"))
      assert(spark.table("tt_sp.tt_x").collect().map(_.getInt(0)).toSeq === Seq(7))
    } finally {
      spark.catalog.setCurrentDatabase(home)
      spark.sql(s"DROP TABLE IF EXISTS $home.tt_x")
      spark.sql("DROP DATABASE IF EXISTS tt_sp CASCADE")
    }
  }
}
