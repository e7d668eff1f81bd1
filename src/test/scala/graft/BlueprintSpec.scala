package graft

import java.nio.file.{Files, Paths}

import graft.cli.{StoreQueryResults, UploadFile}
import graft.config._
import graft.io.{CsvIO, LocalFiles, TableIO}

/** Layer-A blueprint round-trips (SURVEY §2.1, VERDICT item 4): CSV →
  * table with all three insert modes, regex multi-file as ONE load, query
  * → single CSV with the header flag honored, plus the config plumbing
  * (tri-source rule, URL builder, arg parser, path composition).
  */
class BlueprintSpec extends SparkSpecBase {

  private lazy val tmp = Files.createTempDirectory("graft_bp_").toString
  private def writeCsv(name: String, content: String): String = {
    val p = Paths.get(tmp, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    p.toString
  }

  // ---- A11/A2/A3: path plumbing ----
  test("combine normalizes folder + file") {
    assert(LocalFiles.combine("a/b", "c.csv") === "a/b/c.csv")
    assert(LocalFiles.combine("a//b/", "c.csv") === "a/b/c.csv")
    assert(LocalFiles.combine("", "c.csv") === "c.csv")
    assert(LocalFiles.combine("a/./b", "../c.csv") === "a/c.csv")
  }

  test("regex matching uses substring (re.search) semantics on full paths") {
    val names = Seq("/d/sales_01.csv", "/d/sales_02.csv", "/d/other.csv", "/d/sub/sales_03.csv")
    assert(LocalFiles.findFileMatches(names, "sales_\\d+").length === 3)
    assert(LocalFiles.findFileMatches(names, "^/d/sales").length === 2)
    assert(LocalFiles.findFileMatches(names, "sub/").length === 1)
  }

  // ---- A13/A12: config ----
  test("tri-source connection rule accepts url, host-triple, or env var") {
    assert(ConnectionConfig.resolve(Some("jdbc:x"), None, None, None, None, None).isRight)
    assert(ConnectionConfig.resolve(None, Some("h"), None, Some("db"), Some("u"), None).isRight)
    assert(ConnectionConfig.resolve(None, None, None, None, None, None,
      env = Map(ConnectionConfig.EnvVar -> "jdbc:env")).toOption.get.jdbcUrl === "jdbc:env")
    assert(ConnectionConfig.resolve(None, Some("h"), None, None, None, None, env = Map.empty).isLeft)
  }

  test("jdbc url builder uses redshift scheme and default port 5439") {
    val c = ConnectionConfig(host = Some("example.com"), database = Some("db"),
      username = Some("u"), password = Some("p"))
    assert(c.jdbcUrl === "jdbc:redshift://example.com:5439/db")
    assert(c.jdbcOptions("user") === "u" && c.jdbcOptions("password") === "p")
  }

  test("arg parser handles flags and rejects unknowns/duplicates") {
    assert(ArgParser.parse(Array("--a", "1", "--b", "2"), Set("a", "b")) ===
      Right(Map("a" -> "1", "b" -> "2")))
    assert(ArgParser.parse(Array("--c", "1"), Set("a")).isLeft)
    assert(ArgParser.parse(Array("--a", "1", "--a", "2"), Set("a")).isLeft)
    assert(ArgParser.parse(Array("loose"), Set("a")).isLeft)
  }

  test("insert-method and match-type enums parse the blueprint flags") {
    assert(InsertMethod.parse("replace") === Right(InsertMethod.Replace))
    assert(InsertMethod.parse("bogus").isLeft)
    assert(MatchType.parse("regex_match") === Right(MatchType.Regex))
    assert(MatchType.parse("bogus").isLeft)
  }

  // ---- A1/A4: upload with insert modes ----
  test("upload exact: fail/replace/append SaveMode semantics") {
    writeCsv("m/orders1.csv", "id,amt\n1,10.5\n2,20.0\n")
    val run = () => UploadFile.run(spark, MatchType.Exact, s"$tmp/m", "orders1.csv",
      "bp_modes", InsertMethod.Append)
    run()
    assert(spark.table("bp_modes").count() === 2)
    run() // append doubles
    assert(spark.table("bp_modes").count() === 4)
    UploadFile.run(spark, MatchType.Exact, s"$tmp/m", "orders1.csv",
      "bp_modes", InsertMethod.Replace)
    assert(spark.table("bp_modes").count() === 2) // replace resets
    val err = intercept[Exception] {
      UploadFile.run(spark, MatchType.Exact, s"$tmp/m", "orders1.csv",
        "bp_modes", InsertMethod.Fail)
    }
    assert(err.getMessage.toLowerCase.contains("already exists"))
  }

  test("upload regex: all matches load as ONE DataFrame under ONE SaveMode") {
    writeCsv("r/sales_01.csv", "id,amt\n1,1.0\n2,2.0\n")
    writeCsv("r/sales_02.csv", "id,amt\n3,3.0\n")
    writeCsv("r/ignore.txt", "id,amt\n9,9.0\n")
    val n = UploadFile.run(spark, MatchType.Regex, s"$tmp/r", "sales_\\d+\\.csv",
      "bp_regex", InsertMethod.Replace)
    assert(n === 2)
    // the reference's replace-per-file bug would leave only 1 row here
    assert(spark.table("bp_regex").count() === 3)
    val ids = spark.table("bp_regex").select("id").collect().map(_.getInt(0)).sorted
    assert(ids === Array(1, 2, 3))
  }

  test("upload with schema creates the namespace") {
    writeCsv("s/one.csv", "id\n7\n")
    UploadFile.run(spark, MatchType.Exact, s"$tmp/s", "one.csv",
      "bp_ns_table", InsertMethod.Replace, schema = Some("bp_schema"))
    assert(spark.table("bp_schema.bp_ns_table").count() === 1)
  }

  test("global schema inference: a column integer-then-null stays one type") {
    // per-chunk inference (the reference, upload_file.py:126) could type
    // chunk 1 as int and fail chunk 2; one global pass must widen up front
    writeCsv("g/wide.csv", "id,v\n1,42\n2,\n3,7\n")
    UploadFile.run(spark, MatchType.Exact, s"$tmp/g", "wide.csv",
      "bp_wide", InsertMethod.Replace)
    val t = spark.table("bp_wide")
    assert(t.count() === 3)
    assert(t.schema("v").dataType.typeName === "integer")
    assert(t.filter("v IS NULL").count() === 1)
  }

  // ---- A7/A8/A9: query → CSV ----
  test("store query results: single CSV file with header, dialect-rewritten") {
    Tables.registerAll(spark, sfDir)
    val dest = StoreQueryResults.run(spark,
      "SELECT TOP 5 o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
      s"$tmp/out/nested", "top5.csv", header = true)
    assert(Files.isRegularFile(Paths.get(dest))) // A9 created the folder
    val lines = Files.readAllLines(Paths.get(dest))
    assert(lines.size === 6)
    assert(lines.get(0) === "o_orderkey,o_totalprice")
  }

  test("store query results honors file-header=false (fixing the reference bug)") {
    Tables.registerAll(spark, sfDir)
    val dest = StoreQueryResults.run(spark,
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3",
      s"$tmp/out", "nohdr.csv", header = false)
    val lines = Files.readAllLines(Paths.get(dest))
    assert(lines.size === 3)
    assert(!lines.get(0).contains("o_orderkey")) // first line is data
  }

  test("csv round-trip preserves data through write + read") {
    Tables.registerAll(spark, sfDir)
    val src = spark.sql(
      "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100")
    CsvIO.write(src, s"$tmp/rt/orders.csv", header = true)
    val back = CsvIO.read(spark, Seq(s"$tmp/rt/orders.csv"))
    assert(back.count() === 100)
    val a = src.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val b = back.orderBy("o_orderkey").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  // ---- A4/A5/A6/A7 against a real JDBC database (embedded Derby, ships
  // with Spark): the remote-Redshift code path minus the network ----
  private lazy val derby: ConnectionConfig = {
    System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
    ConnectionConfig(url = Some("jdbc:derby:memory:graftbp;create=true"))
  }

  test("jdbc write: schema creation + append/replace/fail modes round-trip (Derby)") {
    import spark.implicits._
    val df = Seq((1, "a", 10.5), (2, "b", 20.0)).toDF("id", "name", "amt")
    // first write creates the schema over a raw JDBC statement (A5)
    TableIO.write(df, "jt", InsertMethod.Append, Some("bps"), Some(derby))
    // second write sees the schema as existing (metadata probe, no DDL)
    TableIO.write(df, "jt", InsertMethod.Append, Some("bps"), Some(derby))
    val back = TableIO.query(spark, """SELECT * FROM "bps"."jt"""", derby)
    assert(back.count() === 4)
    TableIO.write(df, "jt", InsertMethod.Replace, Some("bps"), Some(derby))
    val n = TableIO.query(spark, """SELECT count(*) AS n FROM "bps"."jt"""", derby)
      .collect()(0).getAs[Number](0).longValue()
    assert(n === 2L)
    val err = intercept[Exception] {
      TableIO.write(df, "jt", InsertMethod.Fail, Some("bps"), Some(derby))
    }
    assert(err.getMessage.toLowerCase.contains("exists"))
  }

  test("jdbc query source reads back typed rows, single and partitioned (Derby)") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i, i * 2.0)).toDF("id", "dbl")
    TableIO.write(df, "jq", InsertMethod.Replace, Some("bps"), Some(derby))
    val single = TableIO.query(spark,
      """SELECT "id", "dbl" FROM "bps"."jq" WHERE "id" <= 10""", derby)
    assert(single.count() === 10)
    assert(single.schema("dbl").dataType.typeName === "double")
    // A7 scale path: range-partitioned parallel read over the query
    val part = TableIO.query(spark, """SELECT "id", "dbl" FROM "bps"."jq"""",
      derby, partitionOn = Some(("id", 1L, 50L, 4)))
    assert(part.rdd.getNumPartitions === 4)
    assert(part.count() === 50)
  }

  test("full blueprint cycle over JDBC: CSV → upload CLI → Derby → store CLI → CSV") {
    writeCsv("jdbc_cycle/src.csv", "id,city,amt\n1,oslo,10.5\n2,lima,20.0\n3,oslo,4.5\n")
    val n = UploadFile.run(spark, MatchType.Exact, s"$tmp/jdbc_cycle", "src.csv",
      "cycle_t", InsertMethod.Replace, schema = Some("bpc"), conn = Some(derby))
    assert(n === 1)
    // Spark's Derby dialect writes StringType as CLOB, which Derby cannot
    // GROUP BY — the remote query casts back to VARCHAR (a remote-engine
    // quirk the pass-through contract exposes verbatim, by design)
    val dest = StoreQueryResults.run(spark,
      """SELECT CAST("city" AS VARCHAR(32)) AS "city", COUNT(*) AS "n", SUM("amt") AS "total"
        |FROM "bpc"."cycle_t" GROUP BY CAST("city" AS VARCHAR(32))
        |ORDER BY 1""".stripMargin,
      s"$tmp/jdbc_cycle/out", "agg.csv", header = true, conn = Some(derby))
    val lines = Files.readAllLines(Paths.get(dest))
    assert(lines.get(0) === "city,n,total")
    assert(lines.size === 3)
    assert(lines.get(2).startsWith("oslo,2,15.0"))
  }

  test("full local COPY/UNLOAD cycle through the SQL pass-through: CSV → table → parquet → table") {
    import graft.cli.ExecuteSql
    spark.sql("DROP TABLE IF EXISTS bp_cycle")
    spark.sql("DROP TABLE IF EXISTS bp_cycle2")
    spark.sql("CREATE TABLE bp_cycle (id BIGINT, city STRING, amt DOUBLE)")
    spark.sql("CREATE TABLE bp_cycle2 (id BIGINT, city STRING, amt DOUBLE)")
    writeCsv("cp_cycle/src.csv", "id,city,amt\n1,oslo,10.5\n2,lima,20.0\n3,oslo,4.5\n")
    ExecuteSql.run(spark,
      s"COPY bp_cycle FROM '$tmp/cp_cycle/src.csv' CSV IGNOREHEADER 1", None)
    // export the loaded table as parquet and re-load it into a second table
    ExecuteSql.run(spark,
      s"UNLOAD ('SELECT id, city, amt FROM bp_cycle') TO '$tmp/cp_cycle/pq' FORMAT AS PARQUET MANIFEST",
      None)
    ExecuteSql.run(spark,
      s"COPY bp_cycle2 FROM '$tmp/cp_cycle/pq' FORMAT AS PARQUET", None)
    val a = spark.table("bp_cycle").orderBy("id").collect().map(_.toSeq)
    val b = spark.table("bp_cycle2").orderBy("id").collect().map(_.toSeq)
    assert(a.length === 3 && a.sameElements(b))
    assert(Files.exists(Paths.get(s"$tmp/cp_cycle/pqmanifest")))
  }

  test("csv sink scale path writes a directory of parts") {
    Tables.registerAll(spark, sfDir)
    val df = spark.sql("SELECT o_orderkey FROM orders").repartition(4)
    CsvIO.write(df, s"$tmp/parts_dir", header = true, singleFile = false)
    val parts = Files.list(Paths.get(s"$tmp/parts_dir")).toArray
      .map(_.toString).count(_.endsWith(".csv"))
    assert(parts > 1, "scale path must keep executor parallelism")
  }

  test("partial connection flags raise in all three CLIs instead of running locally") {
    import graft.cli.ExecuteSql
    assume(!sys.env.contains(ConnectionConfig.EnvVar))
    def refused(run: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains("connection required"), e.getMessage)
    }
    try {
      val badPort = intercept[IllegalArgumentException](
        ExecuteSql.main(Array("--query", "SELECT 1", "--host", "h", "--port", "54x9")))
      assert(badPort.getMessage.contains("--port"), badPort.getMessage)
      refused(ExecuteSql.main(Array("--query", "SELECT 1", "--host", "h")))
      refused(ExecuteSql.main(Array("--query", "SELECT 1", "--port", "5439")))
      refused(StoreQueryResults.main(Array("--query", "SELECT 1",
        "--destination-file-name", s"$tmp/partial_conn.csv", "--username", "u")))
      refused(UploadFile.main(Array("--table-name", "partial_conn_t",
        "--source-file-name", s"$tmp/partial_conn.csv", "--host", "h", "--database", "d")))
      assert(!Files.exists(Paths.get(s"$tmp/partial_conn.csv")))
      // no connection flag at all is local catalog mode
      ExecuteSql.main(Array("--query", "SELECT 1"))
    } finally spark.sparkContext.setLogLevel("ERROR") // the CLIs set WARN
  }

  test("--url-parameters reach the driver as connection properties in all three CLIs") {
    import graft.cli.ExecuteSql
    System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
    // Derby creates an in-memory database only when the create property is
    // set; each path below opens its own database, so none rides on another
    def url(db: String) = s"jdbc:derby:memory:$db"
    def conn(db: String) = Array("--db-connection-url", url(db), "--url-parameters", "create=true")
    writeCsv("url_params/src.csv", "id,amt\n1,10.5\n2,20.0\n")
    try {
      // raw JDBC statement
      ExecuteSql.main(Array("--query", "CREATE TABLE up_t (id INT)") ++ conn("graftup1"))
      // Spark JDBC writer options, then the raw schema probe before a write
      UploadFile.main(Array("--table-name", "up_t", "--source-folder-name", s"$tmp/url_params",
        "--source-file-name", "src.csv") ++ conn("graftup2"))
      UploadFile.main(Array("--table-name", "up_t", "--source-folder-name", s"$tmp/url_params",
        "--source-file-name", "src.csv", "--schema", "ups") ++ conn("graftup3"))
      StoreQueryResults.main(Array("--query", """SELECT COUNT(*) AS "n" FROM "ups"."up_t"""",
        "--destination-file-name", s"$tmp/url_params/out.csv") ++ conn("graftup3"))
      assert(Files.readAllLines(Paths.get(s"$tmp/url_params/out.csv")).get(1) === "2")
      val e = intercept[IllegalArgumentException](ExecuteSql.main(Array("--query", "SELECT 1",
        "--db-connection-url", url("graftup1"), "--url-parameters", "create")))
      assert(e.getMessage.contains("--url-parameters"), e.getMessage)
    } finally spark.sparkContext.setLogLevel("ERROR") // the CLIs set WARN
  }

  test("a failing single-file egest or UNLOAD PARALLEL OFF leaves no spill directory") {
    import scala.jdk.CollectionConverters._
    import graft.cli.ExecuteSql
    val out = Files.createTempDirectory("graft_spill_out_")
    def graftTmp(): Set[String] = {
      val st = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try st.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_")).toSet
      finally st.close()
    }
    val before = graftTmp()
    val failing = "SELECT CASE WHEN id = 3 THEN raise_error('egest failure') ELSE id END AS x " +
      "FROM range(10)"
    intercept[Exception](
      StoreQueryResults.run(spark, failing, out.toString, "x.csv", header = true))
    intercept[Exception](ExecuteSql.run(spark,
      s"UNLOAD ('${failing.replace("'", "''")}') TO '${out.resolve("x.parquet")}' " +
        "FORMAT PARQUET PARALLEL OFF", None))
    assert(graftTmp() -- before === Set.empty[String])
  }

  test("UNLOAD PARALLEL OFF writes the parallel path's bytes, ADDQUOTES and NULL AS included") {
    import scala.jdk.CollectionConverters._
    import graft.cli.ExecuteSql
    val out = Files.createTempDirectory("graft_unload_opts_")
    val q = "SELECT 1 AS a, CAST(NULL AS STRING) AS b, ''x,y'' AS c"
    val opts = "CSV HEADER ADDQUOTES NULL AS 'NA'"
    ExecuteSql.run(spark, s"UNLOAD ('$q') TO '${out.resolve("par")}' $opts", None)
    ExecuteSql.run(spark, s"UNLOAD ('$q') TO '${out.resolve("one.csv")}' $opts PARALLEL OFF", None)
    val st = Files.list(out.resolve("par"))
    val parts = try st.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.toString) finally st.close()
    val parallel = parts.map(Files.readString(_)).mkString
    assert(parallel.contains("NA") && parallel.contains("\"1\""), parallel)
    assert(Files.readString(out.resolve("one.csv")) === parallel)
  }

  test("ExecuteSql --schema runs a local script in that schema and restores the current one") {
    import graft.cli.ExecuteSql
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val before = spark.catalog.currentDatabase
    spark.sql("CREATE NAMESPACE IF NOT EXISTS es_local")
    spark.sql("DROP TABLE IF EXISTS es_local.es_t")
    try {
      ExecuteSql.main(Array("--query", "CREATE TABLE es_t (id INT); INSERT INTO es_t VALUES (1)",
        "--schema", "es_local"))
      assert(spark.table("es_local.es_t").count() === 1)
      assert(spark.catalog.currentDatabase === before)
      val e = intercept[IllegalArgumentException](
        ExecuteSql.main(Array("--query", "SELECT 1", "--schema", "es_missing")))
      assert(e.getMessage.contains("--schema"), e.getMessage)
      assert(spark.catalog.currentDatabase === before)
    } finally {
      spark.sparkContext.setLogLevel("ERROR") // the CLIs set WARN
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }

  test("ExecuteSql --schema sets the JDBC connection's schema") {
    import graft.cli.ExecuteSql
    System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val conn = Array("--db-connection-url", "jdbc:derby:memory:graftes1",
      "--url-parameters", "create=true")
    try {
      ExecuteSql.main(Array("--query", """CREATE SCHEMA "es_s"""") ++ conn)
      ExecuteSql.main(Array("--query", "CREATE TABLE es_t (id INT)", "--schema", "es_s") ++ conn)
      StoreQueryResults.main(Array("--query", """SELECT COUNT(*) AS "n" FROM "es_s".es_t""",
        "--destination-file-name", s"$tmp/es/out.csv") ++ conn)
      assert(Files.readAllLines(Paths.get(s"$tmp/es/out.csv")).get(1) === "0")
    } finally {
      spark.sparkContext.setLogLevel("ERROR")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }
}
