package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{ConnectionConfig, InsertMethod}

/** Table source/sink (SURVEY.md §2.1 A4–A7, A10).
  *
  * Two backends behind one API:
  *  - **JDBC** (`ConnectionConfig` present): the production path mirroring
  *    the reference's remote-Redshift table ops — batched multi-row
  *    inserts (`upload_file.py:134-151`, `method='multi'`/chunksize 10000
  *    → `batchsize` 10000) and streamed query reads
  *    (`store_query_results.py:103,141-142`, server-side cursor →
  *    `fetchsize` 10000). Partitioned parallel reads via
  *    `partitionColumn`/`numPartitions` when a split column is supplied.
  *  - **Session catalog** (no connection): local tables through Spark's
  *    own catalog — the locally-testable equivalent, same SaveMode
  *    semantics.
  */
object TableIO {
  val BatchSize = 10000 // reference chunk size, upload_file.py:120
  val FetchSize = 10000 // reference fetch chunk, store_query_results.py:103

  private def qualified(schema: Option[String], table: String): String =
    schema.map(s => s"`$s`.`$table`").getOrElse(s"`$table`")

  /** Write `df` to `schema.table` with the given insert mode (A4, one
    * atomic SaveMode — SURVEY §7.4.2). Creates the schema/namespace first
    * when asked (A5, `upload_file.py:123-124` — with QUOTED identifiers,
    * unlike the reference's f-string interpolation, SURVEY §7.4.7).
    */
  def write(df: DataFrame, table: String, method: InsertMethod,
            schema: Option[String] = None,
            conn: Option[ConnectionConfig] = None): Unit = conn match {
    case Some(c) =>
      // Schema DDL goes over a raw JDBC statement BEFORE the Spark write:
      // vanilla format("jdbc") has no pre-action hook and silently ignores
      // unknown options, so an option-based CREATE SCHEMA would never reach
      // the database.
      schema.foreach(s => ensureSchema(c, s))
      df.write.format("jdbc")
        .options(c.jdbcOptions)
        .option("dbtable", schema.map(s => s""""$s"."$table"""").getOrElse(s""""$table""""))
        .option("batchsize", BatchSize)
        .mode(method.saveMode)
        .save()
    case None =>
      val spark = df.sparkSession
      schema.foreach(s => spark.sql(s"CREATE NAMESPACE IF NOT EXISTS `$s`"))
      df.write.mode(method.saveMode).saveAsTable(qualified(schema, table))
  }

  /** `CREATE SCHEMA` if absent (A5, `upload_file.py:123-124`) — existence
    * probed through JDBC metadata rather than `IF NOT EXISTS`, which some
    * engines (e.g. Derby, used by the offline round-trip spec) don't parse.
    * Quoted identifier, unlike the reference's f-string interpolation
    * (SURVEY §7.4.7); the case-insensitive compare covers engines that
    * fold unquoted catalog names.
    */
  private def ensureSchema(c: ConnectionConfig, schema: String): Unit = {
    val jc = c.connect()
    try {
      val rs = jc.getMetaData.getSchemas
      var exists = false
      try while (rs.next() && !exists)
        exists = rs.getString("TABLE_SCHEM").equalsIgnoreCase(schema)
      finally rs.close()
      if (!exists) {
        val st = jc.createStatement()
        try st.execute(s"""CREATE SCHEMA "$schema"""") finally st.close()
      }
    } finally jc.close()
  }

  /** Bucketed write into the session catalog: rows hash-partition into
    * `nBuckets` files per partition keyed on `bucketCol`, sorted within
    * buckets. Joins and aggregations on the bucket key then need NO
    * exchange on that side — the co-located-join layout for fact-fact
    * joins that are too big to broadcast (the 100 TB alternative to
    * shuffling both sides every query). Spark's session catalog records
    * the layout; `spark.sql.sources.bucketing.enabled` (default on) lets
    * the planner consume it.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, method: InsertMethod = InsertMethod.Replace): Unit =
    df.write
      .mode(method.saveMode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(s"`$table`")

  /** Date/hive-partitioned write into the session catalog: one directory
    * per distinct `partCol` value. The complement of [[writeBucketed]] in
    * the 100 TB layout story: bucketing co-locates JOINS, partitioning
    * prunes SCANS — a filter (static or a dynamic-partition-pruning
    * subquery from a dim-side join) on `partCol` skips whole directories
    * at planning/runtime instead of reading and filtering 100 TB.
    * PlanSpec pins the pruning (`PartitionFilters` non-empty, pruned
    * partition count visible in the scan).
    *
    * At real scale the partition column must be low-cardinality (a date,
    * not an id): a file per key is the classic small-files failure mode.
    */
  def writePartitioned(df: DataFrame, table: String, partCol: String,
                       method: InsertMethod = InsertMethod.Replace): Unit =
    df.write
      .mode(method.saveMode)
      .partitionBy(partCol)
      .saveAsTable(s"`$table`")

  /** Run `query` on the remote database and return its result (A7): the
    * whole query is pushed down, with a streaming fetch. (Local queries
    * go through [[graft.sql.RedshiftSql.plan]].)
    *
    * `partitionOn` turns the single-cursor read into N parallel range
    * reads — required at scale; a lone JDBC cursor is a driver-side
    * bottleneck no matter the fetch size.
    */
  def query(spark: SparkSession, sql: String, conn: ConnectionConfig,
            partitionOn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val r = spark.read.format("jdbc")
      .options(conn.jdbcOptions)
      .option("fetchsize", FetchSize)
    val rp = partitionOn match {
      case Some((col, lo, hi, n)) =>
        // range-partitioned parallel read over a subquery alias
        r.option("dbtable", s"($sql) graft_q")
          .option("partitionColumn", col)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", n)
      case None => r.option("query", sql)
    }
    rp.load()
  }
}
