package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Fixture-table loader for the driver-generated parquet tables
  * (`/root/repo/TESTDATA.md`, `/root/repo/FIXTURES.md`).
  *
  * The reference engine's only local storage format is headered CSV read in
  * 10k-row pandas chunks (`/root/reference/amazonredshift_blueprints/blueprints/upload_file.py:120,126`);
  * here Parquet fixtures stand in for the remote Redshift tables, registered
  * as temp views so the pass-through SQL surface (`execute_sql.py:64,77`)
  * maps onto `spark.sql`.
  */
object Tables {
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = relational ++ Seq("events", "documents", "embeddings")

  /** Round-robin a SUB-SPLIT table across the cores once at load. Every
    * fixture parquet is one row group, so a file under
    * `spark.sql.files.maxPartitionBytes` scans as a single task and the
    * per-row-heavy heads above it (tokenize, md5 shingles, PII regex)
    * would run serially whatever the core count.
    *
    * The size rule keeps the exchange exactly where the scan cannot feed
    * the cores: a single file of at least 256 KiB and under one split.
    * Smaller files are dimension tables whose scan is trivial; a file of
    * one split or more, or a directory table, already has split
    * parallelism, so at production scale the node never appears. Filters
    * and column pruning push through a Repartition node, so the scan's
    * PushedFilters/ReadSchema are unchanged; round-robin placement is
    * retry-safe under the default sortBeforeRepartition (SPARK-38388). */
  private def splitNormalized(spark: SparkSession, df: DataFrame,
                              path: String): DataFrame = {
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p)
        if (st.isFile) st.getLen else Long.MaxValue
      } catch { case NonFatal(_) => Long.MaxValue }
    if (bytes >= 256L * 1024 && bytes < spark.sessionState.conf.filesMaxPartitionBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** Load one fixture table.  `events.ts` has shipped as two physical
    * types across fixture generations, so the loader is schema-driven:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 rejects it at schema conversion
    *    unless read as a raw Long (`spark.sql.legacy.parquet.nanosAsLong`,
    *    which GraftSession and every main set); ns → µs via integer
    *    division (floor for positive epochs, matching DuckDB's
    *    TIMESTAMP_NS → TIMESTAMP truncation).
    *  - parquet TIMESTAMP(MICROS) without UTC adjustment: Spark reads
    *    TIMESTAMP_NTZ; cast to session-zone TIMESTAMP (sessions here pin
    *    UTC, so the wall clock is preserved and downstream date/window
    *    arithmetic matches DuckDB reading the same file as TIMESTAMP).
    *
    * Either way callers see one canonical `ts: TIMESTAMP`. */
  /** [[load]] + [[splitNormalized]] — the loader for operators whose
    * output order does not depend on the INPUT SCAN ORDER (a total final
    * sort, or any aggregation/exchange between scan and sort). The plain
    * [[load]] stays scan-order-stable: the q* SQL surface hash-gates
    * outputs whose ORDER BY has genuine ties (fixture lineitem's
    * (l_orderkey, l_linenumber) is NOT unique — q01 keeps tied rows in
    * scan order), so its inputs must never be re-bucketed at load. */
  def loadSplit(spark: SparkSession, dir: String, name: String): DataFrame =
    splitNormalized(spark, load(spark, dir, name), s"$dir/$name.parquet")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // A NANOS fixture read without the legacy conf fails inside Spark's
      // schema conversion with a bare "Illegal Parquet type" — translate
      // it to the actionable message (ADVICE r10)
      val raw =
        try spark.read.parquet(s"$dir/events.parquet")
        catch {
          case e: Exception
              if Option(e.getMessage).exists(_.contains("Illegal Parquet type")) =>
            throw new IllegalArgumentException(
              "events.parquet stores TIMESTAMP(NANOS); set " +
                "spark.sql.legacy.parquet.nanosAsLong=true on the session " +
                "(GraftSession and the graft mains do)", e)
        }
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case _ =>
          // NTZ → TIMESTAMP re-interprets the wall clock in the SESSION
          // zone; any zone but UTC silently shifts every event vs DuckDB
          // reading the same file (ADVICE r10) — fail loudly instead
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events.ts is TIMESTAMP_NTZ; casting to TIMESTAMP preserves wall clocks " +
              s"only under spark.sql.session.timeZone=UTC (session has '$tz')")
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    case _ => spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Register every fixture as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
