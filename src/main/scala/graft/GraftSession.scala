package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession factory for every entry point (CLIs, Verify, Bench,
  * tests): UTC session time, shuffle partitions sized to the local core
  * count (a real cluster overrides via spark-submit conf), AQE at Spark 4
  * defaults, and the Graft dialect extensions
  * ([[graft.sql.GraftExtensions]]) installed via plain config.
  */
object GraftSession {
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ANALYZE TABLE (LocalDml) populates catalog row/size stats; CBO +
      // stats-based join reordering turn them into plan quality (SURVEY
      // §4.2). Without stats Spark falls back to its default estimates, so
      // these are safe to leave on unconditionally.
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // AQE sizes the materialization of cached plans from their actual
      // bytes, so a persist() in a round loop (PageRank, BPE)
      // is scanned by as many tasks as its size needs, not by the full
      // shuffle-partition count. An amplifying join above a tiny cache
      // pins its own partition count (pinJoinParallelism); rangePrefixN's
      // pid persist stays ordered because coalescing merges only adjacent
      // range partitions.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The generated-class cache holds every class of one expression-heavy
      // query (op_sim_topk_ivfpq alone generates ~160), so a rerun or a
      // structurally identical plan reuses its compiled classes instead of
      // recompiling them. Static conf: it can only be set here.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
