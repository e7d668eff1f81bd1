package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, fullOutDir) = args
    val spark = GraftSession.get("graft-verify")
    // SPARK_GRAFT_VERIFY_ONLY=q29_range_frame,q30_ntile_dist — subset for
    // local iteration (dumps + oracle entries filtered together so
    // check_oracle.py sees a consistent directory); unset = driver's mode.
    // A subset writes to `<outDir>-subset`: a partial oracle_sql.json in
    // the driver's directory would otherwise read as a full-coverage
    // "all pass" on a later check_oracle.py run (ADVICE r7).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val outDir = if (only.isEmpty) fullOutDir else {
      System.err.println(
        s"[verify] SPARK_GRAFT_VERIFY_ONLY set — writing SUBSET to $fullOutDir-subset")
      s"$fullOutDir-subset"
    }
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // ops persist compute-once intermediates; drop them between queries
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
