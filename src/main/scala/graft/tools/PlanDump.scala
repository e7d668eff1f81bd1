package graft.tools

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (plans/r<N>/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...]
  *   outDir  — directory to write <query>_<suffix>.txt files into
  *   suffix  — "before" / "after"
  *   queries — comma-separated names; empty/absent = every declared query
  *
  * Reads SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) like Bench so
  * the dumped plan is the one the bench executes. Plans are captured from
  * the UNEXECUTED DataFrame (AdaptiveSparkPlan isFinalPlan=false): that is
  * the statically chosen shape — Exchange count, join strategy, pushed
  * filters — that the optimization guide's checklist (§1, §7.2) audits.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r20")
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.get("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // queryExecution.explainString == df.explain("formatted"), but
          // returned instead of printed so it can go to a file
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
