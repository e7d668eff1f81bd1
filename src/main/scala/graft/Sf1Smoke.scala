package graft

import scala.util.control.NonFatal

/** sf1 invariant smoke gate (VERDICT r14 #6). The r14 sf1 checkpoint
  * caught op_corr_spearman's BIGINT moment overflow only because a human
  * ran a measurement at 6M rows — no automated check ran any oracle above
  * sf0.01, so the overflow class had no gate. This main runs a small set
  * of overflow-prone queries at the 10×-scale fixture and asserts DOMAIN
  * INVARIANTS per row (|rho| ≤ 1, variances ≥ 0, gini ∈ [0,1]) — exactly
  * the properties accumulator overflow breaks first (rows-only counts
  * can't see a garbage rho; an ANSI overflow raise is caught as a fail).
  * Emits one JSON line and writes `bench/bench_sf1_smoke_r{N}.json` with
  * ok-counts; exit code 1 on any failure so the gate can sit in CI.
  *
  * Run: `SPARK_GRAFT_SF_DIR=testdata-sf1 sbt "runMain graft.Sf1Smoke"`
  * (the fixture comes from `graft.tools.GenScale`).
  */
object Sf1Smoke {
  /** (query name, SQL predicate every result row must satisfy). */
  val checks: Seq[(String, String)] = Seq(
    // the r14 overflow site: moment sums; a wrapped Σd² drives |rho| > 1
    ("op_corr_spearman", "rho is not null and abs(rho) <= 1.0d"),
    // square-sum sketches hardened in the same r14 audit
    ("op_ams_f2", "f2_exact >= 0 and f2_est >= 0 and f2_est is not null"),
    // variance of daily counts: a wrapped Σc² drives std_c negative → NaN
    ("op_rate_anomaly", "mean_c >= 0 and std_c >= 0 and not isnan(std_c)"),
    // Gini is a ratio of rank-weighted sums — overflow throws it out of [0,1]
    ("op_gini", "gini >= 0.0d and gini <= 1.0d"),
    // decimal-sum aggregate over the full 6M-row lineitem
    ("q06_group_agg", "sum_qty > 0 and avg_price > 0"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    val spark = GraftSession.get("graft-sf1-smoke")
    import Bench.{jstr, round}
    val results = checks.map { case (name, predicate) =>
      val verdict = try {
        SparkEntry.queries.get(name) match {
          case None => s"fail: no queries entry named $name"
          case Some(fn) =>
            val df = fn(spark, sfDir).persist()
            val rows = df.count()
            val bad = df.filter(s"not ($predicate)").count()
            df.unpersist()
            if (rows == 0) "fail: 0 rows"
            else if (bad > 0) s"fail: $bad/$rows rows violate [$predicate]"
            else "ok"
        }
      } catch {
        case NonFatal(e) =>
          "fail: " + Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      (name, verdict)
    }
    val ok = results.count(_._2 == "ok")
    val body = results.map { case (n, v) => s"${jstr(n)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"sf1_smoke","ok":$ok,"n":${results.size},""" +
      s""""checks":$body,"sf":${jstr(sfDir)}}"""
    val p = java.nio.file.Paths.get(s"bench/bench_sf1_smoke_r$round.json")
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (ok != results.size) sys.exit(1)
  }
}
