package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}
import graft.cli.{ExecuteSql, StoreQueryResults, UploadFile}
import graft.config.{InsertMethod, MatchType}
import graft.io.LocalFiles
import graft.sql.RedshiftSql

/** One benchmark process. `run.py` writes a plan (JSON) and reads back the
  * result file this writes:
  *
  *  - `setup`: start the session, register the inputs, report, exit;
  *  - `run`: the same set-up, then a cold first pass over the plan's
  *    operations and warm passes until `seconds` have gone by. With
  *    `trace` every other warm pass runs under the [[Tracer]];
  *  - `oracles`: write the registry's DuckDB oracle SQL (no session).
  *
  * Every operation is timed around its call into the program only; the
  * output check that follows it (a digest, a post-state query) is not.
  * In the cold pass the checks wait until the pass has ended, so their
  * queries do not warm the planner and the JIT for the operations after
  * them; each check reads only state the rest of the pass leaves alone.
  */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val out = json.createObjectNode()
    plan.get("mode").asText match {
      case "oracles" =>
        SparkEntry.oracleSql.foreach { case (k, v) => out.put(k, v) }
      case mode =>
        val spark = setup(plan, out)
        if (mode == "run") new Runner(spark, plan, out).run()
    }
    Files.writeString(Paths.get(plan.get("out").asText), json.writeValueAsString(out))
    // nothing is left to flush: skip the session's shutdown, which costs
    // seconds per process and is not part of what a run measures
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def setup(plan: JsonNode, out: ObjectNode): SparkSession = {
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val t0 = System.nanoTime()
    val spark = GraftSession.get("graft-perfbench")
    val t1 = System.nanoTime()
    plan.get("tables").elements.asScala.map(_.asText).foreach { t =>
      Tables.load(spark, plan.get("fixtures").asText, t).createOrReplaceTempView(t)
    }
    val t2 = System.nanoTime()
    // run.py times set-up from process start to this line
    println("READY"); System.out.flush()
    val s = out.putObject("setup")
    s.put("jvm_s", jvmS)
    s.put("session_s", (t1 - t0) / 1e9)
    s.put("tables_s", (t2 - t1) / 1e9)
    spark
  }
}

/** An operation's outcome: its check value, computed after the timer. */
final case class Outcome(check: () => String)

final class Runner(spark: SparkSession, plan: JsonNode, out: ObjectNode) {
  private val fixtures = plan.get("fixtures").asText
  private val work = plan.get("work").asText
  private val traced = plan.get("trace").asInt == 1
  private val tracer = if (traced) Some(new Tracer(spark)) else None
  private val ops: Seq[JsonNode] = plan.get("ops").elements.asScala.toSeq
  private val layers = new Layers(plan.get("layer_files").elements.asScala.map(_.asText).toSeq)

  def run(): Unit = {
    val passes = out.putArray("passes")
    val heap = out.putArray("heap_mb")
    var deadline = Long.MaxValue
    var p = 0
    // pass 0 is the cold pass; then warm passes for `seconds`, and at
    // least `min_warm` of them, unless another pass as long as the last
    // one would end after `stop_by_ms` (a slow machine): then at least
    // `min_warm_hard` of them
    val minPasses = 1 + plan.get("min_warm").asInt
    val hardPasses = 1 + plan.get("min_warm_hard").asInt
    val stopBy = plan.get("stop_by_ms").asLong
    var lastMs = 0L
    def timeLeft = p < hardPasses || System.currentTimeMillis() + 2 * lastMs < stopBy
    while ((p < minPasses || System.nanoTime() < deadline) && timeLeft) {
      if (p == 1) deadline = System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
      // a traced run traces the cold pass, then warm passes in the order
      // untraced, traced, traced, untraced, ...: the traced/untraced
      // ratio is the tracing overhead, with the warm-up trend cancelled
      val tracedPass = traced && (p == 0 || (p - 1) % 4 == 1 || (p - 1) % 4 == 2)
      val t0 = System.currentTimeMillis()
      passes.add(pass(p, tracedPass))
      if (tracedPass) span(s"p$p", s"pass $p", "pass", null, t0, System.currentTimeMillis())
      // heap_peak_mb reads the cold and the first warm pass; later passes
      // only start from a collected heap, like those did
      if (p < 2) heap.add(settledHeapMb()) else System.gc()
      lastMs = System.currentTimeMillis() - t0
      p += 1
    }
    if (traced) out.set[JsonNode]("layers", layers.toJson(json))
  }

  /** Heap in use after a collection, once the blocks and broadcasts the
    * collection made unreachable have been cleaned up. Spark's cleaner
    * releases them asynchronously after a GC finds them, and on a busy
    * machine it can take longer than one pause; no work runs meanwhile,
    * so the least reading of a few collections is the settled heap. */
  private def settledHeapMb(): Double =
    (1 to 4).map { i =>
      if (i > 1) Thread.sleep(250)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private lazy val spans = out.putArray("spans")

  private def span(id: String, name: String, kind: String, parent: String,
                   start: Long, end: Long): Unit = {
    val s = spans.addObject()
    s.put("id", id); s.put("name", name); s.put("kind", kind)
    s.put("parent", parent); s.put("start_ms", start); s.put("end_ms", end)
  }

  private val json = new ObjectMapper()

  private def pass(p: Int, tracedPass: Boolean): ObjectNode = {
    val node = json.createObjectNode()
    node.put("pass", p)
    node.put("traced", tracedPass)
    val arr = node.putArray("ops")
    // what follows each operation: run at once in a warm pass, after the
    // last operation in the cold one
    val after = mutable.ArrayBuffer.empty[() => Unit]
    if (tracedPass) tracer.foreach(_.attach())
    ops.foreach { op =>
      val name = op.get("name").asText
      val rec = arr.addObject()
      rec.put("op", name)
      val group = s"op-$p-$name"
      try {
        val (outcome, secs) = tracer.filter(_ => tracedPass) match {
          case Some(t) =>
            val (o, w) = t.span(group)(call(op))
            layers.add(p, w)
            span(group, name, op.get("kind").asText, s"p$p", w.start, w.end)
            w.jobs.foreach { j =>
              span(s"j${j.id}", j.site, if (j.group == group) "job" else "orphan_job",
                group, j.start, j.end)
            }
            (o, w.wall)
          case None =>
            val t0 = System.nanoTime()
            val o = call(op)
            (o, (System.nanoTime() - t0) / 1e9)
        }
        rec.put("s", secs)
        after += (() => recordError(rec) {
          spark.sparkContext.setJobGroup("check", null, interruptOnCancel = false)
          try rec.put("check", outcome.check()) finally spark.sparkContext.clearJobGroup()
        })
      } catch {
        case e: Exception => putError(rec, e)
      }
      if (tracedPass) after += (() => sideMeasures(p, op, group))
      if (p > 0) { after.foreach(_()); after.clear() }
    }
    after.foreach(_())
    if (tracedPass) tracer.foreach(_.detach())
    node
  }

  private def putError(rec: ObjectNode, e: Exception): Unit =
    rec.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))

  private def recordError(rec: ObjectNode)(body: => Unit): Unit =
    try body catch { case e: Exception => putError(rec, e) }

  /** The call into the program that one operation times. */
  private def call(op: JsonNode): Outcome = op.get("kind").asText match {
    case "upload" =>
      val matchType = if (op.get("regex").asBoolean) MatchType.Regex else MatchType.Exact
      val method = InsertMethod.parse(op.get("method").asText).fold(sys.error, identity)
      val n = UploadFile.run(spark, matchType, op.get("folder").asText, op.get("file").asText,
        op.get("table").asText, method, None, None)
      Outcome(() => n.toString)
    case "execute" =>
      ExecuteSql.run(spark, op.get("sql").asText, None)
      Outcome(() => Canon.digest(spark.sql(op.get("check_sql").asText).collect(), ordered = true))
    case "store" =>
      val dest = StoreQueryResults.run(spark, op.get("sql").asText, work, op.get("file").asText,
        header = true, None)
      Outcome(() => Canon.fileSha256(Paths.get(dest)))
    case "operator" =>
      val rows = SparkEntry.queries(op.get("name").asText)(spark, fixtures).collect()
      Outcome(() => { spark.catalog.clearCache(); Canon.digest(rows, ordered = false) })
  }

  /** Layer costs timed by calling the layer directly, outside any span:
    * the dialect rewriter on each statement, and file discovery. */
  private def sideMeasures(p: Int, op: JsonNode, parent: String): Unit = {
    def timed(key: String)(body: => Unit): Unit = {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - n0) / 1e9
      layers.addSide(p, key, secs)
      span(s"$parent/$key", key, "side", parent, t0, t0 + math.round(secs * 1000))
    }
    op.get("kind").asText match {
      case "execute" | "store" =>
        op.get("sql").asText.split(";").map(_.trim).filter(_.nonEmpty).foreach { s =>
          timed("sql.rewrite_s")(RedshiftSql.rewrite(s))
          layers.addSide(p, "sql.rewrite_calls", 1)
        }
      case "upload" =>
        timed("io.discover_s") {
          val found = LocalFiles.findAllFileNames(op.get("folder").asText)
          if (op.get("regex").asBoolean) LocalFiles.findFileMatches(found, op.get("file").asText)
        }
      case _ =>
    }
  }
}
