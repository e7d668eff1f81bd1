package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Per-pass sums of the traced spans' layer accounting; `run.py` turns
  * them into per-pass means. Job time and count are grouped by the graft
  * source file of each job's call site (`files`); `client` is the
  * benchmark's own action on an operation's result, `other` the rest. */
final class Layers(files: Seq[String]) {
  private val perPass = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]

  private def m(p: Int) = perPass.getOrElseUpdate(p, mutable.LinkedHashMap.empty)

  def addSide(p: Int, key: String, v: Double): Unit =
    m(p)(key) = m(p).getOrElse(key, 0.0) + v

  def add(p: Int, w: Tracer.Window): Unit = {
    def put(k: String, v: Double): Unit = addSide(p, k, v)
    put("sched.jobs", w.jobs.size)
    put("sched.stages", w.stages)
    put("sched.tasks", w.tasks)
    put("sched.task_wait_s", w.taskWaitS)
    put("sched.driver_gap_s", w.gapS)
    put("exec.run_s", w.runS)
    put("exec.cpu_s", w.cpuS)
    put("exec.gc_s", w.gcS)
    put("shuffle.write_bytes", w.shuffleWrite)
    put("shuffle.read_bytes", w.shuffleRead)
    put("shuffle.fetch_wait_s", w.fetchWaitS)
    put("spill.bytes", w.spill)
    put("ckpt.jobs", w.jobs.count(_.isCheckpoint))
    put("ckpt.s", w.jobSeconds(_.isCheckpoint))
    put("ckpt.bytes", w.blockBytes)
    put("io.input_rows", w.inRows)
    put("io.input_bytes", w.inBytes)
    put("io.output_rows", w.outRows)
    put("io.output_bytes", w.outBytes)
    put("plan.analysis_s", w.analysisS)
    put("plan.optimization_s", w.optimizationS)
    put("plan.planning_s", w.planningS)
    put("codegen.compiles", w.codegenCompiles)
    put("codegen.compile_s", w.codegenS)
    put("tasks.failed", w.tasksFailed)
    put("trace.orphan_jobs", w.orphans)
    put("trace.covered_s", w.coveredS)
    put("trace.uncovered_s", w.uncoveredS)
    // the self-check tolerance: 2% of the span plus 5 ms
    put("trace.check_failures", if (w.uncoveredS > 0.02 * w.wall + 0.005) 1 else 0)
    put("trace.wall_s", w.wall)
    for (j <- w.jobs) {
      // the benchmark's own action on an operation's result
      val f = if (j.file == "Main.scala") "client" else if (files.contains(j.file)) j.file else "other"
      put(s"jobs_s.$f", (j.end - j.start) / 1000.0)
      put(s"jobs.$f", 1)
    }
  }

  def toJson(json: ObjectMapper): JsonNode = {
    val o = json.createObjectNode()
    perPass.foreach { case (p, vals) =>
      val n = o.putObject(p.toString)
      vals.foreach { case (k, v) => n.put(k, v) }
    }
    o
  }
}
