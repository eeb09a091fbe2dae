package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** One op call: its build phase (the module's query function returning a
  * DataFrame) and its run phase (full materialization of that DataFrame).
  * Times are epoch milliseconds, so they line up with listener events.
  */
final case class OpRun(op: Op, buildStart: Long, buildEnd: Long, runEnd: Long,
    buildS: Double, runS: Double, rows: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def seconds: Double = buildS + runS
}

/** One pass over a workload's ops. A failed op contributes no time. */
final case class PassRun(index: Int, kind: String, traced: Boolean, start: Long, end: Long,
    ops: Seq[OpRun]) {
  def seconds: Double = ops.filter(_.ok).map(_.seconds).sum
  def failed: Int = ops.count(!_.ok)
}

/** Runs passes of ops one after another from one driver thread: a closed
  * loop with a single client.
  */
class Runner(spark: SparkSession, seed: Long) {
  private val sc = spark.sparkContext

  /** The DataFrames built by the last pass run with `keep`, by op name. */
  var kept: Map[String, DataFrame] = Map.empty

  def pass(ops: Seq[Op], sfDir: String, index: Int, kind: String, traced: Boolean,
      keep: Boolean = false): PassRun = {
    System.gc()
    kept = Map.empty
    val start = System.currentTimeMillis()
    val runs = Workloads.order(ops, seed, index).map(op => call(op, sfDir, index, traced, keep))
    clear()
    PassRun(index, kind, traced, start, System.currentTimeMillis(), runs)
  }

  private def phase(pass: Int, op: Op, name: String, traced: Boolean): Unit =
    if (traced) {
      sc.setLocalProperty(Tracer.PassKey, pass.toString)
      sc.setLocalProperty(Tracer.OpKey, op.name)
      sc.setLocalProperty(Tracer.PhaseKey, name)
      sc.setJobGroup(Runner.group(pass, op.name, name), op.name)
    }

  private def clear(): Unit = {
    Seq(Tracer.PassKey, Tracer.OpKey, Tracer.PhaseKey).foreach(sc.setLocalProperty(_, null))
    sc.clearJobGroup()
  }

  private def call(op: Op, sfDir: String, pass: Int, traced: Boolean, keep: Boolean): OpRun = {
    val b0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var n1 = n0; var b1 = b0
    try {
      phase(pass, op, "build", traced)
      val df = op.fn(spark, sfDir)
      n1 = System.nanoTime(); b1 = System.currentTimeMillis()
      phase(pass, op, "run", traced)
      val rows = org.apache.spark.sql.graft.Exec.fullCount(df)
      val n2 = System.nanoTime()
      if (keep) kept += op.name -> df
      OpRun(op, b0, b1, System.currentTimeMillis(), (n1 - n0) / 1e9, (n2 - n1) / 1e9, rows, None)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${op.name} failed in pass $pass: $e")
        val n2 = System.nanoTime()
        OpRun(op, b0, b1, System.currentTimeMillis(), (n1 - n0) / 1e9, (n2 - n1) / 1e9, -1L,
          Some(String.valueOf(e.toString).take(300)))
    }
  }
}

object Runner {
  /** The job group of one op phase, for counting its jobs independently. */
  def group(pass: Int, op: String, phase: String): String = s"perfbench-$pass-$op-$phase"
}
