package graft.perfbench

import scala.util.Try
import scala.util.control.NonFatal

/** Checks of the benchmark's own machinery, on tiny inputs:
  * op selection rules, seeded ordering, the tracer's job attribution
  * against an independent count, and failure accounting.
  *
  * Argument: --fixtures <tiny input tables>; java.io.tmpdir must be a fresh
  * directory. Exits non-zero if any check fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case NonFatal(e) => println(s"  error: $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val fixtures = a("fixtures")

    check("blank names are dropped from a subset") {
      Workloads.parseOnly(" tpch_q3_like, ,tpch_q6_like,").contains(Set("tpch_q3_like", "tpch_q6_like")) &&
        Workloads.parseOnly(" , ").isEmpty
    }
    check("unknown op and workload names fail loudly") {
      Try(Workloads.select("tpch_analytics", Some(Set("tpch_q3_like", "no_such_op")))).isFailure &&
        Try(Workloads.select("no_such_workload")).isFailure
    }
    check("every workload op is owned by a reported layer") {
      Workloads.lists.keys.forall(w => Workloads.select(w).size == Workloads.lists(w).size)
    }
    check("the same seed gives the same order, another seed another order") {
      val ops = Workloads.lists("tpch_analytics")
      val o = Workloads.order(ops, 7, 3)
      o == Workloads.order(ops, 7, 3) && o != Workloads.order(ops, 8, 3) &&
        o != Workloads.order(ops, 7, 4) && o.sorted == ops.sorted
    }

    val spark = Main.session(2)
    val sc = spark.sparkContext
    try {
      val tracer = new Tracer
      sc.addSparkListener(tracer)
      val runner = new Runner(spark, seed = 1)
      val ops = Seq(Workloads.op("sim_ann_graph_search"), Workloads.op("tpch_q3_like"))
      runner.pass(ops, fixtures, 0, "cold", traced = true)
      runner.pass(ops, fixtures, 1, "warm", traced = true)
      org.apache.spark.perfbench.Bus.drain(sc)
      for (op <- ops; phase <- Seq("build", "run")) {
        val traced = tracer.jobsOf(1).count(j => j.op == op.name && j.phase == phase)
        val independent = sc.statusTracker.getJobIdsForGroup(Runner.group(1, op.name, phase)).length
        check(s"traced $phase-phase jobs of ${op.name} ($traced) equal its job group's ($independent)") {
          traced == independent
        }
      }
      check("the graph search launches jobs while building, the TPC-H query only while running") {
        val j = tracer.jobsOf(1)
        j.exists(x => x.op == "sim_ann_graph_search" && x.phase == "build") &&
          !j.exists(x => x.op == "tpch_q3_like" && x.phase == "build") &&
          j.exists(x => x.op == "tpch_q3_like" && x.phase == "run")
      }
      sc.removeSparkListener(tracer)

      val boom = Op("injected_failure", "Relational", (_, _) => {
        Thread.sleep(500); throw new IllegalStateException("injected")
      })
      val p = runner.pass(Seq(Workloads.op("tpch_q6_like"), boom), fixtures, 2, "warm", traced = false)
      val good = p.ops.filter(_.op.name == "tpch_q6_like")
      check("an injected throwing op is counted as failed") {
        p.failed == 1 && p.ops.exists(r => r.op.name == "injected_failure" && r.error.nonEmpty)
      }
      check("an injected throwing op contributes no time to the pass") {
        p.seconds == good.map(_.seconds).sum && good.forall(_.ok)
      }
    } finally spark.stop()

    println(if (failures == 0) "all checks passed" else s"$failures check(s) failed")
    if (failures != 0) sys.exit(1)
  }
}
