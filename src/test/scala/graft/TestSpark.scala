package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001  = "/root/testdata/sf0.01"
  val Sf01   = "/root/testdata/sf0.1"

  /** JVM twin of [[TextOps.log2MicroSql]] (exact fixed-point log2 in
    * micro-bits) — ONE definition shared by every spec that pins the SQL
    * formulation, so a future scale change can't update one copy and
    * leave another silently pinning the old arithmetic.
    */
  def log2MicroRef(x: Long): Long = {
    val i = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val p = 1L << i
    i * 1000000L + (x - p) * 1000000L / p
  }

  /** Root paths of every file scan in `df`'s executed plan: the AQE
    * initial and current plans, query stages, reused exchanges and
    * subqueries included. Plan strings abbreviate scan locations longer
    * than 100 characters, so artifact-level plan pins check these paths.
    */
  def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def roots(p: SparkPlan): Seq[String] = p.collectWithSubqueries {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case a: AdaptiveSparkPlanExec => roots(a.initialPlan) ++ roots(a.executedPlan)
      case q: QueryStageExec => roots(q.plan)
      case r: ReusedExchangeExec => roots(r.child)
    }.flatten
    roots(df.queryExecution.executedPlan).distinct
  }

  /** Names of the spill directories under the engine's process dir whose
    * name is `<prefix>_r<steps>_<seq>`: the ones [[Rounds]] writes.
    */
  def roundSpills(prefix: String): Set[String] =
    Option(new java.io.File(s"${Sources.procDir}/unique").list()).toSet.flatten
      .filter(_.matches(s"${prefix}_r\\d+_\\d+"))

  /** Runs `f` with the session conf `spark.graft.regime` set to `regime`,
    * and unsets it after. Under `loop` it also proves that the forced
    * loop ran: `f` must leave a new spill of the [[Rounds]] loop named
    * `loop`. Without that check, a misread key would compare the local
    * regime with itself, and every "local == loop" spec would still pass.
    */
  def withRegime[T](s: SparkSession, regime: String, loop: String)(f: => T): T = {
    val before = roundSpills(loop)
    s.conf.set(Regime.Key, regime)
    val out = try f finally s.conf.unset(Regime.Key)
    if (regime == "loop")
      org.scalatest.Assertions.assert((roundSpills(loop) -- before).nonEmpty,
        s"${Regime.Key}=loop ran no `$loop` round")
    out
  }

  /** The engine's session ([[GraftSession]]) on 8 cores. Its overrides keep
    * the Derby metastore and the warehouse out of the working directory.
    * The warehouse dir is a static conf; the builder reads it from the
    * `spark.*` system property.
    */
  lazy val spark: SparkSession = {
    System.setProperty("derby.system.home", "/tmp/graft_derby")
    System.setProperty("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    val s = GraftSession(8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
