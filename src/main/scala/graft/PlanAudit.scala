package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Dev tool, two modes, both under the [[GraftSession]] configuration the
  * timings run on (cores from `SPARK_GRAFT_CPUS`):
  * - `runMain graft.PlanAudit [sfDir]` emits PLANS.md — a per-query
  *   inventory of the physical-plan properties the 100 TB design cares
  *   about (shuffle count, broadcast vs shuffled joins, scan count and
  *   pushdown, top-k short-circuits). One compact table instead of 100+
  *   pages of explain output; PlanRegressionSpec pins the load-bearing
  *   rows. (Codegen spans are not reported: AQE finalizes them only at
  *   execution.)
  * - `runMain graft.PlanAudit --formatted [sfDir] [q...]` dumps
  *   `explain("formatted")` for every query (or the named ones), so plan
  *   regressions — lost pushdown, surprise shuffles, missing broadcasts,
  *   codegen breaks — are visible in full.
  */
object PlanAudit {
  def main(argv: Array[String]): Unit = {
    val formatted = argv.headOption.contains("--formatted")
    val args = if (formatted) argv.tail else argv
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cores = GraftSession.envCores
    val spark = GraftSession(cores)
    spark.sparkContext.setLogLevel("ERROR")
    if (formatted) explain(spark, sfDir, args.drop(1).toSeq)
    else audit(spark, sfDir, cores)
    spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String, only: Seq[String]): Unit = {
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
  }

  /** The iterative CC queries execute a driver convergence loop whose
    * final plan PRINTS every round's subtree repeatedly — operator counts
    * over that string reflect the printed lineage, not executed work (each
    * round actually runs 1 join + 1 aggregate over the tiny endpoint
    * frame), so their rows read n/a.
    */
  private val Iterative = Set("dedup_cluster_cc", "dedup_cluster_jaccard",
    "graph_connected_components", "mm_phash_cluster",
    "dedup_cluster_incremental")

  /** `name`'s PLANS.md row, from `df`'s physical plan before it runs. One
    * definition for this tool and the spec that checks PLANS.md against
    * the code (ContractSpec).
    */
  def row(name: String, df: => DataFrame): String =
    if (Iterative(name))
      s"| `$name` | — | — | — | — | — | iterative loop: counts n/a (per round: 1 join + 1 agg over O(edges) rows; see Similarity.labelPropagate) |"
    else {
      val p = df.queryExecution.executedPlan.toString
      def count(token: String): Int = token.r.findAllIn(p).size
      val notes = Seq(
        if (p.contains("TakeOrderedAndProject")) Some("TakeOrdered") else None,
        if (p.contains("WindowGroupLimit")) Some("WindowGroupLimit") else None,
        // per-scan check: ANY scan with a non-empty filter list counts —
        // a plan mixing filtered and unfiltered scans still pushes down
        if (count("PushedFilters: \\[[^\\]]") > 0) Some("pushdown") else None,
        if (p.contains("ReusedExchange")) Some("ReusedExchange") else None,
        if (count("PartitionFilters: \\[[^\\]]") > 0)
          Some("partition-pruned") else None
      ).flatten.mkString(" ")
      f"| `$name` | ${count("Exchange (hash|range|SinglePartition)")} | " +
        f"${count("BroadcastHashJoin")} | ${count("SortMergeJoin")} | " +
        f"${count("BroadcastNestedLoopJoin")} | " +
        f"${count("Scan parquet|Scan csv|Scan json|Scan text|Scan ExistingRDD")} | $notes |"
    }

  /** The row of a query whose frame or plan could not be built. */
  def failedRow(name: String, e: Throwable): String = {
    // null-message-safe, table-safe (no pipes/newlines), 7 cells
    val msg = String.valueOf(e.getMessage).replaceAll("[|\r\n]", " ").take(60)
    s"| `$name` | plan failed | — | — | — | — | $msg |"
  }

  private def audit(spark: SparkSession, sfDir: String, cores: Int): Unit = {
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try row(name, fn(spark, sfDir))
      catch { case e: Throwable => failedRow(name, e) }
    }
    val md = new StringBuilder
    md ++= "# PLANS — physical-plan audit (auto-generated by `graft.PlanAudit`)\n\n"
    md ++= s"Source: `$sfDir`, local[$cores], shuffle.partitions=$cores. Columns: shuffles = "
    md ++= "Exchange operators (hash/range/single); BHJ/SMJ/BNLJ = join operators; "
    md ++= "scans = source scan operators; notes flag the scale-relevant "
    md ++= "short-circuits (TakeOrdered top-k, WindowGroupLimit map-side rank "
    md ++= "pruning, parquet filter pushdown, exchange reuse, partition pruning).\n\n"
    md ++= "| query | shuffles | BHJ | SMJ | BNLJ | scans | notes |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    rows.foreach(r => { md ++= r; md ++= "\n" })
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println(s"wrote PLANS.md (${rows.size} queries)")
  }
}
