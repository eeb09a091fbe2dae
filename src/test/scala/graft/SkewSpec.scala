package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import TestSpark.{spark, Sf0001}

/** Salting for extreme key skew: results identical to the plain join, and
  * the shuffle key becomes (key, salt) so one hot key spreads across
  * reducers. (AQE skew-join covers moderate skew; salting is the explicit
  * tool when a single key dominates.)
  */
class SkewSpec extends AnyFunSuite {

  test("salted join returns exactly the plain join's rows") {
    // Simulate skew: collapse most events onto one key.
    val big = Tables.events(spark, Sf0001)
      .withColumn("k", when(col("event_id") % 10 < 8, 0L).otherwise(col("user_id")))
    val small = Tables.events(spark, Sf0001)
      .select(col("user_id").as("k2")).distinct()
      .withColumn("dim_payload", col("k2") * 100)
    val plain = big.join(small, col("k") === col("k2"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("dim_payload").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val salted = Joins.saltedJoin(big, small, "k", "k2", col("event_id"), 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("dim_payload").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(salted.sameElements(plain))
  }

  test("salted join shuffles on (key, salt)") {
    val big = Tables.events(spark, Sf0001).withColumn("k", col("user_id"))
    val small = Tables.events(spark, Sf0001)
      .select(col("user_id").as("k2")).distinct()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Joins.saltedJoin(big, small, "k", "k2", col("event_id"), 4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"salt column not in shuffle key:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** The skewed SMJ fixture the AQE pin runs: 80% of sf0.01's 10k events
    * collapse onto key 0 (one ~8k-row shuffle partition against a ~13-row
    * median), joined to the distinct-user dim with broadcast disabled.
    */
  private def skewedJoin() = {
    // payload is xxhash64-derived (incompressible) — a repeated-long payload
    // LZ4-compresses below any sane skew threshold at fixture scale and the
    // split never triggers
    // .repartition(8) gives the join shuffle 8 MAP tasks: AQE splits a
    // skewed reduce partition at map-output-block granularity, so a
    // single-mapper input (one small parquet file = one scan task) has
    // nothing to split and the rule silently no-ops — at real scale the
    // mapper count is never 1, the fixture has to manufacture it
    val big = Tables.events(spark, TestSpark.Sf001)
      .select(when(col("event_id") % 10 < 8, 0L).otherwise(col("user_id")).as("k"),
        col("event_id"), xxhash64(col("event_id")).as("p1"),
        xxhash64(col("event_id"), lit(1)).as("p2"))
      .repartition(8)
    // The trailing round-robin .repartition(5) is load-bearing: a bare
    // distinct() leaves the dim hash-partitioned ON THE JOIN KEY, so
    // EnsureRequirements inserts no exchange on that side and the join's
    // right child is Sort(HashAggregate(ShuffleQueryStage)).
    // OptimizeSkewedJoin only matches Sort(ShuffleQueryStage) with an
    // ENSURE_REQUIREMENTS shuffle origin on BOTH sides — against the
    // aggregate-partitioned dim the rule never fires at all (measured in
    // DESIGN.md round 13: skewMarker=false in every conf combination,
    // including forceOptimizeSkewedJoin=true and coalescePartitions
    // disabled).
    // Breaking the dim's partitioning forces the join's own exchange on
    // k2, and the marker appears with PLAIN defaults. At real scale the
    // same applies: a dim that arrives pre-partitioned on the join key is
    // invisible to AQE skew handling — re-shuffling it (or salting) is
    // the tool there.
    val small = Tables.events(spark, TestSpark.Sf001)
      .select(col("user_id").as("k2")).distinct()
      .withColumn("dim_payload", col("k2") * 100)
      .repartition(5)
    big.join(small, col("k") === col("k2"))
  }

  test("AQE skew-join actually splits the hot partition (skew=true), off-switch contrasted") {
    // VERDICT r11 #5: assert the runtime re-plan is REAL, not assumed —
    // OptimizeSkewedJoin must mark the sort-merge join skew=true in the
    // FINAL adaptive plan (it splits the oversized partition into
    // advisory-sized slices and duplicates the matching dim partition).
    // Thresholds are lowered to fixture scale: the hot partition carries
    // ~8k of 10k rows (~256 KB of UnsafeRow), the median partition ~13
    // rows, so factor=2 / threshold=64KB / advisory=32KB classify exactly
    // one partition as skewed. The same query with skewJoin.enabled=false
    // must NOT carry the marker — pinning that the flag, not the fixture,
    // does the work.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")
    def finalPlan(skewOn: Boolean): String = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      val df = skewedJoin()
      // AQE finalizes only at execution, and only for THIS QueryExecution —
      // df.count() would plan a separate query and leave df's own adaptive
      // plan isFinalPlan=false
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val on = finalPlan(skewOn = true)
      assert(on.contains("skew=true"),
        s"AQE did not split the hot partition:\n$on")
      val off = finalPlan(skewOn = false)
      assert(!off.contains("skew=true"),
        s"skew marker present with skewJoin disabled:\n$off")
      // result invariance: AQE splitting must not change the join result
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val nOn = skewedJoin().count()
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val nOff = skewedJoin().count()
      assert(nOn == nOff, s"skew split changed the row count: $nOn vs $nOff")
    } finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
    }
  }
}
