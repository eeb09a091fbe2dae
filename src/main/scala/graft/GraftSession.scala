package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration the engine runs under. The oracle gate
  * (`Verify`), the timings (`Bench`), the plan captures (`PlanAudit`) and
  * the specs (`TestSpark`) all build their session here, so their numbers
  * describe the same engine.
  * - events.ts is parquet TIMESTAMP(NANOS): `nanosAsLong` is what lets it
  *   load at all;
  * - TIMESTAMP_MICROS output keeps written timestamps in the unit the
  *   DuckDB oracle compares;
  * - shuffle partitions equal the core count (every caller wants that).
  */
object GraftSession {

  /** Cores for the driver-run mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
