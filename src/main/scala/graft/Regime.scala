package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The small-input gate of the iterative operators (CC, BFS, k-core, BPE
  * training). Each distributed round pays a fixed write-job floor whatever
  * its frame size, so an input that fits under the operator's cap is
  * solved driver-side (the local finish of the published MapReduce CC
  * algorithms, Kiveris et al.); both regimes give identical results by
  * construction.
  *
  * The session conf `spark.graft.regime` picks the regime: `auto` (the
  * default) probes the input, `loop` skips the probe so the distributed
  * [[Rounds]] loop runs at any size (specs pin local == loop; scale runs
  * measure the loop). Builds that pass through the gate fold [[apply]]
  * into their memo keys, so a forced run never reuses the other regime's
  * artifact.
  */
object Regime {
  val Key = "spark.graft.regime"

  /** The session's regime: `auto` or `loop`; any other value fails loudly. */
  def apply(s: SparkSession): String = s.conf.get(Key, "auto") match {
    case r @ ("auto" | "loop") => r
    case r => throw new IllegalArgumentException(s"$Key must be auto or loop, got '$r'")
  }

  /** `df`'s rows when the regime is `auto` and they number at most `cap`,
    * from one bounded collect (`limit(cap + 1)`); None when the loop must
    * run.
    */
  def local(df: DataFrame, cap: Int): Option[Array[Row]] =
    if (apply(df.sparkSession) == "loop") None
    else Some(df.limit(cap + 1).collect()).filter(_.length <= cap)
}
