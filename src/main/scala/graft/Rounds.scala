package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The spill-round skeleton every iterative operator runs on (CC label
  * propagation, BFS, k-core, the graph beam, NN-descent, BPE training): the
  * MapReduce fixpoint pattern of fixed-shape dataflow rounds with the
  * fixpoint test on the driver. Each round applies the loop's step `fuse`
  * times to the previous round's state, writes the result as one parquet
  * spill (one write job; the optional `observed` aggregate rides that same
  * job as an [[Observation]]), and reads it back as the next state, so
  * every round plans against a bare file scan instead of a growing lineage.
  *
  * The loop supplies its initial frame, its step and its exit test. The
  * skeleton owns the rest:
  * - a fresh `Sources.tmpUnique` path per round, named `<prefix>_r<steps>`;
  * - the round cap: at most `maxRounds` steps in all, the last round
  *   fusing only the steps left;
  * - the early exit, `stop`, asked after every write;
  * - deleting its previous spill as soon as the next one is written —
  *   nothing reads it after that. Only spills this skeleton wrote are
  *   deleted; a caller's `init` (an edge memo, an input frame) is not.
  *
  * `spillInit` writes `init` as round 0's spill first (loops whose initial
  * state is expensive to recompute per reference); otherwise round 1 fuses
  * the initial frame into its own write job. Returns the path of the last
  * spill, which stays for the caller to read.
  */
object Rounds {

  /** What the exit test sees after a round's spill is written: this
    * round's observed value and the previous round's (-1 where there is
    * none), and the spill path.
    */
  final case class Round(observed: Long, previous: Long, path: String)

  def run(s: SparkSession, prefix: String, init: DataFrame, maxRounds: Int,
      fuse: Int = 1, observed: Option[Column] = None, spillInit: Boolean = false)(
      step: DataFrame => DataFrame)(stop: Round => Boolean): String = {
    require(spillInit || maxRounds > 0, s"$prefix: no round to spill")
    def spill(df: DataFrame, steps: Int) = Sources.spill(df, s"${prefix}_r$steps")
    var path = if (spillInit) spill(init, 0) else null
    var steps = 0
    var previous = -1L
    var done = false
    while (steps < maxRounds && !done) {
      val k = math.min(fuse, maxRounds - steps)
      val st = (1 to k).foldLeft(if (path == null) init else s.read.parquet(path))(
        (df, _) => step(df))
      steps += k
      val obs = Observation()
      val p = spill(observed.fold(st)(c => st.observe(obs, c.as("n"))), steps)
      if (path != null) Sources.rmTree(new java.io.File(path))
      path = p
      val n = if (observed.isEmpty) -1L else obs.get("n").asInstanceOf[Long]
      done = stop(Round(n, previous, path))
      previous = n
    }
    path
  }
}
