package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Cross-session persisted GRAPH-ANN index (VERDICT r16 #2 — the
  * sim_ann_ivfpq_probe / kmv_overlap_probe convention applied to the
  * NN-descent neighbor lists): the build writes the [[Similarity.NndBuildK]]-deep
  * lists AND the vectors to a stable parquet layout, so a FRESH
  * SparkSession answers graph-expansion queries by reading the index,
  * with zero descent rounds — and zero scans of the embeddings table —
  * in the probe plan. This closes the last asymmetry in the ANN family:
  * IVF-PQ and KMV already had persisted probe-only twins; the graph
  * family's search half previously lived only in GraphAnnSpec's JVM beam.
  *
  * Layout under [[indexRoot]]:
  *   lists/    (vec_id, rn, nb)            — NndBuildK rows per vector
  *   vectors/  (vec_id, embedding, nrm)    — the stored vectors (graph-ANN
  *                                           indexes ship vectors with the
  *                                           graph; HNSW's layout)
  *   _GANN_OK                              — completion marker, written LAST
  *
  * The probe is the DATAFLOW-EXPRESSIBLE slice of beam search: bounded-
  * depth neighbor expansion — candidates(q) = N(q) ∪ N(N(q)) over the
  * persisted lists (two self-joins), exact-cosine re-rank, top
  * [[ProbeTopK]] — for a fixed in-index probe set. Full greedy beam
  * search is inherently sequential per query (one node's list at a time)
  * and stays in GraphAnnSpec as the measured recall truth; at 100 TB the
  * beam serves from a KV store feeding on exactly these persisted lists.
  * Root keyed by the embeddings fingerprint + the full graph geometry
  * via the 64-bit [[Sources.stableHex64]] (the ADVICE r16 keying).
  */
object GraphAnnIndex {
  type Q = (SparkSession, String) => DataFrame

  /** Probe-set bound (vec_id < ProbeQids) and per-query result depth. */
  val ProbeQids = 10L
  val ProbeTopK = 10

  /** Beam width (ef) and the fixed round budget of the IN-ENGINE beam
    * search (VERDICT r17 #2). Measured before wiring (numpy prototype over
    * the persisted lists, then the generated CTE chain checked equal): the
    * batched frontier converges in ≤ 6 rounds at every SF (recall@10 =
    * 1.000 / 0.990 / 0.930 at sf0.001/0.01/0.1 vs the sequential JVM
    * beam's 0.950 floor), so 8 rounds carry slack. Rounds past convergence
    * are IDEMPOTENT (an all-expanded frontier adds nothing), which is what
    * lets the engine early-exit while the oracle runs the fixed budget —
    * the two states agree either way.
    */
  val BeamEf = 32
  val BeamRounds = 8

  /** Beam rounds FUSED into one materialization (OPTIMIZATION r21, guide
    * §1.2/§2.4 — the round floor was stage latency, not data): each
    * [[beamLoop]] round is a pure frame transformation, so composing two
    * of them between parquet spills halves the spill writes+reads, job
    * launches, and footer probes, and lets the second round's broadcast
    * stages (queries, vectors, lists) reuse the first's exchanges inside
    * the one job instead of re-materializing per round. The composed
    * dataflow is the SAME operator sequence — results are identical by
    * construction; the only behavioral change is early-exit granularity
    * (the footer check runs per materialization, so convergence mid-pair
    * costs at most one extra round — the idempotent tail the fixed-round
    * oracle runs anyway). Fuse > 2 measured NO further win (the two keyed
    * exchanges per job already serialize under AQE, and plan size grows
    * per fused round).
    */
  private val BeamFuse = 2

  /** Round budget for the OUT-OF-INDEX query variant: novel queries start
    * cold at the entry point (an in-index probe's own neighborhood is
    * one hop away), so convergence runs longer — measured ≤ 9 rounds at
    * sf0.1; 12 carries the same slack margin BeamRounds does.
    */
  val NovelBeamRounds = 12

  /** Build invocations in this process — lets GraphAnnSpec PROVE the
    * probe path triggered no descent rounds.
    */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Base-slice graph builds this process — the append contract's proof
    * (re-append must never rebuild the base graph).
    */
  private[graft] val baseBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val compactBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** EVERY geometry dial in the key, init offsets included (code-review
    * r17: an offsets retune with rounds/K/ρK fixed would otherwise serve a
    * stale persisted graph — the pqGeometryTag precedent folds all
    * constants).
    */
  def indexRoot(d: String): String =
    Artifact.root("gann_index", d, "embeddings")("gann", Similarity.NndRounds,
      Similarity.NndBuildK, Similarity.NndSampleK, Similarity.NndInitOffsets.mkString(","))

  /** Root of the BASE-slice graph (vec_id·IncrCutDen ≤ mx·IncrCutNum —
    * the standing corpus the incremental-ingest story appends to); the
    * cut constants join the geometry dials in the key.
    */
  def baseRoot(d: String): String =
    Artifact.root("gann_index", d, "embeddings", "base")("gannbase", Similarity.NndRounds,
      Similarity.NndBuildK, Similarity.NndSampleK, Similarity.NndInitOffsets.mkString(","),
      s"${Similarity.IncrCutNum}/${Similarity.IncrCutDen}")

  def ensureBase(s: SparkSession, d: String): Boolean =
    Artifact.ensure(baseRoot(d), "_GANN_OK")(buildBase(s, d).count())

  /** Appended-delta staging artifacts under [[baseRoot]] (which already
    * folds the IncrCut dials, so untagged names cannot go stale there).
    */
  def ensureAppend(s: SparkSession, d: String): Boolean =
    Artifact.ensure(baseRoot(d), "_GANN_DELTA_OK")(appendGraph(s, d).count())

  /** Tombstone dir under [[baseRoot]] — the delete RULE shapes the
    * content, so its dials ride the directory name (the persisted-store
    * keying rule).
    */
  private[graft] def tombDir(root: String): String =
    s"$root/tombstones_${Similarity.delTag}"

  private[graft] def compactDir(root: String): String =
    s"$root/compacted_${Similarity.delTag}"

  def ensureTomb(s: SparkSession, d: String): Boolean =
    Artifact.ensure(tombDir(baseRoot(d)), "_TOMB_OK")(delete(s, d).count())

  def ensureCompact(s: SparkSession, d: String): Boolean =
    Artifact.ensure(compactDir(baseRoot(d)), "_GANN_COMPACT_OK")(compact(s, d).count())

  /** BOTH markers (the mergedFrames crashed-build contract one generation
    * later): compact() overwrites cd/vectors+lists after deleting
    * _GANN_COMPACT_OK, so _GANN_DELTA2_OK alone can sit over a torn
    * compacted graph.
    */
  def ensureAppend2(s: SparkSession, d: String): Boolean =
    Artifact.ensure(compactDir(baseRoot(d)), "_GANN_COMPACT_OK", "_GANN_DELTA2_OK")(
      appendGen2(s, d).count())

  /** Build the base-slice index: the SAME NN-descent pipeline over the
    * base vectors only (ids 0..C−1 stay contiguous because the delta is
    * the TOP id slice), persisted under [[baseRoot]] with the standard
    * lists/vectors/marker layout.
    */
  def buildBase(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_norm
    baseBuilds.incrementAndGet()
    val root = baseRoot(d)
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    Artifact.publish(root, "_GANN_OK") {
      // vectors FIRST, descent from the written artifact: one embeddings
      // scan + cut pass total (third review pass: the previous shape
      // re-derived the slice for each artifact), and the lists provably
      // build from the exact vectors the probe will read
      Similarity.embCutSlice(s, d, Similarity.incrIsBase)
        .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
        .write.mode(ow).parquet(s"$root/vectors")
      Similarity.nndGraphFrameOf(s, d, Similarity.NndRounds, ":base",
          s.read.parquet(s"$root/vectors").select("vec_id", "embedding"))
        .write.mode(ow).parquet(s"$root/lists")
    }
    summary(s, root)
  }

  /** Incremental graph-index ingest (round 18 — the ann_index_append
    * convention on the graph family): DELTA vectors (the top ~20% id
    * slice, the shared IncrCut arrival-order contract) get their
    * neighbor lists by the SAME batched beam search the serving path
    * runs — each delta vector is an out-of-index query over the
    * persisted BASE lists, and its appended list is the top-NndBuildK of
    * its final visited state. This is exactly HNSW's insert primitive
    * (search-then-connect), minus the reverse-edge updates: the appended
    * edges point delta→base only, and back-links wait for the next full
    * build — the standard batch-ingest trade (documented, not hidden:
    * queries entering via appended vectors would need those reverse
    * edges; queries over base+delta content work immediately because the
    * beam scores delta lists' targets exactly). Work ∝ |delta| · ef · K
    * per round — the base graph is never re-descended (baseBuilds == 0
    * pinned on re-append).
    */
  def appendGraph(s: SparkSession, d: String): DataFrame = {
    ensureBase(s, d)
    val root = baseRoot(d)
    ingestBeamFrom(s, deltaFrame(s, d),
      s"$root/lists", s"$root/vectors",
      s"$root/vectors_delta", s"$root/lists_delta", root, "_GANN_DELTA_OK")
  }

  /** The arrival-order delta slice — the ONE shared derivation
    * ([[Similarity.incrDeltaSlice]], ADVICE r19), so no ingest form in
    * either family can fork on the cut rule.
    */
  private def deltaFrame(s: SparkSession, d: String): DataFrame =
    Similarity.incrDeltaSlice(s, d)

  /** The shared search-then-connect ingest body (code-review, this
    * session: gen-1 and gen-2 differ only in the arriving id slice and
    * the base/staging artifact paths — one body so a beam/ranking fix
    * cannot fork the generations). Delta vectors persist FIRST (the
    * vectors-first convention of buildBase): the merged serving keys read
    * them as index content — graph-ANN indexes ship vectors with the
    * graph — and the beam derives its queries from the written artifact,
    * one cut pass total.
    */
  private def ingestBeam(s: SparkSession, d: String,
      cut: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      baseListsPath: String, baseVecsPath: String,
      vecsPath: String, listsPath: String, dir: String, marker: String): DataFrame =
    ingestBeamFrom(s, Similarity.embCutSlice(s, d, cut),
      baseListsPath, baseVecsPath, vecsPath, listsPath, dir, marker)

  /** [[ingestBeam]] over a caller-supplied (vec_id, embedding) batch — the
    * streaming micro-batch ingest feeds foreachBatch frames through the
    * same body, so the stream path cannot drift from the batch ingest.
    */
  private def ingestBeamFrom(s: SparkSession, batch: DataFrame,
      baseListsPath: String, baseVecsPath: String,
      vecsPath: String, listsPath: String, dir: String, marker: String,
      manageEdgeCache: Boolean = true,
      edges: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_norm
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    Artifact.publish(dir, marker) {
      batch
        .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
        .write.mode(ow).parquet(vecsPath)
      val delta = s.read.parquet(vecsPath)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      beamLoop(s,
          s.read.parquet(baseListsPath), s.read.parquet(baseVecsPath),
          delta, NovelBeamRounds, broadcastQ = false,
          manageEdgeCache = manageEdgeCache,
          entryHint = footerMinVecId(s, Seq(baseVecsPath)),
          edgesIn = edges)
        // the connect step's ranking is exactly the stored state rank
        // (row_number over qid by cs DESC, nb ASC — no filter in between),
        // so the top-NndBuildK cut is a pushed-down filter, not a second
        // window over the delta-sized visited state (beamLoop, r21)
        .where(col("rn") <= Similarity.NndBuildK)
        .select(col("qid").as("vec_id"), col("rn").cast("int").as("rn"), col("nb"))
        .write.mode(ow).parquet(listsPath)
    }
    s.read.parquet(listsPath).orderBy("vec_id", "rn")
  }

  /** Index-health statistics over the PERSISTED graph artifacts (the
    * ann_index_stats twin on this family), serving-side — builds==0, one
    * scan of the lists. Out-degree is NndBuildK for every vertex by
    * construction, so the health signal lives in the IN-degree
    * distribution: `max_in_deg` exposes hub formation (a runaway hub
    * degrades beam diversity), `n_unreferenced` counts vertices NO edge
    * points at — reachable only as entry points, i.e. effectively
    * unservable content the next compaction's back-link pass should
    * repair — and `n_mutual` is the standing back-link coverage read.
    * All-integer single row. The plan scans the lists artifact several
    * times (the edge aggregate, both sides of the mutual self-join, the
    * in-degree and unreferenced legs) — acceptable because at 100 TB the
    * lists are metadata-scale next to the vectors; a one-pass rewrite
    * buys nothing until the artifact itself is big.
    */
  def stats(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    val root = indexRoot(d)
    val g = s.read.parquet(s"$root/lists").select("vec_id", "nb")
    val inDeg = g.groupBy("nb").agg(count(lit(1)).as("ind"))
    val unref = g.select(col("vec_id")).distinct()
      .join(inDeg, col("vec_id") === col("nb"), "left_anti")
      .agg(count(lit(1)).as("n_unreferenced"))
    g.agg(countDistinct(col("vec_id")).as("n_vertices"),
        count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(
        g.as("a").join(g.as("b"),
            col("a.vec_id") === col("b.nb") && col("a.nb") === col("b.vec_id"))
          .agg(count(lit(1)).as("n_mutual"))))
      .crossJoin(broadcast(inDeg.agg(max(col("ind")).as("max_in_deg"))))
      .crossJoin(broadcast(unref))
  }

  /** Recall evaluation for the graph serving path (the family twin of
    * sim_ann_recall_eval): recall@10 of the in-engine batched beam over
    * the persisted index against the exact cosine top-10 per probe query
    * — the post-maintenance regression a production graph-ANN deployment
    * runs (a broken reverse-edge fold or beam state craters it where it
    * happens). Integer hits-of-10 per query (D5); exact side is the
    * bounded 10-probe brute-force kernel.
    */
  def recallEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
    val ann = search(s, d).select(col("qid"), col("nn"))
    // exact side reads the PERSISTED vectors (which carry their norms —
    // the same vec_norm bits the build wrote), and the 10 query norms
    // compute once: per-pair work is one dot, not three O(dim) folds
    // (code-review, this session)
    val e = s.read.parquet(s"${indexRoot(d)}/vectors")
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val q = e.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("cs").desc, col("nn").asc)
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn"),
        (vec_dot(col("embedding"), col("qe")) /
          (col("nrm") * col("qn"))).as("cs"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= ProbeTopK)
      .select("qid", "nn")
    val hits = exact.join(broadcast(ann), Seq("qid", "nn"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    q.select("qid").join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("qid")
  }

  /** Streaming-segment staging dir (the IVF-PQ family's streamDir twin —
    * delta-rule-keyed so a changed cut rule cannot serve stale segments).
    */
  private[graft] def streamDir(root: String): String =
    s"$root/stream_${Similarity.IncrCutNum}_${Similarity.IncrCutDen}"

  /** One micro-batch of STREAMING graph ingest — the foreachBatch body:
    * each arriving batch runs the shared search-then-connect beam against
    * the persisted BASE into its own log-structured segment. Batching is
    * answer-invariant by construction here too: every delta vector's beam
    * descends the base artifacts only (appendGraph's documented contract
    * — appended edges point delta→base), so a vector's list is
    * independent of which micro-batch carried it.
    */
  def ingestStreamBatch(s: SparkSession, d: String, batch: DataFrame,
      batchId: Long): Unit = {
    val root = baseRoot(d)
    val sd = streamDir(root)
    ingestBeamFrom(s, batch, s"$root/lists", s"$root/vectors",
      s"$sd/vectors_sb$batchId", s"$sd/lists_sb$batchId", sd, s"_SSEG${batchId}_OK").count()
  }

  /** The GATE form of streaming graph ingest (the IVF-PQ family's
    * stream_index_ingest on this family): the append delta arrives as
    * TWO deterministic micro-batches (not the IVF-PQ family's four — see
    * the inline note), each beamed into its own segment; output is the
    * SEGMENT UNION, and the oracle is gann_index_append's verbatim — the
    * driver gate pins that micro-batching is invisible in the ingested
    * graph.
    */
  def streamIngest(s: SparkSession, d: String): DataFrame = {
    ensureBase(s, d)
    val root = baseRoot(d)
    val sd = streamDir(root)
    // two segments, not the IVF-PQ family's four: each graph segment pays
    // the full NovelBeamRounds round-loop floor (the beam is the cost,
    // not the assignment), and two already proves batching-invariance —
    // measured 40.5 s at four segments vs ~half at two, same pin
    val nb = 2
    val delta = deltaFrame(s, d)
    // the segments' beams are INDEPENDENT job chains over the same
    // read-only base artifacts (disjoint query slices, disjoint staging
    // paths, per-segment markers) — submit them from separate threads so
    // each segment's per-round barrier overlaps the other's compute
    // instead of serializing 2 × NovelBeamRounds job floors (VERDICT r19
    // #2; A/B in DESIGN.md). Semantics untouched: every segment keeps its
    // own beam, artifacts, and marker-last crash contract — this is
    // exactly what concurrent micro-batches on a real cluster do.
    // ONE shared persisted edge frame for both segments (code-review r20
    // finding 3): Spark dedupes cached plans, so per-beam persist/unpersist
    // had the first-finishing segment evict the entry from under the other
    // — the caller owns the cache here, materialized before the race
    val shared = edgeFrame(s.read.parquet(s"$root/lists")).persist()
    shared.count()
    try {
      Sources.concurrently(0 until nb) { b =>
        ingestBeamFrom(s, delta.where(pmod(col("vec_id"), lit(nb.toLong)) === b),
          s"$root/lists", s"$root/vectors",
          s"$sd/vectors_b$b", s"$sd/lists_b$b", sd, s"_SEG${b}_OK", manageEdgeCache = false,
          edges = Some(shared)).count()
      }
    } finally shared.unpersist(blocking = false)
    // union readers require the segment markers — the AnnIndex.streamIngest
    // contract (ADVICE r19); unreachable here (all segments just re-beamed)
    // but inherited by any consumer that reads without re-ingesting
    val torn = (0 until nb).filterNot(b => Artifact.ready(sd, s"_SEG${b}_OK"))
    require(torn.isEmpty, s"torn stream segments (no marker): $torn")
    (0 until nb).map(b => s.read.parquet(s"$sd/lists_b$b"))
      .reduce(_ unionByName _)
      .orderBy("vec_id", "rn")
  }

  /** GENERATION-2 ingest (round 19, second session): append a NEW delta
    * onto the COMPACTED index — the multi-generation contract of
    * log-structured index maintenance: a compaction's output must be a
    * valid BASE for the next ingest cycle, or the lifecycle only works
    * once. The deterministic gen-2 batch is the TOMBSTONED slice arriving
    * again (re-insertion after deletion — the same users' data returning
    * is the GDPR-era shape; production feeds any id batch through the
    * identical path). Mechanics are [[appendGraph]] verbatim with the
    * compacted artifacts as the base: vectors first under compactDir,
    * HNSW search-then-connect beam over cd/lists (back-links REAL this
    * time — the compaction materialized them, so gen-2 descends a
    * better-connected graph than gen-1 did), top-NndBuildK per query,
    * marker last. Work ∝ |delta2| · ef · K; the compacted graph is never
    * re-ranked (compactBuilds == 0 pinned on re-append).
    */
  def appendGen2(s: SparkSession, d: String): DataFrame = {
    ensureCompact(s, d)
    val cd = compactDir(baseRoot(d))
    ingestBeam(s, d,
      (vid, mx) => vid * Similarity.DelCutDen > mx * Similarity.DelCutLoNum &&
        vid * Similarity.DelCutDen <= mx * Similarity.DelCutHiNum,
      s"$cd/lists", s"$cd/vectors",
      s"$cd/vectors_delta2", s"$cd/lists_delta2", cd, "_GANN_DELTA2_OK")
  }

  /** Serving over the generation-2 view: compacted lists ∪ delta2 lists ∪
    * reversed delta2 edges (the [[mergedFrames]] move, one generation
    * later) — re-ingested ids are RETURNABLE again, closing the full
    * cycle: present (merged) → absent (deleted/compacted) → present
    * (gen-2). GraphAnnSpec pins each transition on the same ids.
    */
  def searchGen2(s: SparkSession, d: String): DataFrame = {
    ensureAppend2(s, d)
    val cd = compactDir(baseRoot(d))
    val dl = s.read.parquet(s"$cd/lists_delta2")
    val lists = s.read.parquet(s"$cd/lists").select("vec_id", "nb")
      .unionByName(dl.select("vec_id", "nb"))
      .unionByName(dl.select(col("nb").as("vec_id"), col("vec_id").as("nb")))
    val vecs = s.read.parquet(s"$cd/vectors")
      .unionByName(s.read.parquet(s"$cd/vectors_delta2"))
    searchOver(s, lists, vecs, tombs = None,
      vecDirs = Seq(s"$cd/vectors", s"$cd/vectors_delta2"))
  }

  /** True if the persisted index already existed (probe-only path). */
  def ensure(s: SparkSession, d: String): Boolean =
    Artifact.ensure(indexRoot(d), "_GANN_OK")(build(s, d).count())

  /** Build (or rebuild) the index from the NN-descent pipeline — the SAME
    * memoized frame sim_ann_graph_nnd reads, so the persisted lists are
    * bit-identical to the in-process operator's — and return a 1-row
    * graph-quality summary: vector/edge counts plus the MUTUAL-edge count
    * (edges whose reverse edge is also in the graph — the symmetry metric
    * graph-ANN papers track, since beam search traverses lists as if
    * undirected).
    */
  def build(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_norm
    builds.incrementAndGet()
    val root = indexRoot(d)
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    Artifact.publish(root, "_GANN_OK") {
      Similarity.nndGraphFrame(s, d, Similarity.NndRounds)
        .write.mode(ow).parquet(s"$root/lists")
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
        .write.mode(ow).parquet(s"$root/vectors")
    }
    summary(s, root)
  }

  private def summary(s: SparkSession, root: String): DataFrame = {
    val g = s.read.parquet(s"$root/lists").select("vec_id", "nb")
    g.agg(countDistinct(col("vec_id")).as("n_vectors"),
        count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(
        g.as("a").join(g.as("b"),
            col("a.vec_id") === col("b.nb") && col("a.nb") === col("b.vec_id"))
          .agg(count(lit(1)).as("n_mutual"))))
  }

  /** Probe-only graph expansion over the persisted index: every frame in
    * the plan — the probe set included — is a bare parquet scan of the
    * artifacts (no descent, no embeddings-table scan; GraphAnnSpec pins
    * builds == 0 on re-probe). Two bounded self-join hops on the lists,
    * exact cosine from the stored vectors, rank-only output (the D5 rule).
    */
  def probe(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_dot
    ensure(s, d)
    val root = indexRoot(d)
    val lists = s.read.parquet(s"$root/lists").select("vec_id", "nb")
    val vecs = s.read.parquet(s"$root/vectors")
    val qids = vecs.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"))
    val h1 = lists.join(broadcast(qids), col("vec_id") === col("qid"))
      .select(col("qid"), col("nb"))
    val h2 = h1.join(lists.select(col("vec_id").as("nb"), col("nb").as("nb2")), "nb")
      .select(col("qid"), col("nb2").as("nb"))
    val cand = h1.unionAll(h2)
      .where(col("nb") =!= col("qid")).distinct()
    val q = vecs.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    cand
      .join(vecs.select(col("vec_id").as("nb"), col("embedding").as("ne"),
        col("nrm").as("nn")), "nb")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nb"),
        (vec_dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("nb").asc)))
      .where(col("rn") <= ProbeTopK)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("nb").as("nn"))
      .orderBy("qid", "rn")
  }

  /** IN-ENGINE beam search over the persisted lists (VERDICT r17 #2 —
    * the labelPropagate loop shape applied to search): the synchronous
    * batched form of HNSW layer-0 — per round, EVERY unexpanded member of
    * each query's top-[[BeamEf]] frontier expands its persisted neighbor
    * list at once (where the sequential beam pops one node at a time), new
    * candidates are exact-cosine scored from the persisted vectors, and
    * the visited-scored state re-ranks. Batched expansion explores a
    * superset of the sequential beam's nodes per round, so recall is
    * equal-or-better at the same ef (measured above); the price is bounded
    * extra scoring work — ≤ ef·[[Similarity.NndBuildK]] candidates per
    * query per round — which is exactly the trade a 1000-executor engine
    * wants (rounds are all-queries-parallel dataflow joins, and the round
    * count is the small constant, not the per-query path length).
    *
    * Loop mechanics are the nndGraphFrame/labelPropagate convention: each
    * round reads the previous round's bounded parquet spill (never a
    * growing lineage), keyed shuffles only (qid / nb), and the early exit
    * fires when no frontier node is unexpanded — result-identical to
    * running all [[BeamRounds]] rounds (idempotent tail), which is what
    * the fixed-round generated oracle runs. Every distributed input is an
    * artifact scan: lists, vectors, and the round spills (builds == 0 on
    * re-search, GraphAnnSpec).
    */
  def search(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    val vecs = s.read.parquet(s"${indexRoot(d)}/vectors")
    val q = vecs.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    beamLoop(s, s.read.parquet(s"${indexRoot(d)}/lists"), vecs,
        q, BeamRounds, broadcastQ = true,
        entryHint = footerMinVecId(s, Seq(s"${indexRoot(d)}/vectors")))
      // the final state carries its rank (beamLoop, r21): self-exclusion
      // drops at most ONE row per qid, so every post-filter top-K row has
      // stored rank <= K+1 — the pushed-down prefilter shrinks the final
      // re-rank window from the whole visited state to K+1 rows per query
      .where(col("rn") <= ProbeTopK + 1)
      // in-index probes exclude themselves from their own result list
      .where(col("nb") =!= col("qid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nb").asc)))
      .where(col("rn") <= ProbeTopK)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("nb").as("nn"))
      .orderBy("qid", "rn")
  }

  /** FILTERED beam search (round 19, second session — the graph twin of
    * the IVF-PQ pre-filter probe): top-k among same-label vectors. Graphs
    * take the POST-FILTER strategy — routing is unfiltered (dropping
    * off-label vertices from the frontier would disconnect the
    * navigation, exactly why compaction keeps tombstoned nodes routing),
    * and the predicate applies where results are collected (hnswlib's
    * allowed-list filter semantics). The filter sits on the final beam
    * STATE, before ranking, so admissible candidates the beam scored but
    * would have ranked below top-ef still surface; queries whose visited
    * set holds fewer than k same-label vectors return fewer rows — the
    * documented post-filter recall trade (the ef dial buys it back).
    */
  def searchFiltered(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    val vecs = s.read.parquet(s"${indexRoot(d)}/vectors")
    val q = vecs.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val qlab = lab.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"))
    // full visited state (truncate = false): this key's documented
    // post-filter semantics surface admissible candidates the beam scored
    // but ranked BELOW top-ef — truncation would change its answers
    beamLoop(s, s.read.parquet(s"${indexRoot(d)}/lists"), vecs,
        q, BeamRounds, broadcastQ = true, truncate = false,
        entryHint = footerMinVecId(s, Seq(s"${indexRoot(d)}/vectors")))
      .where(col("nb") =!= col("qid"))
      .join(lab.select(col("vec_id").as("nb"), col("label")), Seq("nb"))
      .join(broadcast(qlab), Seq("qid"))
      .where(col("label") === col("qlabel"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nb").asc)))
      .where(col("rn") <= ProbeTopK)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("nb").as("nn"))
      .orderBy("qid", "rn")
  }

  /** Beam search for OUT-OF-INDEX queries (round 18) — the production
    * serving shape: the query batch is NOT a slice of the index. Here the
    * novel vectors are the element-REVERSED embeddings of vec_id <
    * [[ProbeQids]] (a pure permutation: no float arithmetic to mirror, and
    * a reversed random vector is uncorrelated with its source — a genuinely
    * new point in the space). Norms are recomputed on the reversed arrays
    * with the same fold order both engines use. Measured before wiring
    * (numpy + the generated CTE chain checked equal): recall@10 =
    * 0.990/0.970/0.900 at the three SFs, convergence ≤ 9 rounds — the
    * [[NovelBeamRounds]] budget carries margin. No self-exclusion: qid
    * labels a novel query, not the vector with that id.
    */
  def searchNovel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_norm
    ensure(s, d)
    val vecs = s.read.parquet(s"${indexRoot(d)}/vectors")
    val q = vecs.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), reverse(col("embedding")).as("qe"),
        vec_norm(reverse(col("embedding"))).as("qn"))
    beamLoop(s, s.read.parquet(s"${indexRoot(d)}/lists"), vecs,
        q, NovelBeamRounds, broadcastQ = true,
        entryHint = footerMinVecId(s, Seq(s"${indexRoot(d)}/vectors")))
      // no self-exclusion for novel queries, so the stored state rank IS
      // the final ranking — a pushed-down filter replaces the re-rank
      // window outright (beamLoop, r21)
      .where(col("rn") <= ProbeTopK)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("nb").as("nn"))
      .orderBy("qid", "rn")
  }

  /** The DELETE verb on the graph store (VERDICT r18 #3): tombstoned ids
    * persisted under the rule-keyed dir beside the base artifacts. The
    * mid-slice rule tombstones BASE vertices only (delta is the top
    * slice), which is the interesting case: deleted vertices sit on live
    * search paths. Serving keys answer with HNSW's mark-deleted
    * semantics — tombstoned nodes still ROUTE (the beam traverses their
    * lists; dropping them from routing would orphan their neighborhoods
    * until compaction) but are never RETURNED; [[compact]] then removes
    * them physically and re-links around them.
    */
  def delete(s: SparkSession, d: String): DataFrame = {
    ensureBase(s, d)
    val td = tombDir(baseRoot(d))
    Artifact.publish(td, "_TOMB_OK") {
      val emb = Tables.embeddings(s, d)
      val mx = emb.agg(max(col("vec_id")).as("mx"))
      emb.crossJoin(broadcast(mx))
        .where(col("vec_id") * Similarity.DelCutDen > col("mx") * Similarity.DelCutLoNum &&
               col("vec_id") * Similarity.DelCutDen <= col("mx") * Similarity.DelCutHiNum)
        .select("vec_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$td/ids")
    }
    s.read.parquet(s"$td/ids")
      .agg(count(lit(1)).as("n_tombstoned"), sum(col("vec_id")).as("id_sum"))
  }

  /** The merged serving view (VERDICT r18 #1 — "nothing serves the
    * appended artifacts"): lists = base ∪ delta ∪ REVERSED delta. The
    * reversed edges are the on-the-fly back-links the append deliberately
    * deferred (HNSW insert-without-reverse-updates): without them a
    * base-entry beam can provably never REACH a delta vertex — delta
    * vertices have no in-edges — so appended content would be stored but
    * unservable. Deriving them at read time is a projection of the delta
    * lists (no shuffle beyond the beam's own); [[compact]] materializes
    * them permanently.
    */
  private def mergedFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // BOTH markers: buildBase deletes _GANN_OK before overwriting, so a
    // crash mid-rebuild leaves a torn base under an intact delta marker
    // (code-review r19 — the crashed-build contract applies transitively)
    ensureBase(s, d)
    ensureAppend(s, d)
    val root = baseRoot(d)
    val dl = s.read.parquet(s"$root/lists_delta")
    val lists = s.read.parquet(s"$root/lists").select("vec_id", "nb")
      .unionByName(dl.select("vec_id", "nb"))
      .unionByName(dl.select(col("nb").as("vec_id"), col("vec_id").as("nb")))
    val vecs = s.read.parquet(s"$root/vectors")
      .unionByName(s.read.parquet(s"$root/vectors_delta"))
    (lists, vecs)
  }

  /** Beam search over the merged base∪delta view: appended vectors are
    * reachable both as results and as routing nodes. Measured before
    * wiring (the composed CTE prototype): recall@10 = 1.000/1.000/0.960
    * at the three SFs vs the full-corpus exact truth — the base-only
    * search is STRUCTURALLY unable to return the 17-28 delta ids that
    * sit in those exact top-10s, so this key is the difference between
    * an ingested vector existing and it being findable.
    */
  /** One serving pipeline for the merged/deleted/compacted beam keys
    * (code-review r19: three verbatim copies of the rank/cut/select tail
    * would let a tiebreak edit silently fork the serving keys — the
    * probeFrom convention applied to the graph side): in-index probe set
    * from the supplied vectors, beam, self-exclusion, optional tombstone
    * anti-join, top-K.
    */
  private def searchOver(s: SparkSession, lists: DataFrame, vecs: DataFrame,
      tombs: Option[DataFrame], vecDirs: Seq[String]): DataFrame = {
    val q = vecs.where(col("vec_id") < ProbeQids)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    // tombstone-free serving drops at most the self row per qid, so the
    // stored state rank bounds the final top-K at K+1 (the search()
    // prefilter) and the beam spill truncates to top-ef; a tombstone
    // anti-join can drop arbitrarily many ranked rows, so that path keeps
    // and re-ranks the FULL visited state (truncate = false)
    val raw = beamLoop(s, lists, vecs, q, BeamRounds, broadcastQ = true,
      truncate = tombs.isEmpty, entryHint = footerMinVecId(s, vecDirs))
    val state = tombs.fold(raw.where(col("rn") <= ProbeTopK + 1))(_ => raw)
      .where(col("nb") =!= col("qid"))
    tombs.fold(state)(t =>
        state.join(t.withColumnRenamed("vec_id", "nb"), Seq("nb"), "left_anti"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nb").asc)))
      .where(col("rn") <= ProbeTopK)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("nb").as("nn"))
      .orderBy("qid", "rn")
  }

  def searchMerged(s: SparkSession, d: String): DataFrame = {
    val (lists, vecs) = mergedFrames(s, d)
    val root = baseRoot(d)
    searchOver(s, lists, vecs, tombs = None,
      vecDirs = Seq(s"$root/vectors", s"$root/vectors_delta"))
  }

  /** Merged beam with mark-deleted serving: tombstoned ids still route
    * (same beam state as [[searchMerged]]) but are anti-joined out of the
    * final ranking — deleted content is unreturnable the moment the
    * tombstone lands, with zero graph surgery; [[compact]] does the
    * surgery offline. The tombstone frame is corpus-proportional, so it
    * joins keyed (AQE may elect broadcast), never a driver collect.
    */
  def searchDeleted(s: SparkSession, d: String): DataFrame = {
    ensureTomb(s, d)
    val (lists, vecs) = mergedFrames(s, d)
    val root = baseRoot(d)
    searchOver(s, lists, vecs,
      tombs = Some(s.read.parquet(s"${tombDir(root)}/ids")),
      vecDirs = Seq(s"$root/vectors", s"$root/vectors_delta"))
  }

  /** COMPACT (VERDICT r18 #1's second half): fold the delta lists into
    * the base graph, MATERIALIZE the reverse edges the append deferred
    * (the documented back-link debt — "back-links wait for the next full
    * build"; this verb IS that repair, without re-descending the base),
    * and physically drop tombstoned vertices and every edge into them.
    * Each surviving vertex re-ranks its candidate set — own out-edges ∪
    * reverse delta edges — by exact cosine and keeps top NndBuildK; work
    * is O(edges), never a descent round, and every input is an artifact
    * scan. Output: the build-summary triple over the compacted graph
    * (n_mutual now counts the materialized back-links — the symmetry
    * metric compaction exists to raise).
    */
  def compact(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_dot
    compactBuilds.incrementAndGet()
    ensureAppend(s, d)
    ensureTomb(s, d)
    val root = baseRoot(d)
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    val cd = compactDir(root)
    Artifact.publish(cd, "_GANN_COMPACT_OK") {
      val tombs = s.read.parquet(s"${tombDir(root)}/ids")
      val (lists, vecs) = mergedFrames(s, d)
      vecs.join(tombs, Seq("vec_id"), "left_anti").write.mode(ow).parquet(s"$cd/vectors")
      val cv = s.read.parquet(s"$cd/vectors")
      val ce = lists.distinct()
        .join(tombs, Seq("vec_id"), "left_anti")
        .join(tombs.withColumnRenamed("vec_id", "nb"), Seq("nb"), "left_anti")
      ce.join(cv.select(col("vec_id"), col("embedding").as("ae"), col("nrm").as("an")),
          Seq("vec_id"))
        .join(cv.select(col("vec_id").as("nb"), col("embedding").as("be"),
          col("nrm").as("bn")), Seq("nb"))
        .select(col("vec_id"), col("nb"),
          (vec_dot(col("ae"), col("be")) / (col("an") * col("bn"))).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nb").asc)))
        .where(col("rn") <= Similarity.NndBuildK)
        .select(col("vec_id"), col("rn").cast("int").as("rn"), col("nb"))
        .write.mode(ow).parquet(s"$cd/lists")
    }
    val g = s.read.parquet(s"$cd/lists").select("vec_id", "nb")
    g.agg(countDistinct(col("vec_id")).as("n_vectors"),
        count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(
        g.as("a").join(g.as("b"),
            col("a.vec_id") === col("b.nb") && col("a.nb") === col("b.vec_id"))
          .agg(count(lit(1)).as("n_mutual"))))
  }

  /** Beam search over the COMPACTED artifacts only — the post-maintenance
    * serving shape: one lists artifact, back-links materialized,
    * tombstoned vertices gone from routing and results alike. Measured
    * recall@10 = 0.920/0.930/0.890 vs the full-corpus truth (which still
    * counts the deleted ids — the drop IS the deletion working).
    */
  def searchCompacted(s: SparkSession, d: String): DataFrame = {
    ensureCompact(s, d)
    val cd = compactDir(baseRoot(d))
    searchOver(s, s.read.parquet(s"$cd/lists"),
      s.read.parquet(s"$cd/vectors"), tombs = None,
      vecDirs = Seq(s"$cd/vectors"))
  }

  /** The shared batched-frontier loop over the persisted index: takes any
    * (qid, qe, qn) query frame and returns the final visited-scored state
    * (qid, nb, cs, ex). See the sim_ann_graph_search registration for the
    * algorithm story; callers apply their own final ranking/filters.
    */
  /** The index is passed as FRAMES, not a root (round 19: the merged /
    * compacted serving keys beam over unions of artifacts — a root
    * parameter could only name one layout; the r17 review's
    * wrong-graph-silently concern is answered the same way, since every
    * caller names its artifact scans at the call site). `broadcastQ` =
    * true only for the BOUNDED probe sets (10 fixed queries); the append
    * path passes false because its query frame is the delta slice —
    * corpus-proportional, and a forced broadcast would collect it to the
    * driver once per round and hit the broadcast hard limit long before
    * the keyed join would struggle.
    */
  /** The beam's edge projection — one definition so a caller pre-caching
    * the frame (streamIngest's shared-across-segments persist) builds the
    * IDENTICAL logical plan Spark's cache manager will match.
    */
  private def edgeFrame(listsIn: DataFrame): DataFrame =
    listsIn.select(col("vec_id").as("v"), col("nb").as("nb2"))

  /** Loop-control read of a just-written beam spill, from the parquet
    * FOOTERS on the driver — a bounded metadata read (the spill is a
    * handful of small files), zero Spark jobs. Returns whether the
    * frontier is possibly nonempty: the spill carries the next round's
    * frontier membership as the boolean column `fr`, so its row-group
    * MAX statistic answers "is any frontier row left" without scanning —
    * max(fr) = false across every row group ⇔ the frontier is empty.
    * Conservative where parquet statistics are absent (assumes a frontier
    * remains, i.e. no early exit — the exit is an optimization only; the
    * fixed round budget is the semantic bound). Never used on
    * corpus-scale inputs.
    */
  private def frontierLeft(s: SparkSession, path: String): Boolean = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    var frontier = false
    fs.listStatus(p).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try {
          rd.getFooter.getBlocks.forEach { b =>
            if (b.getRowCount > 0) {
              val frCol = b.getColumns.asScala
                .find(_.getPath.toDotString == "fr")
              frCol match {
                case Some(c) =>
                  val stats = c.getStatistics
                  if (stats == null || stats.isEmpty)
                    frontier = true // stats missing: assume a frontier remains
                  else if (stats.genericGetMax
                      .asInstanceOf[java.lang.Boolean].booleanValue())
                    frontier = true
                case None => frontier = true
              }
            }
          }
        } finally rd.close()
      }
    frontier
  }

  /** `truncate = true` (the default) keeps only each query's top-[[BeamEf]]
    * rows in the per-round spill — OPTIMIZATION r21 (guide §2.3, shuffle/
    * spill fewer bytes): the append-scale beams were rewriting a visited
    * state of |delta| × (visited set) rows EVERY round (321k rows at sf0.1
    * by round 12) while late rounds add a handful of rows. Rows below a
    * query's top-ef are dead weight for BOTH consumers of the state:
    * (a) the frontier — ranks only degrade as insertions arrive, so a row
    * outside the top-ef can never re-enter it (the early-exit argument,
    * same monotonicity), and (b) every final cut in the truncating callers
    * reads at most rank K+1 ≤ ef (ingest: NndBuildK = 16; search:
    * ProbeTopK + 1 = 11; novel: ProbeTopK = 10). Dropping them loses only
    * the seen-set entry: a frontier vertex pointing at a forgotten row
    * re-scores it (same deterministic cs) and it re-ranks below ef again —
    * bounded re-work traded for not rewriting the whole visited set per
    * round. Final top-K rows and ranks are IDENTICAL to the full-state
    * loop (induction: the top-ef set, its cs values, and its ex flags
    * match round for round — a row above rank ef in the truncated state
    * would need a row of the full state's top-ef to be absent, and those
    * are exactly the rows truncation keeps). Callers whose final filter
    * can dig ARBITRARILY deep into the ranked state — the tombstone
    * anti-join (searchOver with tombs) and the label post-filter
    * (searchFiltered, whose scaladoc pins "candidates the beam scored but
    * would have ranked below top-ef still surface") — pass
    * `truncate = false` and keep the full visited state.
    */
  /** min(vec_id) across one or more vectors artifacts, read from parquet
    * footer statistics — the beam's deterministic entry point WITHOUT the
    * one-job driver aggregate each beam invocation paid (OPTIMIZATION r21:
    * ~14 beam invocations per bench run, one scan job each; INT64 min/max
    * statistics are exact, so the value is identical). None where any
    * row-bearing block lacks the statistic — the caller falls back to the
    * aggregate. Only valid for UNFILTERED artifact reads (every caller
    * passes the dirs its vecs frame scans in full).
    */
  private def footerMinVecId(s: SparkSession, dirs: Seq[String]): Option[Long] = {
    val conf = s.sparkContext.hadoopConfiguration
    var ok = true
    var best = Long.MaxValue
    var any = false
    dirs.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).iterator
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { st =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          try rd.getFooter.getBlocks.asScala
            .filter(_.getRowCount > 0).foreach { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == "vec_id") match {
                case Some(c) if c.getStatistics != null &&
                    !c.getStatistics.isEmpty =>
                  any = true
                  best = math.min(best,
                    c.getStatistics.genericGetMin
                      .asInstanceOf[java.lang.Long].longValue())
                case _ => ok = false
              }
            }
          finally rd.close()
        }
    }
    if (ok && any) Some(best) else None
  }

  private def beamLoop(s: SparkSession, listsIn: DataFrame, vecs: DataFrame,
      q: DataFrame, rounds: Int, broadcastQ: Boolean,
      manageEdgeCache: Boolean = true, truncate: Boolean = true,
      entryHint: Option[Long] = None,
      edgesIn: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_dot
    // the graph edges are consumed once per round for all `rounds` rounds
    // — cache the projection instead of re-scanning the lists artifact
    // every round (round 20, VERDICT r19 #2: the beam family's constant
    // factors). The frame is index metadata (corpus × K edge rows), the
    // smallest thing in the loop; unpersisted before return (in a finally,
    // so a failed round cannot leak the cache entry). manageEdgeCache =
    // false when the CALLER owns the cache entry: Spark dedupes cached
    // plans, so with two concurrent segment beams the first to finish
    // would otherwise unpersist the shared entry out from under the other
    // (code-review r20 finding 3). manageEdgeCache = true therefore
    // ASSUMES ONE CALLER per lists artifact at a time: two concurrent
    // beams over the same artifact (e.g. concurrent search() calls) would
    // plan-match one cache entry, and the first to finish would evict it
    // under the other. Every caller today runs its beam alone; a
    // concurrent one must own the cache and pass false, as streamIngest's
    // segments do.
    // edgesIn = the caller's ALREADY-PERSISTED edge projection (ADVICE
    // r20: the stream segments previously rebuilt edgeFrame(read(path))
    // and relied on CacheManager plan-dedup to hit the caller's persisted
    // entry — any future plan divergence would silently drop the sharing;
    // passing the frame makes it explicit)
    val lists = edgesIn.getOrElse(edgeFrame(listsIn))
    if (manageEdgeCache) lists.persist()
    try {
      // deterministic entry point — the JVM beam's min vec_id; from the
      // caller's footer hint where available (zero jobs), else a bounded
      // 1-row driver scalar off the persisted vectors
      val entry = entryHint.getOrElse(
        vecs.agg(min(col("vec_id"))).collect()(0).getLong(0))
      def scored(cand: DataFrame): DataFrame =
        cand
          .join(vecs.select(col("vec_id").as("nb"), col("embedding").as("ne"),
            col("nrm").as("nn")), "nb")
          .join(if (broadcastQ) broadcast(q) else q, "qid")
          .select(col("qid"), col("nb"),
            (vec_dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("cs"))
      // OPTIMIZATION r21 (guide §2.4 — two operations keyed the same way
      // share one exchange): the spilled state carries its per-query rank
      // `rn` (row_number over qid by cs DESC, nb ASC), computed INSIDE the
      // state-write job of the round that produced it. The next round's
      // frontier is then a pure pushed-down FILTER on the spill
      // (rn <= ef AND NOT ex) — no second window job, no qid shuffle, no
      // persist/unpersist per round — and the ex-flag update becomes the
      // column expression (ex OR rn <= ef), deleting the per-round
      // flag-update join (a frontier row was by definition an unexpanded
      // top-ef row, so the two forms mark identical rows). Rank values are
      // identical to the old read-side window: same rows, same ordering
      // key, computed one job earlier. Callers whose final ranking is the
      // stored ordering (ingest, novel search) reuse `rn` verbatim instead
      // of re-windowing the final state.
      val rw = Window.partitionBy("qid").orderBy(col("cs").desc, col("nb").asc)
      val init = scored(q.select(col("qid"), lit(entry).as("nb")))
        .withColumn("ex", lit(false))
        // round-0 state is exactly one row per qid — rank 1 by definition,
        // unexpanded, so it IS the next round's frontier
        .withColumn("rn", lit(1))
        .withColumn("fr", lit(true))
      // early-exit control WITHOUT a per-round Spark job (r21): each spill
      // carries the NEXT round's frontier membership as the boolean column
      // fr = (rn <= ef && !ex), so "any frontier row left" is the MAX of
      // fr's parquet row-group statistics — a driver-side metadata read of
      // the just-written local files, zero jobs (the old per-round
      // frontier-emptiness probe was a full scan job, ~0.1 s of the
      // ~0.4 s round floor at sf0.1; the interim row-count exit broke
      // under truncation, where a saturated top-ef state churns content
      // at CONSTANT row count). Exit timing cannot affect results: the
      // skipped rounds are the idempotent tail the fixed-round oracle
      // runs anyway, and no caller reads the ex/fr flags.
      // one beam round as a pure frame transformation — composed
      // [[BeamFuse]] times per materialization (see the constant's note)
      s.read.parquet(Rounds.run(s, "beam", init, rounds, fuse = BeamFuse,
          spillInit = true) { st =>
        // fr was computed at write time as (rn <= BeamEf && !ex) — the
        // frontier is a pushed-down filter on one boolean
        val tx = st.where(col("fr")).select("qid", "nb")
        // ONE exchange per round (OPTIMIZATION r21, guide §2.4 — operations
        // keyed compatibly share one exchange): the old round ran a
        // distinct on the expanded candidates, an anti-join against the
        // visited state, and the rank window — three keyed exchanges, each
        // a serialized AQE stage, on a state of at most |queries| × ef
        // rows; stage-materialization latency, not data, was the round
        // floor. Instead the candidate frame keeps its duplicates, every
        // candidate is scored (cs is a deterministic codegen'd fold, so a
        // re-scored duplicate or already-seen row carries the bit-identical
        // cs), and ONE repartition by qid feeds both the dedup aggregate —
        // hashpartitioning(qid) satisfies ClusteredDistribution(qid, nb) —
        // and the rank window. max(cs) over identical values is that
        // value; max(ex) keeps a seen row's expanded flag (a fresh
        // duplicate arrives ex = false). Scoring work stays ≤ ef·K per
        // query per round — the same bound as the distinct-first form,
        // minus two exchanges.
        val cand = tx.join(lists, col("nb") === col("v"))
          .select(col("qid"), col("nb2").as("nb"))
        // ex || fr ≡ ex || (rn <= BeamEf && !ex) ≡ ex || rn <= BeamEf:
        // exactly the rows the frontier filter just expanded
        val grown = st
          .select(col("qid"), col("nb"), col("cs"),
            (col("ex") || col("fr")).as("ex"))
          .unionAll(scored(cand).withColumn("ex", lit(false)))
          .repartition(col("qid"))
          .groupBy("qid", "nb")
          .agg(max(col("cs")).as("cs"), max(col("ex")).as("ex"))
          .withColumn("rn", row_number().over(rw))
        (if (truncate) grown.where(col("rn") <= BeamEf) else grown)
          .withColumn("fr", !col("ex") && col("rn") <= BeamEf)
      }(r => !frontierLeft(s, r.path)))
    } finally if (manageEdgeCache) lists.unpersist(blocking = false)
  }

  val queries: Map[String, Q] = Map(
    // Always REBUILDS (the ann_index_build convention): the bench times
    // the cold descent+write explicitly, keeping warm-probe timings
    // honestly separated from training.
    "gann_index_build" -> ((s, d) => build(s, d)),
    "sim_ann_graph_probe" -> (probe _),
    "sim_ann_graph_search" -> (search _),
    "sim_ann_graph_search_novel" -> (searchNovel _),
    "gann_index_append" -> (appendGraph _),
    // streaming ingest: the delta as deterministic micro-batches, each a
    // log-structured beam segment; output over the segment union
    "stream_gann_ingest" -> (streamIngest _),
    // index health: in-degree hubs, unreferenced vertices, back-links
    "gann_index_stats" -> (stats _),
    // serving-quality regression: beam recall vs the exact cosine truth
    "gann_recall_eval" -> (recallEval _),
    // round 19 — serving + deletion over the appended index
    "gann_index_delete" -> (delete _),
    "sim_ann_graph_search_merged" -> (searchMerged _),
    "sim_ann_graph_search_deleted" -> (searchDeleted _),
    "gann_index_compact" -> ((s, d) => compact(s, d)),
    "sim_ann_graph_search_compacted" -> (searchCompacted _),
    // round 19 session 2 — generation-2: the compacted artifact as the
    // next cycle's base (append onto it, serve the union)
    "gann_index_append2" -> (appendGen2 _),
    "sim_ann_graph_search_gen2" -> (searchGen2 _),
    // metadata-constrained search (post-filter on the beam state — the
    // graph-family strategy; the IVF-PQ twin pre-filters)
    "sim_ann_graph_search_filtered" -> (searchFiltered _)
  )

  /** The beam loop, serialized: one (tx, nc, sc, beam) CTE quartet per
    * round — tx = the unexpanded top-ef frontier, nc = unseen neighbors of
    * tx via the persisted lists, sc = their exact-cosine scores, beam =
    * the re-flagged visited state. The engine early-exits on an
    * all-expanded frontier; here the full round budget runs and the
    * idempotent tail reproduces the same state (both variants validated
    * against numpy prototypes before wiring). `qCos` scores alias a (the
    * query's SOURCE embedding row, vec_id = qid) against alias b (the
    * candidate row) — the in-index variant reads a.embedding directly,
    * the novel variant derives the query vector from it.
    */
  /** One serialized beam chain with PREFIXED CTE names (round 19: the
    * merged/compacted oracles COMPOSE two beams in one query — the append
    * beam deriving the delta lists, then the serving beam over the merged
    * graph — so each instance's round CTEs need a distinct namespace).
    * Emits `, {p}gg, {p}q, {p}ent, {p}beam0 .. {p}beam{rounds}` (leading
    * comma; the caller supplies WITH and the prior chain).
    */
  private def beamChainCtes(pfx: String, g: String, qCos: String, rounds: Int,
      qCte: String, entSrc: String): String = {
    val sb = new StringBuilder
    sb ++= s", ${pfx}gg AS (SELECT v, nb FROM $g)"
    sb ++= s", ${pfx}q AS ($qCte)"
    sb ++= s", ${pfx}ent AS (SELECT min(vec_id) AS e FROM $entSrc)"
    sb ++= s", ${pfx}beam0 AS MATERIALIZED (SELECT ${pfx}q.qid, ${pfx}ent.e AS nb, " +
      s"$qCos AS cs, FALSE AS ex " +
      s"FROM ${pfx}q CROSS JOIN ${pfx}ent JOIN embeddings a ON a.vec_id = ${pfx}q.qid " +
      s"JOIN embeddings b ON b.vec_id = ${pfx}ent.e)"
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s", ${pfx}tx$r AS MATERIALIZED (SELECT qid, nb FROM " +
        "(SELECT qid, nb, ex, row_number() OVER " +
        s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM ${pfx}beam$p) " +
        s"WHERE rn <= $BeamEf AND NOT ex)"
      sb ++= s", ${pfx}nc$r AS (SELECT DISTINCT t.qid, g.nb FROM ${pfx}tx$r t " +
        s"JOIN ${pfx}gg g ON g.v = t.nb WHERE NOT EXISTS " +
        s"(SELECT 1 FROM ${pfx}beam$p s WHERE s.qid = t.qid AND s.nb = g.nb))"
      sb ++= s", ${pfx}sc$r AS (SELECT nc.qid, nc.nb, $qCos AS cs, FALSE AS ex " +
        s"FROM ${pfx}nc$r nc JOIN embeddings a ON a.vec_id = nc.qid " +
        "JOIN embeddings b ON b.vec_id = nc.nb)"
      sb ++= s", ${pfx}beam$r AS MATERIALIZED (SELECT s.qid, s.nb, s.cs, s.ex OR EXISTS " +
        s"(SELECT 1 FROM ${pfx}tx$r t WHERE t.qid = s.qid AND t.nb = s.nb) AS ex " +
        s"FROM ${pfx}beam$p s UNION ALL SELECT qid, nb, cs, ex FROM ${pfx}sc$r)"
    }
    sb.toString
  }

  private def beamSql(g: String, qCos: String, rounds: Int,
      selfFilter: String,
      chain: String = Similarity.nndChainCtes,
      qCte: String = s"SELECT vec_id AS qid FROM embeddings WHERE vec_id < $ProbeQids",
      entSrc: String = "embeddings",
      topK: Int = ProbeTopK,
      outSel: String = "qid, CAST(rn AS INT) AS rn, nb AS nn",
      ordBy: String = "qid, rn"): String =
    s"WITH $chain" +
      beamChainCtes("", g, qCos, rounds, qCte, entSrc) +
      s" SELECT $outSel FROM " +
      "(SELECT qid, nb, row_number() OVER " +
      s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn " +
      s"FROM beam$rounds $selfFilter) " +
      s"WHERE rn <= $topK ORDER BY $ordBy"

  /** Cosine between alias rows a (query) and b (candidate) — the shared
    * bit-identical fold.
    */
  private def inCosSql: String =
    s"${Similarity.oDot("a", "b")} / " +
    s"(${Similarity.oNorm("a")} * ${Similarity.oNorm("b")})"

  private def probeQCte: String =
    s"SELECT vec_id AS qid FROM embeddings WHERE vec_id < $ProbeQids"

  private def embMaxSql: String = "(SELECT max(vec_id) FROM embeddings)"

  /** The shared merged-view derivation: base slice → NND chain → base
    * graph `bg`; append beam (prefix `a`) → delta lists `dl`; merged
    * graph `mg` = bg ∪ dl ∪ reverse(dl) — the exact frames
    * [[mergedFrames]] unions from the persisted artifacts (validated by
    * the composed-CTE prototype against the exact truth before wiring).
    */
  private def mergedPrefixCtes: String =
    "bemb AS MATERIALIZED (SELECT e.vec_id, e.embedding " +
    "FROM embeddings e, (SELECT max(vec_id) AS mx FROM embeddings) m " +
    s"WHERE e.vec_id * ${Similarity.IncrCutDen} <= m.mx * ${Similarity.IncrCutNum}), " +
    Similarity.nndChainCtesFor("bemb") +
    s", bg AS (SELECT v, nb FROM s${Similarity.NndRounds} " +
    s"WHERE rn <= ${Similarity.NndBuildK})" +
    beamChainCtes("a", "bg", inCosSql, NovelBeamRounds,
      qCte = "SELECT e.vec_id AS qid FROM embeddings e, " +
        "(SELECT max(vec_id) AS mx FROM embeddings) m " +
        s"WHERE e.vec_id * ${Similarity.IncrCutDen} > m.mx * ${Similarity.IncrCutNum}",
      entSrc = "bemb") +
    s", dl AS (SELECT qid AS v, nb FROM (SELECT qid, nb, row_number() OVER " +
    s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM abeam$NovelBeamRounds) " +
    s"WHERE rn <= ${Similarity.NndBuildK})" +
    ", mg AS (SELECT v, nb FROM bg UNION ALL SELECT v, nb FROM dl " +
    "UNION ALL SELECT nb AS v, v AS nb FROM dl)"

  /** Final ranked select over the merged serving beam (prefix `m`). */
  private def mergedFinalSql(extraFilter: String): String =
    " SELECT qid, CAST(rn AS INT) AS rn, nb AS nn FROM " +
    "(SELECT qid, nb, row_number() OVER " +
    s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM mbeam$BeamRounds " +
    s"WHERE nb != qid$extraFilter) " +
    s"WHERE rn <= $ProbeTopK ORDER BY qid, rn"

  /** [[mergedPrefixCtes]] + the tombstone drop + the compacted re-rank:
    * `cg` = per-surviving-vertex top-NndBuildK of (own edges ∪ delta
    * reverse edges) by exact cosine — [[compact]]'s mirror.
    */
  private def compactCtes: String =
    mergedPrefixCtes +
    s", tomb AS (SELECT vec_id FROM embeddings " +
    s"WHERE ${Similarity.tombPredSql("vec_id", embMaxSql)})" +
    ", ce AS (SELECT DISTINCT v, nb FROM mg WHERE v NOT IN (SELECT vec_id FROM tomb) " +
    "AND nb NOT IN (SELECT vec_id FROM tomb))" +
    ", cg AS (SELECT v, nb, rn FROM (SELECT v, nb, row_number() OVER " +
    "(PARTITION BY v ORDER BY cos DESC, nb ASC) AS rn FROM " +
    s"(SELECT ce.v, ce.nb, $inCosSql AS cos " +
    "FROM ce JOIN embeddings a ON a.vec_id = ce.v " +
    "JOIN embeddings b ON b.vec_id = ce.nb)) " +
    s"WHERE rn <= ${Similarity.NndBuildK})"

  /** The NND-built graph as a subquery — shared by every base-graph oracle. */
  private def gSql: String =
    s"(SELECT v, nb FROM s${Similarity.NndRounds} " +
    s"WHERE rn <= ${Similarity.NndBuildK})"

  /** The in-index serving beam's full oracle (the sim_ann_graph_search
    * string) — exposed so consumers that serve FROM the graph index
    * (gann_recall_eval, the ANN-served retrieval fusion) can wrap it
    * verbatim as a CTE: their dense ranking is provably the index's
    * answer, not a re-derivation.
    */
  private[graft] def searchOracleSql: String = beamSql(gSql,
    qCos = s"${Similarity.oDot("a", "b")} / " +
      s"(${Similarity.oNorm("a")} * ${Similarity.oNorm("b")})",
    rounds = BeamRounds, selfFilter = "WHERE nb != qid ")

  val oracles: Map[String, String] = {
    val g = gSql
    // shared by gann_index_append and its streaming twin: (a) the NND
    // chain runs over the base slice `bemb` only, (b) the queries are the
    // DELTA slice, (c) the output is each delta vector's appended
    // top-NndBuildK list
    val gannAppendOracle = beamSql(g,
      qCos = s"${Similarity.oDot("a", "b")} / " +
        s"(${Similarity.oNorm("a")} * ${Similarity.oNorm("b")})",
      rounds = NovelBeamRounds, selfFilter = "",
      chain = "bemb AS MATERIALIZED (SELECT e.vec_id, e.embedding " +
        "FROM embeddings e, (SELECT max(vec_id) AS mx FROM embeddings) m " +
        s"WHERE e.vec_id * ${Similarity.IncrCutDen} <= m.mx * ${Similarity.IncrCutNum}), " +
        Similarity.nndChainCtesFor("bemb"),
      qCte = "SELECT e.vec_id AS qid FROM embeddings e, " +
        "(SELECT max(vec_id) AS mx FROM embeddings) m " +
        s"WHERE e.vec_id * ${Similarity.IncrCutDen} > m.mx * ${Similarity.IncrCutNum}",
      entSrc = "bemb",
      topK = Similarity.NndBuildK,
      outSel = "qid AS vec_id, CAST(rn AS INT) AS rn, nb",
      ordBy = "vec_id, rn")
    val searchOracle = searchOracleSql
    Map(
      "gann_index_build" ->
        (s"WITH ${Similarity.nndChainCtes}, gg AS (SELECT v, nb FROM $g) " +
         "SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_vectors, " +
         "CAST(count(*) AS BIGINT) AS n_edges, " +
         "CAST((SELECT count(*) FROM gg a JOIN gg b " +
         "ON a.v = b.nb AND a.nb = b.v) AS BIGINT) AS n_mutual FROM gg"),

      // the beam loop, serialized: one (tx, nc, sc, b) CTE quartet per
      // round — tx = the unexpanded top-ef frontier, nc = unseen neighbors
      // of tx via the persisted lists, sc = their exact-cosine scores, b =
      // the re-flagged visited state. The engine early-exits on an
      // all-expanded frontier; here the full BeamRounds budget runs and
      // the idempotent tail reproduces the same state (validated against
      // the numpy prototype before wiring).
      "sim_ann_graph_search" -> searchOracle,

      // the serving beam's top-10 (the search oracle verbatim, as a CTE)
      // joined against the exact cosine ranking — integer hits per query
      "gann_recall_eval" ->
        (s"WITH ann AS ($searchOracle), " +
         s"exq AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < $ProbeQids), " +
         "exs AS (SELECT q.qid, e.vec_id AS nn, row_number() OVER (PARTITION BY q.qid " +
         s"ORDER BY ${Similarity.oDotE("e.embedding", "q.embedding")} / " +
         s"(${Similarity.oNormE("e.embedding")} * ${Similarity.oNormE("q.embedding")}) DESC, " +
         "e.vec_id ASC) AS rn " +
         "FROM embeddings e JOIN exq q ON e.vec_id != q.qid), " +
         s"ext AS (SELECT qid, nn FROM exs WHERE rn <= $ProbeTopK), " +
         "hits AS (SELECT x.qid, count(*) AS n_hits FROM ext x " +
         "JOIN ann a ON x.qid = a.qid AND x.nn = a.nn GROUP BY x.qid) " +
         "SELECT q.qid, COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits " +
         "FROM exq q LEFT JOIN hits h ON q.qid = h.qid ORDER BY q.qid"),

      // label post-filter on the final beam state, before ranking — the
      // exact spot the Spark plan filters
      "sim_ann_graph_search_filtered" -> beamSql(g,
        qCos = s"${Similarity.oDot("a", "b")} / " +
          s"(${Similarity.oNorm("a")} * ${Similarity.oNorm("b")})",
        rounds = BeamRounds,
        selfFilter = "WHERE nb != qid AND " +
          "(SELECT label FROM embeddings nbe WHERE nbe.vec_id = nb) = " +
          "(SELECT label FROM embeddings qde WHERE qde.vec_id = qid) "),

      // the novel-query twin: the query vector is list_reverse(a.embedding)
      // — a pure permutation, so no float arithmetic needs mirroring; the
      // reversed array's norm folds in ITS element order on both engines.
      // No self-filter (qid labels a novel query, not vector qid).
      "sim_ann_graph_search_novel" -> {
        val qv = "list_reverse(a.embedding)"
        beamSql(g,
          qCos = s"${Similarity.oDotE(qv, "b.embedding")} / " +
            s"(${Similarity.oNormE(qv)} * ${Similarity.oNorm("b")})",
          rounds = NovelBeamRounds, selfFilter = "")
      },

      // the append oracle: the SAME beam chain, but (a) the NN-descent
      // chain runs over the base slice `bemb` only, (b) the queries are
      // the DELTA slice, (c) the output is each delta vector's appended
      // top-NndBuildK list. The delta's source embedding rows ARE in the
      // embeddings table, and every candidate id is a base id ⊂
      // embeddings, so both cosine joins stay against `embeddings`.
      "gann_index_append" -> gannAppendOracle,
      // micro-batching is invisible in the ingested graph (every delta
      // beam descends base-only): the append oracle verbatim
      "stream_gann_ingest" -> gannAppendOracle,
      // health stats from the same final-graph CTE the build pins
      "gann_index_stats" ->
        (s"WITH ${Similarity.nndChainCtes}, gg AS (SELECT v, nb FROM $g) " +
         "SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_vertices, " +
         "CAST(count(*) AS BIGINT) AS n_edges, " +
         "CAST((SELECT count(*) FROM gg a JOIN gg b " +
         "ON a.v = b.nb AND a.nb = b.v) AS BIGINT) AS n_mutual, " +
         "CAST((SELECT max(ind) FROM (SELECT count(*) AS ind FROM gg GROUP BY nb)) " +
         "AS BIGINT) AS max_in_deg, " +
         "CAST((SELECT count(*) FROM (SELECT DISTINCT v FROM gg) t " +
         "WHERE t.v NOT IN (SELECT nb FROM gg)) AS BIGINT) AS n_unreferenced " +
         "FROM gg"),

      // deterministic-rule audit (count + id checksum)
      "gann_index_delete" -> Similarity.tombAuditOracle,

      // the composed merged-serving oracle: base chain → append beam →
      // merged graph → serving beam — every stage the prototype validated
      // against the exact truth (recall 1.000/1.000/0.960, delta ids
      // present in results at every SF)
      "sim_ann_graph_search_merged" ->
        ("WITH " + mergedPrefixCtes +
         beamChainCtes("m", "mg", inCosSql, BeamRounds, probeQCte, "embeddings") +
         mergedFinalSql("")),

      // mark-deleted serving: same beam state, tombstoned ids filtered at
      // the final ranking — exactly where the Spark plan anti-joins
      "sim_ann_graph_search_deleted" ->
        ("WITH " + mergedPrefixCtes +
         beamChainCtes("m", "mg", inCosSql, BeamRounds, probeQCte, "embeddings") +
         mergedFinalSql(" AND NOT (" +
           Similarity.tombPredSql("nb", embMaxSql) + ")")),

      // compacted-graph summary (n_mutual counts the materialized
      // back-links — the symmetry metric compaction exists to raise)
      "gann_index_compact" ->
        ("WITH " + compactCtes +
         " SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_vectors, " +
         "CAST(count(*) AS BIGINT) AS n_edges, " +
         "CAST((SELECT count(*) FROM cg a JOIN cg b " +
         "ON a.v = b.nb AND a.nb = b.v) AS BIGINT) AS n_mutual FROM cg"),

      // serving beam over the compacted graph (prefix k), entry from the
      // surviving-vertex set
      "sim_ann_graph_search_compacted" ->
        ("WITH " + compactCtes +
         ", cemb AS (SELECT vec_id FROM embeddings WHERE NOT (" +
         Similarity.tombPredSql("vec_id", embMaxSql) + "))" +
         beamChainCtes("k", "(SELECT v, nb FROM cg)", inCosSql, BeamRounds,
           probeQCte, "cemb") +
         " SELECT qid, CAST(rn AS INT) AS rn, nb AS nn FROM " +
         "(SELECT qid, nb, row_number() OVER " +
         s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM kbeam$BeamRounds " +
         "WHERE nb != qid) " +
         s"WHERE rn <= $ProbeTopK ORDER BY qid, rn"),

      // GENERATION-2 ingest oracle: the compacted chain (compactCtes →
      // cg), then the SAME append-beam machinery one generation later —
      // queries are the tombstoned slice re-arriving, the graph is cg,
      // entry from the surviving-vertex set. Both the delta2 queries and
      // every cg candidate id are embeddings rows, so the cosine joins
      // stay against `embeddings`.
      "gann_index_append2" ->
        ("WITH " + compactCtes +
         ", cemb AS (SELECT vec_id FROM embeddings WHERE NOT (" +
         Similarity.tombPredSql("vec_id", embMaxSql) + "))" +
         beamChainCtes("x", "(SELECT v, nb FROM cg)", inCosSql, NovelBeamRounds,
           qCte = "SELECT vec_id AS qid FROM embeddings WHERE " +
             Similarity.tombPredSql("vec_id", embMaxSql),
           entSrc = "cemb") +
         " SELECT qid AS vec_id, CAST(rn AS INT) AS rn, nb FROM " +
         "(SELECT qid, nb, row_number() OVER " +
         s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM xbeam$NovelBeamRounds) " +
         s"WHERE rn <= ${Similarity.NndBuildK} ORDER BY vec_id, rn"),

      // gen-2 serving: compacted chain → gen-2 append beam (prefix x) →
      // gen-2 merged graph (cg ∪ delta2 ∪ reversed delta2) → serving
      // beam (prefix y) — the mergedPrefixCtes composition one
      // generation later
      "sim_ann_graph_search_gen2" ->
        ("WITH " + compactCtes +
         ", cemb AS (SELECT vec_id FROM embeddings WHERE NOT (" +
         Similarity.tombPredSql("vec_id", embMaxSql) + "))" +
         beamChainCtes("x", "(SELECT v, nb FROM cg)", inCosSql, NovelBeamRounds,
           qCte = "SELECT vec_id AS qid FROM embeddings WHERE " +
             Similarity.tombPredSql("vec_id", embMaxSql),
           entSrc = "cemb") +
         // xdl/xmg, not dl2/g2 — the NND chain already owns g1..gN round
         // names (DuckDB rejects the duplicate CTE)
         s", xdl AS (SELECT qid AS v, nb FROM (SELECT qid, nb, row_number() OVER " +
         s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM xbeam$NovelBeamRounds) " +
         s"WHERE rn <= ${Similarity.NndBuildK})" +
         ", xmg AS (SELECT v, nb FROM cg UNION ALL SELECT v, nb FROM xdl " +
         "UNION ALL SELECT nb AS v, v AS nb FROM xdl)" +
         beamChainCtes("y", "(SELECT v, nb FROM xmg)", inCosSql, BeamRounds,
           probeQCte, "cemb") +
         " SELECT qid, CAST(rn AS INT) AS rn, nb AS nn FROM " +
         "(SELECT qid, nb, row_number() OVER " +
         s"(PARTITION BY qid ORDER BY cs DESC, nb ASC) AS rn FROM ybeam$BeamRounds " +
         "WHERE nb != qid) " +
         s"WHERE rn <= $ProbeTopK ORDER BY qid, rn"),

      "sim_ann_graph_probe" ->
        (s"WITH ${Similarity.nndChainCtes}, gg AS (SELECT v, nb FROM $g), " +
         s"q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < $ProbeQids), " +
         "h1 AS (SELECT q.qid, gg.nb FROM q JOIN gg ON gg.v = q.qid), " +
         "h2 AS (SELECT h1.qid, g2.nb FROM h1 JOIN gg g2 ON g2.v = h1.nb), " +
         "cand AS (SELECT DISTINCT qid, nb FROM " +
         "(SELECT qid, nb FROM h1 UNION ALL SELECT qid, nb FROM h2) " +
         "WHERE nb != qid), " +
         "sc AS (SELECT qid, nb, row_number() OVER " +
         "(PARTITION BY qid ORDER BY cos DESC, nb ASC) AS rn FROM " +
         s"(SELECT cand.qid, cand.nb, " +
         s"${Similarity.oDot("a", "b")} / (${Similarity.oNorm("a")} * ${Similarity.oNorm("b")}) AS cos " +
         "FROM cand JOIN embeddings a ON a.vec_id = cand.qid " +
         "JOIN embeddings b ON b.vec_id = cand.nb)) " +
         s"SELECT qid, CAST(rn AS INT) AS rn, nb AS nn FROM sc " +
         s"WHERE rn <= $ProbeTopK ORDER BY qid, rn")
    )
  }
}
