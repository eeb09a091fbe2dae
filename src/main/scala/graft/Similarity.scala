package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Det._
import Tables._

/** Near-duplicate detection and similarity search at scale (SURVEY.md §2.9
  * hard tail + BASELINE.json north-star: MinHash-LSH, SimHash, n-gram
  * Jaccard, embedding cosine — brute-force baseline and LSH-bucketed ANN).
  *
  * Determinism (rule D5): every hash is Spark's seeded xxhash64/murmur3 over
  * column values — no JVM hashCode, no per-partition state, no rand(). The
  * quadratic steps are always *blocked* (LSH band buckets, label blocks,
  * hyperplane buckets) so candidate generation is a hash-join, not a
  * cartesian product: this is what survives 100 TB, where an all-pairs join
  * is impossible. Even float outputs carry SQL oracles where the arithmetic
  * is a fixed left-to-right IEEE fold (cosine/distance via [[oDot]] —
  * bit-identical to the codegen'd vec_dot); only seeded-hash buckets and
  * sketches fall back to scalatest-only verification.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  val NumHashes = 16
  val BandSize = 4
  val NumBands: Int = NumHashes / BandSize
  /** Probe-slice bound for [[dedup_minhash_recall]] — ground truth is exact
    * Jaccard partners of docs below this id (the sim_ann_recall_eval
    * query-set-fixed asymmetry; non-vacuous at sf0.001's 500 docs).
    */
  val MhRecallProbes = 50L
  /** Out-degree of the k-NN graph [[queries sim_ann_graph_knn]] builds —
    * the NSW/HNSW base-layer M. 8 keeps the per-vector list broadcastable
    * KBs at any corpus size; GraphAnnSpec measures beam-search recall
    * over these lists against brute force.
    */
  val GraphAnnM = 8
  /** NN-descent rounds for [[queries sim_ann_graph_nnd]]. Measured on the
    * fixture before wiring, with the round-17 sampled-local-join upgrade
    * (recall@8 vs the exact graph per round: 0.43 / 0.74 / 0.92 / 0.96 —
    * random high-dim embeddings are the family's documented hard case,
    * weak hub structure): 4 rounds clears 0.96. The r16 one-directional
    * N(N(v)) walk measured 0.10/0.31/0.55/0.69 on the same rounds.
    */
  val NndRounds = 4
  /** INTERNAL list width of the NN-descent build — the published quality
    * dial (descent recall is driven by K, and production graph-ANN builds
    * with K > M then prunes: HNSW's efConstruction). Building at 2M and
    * emitting the top M lifted round-4 recall@8 from 0.63 to 0.96 on this
    * fixture (measured before wiring); per-round candidate volume roughly
    * doubles but SHRINKS as the flags converge (100k → 55k rows over the
    * 4 rounds at sf0.001), where the unflagged walk held flat.
    */
  val NndBuildK = 16
  /** Deterministic init offsets (NndBuildK of them): neighbor j of vector
    * v is (v + off_j) mod n — id arithmetic is uncorrelated with embedding
    * geometry, so this is the paper's random init made reproducible. All
    * distinct and < 200 ≤ n at every SF; an off ≡ 0 (mod n) would only
    * self-link, which the candidate stage filters.
    */
  val NndInitOffsets: Seq[Long] = Seq(1L, 3L, 5L, 7L, 11L, 17L, 23L, 37L,
    41L, 59L, 67L, 83L, 101L, 113L, 151L, 173L)
  /** Reverse-neighbor sample size per (vertex, new/old class) in the
    * NN-descent local join — the paper's ρK with ρ = 1/2 (Dong et al.
    * 2011 recommend ρ ∈ [0.5, 1]; 0.5 costs ~half the join volume for
    * ~1 recall point on this fixture, measured before wiring).
    */
  val NndSampleK: Long = NndBuildK / 2
  /** Non-overlapping segment width (tokens) for [[dedup_span_remove]] —
    * the removal granularity. Published exact-substring removal (Lee et
    * al. 2022) uses a suffix-array over the whole corpus; the distributed
    * form trades that for fixed segments: a duplicated run of >= 2*SpanSeg
    * tokens always contains a fully-duplicated aligned segment, so the
    * guarantee degrades gracefully (shorter shared runs may be missed,
    * never spuriously removed — removal requires VERBATIM equality).
    */
  val SpanSeg = 8

  /** Release a persist()ed frame. Safe at any point: lineage stays intact
    * (no localCheckpoint anywhere in this file since round 4 — iterative
    * rounds spill to tmp parquet instead), so a freed frame re-executes
    * correctly, just slower.
    */
  private def free(df: DataFrame): Unit = df.unpersist(blocking = false)

  /** One live release-listener per (session, tag): re-constructing the same
    * operator replaces (and unregisters) the previous listener, so plan-only
    * constructions (ContractSpec schema checks, PlanAudit) cannot
    * accumulate zombie listeners on the session bus — at most one traversal
    * per tag per execution. Values are WeakReferences: a strong listener ref
    * would chain value → listenerManager → session, rooting the weak KEY
    * from its own value and making the WeakHashMap never evict (the
    * anti-pattern Tables.scala's session cache documents). While registered,
    * the session's own listener bus holds the listener strongly — the weak
    * side-table only needs identity for replacement.
    */
  private val releaseListeners = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.HashMap[String, java.lang.ref.WeakReference[
        org.apache.spark.sql.util.QueryExecutionListener]]]())

  /** Release `frames` once the consuming action on `result` completes: a
    * QueryExecutionListener watches for an execution whose analyzed plan
    * contains `result`'s plan (count/collect/write all wrap it), frees the
    * frames, and deregisters itself. This closes the session-lifetime cache
    * retention ADVICE.md flags for labelPropagate's final labels frame and
    * dedup_simhash_pairs — instead of waiting for RDD GC, blocks drop right
    * after the query that needed them. Because every freed frame keeps full
    * lineage (see [[free]]), a SECOND action on the same DataFrame is still
    * correct — it recomputes instead of crashing. A replaced-but-executed
    * construction can leak one bounded frame set (documented trade for a
    * bounded listener bus).
    *
    * Identity matching (`eq` on the analyzed subtree) is belt-and-braces
    * guarded by a release-after-N-executions fallback: if a Spark upgrade
    * ever re-instantiates analyzed subtrees (so the marker never matches),
    * the listener still frees the frames and unregisters itself after
    * [[ReleaseFallbackExecs]] unrelated executions — freeing early is always
    * SAFE (lineage intact, worst case a recompute), so the fallback can only
    * cost performance, never correctness. TextSimilaritySpec pins the
    * observable contract: the persisted-block count returns to its baseline
    * after the consuming action.
    */
  private val ReleaseFallbackExecs = 64

  private[graft] def releaseAfterUse(tag: String, result: DataFrame, frames: Seq[DataFrame]): DataFrame = {
    val s = result.sparkSession
    val marker = result.queryExecution.analyzed
    val lm = s.listenerManager
    val perSession = releaseListeners.computeIfAbsent(
      s, _ => new java.util.HashMap[String, java.lang.ref.WeakReference[
        org.apache.spark.sql.util.QueryExecutionListener]]())
    val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private val execsSeen = new java.util.concurrent.atomic.AtomicInteger(0)
        private def maybe(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          if (qe.analyzed.exists(_ eq marker) ||
              execsSeen.incrementAndGet() >= ReleaseFallbackExecs) {
            frames.foreach(free)
            lm.unregister(this)
            perSession.synchronized {
              val cur = perSession.get(tag)
              if (cur != null && (cur.get() eq this)) perSession.remove(tag)
            }
          }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = maybe(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = maybe(qe)
      }
    perSession.synchronized {
      val prev = perSession.put(tag, new java.lang.ref.WeakReference(listener))
      if (prev != null) {
        val p = prev.get()
        if (p != null) lm.unregister(p)
      }
    }
    lm.register(listener)
    result
  }

  /** Doc-frequency cap for the Jaccard inverted-index self-join: shingles
    * shared by more than this many docs (stop-word boilerplate) are dropped
    * before pairing — one such shingle shared by k docs makes k² candidate
    * rows, the quadratic blow-up any real corpus hits at 100 TB.
    */
  val ShingleDfCap = 64

  // Distance/projection kernels are native codegen expressions
  // (org.apache.spark.sql.graft.VectorDistSq / VectorDotFD) since round 4 —
  // the earlier compiled-UDF forms ran the identical left-to-right fold but
  // paid a per-row conversion/boxing boundary outside whole-stage codegen.

  /** Distinct n-token shingles per doc (default 3 — the near-dup shingle;
    * 8 for decontamination), keyed by the 64-bit xxhash of the shingle
    * STRING, not the string itself: every downstream shuffle, window, and
    * self-join keys on `g`, and an 8-byte long key shuffles/compares ~5×
    * cheaper than a 20–60-char UTF8 string — the representation a 100 TB
    * corpus forces (raw-shingle shuffles are the first thing to die at
    * scale). Join-equality is preserved up to 64-bit collisions: expected
    * spurious matches ≈ pairs/2^64 ≈ 1e-9 at these cardinalities, and the
    * DuckDB oracles compare only doc-id outputs and intersection COUNTS,
    * both hash-invariant. `get()` (null OOB) instead of `toks[i]`:
    * under Spark 4's default ANSI mode a bare index throws
    * INVALID_ARRAY_INDEX for short docs; concat_ws skips the nulls,
    * matching the DuckDB oracle's NULL-skipping concat_ws.
    */
  private def shingles(s: SparkSession, d: String, n: Int = 3): DataFrame = {
    val parts = (0 until n).map(k => s"get(toks, i${if (k == 0) "-1" else s"+${k - 1}"})")
      .mkString(", ")
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)), " +
             s"i -> concat_ws(' ', $parts))")).as("raw"))
      .select(col("doc_id"), xxhash64(col("raw")).as("g"))
      .distinct()
  }

  /** Largest prime below 2^30 — modulus of the portable shingle folds. */
  private val PortP = 1073741789L
  /** Signature-space prime for the portable minhash family. */
  private val SigP = 1000000007L

  /** Portable 60-bit shingle key for the MINHASH path (round 5): two
    * 30-bit polynomial folds of the raw shingle composed as
    * f31 * PortP + f131 — collision odds ~pairs/2^60, same argument as the
    * xxhash64 64-bit key. The Jaccard family keeps xxhash64 (its oracles
    * compare hash-invariant counts only); MinHash's oracle must REPRODUCE
    * the banding itself, so its hash family has to be SQL-expressible.
    */
  private[graft] def portableShingles(s: SparkSession, d: String): DataFrame =
    portableShinglesOf(documents(s, d))

  /** Frame-level form of [[portableShingles]] — over any (doc_id, text)
    * frame, so the recall harness can run the identical shingle pipeline
    * on an ENGINEERED corpus (MinhashRecallSpec) as on the fixture.
    */
  private[graft] def portableShinglesOf(docs: DataFrame): DataFrame = {
    val parts = (0 until 3).map(k => s"get(toks, i${if (k == 0) "-1" else s"+${k - 1}"})")
      .mkString(", ")
    def fold(m: Int) = "aggregate(transform(split(raw, ''), c -> ascii(c)), 0L, " +
      s"(acc, x) -> pmod(acc * $m + x, ${PortP}L))"
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(1, greatest(size(toks) - 2, 1)), " +
             s"i -> concat_ws(' ', $parts))")).as("raw"))
      .select(col("doc_id"),
        expr(s"(${fold(31)}) * ${PortP}L + (${fold(131)})").as("g"))
      .distinct()
  }

  /** Per-row multiplier/offset of the portable minhash family (mod SigP). */
  private def sigA(i: Int): Long = ((2L * i + 1) * 2654435761L) % SigP
  private def sigB(i: Int): Long = (i * 668265263L) % SigP

  /** Hyperplane component k for sim_ann_lsh, in [-1000, 1000]: pure
    * integer multiplicative hash of the (plane, dim) index — computable in
    * plain Scala at plan-build time and embeddable verbatim as literals in
    * the DuckDB oracle (component value = k / 1000.0 on both engines).
    */
  private def planeK(p: Int, j: Int): Long =
    (((p * 64 + j + 1).toLong * 2654435761L) % SigP) % 2001L - 1000L

  /** Product-quantization geometry: PqM subspaces of PqDim dims each
    * (PqM * PqDim = the embedding dim), PqK codewords per subspace — the
    * canonical 256 (one byte per subspace), so a vector's code is 32 bytes
    * vs 256 of raw floats: 8× compression with exhaustive ADC scans as
    * the documented IVF-PQ in-list path at corpus scale. Geometry picked
    * by measured recall@10 on the sf0.1 fixture (uniform random vectors,
    * PQ's worst case): (M=8,K=16) 0.12, (8,256) 0.29, (16,64) 0.43,
    * (16,256) 0.56, (32,256) 0.75 — finer subspaces beat more codes per
    * subspace because unstructured dims share no variance for a coarse
    * codebook to exploit. M=16 → 32 in round 10 (ADVICE r9 #8): the
    * per-candidate ADC work and the per-fixture codebook build double
    * (cold ≈ 10 → 20 s at sf0.1, in the bench cold ledger) for +0.19
    * full-scan recall — the classic M dial traded toward recall; 8×
    * compression still makes the codes table the resident artifact.
    * Round 11 ([[annTrainPredSql]]): training sample-bounded, full-scan
    * recall 0.75 → 0.81 measured at sf0.1 under the sampled codebook.
    */
  private val PqM = 32
  private val PqDim = 2
  private val PqK = 256

  /** Geometry fingerprint for persisted-index roots (AnnIndex): any change
    * to the quantization geometry must invalidate on-disk indexes built
    * under the old one.
    */
  private[graft] def pqGeometryTag: String =
    s"M${PqM}K${PqK}C${IvfPqK}P${IvfPqProbe}S${AnnTrainPermille}L$IvfPqLloydRounds"

  /** IVF-PQ composite geometry (sim_ann_ivfpq): IvfPqK coarse inverted
    * lists, IvfPqProbe probed per query. The coarse metric is L2 — the
    * canonical IVF-PQ formulation (coarse quantizer and ADC then minimize
    * the same squared-error objective), where sim_ann_ivf alone
    * demonstrates the cosine variant. nprobe 4 → 6 in round 10 (ADVICE r9
    * #8): on the uniform-random fixture (no cluster structure) recall
    * tracks the scanned fraction, and 6/16 of the corpus lifts measured
    * composite recall@10 0.44 → 0.49 at sf0.1 (0.62 combined with the
    * M=32 PQ refinement) for ~1.5× the ADC-scan term — at these sf the
    * fixed per-job floor dominates, so the bench number barely moves.
    * nprobe stays the recall/scan dial a real deployment tunes per
    * corpus; sim_ann_ivf keeps nprobe=4 as the 1/4 operating point the
    * two composites were originally compared at. Round 11
    * ([[annTrainPredSql]]): composite recall@10 measures 0.53 under the
    * sample-trained coarse quantizer (0.62 full-corpus-trained) — the
    * cost of placing 16 centroids from 500 of 2000 fixture vectors; at a
    * production 100k-vector sample the placement difference vanishes
    * while the corpus saves the Lloyd assignment pass entirely.
    */
  val IvfPqK = 16
  val IvfPqProbe = 6

  /** nprobe for the LABEL-FILTERED probe (round 19 session 2): a
    * selective filter thins every probed list to ~1/|labels| admissible
    * rows, so the same nprobe sees far fewer usable candidates — the
    * filtered truth scatters across lists the unfiltered probe would
    * never open. Measured at nprobe=6: filtered recall 0.58; at 12: 0.75
    * (sf0.001, vs the label-filtered exact truth; the residual gap is PQ
    * quantization error, the same term the unfiltered probe carries).
    * Oversampling lists under selective filters is the standard
    * filtered-IVF remedy; the dial is label-selectivity-dependent in
    * production (nprobe ≈ base_nprobe / selectivity, capped by latency).
    */
  val IvfPqProbeFiltered = 12

  /** Candidate-pool depth for the REFINED probes (round 19, third
    * session): the ADC ranking keeps this many candidates per query, then
    * re-ranks the pool by EXACT squared L2 against the raw vectors — the
    * published refine step (Jégou et al. 2011 §V "re-ranking with source
    * coding"; the FAISS `IndexRefine` composite). 4× the served k: the
    * pool only has to be deep enough that the true top-10 survives the
    * ADC stage — quantization error reorders neighbors locally, it rarely
    * throws a true neighbor 30 ranks down. At 100 TB the re-rank is a
    * queries×pool id-keyed fetch against the vector store (broadcast the
    * pool, scan-join the vectors) — distance work per query drops from
    * |corpus| to pool, which is why refine ships in every production ANN
    * stack instead of raising nprobe until ADC recall saturates.
    */
  val IvfPqRefinePool = 40

  /** Squared-L2 radius for [[sim_range_search]] (round 19, third
    * session). The fixture's uniform vectors concentrate pairwise
    * distances tightly (min ≈ 1.2, 1% quantile ≈ 1.42, median ≈ 2.0 at
    * every SF — measured via the exact fold), so 1.5 admits roughly the
    * nearest 1–5% of probed candidates: result sets stay non-empty,
    * SELECTIVE, and genuinely variable per query — the contract top-k
    * can't express. Production sets this per collection from the same
    * distance histogram.
    */
  val RangeEpsSq = 1.5

  /** Deterministic training-sample rule for the quantizer builds (VERDICT
    * r10 #2): PQ codebooks and the IVF-PQ coarse centroids train — seeds
    * AND the Lloyd refinement pass — on the multiplicative-hash sample
    * `(vec_id * φ) % 1000 < 250` (the sample_hash_split rule with the
    * Knuth multiplier, 25% of the corpus), then assign the FULL corpus
    * exactly once. Nobody runs a k-means pass over 100 TB to place 256
    * codewords: a bounded sample fixes the geometry and the corpus only
    * pays the single assign scan. The rule is a pure-integer predicate so
    * the DuckDB oracles interpolate the identical expression
    * ([[pqLegCtes]]/[[ivfPqCoarseCtes]]), keeping the whole trained index
    * under the driver's hash gate; at fixture scale 25% of sf0.1 = 500
    * vectors still covers the PqK=256 seed ranks. Geometry-affecting, so
    * it rides [[pqGeometryTag]] via AnnTrainPermille.
    */
  private val AnnTrainPermille = 250
  private[graft] def annTrainPredSql: String =
    s"((vec_id % $SigP) * 2654435761) % 1000 < $AnnTrainPermille"

  /** Lloyd rounds for the IVF-PQ coarse quantizer — each round is one
    * assign + exact-decimal means over the TRAINING SAMPLE only, so extra
    * rounds cost O(sample), never a corpus scan. Measured at sf0.1
    * (round 11): rounds=2 DROPPED composite recall@10 0.53 → 0.50 — on
    * uniform random vectors (no cluster structure) extra Lloyd rounds
    * only jitter the centroids, they cannot grow the probed fraction
    * that recall tracks, so 1 round stays the operating point.
    * Geometry-affecting (rides [[pqGeometryTag]]).
    */
  private[graft] val IvfPqLloydRounds = 1

  /** Multi-probe masks: all 8-bit patterns with <= 3 bits set (93).
    * Hamming radius 2 → 3 in round 6 (VERDICT r5 #7): measured recall@10
    * on the sf0.1 fixture rises 0.50 → 0.69 (fully deterministic — the
    * buckets are seeded integer hyperplanes), letting AnnRecallSpec pin a
    * 0.6 floor. Probe count is the recall/scan knob: radius 3 probes 93 of
    * 256 buckets on THIS fixture's uniform random vectors (the LSH
    * worst case — real embedding corpora cluster, concentrating true
    * neighbors in near buckets); at a larger corpus the same recall needs
    * more planes (buckets scale 2^planes, scanned fraction shrinks
    * accordingly) — planes, not radius, is the scale dial.
    */
  private val ProbeMasks: Seq[Long] =
    (0 until 256).filter(m => Integer.bitCount(m) <= 3).map(_.toLong)

  /** MinHash signatures: h_i(doc) = min over shingles of the affine
    * portable hash ((g mod SigP) * A_i + B_i) mod SigP — every operand a
    * non-negative int64, bit-identical in DuckDB (round 5; previously
    * xxhash64(i, g), which had no SQL form). Since round 11 this
    * relational form (a NumHashes-column min aggregate over the megarow
    * shingle frame) is the spec REFERENCE; the index build uses
    * [[minhashSigsFused]] — min over a multiset equals min over its
    * distinct set, so one fused pass per doc replaces the aggregate and
    * its exchange entirely.
    */
  private[graft] def minhashSigs(sh: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(i =>
      min(expr(s"pmod(pmod(g, ${SigP}L) * ${sigA(i)}L + ${sigB(i)}L, ${SigP}L)")).as(s"h$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The fused one-pass signature frame (doc_id, h0..h15) over any
    * (doc_id, text) frame — `minhash_sigs` (TextSignatures.scala) with
    * this family's constants; spec-pinned equal to [[minhashSigs]] over
    * [[portableShingles]].
    */
  private[graft] def minhashSigsFused(docs: DataFrame): DataFrame = {
    val params = Seq(NumHashes.toLong, PortP, SigP) ++
      (0 until NumHashes).flatMap(i => Seq(sigA(i), sigB(i)))
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TextSignatures.minhash_sigs(
          col("text"), typedLit(params)).as("hs"))
      .where(col("hs").isNotNull)
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        element_at(col("hs"), i + 1).as(s"h$i")): _*)
  }

  /** Per-(process, fixture) spill of the distinct-shingle frame and its
    * band index — the STANDING MinHash index the incremental-dedup doc
    * describes for 100 TB, realized in-process (r8): computed once per
    * corpus, reused by every minhash consumer (dedup_near_minhash,
    * dedup_cluster_cc, dedup_incremental_minhash) instead of re-deriving
    * ~1M shingle rows per query. Fingerprint-keyed like the ANN index
    * caches; deterministic content, so memoization cannot change any
    * result. (An earlier round measured PERSIST of the shingle frame
    * slower — caching broke pipelining and carried the full logical plan;
    * the parquet spill has neither problem.)
    */
  private def minhashIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (shPath, bandsPath) = Artifact.memo("mh_index", Sources.fixtureKey(d, "documents")) {
      val ow = org.apache.spark.sql.SaveMode.Overwrite
      val shP = Sources.tmpUnique("mh_shingles")
      val bandP = Sources.tmpUnique("mh_bands")
      portableShingles(s, d).write.mode(ow).parquet(shP)
      // bands from the FUSED one-pass signatures (round 11) — the shingle
      // spill above stays the verification side's standing artifact, but
      // the signature/band build no longer aggregates over it
      minhashBands(minhashSigsFused(
        documents(s, d).select("doc_id", "text"))).write.mode(ow).parquet(bandP)
      (shP, bandP)
    }
    (s.read.parquet(shPath), s.read.parquet(bandsPath))
  }

  /** Per-fixture fingerprint index spill: (doc_id, fp, isd) where fp is the
    * portable text fingerprint and isd the id-cutoff delta flag — the
    * in-process stand-in for the persisted exact-dedup index a 100 TB
    * deployment maintains ([[Streaming.fingerprintDedupStream]] is its
    * continuous writer). Folding the delta flag in at build time means
    * consumers never re-join the 1-row max-id frame (no BNLJ in their
    * plans) and the corpus text is scanned exactly once per fixture.
    * Same fingerprint-keyed deterministic-spill pattern as
    * [[minhashIndex]]; keyed by [[Sources.fixtureKey]].
    */
  private def fpIndex(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s, Sources.fixtureKey(d, "documents"), "fp_index") {
      documents(s, d)
        .select(col("doc_id"), TextOps.polyFingerprint(col("text")).as("fp"))
        .crossJoin(incrMaxId(s, d))
        .withColumn("isd", incrIsDelta)
        .drop("mx")
    }

  /** The 8-token shingle frame as a fixture-keyed standing artifact
    * (round 9): decontamination re-runs per eval-set refresh, so the
    * corpus shingle index must not be re-derived each time. Shared by
    * text_decontaminate and pipeline_pretrain_full (round 11).
    */
  private[graft] def sh8Index(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s,
      Sources.fixtureKey(d, "documents") + ":sh8", "sh8")(shingles(s, d, 8))

  /** LSH band buckets → verified candidate pairs (exact Jaccard >= t),
    * reading the memoized shingle/band index. Since round 9 the VERIFIED
    * pair frame itself is a fingerprint-keyed parquet spill (VERDICT r8
    * #2 — "extend the memoization one level up"): its consumers
    * (dedup_near_minhash, dedup_split_leakage, dedup_cluster_cc and the
    * specs) share one banding+verification pass per fixture, and
    * labelPropagate callers get a bare-file-scan edge
    * source (durableEdges) instead of re-running the candidate pipeline
    * every round. At 100 TB this spill IS the persisted near-dup pair
    * table a production pipeline maintains next to its band index.
    */
  /** Recall harness over an ARBITRARY (doc_id, text) frame: exact-Jaccard
    * truth pairs (≥ threshold, from the same portable shingle pipeline the
    * index uses) left-joined against the banded candidate pairs — one row
    * per TRUE pair with its found flag. The engineered-corpus entry point
    * (VERDICT r15 #5): the fixture's own near-dup population happens to
    * collide in every band (recall 1.0 — a vacuous measurement), so
    * MinhashRecallSpec feeds this a synthetic corpus of 0.8 ≤ s < 1 pairs
    * where the 4×4 S-curve predicts real misses, and checks the measured
    * miss rate against 1-(1-s^r)^b. Candidates (not verified pairs) are
    * the found side: a true pair that collides always survives exact-
    * Jaccard verification, so truth ∩ candidates = truth ∩ verified.
    */
  /** NN-descent graph build (see the sim_ann_graph_nnd registration for
    * the algorithm story): returns (vec_id, rn, nb) after `rounds`
    * iterations, memoized per (fixture, rounds). The contiguity require
    * makes the id-arithmetic init's contract loud (ProfScale replicas
    * keep 0..k·n-1 contiguous by construction). Each round reads the
    * previous round's parquet spill — the pagerank/BPE loop pattern: a
    * bounded 3-column frame per round, never a growing lineage.
    *
    * Round 17 (VERDICT r16 #5) upgraded the candidate generation from the
    * one-directional N(N(v)) walk to the paper's SAMPLED LOCAL JOIN with
    * incremental flags (Dong et al. 2011 §2.3): per vertex v, the join
    * set B(v) = direct neighbors ∪ a deterministic ρK-sample of REVERSE
    * neighbors, split by the `new` flag (edge entered the list last
    * round); candidate pairs are new×new and new×old members of B(v),
    * emitted in both directions — v's neighbors are introduced to EACH
    * OTHER, the insight that makes descent converge (measured here:
    * round-4 recall 0.69 → 0.87) — and pairs with two old members are
    * skipped entirely, the incremental cut that keeps late rounds cheap
    * as the graph converges (measured: round-4 candidate volume 107k vs
    * 149k unsampled). The reverse sample ranks by the shared
    * [[Det.mhash]] of the edge key (nb·131071 + v) — deterministic,
    * oracle-mirrorable, uncorrelated with geometry — keeping ≤
    * [[NndSampleK]] = ρ·M per (vertex, flag class) with ρ = 1/2, the
    * paper's default.
    */
  private[graft] def nndGraphFrame(s: SparkSession, d: String, rounds: Int): DataFrame =
    nndGraphFrameOf(s, d, rounds, "", embeddings(s, d))

  /** [[nndGraphFrame]] over an ARBITRARY (vec_id, embedding) frame —
    * round 18: the incremental graph-index story needs a BASE-slice
    * build (gann_index_append searches delta vectors against a graph
    * over the base vectors only). `tag` keys the memo per source.
    */
  private[graft] def nndGraphFrameOf(s: SparkSession, d: String, rounds: Int,
      tag: String, src: DataFrame): DataFrame =
    Sources.memoSpill(s,
        Sources.fixtureKey(d, "embeddings") + s":nnd2$tag:$rounds:$GraphAnnM", "nnd") {
      import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
      val ow = org.apache.spark.sql.SaveMode.Overwrite
      val e = src.select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      val st = e.agg(min(col("vec_id")), max(col("vec_id")), count(lit(1))).collect()(0)
      val n = st.getLong(2)
      require(st.getLong(0) == 0L && st.getLong(1) == n - 1,
        s"NN-descent id-arithmetic init needs contiguous vec_ids 0..n-1 " +
          s"(got min=${st.getLong(0)} max=${st.getLong(1)} n=$n)")
      val ea = e.select(col("vec_id").as("v"), col("embedding").as("ev"), col("nrm").as("nv"))
      val eb = e.select(col("vec_id").as("nb"), col("embedding").as("en"), col("nrm").as("nn"))
      var curPath = Sources.tmpUnique("nnd_r0")
      e.select(col("vec_id").as("v"), explode(lit(NndInitOffsets.toArray)).as("off"))
        .select(col("v"), pmod(col("v") + col("off"), lit(n)).as("nb"),
          lit(true).as("new"))
        .write.mode(ow).parquet(curPath)
      for (r <- 1 to rounds) {
        val cur = s.read.parquet(curPath).select("v", "nb", "new")
        // reverse neighbors, deterministically sampled to NndSampleK per
        // (vertex, flag class) — the paper's ρ-sampling made reproducible
        val rs = cur.select(col("nb").as("v"), col("v").as("nb"), col("new"))
          .withColumn("srn", row_number().over(
            Window.partitionBy("v", "new").orderBy(
              Det.mhash(col("nb") * lit(131071L) + col("v"), 1000000007L).asc,
              col("nb").asc)))
          .where(col("srn") <= NndSampleK).drop("srn")
        val bn = cur.where(col("new")).select("v", "nb")
          .union(rs.where(col("new")).select("v", "nb")).distinct()
        val bo = cur.where(!col("new")).select("v", "nb")
          .union(rs.where(!col("new")).select("v", "nb")).distinct()
        // local join: members of B(v) become candidates OF EACH OTHER —
        // new×new both directions via the ordered self-join, new×old
        // explicitly both ways; old×old pairs were joined in an earlier
        // round (the incremental cut)
        val pairsNN = bn.as("x").join(bn.as("y"),
            col("x.v") === col("y.v") && col("x.nb") =!= col("y.nb"))
          .select(col("x.nb").as("v"), col("y.nb").as("nb"))
        val no = bn.as("x").join(bo.as("y"),
            col("x.v") === col("y.v") && col("x.nb") =!= col("y.nb"))
        val cand = pairsNN
          .unionAll(no.select(col("x.nb").as("v"), col("y.nb").as("nb")))
          .unionAll(no.select(col("y.nb").as("v"), col("x.nb").as("nb")))
          .unionAll(cur.select("v", "nb"))
          .where(col("v") =!= col("nb")).distinct()
        val ranked = cand.join(ea, "v").join(eb, "nb")
          .select(col("v"), col("nb"),
            (vec_dot(col("ev"), col("en")) / (col("nv") * col("nn"))).as("cos"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("v").orderBy(col("cos").desc, col("nb").asc)))
          .where(col("rn") <= NndBuildK)
        val next = ranked.select("v", "rn", "nb")
          .join(cur.select(col("v"), col("nb"), lit(true).as("seen")),
            Seq("v", "nb"), "left")
          .select(col("v"), col("rn"), col("nb"),
            col("seen").isNull.as("new"))
        val p = Sources.tmpUnique(s"nnd_r$r")
        next.write.mode(ow).parquet(p)
        curPath = p
      }
      s.read.parquet(curPath)
        .select(col("v").as("vec_id"), col("rn"), col("nb"))
    }

  private[graft] def minhashRecallOf(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = portableShinglesOf(docs)
    val bands = minhashBands(minhashSigsFused(docs.select("doc_id", "text")))
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "sig"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    // truth = exact-Jaccard verification of every shingle-sharing pair,
    // through the SAME verifiedPairs kernel the dedup family uses — one
    // definition site for the threshold arithmetic (code-review r16: the
    // previous inline copy could drift from a future fixed-point change
    // and silently skew measured recall)
    val sharedPairs = sh.select(col("doc_id").as("da"), col("g"))
      .join(sh.select(col("doc_id").as("db"), col("g")), "g")
      .where(col("da") < col("db"))
      .select("da", "db").distinct()
    verifiedPairs(sh, sharedPairs, threshold)
      .join(cand.withColumn("hit", lit(1L)), Seq("da", "db"), "left")
      .select(col("da"), col("db"), col("inter"), col("uni"),
        coalesce(col("hit"), lit(0L)).as("found"))
  }

  def minhashCandidates(s: SparkSession, d: String, threshold: Double): DataFrame =
    Sources.memoSpill(s,
        Sources.fixtureKey(d, "documents") + s":mh_pairs:$threshold", "mh_pairs") {
      val (sh, bands) = minhashIndex(s, d)
      val cand = bands.as("x").join(bands.as("y"), Seq("band", "sig"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct()
      verifiedPairs(sh, cand, threshold)
    }

  /** Band-bucket frame (doc_id, band, sig) from a signature frame
    * (doc_id, h0..h15). Band key: an integer fold of the band's 4 sigs
    * (h*31-chained, max ~3e13 — no modulus needed) instead of xxhash64
    * over the columns, so the oracle reproduces the buckets exactly.
    */
  private def minhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until NumBands).map { b =>
        val cols = (b * BandSize until (b + 1) * BandSize).map(i => s"h$i")
        expr(cols.tail.foldLeft(cols.head)((acc, h) => s"($acc * 31 + $h)"))
      }: _*)).as(Seq("band", "sig")))

  /** Verify candidate pairs with exact Jaccard over shingle sets (integer
    * cross-multiplication — no float division in the predicate).
    * Equi-join on the composite (db, g) key: the matcher hash-joins directly
    * to intersection rows instead of fanning out |sh(da)|×|sh(db)| per pair.
    */
  private def verifiedPairs(sh: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.withColumnRenamed("doc_id", "da"), "da")
      .join(sh.select(col("doc_id").as("db"), col("g")), Seq("db", "g"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    val thrNum = math.round(threshold * 1000000).toInt
    inter
      .join(sz.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sz.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .where(col("inter") * 1000000L >= (col("na") + col("nb") - col("inter")) * thrNum)
      .select(col("da"), col("db"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
  }

  /** Delta-batch selector for dedup_incremental_minhash: documents in the
    * TOP ~20% of the id range (doc_id · IncrCutDen > max(doc_id) · IncrCutNum,
    * integer cross-multiplication — no division) form the "new ingest
    * batch", the rest the existing corpus. An id CUTOFF — not a modulus —
    * so id order matches arrival order by construction: every base id is
    * below every delta id, and "the pair's higher id is the delta doc"
    * (the asymmetric probe's pruning predicate) is structurally true for
    * every base↔delta pair. A modulus rule scattered "new" docs across the
    * id range and silently dropped base-partner pairs whose base id was
    * higher (ADVICE r7). A derivation rule (not a stored flag) so it is
    * interpolated identically into query, oracle and spec.
    */
  val IncrCutNum = 8
  val IncrCutDen = 10

  /** Tombstone selector for the index-level DELETE verb (VERDICT r18 #3):
    * ids in the MID-SLICE (40%, 45%] of the id range —
    * mx·DelCutLoNum < vec_id·DelCutDen ≤ mx·DelCutHiNum, integer
    * cross-multiplication like [[IncrCutNum]]. Mid-slice by design: it
    * never intersects the probe query set (ids 0..9) nor the append delta
    * (top 20%), so delete composes with append in one lifecycle, and the
    * slice is non-vacuous at every SF (25/25/100 ids; measured, and the
    * probes' pre-delete results contain slice members at all three SFs —
    * the "present before, absent after" pin cannot pass vacuously). A
    * derivation rule, not a stored list, so query/oracle/spec interpolate
    * the same predicate — production would feed an explicit GDPR id list
    * through the identical anti-join.
    */
  val DelCutLoNum = 8
  val DelCutHiNum = 9
  val DelCutDen = 20

  /** Directory tag folding every tombstone dial — artifacts derived from
    * the delete rule live under rule-keyed paths, so a dial retune can
    * never serve stale tombstones/compactions (the persisted-store keying
    * rule the r17/r18 reviews enforced).
    */
  private[graft] def delTag: String = s"${DelCutLoNum}_${DelCutHiNum}_$DelCutDen"

  /** The cut-rule slice of the embeddings table against its own max id —
    * ONE derivation site (ADVICE r19: the crossJoin(max)/cut shape lived
    * at three sites across the two index families) for every cut-rule
    * batch: one max scalar, broadcast, integer cross-multiplied predicate
    * on (vec_id, mx).
    */
  private[graft] def embCutSlice(s: SparkSession, d: String,
      cut: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val mx = emb.agg(max(col("vec_id")).as("mx"))
    emb.crossJoin(broadcast(mx)).where(cut(col("vec_id"), col("mx")))
      .select(col("vec_id"), col("embedding"))
  }

  /** The arrival-order append delta (the IncrCut contract) — shared by
    * BOTH families' append and streaming-ingest forms, so no ingest form
    * can fork on the cut rule.
    */
  private[graft] def incrDeltaSlice(s: SparkSession, d: String): DataFrame =
    embCutSlice(s, d, (vid, mx) => vid * IncrCutDen > mx * IncrCutNum)

  /** The tombstone-slice batch (the DelCut rule) — the deterministic
    * gen-2 re-ingest arrival both families use.
    */
  private[graft] def delCutSlice(s: SparkSession, d: String): DataFrame =
    embCutSlice(s, d, (vid, mx) =>
      vid * DelCutDen > mx * DelCutLoNum && vid * DelCutDen <= mx * DelCutHiNum)

  /** The tombstone predicate over DuckDB column expression `c`, with `mx`
    * the max-id scalar subquery/CTE reference supplied by the caller.
    */
  private[graft] def tombPredSql(c: String, mx: String): String =
    s"$c * $DelCutDen > $mx * $DelCutLoNum AND $c * $DelCutDen <= $mx * $DelCutHiNum"

  /** 1-row broadcast frame (mx = max doc_id) anchoring the delta cutoff. */
  private def incrMaxId(s: SparkSession, d: String): DataFrame =
    broadcast(documents(s, d).agg(max("doc_id").as("mx")))

  /** Delta predicate over a frame carrying doc_id and the broadcast mx. */
  private def incrIsDelta: Column =
    col("doc_id") * IncrCutDen > col("mx") * IncrCutNum

  /** Base-side IncrCut predicate: id `vid` is in the standing corpus (at or
    * below the cut against max id `mx`), the complement of the delta.
    */
  private[graft] def incrIsBase(vid: Column, mx: Column): Column =
    vid * IncrCutDen <= mx * IncrCutNum

  /** Asymmetric MinHash candidates for incremental ingest: only pairs whose
    * HIGHER doc_id (= later arrival, guaranteed by the cutoff rule) is a
    * delta doc. The band join probes delta bands against ALL bands instead
    * of all-vs-all — candidate work is proportional to |delta| × bucket
    * occupancy, NOT |corpus|², which is the entire scale point of
    * incremental dedup: the standing corpus is never re-paired against
    * itself. At 100 TB the bands frame of the base corpus is a persisted
    * index keyed (band, sig); each ingest batch computes its own bands and
    * hash-joins in.
    */
  private def minhashCandidatesDelta(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    // like [[minhashCandidates]], the VERIFIED delta pair frame is a
    // fixture-keyed spill (round 9): the day's-ingest pair table is itself
    // a persisted artifact — dedup_incremental_minhash and
    // dedup_cluster_incremental share one probe+verification pass
    Sources.memoSpill(s,
        Sources.fixtureKey(d, "documents") + s":mh_pairs_delta:$threshold",
        "mh_pairs_delta") {
      val (sh, bands) = minhashIndex(s, d)
      val deltaBands = bands.crossJoin(incrMaxId(s, d))
        .where(incrIsDelta).drop("mx")
      val cand = bands.as("x").join(deltaBands.as("y"), Seq("band", "sig"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct()
      verifiedPairs(sh, cand, threshold)
    }

  /** Connected components by iterative min-label propagation over an
    * undirected pair graph (da < db rows). CC state is O(edges), not
    * O(corpus): only edge-endpoint nodes can ever change label, so the
    * iterated frame holds just those nodes; the (vast) isolated majority
    * joins back at the end with cluster_id = doc_id. Each iteration is one
    * join+groupBy over the tiny endpoint frame; min-label propagation needs
    * O(diameter) rounds, so the loop runs to CONVERGENCE (changed == 0) —
    * a premature cap would silently mislabel long chains, and the
    * dedup_cluster_jaccard oracle is an exact transitive closure. The 1024
    * bound is a runaway guard only (a diameter that large means the pair
    * graph is degenerate), far above any real near-dup chain.
    * Every 3rd round spills to tmp parquet (durable lineage flattening —
    * see the loop body; plan size, not data, is the iterative cost once
    * state is small). The driver-side loop is control flow only (a
    * convergence count). The final labels frame stays cached until the
    * consuming action runs, then a QueryExecutionListener releases it
    * (releaseAfterUse) — no session-lifetime retention, and re-executing
    * the returned frame is always correct (recompute, never a stranded
    * truncated lineage).
    */
  /** Per-round wall-time telemetry switch (ADVICE r7: unconditional stderr
    * from library code pollutes consumers) — Bench turns it on;
    * production callers inherit silence.
    */
  private def ccVerbose: Boolean = java.lang.Boolean.getBoolean("graft.cc.verbose")

  /** Propagation steps fused into each labelPropagate round (write job).
    * 2 measured best at sf0.1: depth 3 cut graph_cc to 3 rounds but the
    * deeper per-round plan (3 edges joins + 3 aggregations + 3 self-joins)
    * cost MORE than the saved round on every fixture graph (graph_cc
    * 3.4→4.9 s, cluster_jaccard 4.3→7.3 s) — per-round cost grows faster
    * than linearly with fuse depth once the write job carries that many
    * exchanges.
    */
  val CcFuse = 2

  /** Mirrored-edge count at or below which connected components solve
    * DRIVER-SIDE (one bounded collect + union-find) instead of the
    * distributed label-propagation loop. This is the standard two-regime
    * CC design (the published MapReduce CC algorithms — Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" — all finish small
    * residual graphs locally): each loop round costs a fixed ~0.6-1 s
    * write-job floor REGARDLESS of frame size, so a 4-round convergence
    * on a 10k-edge graph pays ~3.5 s of pure scheduling for milliseconds
    * of actual work, while a 1M-edge collect is ~16 MB of longs — far
    * under any driver budget. Result is bit-identical by construction:
    * both regimes assign every node the MIN doc_id of its component. At
    * 100 TB the cap is a constant: real corpus graphs exceed it and take
    * the loop; what the cap removes is the fixed-cost regime where the
    * loop is pure overhead. `-Dgraft.cc.forceLoop=true` disables the
    * local path (specs pin local == loop; ProfScale can measure the
    * distributed path explicitly).
    */
  val CcLocalEdgeCap = 1000000

  private[graft] def ccForceLoop: Boolean =
    java.lang.Boolean.getBoolean("graft.cc.forceLoop")

  /** Driver union-find over a bounded edge list: path-halving find, then
    * one pass mapping every node to the min id of its component.
    */
  private def unionFindMinLabels(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = scala.collection.mutable.HashSet[Long]()
    edges.foreach { case (a, b) => nodes += a; nodes += b }
    val minOf = scala.collection.mutable.HashMap[Long, Long]()
    nodes.foreach { n =>
      val r = find(n)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), n)
    }
    nodes.toSeq.map(n => (n, minOf(find(n))))
  }

  private[graft] def labelPropagate(docs: DataFrame, pairs: DataFrame,
      tag: String = "labelPropagate", durableEdges: Boolean = false): DataFrame = {
    // Both edge directions in ONE pipeline pass: explode a 2-element array
    // of (da,db)/(db,da) structs. The previous mirror-union ran the whole
    // candidate pipeline as two branches (ReusedExchange shares shuffles
    // but not the scan/codegen stages) — measured ~4 s extra on
    // cluster_cc at sf0.1; the explode halves edge materialization cost.
    // durableEdges (VERDICT r7 #5): when the caller's pair frame is already
    // a parquet spill — graph_connected_components' edge table, and since
    // round 9 ALL the dedup clusterings via the memoized verified-pair
    // spills ([[minhashCandidates]]/[[jaccardPairs]]/phashPairs) — the
    // explode over the file scan is cheap, re-runnable, and its logical
    // plan is tiny: use it directly. Any OTHER pair source spills to
    // parquet instead of persisting: a cached frame still carries the full
    // candidate-pipeline LOGICAL plan, and every round's
    // analysis/optimization re-walks it per edges reference (measured ~2 s
    // of pure planning per round at sf0.1); the spill truncates lineage so
    // rounds plan against a bare parquet scan, and doubles as the durable
    // materialization the old persist+count pair provided.
    val mirrored = pairs
      .select(explode(array(
        struct(col("da"), col("db")),
        struct(col("db").as("da"), col("da").as("db")))).as("e"))
      .select(col("e.da").as("da"), col("e.db").as("db"))
    val edges =
      if (durableEdges) mirrored
      else {
        val p = Sources.tmpUnique("cc_edges")
        mirrored.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
        docs.sparkSession.read.parquet(p)
      }
    // Two-regime gate (round 15): probe the edge frame with a bounded
    // limit-collect (for the non-durable case the spill above already
    // truncated lineage, so the probe is a cheap parquet read either way);
    // at or under [[CcLocalEdgeCap]] solve driver-side — identical labels,
    // none of the loop's per-round write-job floor.
    if (!ccForceLoop) {
      val head = edges.limit(CcLocalEdgeCap + 1).collect()
      if (head.length <= CcLocalEdgeCap) {
        if (ccVerbose) System.err.println(
          s"[labelPropagate] $tag: local union-find over ${head.length} mirrored edges")
        val lbls = unionFindMinLabels(head.map(r => (r.getLong(0), r.getLong(1))))
        import docs.sparkSession.implicits._
        return docs.select(col("doc_id"))
          .join(broadcast(lbls.toDF("doc_id", "cluster_id")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
          .orderBy("doc_id")
      }
    }
    var changed = 1L
    var iter = 0
    // Two alternating spill paths — a round reads its input from one and
    // writes its output to the other, so the file being read is never the
    // file being overwritten.
    val spillA = Sources.tmpUnique("cc_labels_a")
    val spillB = Sources.tmpUnique("cc_labels_b")
    // Init labels are INLINE in round 0's job (round 9): with edges a bare
    // parquet scan (durable spill either way), the init subplan is just
    // scan→distinct→project, so fusing it saves one whole write job
    // (~0.5 s action floor) per invocation. Round 0's plan shape is a
    // one-off (codegen compiles it separately from rounds 1+), which was
    // a bad trade when the init frame carried the full candidate pipeline
    // — it is not when the init is three nodes over a file scan; measured
    // across the four clustering consumers this nets ~2 s at sf0.1.
    var labels = edges.select(col("da").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    while (changed > 0 && iter < 1024) {
      val roundT0 = System.nanoTime()
      // One hop: each node takes the min label over itself + its
      // neighbors. The aggregation threads prev — the label the node held
      // at the START of the round, carried on the own-tagged self rows —
      // so change detection costs no extra join.
      def hop(l: DataFrame): DataFrame = {
        val selfRows = l.select(col("doc_id"), col("cluster_id"),
          lit(true).as("own"), col("prev"))
        val viaNeighbors = edges.join(l, edges("db") === l("doc_id"))
          .select(edges("da").as("doc_id"), col("cluster_id"),
            lit(false).as("own"), lit(null).cast(LongType).as("prev"))
        selfRows.union(viaNeighbors)
          .groupBy("doc_id")
          .agg(min("cluster_id").as("cluster_id"),
            min(when(col("own"), col("prev"))).as("prev"))
      }
      // Pointer jumping (path halving): label ← label(label). Labels are
      // always ids of nodes in the same frame (invariant label(z) <= z,
      // values drawn from endpoint ids), so the self-join is total; it
      // compresses pointer chains so a hop's labels point near the root.
      def pointerJump(m: DataFrame): DataFrame =
        m.as("l").join(m.as("m"),
            col("l.cluster_id") === col("m.doc_id"), "left")
          .select(col("l.doc_id"),
            coalesce(col("m.cluster_id"), col("l.cluster_id")).as("cluster_id"),
            col("l.prev"))
      // CcFuse hop+jump steps fused into each action (r8): on a
      // chain-shaped graph convergence is bounded by label FLOW — one edge
      // per hop — so the ROUND COUNT, not per-round data volume, dominates
      // on the overhead-limited tiny endpoint frames (measured
      // ~0.55 s/action at sf0.1 for a 3k-node frame regardless of
      // content). Fusing steps divides the action count for extra edges
      // joins inside the same write job. The convergence test stays sound:
      // hop and jump are monotone non-increasing per node, so a fused
      // round that changes no label implies the single-step fixpoint; a
      // star graph wastes at most CcFuse−1 cheap steps in its only
      // propagation round.
      val start = labels.withColumn("prev", col("cluster_id"))
      // Convergence observes the LAST fused step only (round 13, VERDICT
      // r12 #8): `prev` re-arms to the label held just BEFORE the final
      // hop+jump, so `changed` counts that step alone. Sound by the same
      // monotone argument as before — hop and jump are non-increasing per
      // node, so a final step that changes no label means jump(hop(l)) = l,
      // i.e. the round function's fixpoint (hop-stability ⇒ adjacent nodes
      // share labels ⇒ component-uniform) — but STRICTLY more aggressive:
      // a round whose early fused steps did the remaining work now
      // terminates the loop immediately instead of paying one more full
      // spill round just to observe changed=0. On the star-shaped dedup
      // fixtures this halves the round count (2 → 1); a path graph still
      // iterates to its true fixpoint (TextSimilaritySpec pins it).
      val preSteps = (1 until CcFuse).foldLeft(start)((l, _) => pointerJump(hop(l)))
      val rearmed = preSteps.withColumn("prev", col("cluster_id"))
      val jump = pointerJump(hop(rearmed))
      // EVERY round spills to tmp parquet (two alternating paths) and reads
      // back — durable lineage flattening (blocks survive executor loss,
      // re-execution recomputes from the file), AND shape-identical round
      // plans: from round 1 on, each round's plan is byte-equivalent modulo
      // the scan path, so whole-stage codegen compiles once and every later
      // round hits the generator cache — the dominant fixed cost of a round
      // on a tiny frame (measured: persist rounds re-compile every round).
      // The changed-count rides the SAME write job as an observed metric —
      // one action per round, not a write plus a read-back count.
      val obs = new org.apache.spark.sql.Observation(s"cc_$tag$iter")
      val next = {
        val path = if (iter % 2 == 0) spillA else spillB
        jump.observe(obs,
            count(when(col("cluster_id") =!= col("prev"), lit(1))).as("changed"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
        docs.sparkSession.read.parquet(path)
      }
      changed = obs.get.apply("changed").asInstanceOf[Long]
      labels = next.select("doc_id", "cluster_id")
      // Per-round wall time (VERDICT r6 #2): round 0 carries the whole
      // candidate pipeline (the edge cache materializes before the loop,
      // but label init + the first join both consume it), later rounds are
      // pure propagation — a regression that lands in round 0 is candidate
      // generation, one spread across rounds is the loop itself.
      if (ccVerbose) System.err.println(
        f"[labelPropagate] round $iter: ${(System.nanoTime() - roundT0) / 1e9}%.2f s, changed=$changed")
      iter += 1
    }
    if (ccVerbose) System.err.println(s"[labelPropagate] converged after $iter rounds")
    // every loop frame is a durable parquet spill — nothing cached remains
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** SimHash bit width (60 = 4 bands × 15 bits — see [[simhashes]]). */
  val SimhashBits = 60
  /** Pigeonhole bands for the Hamming-pairs join: 4 × 15-bit. */
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands

  /** 60-bit SimHash per doc — and, since round 5, DuckDB-oracle-
    * verifiable: the token hash is FOUR 15-bit portable polynomial folds
    * (multipliers 31/131/137/139, mod 32749 — the largest 15-bit prime)
    * composed into one 60-bit value, replacing xxhash64 (no cross-engine
    * SQL form). 60 bits keeps the composition inside non-negative int64
    * AND makes each pigeonhole band of the pairs join exactly one
    * independent 15-bit fold.
    *
    * Since round 11 the production path is the FUSED codegen expression
    * `simhash_sign` (TextSignatures.scala): one pass per doc computes the
    * folds and the ±1 votes per token OCCURRENCE — the same integer
    * totals as the relational form's tf-weighted distinct-token votes —
    * so the tf shuffle, the vocabulary hash + broadcast join, and the
    * 60-column vote aggregate all disappear; the signature stage is a
    * bare projection at any scale. The relational form survives as
    * [[simhashesReference]], spec-pinned equal on the fixture corpus.
    */
  private def simhashes(s: SparkSession, d: String): DataFrame =
    simhashOf(documents(s, d).select("doc_id", "text"))

  /** The fused signature over any (doc_id, text) frame — shared by
    * [[simhashes]] and the fused-vs-relational equality spec.
    */
  private[graft] def simhashOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TextSignatures.simhash_sign(col("text"),
        typedLit(Seq(SimhashBits.toLong, 32749L, 31L, 131L, 137L, 139L)))
        .as("simhash"))
      .where(col("simhash").isNotNull)

  /** The original three-stage relational SimHash (tf aggregate →
    * vocabulary fold + broadcast join → vote aggregate) — kept as the
    * spec's unfused reference for [[simhashes]]; see the doc there.
    */
  private[graft] def simhashesReference(s: SparkSession, docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    def fold(m: Int) = expr("aggregate(transform(split(t, ''), c -> ascii(c)), 0L, " +
      s"(acc, x) -> pmod(acc * $m + x, 32749L))")
    val toks = tf.select("t").distinct()
      .withColumn("f0", fold(31)).withColumn("f1", fold(131))
      .withColumn("f2", fold(137)).withColumn("f3", fold(139))
      .select(col("t"),
        expr("((f0 * 32768 + f1) * 32768 + f2) * 32768 + f3").as("h"))
    val votes = (0 until SimhashBits).map(i =>
      expr(s"sum(CASE WHEN (shiftright(h, $i) & 1) = 1 THEN tf ELSE -tf END)").as(s"v$i"))
    // Assemble bits with | / shiftleft (not acc*2: ANSI mode would raise on
    // the signed-overflow of the top bit).
    val assemble = (0 until SimhashBits)
      .map(i => s"(CASE WHEN v$i > 0 THEN shiftleft(1L, ${SimhashBits - 1 - i}) ELSE 0L END)")
      .mkString(" | ")
    tf.join(broadcast(toks), "t")
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr(assemble).as("simhash"))
  }

  /** Per-block cardinality cap for dedup_levenshtein (round 6 — VERDICT r5
    * #4): a (lang, source, len_band) block of k docs generates k² pairs, so
    * one degenerate block (a crawler dumping a million same-language
    * same-source same-length boilerplate pages) is the quadratic blow-up
    * the blocking was supposed to prevent. Blocks past the cap are DROPPED
    * — the same pressure-release contract as [[ShingleDfCap]]: a block that
    * degenerate is boilerplate the near-dup pass should route to exact
    * dedup, not pairwise edit distance. Fixture blocks top out at 32 docs
    * (sf0.1), far under the cap; TextSimilaritySpec pins the drop behavior
    * on a synthetic degenerate block.
    */
  val LevBlockCap = 256

  /** Shared-passage window length in tokens (dedup_substring): two docs
    * pair iff they share a verbatim run of this many tokens. 32 ≈ the
    * 50-BPE-token threshold the published training-data dedup work uses,
    * expressed in whitespace tokens.
    */
  val SubstrWin = 32

  /** Edit-distance near-dup on (lang, source, len_band)-blocked pairs —
    * blocking bounds the quadratic pair space, the [[LevBlockCap]] window
    * guard bounds each block (riding the self-join's own exchange, the
    * ShingleDfCap pattern), and the 40-char prefix bounds each O(n·m)
    * distance computation. All-integer → oracle-checkable. Factored over an
    * arbitrary documents-shaped frame so the cap is unit-testable on a
    * synthetic degenerate block.
    */
  private[graft] def levPairs(documents: DataFrame): DataFrame = {
    // One lineage instead of a self-join (r21): the join form computed
    // scan -> exchange -> sort -> window TWICE (both join inputs) plus a
    // broadcast build, and at sf0.1 the whole key is stage-count-bound
    // (29 347 candidate pairs ≈ 50 ms of levenshtein). Collecting each
    // block ONCE (the aggregate rides the window's own exchange — same
    // grouping keys) and generating the a×b pairs with two explodes emits
    // exactly the join's pair set: a doc belongs to exactly one
    // (lang, source, len_band) block, every in-block ordered combination
    // appears exactly once, and `a.doc_id < b.doc_id` keeps exactly one
    // orientation per unordered pair — list order cannot matter. The inner
    // join dropped null block keys, so the explicit non-null filter keeps
    // that behavior (and the scan's pushed IsNotNull filters). Memory per
    // block is bounded by the SAME LevBlockCap that already bounds the
    // quadratic pair space; blocks past the cap are dropped before the
    // collect by the bsz window, exactly as before.
    val docs = documents
      .where(col("lang").isNotNull && col("source").isNotNull &&
        col("n_chars").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        floor(col("n_chars") / 100).as("len_band"),
        substring(col("text"), 1, 40).as("prefix"))
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy("lang", "source", "len_band")))
      .where(col("bsz") <= LevBlockCap).drop("bsz")
    docs
      .groupBy("lang", "source", "len_band")
      .agg(collect_list(struct(col("doc_id"), col("prefix"))).as("ms"))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        levenshtein(col("a.prefix"), col("b.prefix")).as("edit_dist"))
      .where(col("edit_dist") <= 10)
      .orderBy("da", "db")
  }

  /** Per-(process, fixture) spill of the CAPPED jaccard shingle frame —
    * the hot-shingle guard (df ≤ ShingleDfCap via a window over the
    * g-partitioning) is computed once at build; both jaccard consumers
    * (dedup_ngram_jaccard, dedup_cluster_jaccard) then read the spilled
    * (doc_id, g) frame instead of re-exploding and re-capping the corpus.
    * Same fingerprint-keyed deterministic-spill pattern as
    * [[minhashIndex]].
    */
  private def jaccardShingles(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s, Sources.fixtureKey(d, "documents"), "jac_shingles") {
      shingles(s, d)
        .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
        .where(col("df") <= ShingleDfCap).drop("df")
    }

  /** Standing cluster assignment of the BASE corpus (docs at or below the
    * id cutoff), clustered over base-only pairs — the fixture-keyed spill
    * standing in for "last epoch's dedup_cluster_cc output" that
    * [[dedup_cluster_incremental]] maintains. Built once per fixture (the
    * cold ledger carries the build); the incremental query's timed path
    * reads it as a bare file scan.
    */
  private def ccBaseLabels(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s,
        Sources.fixtureKey(d, "documents") + ":cc_base_labels", "cc_base") {
      val basePairs = minhashCandidates(s, d, 0.8)
        .crossJoin(incrMaxId(s, d))
        .where(incrIsBase(col("da"), col("mx")) && incrIsBase(col("db"), col("mx")))
        .select("da", "db")
      val baseDocs = documents(s, d).crossJoin(incrMaxId(s, d))
        .where(!incrIsDelta).select("doc_id")
      labelPropagate(baseDocs, basePairs, "cc_base")
    }

  /** Exact capped-Jaccard >= 0.5 near-dup pairs (see dedup_ngram_jaccard),
    * reading the memoized capped-shingle index. The verified pair frame is
    * itself memoized per fixture since round 9 (VERDICT r8 #2):
    * dedup_ngram_jaccard and dedup_cluster_jaccard share one inverted-index
    * self-join pass, and the clustering's labelPropagate reads its edges
    * from a bare parquet scan (durableEdges).
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s,
        Sources.fixtureKey(d, "documents") + ":jac_pairs", "jac_pairs") {
      val sh = jaccardShingles(s, d)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .where(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
        .select(col("da"), col("db"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"))
    }

  /** Stage frames of `pipeline_pretrain_full`, shared between the
    * registered query and ProfScale's per-stage drop accounting so the
    * reported counts are of the same plan by construction (ADVICE r12) —
    * a pipeline edit here changes both the query and the attribution.
    * Each returns the survivor frame after its named cut; stage rules are
    * the individually-verified operators' own (see the query's comment).
    */
  private[graft] def pretrainExact(s: SparkSession, d: String): DataFrame =
    documents(s, d).groupBy("text").agg(min(col("doc_id")).as("doc_id"))

  private[graft] def pretrainNear(s: SparkSession, d: String): DataFrame = {
    val ex = pretrainExact(s, d)
    val nearDrop = minhashCandidates(s, d, 0.8)
      .join(ex.select(col("doc_id").as("da")), Seq("da"), "left_semi")
      .select(col("db").as("doc_id")).distinct()
    ex.join(nearDrop, Seq("doc_id"), "left_anti")
  }

  private[graft] def pretrainDecontam(s: SparkSession, d: String): DataFrame = {
    val sh = sh8Index(s, d)
    val probeG = sh.where(col("doc_id") < 50).select("g").distinct()
    val cont = sh.where(col("doc_id") >= 50)
      .join(broadcast(probeG), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    pretrainNear(s, d).where(col("doc_id") >= 50)
      .join(cont, Seq("doc_id"), "left_anti")
  }

  private[graft] def pretrainQuality(s: SparkSession, d: String): DataFrame = {
    val tk = split(col("text"), " ")
    pretrainDecontam(s, d)
      .select(col("doc_id"),
        size(tk).cast(LongType).as("n_tok"),
        size(array_distinct(tk)).cast(LongType).as("n_uniq"))
      .where(col("n_uniq") * 20 >= col("n_tok") * 7)
  }

  private[graft] def pretrainCleaned(s: SparkSession, d: String): DataFrame = {
    // Kneser-Ney since round 17 (VERDICT r16 #7): the composite's LM
    // filter reads the best reference model the engine has —
    // lmScoresKn's exact integer-cleared KN bigram scores against the
    // full-corpus index — not the classroom unigram it shipped with
    // while KN was being built. Same plan shape: the memoized bigram
    // index, vocab-bounded rollups, one left-anti against the flag set;
    // still one Catalyst plan end to end.
    val surpFlag = TextOps.lmScoresKn(s, d)
      .where(col("surprisal_millibits") >= lit(TextOps.KnFlagMilli))
      .select("doc_id")
    pretrainQuality(s, d).join(surpFlag, Seq("doc_id"), "left_anti")
  }

  /** SemDeDup similarity threshold (Abbas et al. 2023: cluster the
    * embedding space, then drop all-but-one of each within-cluster eps-
    * ball). The synthetic fixture carries no true semantic dups (max
    * within-cluster cosine ≈ 0.45-0.47), so 0.35 marks the same top-tail
    * convention as `dedup_embedding_cosine`; with real embeddings this
    * would be ~0.95. Measured non-vacuous at every SF: 59/500, 71/500,
    * 635/2000 vectors dropped.
    */
  private[graft] val SemDedupEps = 0.35

  /** The deterministic IVF coarse quantizer, shared by `sim_ann_ivf` and
    * `dedup_semdedup` (one geometry, two consumers — a pipeline edit
    * cannot desynchronize them): K=16 seed vectors ranked by the portable
    * affine hash of vec_id, one Lloyd refinement with exact-decimal
    * component means over the [[annTrainPredSql]] sample, then the
    * full-corpus max-cosine assignment. Returns (refined 16-row centroid
    * frame (cid, ce, cn), lists (vec_id, embedding, nrm, cid)). Both
    * collects are provably bounded (16 rows each). SQL mirror:
    * [[ivfListsCtes]].
    */
  private[graft] def ivfQuantize(s: SparkSession, d: String, k: Int = 16)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
      vec_norm(col("embedding")).as("nrm"))
    val te = e.where(expr(annTrainPredSql))
    val seedRows = te.withColumn("hk",
      expr(s"pmod(pmod(vec_id, ${SigP}L) * ${sigA(20)}L + ${sigB(20)}L, ${SigP}L)"))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .select(col("embedding")).as[Array[Float]].collect()
    def centFrame(vecs: Seq[Array[Float]]): DataFrame =
      vecs.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("cid", "ce")
        .withColumn("cn", vec_norm(col("ce")))
    // assign every vector to its max-cosine centroid (16-way broadcast
    // comparison, ties to the lower cid). max_by keeps this a hash
    // aggregate with map-side partials — no shuffle-and-sort window.
    def assign(src: DataFrame, cent: DataFrame): DataFrame =
      src.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
          (vec_dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("cc"))
        .groupBy("vec_id")
        .agg(expr("max_by(struct(embedding, nrm, cid), struct(cc, -cid))").as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
          col("best.nrm").as("nrm"), col("best.cid").as("cid"))
    // one Lloyd refinement: exact-decimal per-dimension means of each
    // list; again a 16-row collect so the quantizer pipeline runs once
    // instead of once per consuming branch
    val refinedRows = assign(te, centFrame(seedRows.toSeq))
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg((sum(dec(col("v"), 27, 10)).cast(DoubleType) / count(lit(1))).as("c"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> CAST(x.c AS FLOAT))").as("ce"))
      .orderBy("cid")
      .select(col("ce")).as[Array[Float]].collect()
    val refined = centFrame(refinedRows.toSeq)
    (refined, assign(e, refined))
  }

  val queries: Map[String, Q] = Map(
    "dedup_near_minhash" -> ((s, d) => {
      // Cluster representative = min doc_id among self + verified neighbors.
      val pairs = minhashCandidates(s, d, 0.8)
      val neighbors = pairs.select(col("da").as("doc_id"), col("db").as("nb"))
        .union(pairs.select(col("db").as("doc_id"), col("da").as("nb")))
      documents(s, d).select(col("doc_id"))
        .join(neighbors, Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg(least(min(col("nb")), first(col("doc_id"))).as("rep_id"))
        .orderBy("doc_id")
    }),

    // Recall evaluation for the banded-LSH dedup path — the sim_ann_recall_eval
    // contract applied to MinHash: ground truth is the EXACT Jaccard ≥ 0.8
    // partner set of a bounded probe slice (doc_id < MhRecallProbes),
    // computed through the same inverted shingle index the verifier uses
    // (probe shingles × corpus — query-set-fixed asymmetry, never
    // all-pairs); found = the banded candidate pairs touching a probe.
    // verifiedPairs re-checks exact Jaccard on band survivors, so found ⊆
    // truth by construction and n_missed counts exactly the pairs the
    // 4-band×4-row collision structure failed to surface — the quantity
    // the published S-curve (1-(1-s^r)^b) prices, here measured instead of
    // assumed. Exact dups (s=1) always collide, so misses concentrate at
    // the s≈threshold boundary. At 100 TB the truth side stays bounded by
    // the probe slice; the found side reads the standing pair spill.
    "dedup_minhash_recall" -> ((s, d) => {
      val (sh, _) = minhashIndex(s, d)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.where(col("doc_id") < MhRecallProbes)
        .select(col("doc_id").as("p"), col("g"))
        .join(sh.select(col("doc_id").as("q"), col("g")), "g")
        .where(col("p") =!= col("q"))
        .groupBy("p", "q").agg(count(lit(1)).as("inter"))
      val truth = inter
        .join(sz.select(col("doc_id").as("p"), col("n").as("np")), "p")
        .join(sz.select(col("doc_id").as("q"), col("n").as("nq")), "q")
        .where(col("inter") * 1000000L >= (col("np") + col("nq") - col("inter")) * 800000L)
        .select("p", "q")
      val mh = minhashCandidates(s, d, 0.8)
      val found = mh.select(col("da").as("p"), col("db").as("q"))
        .union(mh.select(col("db").as("p"), col("da").as("q")))
        .where(col("p") < MhRecallProbes)
        .withColumn("hit", lit(1L))
      val agg = truth.join(found, Seq("p", "q"), "left")
        .groupBy("p")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      documents(s, d).select(col("doc_id"))
        .where(col("doc_id") < MhRecallProbes)
        .join(agg, col("doc_id") === col("p"), "left")
        .select(col("doc_id"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_found"), lit(0L)).as("n_found"),
          (coalesce(col("n_true"), lit(0L)) - coalesce(col("n_found"), lit(0L)))
            .as("n_missed"))
        .orderBy("doc_id")
    }),

    // Duplicated-span REMOVAL — the published exact-substring dedup stage
    // (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better"): where dedup_substring REPORTS doc pairs sharing a verbatim
    // run, this op APPLIES the edit — every duplicated [[SpanSeg]]-token
    // aligned segment is dropped from all but its canonical first
    // occurrence (global min (doc_id, pos)), the keep-one rule that
    // preserves exactly one copy of boilerplate instead of nuking it
    // corpus-wide. Output is the per-doc removal ledger (segments, dup
    // occurrences, removed occurrences, tokens removed) — the audit frame
    // a curation pipeline joins back to rebuild cleaned text. Scale shape:
    // segment explode is corpus-linear (non-overlapping — ~n/SpanSeg rows,
    // CHEAPER than the stride-1 shingle families), the occurrence count +
    // canonical-min is ONE map-side-combinable aggregate on the 64-bit
    // segment hash (min over a struct is associative — no window, no
    // sort), and the join back is segs ⋈ grp on g where grp has one row
    // per DISTINCT segment. A mega-duplicated boilerplate segment skews
    // that join key; AQE skew-join splits it (the build side stays one
    // row per key, so no correctness hazard — only task balance).
    "dedup_span_remove" -> ((s, d) => {
      val segs = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, (size(toks) + ${SpanSeg - 1}) div $SpanSeg), " +
            s"p -> struct(p as pos, " +
            s"xxhash64(concat_ws(' ', slice(toks, (p - 1) * $SpanSeg + 1, $SpanSeg))) as g, " +
            s"least($SpanSeg, size(toks) - (p - 1) * $SpanSeg) as ntok))")).as("sg"))
        .select(col("doc_id"), col("sg.pos").as("pos"),
          col("sg.g").as("g"), col("sg.ntok").as("ntok"))
      val grp = segs.groupBy("g").agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      val removed = col("cnt") > 1L &&
        !(col("keep.doc_id") === col("doc_id") && col("keep.pos") === col("pos"))
      segs.join(grp, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_seg"),
          sum(when(col("cnt") > 1L, 1L).otherwise(0L)).as("n_dup"),
          sum(when(removed, 1L).otherwise(0L)).as("n_removed"),
          sum(when(removed, col("ntok").cast("long")).otherwise(0L)).as("tok_removed"))
        .orderBy("doc_id")
    }),

    // Train/test leakage screen — the eval-integrity op every benchmark
    // pipeline needs: a TEST document whose near-duplicate sits in TRAIN
    // invalidates the eval (the model saw the answer). Split assignment is
    // the deterministic hash rule of sample_hash_split applied to doc_id;
    // leaked pairs are the verified MinHash near-dup pairs whose endpoints
    // fall on OPPOSITE sides. Reuses the memoized shingle/band index —
    // zero extra candidate-generation cost beyond the dedup family, one
    // broadcast of the tiny split frame per side. At 100 TB this runs as
    // a post-filter on the standing band index's pair stream.
    "dedup_split_leakage" -> ((s, d) => {
      val split = documents(s, d)
        .select(col("doc_id"), (mhash(col("doc_id"), 1000L) < 800).as("is_train"))
      minhashCandidates(s, d, 0.8)
        .join(split.select(col("doc_id").as("da"), col("is_train").as("ta")), Seq("da"))
        .join(split.select(col("doc_id").as("db"), col("is_train").as("tb")), Seq("db"))
        .where(col("ta") =!= col("tb"))
        .select(
          when(col("ta"), col("db")).otherwise(col("da")).as("test_doc"),
          when(col("ta"), col("da")).otherwise(col("db")).as("train_doc"))
        .orderBy("test_doc", "train_doc")
    }),

    "dedup_incremental_minhash" -> ((s, d) => {
      // Incremental ingest dedup — how a CONTINUOUS training-data pipeline
      // actually runs MinHash: the base corpus is already deduped, so a
      // new batch (the top ~20% of the id range here — an id cutoff, so id
      // order IS arrival order; in production the day's crawl) pairs only
      // delta-vs-base and delta-vs-earlier-delta, never base-vs-base
      // ([[minhashCandidatesDelta]] — the band probe is |delta| × bucket
      // occupancy). Per delta doc: the earliest near-dup partner (dup_of,
      // −1 sentinel when none) and an is_new keep flag. TextSimilaritySpec
      // cross-checks against the SYMMETRIC pair set restricted the same
      // way, proving the asymmetric band join drops no pair.
      val pairs = minhashCandidatesDelta(s, d, 0.8)
      val earliest = pairs.groupBy("db").agg(min("da").as("m"))
      documents(s, d)
        .crossJoin(incrMaxId(s, d))
        .where(incrIsDelta)
        .select(col("doc_id"))
        .join(earliest, col("doc_id") === col("db"), "left")
        .select(col("doc_id"),
          coalesce(col("m"), lit(-1L)).as("dup_of"),
          when(col("m").isNull, 1).otherwise(0).as("is_new"))
        .orderBy("doc_id")
    }),

    "dedup_bloom_incremental" -> ((s, d) => {
      // Incremental EXACT dedup via a broadcast bloom summary — the other
      // half of the ingest-dedup story next to [[dedup_incremental_minhash]]
      // (same id-cutoff delta contract, same dup_of/is_new output): a new
      // batch is checked against the standing corpus WITHOUT shuffling the
      // batch, because the bloom of the base fingerprints broadcasts and
      // answers "definitely new" map-side for the overwhelmingly-common
      // case. Only bloom-positives (real dups + the bloom's false-positive
      // rate) reach the exact verify join against the fingerprint→min-id
      // map — which at 100 TB is the persisted dedup index maintained by
      // [[Streaming.fingerprintDedupStream]], not a per-run recompute.
      // Fingerprint-level equality is the operator contract (the portable
      // 1e9+7 polynomial shared with text_fingerprint); the bloom is
      // result-invariant (the oracle is the plain join), sized here for
      // fixture scale — production sizes it from the corpus row count.
      // Within-batch duplicates are out of scope by contract: the batch
      // itself is deduped by dedup_exact before probing the corpus.
      import org.apache.spark.sql.graft.VectorOps.{bloom_agg, bloom_might_contain}
      val fps = fpIndex(s, d)
      val base = fps.where(!col("isd")).select("doc_id", "fp")
      val delta = fps.where(col("isd")).select("doc_id", "fp")
      val bloom = base.agg(bloom_agg(col("fp"), 100000L, 1048576L).as("bf"))
      val baseMin = base.groupBy("fp").agg(min("doc_id").as("m"))
      val hits = delta
        .where(bloom_might_contain(bloom, col("fp")))
        .join(baseMin, Seq("fp"))
        .select(col("doc_id"), col("m"))
      delta.select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("m"), lit(-1L)).as("dup_of"),
          when(col("m").isNull, 1).otherwise(0).as("is_new"))
        .orderBy("doc_id")
    }),

    "dedup_cluster_cc" -> ((s, d) =>
      // TRUE transitive near-dup clusters: min-label propagation (see
      // labelPropagate) over the LSH-verified pair graph. Since round 5
      // the LSH edge set uses the portable hash family, so the whole
      // pipeline — banding, verification, AND the transitive closure —
      // carries a DuckDB oracle (recursive CTE); scalatest additionally
      // verifies against an in-test union-find over the same pairs.
      labelPropagate(documents(s, d),
        minhashCandidates(s, d, 0.8).select("da", "db"), "cc_minhash",
        durableEdges = true)),

    "dedup_cluster_incremental" -> ((s, d) => {
      // Incremental transitive-closure MAINTENANCE — the clustering verb
      // of the incremental-dedup story (pair probing was
      // dedup_incremental_minhash): the base corpus (below the id cutoff)
      // carries a STANDING cluster assignment ([[ccBaseLabels]], a
      // fixture-keyed spill — in production last epoch's output); an
      // ingest batch connects to it only through delta-probed pairs.
      // Delta-proportional by construction: (a) candidate pairs come from
      // the asymmetric band probe (∝ |delta| × bucket occupancy), (b) the
      // merge runs labelPropagate on the CONTRACTED graph — base
      // endpoints collapse to their standing cluster id — whose node set
      // is (touched clusters + delta docs), bounded by the delta edge
      // count, never the corpus. EXACT, not approximate: contraction
      // preserves connectivity (each base cluster is internally connected)
      // and cluster ids are min-doc-ids, so the contracted min-label
      // equals the global min — the output is provably identical to the
      // batch closure over all pairs, and the driver oracle IS
      // dedup_cluster_cc's recursive CTE. TextSimilaritySpec pins
      // incremental == batch row-for-row plus merge-path vacuity.
      val lbl = ccBaseLabels(s, d)
      val deltaPairs = minhashCandidatesDelta(s, d, 0.8).select("da", "db")
      // cutoff property: db (the higher id) is ALWAYS a delta doc; da may
      // be base (contract to its cluster) or delta (keep its id)
      val contracted = deltaPairs
        .join(lbl.select(col("doc_id").as("da"), col("cluster_id").as("ca")),
          Seq("da"), "left")
        .select(coalesce(col("ca"), col("da")).as("da"), col("db"))
      val nodes = contracted.select(col("da").as("doc_id"))
        .union(contracted.select(col("db").as("doc_id"))).distinct()
      val m = labelPropagate(nodes, contracted, "cc_incr")
        .select(col("doc_id").as("node"), col("cluster_id").as("mc"))
      val base = lbl.join(m, lbl("cluster_id") === m("node"), "left")
        .select(lbl("doc_id"), coalesce(col("mc"), lbl("cluster_id")).as("cluster_id"))
      val delta = documents(s, d).crossJoin(incrMaxId(s, d)).where(incrIsDelta)
        .select(col("doc_id"))
        .join(m, col("doc_id") === m("node"), "left")
        .select(col("doc_id"), coalesce(col("mc"), col("doc_id")).as("cluster_id"))
      base.unionByName(delta).orderBy("doc_id")
    }),

    // CROSS-MODAL dedup (round 17) — the published image-text pair
    // curation step (LAION/DataComp-style: a pair is a duplicate if its
    // TEXT is a near-dup OR its IMAGE is a near-dup; either signal alone
    // misses re-captioned images and re-illustrated text): the union of
    // the verified MinHash text-pair graph and the pHash payload-pair
    // graph, clustered transitively through the SAME labelPropagate
    // engine as the unimodal clusterings. Both pair frames are the
    // standing fixture-keyed spills — this plan derives nothing, it
    // composes two verified indexes and runs the cluster loop, which is
    // exactly the production shape (signals are computed at ingest,
    // cross-signal policy is a downstream join).
    "dedup_cross_modal" -> ((s, d) => {
      val textPairs = minhashCandidates(s, d, 0.8).select("da", "db")
      val imgPairs = Multimodal.phashPairs(s, d).select("da", "db")
      // durableEdges=false: the union is a DERIVED frame, not a bare
      // spill scan — the durable flag's precondition (code-review r17:
      // with it set, a forced/over-cap loop would re-execute the union
      // per round); labelPropagate spills it once itself. No distinct:
      // propagation is insensitive to duplicate edges, and the cross-
      // signal overlap is tiny
      labelPropagate(documents(s, d),
        textPairs.unionAll(imgPairs), "cc_xmodal",
        durableEdges = false)
    }),

    // 3-WAY cross-modal dedup (round 18, VERDICT r17 #4): the third
    // modality joins the union — a pair is duplicate if its TEXT is a
    // near-dup (MinHash) OR its IMAGE is (pHash) OR its AUDIO fingerprint
    // matches exactly (decoded-PCM prefix; Multimodal.audioPairs ships
    // star edges, connectivity-equivalent to the pairwise form). On THIS
    // fixture the audio signal is text-derived, so its pairs are measured
    // contained in the MinHash graph (every audio edge at sf0.001 has
    // Jaccard ≥ 0.96 — DESIGN r18) and the 3-way clusters coincide with
    // the 2-way ones BY MEASUREMENT, not assumption; the spec proves the
    // mechanism independently discriminates on an engineered looped
    // corpus (identical cyclic PCM, word-Jaccard < threshold) — the
    // re-encoded/looped-audio dup class real audio fingerprints exist for.
    "dedup_cross_modal_3way" -> ((s, d) => {
      val textPairs = minhashCandidates(s, d, 0.8).select("da", "db")
      val imgPairs = Multimodal.phashPairs(s, d).select("da", "db")
      val audPairs = Multimodal.audioPairs(s, d).select("da", "db")
      labelPropagate(documents(s, d),
        textPairs.unionAll(imgPairs).unionAll(audPairs), "cc_xmodal3",
        durableEdges = false)
    }),

    "dedup_cluster_jaccard" -> ((s, d) =>
      // Same component algorithm over the EXACT capped-Jaccard >= 0.5 pair
      // graph — every input is deterministic SQL, so this variant carries a
      // full DuckDB oracle (recursive-CTE transitive closure): the driver
      // gate covers the iterative clustering path, not just scalatest.
      labelPropagate(documents(s, d), jaccardPairs(s, d).select("da", "db"),
        "cc_jaccard", durableEdges = true)),

    "text_decontaminate" -> ((s, d) => {
      // Benchmark decontamination: flag corpus docs sharing any 8-token
      // shingle with the probe set (doc_id < 50 stands in for the held-out
      // eval set). The overlap test is an equi-join on the shingle against
      // the broadcast probe index — the canonical n-gram-collision screen a
      // training pipeline runs before anything ships; never an all-pairs
      // comparison, so the corpus side scales freely.
      val sh = sh8Index(s, d)
      val probes = sh.where(col("doc_id") < 50)
        .select(col("g"), col("doc_id").as("probe_id"))
      sh.where(col("doc_id") >= 50)
        .join(broadcast(probes), "g")
        .select(col("doc_id"), col("probe_id")).distinct()
        .orderBy("doc_id", "probe_id")
    }),

    // The full production pretraining chain (VERDICT r10 #4) — the mini
    // pipeline's exact-dedup → quality → pack capstone extended with the
    // two stages a shipped corpus actually runs between them: MinHash
    // NEAR-dedup to representatives and decontamination against the
    // held-out probe set, still composed as ONE Catalyst plan. Stage
    // rules are the individually-verified operators' own: exact reps =
    // min doc_id per text (dedup_exact); near-dedup keeps an exact rep
    // iff no verified Jaccard≥0.8 pair links it to a SMALLER exact rep
    // (dedup_near_minhash's min-id representative rule restricted to the
    // exact-survivor set — restricting loses nothing, because an exact
    // twin of any dropped smaller neighbor shares its shingle set and
    // therefore its verified pairs); the probe docs (doc_id < 50, the
    // eval set) leave the training corpus and any doc sharing an 8-token
    // shingle with them is dropped (text_decontaminate's screen); the
    // integer quality floor and shard-local packing are
    // pipeline_pretrain_mini's stages verbatim; and (late round 11) the
    // unigram-LM surprisal filter — text_lm_surprisal's exact fixed-point
    // score against the FULL-CORPUS model (not the survivor subset),
    // like a production reference-LM filter — drops the rare-token-heavy
    // tail before packing. All dedup/decontam/surprisal drops are
    // left-anti equi-joins against DISTINCT id frames and the pair/
    // shingle/tf sources are the standing memoized indexes — at 100 TB
    // this plan reads the band index, shingle index, and tf index, never
    // re-derives them, and only survivors reach the packing shuffle.
    "pipeline_pretrain_full" -> ((s, d) => {
      val cleaned = pretrainCleaned(s, d)
      val byDoc = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      cleaned
        .withColumn("shard", pmod(col("doc_id"), lit(TextOps.PackShards.toLong)))
        .withColumn("off", coalesce(sum("n_tok").over(byDoc), lit(0L)))
        .withColumn("bin", expr(s"off div ${TextOps.PackSeqLen}"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast(LongType).as("total_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard", "bin")
    }),

    "dedup_levenshtein" -> ((s, d) => levPairs(documents(s, d))),

    "dedup_ngram_jaccard" -> ((s, d) =>
      // Exact n-gram Jaccard >= 0.5 via shingle inverted index self-join —
      // candidate generation shuffles on the shingle (bounded fan-out), and
      // the predicate is all-integer, so this one IS oracle-checkable.
      jaccardPairs(s, d).orderBy("da", "db")),

    "dedup_containment" -> ((s, d) => {
      // Containment near-dup: C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.9 — the
      // ASYMMETRIC overlap measure that catches a short doc embedded in a
      // long one (symmetric Jaccard ~0 there, containment ~1), the
      // sub-document dup class published training-data dedup handles
      // beside whole-doc similarity. Reads the SAME memoized capped
      // 3-token shingle index as the jaccard family and runs the same
      // inverted-index self-join; only the verification predicate differs
      // (integer cross-multiplication — no float division). Kept
      // live-compute (not pair-spilled): it is the bench's standing
      // representative of the inverted-index join family's real cost.
      val sh = jaccardShingles(s, d)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .where(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
        .select(col("da"), col("db"), col("inter"),
          least(col("na"), col("nb")).as("mn"))
        .orderBy("da", "db")
    }),

    "dedup_substring" -> ((s, d) => {
      // Windowed exact-substring dedup — the shared-passage screen from the
      // published "deduplicate training data" line of work: two docs pair
      // iff they share a VERBATIM [[SubstrWin]]-token contiguous run.
      // Stride-1 windows make the guarantee exact (a shared run of >= W
      // tokens always contains an aligned shared window — the same stride-1
      // contract as the 3-token shingles, just a longer n), and the
      // semantics are deliberately different from whole-doc Jaccard: a
      // 32-token quote inside a 5000-token doc pairs here while its Jaccard
      // is ~0. Same scale shape as jaccardPairs: inverted-index self-join
      // on the 64-bit window hash with the [[ShingleDfCap]] hot-window
      // guard riding the join's own exchange — bucketed, never all-pairs.
      // Short docs (< W tokens) collapse to one whole-doc pseudo-window
      // (get() null-pad + concat_ws skip), so exact short dups still pair —
      // mirrored by DuckDB's identical NULL-skipping concat_ws.
      // The pair frame is a fixture-keyed memoSpill like the other dedup
      // families (round 9 — VERDICT r8 #3: the +0.73 s r8 drift was the
      // UNmemoized window explode re-running per bench invocation; now the
      // explode+cap+self-join run once per fixture and reruns are a file
      // scan, the same persisted-pair-table shape as jac_pairs/mh_pairs).
      Sources.memoSpill(s,
          Sources.fixtureKey(d, "documents") + ":substr_pairs", "substr_pairs") {
        val wins = shingles(s, d, SubstrWin)
          .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
          .where(col("df") <= ShingleDfCap).drop("df")
        wins.as("a").join(wins.as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("n_shared"))
      }.orderBy("da", "db")
    }),

    "dedup_simhash" -> ((s, d) => simhashes(s, d).orderBy("doc_id")),

    "dedup_simhash_pairs" -> ((s, d) => {
      // SimHash as an actual dedup operator: near-dup pairs at
      // Hamming(simhash) <= 3 via pigeonhole banding — split the 60-bit
      // hash into 4 15-bit bands; any pair within distance 3 has all its
      // differing bits in <= 3 bands, so it agrees EXACTLY on >= 1 band.
      // Candidates come from a band equi-join (hash join on (band, key)),
      // never all pairs; bit_count verifies the exact distance. Same
      // bucketed-candidate shape as MinHash-LSH — the 100 TB-safe form.
      // The (doc_id, simhash) frame is 16 bytes/doc: persist() so the
      // 60-vote aggregate builds once and both self-join sides read the
      // cache; released right after the consuming action via
      // releaseAfterUse (ADVICE.md — not left cached for the session).
      // Portable-hash simhash (round 5) ⇒ the whole banded pipeline is
      // DuckDB-oracle-verified.
      val sim = simhashes(s, d).persist()
      val bands = sim.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBands).map(b =>
          expr(s"shiftright(simhash, ${b * SimhashBandBits}) & ${(1 << SimhashBandBits) - 1}")): _*))
          .as(Seq("band", "key")))
      releaseAfterUse("simhash_pairs",
        bands.as("x").join(bands.as("y"), Seq("band", "key"))
          .where(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
            expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
          .distinct() // a pair agreeing on several bands appears once per band
          .where(col("hamming") <= 3)
          .orderBy("da", "db"),
        Seq(sim))
    }),

    "dedup_embedding_cosine" -> ((s, d) => {
      // Embedding near-dup: label blocks bound the pair space (the blocking
      // key at 100 TB would be an LSH bucket; labels play that role here).
      // The block pairing is a broadcast hash join on the block key —
      // candidates stream through the codegen'd vec_dot. The build side
      // still transits the driver once (Spark's BroadcastExchange, 8 GB
      // cap); past that size, drop the hint and Catalyst plans a shuffled
      // hash join on the same key — unlike round 1's collect(), the
      // operator itself no longer requires driver materialization.
      import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
      val e = embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), vec_norm(col("embedding")).as("nrm"))
      val a = e.select(col("label"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(broadcast(b), Seq("label"))
        .where(col("vb") > col("va"))
        .select(col("va"), col("vb"),
          (vec_dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
        // The synthetic fixtures carry no true near-dups (max within-label
        // cosine ≈ 0.5), so the threshold marks the top ~0.1% tail; with
        // real data this would be ~0.95.
        .where(col("cos") >= 0.35)
        .orderBy("va", "vb")
    }),

    // SemDeDup (Abbas et al. 2023, public): SEMANTIC dedup at corpus
    // scale — k-means-cluster the embedding space, then compare pairs only
    // WITHIN a cluster, dropping every vector that has an earlier
    // (lower vec_id) eps-neighbor in its cluster; min-id-wins is the same
    // representative convention as dedup_exact. The cluster blocking is
    // what makes this the 100 TB form of dedup_embedding_cosine: pairs
    // cost Σ|cluster|² instead of n², and K is the scale dial (K ~
    // n/target_list_size keeps lists bounded; here K=16 on 500-2000
    // vectors). The quantizer is the SHARED [[ivfQuantize]] — the same
    // geometry sim_ann_ivf probes, so index and dedup agree by
    // construction. The within-cluster self-join hash-partitions on cid
    // (16 keys at fixture K — at production K the key space is wide);
    // cosine runs through the codegen'd vec_dot. Output: every vector
    // with its cluster and drop flag.
    "dedup_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.graft.VectorOps.vec_dot
      val lists = ivfQuantize(s, d)._2
      val a = lists.select(col("cid"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = lists.select(col("cid"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val drops = a.join(b, Seq("cid"))
        .where(col("va") < col("vb") &&
          vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= SemDedupEps)
        .select(col("vb").as("vec_id")).distinct()
      lists.select("vec_id", "cid")
        .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(col("dropped"), lit(false)).as("dropped"))
        .orderBy("vec_id")
    }),

    // Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    // scaling laws" — public): rank every vector by cosine to its own
    // cluster prototype and KEEP the hard half (lowest prototype
    // similarity) — the published finding is that pruning EASY examples
    // (nearest the prototype) beats random pruning at scale. Prototypes =
    // the SHARED [[ivfQuantize]] centroids (the same geometry the index
    // probes and semdedup blocks on). One broadcast join against the
    // 16-row centroid frame + one per-cluster window; the keep rule is
    // integer rank cross-multiplication (rnk·2 ≤ n, rank over
    // (proto_cos ASC, vec_id)), so the cut is exact on both engines.
    // The raw cosine is deliberately NOT in the output: the float
    // centroid components can differ in the last ulp across engines
    // (float→DECIMAL rounding-mode drift in the Lloyd means — invisible
    // to every RANK consumer, fatal to a hashed double), so the output
    // carries the hardness RANK, which the sim_ann_ivf oracle precedent
    // proves gate-stable on these well-separated cosines.
    "sample_prototype_prune" -> ((s, d) => {
      import org.apache.spark.sql.graft.VectorOps.vec_dot
      val (refined, lists) = ivfQuantize(s, d)
      val wC = Window.partitionBy("cid")
      lists.join(broadcast(refined), Seq("cid"))
        .select(col("vec_id"), col("cid"),
          (vec_dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("proto_cos"))
        .withColumn("rnk", row_number().over(
          wC.orderBy(col("proto_cos").asc, col("vec_id").asc)))
        .withColumn("n", count(lit(1)).over(wC))
        .select(col("vec_id"), col("cid"), col("rnk"),
          (col("rnk") * 2 <= col("n")).as("keep"))
        .orderBy("vec_id")
    }),

    // NN-DESCENT (Dong et al. 2011) — the published LINEAR-work build for
    // the graph-ANN base layer: start from a deterministic geometry-blind
    // init ([[NndInitOffsets]]) and iterate "my neighbors' neighbors are
    // probably my neighbors". Round 17 runs the paper's full §2.3 recipe
    // (VERDICT r16 #5): a SAMPLED LOCAL JOIN — members of B(v) = N(v) ∪
    // ρK-sampled N⁻¹(v) become candidates of each other — with
    // INCREMENTAL new/old flags so only pairs touching a fresh edge are
    // evaluated, per-round work ≤ n·(K+ρK)² bounded and SHRINKING as the
    // graph converges (O(n) total where the exact build is quadratic).
    // Internal lists build at [[NndBuildK]] = 2M and the top M ship
    // (the published K>M quality dial). Every stage is an equi-join on
    // the vector id or one bounded per-vector rank window; rounds spill
    // parquet (the pagerank pattern). GraphAnnSpec pins round-4 recall@8
    // ≥ 0.90 vs the exact graph (measured 0.96) and strict improvement
    // over the 1-round graph.
    "sim_ann_graph_nnd" -> ((s, d) =>
      nndGraphFrame(s, d, NndRounds).where(col("rn") <= GraphAnnM)
        .orderBy("vec_id", "rn")),

    // The k-NN neighbor-list table — the BASE-LAYER artifact of
    // graph-based ANN (NSW/HNSW, Malkov & Yashunin 2018), the dominant
    // published query-time ANN family and the one gap VERDICT r15 named
    // beside IVF/PQ/LSH ("a measured stand-in: beam-search over the
    // persisted neighbor lists"). The BUILD is what a DataFrame engine
    // legitimately owns: per-vector top-M cosine neighbors with the exact
    // codegen'd kernel, rank-only output (the D5 rule — ranks compare
    // exactly cross-engine, floats don't). The SEARCH half is inherently
    // sequential per query (greedy best-first expansion of one node's
    // list at a time — not a dataflow), so it lives in GraphAnnSpec as
    // the judged recall comparison: JVM beam search over THIS table's
    // collected lists vs the brute-force truth, measured, with the
    // 100 TB path documented in DESIGN (NN-descent build replaces the
    // quadratic all-pairs — by construction O(n²) flops here, the
    // sim_topk_cosine bound — and the beam serves from a KV store
    // outside the batch engine, exactly like the persisted IVF-PQ
    // index's probe).
    "sim_ann_graph_knn" -> ((s, d) =>
      // fixture-keyed memoSpill (round 17): the exact build is the
      // GROUND-TRUTH artifact GraphAnnSpec and the recall pins read —
      // deterministic, so memoization cannot change any result, and the
      // standing-index convention (minhash/jaccard/phash) applies: pay
      // the O(n²) flops once per fixture (cold ledger), reruns scan
      // parquet (was the bench's top warm key at 5.1 s recomputed per
      // run)
      Sources.memoSpill(s,
          Sources.fixtureKey(d, "embeddings") + s":gknn:$GraphAnnM", "gknn") {
        import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
        val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
          vec_norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"),
          col("nrm").as("na"))
        val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
          col("nrm").as("nb"))
        a.join(broadcast(b), col("vb") =!= col("va"))
          .select(col("va"), col("vb"),
            (vec_dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("va").orderBy(col("cos").desc, col("vb").asc)))
          .where(col("rn") <= GraphAnnM)
          .select(col("va").as("vec_id"), col("rn"), col("vb").as("nb"))
      }.orderBy("vec_id", "rn")),

    "sim_topk_cosine" -> ((s, d) => {
      // Brute-force half-triangular top-k — the exact baseline the ANN
      // variants are measured against. Broadcast join (build side transits
      // the driver once under Spark's 8 GB broadcast cap — a bound inherent
      // to an exact all-pairs baseline), cosine via the codegen'd vec_dot,
      // and the global top-k compiles to TakeOrderedAndProject:
      // per-partition bounded top-k + a tiny driver merge of partitions×k
      // rows. O(n²) flops by construction — at scale use sim_ann_lsh /
      // sim_ann_ivf — but no quadratic materialization or shuffle.
      import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
      val k = 20
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
      // the streamed side is a single-row-group scan, so WITHOUT the
      // spread all n²/2 dot products run in ONE task (Sources.spreadScan,
      // r21 — n vector rows cross the round-robin once; TakeOrdered's
      // per-partition top-k and the total orderBy are partition-count
      // independent, so results are identical)
      Sources.spreadScan(s, a).join(broadcast(b), col("vb") > col("va"))
        .select(col("va"), col("vb"),
          (vec_dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
        .orderBy(col("cos").desc, col("va").asc, col("vb").asc)
        .limit(k)
    }),

    // Hard-negative mining — the contrastive-training data op: for each
    // query vector, the most-SIMILAR vectors carrying a DIFFERENT label
    // (the confusable negatives that actually move an embedding model;
    // random negatives are trivially separable). Same bounded probe-set
    // shape as the ANN paths (queries broadcast, corpus streams), cosine
    // via the codegen'd vec_dot, per-query top-k via WindowGroupLimit.
    // At 100 TB the corpus side arrives through an ANN candidate
    // generator (sim_ann_lsh/ivfpq) and this label-mismatch ranking is
    // its post-filter — registered here over the exact kernel so the
    // mining semantics carry a full oracle.
    "sim_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
      val e = embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), vec_norm(col("embedding")).as("nrm"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nn").asc)
      e.join(broadcast(q), col("label") =!= col("qlabel"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("nn"),
          col("label").as("nn_label"),
          (vec_dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("qid"), col("nn"), col("nn_label"), col("rn"))
        .orderBy("qid", "rn")
    }),

    "sim_knn_per_label" -> ((s, d) => {
      // Per-label centroid (exact decimal component sums → stable), then
      // top-5 nearest members per label by L2 distance to own centroid.
      val e = embeddings(s, d)
      val comps = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      val cent = comps.groupBy("label", "pos")
        .agg((sum(dec(col("v"), 27, 10)).cast(DoubleType) / count(lit(1))).as("c"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cvec"))
      val dist = e.join(broadcast(cent), "label")
        .select(col("label"), col("vec_id"),
          org.apache.spark.sql.graft.VectorOps.vec_dist_sq(
            col("embedding"), col("cvec")).as("dist_sq"))
      val w = Window.partitionBy("label").orderBy(col("dist_sq").asc, col("vec_id").asc)
      dist.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select("label", "vec_id", "rn")
        .orderBy("label", "rn")
    }),

    "sim_ann_lsh" -> ((s, d) => {
      // ANN scale path: 8 seeded pseudo-random hyperplanes → sign-bit bucket;
      // candidates = query set (vec_id < 10) equi-joined to every bucket
      // within Hamming distance 3 of its own (multi-probe LSH: 93 probes per
      // query — the standard recall boost that costs probe-count× lookups
      // instead of extra hash tables; AnnRecallSpec pins recall@10 >= 0.6,
      // measured 0.69 — see [[ProbeMasks]] for the radius/planes tradeoff).
      // Deterministic AND portable (round 5): hyperplane components are
      // k/1000.0 with k from a pure-integer multiplicative hash — the same
      // k literals embed in the DuckDB oracle, and since the fold order of
      // the codegen'd vec_dot_fd matches the oracle's seeded list_reduce,
      // the sign decisions (hence buckets, candidates and ranking) are
      // bit-identical cross-engine: the ANN bucketing itself is now under
      // the driver's hash gate. Each plane is an array<double> LITERAL
      // projected through vec_dot_fd — the bucket is 8 sign-bits assembled
      // with when/shiftleft, entirely inside whole-stage codegen.
      val planeMat: Array[Array[Double]] =
        Array.tabulate(8, 64)((p, j) => planeK(p, j).toDouble / 1000.0)
      import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_dot_fd, vec_norm}
      val bucketCol = planeMat.zipWithIndex.map { case (pl, p) =>
        when(vec_dot_fd(col("embedding"), typedLit(pl.toSeq)) >= 0.0,
          lit(1L << (7 - p))).otherwise(lit(0L))
      }.reduce(_ + _)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
        bucketCol.as("bucket"), vec_norm(col("embedding")).as("nrm"))
      // multi-probe masks: all 8-bit patterns with <= 3 bits set (93 per
      // query) — each query probes its own bucket plus every bucket whose
      // sign pattern differs in at most 3 hyperplanes
      val probeMasks = ProbeMasks
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("bucket").as("qb0"), col("nrm").as("qn"))
        .withColumn("mask", explode(lit(probeMasks.toArray)))
        .withColumn("qb", col("qb0").bitwiseXOR(col("mask")))
      q.join(e, col("qb") === col("bucket") && col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nn"),
          (vec_dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("nn").asc)))
        .where(col("rn") <= 10)
        .select("qid", "nn", "rn")
        .orderBy("qid", "rn")
    }),

    "sim_ann_ivf" -> ((s, d) => {
      // IVF (inverted-file) ANN — the other scale path the north-star names
      // beside LSH: a coarse quantizer of K=16 centroids partitions vectors
      // into inverted lists; queries probe only the nprobe=4 nearest lists.
      // Fully declarative and deterministic: seeds = the 16 vectors ranked
      // first by the PORTABLE affine hash of vec_id (round 6 — previously
      // xxhash64, which had no SQL form; D5 — no RNG), one Lloyd refinement
      // with exact-decimal component means (same pattern as
      // sim_knn_per_label), assignment/probing by codegen'd vec_dot against
      // a broadcast 16-row centroid frame. With the portable seed hash the
      // ENTIRE pipeline — seed ranking, both assignments, the decimal
      // Lloyd means, probing and final ranking — is SQL-expressible, so
      // the IVF ANN path carries a full DuckDB oracle ([[annIvfOracle]])
      // exactly like sim_ann_lsh since round 5. At 100 TB lists are
      // disk-partitioned by centroid id and only nprobe/K of the corpus is
      // ever scanned.
      import org.apache.spark.sql.graft.VectorOps.{vec_dot, vec_norm}
      // seeds + Lloyd + assignment live in [[ivfQuantize]] (round 13 —
      // shared with dedup_semdedup); only the final list assignment scans
      // every vector, and both internal collects are bounded 16-row
      // centroid frames (the no-driver-collect rule's sanctioned case)
      val (refined, lists) = ivfQuantize(s, d)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      // queries probe the nprobe=4 nearest refined centroids' lists
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val probes = q.crossJoin(broadcast(refined))
        .select(col("qid"), col("qe"), col("qn"), col("cid"),
          (vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("qc"))
        .withColumn("pk", row_number().over(
          Window.partitionBy("qid").orderBy(col("qc").desc, col("cid").asc)))
        .where(col("pk") <= 4)
        .select("qid", "qe", "qn", "cid")
      // the probed lists join BROADCASTS the probe side (nqueries × nprobe
      // rows — bounded and tiny vs the corpus-sized lists): without the
      // hint Catalyst sort-merge-joins on cid, shuffling the ENTIRE list
      // table for a 40-row probe frame (VERDICT r15 #3; the ivfpq probe
      // join set the precedent, pinned in PlanRegressionSpec)
      broadcast(probes).join(lists, Seq("cid"))
        .where(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nn"),
          (vec_dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("nn").asc)))
        .where(col("rn") <= 10)
        .select("qid", "nn", "rn")
        .orderBy("qid", "rn")
    }),

    "sim_ann_pq" -> ((s, d) => {
      // Product quantization — the third ANN leg beside LSH and IVF, and
      // the COMPRESSION one: each vector encodes as PqM one-byte codebook
      // indices (PqM bytes vs 4x the embedding dim of raw floats — see the
      // [[PqM]] doc for the measured geometry), and a query ranks the whole
      // corpus from a per-query lookup table of subspace distances
      // (asymmetric distance computation) without touching original vectors.
      // At 100 TB the codes table is what an IVF-PQ index stores in its
      // inverted lists: the exhaustive ADC scan here is the in-list scan,
      // far less I/O than raw embeddings; sim_ann_ivfpq registers exactly
      // that pruned composite. Fully deterministic and
      // SQL-expressible (same recipe as IVF since round 6): seeds by
      // portable affine hash of vec_id, one Lloyd round with exact-decimal
      // means, min-L2 assignments tied to the lower code, ADC sums folded
      // in fixed subspace order so both engines run the identical IEEE
      // sequence. The two collects are the PqK-seed / PqM×PqK-codeword
      // frames — bounded by construction, the sanctioned centroid pattern.
      val (subs, cb1, codes) = pqTrained(s, d)
      // per-query ADC lookup table: distance from each query slice to each
      // refined codeword — PqM * PqK rows per query, broadcast to the scan
      val lut = pqLut(subs, cb1)
      // EXHAUSTIVE ADC over the one-file codes spill: spread so the
      // corpus-wide lookup join + fold parallelize (Sources.spreadScan,
      // r21 — 1.24 → 1.02 s; the PRUNED composites deliberately do NOT
      // spread: their candidate sets are nprobe/K of the corpus, and the
      // extra exchange stage measured a net LOSS there, probes +0.3-0.6 s)
      adcRank(Sources.spreadScan(s, codes).join(broadcast(lut), Seq("m", "code"))
        .where(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nn"), col("m"), col("dqc")))
    }),

    "sim_ann_ivfpq" -> ((s, d) => {
      // THE 100 TB ANN shape (VERDICT r6 #1): IVF's coarse quantizer prunes
      // — IvfPqK inverted lists, only IvfPqProbe probed per query — and
      // PQ's ADC lookup-table scan ranks INSIDE the probed lists, so a
      // query touches nprobe/K of the corpus and reads PqM-byte codes
      // instead of raw vectors: pruned AND compressed, the composite both
      // legs' comments have named since round 6. All-L2 (the canonical
      // IVF-PQ objective): the coarse quantizer here assigns and probes by
      // vec_dist_sq, not sim_ann_ivf's cosine, so coarse pruning and ADC
      // ranking optimize the same metric and AnnRecallSpec measures it
      // against the exact-L2 ground truth like sim_ann_pq. Same
      // determinism recipe as both legs (portable affine seed hash, one
      // exact-decimal Lloyd round, ties to the lower id, seeded IEEE
      // folds), so the composite inherits a full DuckDB oracle
      // ([[annIvfPqOracle]]) mechanically. Collects: the IvfPqK-seed and
      // IvfPqK-centroid frames — bounded constants, the sanctioned
      // pattern. At scale the codes table lives PARTITIONED BY list id, so
      // probing is a partition-pruned read; here the broadcast probe
      // equi-join on cid plays that role (PLANS.md: the codes scan joins
      // only the probed candidate set, never the whole corpus).
      import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
      import s.implicits._
      val (subs, cb1, codes) = pqTrained(s, d)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      // coarse quantizer: build-once like the PQ index (see
      // [[ivfPqCoarseIndex]]) — centroids and list assignments are index
      // artifacts, only probing is per-query work
      val (centroidRows, listsPath) = ivfPqCoarseIndex(s, d)
      val refined = centFrame(centroidRows)(s)
      val lists = s.read.parquet(listsPath)
      // queries probe the IvfPqProbe nearest coarse centroids by L2
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(refined)
        .select(col("qid"), col("cid"), vec_dist_sq(col("qe"), col("ce")).as("dd"))
        .withColumn("pk", row_number().over(
          Window.partitionBy("qid").orderBy(col("dd").asc, col("cid").asc)))
        .where(col("pk") <= IvfPqProbe)
        .select("qid", "cid")
      // candidate set = probed lists only, pruned BEFORE the codes join:
      // the tiny (qid, cid) probe frame broadcasts onto the list
      // assignment, and only that pruned candidate frame reaches the codes
      // scan — the flat-table twin of reading nprobe list partitions
      val cand = lists.join(broadcast(probes), Seq("cid"))
        .where(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nn"))
      val lut = pqLut(subs, cb1)
      adcRank(codes.join(cand, codes("vec_id") === cand("nn"))
        .join(broadcast(lut), Seq("qid", "m", "code"))
        .select(col("qid"), col("nn"), col("m"), col("dqc")))
    }),

    "sim_ann_ivfpq_residual" -> ((s, d) => {
      // RESIDUAL-encoding IVFADC (round 19, third session) — the published
      // system proper (Jégou et al. 2011 §IV: "IVFADC" encodes the residual
      // r(x) = x − q1(x), not x): sim_ann_ivfpq quantizes raw vectors, so
      // PQ spends its 256 codewords per subspace covering the WHOLE data
      // spread; encoding residuals re-centers every list at the origin and
      // the same codebook budget covers only the within-list spread —
      // strictly less quantization error at identical index geometry and
      // identical probe cost. The price is query-side: the ADC lookup
      // table depends on the PROBED LIST (query residual q − c_list per
      // list), so LUT work is nprobe× the raw-vector probe's — the
      // documented IVFADC trade, still bounded (queries × nprobe × M × K)
      // and broadcast here. Residuals cast back to float (one IEEE
      // round-to-nearest per component, mirrored exactly in the oracle),
      // so the entire trained-PQ machinery — seeds, Lloyd, assignment,
      // spilled codes — applies to the residual frame verbatim.
      import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val (centroidRows, listsPath) = ivfPqCoarseIndex(s, d)
      val refined = centFrame(centroidRows)(s)
      val lists = s.read.parquet(listsPath)
      val (cbRows, codesPath) = pqResidIndex(s, d)
      val cb1 = cbFrame(cbRows)(s)
      val codes = s.read.parquet(codesPath)
      // queries probe the IvfPqProbe nearest coarse centroids by L2,
      // carrying the query vector through for the per-list residual
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(refined)
        .select(col("qid"), col("qe"), col("cid"),
          vec_dist_sq(col("qe"), col("ce")).as("dd"))
        .withColumn("pk", row_number().over(
          Window.partitionBy("qid").orderBy(col("dd").asc, col("cid").asc)))
        .where(col("pk") <= IvfPqProbe)
        .select("qid", "qe", "cid")
      // per-(query, probed list) residual LUT: slices of q − c_list vs the
      // residual codebook — queries × nprobe × PqM × PqK rows, broadcast
      val qres = probes.join(refined, "cid")
        .select(col("qid"), col("cid"), expr(
          "transform(arrays_zip(qe, ce), " +
          "x -> CAST(CAST(x.qe AS DOUBLE) - x.ce AS FLOAT))").as("qr"))
      val lut = qres.select(col("qid"), col("cid"), posexplode(expr(
          s"transform(sequence(0, ${PqM - 1}), m -> slice(qr, m * $PqDim + 1, $PqDim))"))
          .as(Seq("m", "qsub")))
        .join(cb1, "m")
        .select(col("qid"), col("cid"), col("m"), col("code"),
          vec_dist_sq(col("qsub"), col("cw")).as("dqc"))
      // candidates keep their list id: a code's ADC distance is defined
      // against the LUT of the list the vector lives in
      val cand = lists.join(broadcast(probes.select("qid", "cid")), Seq("cid"))
        .where(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("cid"), col("vec_id").as("nn"))
      adcRank(codes.join(cand, codes("vec_id") === cand("nn"))
        .join(broadcast(lut), Seq("qid", "cid", "m", "code"))
        .select(col("qid"), col("nn"), col("m"), col("dqc")))
    }),

    "sim_ann_sq8" -> ((s, d) => {
      // SCALAR quantization, SQ8 (round 19, third session — the FAISS
      // `ScalarQuantizer` QT_8bit family): each dimension quantizes
      // independently to one byte against per-dimension [min, max] —
      // 4× compression like PQ's code table but with NO codebook training
      // at all (the "trained" state is 2×dim floats from ONE exact
      // min/max aggregate pass; at 100 TB that is a single map-side
      // combine over the corpus, vs PQ's Lloyd rounds). Queries rank by
      // asymmetric distance to the DECODED corpus (reconstruct-and-score,
      // SQ's standard query path), folded per dimension in fixed order so
      // both engines run the identical IEEE sequence. Where it sits in
      // the family: finer than PQ per byte at low dimension counts (8
      // bits/dim vs PqM/dim codes), no training artifacts to drift, but
      // codes are dim bytes vs PQ's M — the classic recall/size trade
      // production stacks pick per collection.
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      // per-dimension min/max: a dim-bounded constant (the sanctioned
      // collect pattern — this IS the entire trained state of SQ8),
      // memoized per fixture like the other quantizer artifacts
      // (ADVICE r19); bounds train on the full corpus incl. the query
      // vectors — see the sq8Train scaladoc
      val (mns, mxs, dim) = sq8Train(s, d)
      val mnl = typedLit(mns)
      val mxl = typedLit(mxs)
      // single-row-group corpus scan: without the spread the whole
      // reconstruct-and-score fold runs in one task (r21)
      val codes = Sources.spreadScan(s, e).withColumn("mnl", mnl).withColumn("mxl", mxl)
        .select(col("vec_id"), col("mnl"), col("mxl"), expr(
          s"transform(sequence(1, $dim), i -> CAST(round(" +
          "CASE WHEN element_at(mxl, i) = element_at(mnl, i) THEN 0.0 " +
          "ELSE (CAST(element_at(embedding, i) AS DOUBLE) - element_at(mnl, i)) " +
          "* 255.0 / (element_at(mxl, i) - element_at(mnl, i)) END) AS INT))")
          .as("codes"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      codes.join(broadcast(q), codes("vec_id") =!= q("qid"))
        .select(col("qid"), col("vec_id").as("nn"), expr(
          s"aggregate(transform(sequence(1, $dim), i -> " +
          "(CAST(element_at(qe, i) AS DOUBLE) - (element_at(mnl, i) + " +
          "CAST(element_at(codes, i) AS DOUBLE) * (element_at(mxl, i) - element_at(mnl, i)) / 255.0)) * " +
          "(CAST(element_at(qe, i) AS DOUBLE) - (element_at(mnl, i) + " +
          "CAST(element_at(codes, i) AS DOUBLE) * (element_at(mxl, i) - element_at(mnl, i)) / 255.0))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("dd"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("dd").asc, col("nn").asc)))
        .where(col("rn") <= 10)
        .select("qid", "nn", "rn")
        .orderBy("qid", "rn")
    }),

    "sim_range_search" -> ((s, d) => {
      // RANGE search (round 19, third session — FAISS `range_search` over
      // an IVF): ALL corpus vectors within exact squared-L2 ≤ RangeEpsSq
      // of each query, candidates restricted to the IvfPqProbe nearest
      // coarse lists. Top-k answers "the 10 closest whatever they are";
      // range answers "everything this similar" — the contract duplicate
      // sweeps and radius-based candidate pulls actually need, with
      // genuinely VARIABLE per-query cardinality (zero rows is a legal
      // answer). Exact distances on the probed candidates (no PQ): the
      // probed fraction is nprobe/K of the corpus and the filter needs no
      // ranking window at all — a scan-shaped select, cheaper than top-k.
      import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val (centroidRows, listsPath) = ivfPqCoarseIndex(s, d)
      val refined = centFrame(centroidRows)(s)
      val lists = s.read.parquet(listsPath)
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qef"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qe"))
        .crossJoin(refined)
        .select(col("qid"), col("qe"), col("cid"),
          vec_dist_sq(col("qef"), col("ce")).as("dd"))
        .withColumn("pk", row_number().over(
          Window.partitionBy("qid").orderBy(col("dd").asc, col("cid").asc)))
        .where(col("pk") <= IvfPqProbe)
        .select("qid", "qe", "cid")
      // one-file lists spill: spread so the exact-distance filter over the
      // probed candidates parallelizes (r21)
      Sources.spreadScan(s, lists).join(broadcast(probes), Seq("cid"))
        .where(col("qid") =!= col("vec_id"))
        .join(e.select(col("vec_id"), col("embedding").as("ne")), Seq("vec_id"))
        .where(vec_dist_sq(col("ne"), col("qe")) <= RangeEpsSq)
        .select(col("qid"), col("vec_id").as("nn"))
        .orderBy("qid", "nn")
    }),

    "sim_ann_recall_eval" -> ((s, d) => {
      // Index-quality regression as an OPERATOR, not just a CI spec:
      // recall@10 of the IVF-PQ composite against the exact L2 top-10 per
      // probe query — the evaluation a production ANN deployment runs
      // after every index rebuild (recall cratering in the pipeline means
      // a broken list assignment or LUT key, caught where it happens).
      // The exact side is the bounded brute-force kernel (10 broadcast
      // probes × corpus, per-query top-10 via the rank window — the
      // sim_topk_cosine scale shape, L2 metric to match what ADC
      // approximates); the ANN side is the composite itself. Output is
      // INTEGER hits-of-10 per query (D5) — the float recall mean is
      // derivable, the driver hash stays exact.
      import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
      val ann = queries("sim_ann_ivfpq")(s, d).select(col("qid"), col("nn"))
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          // vec_dist_sq's second operand is ARRAY<DOUBLE>; float→double is
          // exact, so the cast cannot perturb any distance
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("dd").asc, col("nn").asc)
      val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nn"),
          vec_dist_sq(col("embedding"), col("qe")).as("dd"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .select("qid", "nn")
      // both the ANN top-10 frame (10 queries × 10) and the per-query hit
      // counts are structurally ≤ 100 rows — broadcast, never SMJ
      val hits = exact.join(broadcast(ann), Seq("qid", "nn"))
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      q.select("qid").join(broadcast(hits), Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("qid")
    })
  )

  /** Memoized per-(process, fixture) IVF-PQ coarse index: refined
    * centroid rows (IvfPqK bounded constants) and the spilled (vec_id,
    * cid) list-assignment path — the inverted-file index is a build-once
    * artifact exactly like the PQ codes; shared by sim_ann_ivfpq and the
    * persisted-index builder [[AnnIndex]]. Keyed on [[Sources.fixtureKey]]
    * (path + size + mtime), not the bare path, so data rewritten in place
    * can never be served a stale index (ADVICE r7).
    */
  private[graft] def ivfPqCoarseIndex(s: SparkSession, d: String): (Seq[Seq[Double]], String) =
    Artifact.memo("ivfpq_coarse", Sources.fixtureKey(d, "embeddings")) {
      trainIvfPqCoarse(s, d, embeddings(s, d).select(col("vec_id"), col("embedding")))
    }

  private def centFrame(vecs: Seq[Seq[Double]])(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    broadcast(vecs.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("cid", "ce"))
  }

  /** Min-L2 centroid assignment for the IVF-PQ coarse quantizer — since
    * round 11 ONE map-side `vec_argmin_dist` against the centroid-rows
    * LITERAL: the former corpus×K broadcast nested-loop + min_by
    * aggregate is fused into a single codegen'd expression, so the
    * assignment has no row explosion, no aggregation, and no exchange at
    * all (PlanRegressionSpec pins the exchange-free shape; the fused
    * argmin replicates min_by's (dist, cid) order bit for bit — same
    * distance fold, strict-less keeps the lowest position on ties). cids
    * are the contiguous 1-based positions [[centFrame]] assigns, so the
    * returned position IS the cid. Package-private so the spec pins the
    * shape the trainer itself calls.
    */
  private[graft] def ivfPqAssign(e: DataFrame, centRows: Seq[Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_argmin_dist
    e.select(col("vec_id"), col("embedding"),
      vec_argmin_dist(col("embedding"), typedLit(centRows)).as("cid"))
  }

  /** One-time coarse training for sim_ann_ivfpq: IvfPqK seed vectors by
    * portable-hash rank (bounded collect), one exact-decimal Lloyd round,
    * min-L2 assignment. Seeds and the Lloyd pass run on the
    * [[annTrainPredSql]] hash-sample; only the final list assignment scans
    * the full corpus (VERDICT r10 #2). Returns the refined centroid rows
    * and the spilled list-assignment path.
    */
  private def trainIvfPqCoarse(s: SparkSession, d: String,
      e: DataFrame): (Seq[Seq[Double]], String) = {
    import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
    import s.implicits._
    implicit val sp: SparkSession = s
    val te = e.where(expr(annTrainPredSql))
    val seedRows = te.withColumn("hk",
        expr(s"pmod(pmod(vec_id, ${SigP}L) * ${sigA(22)}L + ${sigB(22)}L, ${SigP}L)"))
      .orderBy(col("hk"), col("vec_id")).limit(IvfPqK)
      .select(col("embedding")).as[Array[Float]].collect()
    // one Lloyd round over the sample = one assign + exact-decimal means;
    // run IvfPqLloydRounds of them (sample-only — the corpus never pays)
    def lloyd(cent: Seq[Seq[Double]]): Seq[Seq[Double]] =
      ivfPqAssign(te, cent)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg((sum(dec(col("v"), 27, 10)).cast(DoubleType) / count(lit(1))).as("c"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("ce"))
        .orderBy("cid")
        .select(col("ce")).as[Seq[Double]].collect().toSeq
    val refinedRows = (1 to IvfPqLloydRounds).foldLeft(
      seedRows.toSeq.map(_.map(_.toDouble).toSeq)) {
      (cent, _) => lloyd(cent)
    }
    val path = Sources.tmpUnique("ivfpq_lists")
    ivfPqAssign(e, refinedRows).select("vec_id", "cid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    (refinedRows, path)
  }

  private def cbFrame(rows: Seq[(Int, Int, Seq[Double])])(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    broadcast(rows.toDF("m", "code", "cw"))
  }

  /** PQ index shared by sim_ann_pq and sim_ann_ivfpq: subspace slices,
    * the refined codebook (a broadcast PqM×PqK constant frame), and the
    * per-vector codes (read from the build-once spill). Deterministic and
    * SQL-expressible ([[annPqOracle]] mirrors it CTE by CTE): seeds by
    * portable affine hash of vec_id, one Lloyd round with exact-decimal
    * means, min-L2 assignments tied to the lower code. The two collects
    * are the PqK-seed / PqM×PqK-codeword frames — bounded by
    * construction, the sanctioned centroid pattern.
    */
  private[graft] def pqTrained(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val (refinedRows, codesPath) = pqIndex(s, d)
    (pqSubspaces(s, d), cbFrame(refinedRows)(s), s.read.parquet(codesPath))
  }

  /** Subspace slices of every embedding — (vec_id, m, sub). */
  private[graft] def pqSubspaces(s: SparkSession, d: String): DataFrame =
    subsOf(embeddings(s, d))

  /** Subspace slices of an arbitrary (vec_id, embedding) frame — the PQ
    * leg runs over raw vectors (sim_ann_pq / sim_ann_ivfpq) or over the
    * coarse residuals (sim_ann_ivfpq_residual) through the same slicer.
    */
  private[graft] def subsOf(src: DataFrame): DataFrame =
    src.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> slice(embedding, m * $PqDim + 1, $PqDim))"))
      .as(Seq("m", "sub")))

  /** Coarse residuals r(x) = x − q1(x) as a (vec_id, embedding) frame,
    * cast back to float (one IEEE round-to-nearest per component — the
    * oracle mirrors the cast exactly): the input of the residual PQ leg.
    * Derived from the build-once coarse artifacts (centroid rows + the
    * spilled list assignment), never retrained here.
    */
  private[graft] def residualFrame(s: SparkSession, d: String): DataFrame = {
    val (centroidRows, listsPath) = ivfPqCoarseIndex(s, d)
    implicit val sp: SparkSession = s
    embeddings(s, d).select(col("vec_id"), col("embedding"))
      .join(s.read.parquet(listsPath), "vec_id")
      .join(centFrame(centroidRows), "cid")
      .select(col("vec_id"), expr(
        "transform(arrays_zip(embedding, ce), " +
        "x -> CAST(CAST(x.embedding AS DOUBLE) - x.ce AS FLOAT))").as("embedding"))
  }

  /** Memoized RESIDUAL PQ index (codebook rows + codes spill) — the same
    * build-once artifact contract as [[pqIndex]], trained on
    * [[residualFrame]] instead of raw vectors.
    */
  private[graft] def pqResidIndex(s: SparkSession, d: String): (Seq[(Int, Int, Seq[Double])], String) =
    Artifact.memo("pq_resid", Sources.fixtureKey(d, "embeddings"))(
      trainPq(s, residualFrame(s, d)))

  /** Memoized SQ8 trained state — the per-dimension (min, max) bounds and
    * the dimension count (ADVICE r19: the sq8 key recomputed these driver
    * actions every invocation, inconsistent with the other quantizer
    * artifacts' build-once contract). Keyed on the fixture fingerprint
    * like [[pqIndex]]. The bounds deliberately train on the FULL corpus
    * including the 10 query vectors — queries are corpus members in the
    * probe convention, and SQ bounds are corpus statistics, not
    * per-query state; documented rather than silently changed, since the
    * oracle trains on the identical set.
    */
  private[graft] def sq8Train(s: SparkSession, d: String): (Seq[Double], Seq[Double], Int) =
    Artifact.memo("sq8", Sources.fixtureKey(d, "embeddings")) {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val mm = e.select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
        .orderBy("pos").collect()
      (mm.map(_.getFloat(1).toDouble).toSeq, mm.map(_.getFloat(2).toDouble).toSeq, dim)
    }

  /** Memoized per-(process, fixture) PQ index: the trained codebook rows
    * (a bounded PqM×PqK constant set) and the spilled codes-table path —
    * the persisted-index architecture PQ actually has at 100 TB: codebooks
    * and codes are BUILD-ONCE artifacts (nobody retrains per query);
    * queries only compute their lookup tables and scan codes. Shared by the
    * ANN queries and [[AnnIndex]]. Training is fully deterministic, so
    * memoization cannot change any result.
    */
  private[graft] def pqIndex(s: SparkSession, d: String): (Seq[(Int, Int, Seq[Double])], String) =
    Artifact.memo("pq_index", Sources.fixtureKey(d, "embeddings"))(
      trainPq(s, embeddings(s, d).select(col("vec_id"), col("embedding"))))

  /** One-time PQ training for [[pqTrained]]: returns the refined codebook
    * rows and the spilled codes-table path.
    */
  private[graft] def trainPq(s: SparkSession,
      src: DataFrame): (Seq[(Int, Int, Seq[Double])], String) = {
    import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
    import s.implicits._
    implicit val sp: SparkSession = s
    // seeds + Lloyd on the hash-sample; only the final codes assignment
    // below scans every vector (VERDICT r10 #2)
    val subs = subsOf(src)
    val tsubs = subs.where(expr(annTrainPredSql))
    val seedRows = src.where(expr(annTrainPredSql)).withColumn("hk",
        expr(s"pmod(pmod(vec_id, ${SigP}L) * ${sigA(21)}L + ${sigB(21)}L, ${SigP}L)"))
      .orderBy(col("hk"), col("vec_id")).limit(PqK)
      .select(col("embedding")).as[Array[Float]].collect()
    val cb0rows: Seq[(Int, Int, Seq[Double])] = for {
      (v, i) <- seedRows.toSeq.zipWithIndex; m <- 0 until PqM
    } yield (m, i + 1, v.slice(m * PqDim, (m + 1) * PqDim).map(_.toDouble).toSeq)
    // nearest codeword per (vector, subspace) — since round 11 ONE
    // map-side vec_argmin_dist against a broadcast PqM-row frame of
    // per-subspace PARALLEL (codes, cws) arrays (code-ascending, so the
    // argmin position maps back through element_at even when a refined
    // codebook is sparse): the former n×M×K row explosion + min_by
    // aggregate + its exchange are gone — the assignment is a join
    // fan-out of M rows and a codegen'd expression, and `sub` rides
    // along for free (the Lloyd step no longer re-joins to fetch it)
    def assign(cbRows: Seq[(Int, Int, Seq[Double])], src: DataFrame): DataFrame = {
      import org.apache.spark.sql.graft.VectorOps.vec_argmin_dist
      val byM = broadcast(cbRows.groupBy(_._1).toSeq.map { case (m, rs) =>
        val sorted = rs.sortBy(_._2)
        (m, sorted.map(_._2), sorted.map(_._3))
      }.toDF("m", "codes", "cws"))
      src.join(byM, "m")
        .select(col("vec_id"), col("m"), col("sub"),
          element_at(col("codes"), vec_argmin_dist(col("sub"), col("cws"))).as("code"))
    }
    // one Lloyd refinement: exact-decimal per-dimension means per
    // (subspace, code); codes that lose every member simply drop out —
    // mirrored by the oracle's GROUP BY, no re-indexing needed
    val refined = assign(cb0rows, tsubs)
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy("m", "code", "pos")
      .agg((sum(dec(col("v"), 27, 10)).cast(DoubleType) / count(lit(1))).as("c"))
      .groupBy("m", "code")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cw"))
      .as[(Int, Int, Seq[Double])].collect()
    val path = Sources.tmpUnique("pq_codes")
    assign(refined.toSeq, subs).select("vec_id", "m", "code")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    (refined.toSeq, path)
  }

  /** Per-query ADC lookup table: L2 distance from each query sub-vector to
    * each refined codeword — PqM × PqK rows per query, a broadcast-sized
    * constant frame keyed (qid, m, code).
    */
  private def pqLut(subs: DataFrame, cb1: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.VectorOps.vec_dist_sq
    subs.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
      .join(cb1, "m")
      .select(col("qid"), col("m"), col("code"),
        vec_dist_sq(col("qsub"), col("cw")).as("dqc"))
  }

  /** Shared ADC ranking tail: fold per-subspace table distances into the
    * approximate distance and keep each query's top 10. The fold runs in
    * FIXED subspace order (array_sort on the unique m, then a 0.0-seeded
    * fold) — a bare sum() would re-associate float addition
    * nondeterministically. Input columns: qid, nn, m, dqc.
    */
  private[graft] def adcRank(perSub: DataFrame): DataFrame =
    adcTop(perSub, 10).select("qid", "nn", "rn").orderBy("qid", "rn")

  /** [[adcRank]] generalized to an arbitrary per-query cutoff — the
    * refined probes keep an IvfPqRefinePool-deep ADC pool instead of the
    * final 10, then re-rank that pool by exact distance.
    */
  private[graft] def adcTop(perSub: DataFrame, k: Int): DataFrame =
    perSub.groupBy("qid", "nn")
      .agg(expr("aggregate(transform(array_sort(collect_list(struct(m, dqc))), " +
        "x -> x.dqc), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("adist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist").asc, col("nn").asc)))
      .where(col("rn") <= k)

  /** DuckDB SQL fragment for the left-to-right double dot product of two
    * float lists — bit-identical to the native vec_dot fold (proven pattern:
    * fn_array's norm_sq hash-matches cross-engine), so even cosine outputs
    * can be driver-verified. The fold is EXPLICITLY seeded with 0.0 via
    * list_prepend (ADVICE.md): an unseeded list_reduce errors outright on a
    * zero-length list (vec_dot returns 0.0) and its implicit first-element
    * seed differs from Spark's 0.0-seeded fold when the leading product is
    * -0.0 (0.0 + -0.0 = +0.0 under IEEE). Verified in DuckDB 1.0: seeded
    * fold gives 0.0 for [] and +0.0 for a leading -0.0 — exactly vec_dot.
    */
  private def seededFold(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  /** The serial NN-descent CTE chain (the WITH body, ending at
    * s$NndRounds/g$NndRounds), generated from the SAME round count,
    * offsets, build width, and sample size as [[nndGraphFrame]] (the BPE
    * roundCtes convention — a dial change cannot desynchronize query and
    * oracle); `%` == pmod on the non-negative operands, cosine via the
    * shared bit-identical fold. Per round: rs = the deterministic mhash
    * ρK-sample of reverse edges per (vertex, flag class), bn/bo = the
    * local-join sets, c = local-join pairs (new×new both directions via
    * the ordered self-join, new×old both ways) ∪ the retained list, g =
    * top-NndBuildK with the fresh-edge flag recomputed by anti-lookup.
    * Shared by the sim_ann_graph_nnd oracle and the persisted graph-index
    * oracles ([[GraphAnnIndex]]).
    */
  private[graft] def nndChainCtes: String = nndChainCtesFor("embeddings")

  /** [[nndChainCtes]] over an arbitrary source CTE/table name (round 18:
    * the append oracle runs the chain over the base slice `bemb`).
    */
  private[graft] def nndChainCtesFor(src: String): String = {
    val offs = NndInitOffsets.mkString(", ")
    val sb = new StringBuilder
    sb ++= s"nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $src), "
    sb ++= "g0 AS MATERIALIZED (SELECT e.vec_id AS v, " +
      s"(e.vec_id + o.off) % nn.n AS nb, TRUE AS isnew FROM $src e CROSS JOIN nn " +
      s"CROSS JOIN (SELECT unnest([$offs]) AS off) o)"
    for (r <- 1 to NndRounds) {
      val p = r - 1
      // reverse-sampled in UNALIASED coordinates first (no column renames
      // in the same scope as the window — lateral-alias ambiguity), then
      // flipped: sample vertex = the edge TARGET, key = source·131071 +
      // target, tiebreak source asc
      sb ++= s", rs$r AS (SELECT nb AS v, v AS nb, isnew FROM (" +
        "SELECT v, nb, isnew, row_number() OVER (" +
        "PARTITION BY nb, isnew ORDER BY " +
        "((v * 131071 + nb) % 1000000007) * 2654435761 % 1000000007, v) AS srn " +
        s"FROM g$p) WHERE srn <= $NndSampleK)"
      sb ++= s", bn$r AS (SELECT DISTINCT v, nb FROM (" +
        s"SELECT v, nb FROM g$p WHERE isnew UNION ALL " +
        s"SELECT v, nb FROM rs$r WHERE isnew))"
      sb ++= s", bo$r AS (SELECT DISTINCT v, nb FROM (" +
        s"SELECT v, nb FROM g$p WHERE NOT isnew UNION ALL " +
        s"SELECT v, nb FROM rs$r WHERE NOT isnew))"
      sb ++= s", c$r AS (SELECT DISTINCT v, nb FROM (" +
        s"SELECT x.nb AS v, y.nb AS nb FROM bn$r x JOIN bn$r y " +
        "ON x.v = y.v AND x.nb != y.nb " +
        s"UNION ALL SELECT x.nb AS v, y.nb AS nb FROM bn$r x JOIN bo$r y " +
        "ON x.v = y.v AND x.nb != y.nb " +
        s"UNION ALL SELECT y.nb AS v, x.nb AS nb FROM bn$r x JOIN bo$r y " +
        "ON x.v = y.v AND x.nb != y.nb " +
        s"UNION ALL SELECT v, nb FROM g$p) WHERE v != nb)"
      sb ++= s", s$r AS MATERIALIZED (SELECT v, nb, row_number() OVER " +
        "(PARTITION BY v ORDER BY cos DESC, nb ASC) AS rn FROM " +
        s"(SELECT c.v, c.nb, ${oDot("a", "b")} / (${oNorm("a")} * ${oNorm("b")}) AS cos " +
        s"FROM c$r c JOIN $src a ON a.vec_id = c.v " +
        s"JOIN $src b ON b.vec_id = c.nb))"
      sb ++= s", g$r AS MATERIALIZED (SELECT s.v, s.nb, " +
        s"(p.nb IS NULL) AS isnew FROM (SELECT v, nb FROM s$r " +
        s"WHERE rn <= $NndBuildK) s LEFT JOIN g$p p ON s.v = p.v AND s.nb = p.nb)"
    }
    sb.toString
  }

  private[graft] def oDot(a: String, b: String): String =
    oDotE(s"$a.embedding", s"$b.embedding")

  private[graft] def oNorm(t: String): String = oNormE(s"$t.embedding")

  /** [[oDot]]/[[oNorm]] over explicit list-expressions (the IVF oracle dots
    * query vectors against derived centroid lists, not `alias.embedding`).
    */
  private[graft] def oDotE(a: String, b: String): String =
    seededFold(s"list_transform(list_zip($a, $b), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))")

  private[graft] def oNormE(a: String): String =
    s"sqrt(${seededFold(s"list_transform($a, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"

  /** Integer-exact queries (Jaccard, Levenshtein) carry SQL oracles, and so
    * do the cosine kernels (see [[oDot]]); sketch/hash-bucket outputs are
    * scalatest-validated instead.
    */
  /** Shared generated CTE chain computing the portable 60-bit simhash per
    * doc — the SQL mirror of [[simhashes]] (tf → distinct-token fold →
    * tf-weighted votes → bit assembly), used by both simhash oracles.
    */
  private def simhashCte: String = {
    def fold(m: Int) =
      oIntFold("list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))",
        s"(acc, x) -> (acc * $m + x) % 32749")
    val votes = (0 until SimhashBits).map(i =>
      s"CAST(sum(CASE WHEN (h >> $i) & 1 = 1 THEN tf ELSE -tf END) AS BIGINT) AS v$i")
      .mkString(", ")
    val assemble = (0 until SimhashBits)
      .map(i => s"(CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << ${SimhashBits - 1 - i}) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
    "tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
    "th AS (SELECT t, ((f0 * 32768 + f1) * 32768 + f2) * 32768 + f3 AS h FROM " +
    s"(SELECT t, ${fold(31)} AS f0, ${fold(131)} AS f1, ${fold(137)} AS f2, ${fold(139)} AS f3 " +
    "FROM (SELECT DISTINCT t FROM tf))), " +
    s"v AS (SELECT doc_id, $votes FROM tf JOIN th USING (t) GROUP BY doc_id), " +
    s"sh AS (SELECT doc_id, $assemble AS simhash FROM v)"
  }

  /** Generated SQL mirror of [[minhashCandidates]] at threshold 0.8, up to
    * the verified pair list `pr(da, db)` — shared by the near_minhash and
    * cluster_cc oracles. Shingle folds, affine sig hashes, band folds and
    * the integer Jaccard predicate reproduce the Spark pipeline exactly.
    */
  private def minhashPairsCte: String = {
    def fold(m: Int) =
      oIntFold("list_transform(string_split(raw, ''), c -> CAST(ascii(c) AS BIGINT))",
        s"(acc, x) -> (acc * $m + x) % $PortP")
    val sigCols = (0 until NumHashes).map(i =>
      s"min(((g % $SigP) * ${sigA(i)} + ${sigB(i)}) % $SigP) AS h$i").mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val cols = (b * BandSize until (b + 1) * BandSize).map(i => s"h$i")
      val f = cols.tail.foldLeft(cols.head)((acc, h) => s"($acc * 31 + $h)")
      s"SELECT doc_id, $b AS band, $f AS sig FROM sg"
    }.mkString(" UNION ALL ")
    "sh0 AS (SELECT DISTINCT doc_id, raw FROM " +
    "(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)), " +
    "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))) AS raw " +
    "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))), " +
    s"sh AS (SELECT doc_id, (${fold(31)}) * $PortP + (${fold(131)}) AS g FROM sh0), " +
    s"sg AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id), " +
    s"bands AS ($bandSelects), " +
    "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
    "JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id), " +
    "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
    "ix AS (SELECT c.da, c.db, count(*) AS inter FROM cand c " +
    "JOIN sh a ON a.doc_id = c.da JOIN sh b ON b.doc_id = c.db AND b.g = a.g " +
    "GROUP BY 1, 2), " +
    "pr AS (SELECT ix.da, ix.db FROM ix JOIN sz sa ON ix.da = sa.doc_id " +
    "JOIN sz sb ON ix.db = sb.doc_id " +
    "WHERE ix.inter * 1000000 >= (sa.n + sb.n - ix.inter) * 800000)"
  }

  /** Generated SQL mirror of sim_ann_lsh: the 8×64 hyperplane literals
    * (k/1000.0) embed verbatim, per-plane dots run the same 0.0-seeded
    * ascending fold as vec_dot_fd, and multi-probe buckets/ranking follow.
    */
  private def annLshOracle: String = {
    def planeDot(t: String, p: Int): String = {
      val lits = (0 until 64).map(j => planeK(p, j)).mkString("[", ", ", "]")
      seededFold(s"list_transform(list_zip($t.embedding, $lits), " +
        "x -> CAST(x[1] AS DOUBLE) * (CAST(x[2] AS DOUBLE) / 1000.0))")
    }
    def bucketExpr(t: String): String = (0 until 8)
      .map(p => s"(CASE WHEN ${planeDot(t, p)} >= 0.0 THEN ${1L << (7 - p)} ELSE 0 END)")
      .mkString(" + ")
    val masks = ProbeMasks.mkString("[", ", ", "]")
    "WITH b AS (SELECT t.vec_id, t.embedding, " +
    s"CAST(${bucketExpr("t")} AS BIGINT) AS bucket, ${oNorm("t")} AS nrm " +
    "FROM embeddings t), " +
    s"mk AS (SELECT CAST(unnest($masks) AS BIGINT) AS mask), " +
    "q AS (SELECT b.vec_id AS qid, b.embedding, b.nrm, " +
    "xor(b.bucket, mask) AS qb FROM b CROSS JOIN mk WHERE b.vec_id < 10), " +
    "c AS (SELECT q.qid, e.vec_id AS nn, " +
    s"${oDot("q", "e")} / (q.nrm * e.nrm) AS cos " +
    "FROM q JOIN b e ON e.bucket = q.qb AND e.vec_id != q.qid), " +
    "r AS (SELECT qid, nn, row_number() OVER (PARTITION BY qid " +
    "ORDER BY cos DESC, nn ASC) AS rn FROM c) " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM r WHERE rn <= 10 ORDER BY qid, rn"
  }

  /** Generated SQL mirror of sim_ann_ivf (round 6): seed selection by the
    * same portable affine hash, max-cosine assignment via row_number (the
    * declarative twin of max_by(struct(cc, -cid)) — ties to the lower cid),
    * one Lloyd round of exact-decimal means CAST to FLOAT, and nprobe=4
    * probing + ranking. Every float fold is the 0.0-seeded left-to-right
    * IEEE sequence [[oDotE]] proved bit-identical to the codegen'd vec_dot,
    * so assignments, probes and the final ranks match Spark exactly. The
    * refined cid re-index mirrors Spark's orderBy(cid)+zipWithIndex with
    * row_number() OVER (ORDER BY cid) — identical even if a seed list ever
    * came back empty.
    */
  /** Shared CTE chain ending at `b2` — the full-corpus IVF cluster
    * assignment (vec_id, embedding, nrm, cid), the SQL mirror of
    * [[ivfQuantize]]. Consumed by [[annIvfOracle]] and the
    * dedup_semdedup oracle, so both verify the SAME quantizer text.
    */
  private def ivfListsCtes: String = {
    val hk = s"((vec_id % $SigP) * ${sigA(20)} + ${sigB(20)}) % $SigP"
    def assignCte(src: String, cent: String): String =
      s"(SELECT vec_id, embedding, nrm, cid FROM (SELECT e.vec_id, e.embedding, e.nrm, $cent.cid, " +
      s"${oDotE("e.embedding", s"$cent.ce")} / (e.nrm * $cent.cn) AS cc " +
      s"FROM $src e CROSS JOIN $cent) t " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) = 1)"
    s"WITH e AS (SELECT t.vec_id, t.embedding, ${oNorm("t")} AS nrm FROM embeddings t), " +
    // seeds + Lloyd restricted to the annTrainPredSql hash-sample (te) —
    // the round-11 sample-bounded training mirror; b2 assigns the corpus
    s"te AS (SELECT * FROM e WHERE $annTrainPredSql), " +
    "sd AS (SELECT embedding AS ce, CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) AS cid " +
    s"FROM (SELECT vec_id, embedding, $hk AS hk FROM embeddings WHERE $annTrainPredSql) " +
    "ORDER BY hk, vec_id LIMIT 16), " +
    s"c0 AS (SELECT cid, ce, ${oNormE("ce")} AS cn FROM sd), " +
    s"b1 AS ${assignCte("te", "c0")}, " +
    s"cm AS (SELECT cid, pos, ${oDbl("SUM(CAST(v AS DECIMAL(27,10)))")} / count(*) AS c " +
    "FROM (SELECT cid, unnest(embedding) AS v, " +
    "unnest(generate_series(1, len(embedding))) AS pos FROM b1) GROUP BY cid, pos), " +
    "rc AS (SELECT cid, list(CAST(c AS FLOAT) ORDER BY pos) AS ce FROM cm GROUP BY cid), " +
    "c1 AS (SELECT CAST(row_number() OVER (ORDER BY cid) AS INT) AS cid, ce, " +
    s"${oNormE("ce")} AS cn FROM rc), " +
    s"b2 AS ${assignCte("e", "c1")}"
  }

  private def annIvfOracle: String =
    ivfListsCtes + ", " +
    "q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 10), " +
    "pb AS (SELECT qid, qe, qn, cid FROM (SELECT q.qid, q.qe, q.qn, c1.cid, " +
    s"${oDotE("q.qe", "c1.ce")} / (q.qn * c1.cn) AS qc FROM q CROSS JOIN c1) t " +
    "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY qc DESC, cid ASC) <= 4), " +
    "cand AS (SELECT pb.qid, l.vec_id AS nn, " +
    s"${oDotE("pb.qe", "l.embedding")} / (pb.qn * l.nrm) AS cos " +
    "FROM pb JOIN b2 l USING (cid) WHERE l.vec_id != pb.qid), " +
    "r AS (SELECT qid, nn, row_number() OVER (PARTITION BY qid " +
    "ORDER BY cos DESC, nn ASC) AS rn FROM cand) " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM r WHERE rn <= 10 ORDER BY qid, rn"

  /** dedup_semdedup oracle: the same quantizer chain, then the within-
    * cluster earlier-eps-neighbor drop rule.
    */
  private def semDedupOracle: String =
    ivfListsCtes + ", " +
    "dr AS (SELECT DISTINCT b.vec_id FROM b2 a JOIN b2 b " +
    "ON a.cid = b.cid AND a.vec_id < b.vec_id " +
    s"WHERE ${oDotE("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $SemDedupEps) " +
    "SELECT l.vec_id, l.cid, (dr.vec_id IS NOT NULL) AS dropped " +
    "FROM b2 l LEFT JOIN dr ON l.vec_id = dr.vec_id ORDER BY l.vec_id"

  /** DuckDB fragment: squared L2 distance between a float list and a double
    * list as the [[seededFold]] zip the sim_knn oracle proved bit-identical
    * to the codegen'd vec_dist_sq.
    */
  private def oDistE(a: String, b: String): String =
    seededFold(s"list_transform(list_zip($a, $b), " +
      "x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2]))")

  /** Shared PQ-leg CTE chain (ms → subs → sd → cb0 → a1 → cm → cb1 → a2),
    * the SQL mirror of [[pqTrained]]: hash-ranked seeds, min-distance
    * assignment via QUALIFY (ties to the lower code), exact-decimal Lloyd
    * means. `cb1` is the refined codebook, `a2` the per-vector codes —
    * consumed by both [[annPqOracle]] and [[annIvfPqOracle]].
    */
  private def pqLegCtes: String = pqLegCtesOn("embeddings")

  /** [[pqLegCtes]] over an arbitrary (vec_id, embedding) source CTE — the
    * residual oracle trains the identical chain on the coarse residuals.
    */
  private def pqLegCtesOn(srcCte: String): String = {
    val hk = s"((vec_id % $SigP) * ${sigA(21)} + ${sigB(21)}) % $SigP"
    def assignCte(cb: String, src: String): String =
      s"(SELECT vec_id, m, sub, code FROM (SELECT s.vec_id, s.m, s.sub, c.code, " +
      s"${oDistE("s.sub", "c.cw")} AS dist FROM $src s JOIN $cb c ON c.m = s.m) t " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) = 1)"
    s"ms AS (SELECT CAST(unnest(range(0, $PqM)) AS INT) AS m), " +
    "subs AS (SELECT vec_id, m, " +
    s"embedding[m * $PqDim + 1 : m * $PqDim + $PqDim] AS sub " +
    s"FROM $srcCte CROSS JOIN ms), " +
    // seeds + Lloyd restricted to the annTrainPredSql hash-sample — the
    // exact mirror of trainPq's sample-bounded training pass
    s"tsubs AS (SELECT * FROM subs WHERE $annTrainPredSql), " +
    "sd AS (SELECT embedding AS ce, CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) AS code " +
    s"FROM (SELECT vec_id, embedding, $hk AS hk FROM $srcCte WHERE $annTrainPredSql) " +
    s"ORDER BY hk, vec_id LIMIT $PqK), " +
    "cb0 AS (SELECT m, code, " +
    s"list_transform(ce[m * $PqDim + 1 : m * $PqDim + $PqDim], x -> CAST(x AS DOUBLE)) AS cw " +
    "FROM sd CROSS JOIN ms), " +
    s"a1 AS ${assignCte("cb0", "tsubs")}, " +
    s"cm AS (SELECT m, code, pos, ${oDbl("SUM(CAST(v AS DECIMAL(27,10)))")} / count(*) AS c " +
    "FROM (SELECT m, code, unnest(sub) AS v, " +
    "unnest(generate_series(1, len(sub))) AS pos FROM a1) GROUP BY m, code, pos), " +
    "cb1 AS (SELECT m, code, list(c ORDER BY pos) AS cw FROM cm GROUP BY m, code), " +
    s"a2 AS ${assignCte("cb1", "subs")}"
  }

  /** Per-query ADC lookup-table CTE — SQL mirror of [[pqLut]]. */
  private def pqLutCte: String =
    "lut AS (SELECT q.vec_id AS qid, q.m, c.code, " +
    s"${oDistE("q.sub", "c.cw")} AS dqc " +
    "FROM subs q JOIN cb1 c ON c.m = q.m WHERE q.vec_id < 10)"

  /** Shared ADC ranking tail — SQL mirror of [[adcRank]]: the ADC sum as a
    * 0.0-seeded fold over `list(dqc ORDER BY m)`, the same IEEE sequence as
    * Spark's sorted-struct fold. Expects a CTE `p(qid, nn, m, dqc)`.
    */
  private def adcCtes: String =
    "ad AS (SELECT qid, nn, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
    "list(dqc ORDER BY m)), (acc, x) -> acc + x) AS adist FROM p GROUP BY qid, nn), " +
    "r AS (SELECT qid, nn, row_number() OVER (PARTITION BY qid " +
    "ORDER BY adist ASC, nn ASC) AS rn FROM ad)"

  private def adcTailSql: String = adcCtes +
    " SELECT qid, nn, CAST(rn AS INT) AS rn FROM r WHERE rn <= 10 ORDER BY qid, rn"

  /** Generated SQL mirror of sim_ann_pq: the shared [[pqLegCtes]] chain,
    * then the lookup-table join over the FULL codes table ([[pqLutCte]])
    * and the shared ADC tail.
    */
  private def annPqOracle: String =
    s"WITH $pqLegCtes, $pqLutCte, " +
    "p AS (SELECT l.qid, a.vec_id AS nn, l.m, l.dqc FROM a2 a " +
    "JOIN lut l ON l.m = a.m AND l.code = a.code WHERE a.vec_id != l.qid), " +
    adcTailSql

  /** Generated SQL mirror of sim_ann_ivfpq: the shared PQ leg trains the
    * codebook/codes, a k-prefixed CTE chain trains the L2 coarse quantizer
    * (same recipe: hash-ranked seeds with the sigA(22) family, QUALIFY
    * min-distance assignment tied to the lower cid, exact-decimal Lloyd
    * means, row_number re-index over cid), `kpb` probes the IvfPqProbe
    * nearest lists, `cand` prunes to probed lists, and the ADC tail ranks
    * only those candidates.
    */
  /** The L2 coarse-quantizer CTE chain (ke → ksd → kb1 → kcm → kc1 → kb2):
    * hash-ranked seeds via the sigA(22) family, QUALIFY min-distance
    * assignment tied to the lower cid, exact-decimal Lloyd means,
    * row_number re-index. `kb2` is the final list assignment — consumed by
    * [[annIvfPqOracle]] and by [[AnnIndex]]'s build-summary oracle.
    */
  private[graft] def ivfPqCoarseCtes: String = {
    val khk = s"((vec_id % $SigP) * ${sigA(22)} + ${sigB(22)}) % $SigP"
    "ke AS (SELECT vec_id, embedding FROM embeddings), " +
    // seeds + Lloyd on the annTrainPredSql hash-sample (kte), final list
    // assignment (kb2) over the full corpus — trainIvfPqCoarse's mirror
    s"kte AS (SELECT vec_id, embedding FROM ke WHERE $annTrainPredSql), " +
    "ksd AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce, " +
    "CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) AS cid " +
    s"FROM (SELECT vec_id, embedding, $khk AS hk FROM embeddings WHERE $annTrainPredSql) " +
    s"ORDER BY hk, vec_id LIMIT $IvfPqK), " +
    "kb1 AS (SELECT vec_id, embedding, cid FROM (SELECT e.vec_id, e.embedding, c.cid, " +
    s"${oDistE("e.embedding", "c.ce")} AS dd FROM kte e CROSS JOIN ksd c) t " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd ASC, cid ASC) = 1), " +
    s"kcm AS (SELECT cid, pos, ${oDbl("SUM(CAST(v AS DECIMAL(27,10)))")} / count(*) AS c " +
    "FROM (SELECT cid, unnest(embedding) AS v, " +
    "unnest(generate_series(1, len(embedding))) AS pos FROM kb1) GROUP BY cid, pos), " +
    "kc1 AS (SELECT CAST(row_number() OVER (ORDER BY cid) AS INT) AS cid, ce " +
    "FROM (SELECT cid, list(c ORDER BY pos) AS ce FROM kcm GROUP BY cid) t), " +
    "kb2 AS (SELECT vec_id, cid FROM (SELECT e.vec_id, c.cid, " +
    s"${oDistE("e.embedding", "c.ce")} AS dd FROM ke e CROSS JOIN kc1 c) t " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd ASC, cid ASC) = 1)"
  }

  /** The full ranked IVF-PQ pipeline as a CTE chain ending in
    * `r(qid, nn, rn)` — shared by [[annIvfPqOracle]] (which selects the
    * top-10 directly) and the recall-eval oracle (which joins `r` against
    * the exact ranking).
    */
  private[graft] def annIvfPqCtes: String = annIvfPqCtesWhere("")

  /** [[annIvfPqCtes]] with an extra predicate on the candidate ids (round
    * 19: the tombstoned-probe oracle anti-filters deleted ids exactly
    * where the Spark plan anti-joins the tombstone artifact — at candidate
    * generation, before the ADC ranking).
    */
  private def annIvfPqCtesWhere(candExtra: String,
      nprobe: Int = IvfPqProbe): String = {
    s"$pqLegCtes, " +
    s"$ivfPqCoarseCtes, " +
    "kpb AS (SELECT qid, cid FROM (SELECT e.vec_id AS qid, c.cid, " +
    s"${oDistE("e.embedding", "c.ce")} AS dd FROM ke e CROSS JOIN kc1 c WHERE e.vec_id < 10) t " +
    s"QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dd ASC, cid ASC) <= $nprobe), " +
    "cand AS (SELECT pb.qid, l.vec_id AS nn FROM kpb pb JOIN kb2 l USING (cid) " +
    s"WHERE l.vec_id != pb.qid$candExtra), " +
    s"$pqLutCte, " +
    "p AS (SELECT cand.qid, cand.nn, a.m, l.dqc FROM cand " +
    "JOIN a2 a ON a.vec_id = cand.nn " +
    "JOIN lut l ON l.qid = cand.qid AND l.m = a.m AND l.code = a.code), " +
    adcCtes
  }

  private[graft] def annIvfPqOracle: String =
    s"WITH $annIvfPqCtes " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM r WHERE rn <= 10 ORDER BY qid, rn"

  /** IVF-PQ probe with the tombstone slice deleted (round 19): identical
    * pipeline, candidates anti-filtered by the [[tombPredSql]] rule —
    * mirrors the Spark merged-probe's anti-join against the persisted
    * `tombstones_*` artifact. Measured non-vacuous before wiring: the
    * undeleted probe returns 6/3/9 tombstone-slice ids at the three SFs,
    * so this oracle provably differs from [[annIvfPqOracle]].
    */
  private[graft] def annIvfPqDeletedOracle: String =
    s"WITH ${annIvfPqCtesWhere(" AND NOT (" +
      tombPredSql("l.vec_id", "(SELECT max(vec_id) FROM embeddings)") + ")")} " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM r WHERE rn <= 10 ORDER BY qid, rn"

  /** Label-filtered IVF-PQ probe (round 19 session 2): the candidate CTE
    * admits only rows whose label equals the query's — the exact spot the
    * Spark pre-filter joins, so the filtered ranking mirrors end to end.
    */
  /** The label-equality candidate predicate shared by the filtered and
    * filtered+refined oracles — interpolated at candidate generation,
    * the exact spot the Spark pre-filter joins.
    */
  private def filteredLabelPred: String =
    " AND (SELECT label FROM embeddings le WHERE le.vec_id = l.vec_id) = " +
    "(SELECT label FROM embeddings qe WHERE qe.vec_id = pb.qid)"

  private[graft] def annIvfPqFilteredOracle: String =
    s"WITH ${annIvfPqCtesWhere(filteredLabelPred, nprobe = IvfPqProbeFiltered)} " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM r WHERE rn <= 10 ORDER BY qid, rn"

  /** The exact re-rank tail shared by the refined-probe oracles: the ADC
    * chain's full ranking `r` cut at the refine pool, each survivor's RAW
    * vector fetched by id and re-ranked by exact squared L2 — the same
    * float-left/double-right [[oDistE]] fold the Spark side computes with
    * the codegen'd vec_dist_sq (query vector cast to double, exactly).
    */
  private def refinedTailSql: String =
    s"pool AS (SELECT qid, nn FROM r WHERE rn <= $IvfPqRefinePool), " +
    "ex AS (SELECT pool.qid, pool.nn, " +
    oDistE("ne.embedding",
      "list_transform(qe.embedding, x -> CAST(x AS DOUBLE))") + " AS ed " +
    "FROM pool JOIN embeddings qe ON qe.vec_id = pool.qid " +
    "JOIN embeddings ne ON ne.vec_id = pool.nn), " +
    "rr AS (SELECT qid, nn, row_number() OVER (PARTITION BY qid " +
    "ORDER BY ed ASC, nn ASC) AS rn FROM ex) " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM rr WHERE rn <= 10 ORDER BY qid, rn"

  /** SQL mirror of the refined probe: ADC pool → exact re-rank. */
  private[graft] def annIvfPqRefinedOracle: String =
    s"WITH $annIvfPqCtes, $refinedTailSql"

  /** SQL mirror of the filtered+refined probe: label pre-filter at
    * candidate generation (oversampled nprobe), then the exact re-rank.
    */
  private[graft] def annIvfPqFilteredRefinedOracle: String =
    s"WITH ${annIvfPqCtesWhere(filteredLabelPred, nprobe = IvfPqProbeFiltered)}, " +
    refinedTailSql

  /** SQL mirror of sim_ann_ivfpq_residual — the IVFADC chain on coarse
    * RESIDUALS: the coarse quantizer trains as usual (ivfPqCoarseCtes),
    * `rsv` forms r(x) = x − q1(x) with the exact float round-trip the
    * Spark side applies, the PQ leg ([[pqLegCtesOn]]) trains on `rsv`
    * verbatim, and the probe builds one lookup table PER (query, probed
    * list) from the per-list query residual before the shared ADC tail.
    */
  private[graft] def annIvfPqResidualOracle: String = {
    val resid = "list_transform(list_zip(e.embedding, c.ce), " +
      "x -> CAST(CAST(x[1] AS DOUBLE) - x[2] AS FLOAT))"
    s"WITH $ivfPqCoarseCtes, " +
    s"rsv AS (SELECT e.vec_id, $resid AS embedding " +
    "FROM ke e JOIN kb2 b ON e.vec_id = b.vec_id JOIN kc1 c ON b.cid = c.cid), " +
    s"${pqLegCtesOn("rsv")}, " +
    "kpb AS (SELECT qid, cid FROM (SELECT e.vec_id AS qid, c.cid, " +
    s"${oDistE("e.embedding", "c.ce")} AS dd FROM ke e CROSS JOIN kc1 c WHERE e.vec_id < 10) t " +
    s"QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dd ASC, cid ASC) <= $IvfPqProbe), " +
    s"qr AS (SELECT pb.qid, pb.cid, $resid AS qre " +
    "FROM kpb pb JOIN ke e ON e.vec_id = pb.qid JOIN kc1 c ON c.cid = pb.cid), " +
    "qsub AS (SELECT qid, cid, m, " +
    s"qre[m * $PqDim + 1 : m * $PqDim + $PqDim] AS sub FROM qr CROSS JOIN ms), " +
    "lut AS (SELECT q.qid, q.cid, q.m, c.code, " +
    s"${oDistE("q.sub", "c.cw")} AS dqc FROM qsub q JOIN cb1 c ON c.m = q.m), " +
    "cand AS (SELECT pb.qid, pb.cid, l.vec_id AS nn FROM kpb pb JOIN kb2 l USING (cid) " +
    "WHERE l.vec_id != pb.qid), " +
    "p AS (SELECT cand.qid, cand.nn, a.m, l.dqc FROM cand " +
    "JOIN a2 a ON a.vec_id = cand.nn " +
    "JOIN lut l ON l.qid = cand.qid AND l.cid = cand.cid " +
    "AND l.m = a.m AND l.code = a.code), " +
    adcTailSql
  }

  /** SQL mirror of sim_ann_sq8: per-dimension min/max lists, the same
    * round-to-byte encode (HALF_UP equals DuckDB's half-away-from-zero on
    * the non-negative encode range), decoded asymmetric distance folded
    * per dimension ascending — textually parallel to the Spark
    * expressions so both engines run the identical IEEE sequence.
    */
  private[graft] def annSq8Oracle: String = {
    val dec = "(mnl[i] + CAST(c.codes[i] AS DOUBLE) * (mxl[i] - mnl[i]) / 255.0)"
    "WITH mm AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM " +
    "(SELECT unnest(embedding) AS v, " +
    "unnest(generate_series(1, len(embedding))) AS pos FROM embeddings) GROUP BY pos), " +
    "mnx AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mnl, " +
    "list(CAST(mx AS DOUBLE) ORDER BY pos) AS mxl FROM mm), " +
    "codes AS (SELECT vec_id, list_transform(generate_series(1, len(embedding)), " +
    "i -> CAST(round(CASE WHEN mxl[i] = mnl[i] THEN 0.0 " +
    "ELSE (CAST(embedding[i] AS DOUBLE) - mnl[i]) * 255.0 / (mxl[i] - mnl[i]) END) AS INT)) AS codes " +
    "FROM embeddings CROSS JOIN mnx), " +
    "q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
    "dd AS (SELECT q.qid, c.vec_id AS nn, " +
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
    "list_transform(generate_series(1, len(q.qe)), i -> " +
    s"(CAST(q.qe[i] AS DOUBLE) - $dec) * (CAST(q.qe[i] AS DOUBLE) - $dec))), " +
    "(acc, x) -> acc + x) AS dd " +
    "FROM q JOIN codes c ON c.vec_id != q.qid CROSS JOIN mnx) " +
    "SELECT qid, nn, CAST(rn AS INT) AS rn FROM (SELECT qid, nn, " +
    "row_number() OVER (PARTITION BY qid ORDER BY dd ASC, nn ASC) AS rn FROM dd) " +
    "WHERE rn <= 10 ORDER BY qid, rn"
  }

  /** SQL mirror of sim_range_search: the coarse chain, the kpb probe cut,
    * candidates from probed lists, then the exact-distance radius filter —
    * no ranking window, matching the scan-shaped Spark plan.
    */
  private[graft] def rangeSearchOracle: String =
    s"WITH $ivfPqCoarseCtes, " +
    "kpb AS (SELECT qid, cid FROM (SELECT e.vec_id AS qid, c.cid, " +
    s"${oDistE("e.embedding", "c.ce")} AS dd FROM ke e CROSS JOIN kc1 c WHERE e.vec_id < 10) t " +
    s"QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dd ASC, cid ASC) <= $IvfPqProbe), " +
    "cand AS (SELECT pb.qid, l.vec_id AS nn FROM kpb pb JOIN kb2 l USING (cid) " +
    "WHERE l.vec_id != pb.qid) " +
    "SELECT cand.qid, cand.nn FROM cand " +
    "JOIN ke qe ON qe.vec_id = cand.qid JOIN ke ne ON ne.vec_id = cand.nn " +
    s"WHERE ${oDistE("ne.embedding",
      "list_transform(qe.embedding, x -> CAST(x AS DOUBLE))")} <= $RangeEpsSq " +
    "ORDER BY qid, nn"

  /** SQL mirror of [[AnnIndex.stats]]: the persisted lists/codes equal the
    * training chains' kb2/a2 rows (the build-summary oracle's standing
    * equivalence), so the health aggregate derives from them directly.
    * Codeword distinctness counted as m·1024+code — PqK=256 < 1024, so
    * the packing is collision-free and portable (DuckDB's multi-column
    * DISTINCT row syntax avoided).
    */
  private[graft] def annIndexStatsOracle: String =
    s"WITH $pqLegCtes, $ivfPqCoarseCtes, " +
    // sizes over the CONFIGURED lists (kc1), zero-filled — empty lists
    // must be visible to the health read (the Spark side's centroid-left-
    // join shape)
    "sz AS (SELECT c.cid, coalesce(k.sz, 0) AS sz FROM kc1 c LEFT JOIN " +
    "(SELECT cid, count(*) AS sz FROM kb2 GROUP BY cid) k ON c.cid = k.cid) " +
    "SELECT CAST(count(*) AS BIGINT) AS n_lists, " +
    "CAST(sum(sz) AS BIGINT) AS n_vectors, " +
    "CAST(min(sz) AS BIGINT) AS min_list, " +
    "CAST(max(sz) AS BIGINT) AS max_list, " +
    "CAST(sum(sz * sz) AS BIGINT) AS sum_sq_size, " +
    "(SELECT CAST(count(*) AS BIGINT) FROM a2) AS n_code_rows, " +
    "(SELECT CAST(count(DISTINCT m * 1024 + code) AS BIGINT) FROM a2) AS n_codes_used " +
    "FROM sz"

  /** Tombstone-audit oracle shared by both index families' delete verbs:
    * the rule is a derivation, so the audit is one predicate scan.
    */
  private[graft] def tombAuditOracle: String =
    "SELECT CAST(count(*) AS BIGINT) AS n_tombstoned, " +
    "CAST(sum(e.vec_id) AS BIGINT) AS id_sum " +
    "FROM embeddings e, (SELECT max(vec_id) AS mx FROM embeddings) m " +
    s"WHERE ${tombPredSql("e.vec_id", "m.mx")}"

  /** SQL mirror of [[AnnIndex.compact]]: the surviving ids (everything
    * outside the tombstone slice — base ∪ delta minus deletes, and the
    * delta codes are bit-identical to the build's rows for those ids, so
    * survivors of the FULL chain are exactly the compacted row set) with
    * per-list occupancy + the integer code checksum.
    */
  private[graft] def annIndexCompactOracle: String =
    s"WITH $pqLegCtes, " +
    s"$ivfPqCoarseCtes, " +
    "kmx AS (SELECT max(vec_id) AS mx FROM embeddings), " +
    "surv AS (SELECT e.vec_id FROM embeddings e, kmx " +
    s"WHERE NOT (${tombPredSql("e.vec_id", "kmx.mx")})), " +
    "kdc AS (SELECT b.vec_id, b.cid FROM kb2 b JOIN surv dl ON b.vec_id = dl.vec_id), " +
    "kcodes AS (SELECT a.vec_id, a.code FROM a2 a JOIN surv dl ON a.vec_id = dl.vec_id) " +
    "SELECT kdc.cid, count(DISTINCT kdc.vec_id) AS n_vectors, " +
    "CAST(SUM(kcodes.code) AS BIGINT) AS sum_code " +
    "FROM kdc JOIN kcodes ON kdc.vec_id = kcodes.vec_id " +
    "GROUP BY kdc.cid ORDER BY kdc.cid"

  /** SQL mirror of [[AnnIndex.append]]: re-derive the SAME refined coarse
    * centroids (kb2 assignment) and PQ codebooks (a2 codes), restrict to
    * the id-cutoff delta, and report per-list occupancy + the integer
    * code checksum. The Spark side probes the PERSISTED artifacts instead
    * of retraining — equality proves frozen-assignment consistency.
    */
  private[graft] def annIndexAppendOracle: String =
    annIndexAppendOracleFor(s"e.vec_id * $IncrCutDen > kmx.mx * $IncrCutNum")

  /** The append-audit chain parameterized by the arriving batch's
    * predicate (code-review, this session: gen-1 and gen-2 share one
    * body, differing only in which id slice arrives).
    */
  private def annIndexAppendOracleFor(batchPred: String): String =
    s"WITH $pqLegCtes, " +
    s"$ivfPqCoarseCtes, " +
    "kmx AS (SELECT max(vec_id) AS mx FROM embeddings), " +
    "kdelta AS (SELECT e.vec_id FROM embeddings e, kmx " +
    s"WHERE $batchPred), " +
    "kdc AS (SELECT b.vec_id, b.cid FROM kb2 b JOIN kdelta dl ON b.vec_id = dl.vec_id), " +
    "kcodes AS (SELECT a.vec_id, a.code FROM a2 a JOIN kdelta dl ON a.vec_id = dl.vec_id) " +
    "SELECT kdc.cid, count(DISTINCT kdc.vec_id) AS n_appended, " +
    "CAST(SUM(kcodes.code) AS BIGINT) AS sum_code " +
    "FROM kdc JOIN kcodes ON kdc.vec_id = kcodes.vec_id " +
    "GROUP BY kdc.cid ORDER BY kdc.cid"

  /** [[annIndexAppendOracle]] with the tombstone slice as the batch — the
    * GENERATION-2 ingest (round 19 session 2): re-insertion after
    * deletion, assignments still from the one re-derived train.
    */
  private[graft] def annIndexAppend2Oracle: String =
    annIndexAppendOracleFor(tombPredSql("e.vec_id", "kmx.mx"))

  val oracles: Map[String, String] = Map(
    "sim_ann_lsh" -> annLshOracle,
    "sim_ann_ivf" -> annIvfOracle,
    "dedup_semdedup" -> semDedupOracle,
    "sample_prototype_prune" ->
      (ivfListsCtes + ", " +
       "pc AS (SELECT l.vec_id, l.cid, " +
       s"${oDotE("l.embedding", "c.ce")} / (l.nrm * c.cn) AS proto_cos " +
       "FROM b2 l JOIN c1 c USING (cid)), " +
       "r AS (SELECT vec_id, cid, " +
       "row_number() OVER (PARTITION BY cid ORDER BY proto_cos, vec_id) AS rnk, " +
       "count(*) OVER (PARTITION BY cid) AS n FROM pc) " +
       "SELECT vec_id, cid, CAST(rnk AS INT) AS rnk, rnk * 2 <= n AS keep " +
       "FROM r ORDER BY vec_id"),
    "sim_ann_pq" -> annPqOracle,
    "sim_ann_ivfpq" -> annIvfPqOracle,
    "sim_ann_ivfpq_residual" -> annIvfPqResidualOracle,
    "sim_range_search" -> rangeSearchOracle,
    "sim_ann_sq8" -> annSq8Oracle,

    // the same verified pair CTE, classified by the sample_hash_split rule
    // on doc_id; a pair leaks when its endpoints cross the split boundary
    "dedup_split_leakage" ->
      ("WITH " + minhashPairsCte + ", " +
       "sp AS (SELECT doc_id, ((doc_id % 1000000007) * 2654435761) % 1000 < 800 AS is_train " +
       "FROM documents) " +
       "SELECT CASE WHEN a.is_train THEN pr.db ELSE pr.da END AS test_doc, " +
       "CASE WHEN a.is_train THEN pr.da ELSE pr.db END AS train_doc " +
       "FROM pr JOIN sp a ON pr.da = a.doc_id JOIN sp b ON pr.db = b.doc_id " +
       "WHERE a.is_train != b.is_train ORDER BY test_doc, train_doc"),

    // truth = exact-Jaccard partners of the probe slice through the same
    // shingle frame; found = the banded pair CTE in both directions —
    // found ⊆ truth by the verifier, so the LEFT join counts band misses
    "dedup_minhash_recall" ->
      ("WITH " + minhashPairsCte + ", " +
       s"pp AS (SELECT a.doc_id AS p, b.doc_id AS q, count(*) AS inter " +
       s"FROM sh a JOIN sh b ON a.g = b.g AND b.doc_id != a.doc_id " +
       s"WHERE a.doc_id < $MhRecallProbes GROUP BY 1, 2), " +
       "tr AS (SELECT pp.p, pp.q FROM pp " +
       "JOIN sz sa ON pp.p = sa.doc_id JOIN sz sb ON pp.q = sb.doc_id " +
       "WHERE pp.inter * 1000000 >= (sa.n + sb.n - pp.inter) * 800000), " +
       "fo AS (SELECT da AS p, db AS q FROM pr UNION ALL SELECT db, da FROM pr), " +
       "ag AS (SELECT tr.p, CAST(count(*) AS BIGINT) AS n_true, " +
       "CAST(sum(CASE WHEN fo.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found " +
       "FROM tr LEFT JOIN fo ON tr.p = fo.p AND tr.q = fo.q GROUP BY tr.p) " +
       "SELECT d.doc_id, coalesce(ag.n_true, 0) AS n_true, " +
       "coalesce(ag.n_found, 0) AS n_found, " +
       "coalesce(ag.n_true, 0) - coalesce(ag.n_found, 0) AS n_missed " +
       s"FROM documents d LEFT JOIN ag ON ag.p = d.doc_id " +
       s"WHERE d.doc_id < $MhRecallProbes ORDER BY d.doc_id"),

    // segment grouping on raw seg TEXT (Spark groups the xxhash64 key —
    // the dedup_substring precedent); rn = 1 over (doc_id, p) is the same
    // canonical keeper as Spark's min(struct) since (doc_id, p) is unique
    "dedup_span_remove" ->
      (s"WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
       s"sg AS (SELECT doc_id, unnest(generate_series(1, (len(ts) + ${SpanSeg - 1}) // $SpanSeg)) AS p, ts FROM s0), " +
       s"segs AS (SELECT doc_id, p, array_to_string(ts[(p - 1) * $SpanSeg + 1 : p * $SpanSeg], ' ') AS seg, " +
       s"least($SpanSeg, len(ts) - (p - 1) * $SpanSeg) AS ntok FROM sg), " +
       "mk AS (SELECT doc_id, ntok, count(*) OVER (PARTITION BY seg) AS cnt, " +
       "row_number() OVER (PARTITION BY seg ORDER BY doc_id, p) AS rn FROM segs) " +
       "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg, " +
       "CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
       "CAST(sum(CASE WHEN cnt > 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
       "CAST(sum(CASE WHEN cnt > 1 AND rn > 1 THEN ntok ELSE 0 END) AS BIGINT) AS tok_removed " +
       "FROM mk GROUP BY doc_id ORDER BY doc_id"),

    "dedup_near_minhash" ->
      ("WITH " + minhashPairsCte + ", " +
       "nbr AS (SELECT da AS doc_id, db AS nb FROM pr UNION ALL SELECT db, da FROM pr), " +
       "mn AS (SELECT doc_id, min(nb) AS m FROM nbr GROUP BY doc_id) " +
       "SELECT d.doc_id, least(coalesce(mn.m, d.doc_id), d.doc_id) AS rep_id " +
       "FROM documents d LEFT JOIN mn ON mn.doc_id = d.doc_id ORDER BY d.doc_id"),

    // The incremental restriction is applied to the SYMMETRIC pair CTE
    // (db is the later/higher id, and the id CUTOFF makes "later id" mean
    // "later arrival", so "pairs whose later side is a delta doc" is
    // exactly pr filtered on db) — the declarative twin of the asymmetric
    // band probe, proving it equivalent.
    "dedup_incremental_minhash" ->
      ("WITH " + minhashPairsCte + ", " +
       "mx AS (SELECT max(doc_id) AS mx FROM documents), " +
       s"mt AS (SELECT db AS doc_id, min(da) AS m FROM pr CROSS JOIN mx " +
       s"WHERE db * $IncrCutDen > mx * $IncrCutNum GROUP BY db) " +
       "SELECT d.doc_id, coalesce(mt.m, -1) AS dup_of, " +
       "CASE WHEN mt.m IS NULL THEN 1 ELSE 0 END AS is_new " +
       s"FROM documents d CROSS JOIN mx LEFT JOIN mt ON mt.doc_id = d.doc_id " +
       s"WHERE d.doc_id * $IncrCutDen > mx.mx * $IncrCutNum ORDER BY d.doc_id"),

    // the bloom prefilter is result-invariant: the oracle is the plain
    // fingerprint join of delta against the base min-id map
    "dedup_bloom_incremental" ->
      ("WITH fp AS (SELECT doc_id, " +
       oIntFold("list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))",
         "(acc, x) -> (acc * 31 + x) % 1000000007") + " AS fp FROM documents), " +
       "mx AS (SELECT max(doc_id) AS mx FROM documents), " +
       s"bm AS (SELECT fp, min(doc_id) AS m FROM fp CROSS JOIN mx " +
       s"WHERE doc_id * $IncrCutDen <= mx * $IncrCutNum GROUP BY fp), " +
       "mt AS (SELECT f.doc_id, bm.m FROM fp f JOIN bm ON f.fp = bm.fp), " +
       "d AS (SELECT f.doc_id FROM fp f CROSS JOIN mx " +
       s"WHERE f.doc_id * $IncrCutDen > mx.mx * $IncrCutNum) " +
       "SELECT d.doc_id, coalesce(mt.m, -1) AS dup_of, " +
       "CASE WHEN mt.m IS NULL THEN 1 ELSE 0 END AS is_new " +
       "FROM d LEFT JOIN mt ON mt.doc_id = d.doc_id ORDER BY d.doc_id"),

    "dedup_cluster_cc" ->
      ("WITH RECURSIVE " + minhashPairsCte + ", " +
       "edges AS (SELECT da, db FROM pr UNION SELECT db, da FROM pr), " +
       "walk(wid, reach) AS (SELECT da, db FROM edges UNION " +
       "SELECT w.wid, e.db FROM walk w JOIN edges e ON w.reach = e.da), " +
       "labels AS (SELECT wid, least(wid, min(reach)) AS cluster_id FROM walk GROUP BY wid) " +
       "SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id " +
       "FROM documents d LEFT JOIN labels l ON d.doc_id = l.wid ORDER BY d.doc_id"),

    // the incremental maintenance is EXACT, so its oracle is the batch
    // closure verbatim — equality with dedup_cluster_cc is the contract
    "dedup_cluster_incremental" ->
      ("WITH RECURSIVE " + minhashPairsCte + ", " +
       "edges AS (SELECT da, db FROM pr UNION SELECT db, da FROM pr), " +
       "walk(wid, reach) AS (SELECT da, db FROM edges UNION " +
       "SELECT w.wid, e.db FROM walk w JOIN edges e ON w.reach = e.da), " +
       "labels AS (SELECT wid, least(wid, min(reach)) AS cluster_id FROM walk GROUP BY wid) " +
       "SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id " +
       "FROM documents d LEFT JOIN labels l ON d.doc_id = l.wid ORDER BY d.doc_id"),

    "dedup_simhash" ->
      (simhashCte + " SELECT doc_id, simhash FROM sh ORDER BY doc_id"),

    // band count/width/mask interpolate from the SAME constants as the
    // Spark side (ADVICE.md round 5)
    "dedup_simhash_pairs" ->
      (simhashCte + ", " +
       s"ks AS (SELECT CAST(unnest(range(0, $SimhashBands)) AS BIGINT) AS k), " +
       s"b AS (SELECT doc_id, simhash, k, (simhash >> (k * $SimhashBandBits)) & ${(1 << SimhashBandBits) - 1} AS key " +
       "FROM sh CROSS JOIN ks), " +
       "p AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, " +
       "x.simhash AS sa, y.simhash AS sb " +
       "FROM b x JOIN b y ON x.k = y.k AND x.key = y.key AND x.doc_id < y.doc_id) " +
       "SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming FROM p " +
       "WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY da, db"),

    "sim_topk_cosine" ->
      (s"SELECT va, vb, cos FROM (SELECT a.vec_id AS va, b.vec_id AS vb, " +
       s"${oDot("a", "b")} / (${oNorm("a")} * ${oNorm("b")}) AS cos " +
       "FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id) " +
       "ORDER BY cos DESC, va, vb LIMIT 20"),

    // the serial NN-descent chain ([[nndChainCtes]] — shared with the
    // persisted graph-index oracles), final face = top-M of the last
    // round's ranked frame
    "sim_ann_graph_nnd" ->
      (s"WITH $nndChainCtes " +
       s"SELECT v AS vec_id, CAST(rn AS INT) AS rn, nb FROM s$NndRounds " +
       s"WHERE rn <= $GraphAnnM ORDER BY vec_id, rn"),

    // same cosine fold, rank-only output (the D5 rule)
    "sim_ann_graph_knn" ->
      ("SELECT vec_id, CAST(rn AS INT) AS rn, nb FROM " +
       "(SELECT a.vec_id AS vec_id, b.vec_id AS nb, " +
       "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
       s"${oDot("a", "b")} / (${oNorm("a")} * ${oNorm("b")}) DESC, b.vec_id ASC) AS rn " +
       "FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id) " +
       s"WHERE rn <= ${GraphAnnM} ORDER BY vec_id, rn"),

    // same cosine fold; the rank ships, the float score does not (ranks
    // compare exactly, the D5 rule the ANN oracles follow)
    "sim_hard_negatives" ->
      ("SELECT qid, nn, nn_label, CAST(rn AS INT) AS rn FROM " +
       "(SELECT q.vec_id AS qid, e.vec_id AS nn, e.label AS nn_label, " +
       "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
       s"${oDot("q", "e")} / (${oNorm("q")} * ${oNorm("e")}) DESC, e.vec_id ASC) AS rn " +
       "FROM embeddings q JOIN embeddings e ON e.label != q.label " +
       "WHERE q.vec_id < 10) WHERE rn <= 5 ORDER BY qid, rn"),

    "dedup_embedding_cosine" ->
      (s"SELECT va, vb, cos FROM (SELECT a.vec_id AS va, b.vec_id AS vb, " +
       s"${oDot("a", "b")} / (${oNorm("a")} * ${oNorm("b")}) AS cos " +
       "FROM embeddings a JOIN embeddings b ON a.label = b.label AND b.vec_id > a.vec_id) " +
       "WHERE cos >= 0.35 ORDER BY va, vb"),

    // centroid = exact-decimal per-dimension mean (matches sim_knn's
    // sum(dec(v,27,10))/count), distance = the same left-to-right squared-
    // difference fold as the compiled distSq kernel — ranks compare exactly
    "sim_knn_per_label" ->
      ("WITH comps AS (SELECT label, unnest(embedding) AS v, " +
       "unnest(generate_series(1, len(embedding))) AS pos FROM embeddings), " +
       s"cent AS (SELECT label, pos, ${oDbl("SUM(CAST(v AS DECIMAL(27,10)))")} / count(*) AS c " +
       "FROM comps GROUP BY label, pos), " +
       "cvec AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label), " +
       "dist AS (SELECT e.label, e.vec_id, " +
       seededFold("list_transform(list_zip(e.embedding, cv), " +
         "x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2]))") + " AS d " +
       "FROM embeddings e JOIN cvec USING (label)) " +
       "SELECT label, vec_id, CAST(rn AS INT) AS rn FROM " +
       "(SELECT label, vec_id, row_number() OVER (PARTITION BY label ORDER BY d, vec_id) AS rn FROM dist) " +
       "WHERE rn <= 5 ORDER BY label, rn"),
    "text_decontaminate" ->
      ("WITH sh AS (SELECT DISTINCT doc_id, g FROM " +
       "(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 7, 1)), " +
       "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2], ts[i+3], ts[i+4], ts[i+5], ts[i+6], ts[i+7]))) AS g " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))) " +
       "SELECT DISTINCT c.doc_id, p.doc_id AS probe_id FROM sh c " +
       "JOIN sh p ON c.g = p.g AND p.doc_id < 50 AND c.doc_id >= 50 " +
       "ORDER BY c.doc_id, probe_id"),

    // the six verified stages chained as CTEs: the shared minhash pair
    // chain (pr), exact reps, the near-drop anti set, the decontamination
    // shingle screen (dsh/cont — raw-string shingles; the Spark side keys
    // on xxhash64 of the same strings, equality-preserving as in
    // text_decontaminate), the full-corpus KNESER-NEY surprisal flags
    // (knScoreCtes — text_lm_surprisal_kn's integer-cleared chain
    // verbatim, the round-17 filter upgrade), then
    // pipeline_pretrain_mini's quality + pack tail over the survivors
    "pipeline_pretrain_full" ->
      ("WITH " + minhashPairsCte + ", " +
       "ex AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text), " +
       "ndrop AS (SELECT DISTINCT pr.db AS doc_id FROM pr JOIN ex ea ON pr.da = ea.doc_id), " +
       "dsh AS (SELECT DISTINCT doc_id, g FROM " +
       "(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 7, 1)), " +
       "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2], ts[i+3], ts[i+4], ts[i+5], ts[i+6], ts[i+7]))) AS g " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))), " +
       "cont AS (SELECT DISTINCT c.doc_id FROM dsh c " +
       "JOIN dsh p ON c.g = p.g AND p.doc_id < 50 AND c.doc_id >= 50), " +
       TextOps.knScoreCtes + ", " +
       s"lflag AS (SELECT doc_id FROM ksc WHERE sm >= ${TextOps.KnFlagMilli}), " +
       "sv AS (SELECT e.doc_id, e.text FROM ex e WHERE e.doc_id >= 50 " +
       "AND NOT EXISTS (SELECT 1 FROM ndrop n WHERE n.doc_id = e.doc_id) " +
       "AND NOT EXISTS (SELECT 1 FROM cont ct WHERE ct.doc_id = e.doc_id)), " +
       "qq AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq FROM sv), " +
       s"ff AS (SELECT doc_id, n_tok, doc_id % ${TextOps.PackShards} AS shard FROM qq " +
       "WHERE n_uniq * 20 >= n_tok * 7 " +
       "AND NOT EXISTS (SELECT 1 FROM lflag lf WHERE lf.doc_id = qq.doc_id)), " +
       "cc AS (SELECT doc_id, shard, n_tok, CAST(coalesce(sum(n_tok) OVER (" +
       "PARTITION BY shard ORDER BY doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM ff) " +
       s"SELECT shard, off // ${TextOps.PackSeqLen} AS bin, count(*) AS n_docs, " +
       "CAST(sum(n_tok) AS BIGINT) AS total_tokens, " +
       "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
       "FROM cc GROUP BY shard, bin ORDER BY shard, bin"),

    // the block-size window guard mirrors levPairs's LevBlockCap exactly
    "dedup_levenshtein" ->
      ("WITH d0 AS (SELECT doc_id, lang, source, floor(n_chars / 100) AS len_band, " +
       "substr(text, 1, 40) AS prefix FROM documents), " +
       "d AS (SELECT doc_id, lang, source, len_band, prefix FROM " +
       "(SELECT *, count(*) OVER (PARTITION BY lang, source, len_band) AS bsz FROM d0) " +
       s"WHERE bsz <= $LevBlockCap) " +
       "SELECT a.doc_id AS da, b.doc_id AS db, " +
       "CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist " +
       "FROM d a JOIN d b " +
       "ON a.lang = b.lang AND a.source = b.source " +
       "AND a.len_band = b.len_band AND a.doc_id < b.doc_id " +
       "WHERE levenshtein(a.prefix, b.prefix) <= 10 " +
       "ORDER BY da, db"),

    // union of the two verified pair chains (phash CTEs prefixed — the
    // fragments share generic names), then the standard recursive-closure
    // clustering tail
    "dedup_cross_modal" ->
      ("WITH RECURSIVE " + minhashPairsCte + ", " +
       Multimodal.phashPairsCteP("x") + ", " +
       "xpr AS (SELECT da, db FROM pr UNION " +
       "SELECT da, db FROM xp WHERE bit_count(xor(pa, pb)) <= " +
       s"${Multimodal.PhashMaxHamming}), " +
       "edges AS (SELECT da, db FROM xpr UNION SELECT db, da FROM xpr), " +
       "walk(wid, reach) AS (SELECT da, db FROM edges UNION " +
       "SELECT w.wid, e.db FROM walk w JOIN edges e ON w.reach = e.da), " +
       "labels AS (SELECT wid, least(wid, min(reach)) AS cluster_id FROM walk GROUP BY wid) " +
       "SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id " +
       "FROM documents d LEFT JOIN labels l ON d.doc_id = l.wid ORDER BY d.doc_id"),

    // the 2-way chain + the audio star-edge CTEs in the union
    "dedup_cross_modal_3way" ->
      ("WITH RECURSIVE " + minhashPairsCte + ", " +
       Multimodal.phashPairsCteP("x") + ", " +
       Multimodal.audioPairsCte + ", " +
       "xpr AS (SELECT da, db FROM pr UNION " +
       "SELECT da, db FROM xp WHERE bit_count(xor(pa, pb)) <= " +
       s"${Multimodal.PhashMaxHamming} UNION " +
       "SELECT da, db FROM audp), " +
       "edges AS (SELECT da, db FROM xpr UNION SELECT db, da FROM xpr), " +
       "walk(wid, reach) AS (SELECT da, db FROM edges UNION " +
       "SELECT w.wid, e.db FROM walk w JOIN edges e ON w.reach = e.da), " +
       "labels AS (SELECT wid, least(wid, min(reach)) AS cluster_id FROM walk GROUP BY wid) " +
       "SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id " +
       "FROM documents d LEFT JOIN labels l ON d.doc_id = l.wid ORDER BY d.doc_id"),

    // CC over the capped-Jaccard pair graph: transitive closure by a
    // recursive CTE (walk = all reachable nodes), component label =
    // least(self, min(reachable)) — the declarative twin of labelPropagate.
    "dedup_cluster_jaccard" ->
      ("WITH RECURSIVE sh0 AS (SELECT DISTINCT doc_id, g FROM " +
       "(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)), " +
       "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))) AS g " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))), " +
       s"hot AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) > $ShingleDfCap), " +
       "sh AS (SELECT * FROM sh0 WHERE g NOT IN (SELECT g FROM hot)), " +
       "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
       "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter FROM sh a " +
       "JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
       "pr AS (SELECT da, db FROM p JOIN sz sa ON p.da = sa.doc_id " +
       "JOIN sz sb ON p.db = sb.doc_id WHERE inter * 2 >= sa.n + sb.n - inter), " +
       "edges AS (SELECT da, db FROM pr UNION SELECT db, da FROM pr), " +
       "walk(wid, reach) AS (SELECT da, db FROM edges UNION " +
       "SELECT w.wid, e.db FROM walk w JOIN edges e ON w.reach = e.da), " +
       "labels AS (SELECT wid, least(wid, min(reach)) AS cluster_id FROM walk GROUP BY wid) " +
       "SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id " +
       "FROM documents d LEFT JOIN labels l ON d.doc_id = l.wid ORDER BY d.doc_id"),

    // same capped-shingle CTE chain as dedup_ngram_jaccard; only the
    // verification predicate differs (containment vs Jaccard)
    "dedup_containment" ->
      ("WITH sh0 AS (SELECT DISTINCT doc_id, g FROM " +
       "(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)), " +
       "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))) AS g " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))), " +
       s"hot AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) > $ShingleDfCap), " +
       "sh AS (SELECT * FROM sh0 WHERE g NOT IN (SELECT g FROM hot)), " +
       "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
       "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter FROM sh a " +
       "JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
       "SELECT da, db, inter, least(sa.n, sb.n) AS mn FROM p " +
       "JOIN sz sa ON p.da = sa.doc_id JOIN sz sb ON p.db = sb.doc_id " +
       "WHERE inter * 10 >= least(sa.n, sb.n) * 9 ORDER BY da, db"),

    "sim_ann_recall_eval" ->
      (s"WITH $annIvfPqCtes, " +
       "annr AS (SELECT qid, nn FROM r WHERE rn <= 10), " +
       "exq AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 10), " +
       "exs AS (SELECT q.qid, e.vec_id AS nn, row_number() OVER (PARTITION BY q.qid " +
       s"ORDER BY ${oDistE("e.embedding", "q.embedding")} ASC, e.vec_id ASC) AS rn " +
       "FROM embeddings e JOIN exq q ON e.vec_id != q.qid), " +
       "ext AS (SELECT qid, nn FROM exs WHERE rn <= 10), " +
       "hits AS (SELECT x.qid, count(*) AS n_hits FROM ext x " +
       "JOIN annr a ON x.qid = a.qid AND x.nn = a.nn GROUP BY x.qid) " +
       "SELECT q.qid, COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits " +
       "FROM exq q LEFT JOIN hits h ON q.qid = h.qid ORDER BY q.qid"),

    "dedup_ngram_jaccard" ->
      ("WITH sh0 AS (SELECT DISTINCT doc_id, g FROM " +
       "(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)), " +
       "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))) AS g " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))), " +
       // same hot-shingle cap as the Spark side (ShingleDfCap)
       s"hot AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) > $ShingleDfCap), " +
       "sh AS (SELECT * FROM sh0 WHERE g NOT IN (SELECT g FROM hot)), " +
       "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
       "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter FROM sh a " +
       "JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
       "SELECT da, db, inter, sa.n + sb.n - inter AS uni FROM p " +
       "JOIN sz sa ON p.da = sa.doc_id JOIN sz sb ON p.db = sb.doc_id " +
       "WHERE inter * 2 >= sa.n + sb.n - inter ORDER BY da, db"),

    // windows generate exactly like the 3-token shingle CTE with n=SubstrWin
    // (ts[i+k] OOB is NULL, concat_ws skips — mirroring Spark's get());
    // counts compare on raw window strings vs Spark's xxhash64 keys — both
    // count the same distinct windows (hash-invariant up to 2^-64 collisions)
    "dedup_substring" -> {
      val parts = (0 until SubstrWin)
        .map(k => if (k == 0) "ts[i]" else s"ts[i+$k]").mkString(", ")
      "WITH sh0 AS (SELECT DISTINCT doc_id, g FROM " +
      s"(SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - ${SubstrWin - 1}, 1)), " +
      s"i -> concat_ws(' ', $parts))) AS g " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))), " +
      s"hot AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) > $ShingleDfCap), " +
      "sh AS (SELECT * FROM sh0 WHERE g NOT IN (SELECT g FROM hot)) " +
      "SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared FROM sh a " +
      "JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 ORDER BY da, db"
    }
  )
}
