package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Graph-based ANN recall measurement (VERDICT r15 "What's missing" #3):
  * the NSW/HNSW family's QUERY path is greedy best-first beam search —
  * inherently sequential per query, not a dataflow — so the honest
  * DataFrame-engine split is: Spark builds and persists the k-NN
  * neighbor-list table (`sim_ann_graph_knn`, oracle-verified), and this
  * spec runs the published layer-0 search over those lists in the JVM,
  * measuring recall@10 against brute force. The 100 TB story is in
  * DESIGN: NN-descent replaces the quadratic all-pairs build, and the
  * beam serves from a KV store outside the batch engine (the persisted
  * IVF-PQ probe precedent).
  *
  * Measured (deterministic — graph, entry point, and arithmetic all
  * fixed): recall@10 = 0.950 at ef=32 and 0.970 at ef=64 over the M=8
  * graph at sf0.001; pure greedy (ef=1) collapses to 0.010, which is the
  * evidence the beam — not the graph alone — carries the recall.
  */
class GraphAnnSpec extends AnyFunSuite {
  import TestSpark.spark

  private val d = TestSpark.Sf0001
  private val TopK = 10

  private lazy val emb: Map[Long, Array[Float]] =
    Tables.embeddings(spark, d).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private lazy val nbrs: Map[Long, Seq[Long]] =
    SparkEntry.queries("sim_ann_graph_knn")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def bruteTop(qid: Long): Seq[Long] = {
    val q = emb(qid)
    emb.keys.filter(_ != qid).toSeq
      .map(v => (v, cos(q, emb(v))))
      .sortBy { case (v, c) => (-c, v) }.take(TopK).map(_._1)
  }

  /** Layer-0 HNSW search (Malkov & Yashunin 2018, Alg. 2): greedy
    * best-first expansion of neighbor lists from a deterministic entry
    * (min vec_id), dynamic candidate list of size ef, stop when the best
    * unexpanded candidate cannot improve the worst of the ef results.
    */
  private def beamSearch(qid: Long, ef: Int): Seq[Long] = {
    val q = emb(qid)
    val entry = emb.keys.min
    val visited = scala.collection.mutable.Set(entry)
    // candidates: best-first (max cos); results: worst-first (min cos)
    val cand = scala.collection.mutable.PriorityQueue(
      (cos(q, emb(entry)), entry))(Ordering.by(x => (x._1, -x._2)))
    val res = scala.collection.mutable.PriorityQueue(
      (cos(q, emb(entry)), entry))(Ordering.by(x => (-x._1, x._2)))
    while (cand.nonEmpty) {
      val (cb, b) = cand.dequeue()
      if (res.size >= ef && cb < res.head._1) { cand.clear() }
      else {
        for (nb <- nbrs.getOrElse(b, Seq.empty) if !visited(nb)) {
          visited += nb
          val cn = cos(q, emb(nb))
          if (res.size < ef || cn > res.head._1) {
            cand.enqueue((cn, nb))
            res.enqueue((cn, nb))
            if (res.size > ef) res.dequeue()
          }
        }
      }
    }
    res.toSeq.sortBy { case (c, v) => (-c, v) }
      .map(_._2).filter(_ != qid).take(TopK)
  }

  private def recallAt(ef: Int): Double = {
    val qs = emb.keys.filter(_ < 10).toSeq.sorted
    val hits = qs.map { qid =>
      val truth = bruteTop(qid).toSet
      beamSearch(qid, ef).count(truth) }.sum
    hits.toDouble / (qs.size * TopK)
  }

  test("every vector carries exactly min(M, n-1) ranked neighbors") {
    val n = emb.size
    assert(nbrs.size == n)
    nbrs.values.foreach(l =>
      assert(l.length == math.min(Similarity.GraphAnnM, n - 1) &&
        l.distinct.length == l.length))
  }

  test("beam search over the persisted lists reaches the measured recall floor") {
    val r32 = recallAt(32)
    val r64 = recallAt(64)
    info(f"recall@10: ef=32 -> $r32%.3f, ef=64 -> $r64%.3f (M=${Similarity.GraphAnnM})")
    // floors pinned from the measured values (deterministic: the graph,
    // entry point, and arithmetic are all fixed) with a safety margin —
    // a graph-build regression (wrong ranks, truncated lists, broken
    // tie-break) craters recall and fails loudly
    assert(r32 >= 0.80, f"ef=32 recall $r32%.3f below floor")
    assert(r64 >= r32 - 0.05,
      f"wider beam materially hurt recall: $r64%.3f vs $r32%.3f")
  }

  test("NN-descent converges toward the exact graph and beats its own early rounds") {
    // the linear-work build (Dong et al. 2011, full §2.3: sampled local
    // join + incremental flags + build-at-2M) vs the exact quadratic one:
    // recall@M = fraction of true top-M edges found in the built top-M.
    // Measured per round on this fixture: 0.43 / 0.74 / 0.92 / 0.96
    // (rounds 1-4; the r16 one-directional walk sat at 0.69@4) — random
    // high-dim embeddings are the family's documented hard case; the
    // assertion pins the knee with margin (VERDICT r16 #5 asked ≥ 0.80)
    // plus strict convergence, the regression canary for the
    // candidate-generation joins
    def recallOf(rounds: Int): Double = {
      val got = Similarity.nndGraphFrame(spark, d, rounds)
        .where(col("rn") <= Similarity.GraphAnnM).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val exact = nbrs.toSeq.flatMap { case (v, l) => l.map((v, _)) }.toSet
      (got & exact).size.toDouble / exact.size
    }
    val r1 = recallOf(1)
    val rK = recallOf(Similarity.NndRounds)
    info(f"nn-descent recall vs exact graph: round1 $r1%.3f, round${Similarity.NndRounds} $rK%.3f")
    assert(rK >= 0.90, f"converged recall $rK%.3f below the measured floor")
    assert(rK > r1 + 0.2, f"no convergence: $rK%.3f vs round-1 $r1%.3f")
  }

  test("persisted graph probe: builds == 0 on re-probe, expansion recall floor") {
    // the VERDICT r16 #2 contract: after the index exists, the probe plan
    // reads ONLY the persisted lists/vectors — no descent, no embeddings
    // scan. builds is the proof (the KmvStoreSpec convention).
    GraphAnnIndex.ensure(spark, d)
    val before = GraphAnnIndex.builds.get()
    val probed = GraphAnnIndex.queries("sim_ann_graph_probe")(spark, d).collect()
    assert(GraphAnnIndex.builds.get() == before,
      "probe triggered a graph build — the index contract is broken")
    // 2-hop expansion over the persisted lists vs brute-force truth: the
    // dataflow slice of beam search must already carry most of the recall
    // (full-beam truth stays in the beamSearch tests above)
    val got = probed.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val qs = got.keySet.toSeq.sorted
    assert(qs == (0L until 10L), s"probe set drifted: $qs")
    val hits = qs.map(q => (bruteTop(q).toSet & got(q)).size).sum
    val recall = hits.toDouble / (qs.size * TopK)
    info(f"2-hop expansion recall@10 over persisted lists: $recall%.3f")
    assert(recall >= 0.80, f"expansion recall $recall%.3f below floor")
    // a missing marker forces a rebuild (crashed-build safety)
    assert(new java.io.File(GraphAnnIndex.indexRoot(d), "_GANN_OK").delete())
    GraphAnnIndex.ensure(spark, d)
    assert(GraphAnnIndex.builds.get() == before + 1,
      "markerless index was trusted — a crashed build could serve partial lists")
  }

  test("in-engine beam search: probe-only, recall equal-or-better than the JVM beam at ef=32") {
    // VERDICT r17 #2: the batched-frontier dataflow loop expands EVERY
    // unexpanded top-ef node per round where the sequential beam pops one
    // — a per-round superset of exploration, so at the same ef its recall
    // must not fall below the sequential beam's (both over deterministic
    // fixed structures; measured 1.000 vs 0.950 on this fixture).
    GraphAnnIndex.ensure(spark, d)
    val before = GraphAnnIndex.builds.get()
    val got = GraphAnnIndex.queries("sim_ann_graph_search")(spark, d).collect()
    assert(GraphAnnIndex.builds.get() == before,
      "search triggered a graph build — the index contract is broken")
    val byQ = got.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byQ.keySet.toSeq.sorted == (0L until 10L), s"probe set drifted: ${byQ.keySet}")
    val engineHits = byQ.toSeq.map { case (q, nns) => (bruteTop(q).toSet & nns).size }.sum
    val engineRecall = engineHits.toDouble / (byQ.size * TopK)
    // the sequential JVM beam over the SAME persisted NN-descent lists
    // (beamSearch runs over the exact-kNN lists; rebuild it on the index
    // lists so the comparison isolates the SEARCH, not the graph)
    val idxNbrs = spark.read.parquet(s"${GraphAnnIndex.indexRoot(d)}/lists")
      .select("vec_id", "rn", "nb").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    def seqBeam(qid: Long, ef: Int): Seq[Long] = {
      val q = emb(qid)
      val entry = emb.keys.min
      val visited = scala.collection.mutable.Set(entry)
      val cand = scala.collection.mutable.PriorityQueue(
        (cos(q, emb(entry)), entry))(Ordering.by(x => (x._1, -x._2)))
      val res = scala.collection.mutable.PriorityQueue(
        (cos(q, emb(entry)), entry))(Ordering.by(x => (-x._1, x._2)))
      while (cand.nonEmpty) {
        val (cb, b) = cand.dequeue()
        if (res.size >= ef && cb < res.head._1) { cand.clear() }
        else for (nb <- idxNbrs.getOrElse(b, Seq.empty) if !visited(nb)) {
          visited += nb
          val cn = cos(q, emb(nb))
          if (res.size < ef || cn > res.head._1) {
            cand.enqueue((cn, nb)); res.enqueue((cn, nb))
            if (res.size > ef) res.dequeue()
          }
        }
      }
      res.toSeq.sortBy { case (c, v) => (-c, v) }.map(_._2).filter(_ != qid).take(TopK)
    }
    val seqHits = (0L until 10L).map(q => (bruteTop(q).toSet & seqBeam(q, 32).toSet).size).sum
    val seqRecall = seqHits.toDouble / (10 * TopK)
    info(f"recall@10 over the persisted lists: engine batched beam $engineRecall%.3f vs sequential JVM beam $seqRecall%.3f (ef=32)")
    assert(engineRecall >= seqRecall,
      f"batched beam recall $engineRecall%.3f fell below the sequential beam's $seqRecall%.3f")
    assert(engineRecall >= 0.90, f"engine beam recall $engineRecall%.3f below the measured floor")
  }

  test("repeated beam searches keep one round spill each, and the last frame still reads") {
    // Rounds deletes each beam round's spill once the next one is written,
    // so a search leaves only the spill behind the frame it returns (it
    // used to leave its round-0 spill plus one per fused round: up to
    // BeamRounds / BeamFuse + 1 directories per call)
    GraphAnnIndex.ensure(spark, d)
    val search = GraphAnnIndex.queries("sim_ann_graph_search")
    var spills = TestSpark.roundSpills("beam").size
    val frames = (1 to 3).map { i =>
      val df = search(spark, d)
      val now = TestSpark.roundSpills("beam").size
      assert(now - spills == 1, s"search call $i left ${now - spills} beam round spills")
      spills = now
      df
    }
    val first = frames.head.collect().toSeq
    assert(first.nonEmpty && frames.last.collect().toSeq == first,
      "the frame returned by the last search no longer reads its answer")
  }

  test("novel-query beam search: out-of-index queries reach the measured recall floor") {
    // round 18: the production serving shape — the query batch is NOT a
    // slice of the index (reversed embeddings: a pure permutation, and a
    // reversed random vector is uncorrelated with its source). Probe-only
    // + brute-force recall over the novel vectors.
    GraphAnnIndex.ensure(spark, d)
    val before = GraphAnnIndex.builds.get()
    val got = GraphAnnIndex.queries("sim_ann_graph_search_novel")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(GraphAnnIndex.builds.get() == before,
      "novel search triggered a graph build — the index contract is broken")
    def bruteNovel(qid: Long): Seq[Long] = {
      val q = emb(qid).reverse
      emb.keys.toSeq.map(v => (v, cos(q, emb(v))))
        .sortBy { case (v, c) => (-c, v) }.take(TopK).map(_._1)
    }
    val qs = got.keySet.toSeq.sorted
    assert(qs == (0L until 10L), s"probe set drifted: $qs")
    val hits = qs.map(q => (bruteNovel(q).toSet & got(q)).size).sum
    val recall = hits.toDouble / (qs.size * TopK)
    info(f"novel-query recall@10: $recall%.3f (measured 0.990/0.970/0.900 across SFs)")
    assert(recall >= 0.90, f"novel-query recall $recall%.3f below the measured floor")
  }

  test("incremental append: delta-only work, base never rebuilt, lists near-exact") {
    // round 18 (the ann_index_append convention on the graph family):
    // delta vectors (top ~20% id slice) get lists by beam-searching the
    // persisted BASE graph — HNSW's search-then-connect insert primitive.
    GraphAnnIndex.ensureBase(spark, d)
    val before = GraphAnnIndex.baseBuilds.get()
    val got = SparkEntry.queries("gann_index_append")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(GraphAnnIndex.baseBuilds.get() == before,
      "append re-built the base graph — the incremental contract is broken")
    val mx = emb.keys.max
    val cutoff = (mx * Similarity.IncrCutNum) / Similarity.IncrCutDen
    val deltaIds = emb.keys.filter(v =>
      v * Similarity.IncrCutDen > mx * Similarity.IncrCutNum).toSeq.sorted
    val byV = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // every delta vector gets exactly NndBuildK DISTINCT base neighbors
    assert(byV.keySet.toSeq.sorted == deltaIds, "appended set != the delta slice")
    byV.foreach { case (v, l) =>
      assert(l.length == Similarity.NndBuildK && l.distinct.length == l.length)
      assert(l.forall(nb => nb * Similarity.IncrCutDen <= mx * Similarity.IncrCutNum),
        s"delta $v linked to a non-base id")
    }
    // appended-list quality: recall of each delta's list vs its EXACT
    // top-NndBuildK over the base slice (brute cosine)
    val baseIds = emb.keys.filter(_ <= cutoff).toSeq
    def bruteBase(v: Long): Seq[Long] = {
      val q = emb(v)
      baseIds.map(b => (b, cos(q, emb(b))))
        .sortBy { case (b, c) => (-c, b) }.take(Similarity.NndBuildK).map(_._1)
    }
    val hits = deltaIds.map(v => (bruteBase(v).toSet & byV(v).toSet).size).sum
    val recall = hits.toDouble / (deltaIds.size * Similarity.NndBuildK)
    info(f"append recall@${Similarity.NndBuildK} vs exact base top-K: $recall%.3f over ${deltaIds.size} delta vectors")
    assert(recall >= 0.85, f"append recall $recall%.3f below floor")
  }

  test("lifecycle: merged serving reaches appended content the un-reversed lists provably cannot") {
    // VERDICT r18 #1: appended artifacts were write-only. The structural
    // fact first — in base ∪ delta lists WITHOUT reverse edges, no delta
    // id appears as an edge TARGET (delta lists point delta→base only),
    // so a base-entry beam can never return one. Then the repair: the
    // merged view's reverse edges make them both reachable and returned.
    GraphAnnIndex.ensureBase(spark, d)
    GraphAnnIndex.ensureAppend(spark, d)
    GraphAnnIndex.ensureTomb(spark, d)
    GraphAnnIndex.ensureCompact(spark, d)
    val root = GraphAnnIndex.baseRoot(d)
    val mx = emb.keys.max
    def isDelta(v: Long) = v * Similarity.IncrCutDen > mx * Similarity.IncrCutNum
    def isTomb(v: Long) =
      v * Similarity.DelCutDen > mx * Similarity.DelCutLoNum &&
      v * Similarity.DelCutDen <= mx * Similarity.DelCutHiNum
    val unrevTargets = spark.read.parquet(s"$root/lists").select("nb")
      .union(spark.read.parquet(s"$root/lists_delta").select("nb"))
      .collect().map(_.getLong(0)).toSet
    assert(!unrevTargets.exists(isDelta),
      "un-reversed lists already reach delta ids — the unreachability premise is stale")
    val before = (GraphAnnIndex.builds.get(), GraphAnnIndex.baseBuilds.get())
    val merged = GraphAnnIndex.queries("sim_ann_graph_search_merged")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(merged.exists { case (_, nn) => isDelta(nn) },
      "merged search returned no delta ids — appended content is still unserved")
    // recall pin on exactly the content that was unreachable: of the delta
    // ids in the exact top-10s, the merged beam must find most (measured
    // 19/19 at sf0.001 — overall merged recall 1.000)
    val truth = (0L until 10L).map(q => q -> bruteTop(q).toSet).toMap
    val deltaTruth = truth.toSeq.flatMap { case (q, t) => t.filter(isDelta).map((q, _)) }
    assert(deltaTruth.nonEmpty, "no delta ids in the exact top-10s — pin would be vacuous")
    val mergedSet = merged.toSet
    val deltaHits = deltaTruth.count(mergedSet)
    info(f"delta-content recall: $deltaHits/${deltaTruth.size} unreachable-before ids now served")
    assert(deltaHits.toDouble / deltaTruth.size >= 0.8,
      "merged search misses most of the appended content it exists to serve")
    // mark-deleted serving: tombstoned ids present before, absent after
    assert(merged.exists { case (_, nn) => isTomb(nn) },
      "pre-delete merged results contain no tombstone-slice ids — deletion pin vacuous")
    val deleted = GraphAnnIndex.queries("sim_ann_graph_search_deleted")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!deleted.exists { case (_, nn) => isTomb(nn) },
      "deleted serving returned a tombstoned id")
    // compaction: physical drop + the back-link repair the append deferred
    val cd = GraphAnnIndex.compactDir(root)
    val cg = spark.read.parquet(s"$cd/lists").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(!cg.exists { case (v, nb) => isTomb(v) || isTomb(nb) },
      "compacted graph still contains tombstoned vertices or edges into them")
    assert(cg.exists { case (_, nb) => isDelta(nb) },
      "compacted graph has no in-edges to delta vertices — the reverse-edge debt is unrepaired")
    val compacted = GraphAnnIndex.queries("sim_ann_graph_search_compacted")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!compacted.exists { case (_, nn) => isTomb(nn) })
    assert(compacted.exists { case (_, nn) => isDelta(nn) },
      "compacted serving lost the appended content")
    val compHits = compacted.count { case (q, nn) => truth(q)(nn) }
    info(f"compacted-serving recall@10 vs full truth: ${compHits / 100.0}%.3f (deleted ids count against it)")
    assert(compHits >= 85, "compacted serving recall below the measured floor (0.920)")
    // the entire serving+maintenance pass above trained nothing
    assert((GraphAnnIndex.builds.get(), GraphAnnIndex.baseBuilds.get()) == before,
      "a lifecycle serving key triggered a graph build")
  }

  test("generation-2: the compacted index is a valid base, re-ingested ids served again") {
    // round 19 session 2 — the multi-generation contract: compaction's
    // output must support the NEXT ingest cycle, or the lifecycle only
    // works once. The gen-2 batch is the tombstoned slice re-arriving;
    // the full cycle on the same ids is pinned end to end: present
    // (merged, asserted in the lifecycle test) → absent
    // (deleted/compacted, ditto) → PRESENT AGAIN (gen-2 serving, here).
    GraphAnnIndex.ensureCompact(spark, d)
    GraphAnnIndex.ensureAppend2(spark, d)
    val mx = emb.keys.max
    def isTomb(v: Long) =
      v * Similarity.DelCutDen > mx * Similarity.DelCutLoNum &&
      v * Similarity.DelCutDen <= mx * Similarity.DelCutHiNum
    def isDelta(v: Long) = v * Similarity.IncrCutDen > mx * Similarity.IncrCutNum
    val cd = GraphAnnIndex.compactDir(GraphAnnIndex.baseRoot(d))
    val dl2 = spark.read.parquet(s"$cd/lists_delta2").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(dl2.nonEmpty && dl2.forall { case (v, _) => isTomb(v) },
      "gen-2 lists carry non-tombstone sources — the delta2 cut leaked")
    assert(dl2.forall { case (_, nb) => !isTomb(nb) },
      "gen-2 lists point at tombstoned ids — candidates must come from the compacted graph")
    val tombIds = emb.keys.filter(isTomb).toSet
    assert(dl2.map(_._1).toSet == tombIds,
      "not every re-ingested vector got a neighbor list")
    // serving the gen-2 union trains nothing and re-ranks nothing
    val before = (GraphAnnIndex.builds.get(), GraphAnnIndex.baseBuilds.get(),
      GraphAnnIndex.compactBuilds.get())
    val gen2 = GraphAnnIndex.queries("sim_ann_graph_search_gen2")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert((GraphAnnIndex.builds.get(), GraphAnnIndex.baseBuilds.get(),
      GraphAnnIndex.compactBuilds.get()) == before,
      "gen-2 serving triggered a build or a re-compaction")
    assert(gen2.exists { case (_, nn) => isTomb(nn) },
      "re-ingested ids still unservable — the lifecycle does not close")
    assert(gen2.exists { case (_, nn) => isDelta(nn) },
      "gen-1 appended content lost in gen-2 serving")
    // recall vs the full exact truth — tombstoned ids are legitimately
    // servable again, so the truth is the unfiltered top-10
    val truth = (0L until 10L).map(q => q -> bruteTop(q).toSet).toMap
    val hits = gen2.count { case (q, nn) => truth(q)(nn) }
    info(f"gen-2 serving recall@10 vs full truth: ${hits / 100.0}%.3f")
    assert(hits >= 85, "gen-2 serving recall below the measured floor")
  }

  test("filtered search: same-label only, measured recall vs the filtered exact truth") {
    // both families' metadata-constrained keys, judged against the RIGHT
    // truth: the exact same-label top-10 (unfiltered truth would conflate
    // the filter's correctness with the index's recall)
    val labels = Tables.embeddings(spark, d).select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    def filteredTruth(qid: Long): Set[Long] = {
      val q = emb(qid)
      emb.keys.filter(v => v != qid && labels(v) == labels(qid)).toSeq
        .map(v => (v, cos(q, emb(v))))
        .sortBy { case (v, c) => (-c, v) }.take(TopK).map(_._1).toSet
    }
    val truth = (0L until 10L).map(q => q -> filteredTruth(q)).toMap
    for (key <- Seq("sim_ann_ivfpq_probe_filtered", "sim_ann_graph_search_filtered")) {
      // select by name — the probe emits (qid, nn, rn), the search
      // (qid, rn, nn)
      val got = SparkEntry.queries(key)(spark, d).select("qid", "nn").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.nonEmpty && got.forall { case (q, nn) => labels(nn) == labels(q) },
        s"$key returned an off-label id")
      val hits = got.count { case (q, nn) => truth(q)(nn) }
      info(f"$key recall@10 vs filtered exact truth: ${hits / 100.0}%.3f")
      assert(hits >= 70, s"$key filtered recall below the measured floor")
    }
    // non-vacuous: the unfiltered search DOES return off-label ids, so
    // the filter is doing real work
    val unf = SparkEntry.queries("sim_ann_graph_search")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(unf.exists { case (q, nn) => labels(nn) != labels(q) },
      "unfiltered search returned only same-label ids — the filter pin is vacuous")
  }

  test("greedy-only search (ef=1) is strictly worse than the beam — the beam earns its cost") {
    val r1 = recallAt(1)
    val r32 = recallAt(32)
    info(f"recall@10: ef=1 -> $r1%.3f vs ef=32 -> $r32%.3f")
    assert(r1 < r32,
      "pure greedy matches the beam — the measurement is not exercising the search")
  }

  test("gann_recall_eval reports exactly the beam's hits vs the JVM cosine ground truth") {
    val ann = SparkEntry.queries("sim_ann_graph_search")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = SparkEntry.queries("gann_recall_eval")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L until 10L).toSet)
    (0L until 10L).foreach { qid =>
      val expected = (bruteTop(qid).toSet intersect ann.getOrElse(qid, Set.empty)).size.toLong
      assert(got(qid) == expected, s"qid $qid: ${got(qid)} vs $expected")
    }
    val mean = got.values.sum.toDouble / (10 * got.size)
    info(f"graph serving recall@10 via the operator: $mean%.3f")
    assert(mean >= 0.85, f"operator-reported beam recall collapsed: $mean%.3f")
  }

  test("graph stats verb recounts the persisted lists exactly and never rebuilds") {
    GraphAnnIndex.ensure(spark, d)
    val b0 = GraphAnnIndex.builds.get()
    val row = GraphAnnIndex.stats(spark, d).collect()(0)
    assert(GraphAnnIndex.builds.get() == b0, "stats triggered a rebuild")
    val edges = spark.read.parquet(s"${GraphAnnIndex.indexRoot(d)}/lists")
      .select("vec_id", "nb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val inDeg = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val edgeSet = edges.toSet
    assert(row.getLong(0) == edges.map(_._1).distinct.length, "n_vertices")
    assert(row.getLong(1) == edges.length, "n_edges")
    assert(row.getLong(2) == edges.count { case (v, nb) => edgeSet((nb, v)) }, "n_mutual")
    assert(row.getLong(3) == inDeg.values.max, "max_in_deg")
    assert(row.getLong(4) ==
      edges.map(_._1).distinct.count(v => !inDeg.contains(v)), "n_unreferenced")
    info(s"back-link coverage ${row.getLong(2)}/${row.getLong(1)}, " +
      s"max in-degree ${row.getLong(3)}, unreferenced ${row.getLong(4)}")
  }

  test("streaming graph ingest through a real MemoryStream equals the one-shot append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraphAnnIndex.ensureBase(spark, d)
    GraphAnnIndex.ensureAppend(spark, d) // the one-shot reference artifact
    val bb0 = GraphAnnIndex.baseBuilds.get()
    val root = GraphAnnIndex.baseRoot(d)
    val sd = GraphAnnIndex.streamDir(root)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete()
    }
    rm(new java.io.File(sd))
    val mxId = emb.keys.max
    val delta = emb.toSeq.filter { case (id, _) =>
      id * Similarity.IncrCutDen > mxId * Similarity.IncrCutNum }.sortBy(_._1)
    assert(delta.nonEmpty)
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        GraphAnnIndex.ingestStreamBatch(spark, d, batch, id)
      }
      .start()
    try {
      val (a, b) = delta.splitAt(delta.length / 2)
      for (grp <- Seq(a, b) if grp.nonEmpty) {
        input.addData(grp.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // streaming never re-descends the base graph
    assert(GraphAnnIndex.baseBuilds.get() == bb0,
      "streaming graph ingest rebuilt the base")
    val segs = new java.io.File(sd).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("lists_sb")).map(_.getPath)
    assert(segs.length >= 2, s"expected multiple stream segments, got ${segs.length}")
    val streamed = segs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .collect().map(_.toSeq).toSet
    val oneShot = spark.read.parquet(s"$root/lists_delta")
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      "stream-ingested neighbor lists diverge from the one-shot append")
  }
}
