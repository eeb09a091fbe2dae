package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import TestSpark.{spark, Sf0001}

/** Semantic checks for the round-5 retrieval/graph/packing operators —
  * properties the cell-exact DuckDB oracles can't express (monotonicity,
  * coverage, conservation).
  */
class RetrievalGraphSpec extends AnyFunSuite {
  private def q(name: String) = SparkEntry.queries(name)(spark, Sf0001)

  test("pagerank: deterministic, mass bounded, hubs outrank leaves") {
    val a = q("graph_pagerank").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = q("graph_pagerank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    // every rank >= the base mass and below the theoretical ceiling
    assert(a.forall { case (_, pr) => pr >= 150000L && pr <= a.length.toLong * 1000000L })
    // the bipartite graph has ~25 suppliers vs ~150 customers, so suppliers
    // concentrate degree — the top-ranked node must be a supplier (odd id)
    val top = a.maxBy(_._2)
    assert(top._1 % 2 == 1, s"top node ${top._1} is not a supplier")
  }

  test("pagerank: an orders rewrite in place is served fresh edges, not the old memo") {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft_pr_rewrite").toFile
    def copyFixture(name: String): String = {
      val dir = new java.io.File(tmp, name); dir.mkdirs()
      new java.io.File(Sf0001).listFiles().foreach(f =>
        Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath))
      dir.getPath
    }
    // every other order only: different rows, so different edges
    def rewriteOrders(d: String): Unit = {
      val out = new java.io.File(tmp, "orders_out").getPath
      spark.read.parquet(s"$Sf0001/orders.parquet").where(col("o_orderkey") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$d/orders.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    def ranks(d: String) = Graph.pagerank(spark.newSession(), d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      val d = copyFixture("a")
      val before = ranks(d)
      rewriteOrders(d)
      val after = ranks(d)
      // the truth: the same rewritten fixture under a path no memo has seen
      val fresh = copyFixture("b")
      rewriteOrders(fresh)
      val served = after == ranks(fresh)
      assert(served, "pagerank after the rewrite served stale edges")
      val changed = after != before
      assert(changed, "the rewrite did not change pagerank — the check is vacuous")
    } finally Sources.rmTree(tmp)
  }

  test("triangle enumeration equals a brute-force adjacency-set scan") {
    val got = q("graph_triangle_count").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: rebuild the thresholded co-purchase edge set, then for
    // each edge intersect the endpoints' neighbor sets
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { order =>
      val ps = order.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity)
      // NB: .collect { case (e, n) => e } on a Map would rebuild a Map and
      // silently dedupe by e._1 — filter + keySet keeps the full edge set
      .filter(_._2.size >= Graph.TriMinCoOrders).keySet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = edges.flatMap { case (u, v) =>
      (nbrs(u) & nbrs(v)).filter(w => w > u && w > v).map(w => (u, v, w))
    }
    assert((got -- expected).isEmpty, s"spurious: ${(got -- expected).take(5)}")
    assert((expected -- got).isEmpty, s"missing: ${(expected -- got).take(5)}")
    assert(expected.nonEmpty, "fixture yields no triangles — test is vacuous")
  }

  test("connected components equal a union-find over the thresholded co-purchase edges") {
    val got = q("graph_connected_components").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { order =>
      val ps = order.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= Graph.TriMinCoOrders).keySet
    // union-find with canonical = min id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    val parts = Tables.part(spark, Sf0001).select("p_partkey")
      .collect().map(_.getLong(0))
    val expected = parts.map(p => p -> find(p)).toMap
    assert(got == expected,
      s"drift: ${(got.toSet -- expected.toSet).take(3)} / ${(expected.toSet -- got.toSet).take(3)}")
    // the fixture must exercise a real multi-node component
    assert(expected.exists { case (n, c) => n != c }, "no non-trivial component — vacuous")
  }

  test("bm25: scores non-increasing per query, every hit shares a term, rn dense") {
    val rows = q("text_bm25_topk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val byRn = rs.sortBy(_._2)
      assert(byRn.map(_._2).toSeq == (1 to byRn.length).toSeq, s"query $qid rn not dense")
      assert(byRn.sliding(2).forall(w => w.length < 2 || w(0)._4 >= w(1)._4),
        s"query $qid scores increase with rank")
      assert(rs.forall(_._5 >= 1), s"query $qid hit with zero shared terms")
    }
  }

  test("pack_sequences: token totals conserved, bins dense per shard") {
    val rows = q("pack_sequences").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val corpusTokens = Tables.documents(spark, Sf0001)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(rows.map(_._4).sum == corpusTokens, "packed token total != corpus total")
    val corpusDocs = Tables.documents(spark, Sf0001).count()
    assert(rows.map(_._3).sum == corpusDocs, "packed doc total != corpus count")
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val bins = rs.map(_._2).sorted
      assert(bins.toSeq == (0L until bins.length).toSeq, s"shard $shard bins not dense")
    }
  }

  test("pipeline_pretrain_mini equals the composed dedup -> quality -> pack reference") {
    import TextOps.{PackShards, PackSeqLen}
    val got = q("pipeline_pretrain_mini").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // stage 1: exact-dedup representatives (min doc_id per text)
    val reps = docs.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    // stage 2: integer quality floor (uniq_ratio >= 0.35 as n_uniq*20 >= n*7)
    val cleaned = reps.map { case (id, t) =>
      val tk = t.split(" ", -1) // keep empties: Spark split / string_split
      (id, tk.length.toLong, tk.distinct.length.toLong)
    }.filter { case (_, n, u) => u * 20 >= n * 7 }
    // stage 3: shard-local exclusive-prefix packing of the survivors
    val expected = cleaned.map { case (id, n, _) => (id % PackShards, id, n) }
      .groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
        var off = 0L
        rows.sortBy(_._2).map { case (_, id, n) =>
          val bin = off / PackSeqLen; off += n; (shard, bin, id, n)
        }.groupBy(t => t._2).map { case (bin, ds) =>
          (shard, bin) -> ((ds.size.toLong, ds.map(_._4).sum,
            ds.map(_._3).min, ds.map(_._3).max))
        }
      }.toMap
    assert(got == expected, "pipeline packing stats mismatch")
    // the pipeline must actually drop something vs the raw corpus
    assert(cleaned.size < docs.length,
      "pipeline dropped nothing — dedup/quality stages vacuous on fixture")
  }

  test("pipeline_pretrain_full composes six verified stages, each dropping docs") {
    import TextOps.{PackShards, PackSeqLen}
    import TestSpark.Sf01
    // sf0.1, not the usual sf0.001: the smaller fixtures have no exact-dup
    // texts at all (only sf0.1 carries them), and the stage-drop
    // accounting below requires every stage to bite
    val got = SparkEntry.queries("pipeline_pretrain_full")(spark, Sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.documents(spark, Sf01).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // stage 1: exact-dedup representatives (min doc_id per text)
    val reps = docs.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    val repIds = reps.map(_._1).toSet
    // stage 2: near-dedup — drop a rep linked by a verified Jaccard>=0.8
    // pair to a SMALLER rep. The pair frame comes from the independently
    // driver-verified band index (dedup_near_minhash's oracle row), so
    // this spec pins the COMPOSITION, not the pair derivation.
    val pairs = Similarity.minhashCandidates(spark, Sf01, 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nearDropped = pairs.collect { case (a, b) if repIds(a) => b }.toSet
    val near = reps.filterNot(r => nearDropped(r._1))
    // stage 3: the probe set (doc_id < 50) leaves the corpus, and any doc
    // sharing an 8-shingle with it drops (text_decontaminate's verified
    // output is the contaminated-id reference)
    val cont = SparkEntry.queries("text_decontaminate")(spark, Sf01)
      .collect().map(_.getLong(0)).toSet
    val decon = near.filter(r => r._1 >= 50 && !cont(r._1))
    // stage 4: integer quality floor
    val floored = decon.map { case (id, t) =>
      val tk = t.split(" ", -1)
      (id, tk.length.toLong, tk.distinct.length.toLong)
    }.filter { case (_, n, u) => u * 20 >= n * 7 }
    // stage 5 (late round 11; Kneser-Ney since round 17 — VERDICT r16
    // #7): the full-corpus KN surprisal filter — text_lm_surprisal_kn's
    // verified flag column is the reference, so the spec again pins the
    // COMPOSITION, not the score derivation
    val surpFlagged = SparkEntry.queries("text_lm_surprisal_kn")(spark, Sf01)
      .collect().collect { case r if r.getBoolean(3) => r.getLong(0) }.toSet
    val cleaned = floored.filterNot { case (id, _, _) => surpFlagged(id) }
    // stage 6: shard-local exclusive-prefix packing of the survivors
    val expected = cleaned.map { case (id, n, _) => (id % PackShards, id, n) }
      .groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
        var off = 0L
        rows.sortBy(_._2).map { case (_, id, n) =>
          val bin = off / PackSeqLen; off += n; (shard, bin, id, n)
        }.groupBy(t => t._2).map { case (bin, ds) =>
          (shard, bin) -> ((ds.size.toLong, ds.map(_._4).sum,
            ds.map(_._3).min, ds.map(_._3).max))
        }
      }.toMap
    assert(got == expected, "full-pipeline packing stats mismatch")
    // stage-drop accounting: every stage must bite on the fixture — a
    // vacuous stage means the composition no longer exercises its operator
    info(s"docs=${docs.length} exact=${reps.size} near=${near.size} " +
      s"decontam=${decon.size} quality=${floored.size} surprisal=${cleaned.size}")
    assert(reps.size < docs.length, "exact-dedup stage vacuous")
    assert(near.size < reps.size, "near-dedup stage vacuous")
    assert(decon.size < near.size, "probe/decontamination stage vacuous")
    assert(floored.size < decon.size, "quality stage vacuous")
    assert(cleaned.size < floored.size, "surprisal stage vacuous")
  }

  test("zorder buckets are tight dyadic boxes, not global-width stripes") {
    // each Z-bucket (morton >> 12) is a rectangle in (partkey, suppkey)
    // space; clustering is real iff the per-bucket bounding boxes tile the
    // global box instead of each spanning it — that tiling is exactly why
    // parquet min/max stats prune on EITHER key after a Z-order write. An
    // unclustered layout would put ~the global box in every bucket
    // (sum ≈ buckets × global); Z-order keeps the sum within ~2× global.
    val rows = q("etl_zorder_cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length > 1, "need multiple buckets for a tiling claim")
    val boxSum = rows.map(r => (r._4 - r._3 + 1) * (r._6 - r._5 + 1)).sum
    val global = (rows.map(_._4).max - rows.map(_._3).min + 1) *
      (rows.map(_._6).max - rows.map(_._5).min + 1)
    assert(boxSum <= 2 * global,
      s"bucket boxes sum to $boxSum vs global $global — no locality")
    // the Morton spread masks keys to 16 bits (Etl.spreadBits doc): keys
    // past 65535 would alias SILENTLY (oracle still matches, locality
    // quietly gone) — surface key-domain growth loudly here instead
    assert(rows.map(_._4).max <= 65535 && rows.map(_._6).max <= 65535,
      "zorder key domain exceeded 16 bits — widen the Morton spread")
  }

  test("chunk_overlap: stride-48 chunks cover every token exactly once per 64-window") {
    val rows = q("chunk_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val nTok = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val n = nTok(doc)
      val byId = rs.sortBy(_._2)
      assert(byId.map(_._2).toSeq == (0L until byId.length).toSeq, s"doc $doc chunk ids not dense")
      val last = byId.last
      assert(last._3 + 64 - 1 >= n, s"doc $doc tail tokens uncovered")
      byId.foreach { case (_, _, start, len, text) =>
        assert(len == math.min(64L, n - start + 1), s"doc $doc bad chunk length")
        assert(text.split(" ").length.toLong == len, s"doc $doc text/len mismatch")
      }
    }
  }

  test("graph_kcore equals an unbounded driver-side peel (fixpoint within KcoreRounds)") {
    val got = q("graph_kcore").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // defining property: every surviving node keeps core degree >= K
    got.foreach { case (n, deg) =>
      assert(deg >= Graph.KcoreK, s"node $n survives with degree $deg < K")
    }
    // reference: peel to the TRUE fixpoint (unbounded rounds) — if this
    // ever diverges from the bounded query, KcoreRounds no longer covers
    // the fixture and must be raised
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges = li.groupBy(_._1).values.flatMap { order =>
      val ps = order.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= Graph.TriMinCoOrders).keySet.toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.length).toMap
      val keep = deg.filter(_._2 >= Graph.KcoreK).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      if (changed) rounds += 1
      edges = next
    }
    assert(rounds <= Graph.KcoreRounds,
      s"true peel needs $rounds rounds — raise KcoreRounds (${Graph.KcoreRounds})")
    val expected = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got == expected,
      s"kcore mismatch, e.g. ${(got.toSet -- expected.toSet).take(3)} / ${(expected.toSet -- got.toSet).take(3)}")
    assert(got.nonEmpty, "empty 2-core — fixture degenerate")
  }

  test("kcore local regime equals the distributed peel loop") {
    // the round-15 two-regime gate: the driver-side peel (default on the
    // fixture's small graph) must match the distributed spill loop
    // row-for-row under -Dgraft.cc.forceLoop
    val local = q("graph_kcore").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    System.setProperty("graft.cc.forceLoop", "true")
    val loop =
      try q("graph_kcore").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      finally System.clearProperty("graft.cc.forceLoop")
    assert(local == loop, s"kcore regimes disagree:\n local=$local\n loop=$loop")
  }

  test("bfs distance equals a JVM frontier BFS; local regime equals the spill loop") {
    // brute force: rebuild the thresholded co-purchase edge set, mirror,
    // BFS from the seed slice with the same hop cap
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val co = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity)
      // filter + keySet, NOT .collect — see the triangle spec's NB above
      .filter(_._2.size >= Graph.TriMinCoOrders).keySet
    val adj = scala.collection.mutable.HashMap[Long, Set[Long]]().withDefaultValue(Set.empty)
    co.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val exp = scala.collection.mutable.HashMap[Long, Long]()
    var frontier = adj.keys.filter(_ < Graph.BfsSeedCap).toSet
    frontier.foreach(n => exp(n) = 0L)
    var hop = 0L
    while (frontier.nonEmpty && hop < Graph.BfsRounds) {
      hop += 1
      frontier = frontier.flatMap(adj(_)).filterNot(exp.contains)
      frontier.foreach(n => exp(n) = hop)
    }
    val got = q("graph_bfs_distance").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp.toMap, s"bfs mismatch, e.g. ${(got.toSet -- exp.toSet).take(3)}" +
      s" / ${(exp.toSet -- got.toSet).take(3)}")
    // non-vacuity: seeds exist and at least one non-seed layer was reached
    assert(got.values.exists(_ == 0L) && got.values.exists(_ > 0L))
    // regime equality: the driver BFS (default on this fixture) must match
    // the distributed fixed-round relaxation row-for-row
    System.setProperty("graft.cc.forceLoop", "true")
    val loop =
      try q("graph_bfs_distance").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally System.clearProperty("graft.cc.forceLoop")
    assert(loop == got, "bfs regimes disagree")
  }

  test("neighbor jaccard equals a brute-force neighbor-set top-50") {
    val got = q("graph_jaccard_neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // brute force: same thresholded edge set, full neighbor-set jaccard
    // over every common-neighbor pair, same (jaccard desc, u, w) order
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { order =>
      val ps = order.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= Graph.TriMinCoOrders).keySet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairs = nbrs.keySet.toSeq.sorted.combinations(2).toSeq
      .map { case Seq(u, w) => (u, w, (nbrs(u) & nbrs(w)).size.toLong) }
      .filter(_._3 > 0)
      .map { case (u, w, cn) =>
        val (du, dw) = (nbrs(u).size.toLong, nbrs(w).size.toLong)
        (u, w, cn, du, dw, cn.toDouble / (du + dw - cn).toDouble)
      }
    val expected = pairs.sortBy(p => (-p._6, p._1, p._2)).take(50)
    assert(got.toSeq == expected, "jaccard top-50 mismatch")
    assert(expected.nonEmpty && expected.head._6 > 0.0)
  }

  test("jaccard middle-degree cap binds on a degenerate hub (VERDICT r10 #3)") {
    // Star: hub 1000 ↔ leaves 1..100 (hub degree 100 > JaccardMidDegCap)
    // plus one low-degree path 200—201—202. Every fixture degree is far
    // below the cap, so this synthetic graph is the only place the cap's
    // behavior is observable: without it the hub middle emits C(100,2) =
    // 4950 leaf pairs; with it the ONLY wedge routes through node 201.
    import spark.implicits._
    val hub = 1000L
    val undirected = (1L to 100L).map(l => (hub, l)) ++ Seq((200L, 201L), (201L, 202L))
    val sym = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("v", "n")
    val got = Graph.jaccardCore(sym).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // 200 and 202 each have degree 1 (their one neighbor is 201); cn = 1
    // through the middle 201 → jaccard 1/(1+1-1) = 1.0
    assert(got.toSeq == Seq((200L, 202L, 1L, 1L, 1L, 1.0)),
      s"capped wedge set wrong: ${got.toSeq.take(5)}")
    assert(!got.exists(p => p._1 <= 100L && p._2 <= 100L),
      "hub-middle leaf pairs leaked past the degree cap")
  }
}
