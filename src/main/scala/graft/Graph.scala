package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Iterative graph analytics over the order graph: PageRank on the
  * customer–supplier bipartite graph (edge = customer c bought from
  * supplier s, via orders ⋈ lineitem), made undirected so every node has
  * degree >= 1 and no dangling-mass correction is needed.
  *
  * Scale shape: the per-iteration step is one equi-join (edges ⋈ ranks on
  * src) + one hash aggregation (sum of contributions by dst) — O(edges)
  * rows shuffled per round, the same bounded-state iteration contract as
  * [[Similarity.labelPropagate]]. Edges (with degree attached) are computed
  * once and persisted; the rank frame is O(nodes). A fixed iteration count
  * keeps the lineage bounded (3 rounds — no checkpoint needed; a longer
  * run would spill to parquet every ~3 rounds exactly like labelPropagate).
  *
  * Determinism (rule D5): ranks are scaled BIGINT micro-units with
  * truncating integer division — r' = 150000 + (85 * Σ_u (r_u div deg_u))
  * div 100, i.e. damping 0.85 and a per-node base of 0.15 in units of 1e-6.
  * Every operand is non-negative, where Spark's `div` (truncate) and
  * DuckDB's `//` (floor) agree, so the result is bit-identical
  * cross-engine — no float summation order to worry about. Overflow head-
  * room: Σ ranks <= nodes * 1e6, times 85 — safely inside int64 up to
  * ~1e11 nodes.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  val Iterations = 3

  /** graph_kcore: core order K and the fixed peel-round count. 6 rounds
    * converge on every fixture (sf0.1 needs all 6); GraphSpec asserts the
    * fixpoint so a regenerated fixture can't silently under-peel.
    */
  val KcoreK = 2
  val KcoreRounds = 6

  /** graph_bfs_distance: seeds = co-purchase graph endpoints with part id
    * below this bound (interpolated into the oracle), distances reported
    * up to [[BfsRounds]] hops. 100 keeps every fixture non-vacuous
    * (measured layer spread before wiring: sf0.001 hops 0-1 — the tiny
    * graph is near-complete; sf0.01 hops 0-6; sf0.1 hops 0-5).
    */
  val BfsSeedCap = 100L
  val BfsRounds = 6

  /** Customer–supplier edges, symmetric: (src, dst). Node ids: customer
    * c → 2c, supplier s → 2s+1. Both directions emit from ONE pass via
    * explode — the self-union form shares the distinct's shuffle between
    * branches (ReusedExchange) but still re-runs the final aggregate per
    * branch; explode keeps one aggregate and one scan in the plan.
    */
  private def symEdges(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Symmetric edges with the source degree attached — degree rides a
    * whole-partition window (one shuffle of the edge list), not a
    * groupBy + self-join, which would pay a second aggregate and a join
    * pass over the same rows before the parquet spill.
    */
  private def edgesWithDeg(s: SparkSession, d: String): DataFrame =
    symEdges(s, d).withColumn("deg",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("src")))

  def pagerank(s: SparkSession, d: String): DataFrame = {
    // The edge list is referenced once per iteration plus once for the
    // rank seed — spill it to parquet ONCE and read it back, so the
    // unrolled plan scans a small materialized file instead of recomputing
    // the orders ⋈ lineitem join per reference (a persist() here would
    // either leak past the query or, unpersisted before the action, drop
    // the blocks the plan still needs — the exact trap labelPropagate's
    // spill-every-3-rounds avoids). The write runs eagerly at construction
    // time, same contract as the Etl sink operators. One spill per (process,
    // orders+lineitem fingerprint): repeated constructions — plan-only
    // inspection, Bench's reruns — reuse the first write (ADVICE.md round
    // 5), and a fixture rewritten in place rebuilds instead of serving
    // stale edges (ADVICE r7).
    val edges = Sources.memoSpill(s,
        Sources.fixtureKey(d, "orders") + "+" + Sources.fixtureKey(d, "lineitem"),
        "pr_edges")(edgesWithDeg(s, d))
    var ranks = edges.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(1000000L))
    for (_ <- 1 to Iterations) {
      ranks = edges.join(ranks, edges("src") === ranks("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("in_mass"))
        .select(col("dst").as("node"),
          expr("150000L + (85L * in_mass) div 100L").as("pr"))
    }
    ranks.orderBy("node")
  }

  /** Co-purchase edges must appear in at least this many distinct orders.
    * The application-level sparsifier: coincidental single-order pairings
    * are noise at any scale (and the pair count would grow with the square
    * of basket size times order count); requiring repeat co-occurrence
    * keeps the graph at the "real signal" density. Interpolated into the
    * oracle SQL so query and oracle cannot desynchronize.
    */
  val TriMinCoOrders = 2

  /** Hot-middle degree cap for the Jaccard wedge join (VERDICT r10 #3):
    * wedges route only through middles with degree <= this, making the
    * Σ deg(middle)² wedge term STRUCTURALLY bounded at cap²·nodes instead
    * of data-dependent — the ShingleDfCap precedent (a df-64 cap on hot
    * shingles) applied to graph middles. A 10^6-degree hub carries no
    * usable similarity signal (co-purchasing through it says nothing
    * about u~w), so dropping it changes ranking noise, not meaning; the
    * HUB's own row survives wherever a low-degree middle links it.
    * Far above every fixture degree (max 13 at sf0.01, 6 at sf0.1 — the
    * fixture result is bit-identical with or without the cap, which is
    * what lets the oracle gate stay exact), binding only on degenerate
    * graphs (GraphSpec proves the binding case on a synthetic star).
    * Interpolated into the oracle SQL so query and oracle cannot
    * desynchronize.
    */
  val JaccardMidDegCap = 64

  /** Oriented co-purchase edge list, spilled once per (process, dataset):
    * parts co-ordered in >= TriMinCoOrders distinct orders, each undirected
    * edge oriented from the lower (degree, id) endpoint to the higher, with
    * the destination's degree carried on the edge. Orientation is THE
    * triangle-counting scale trick (Schank/Wagner): every triangle is
    * emitted exactly once from its lowest-degree corner, and the wedge join
    * fans out by ORIENTED out-degree — bounded by O(sqrt(edges)) per node
    * on any graph, so wedge work is O(edges^1.5) worst case instead of the
    * unoriented sum of squared degrees (a hub with degree 10^6 contributes
    * ~zero wedges as a dst, not 10^12 as a middle). The spill (pagerank's
    * pattern) is read three times by the triangle join — materializing the
    * thresholded edge list beats recomputing the lineitem self-join per
    * reference. Fingerprint-keyed (ADVICE r7): a lineitem fixture rewritten
    * in place invalidates the memo instead of serving stale edges.
    */
  private[graft] def orientedCoEdges(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s, Sources.fixtureKey(d, "lineitem"), "tri_edges")(
      orientedCoEdgeFrame(s, d))

  /** The thresholded co-purchase self-join as the oriented edge list. See
    * [[orientedCoEdges]].
    */
  private def orientedCoEdgeFrame(s: SparkSession, d: String): DataFrame = {
    val cs = lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = cs.as("a").join(cs.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= TriMinCoOrders)
      .select("p1", "p2")
    val deg = e.select(col("p1").as("node"))
      .unionAll(e.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val lower = col("d1.deg") < col("d2.deg") ||
      (col("d1.deg") === col("d2.deg") && col("p1") < col("p2"))
    e.join(deg.as("d1"), col("p1") === col("d1.node"))
      .join(deg.as("d2"), col("p2") === col("d2.node"))
      .select(
        when(lower, col("p1")).otherwise(col("p2")).as("src"),
        when(lower, col("p2")).otherwise(col("p1")).as("dst"),
        when(lower, col("d2.deg")).otherwise(col("d1.deg")).as("ddeg"))
  }

  val queries: Map[String, Q] = Map(
    "graph_pagerank" -> (pagerank _),

    // Triangle enumeration over the part co-purchase graph (edge = two
    // parts co-ordered in >= TriMinCoOrders distinct orders) — the
    // structural primitive under clustering coefficients, community
    // detection and fraud-ring screens. Wedges form by joining oriented
    // out-edges on their source, ordered (ddeg, dst) to count each wedge
    // once; a third equi-join closes them against the oriented edge set.
    // Every join is an equi-join on a key (src, then (src, dst)) — never
    // all-pairs; see [[orientedCoEdges]] for the degree-orientation bound.
    "graph_triangle_count" -> ((s, d) => {
      val oo = orientedCoEdges(s, d)
      val wedge = oo.as("o1").join(oo.as("o2"),
          col("o1.src") === col("o2.src") &&
            (col("o1.ddeg") < col("o2.ddeg") ||
              (col("o1.ddeg") === col("o2.ddeg") && col("o1.dst") < col("o2.dst"))))
        .select(col("o1.src").as("a"), col("o1.dst").as("b"), col("o2.dst").as("c"))
      wedge.join(oo.as("o3"),
          col("b") === col("o3.src") && col("c") === col("o3.dst"))
        .select(
          least(col("a"), col("b"), col("c")).as("t1"),
          (col("a") + col("b") + col("c")
            - least(col("a"), col("b"), col("c"))
            - greatest(col("a"), col("b"), col("c"))).as("t2"),
          greatest(col("a"), col("b"), col("c")).as("t3"))
        .orderBy("t1", "t2", "t3")
    }),

    // Degree distribution of the same bipartite graph — the first sanity
    // scan any graph pipeline runs (skew here predicts every downstream
    // join's hot keys). One distinct + two hash aggregations, O(edges);
    // no degree join needed, the histogram groupBy IS the degree count.
    "graph_degree_histogram" -> ((s, d) =>
      symEdges(s, d).groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg"))
,
    // Neighbor-set Jaccard link prediction (round 10) over the thresholded
    // co-purchase graph: for every node pair with >= 1 common neighbor,
    // |N(u)∩N(w)| / |N(u)∪N(w)| — the classic "customers also bought"
    // candidate scorer. Common-neighbor counts come from the wedge join
    // through the shared middle (x.v = y.v, n-ordered so each unordered
    // pair counts once); unlike the TRIANGLE join this one cannot be
    // degree-oriented (Jaccard needs EVERY common neighbor, not one
    // canonical wedge per triangle), so the middle fans out by deg(v)² —
    // structurally bounded since round 11 by [[JaccardMidDegCap]] (hub
    // middles are excluded from wedges, the ShingleDfCap pattern), with
    // the co-order threshold as the application-level sparsifier beneath
    // it. Top-50 on the (jaccard, u, w) total order — the division's
    // operands are the SAME integers on both engines, so the double is
    // bit-identical. Reads the memoized edge spill three times (sym ×2 +
    // degrees), never recomputing the lineitem self-join.
    "graph_jaccard_neighbors" -> ((s, d) => {
      val sym = orientedCoEdges(s, d)
        .select(explode(array(
          struct(col("src").as("v"), col("dst").as("n")),
          struct(col("dst").as("v"), col("src").as("n")))).as("x"))
        .select(col("x.v").as("v"), col("x.n").as("n"))
      jaccardCore(sym)
    })
,
    // Connected components of the thresholded co-purchase graph —
    // labelPropagate (the dedup clustering engine) is GRAPH-GENERIC: the
    // same O(edge-endpoints)-per-round min-label loop with adaptive
    // pointer jumping runs unchanged over part nodes, proving the CC
    // machinery is an engine primitive, not a dedup special case. Isolated
    // parts (the vast majority under the >= TriMinCoOrders threshold)
    // never enter the loop and join back with component_id = own id, the
    // same O(edges)-not-O(corpus) state bound as dedup_cluster_cc. Edge
    // orientation (a degree trick for the TRIANGLE join) is irrelevant to
    // CC — labelPropagate mirrors both directions itself.
    "graph_connected_components" -> ((s, d) => {
      val e = orientedCoEdges(s, d).select(col("src").as("da"), col("dst").as("db"))
      val nodes = part(s, d).select(col("p_partkey").as("doc_id"))
      // durableEdges: the edge frame is the memoized parquet spill — no
      // cache or materialization job needed (VERDICT r7 #5)
      Similarity.labelPropagate(nodes, e, durableEdges = true)
        .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))
        .orderBy("node")
    }),

    // Multi-source BFS over the same thresholded co-purchase graph — the
    // distance primitive next to CC (membership), kcore (density) and
    // pagerank (centrality): hop distance from a seed set (part ids <
    // BfsSeedCap that appear as graph endpoints) for every node within
    // BfsRounds hops; unreached nodes are excluded on both engines. Same
    // two-regime gate as CC/kcore ([[Regime]]; `spark.graft.regime=loop`
    // forces the loop): a graph at or under CcLocalEdgeCap mirrored edges
    // runs textbook frontier BFS driver-side (exact, and ~10x on
    // fixtures — the per-write-job floor dominates tiny loops);
    // above it, fixed-round distributed relaxation: each round is one
    // edges ⋈ dist equi-join + a min aggregation — O(edges) shuffled per
    // round, the labelPropagate state contract — fused two rounds per
    // parquet spill (per-ACTION fixed cost dominates; a 2-deep plan
    // references its input 4 times, cheap against a bare parquet scan).
    // After r full relaxations every discovered node carries its EXACT
    // BFS distance (<= r), so the round cap equals the oracle's d <
    // BfsRounds recursion guard, and an unchanged row count is an exact
    // early exit: no new node this round means the frontier is empty and
    // discovered distances are final (BFS never lowers a distance).
    "graph_bfs_distance" -> ((s, d) => {
      val e0 = orientedCoEdges(s, d).select(col("src"), col("dst"))
      Regime.local(e0, Similarity.CcLocalEdgeCap).map { probe =>
        val adj = scala.collection.mutable.HashMap[Long,
          scala.collection.mutable.ArrayBuffer[Long]]()
        probe.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          adj.getOrElseUpdate(a, new scala.collection.mutable.ArrayBuffer) += b
          adj.getOrElseUpdate(b, new scala.collection.mutable.ArrayBuffer) += a
        }
        val dist = scala.collection.mutable.HashMap[Long, Long]()
        var frontier = adj.keys.filter(_ < BfsSeedCap).toSeq
        frontier.foreach(n => dist(n) = 0L)
        var hop = 0L
        while (frontier.nonEmpty && hop < BfsRounds) {
          hop += 1
          frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
          frontier.foreach(n => dist(n) = hop)
        }
        import s.implicits._
        dist.toSeq.toDF("node", "dist").orderBy("node")
      }.getOrElse {
        val sym = e0.select(explode(array(
            struct(col("src").as("a"), col("dst").as("b")),
            struct(col("dst").as("a"), col("src").as("b")))).as("x"))
          .select(col("x.a").as("src"), col("x.b").as("dst"))
        val seeds = sym.where(col("src") < BfsSeedCap)
          .select(col("src").as("node")).distinct()
          .withColumn("dist", lit(0L))
        s.read.parquet(Rounds.run(s, "bfs", seeds, BfsRounds, fuse = 2,
            observed = Some(count(lit(1)))) { df =>
          df.unionAll(
              sym.join(df, col("src") === col("node"))
                .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist")))
            .groupBy("node").agg(min("dist").as("dist"))
        }(r => r.observed == r.previous)) // frontier empty — rest are no-ops
          .orderBy("node")
      }
    }),

    // k-core decomposition (K = KcoreK) of the same thresholded
    // co-purchase graph — the density filter community detection and
    // spam/fraud screens start from: iteratively peel nodes of degree
    // < K until the surviving subgraph stabilizes. Semantics are a FIXED
    // KcoreRounds peel rounds, shared verbatim with the oracle's chained
    // CTE stages — measured to converge on every fixture (sf0.001: 0
    // needed, sf0.01: 3, sf0.1: 6; GraphSpec re-proves the fixpoint each
    // run), so the bounded form IS the true 2-core here while keeping
    // both engines' work identical by construction. Each round is one
    // degree aggregation + two semi-joins over the surviving edges,
    // O(edges) per round, and every round SPILLS to parquet — without the
    // spill the round plan references its predecessor three times and the
    // logical tree grows 3^rounds (the labelPropagate lesson). Unbounded
    // convergence at scale = the same spill loop with the observed
    // change-count fixpoint test labelPropagate uses.
    "graph_kcore" -> ((s, d) => {
      // Two-regime gate (round 15, the labelPropagate design): the peel
      // loop pays the same fixed per-write-job floor as the CC loop, so a
      // graph under Similarity.CcLocalEdgeCap peels driver-side — the
      // SAME bounded-rounds-with-early-exit semantics over the collected
      // edge array, bit-identical by construction (each round drops the
      // identical edge set; after the fixpoint every round is the
      // identity either way). `spark.graft.regime=loop` ([[Regime]])
      // forces the distributed loop (spec/ProfScale escape hatch).
      val edges0 = orientedCoEdges(s, d).select(col("src").as("p1"), col("dst").as("p2"))
      Regime.local(edges0, Similarity.CcLocalEdgeCap).map { probe =>
        var cur = probe.map(r => (r.getLong(0), r.getLong(1)))
        var r = 0
        var prev = -1
        while (r < KcoreRounds && cur.length != prev) {
          prev = cur.length
          val deg = scala.collection.mutable.HashMap[Long, Long]()
          cur.foreach { case (a, b) =>
            deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1 }
          cur = cur.filter { case (a, b) => deg(a) >= KcoreK && deg(b) >= KcoreK }
          r += 1
        }
        val coreDeg = scala.collection.mutable.HashMap[Long, Long]()
        cur.foreach { case (a, b) =>
          coreDeg(a) = coreDeg.getOrElse(a, 0L) + 1
          coreDeg(b) = coreDeg.getOrElse(b, 0L) + 1 }
        import s.implicits._
        coreDeg.toSeq.toDF("node", "core_deg").orderBy("node")
      }.getOrElse {
        // two peel rounds per write job (the labelPropagate fused-double-hop
        // economics: the per-ACTION fixed cost dominates this loop, and a
        // 2-deep plan references its input 9 times — against a bare parquet
        // scan that is cheap, while depth 3 measured slower on the CC loop).
        // Early exit on an unchanged edge count is EXACT: peel only removes
        // edges (monotone), so equal count ⇒ equal set ⇒ every remaining
        // round is the identity — bounded semantics preserved.
        val cur = s.read.parquet(Rounds.run(s, "kcore", edges0, KcoreRounds, fuse = 2,
            observed = Some(count(lit(1)))) { df =>
          val deg = df.select(col("p1").as("node"))
            .unionAll(df.select(col("p2").as("node")))
            .groupBy("node").agg(count(lit(1)).as("deg"))
          val keep = deg.where(col("deg") >= KcoreK).select("node")
          df.join(keep.withColumnRenamed("node", "p1"), Seq("p1"), "left_semi")
            .join(keep.withColumnRenamed("node", "p2"), Seq("p2"), "left_semi")
        }(r => r.observed == r.previous)) // fixpoint — rest are no-ops
        cur.select(col("p1").as("node")).unionAll(cur.select(col("p2").as("node")))
          .groupBy("node").agg(count(lit(1)).as("core_deg"))
          .orderBy("node")
      }
    })
  )

  /** Shared oracle prefix: symmetric edge list + per-node degree. */
  private val EdgesCte =
    "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
    "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey), " +
    "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
    "dg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)"

  /** The oracle unrolls the same three integer-exact iterations as chained
    * CTEs (DuckDB has no loops; the chain is generated, not hand-written).
    */
  private def oraclePagerank: String = {
    val base = EdgesCte +
      ", r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM dg)"
    val iters = (1 to Iterations).map { i =>
      s"r$i AS (SELECT e.dst AS node, 150000 + (85 * sum(r${i - 1}.pr // dg.deg)) // 100 AS pr " +
      s"FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN dg ON e.src = dg.src " +
      "GROUP BY e.dst)"
    }.mkString(", ", ", ", " ")
    base + iters +
      s"SELECT node, CAST(pr AS BIGINT) AS pr FROM r$Iterations ORDER BY node"
  }

  /** Mirrors [[orientedCoEdges]] + the wedge-close join. The sorted output
    * triple is orientation-invariant, so the oracle's identical orientation
    * is belt-and-braces: any orientation enumerates the same triangle set.
    */
  private def oracleTriangles: String =
    "WITH cs AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
    "e AS (SELECT a.p AS p1, b.p AS p2 FROM cs a JOIN cs b ON a.o = b.o AND a.p < b.p " +
    s"GROUP BY 1, 2 HAVING count(*) >= $TriMinCoOrders), " +
    "dg AS (SELECT node, count(*) AS deg FROM " +
    "(SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e) GROUP BY node), " +
    "o AS (SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.p1 < e.p2) " +
    "THEN e.p1 ELSE e.p2 END AS src, " +
    "CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.p1 < e.p2) " +
    "THEN e.p2 ELSE e.p1 END AS dst, " +
    "CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.p1 < e.p2) " +
    "THEN d2.deg ELSE d1.deg END AS ddeg " +
    "FROM e JOIN dg d1 ON d1.node = e.p1 JOIN dg d2 ON d2.node = e.p2), " +
    "w AS (SELECT o1.src AS a, o1.dst AS b, o2.dst AS c FROM o o1 JOIN o o2 " +
    "ON o2.src = o1.src AND (o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))) " +
    "SELECT least(a, b, c) AS t1, a + b + c - least(a, b, c) - greatest(a, b, c) AS t2, " +
    "greatest(a, b, c) AS t3 " +
    "FROM w JOIN o o3 ON o3.src = w.b AND o3.dst = w.c ORDER BY t1, t2, t3"

  /** The wedge-join Jaccard core over a symmetric (v, n) neighbor frame —
    * degrees, the [[JaccardMidDegCap]] middle filter (a left-semi
    * equi-join against the low-degree node set — O(edges), never a
    * broadcast of a data-dependent frame), the capped wedge join, and the
    * top-50 ranking. Package-private so GraphSpec can drive it on a
    * degenerate star graph where the cap actually binds (every fixture
    * degree is far below it).
    */
  private[graft] def jaccardCore(sym: DataFrame): DataFrame = {
    val deg = sym.groupBy(col("v").as("node")).agg(count(lit(1)).as("deg"))
    val midOk = deg.where(col("deg") <= JaccardMidDegCap)
      .select(col("node").as("v"))
    val symM = sym.join(midOk, Seq("v"), "left_semi")
    val cn = symM.as("x").join(symM.as("y"),
        col("x.v") === col("y.v") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("u"), col("y.n").as("w"))
      .agg(count(lit(1)).as("cn"))
    cn.join(deg.as("du"), col("u") === col("du.node"))
      .join(deg.as("dw"), col("w") === col("dw.node"))
      .select(col("u"), col("w"), col("cn"),
        col("du.deg").as("deg_u"), col("dw.deg").as("deg_w"),
        (col("cn").cast(DoubleType) /
          (col("du.deg") + col("dw.deg") - col("cn")).cast(DoubleType))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("u").asc, col("w").asc)
      .limit(50)
  }

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> oraclePagerank,

    "graph_triangle_count" -> oracleTriangles,

    "graph_degree_histogram" ->
      (EdgesCte +
       " SELECT deg, count(*) AS n_nodes FROM dg GROUP BY deg ORDER BY deg"),

    // same thresholded co-purchase edge set as the triangle oracle,
    // symmetrized; the jaccard division's integer operands are identical
    // cross-engine so the double hash-matches. The JaccardMidDegCap
    // middle filter (symm) mirrors jaccardCore's — never binding on the
    // fixture degrees, structurally present in both engines.
    "graph_jaccard_neighbors" ->
      ("WITH cs AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e AS (SELECT a.p AS p1, b.p AS p2 FROM cs a JOIN cs b ON a.o = b.o AND a.p < b.p " +
       s"GROUP BY 1, 2 HAVING count(*) >= $TriMinCoOrders), " +
       "sym AS (SELECT p1 AS v, p2 AS n FROM e UNION ALL SELECT p2, p1 FROM e), " +
       "dg AS (SELECT v AS node, count(*) AS deg FROM sym GROUP BY v), " +
       s"symm AS (SELECT s.v, s.n FROM sym s JOIN dg ON s.v = dg.node AND dg.deg <= $JaccardMidDegCap), " +
       "cw AS (SELECT x.n AS u, y.n AS w, count(*) AS cn FROM symm x JOIN symm y " +
       "ON x.v = y.v AND x.n < y.n GROUP BY 1, 2) " +
       "SELECT u, w, cn, d1.deg AS deg_u, d2.deg AS deg_w, " +
       "CAST(cn AS DOUBLE) / CAST(d1.deg + d2.deg - cn AS DOUBLE) AS jaccard " +
       "FROM cw JOIN dg d1 ON d1.node = u JOIN dg d2 ON d2.node = w " +
       "ORDER BY jaccard DESC, u, w LIMIT 50"),

    // transitive closure over the SAME thresholded co-purchase pair set
    // the triangle oracle derives (threshold interpolated), walked by the
    // recursive CTE the dedup_cluster_cc oracle proved out
    "graph_connected_components" ->
      ("WITH RECURSIVE ce0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "pe AS (SELECT a.p AS p1, b.p AS p2 FROM ce0 a JOIN ce0 b ON a.o = b.o AND a.p < b.p " +
       s"GROUP BY a.p, b.p HAVING count(*) >= $TriMinCoOrders), " +
       "edges AS (SELECT p1 AS da, p2 AS db FROM pe UNION SELECT p2, p1 FROM pe), " +
       "walk(wid, reach) AS (SELECT da, db FROM edges UNION " +
       "SELECT w.wid, e.db FROM walk w JOIN edges e ON w.reach = e.da), " +
       "labels AS (SELECT wid, least(wid, min(reach)) AS component_id FROM walk GROUP BY wid) " +
       "SELECT p.p_partkey AS node, COALESCE(l.component_id, p.p_partkey) AS component_id " +
       "FROM part p LEFT JOIN labels l ON p.p_partkey = l.wid ORDER BY node"),

    // the same thresholded co-purchase edge set, walked by a depth-carrying
    // recursive CTE: UNION-dedup on (node, d) rows bounds the working set
    // at nodes × (BfsRounds + 1) even on cyclic graphs, and the d <
    // BfsRounds guard is exactly the Spark loop's round cap
    "graph_bfs_distance" ->
      ("WITH RECURSIVE ce0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "pe AS (SELECT a.p AS p1, b.p AS p2 FROM ce0 a JOIN ce0 b ON a.o = b.o AND a.p < b.p " +
       s"GROUP BY a.p, b.p HAVING count(*) >= $TriMinCoOrders), " +
       "edges AS (SELECT p1 AS da, p2 AS db FROM pe UNION SELECT p2, p1 FROM pe), " +
       s"seeds AS (SELECT DISTINCT da AS node FROM edges WHERE da < $BfsSeedCap), " +
       "walk(node, d) AS (SELECT node, 0 FROM seeds " +
       s"UNION SELECT e.db, w.d + 1 FROM walk w JOIN edges e ON e.da = w.node WHERE w.d < $BfsRounds) " +
       "SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node ORDER BY node"),

    // the same fixed KcoreRounds peel, one chained CTE stage per round —
    // generated from the identical constants the Spark loop uses. Every
    // stage is MATERIALIZED: DuckDB inlines plain CTEs, and each stage
    // references its predecessor three times, so inlining would expand
    // the final stage into 3^rounds scans of lineitem (observed as a
    // too-many-open-files failure at rounds = 6)
    "graph_kcore" -> {
      val peels = (1 to KcoreRounds).map { r =>
        val prev = s"e${r - 1}"
        (s"d$r AS MATERIALIZED (SELECT node, count(*) AS deg FROM " +
         s"(SELECT p1 AS node FROM $prev UNION ALL SELECT p2 FROM $prev) GROUP BY node), " +
         s"e$r AS MATERIALIZED (SELECT p1, p2 FROM $prev " +
         s"WHERE p1 IN (SELECT node FROM d$r WHERE deg >= $KcoreK) " +
         s"AND p2 IN (SELECT node FROM d$r WHERE deg >= $KcoreK))")
      }.mkString(", ")
      ("WITH ke AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2 FROM ke a JOIN ke b ON a.o = b.o AND a.p < b.p " +
       s"GROUP BY a.p, b.p HAVING count(*) >= $TriMinCoOrders), " +
       peels + " " +
       "SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM " +
       s"(SELECT p1 AS node FROM e$KcoreRounds UNION ALL SELECT p2 FROM e$KcoreRounds) " +
       "GROUP BY node ORDER BY node")
    }
  )
}
