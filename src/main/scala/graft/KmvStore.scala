package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-session persisted KMV sketch store (VERDICT r15 #8 — the
  * deployment story agg_kmv_overlap's comment tells, realized as an
  * artifact): the per-day bottom-k sketches written once to a stable
  * parquet layout, so a FRESH SparkSession answers any later day-pair
  * retention/overlap question by reading KB-sized sketches — zero
  * raw-event scans in the probe plan. The AnnIndex pattern applied to the
  * aggregation family: build-once per *corpus* (not per process),
  * probe-only per question.
  *
  * Layout under [[storeRoot]]:
  *   sketches/  (h BIGINT) PARTITIONED BY (t DATE)  — ≤ KmvK rows per day
  *   _KMV_OK                                         — completion marker
  *
  * `sketches/` is partitioned by day, so a probe asking about a specific
  * day pair reads exactly two directory shards (partition pruning — the
  * flat-table twin of fetching two sketch blobs from a KV store); the
  * all-pairs probe registered below reads all of them, still only
  * days × k rows. The root is keyed by the events fixture's fingerprint
  * AND the (k, M) sketch geometry — rewritten data or a retuned sketch
  * yields a different root, so a stale store can never serve a new
  * corpus (the AnnIndex/ADVICE r7 rule). The marker is written LAST; a
  * crashed build leaves no marker and rebuilds.
  */
object KmvStore {
  type Q = (SparkSession, String) => DataFrame

  /** Build invocations in this process — lets KmvStoreSpec PROVE the
    * probe path triggered no sketch construction.
    */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  def storeRoot(d: String): String =
    Artifact.root("kmv_store", d, "events")("kmv", Aggregations.KmvK, Aggregations.KmvM)

  /** The sketch artifact's columns, stated once for the writers'
    * projection and the explicit-schema reader ([[compactedSketches]]), so
    * a column change breaks here instead of silently nulling a column.
    */
  private val SketchSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("h", LongType), StructField("t", DateType)))
  }

  private def writeSketches(df: DataFrame, dir: String): Unit =
    df.select(SketchSchema.fieldNames.toSeq.map(col): _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("t").parquet(s"$dir/sketches")

  /** True if the persisted store already existed (probe-only path); false
    * if this call had to build it.
    */
  def ensure(s: SparkSession, d: String): Boolean =
    Artifact.ensure(storeRoot(d), "_KMV_OK")(build(s, d).count())

  /** Build (or rebuild) the store from the deterministic sketch pipeline
    * and return the per-day summary. The sketch frame is the SAME
    * memoized computation agg_kmv_overlap reads, so the persisted rows
    * are bit-identical to the in-process spill's; at 100 TB this is the
    * nightly ingest job appending one day-partition of ≤ k rows.
    */
  def build(s: SparkSession, d: String): DataFrame = {
    builds.incrementAndGet()
    val root = storeRoot(d)
    Artifact.publish(root, "_KMV_OK")(writeSketches(Aggregations.kmvSketchFrame(s, d), root))
    summary(s, root)
  }

  private[graft] def sketches(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    // partition-column type inference reads yyyy-MM-dd values back as
    // DATE, matching the to_date() build column; the cast pins it even
    // with inference off
    s.read.parquet(s"${storeRoot(d)}/sketches")
      .select(col("t").cast("date").as("t"), col("h"))
  }

  /** Per-day sketch summary read back from the persisted store: sketch
    * occupancy, the kth value, and the distinct-count estimate
    * (k−1)·M/h_k — exact count below the k threshold. All-integer, the
    * driver-verifiable face of the artifact.
    */
  private def summary(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/sketches")
      .select(col("t").cast("date").as("t"), col("h"))
      .groupBy("t")
      .agg(count(lit(1)).as("k_rows"), max("h").as("hk"))
      .select(col("t"), col("k_rows"), col("hk"),
        when(col("k_rows") < Aggregations.KmvK, col("k_rows"))
          .otherwise(expr(
            s"(${Aggregations.KmvK - 1} * cast(${Aggregations.KmvM} as bigint)) div hk"))
          .as("distinct_est"))
      .orderBy("t")

  /** Tombstone dir — the delete rule shapes the content, so its dial
    * rides the name (the persisted-store keying rule).
    */
  private[graft] def tombDir(root: String): String =
    s"$root/tombstones_${Aggregations.KmvDelFrac}"

  def ensureTomb(s: SparkSession, d: String): Boolean =
    Artifact.ensure(tombDir(storeRoot(d)), "_TOMB_OK")(delete(s, d).count())

  /** The DELETE verb on the sketch store (VERDICT r18 #3): tombstoned
    * users — the deterministic bottom-of-hash-space rule, standing in for
    * a GDPR id list — persisted as (user_id, h) beside the sketches.
    * Bottom-k sketches support deletion exactly because they store the
    * REAL hashes, not a lossy register: removing a user's h from a
    * bottom-k row set leaves a valid bottom-k' sketch of the deleted
    * multiset, so the probe can anti-join at read time and [[KmvStore]]
    * never re-scans the raw events (the whole point of the store).
    */
  def delete(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    val td = tombDir(storeRoot(d))
    Artifact.publish(td, "_TOMB_OK") {
      Tables.events(s, d)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), Det.mhash(col("user_id"), Aggregations.KmvM).as("h"))
        .where(col("h") * Aggregations.KmvDelFrac < Aggregations.KmvM)
        .distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$td/ids")
    }
    s.read.parquet(s"$td/ids")
      .agg(count(lit(1)).as("n_tombstoned"), sum(col("user_id")).as("id_sum"))
  }

  private[graft] def compactDir(root: String): String =
    s"$root/compacted_${Aggregations.KmvDelFrac}"

  /** The compacted artifact read with its schema stated EXPLICITLY
    * (round 20): a fully-depleted store is an EMPTY directory, and a
    * schema-inferring read crashes on it ("unable to infer schema"). The
    * 64× octave produced exactly this state — with 64× the users, every
    * per-day bottom-k hash lives inside the bottom-1/200 tombstone band,
    * so compaction legitimately drops every row (the depleted-sketch
    * regime the compact scaladoc documents, taken to its limit). A
    * production compaction can empty a partition; the reader must not
    * equate "empty" with "unreadable".
    */
  private def compactedSketches(s: SparkSession, d: String): DataFrame =
    s.read.schema(SketchSchema)
      .parquet(s"${compactDir(storeRoot(d))}/sketches")
      .select(col("t").cast("date").as("t"), col("h"))

  def ensureCompact(s: SparkSession, d: String): Boolean =
    Artifact.ensure(compactDir(storeRoot(d)), "_KMV_COMPACT_OK")(compact(s, d).count())

  /** COMPACT (round 19, second session — the verb matrix completed on the
    * sketch store): physically drop the tombstoned hashes from the
    * persisted sketches, so probes stop paying the read-time anti-join
    * (the ann/gann compact convention: deletion's serving half is
    * immediate, this is the offline layout half). Same day-partitioned
    * layout under the rule-keyed compacted dir, marker last. The audit
    * output is layout-facing like ann_index_compact's (per-day surviving
    * occupancy, the surviving max hash, rows dropped) — the ESTIMATOR
    * question a depleted bottom-k sketch raises (Beyer et al.: survivors
    * form a valid bottom-k' sketch; at this rule's ~0.5% depletion the
    * difference is noise, past a few percent the τ-threshold estimator
    * count·M/τ takes over) is documented, not silently re-answered.
    */
  def compact(s: SparkSession, d: String): DataFrame = {
    ensureTomb(s, d)
    val root = storeRoot(d)
    val cd = compactDir(root)
    Artifact.publish(cd, "_KMV_COMPACT_OK") {
      val tombs = s.read.parquet(s"${tombDir(root)}/ids").select("h")
      writeSketches(sketches(s, d).join(tombs, Seq("h"), "left_anti"), cd)
    }
    // audit anchored on the BASE days (left join, round 20): a fully
    // depleted day — possible at scale, see compactedSketches — reports
    // k_rows = 0 / hk = 0 / n_dropped = base rather than vanishing from
    // the ledger (an inner join read "day gone" as "nothing to report",
    // exactly backwards for a deletion audit). Identical output at the
    // gate SFs, where depletion is ~0.5% and no day empties.
    val base = sketches(s, d).groupBy("t").agg(count(lit(1)).as("base_rows"))
    base.join(
        compactedSketches(s, d)
          .groupBy("t")
          .agg(count(lit(1)).as("kr"), max("h").as("mh")),
        Seq("t"), "left")
      .select(col("t"), coalesce(col("kr"), lit(0L)).as("k_rows"),
        coalesce(col("mh"), lit(0L)).as("hk"),
        (col("base_rows") - coalesce(col("kr"), lit(0L))).as("n_dropped"))
      .orderBy("t")
  }

  val queries: Map[String, Q] = Map(
    // the ingest job's face: (re)write the store, report per-day occupancy
    // + the kth hash + the distinct estimate — the sketch metadata a
    // deployment monitors
    "kmv_store_build" -> ((s, d) => build(s, d)),

    "kmv_store_compact" -> ((s, d) => compact(s, d)),

    // overlap over the compacted sketches alone — must answer exactly what
    // the deleted probe answers (compaction changes layout, never
    // answers), now with zero tombstone frames in the plan
    "kmv_overlap_probe_compacted" -> ((s, d) => {
      ensureCompact(s, d)
      Aggregations.kmvOverlapOf(compactedSketches(s, d))
    }),

    "kmv_store_delete" -> (delete _),

    // overlap over the surviving sketch rows: tombstoned users' hashes
    // anti-joined at read time — deleted users stop contributing to every
    // union/intersection/Jaccard estimate the moment the tombstone lands,
    // with the raw events never re-scanned. Same shared kmvOverlapOf
    // arithmetic (one code path for all three overlap surfaces).
    "kmv_overlap_probe_deleted" -> ((s, d) => {
      ensureTomb(s, d)
      val tombs = s.read.parquet(s"${tombDir(storeRoot(d))}/ids").select("h")
      Aggregations.kmvOverlapOf(sketches(s, d).join(tombs, Seq("h"), "left_anti"))
    }),

    // probe-only overlap: identical output to agg_kmv_overlap (same
    // sketch content — the spill and the store serialize one frame; same
    // pairing arithmetic — kmvOverlapOf is shared), but every input in
    // the plan is a bare scan of the persisted sketches. ensure() runs
    // outside the returned plan, so after the store exists the query
    // never touches raw events (KmvStoreSpec pins builds==0 on re-probe).
    "kmv_overlap_probe" -> ((s, d) =>
      Aggregations.kmvOverlapOf(sketches(s, d)))
  )

  /** kmv_store_build mirrors the one-level bottom-k summary; the probe
    * reuses agg_kmv_overlap's oracle verbatim (same output contract).
    */
  val oracles: Map[String, String] = Map(
    "kmv_store_build" -> {
      val k = Aggregations.KmvK
      val m = Aggregations.KmvM
      "WITH h0 AS (SELECT DISTINCT CAST(ts AS DATE) AS t, " +
      s"((user_id % 1000000007) * 2654435761) % $m AS h " +
      "FROM events WHERE user_id IS NOT NULL), " +
      "sk AS (SELECT t, h FROM (SELECT t, h, " +
      "row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM h0) " +
      s"WHERE rn <= $k), " +
      "ag AS (SELECT t, CAST(count(*) AS BIGINT) AS k_rows, max(h) AS hk " +
      "FROM sk GROUP BY t) " +
      "SELECT t, k_rows, hk, CAST(CASE WHEN k_rows < " +
      s"$k THEN k_rows ELSE (${k - 1} * CAST($m AS BIGINT)) // hk END AS BIGINT) " +
      "AS distinct_est FROM ag ORDER BY t"
    },
    "kmv_overlap_probe" -> Aggregations.oracles("agg_kmv_overlap"),
    "kmv_store_delete" -> {
      val m = Aggregations.KmvM
      "SELECT CAST(count(*) AS BIGINT) AS n_tombstoned, " +
      "CAST(sum(user_id) AS BIGINT) AS id_sum FROM " +
      "(SELECT DISTINCT user_id, ((user_id % 1000000007) * 2654435761) % " +
      s"$m AS h FROM events WHERE user_id IS NOT NULL) " +
      s"WHERE h * ${Aggregations.KmvDelFrac} < $m"
    },
    "kmv_overlap_probe_deleted" -> Aggregations.kmvOverlapOracleSql(deleted = true),
    // compaction is answer-invariant: the deleted-probe oracle verbatim
    "kmv_overlap_probe_compacted" -> Aggregations.kmvOverlapOracleSql(deleted = true),
    // per-day surviving occupancy + max hash + rows dropped
    "kmv_store_compact" -> {
      val k = Aggregations.KmvK
      val m = Aggregations.KmvM
      "WITH h0 AS (SELECT DISTINCT CAST(ts AS DATE) AS t, user_id, " +
      s"((user_id % 1000000007) * 2654435761) % $m AS h " +
      "FROM events WHERE user_id IS NOT NULL), " +
      "sk AS (SELECT t, h FROM (SELECT t, h, " +
      "row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM " +
      "(SELECT DISTINCT t, h FROM h0)) " +
      s"WHERE rn <= $k), " +
      s"surv AS (SELECT t, h FROM sk WHERE NOT (h * ${Aggregations.KmvDelFrac} < $m)), " +
      // anchored on the BASE days like the Spark audit (round 20): a fully
      // depleted day reports k_rows = 0 / hk = 0 / n_dropped = base rather
      // than vanishing from the ledger
      "base AS (SELECT t, CAST(count(*) AS BIGINT) AS base_rows FROM sk GROUP BY t), " +
      "ag AS (SELECT t, CAST(count(*) AS BIGINT) AS k_rows, max(h) AS hk " +
      "FROM surv GROUP BY t) " +
      "SELECT b.t, COALESCE(a.k_rows, CAST(0 AS BIGINT)) AS k_rows, " +
      "COALESCE(a.hk, CAST(0 AS BIGINT)) AS hk, " +
      "CAST(b.base_rows - COALESCE(a.k_rows, 0) AS BIGINT) AS n_dropped " +
      "FROM base b LEFT JOIN ag a ON a.t = b.t ORDER BY b.t"
    }
  )
}
