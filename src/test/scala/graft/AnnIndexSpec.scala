package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark.{spark, Sf0001}

/** Cross-session contract of the persisted ANN index (VERDICT r7 #3): one
  * session builds, a DIFFERENT session probes, and the probe provably
  * performs zero training — its plan reads only the persisted artifacts.
  */
class AnnIndexSpec extends AnyFunSuite {

  test("build once, probe from a fresh session with zero training jobs") {
    val d = Sf0001
    // clean slate: no marker, no artifacts for this fixture's root
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete()
    }
    rm(new java.io.File(AnnIndex.indexRoot(d)))
    val b0 = AnnIndex.builds.get()
    assert(!AnnIndex.ensure(spark, d), "ensure claimed an index that was just deleted")
    assert(AnnIndex.builds.get() == b0 + 1)
    // A fresh session (new session state; the JVM-wide training memos are
    // irrelevant because probe() never consults them — only ensure()/build()
    // do, and the builds counter pins that they don't run here).
    val fresh = spark.newSession()
    val b1 = AnnIndex.builds.get()
    val probe = AnnIndex.probe(fresh, d)
    // plan audit: index artifacts in, training out. Artifacts are checked
    // on the scans' root paths — the plan string abbreviates long locations
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("min_by"), "probe plan contains a training aggregate")
    val scanned = TestSpark.scanRoots(probe)
    val rootName = new java.io.File(AnnIndex.indexRoot(d)).getName
    Seq("coarse_centroids", "codebooks", "codes", "lists").foreach(a =>
      assert(scanned.exists(_.endsWith(s"/$rootName/$a")),
        s"probe plan does not scan persisted $a: $scanned"))
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(AnnIndex.builds.get() == b1, "probe triggered a rebuild")
    assert(got.nonEmpty)
    // the persisted path must reproduce the in-process composite exactly
    val inProc = SparkEntry.queries("sim_ann_ivfpq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == inProc, "probe-from-disk drifted from the in-process IVF-PQ")
    // idempotent: a second ensure is probe-only
    assert(AnnIndex.ensure(fresh, d))
    assert(AnnIndex.builds.get() == b1)
  }

  test("index root is fingerprint-keyed per dataset") {
    // different fixtures -> different roots (stale-serving is structurally
    // impossible across corpora); same fixture -> stable root
    assert(AnnIndex.indexRoot(Sf0001) == AnnIndex.indexRoot(Sf0001))
    assert(AnnIndex.indexRoot(Sf0001) != AnnIndex.indexRoot(TestSpark.Sf001))
  }

  test("append is assignment-only and bit-consistent with the base index") {
    import org.apache.spark.sql.functions._
    val d = Sf0001
    AnnIndex.ensure(spark, d)
    val b0 = AnnIndex.builds.get()
    AnnIndex.append(spark, d).collect()
    // frozen codebooks: appending trained NOTHING
    assert(AnnIndex.builds.get() == b0, "append triggered a rebuild/training")
    val root = AnnIndex.indexRoot(d)
    // the delta ids were part of the original training corpus, so the
    // frozen-assignment MUST reproduce the base index's rows exactly —
    // list assignment and all PqM codes per vector
    val dd = AnnIndex.deltaDir(root)
    val deltaIds = spark.read.parquet(s"$dd/lists")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds.nonEmpty, "empty delta batch — cutoff broken")
    val baseLists = spark.read.parquet(s"$root/lists")
      .where(col("vec_id").isin(deltaIds.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).intValue).toMap
    val apLists = spark.read.parquet(s"$dd/lists")
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).intValue).toMap
    assert(apLists == baseLists, "appended list assignment diverged from the base index")
    val baseCodes = spark.read.parquet(s"$root/codes")
      .where(col("vec_id").isin(deltaIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val apCodes = spark.read.parquet(s"$dd/codes")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(apCodes == baseCodes, "appended PQ codes diverged from the base index")
  }

  test("lifecycle: merged serving sees delta ids, delete hides them, compact drops them") {
    import org.apache.spark.sql.functions._
    val d = Sf0001
    AnnIndex.ensure(spark, d)
    val root = AnnIndex.indexRoot(d)
    val mx = spark.read.parquet(s"$root/codes").agg(max("vec_id")).collect()(0).getLong(0)
    def isDelta(id: Long) = id * Similarity.IncrCutDen > mx * Similarity.IncrCutNum
    def isTomb(id: Long) =
      id * Similarity.DelCutDen > mx * Similarity.DelCutLoNum &&
      id * Similarity.DelCutDen <= mx * Similarity.DelCutHiNum
    val b0 = AnnIndex.builds.get()
    // merged probe: identical to the one-shot probe AND the appended
    // content is genuinely served (delta ids appear as results)
    val merged = AnnIndex.probeMerged(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val oneShot = AnnIndex.probe(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(merged == oneShot,
      "merged base∪delta serving diverged from the one-shot index")
    assert(merged.exists { case (_, nn, _) => isDelta(nn) },
      "probe-after-append returned no delta ids — appended content is not being served")
    // tombstoned ids: present before delete, absent after, everything else
    // ranked identically up to re-ranking
    assert(merged.exists { case (_, nn, _) => isTomb(nn) },
      "pre-delete results contain no tombstone-slice ids — the deletion pin would be vacuous")
    val deleted = AnnIndex.probeDeleted(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(!deleted.exists { case (_, nn, _) => isTomb(nn) },
      "deleted probe returned a tombstoned id")
    assert(deleted != merged, "delete changed nothing — vacuous")
    // compaction serves the exact deleted-view answers from one artifact set
    val compacted = AnnIndex.probeCompacted(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(compacted == deleted,
      "compacted index changed an answer — compaction must only change layout")
    // physical drop: compacted codes == full codes minus tombstoned rows
    val fullMinusTomb = spark.read.parquet(s"$root/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).filterNot(t => isTomb(t._1)).toSet
    val compCodes = spark.read.parquet(s"${AnnIndex.compactDir(root)}/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(compCodes == fullMinusTomb,
      "compacted codes are not exactly (base ∪ delta) − tombstones")
    // the whole lifecycle above trained nothing
    assert(AnnIndex.builds.get() == b0, "a serving/maintenance verb triggered training")
  }

  test("generation-2: re-ingest onto the compacted index restores the one-shot answers") {
    import org.apache.spark.sql.functions._
    val d = Sf0001
    AnnIndex.ensureCompact(spark, d)
    AnnIndex.ensureAppend2(spark, d)
    val root = AnnIndex.indexRoot(d)
    val cd = AnnIndex.compactDir(root)
    val mx = spark.read.parquet(s"$root/codes").agg(max("vec_id")).collect()(0).getLong(0)
    def isTomb(id: Long) =
      id * Similarity.DelCutDen > mx * Similarity.DelCutLoNum &&
      id * Similarity.DelCutDen <= mx * Similarity.DelCutHiNum
    // frozen-assignment consistency ACROSS generations: the re-ingested
    // rows must be bit-identical to the original build's rows for those
    // ids (the gen-1 append pin, one compaction later)
    val gen2Codes = spark.read.parquet(s"$cd/codes_delta2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val baseTombCodes = spark.read.parquet(s"$root/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).filter(t => isTomb(t._1)).toSet
    assert(gen2Codes == baseTombCodes,
      "gen-2 encode diverged from the original build's rows for the re-ingested ids")
    // the full delete→compact→re-ingest cycle is answer-invariant: the
    // gen-2 probe reproduces the ONE-SHOT probe row for row
    val b0 = AnnIndex.builds.get()
    val gen2 = AnnIndex.probeGen2(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val oneShot = AnnIndex.probe(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(gen2 == oneShot,
      "gen-2 serving diverged from the one-shot index — the cycle is not answer-invariant")
    assert(gen2.exists { case (_, nn, _) => isTomb(nn) },
      "re-ingested ids absent from gen-2 results — the pin is vacuous " +
      "(they were pinned PRESENT in merged and ABSENT in deleted/compacted)")
    assert(AnnIndex.builds.get() == b0, "gen-2 serving triggered training")
  }

  test("refined probes: exact re-rank of the ADC pool lifts recall, trains nothing") {
    val d = Sf0001
    AnnIndex.ensure(spark, d)
    val b0 = AnnIndex.builds.get()
    // exact L2 truth (the metric ADC approximates), unfiltered and
    // label-filtered — refine is judged against what it optimizes
    val vecs = Tables.embeddings(spark, d)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val emb = vecs.map(t => t._1 -> t._2).toMap
    val labels = vecs.map(t => t._1 -> t._3).toMap
    def d2(a: Array[Float], b: Array[Float]) =
      a.indices.foldLeft(0.0) { (acc, i) =>
        val dd = a(i).toDouble - b(i).toDouble; acc + dd * dd }
    def truth(qid: Long, sameLabel: Boolean): Set[Long] =
      emb.keys.filter(v => v != qid && (!sameLabel || labels(v) == labels(qid)))
        .toSeq.map(v => (v, d2(emb(qid), emb(v))))
        .sortBy { case (v, dd) => (dd, v) }.take(10).map(_._1).toSet
    def got(key: String): Seq[(Long, Long)] =
      SparkEntry.queries(key)(spark, d).select("qid", "nn").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def hits(res: Seq[(Long, Long)], sameLabel: Boolean): Int =
      res.count { case (q, nn) => truth(q, sameLabel)(nn) }
    val base = got("sim_ann_ivfpq_probe")
    val refined = got("sim_ann_ivfpq_probe_refined")
    val baseF = got("sim_ann_ivfpq_probe_filtered")
    val refinedF = got("sim_ann_ivfpq_probe_filtered_refined")
    // serving only: no training job ran for any of the four probes
    assert(AnnIndex.builds.get() == b0, "a refined probe triggered training")
    // non-vacuous: the exact re-rank genuinely reorders the served top-10
    // (measured: 81/100 rows differ at sf0.001, both pairs)
    assert(refined.toSet != base.toSet,
      "refined probe identical to the ADC ranking — the re-rank is vacuous")
    assert(refinedF.toSet != baseF.toSet,
      "filtered refined probe identical to the filtered ADC ranking")
    // refine can only fix quantization-error reorderings WITHIN the probed
    // candidate set, so recall must be >= the ADC ranking's on the same
    // candidates — and measurably is (0.55 -> 0.62 unfiltered, 0.75 ->
    // 0.90 filtered at sf0.001; the filtered gap was documented as PQ
    // quantization error when IvfPqProbeFiltered was dialed, and refine
    // removing most of it confirms that diagnosis)
    val (hB, hR) = (hits(base, sameLabel = false), hits(refined, sameLabel = false))
    val (hBF, hRF) = (hits(baseF, sameLabel = true), hits(refinedF, sameLabel = true))
    info(f"unfiltered recall@10: ADC ${hB / 100.0}%.2f refined ${hR / 100.0}%.2f")
    info(f"filtered recall@10:   ADC ${hBF / 100.0}%.2f refined ${hRF / 100.0}%.2f")
    assert(hR >= hB, "exact re-rank LOWERED unfiltered recall")
    assert(hRF >= hBF, "exact re-rank LOWERED filtered recall")
    assert(hR >= 58, s"refined recall below the measured floor: $hR/100")
    assert(hRF >= 85, s"filtered refined recall below the measured floor: $hRF/100")
    // the filter contract survives the re-rank
    assert(refinedF.forall { case (q, nn) => labels(nn) == labels(q) },
      "filtered refined probe returned an off-label id")
  }

  test("stats verb recounts the persisted artifacts exactly and trains nothing") {
    val d = Sf0001
    AnnIndex.ensure(spark, d)
    val b0 = AnnIndex.builds.get()
    val row = AnnIndex.stats(spark, d).collect()(0)
    assert(AnnIndex.builds.get() == b0, "stats triggered training")
    // independent recount straight off the artifacts
    val root = AnnIndex.indexRoot(d)
    val sizes = spark.read.parquet(s"$root/lists").collect()
      .groupBy(_.getAs[Int]("cid")).view.mapValues(_.length.toLong).toMap
    val codes = spark.read.parquet(s"$root/codes").collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    // n_lists counts the CONFIGURED geometry (the centroid artifact) —
    // on this fixture every list is occupied, so the occupied recount
    // below coincides; the zero-fill path is what the op guards
    val nCents = spark.read.parquet(s"$root/coarse_centroids").count()
    assert(row.getLong(0) == nCents, "n_lists != configured lists")
    assert(sizes.size == nCents,
      "fixture has empty lists — the occupied recount below is invalid")
    assert(row.getLong(1) == sizes.values.sum, "n_vectors")
    assert(row.getLong(2) == sizes.values.min, "min_list")
    assert(row.getLong(3) == sizes.values.max, "max_list")
    assert(row.getLong(4) == sizes.values.map(v => v * v).sum, "sum_sq_size")
    assert(row.getLong(5) == codes.length, "n_code_rows")
    assert(row.getLong(6) == codes.distinct.length, "n_codes_used")
    // the two health reads: imbalance factor n·Σsz²/N² near 1 would be a
    // balanced index; utilization strictly positive and bounded by M×K
    val imbalance = sizes.size.toDouble * row.getLong(4) /
      (row.getLong(1).toDouble * row.getLong(1))
    info(f"imbalance factor ${imbalance}%.3f, codes used ${row.getLong(6)}")
    assert(row.getLong(6) > 0 && row.getLong(6) <= 32L * 256L)
  }

  test("streaming ingest self-heals: a torn segment is rebuilt by the next run") {
    // the crash contract of the log-structured segments: marker-last
    // means a crashed micro-batch leaves no half-visible segment, and a
    // re-run (Structured Streaming's replay) overwrites it idempotently —
    // tear segment 0 (marker gone, artifact truncated) and require the
    // next run to converge to the identical audit
    val d = Sf0001
    AnnIndex.ensure(spark, d)
    val a1 = AnnIndex.streamIngest(spark, d).collect().map(_.toSeq).toSeq
    val sd = AnnIndex.streamDir(AnnIndex.indexRoot(d))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete()
    }
    assert(new java.io.File(sd, "_SEG0_OK").delete(), "segment marker missing")
    rm(new java.io.File(sd, "codes_b0"))
    val a2 = AnnIndex.streamIngest(spark, d).collect().map(_.toSeq).toSeq
    assert(a2 == a1, "re-run after a torn segment diverged")
  }

  test("streaming ingest through a real MemoryStream reproduces the one-shot append bit for bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = Sf0001
    AnnIndex.ensure(spark, d)
    AnnIndex.ensureAppend(spark, d) // the one-shot reference artifact
    val b0 = AnnIndex.builds.get()
    val root = AnnIndex.indexRoot(d)
    val sd = AnnIndex.streamDir(root)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete()
    }
    rm(new java.io.File(sd))
    // the append delta, streamed in three engine-delimited micro-batches
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mxId = emb.map(_._1).max
    val delta = emb.filter { case (id, _) =>
      id * Similarity.IncrCutDen > mxId * Similarity.IncrCutNum }.sortBy(_._1)
    assert(delta.nonEmpty)
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        AnnIndex.ingestStreamBatch(spark, d, batch, id)
      }
      .start()
    try {
      val (a, rest) = delta.splitAt(delta.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      for (grp <- Seq(a, b, c) if grp.nonEmpty) {
        input.addData(grp.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the stream trained nothing — frozen codebooks per micro-batch
    assert(AnnIndex.builds.get() == b0, "streaming ingest triggered training")
    def segUnion(prefix: String): Set[Seq[Any]] = {
      val segs = new java.io.File(sd).listFiles
        .filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.getPath)
      assert(segs.length >= 2, s"expected multiple $prefix segments, got ${segs.length}")
      segs.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .collect().map(_.toSeq).toSet
    }
    // segment union == the one-shot append's artifacts, bit for bit:
    // micro-batch boundaries are invisible in the ingested index
    val oneCodes = spark.read.parquet(s"${AnnIndex.deltaDir(root)}/codes")
      .collect().map(_.toSeq).toSet
    val oneLists = spark.read.parquet(s"${AnnIndex.deltaDir(root)}/lists")
      .select("vec_id", "cid").collect().map(_.toSeq).toSet
    assert(segUnion("codes_sb") == oneCodes,
      "stream-ingested codes diverge from the one-shot append")
    val streamLists = new java.io.File(sd).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("lists_sb")).map(_.getPath)
      .map(spark.read.parquet(_).select("vec_id", "cid")).reduce(_ unionByName _)
      .collect().map(_.toSeq).toSet
    assert(streamLists == oneLists,
      "stream-ingested lists diverge from the one-shot append")
  }
}
