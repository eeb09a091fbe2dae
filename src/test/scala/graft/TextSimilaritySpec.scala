package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import TestSpark.{spark, Sf0001, Sf01}

class TextSimilaritySpec extends AnyFunSuite {
  private def q(name: String) = SparkEntry.queries(name)(spark, Sf0001)

  test("text_extract_markup: extraction recovers the original text, ratios span both regimes") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the exact-recovery contract below ASSUMES html-safe, space-normalized
    // fixture text; assert the premise explicitly so a fixture regeneration
    // that violates it fails HERE with a clear message, not as a mysterious
    // equality mismatch downstream (code-review r19)
    docs.foreach { case (id, t) =>
      assert(!t.exists(c => c == '<' || c == '>') && !t.contains("  ") &&
        t == t.trim && t.nonEmpty,
        s"doc $id: fixture text is no longer html-safe/space-normalized — " +
        "the markup round-trip premise broke; revisit text_extract_markup")
    }
    val got = q("text_extract_markup").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(got.length == docs.size)
    got.foreach { case (id, title, nTags, htmlChars, keptChars, extracted) =>
      // the whole point of the synthetic-payload convention: boilerplate
      // strip must return EXACTLY the content that went in — any regex
      // over/under-reach (eaten words, leaked nav text, surviving tags)
      // breaks equality on some doc
      assert(extracted == docs(id), s"doc $id: extraction did not recover the text")
      assert(title == s"doc-$id", s"doc $id: title metadata wrong: $title")
      assert(keptChars == extracted.length.toLong && htmlChars > keptChars)
      // ≥ the fixed structural tags; every third doc carries the promo div
      assert(nTags >= (if (id % 3 == 0) 21 else 19), s"doc $id: tag count $nTags")
    }
    // non-vacuity: the corpus spans mostly-boilerplate and mostly-content
    val ratios = got.map { case (_, _, _, h, k, _) => k.toDouble / h }
    assert(ratios.min < 0.30, f"no mostly-boilerplate doc (min ratio ${ratios.min}%.2f)")
    assert(ratios.max > 0.50, f"no mostly-content doc (max ratio ${ratios.max}%.2f)")
  }

  test("dedup_minhash_recall: truth equals a brute-force Jaccard sweep; found ⊆ truth") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(text: String): Set[String] = {
      val ts = text.split(" ", -1)
      (1 to math.max(ts.length - 2, 1)).map { i =>
        // 1-based window, OOB positions skipped — concat_ws semantics
        (i to math.min(i + 2, ts.length)).map(j => ts(j - 1)).mkString(" ")
      }.toSet
    }
    val sh = docs.view.mapValues(shingles).toMap
    val probes = docs.keys.filter(_ < Similarity.MhRecallProbes).toSeq.sorted
    val truth = probes.map { p =>
      p -> docs.keys.filter { q =>
        q != p && {
          val inter = (sh(p) & sh(q)).size.toLong
          val uni = (sh(p) | sh(q)).size.toLong
          inter * 1000000L >= uni * 800000L
        }
      }.toSet
    }.toMap
    val got = q("dedup_minhash_recall").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == probes.toSet)
    got.foreach { case (p, (nTrue, nFound, nMissed)) =>
      assert(nTrue == truth(p).size.toLong, s"probe $p n_true $nTrue vs ${truth(p).size}")
      assert(nFound <= nTrue && nMissed == nTrue - nFound, s"probe $p accounting broken")
    }
    // non-vacuity: the probe slice has real near-dup structure to recall
    assert(got.values.map(_._1).sum > 0, "no probe has any true partner")
    // exact duplicates (s=1) always share every band — they can never be
    // missed, so any miss must come from a sub-identical pair
    truth.foreach { case (p, qs) =>
      qs.filter(qb => docs(qb) == docs(p)).foreach { _ =>
        assert(got(p)._2 > 0, s"probe $p has an exact dup but found nothing")
      }
    }
  }

  test("dedup_span_remove equals a JVM brute force; keep-one rule preserves one copy") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val W = Similarity.SpanSeg
    // (doc, pos, segText, ntok) — non-overlapping W-token segments, last
    // segment ragged; mirrors slice()'s tail-clamping
    val occ = docs.toSeq.flatMap { case (id, text) =>
      val ts = text.split(" ", -1)
      val nSeg = (ts.length + W - 1) / W
      (1 to nSeg).map { p =>
        val seg = ts.slice((p - 1) * W, math.min(p * W, ts.length))
        (id, p, seg.mkString(" "), seg.length)
      }
    }
    val cnt = occ.groupBy(_._3).view.mapValues(_.size).toMap
    val keeper = occ.groupBy(_._3).view
      .mapValues(os => os.map(o => (o._1, o._2)).min).toMap
    val exp = occ.groupBy(_._1).view.mapValues { os =>
      val dup = os.filter(o => cnt(o._3) > 1)
      val rem = dup.filter(o => keeper(o._3) != ((o._1, o._2)))
      (os.size.toLong, dup.size.toLong, rem.size.toLong, rem.map(_._4.toLong).sum)
    }.toMap
    val got = q("dedup_span_remove").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, g) => assert(g == exp(id), s"doc $id: $g vs ${exp(id)}") }
    // non-vacuity + the keep-one rule: something was removed, and every
    // duplicated segment retains EXACTLY one occurrence corpus-wide
    assert(got.values.map(_._3).sum > 0, "no segment was ever removed")
    val removedTotal = got.values.map(_._3).sum
    val dupOccTotal = occ.count(o => cnt(o._3) > 1)
    val dupSegTypes = cnt.count(_._2 > 1)
    assert(removedTotal == dupOccTotal - dupSegTypes,
      "removed != duplicated occurrences minus one keeper per segment type")
  }

  test("text_gopher_rules equals a JVM reference and every rule fires both ways") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val stop = TextOps.GopherStop.toSet
    val exp = docs.map { case (id, text) =>
      val ws = text.split(" ", -1).toSeq
      val counts = ws.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = ws.size.toLong
      val nUniq = counts.size.toLong
      val top = counts.values.max
      val sumLen = ws.map(_.length.toLong).sum
      val nStop = ws.count(stop).toLong
      val flags = (n >= 20 && n <= 90, sumLen >= 4 * n && sumLen <= 5 * n,
        nStop >= 2, top * 5 <= n, (n - nUniq) * 10 <= n * 6)
      id -> ((n, nUniq, top, sumLen, nStop, flags,
        flags._1 && flags._2 && flags._3 && flags._4 && flags._5))
    }.toMap
    val got = q("text_gopher_rules").collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), (r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9), r.getBoolean(10)), r.getBoolean(11)))
    }.toMap
    assert(got == exp)
    // non-vacuity: every rule passes somewhere AND fails somewhere, and the
    // composite keep is neither empty nor total (measured 191/500 at
    // sf0.001 when the thresholds were fixed)
    val allFlags = exp.values.map(_._6).toSeq
    Seq[((Boolean, Boolean, Boolean, Boolean, Boolean)) => Boolean](
      _._1, _._2, _._3, _._4, _._5).zipWithIndex.foreach { case (f, i) =>
      assert(allFlags.exists(f) && allFlags.exists(!f(_)), s"rule $i is vacuous")
    }
    val keeps = exp.values.count(_._7)
    assert(keeps > 0 && keeps < exp.size, "composite keep is degenerate")
  }

  /** Union-find (path compression, canonical = min id) over a pair list;
    * returns the find function — the reference oracle both CC tests share.
    */
  private def unionFind(pairs: Seq[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    find
  }

  test("text_quality_classifier equals a JVM Naive-Bayes reference; seeds separate") {
    // the classifier's whole arithmetic (class counts, add-one smoothing,
    // fixed-point log2 weights, tf-weighted doc sum, sign keep) rebuilt
    // independently on driver-side maps — the lmScores-spec convention
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    def log2Micro(x: Long): Long = {
      val i = 63 - java.lang.Long.numberOfLeadingZeros(x)
      i * 1000000L + (x - (1L << i)) * 1000000L / (1L << i)
    }
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).view.mapValues(_.size.toLong).toMap }.toMap
    def classCounts(p: Long => Boolean): Map[String, Long] =
      tf.filter { case (id, _) => p(id) }.values
        .flatten.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val isPos = (id: Long) => id < TextOps.QcSeedDocs
    val isNeg = (id: Long) => id >= TextOps.QcSeedDocs && id % 10 == TextOps.QcNegResidue
    val (cp, cn) = (classCounts(isPos), classCounts(isNeg))
    val v = tf.values.flatMap(_.keys).toSet.size.toLong
    val (np, nn) = (cp.values.sum, cn.values.sum)
    val w = tf.values.flatMap(_.keys).toSet.map { (word: String) =>
      word -> (log2Micro(cp.getOrElse(word, 0L) + 1) - log2Micro(np + v) -
        log2Micro(cn.getOrElse(word, 0L) + 1) + log2Micro(nn + v))
    }.toMap
    val expected = tf.map { case (id, m) =>
      id -> m.map { case (word, t) => t * w(word) }.sum }
    val got = SparkEntry.queries("text_quality_classifier")(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, llr) =>
      val (gl, keep) = got(id)
      assert(gl == llr, s"doc $id: llr $gl != $llr")
      assert(keep == (llr >= 0))
    }
    // separation sanity: the positive seed must average ABOVE the negative
    // seed on the classifier's own score (it was trained to do exactly
    // that — failure means the class aggregates are crossed), and both
    // keep classes must be present corpus-wide (non-vacuity)
    val posMean = expected.collect { case (id, s) if isPos(id) => s }.sum /
      expected.count(e => isPos(e._1))
    val negMean = expected.collect { case (id, s) if isNeg(id) => s }.sum /
      expected.count(e => isNeg(e._1))
    assert(posMean > negMean, s"seed separation inverted: $posMean <= $negMean")
    assert(expected.values.exists(_ >= 0) && expected.values.exists(_ < 0))
  }

  test("dedup_cross_modal equals a union-find over the union of both pair graphs") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val textPairs = pairsOf(Similarity.minhashCandidates(spark, Sf0001, 0.8))
    val imgPairs = pairsOf(Multimodal.phashPairs(spark, Sf0001))
    assert(imgPairs.nonEmpty, "phash pair graph vacuous at sf0.001")
    val ids = Tables.documents(spark, Sf0001).select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    (textPairs ++ imgPairs).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = SparkEntry.queries("dedup_cross_modal")(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "cross-modal clusters diverge from the union-find reference")
    // the union must merge at least as much as either signal alone (and
    // exactly as much as their closure — proven by the equality above)
    val nClusters = expected.values.toSet.size
    assert(nClusters < ids.length, "no cross-modal merges at all")
  }

  test("dedup_cross_modal_3way equals a union-find over all three pair graphs") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val textPairs = pairsOf(Similarity.minhashCandidates(spark, Sf0001, 0.8))
    val imgPairs = pairsOf(Multimodal.phashPairs(spark, Sf0001))
    val audPairs = pairsOf(Multimodal.audioPairs(spark, Sf0001))
    assert(audPairs.nonEmpty, "audio fingerprint pair graph vacuous at sf0.001")
    val ids = Tables.documents(spark, Sf0001).select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    (textPairs ++ imgPairs ++ audPairs).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = SparkEntry.queries("dedup_cross_modal_3way")(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "3-way cross-modal clusters diverge from the union-find reference")
    // measured containment made loud (DESIGN r18): on THIS fixture the
    // audio signal is text-derived, so every audio edge is also a MinHash
    // near-dup — if the fixture ever changes such that audio adds merges,
    // this info line is where that shows up first
    val tset = textPairs.toSet
    info(s"audio edges: ${audPairs.size}, beyond the text graph: ${audPairs.count(!tset(_))}")
  }

  test("audio fingerprint discriminates: looped PCM matches where text Jaccard misses") {
    // the dup class the audio modality EXISTS for (and the fixture cannot
    // exercise — its audio is text-derived): content looped k× re-encodes
    // to the same cyclic PCM stream while its word-shingle Jaccard
    // collapses. Engineer exactly that: B = A repeated (A ends with a
    // space, so A's cyclic codepoint extension IS B's stream), C = an
    // unrelated text. The audio fingerprint must pair (A, B) and nothing
    // else; the text side (capped-Jaccard pairs over the same corpus)
    // must NOT pair (A, B) — proving the signals are independent axes.
    import spark.implicits._
    val a = "loop alpha beta gamma delta epsilon zeta " // trailing space => clean period
    val docs = Seq(
      (0L, a),
      (1L, a * 4),
      (2L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val fps = Multimodal.audioFingerprintsOf(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) == fps(1L), "looped audio did not fingerprint-match its source")
    assert(fps(0L) != fps(2L), "unrelated audio collided")
    // word-3-shingle Jaccard of (A, A*4): the loop boundary keeps the
    // shingle set FINITE while the union grows — compute it directly
    def shingles(t: String): Set[String] = {
      val w = t.trim.split(" ").toSeq
      (0 to math.max(w.length - 3, 0)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val (sa, sb) = (shingles(a), shingles(a * 4))
    val jac = (sa & sb).size.toDouble / (sa | sb).size
    info(f"looped-pair word Jaccard: $jac%.3f (audio fingerprint: exact match)")
    assert(jac < 0.8, f"engineered loop pair is a text near-dup too ($jac%.3f) - test is vacuous")
  }

  test("wordcount total equals token count") {
    val wc = q("text_wordcount").collect().map(_.getLong(1)).sum
    val tokens = Tables.documents(spark, Sf0001)
      .select(size(split(col("text"), " ")).as("n")).collect().map(_.getInt(0).toLong).sum
    assert(wc == tokens)
  }

  test("dedup_exact finds exactly the 8 duplicate rows at sf0.1") {
    val out = SparkEntry.queries("dedup_exact")(spark, Sf01)
    val total = Tables.documents(spark, Sf01).count()
    val kept = out.count()
    assert(total - kept == 8, s"expected 8 dups, got ${total - kept}")
  }

  test("dedup idempotence: no duplicates remain among kept texts") {
    val kept = SparkEntry.queries("dedup_exact")(spark, Sf01)
      .join(Tables.documents(spark, Sf01), "doc_id")
    assert(kept.groupBy("text").count().filter(col("count") > 1).count() == 0)
  }

  test("minhash: exact duplicates always share a representative (sf0.1)") {
    val reps = SparkEntry.queries("dedup_near_minhash")(spark, Sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupGroups = Tables.documents(spark, Sf01)
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1).collect().map(_.getSeq[Long](1))
    assert(dupGroups.nonEmpty)
    dupGroups.foreach { ids =>
      val rs = ids.map(reps).toSet
      assert(rs.size == 1, s"dup group $ids maps to reps $rs")
      // rep may be smaller than the group min when a genuine near-dup
      // neighbor exists; it can never be larger.
      assert(rs.head <= ids.min)
    }
  }

  test("incremental dedup: asymmetric band probe equals the symmetric pair set restricted to delta") {
    // independent derivation from the SYMMETRIC candidate pipeline: for
    // each delta doc, the earliest (min) partner among full verified pairs
    // whose later side is that doc — the asymmetric probe must drop
    // nothing and add nothing
    import Similarity.{IncrCutNum, IncrCutDen}
    val mx = Tables.documents(spark, Sf0001).agg(max("doc_id")).head.getLong(0)
    def isDelta(id: Long): Boolean = id * IncrCutDen > mx * IncrCutNum
    val sym = Similarity.minhashCandidates(spark, Sf0001, 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the cutoff rule's structural guarantee (ADVICE r7): base ids all sit
    // below delta ids, so ANY pair touching a delta doc has the delta doc
    // on the HIGHER side — the asymmetric probe's predicate loses nothing
    assert(sym.forall { case (da, db) => !isDelta(da) || isDelta(db) })
    val expected = sym.filter { case (_, db) => isDelta(db) }
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val got = q("dedup_incremental_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val gotDups = got.collect { case (id, dup, _) if dup >= 0 => id -> dup }.toMap
    assert(gotDups == expected,
      s"drift: ${(gotDups.toSet -- expected.toSet).take(3)} / ${(expected.toSet -- gotDups.toSet).take(3)}")
    // every delta doc appears exactly once, flags consistent with dup_of
    val deltaCount = Tables.documents(spark, Sf0001)
      .where(col("doc_id") * IncrCutDen > lit(mx) * IncrCutNum).count()
    assert(got.length == deltaCount && deltaCount > 0)
    assert(got.forall { case (_, dup, isNew) => (dup == -1L) == (isNew == 1) })
    // a delta doc whose only near-dup partner is a BASE doc must be
    // flagged dup_of=base (the exact miss class the modulus rule allowed)
    val baseDups = gotDups.filter { case (_, dup) => !isDelta(dup) }
    assert(baseDups.nonEmpty, "fixture has no delta-with-base-partner case")
  }

  test("simhash: identical texts get identical simhash; deterministic across runs") {
    val h1 = SparkEntry.queries("dedup_simhash")(spark, Sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupGroups = Tables.documents(spark, Sf01)
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1).collect().map(_.getSeq[Long](1))
    assert(dupGroups.nonEmpty)
    dupGroups.foreach(ids => assert(ids.map(h1).toSet.size == 1))
    // determinism double-run at the small sf
    val a = q("dedup_simhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = q("dedup_simhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("fused simhash_sign equals the relational tf-weighted vote form (round 11)") {
    import spark.implicits._
    def both(docs: org.apache.spark.sql.DataFrame) = (
      Similarity.simhashOf(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      Similarity.simhashesReference(spark, docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // whole fixture corpus (sf0.1 carries the exact-dup groups)
    val (fc, rc) = both(Tables.documents(spark, Sf01).select("doc_id", "text"))
    assert(fc == rc, "fused simhash drifted on the corpus")
    assert(fc.nonEmpty)
    // edge rows: empty text (one empty token -> all-negative votes ->
    // hash 0), trailing/double spaces (empty tokens kept), non-ASCII
    val (fe, re) = both(Seq((1L, ""), (2L, "a  b "), (3L, "héllo 你好 wörld"),
      (4L, "the the the zebra")).toDF("doc_id", "text"))
    assert(fe == re, s"fused simhash drifted on edge rows: $fe vs $re")
    assert(fe(1L) == 0L, "empty text no longer hashes to 0")
  }

  test("fused minhash_sigs equals the relational shingle-aggregate form (round 11)") {
    import spark.implicits._
    def sig16(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    // whole sf0.1 corpus: fused one-pass sigs vs the min aggregate over
    // the distinct portable-shingle frame (min over a multiset == min
    // over its distinct set — the identity the fusion rests on)
    val fused = sig16(Similarity.minhashSigsFused(
      Tables.documents(spark, Sf01).select("doc_id", "text")))
    val rel = sig16(Similarity.minhashSigs(Similarity.portableShingles(spark, Sf01)))
    assert(fused == rel, "fused minhash signatures drifted from the relational form")
    assert(fused.nonEmpty)
    // edge rows: empty text (the "" shingle), 1- and 2-token docs (short
    // shingles via the null-skipping concat_ws rule), empty tokens kept
    val edge = Seq((1L, ""), (2L, "solo"), (3L, "two tokens"),
      (4L, "a  b"), (5L, "w x y z")).toDF("doc_id", "text")
    val fusedE = sig16(Similarity.minhashSigsFused(edge))
    // relational path over the same rows: rebuild its shingle frame inline
    // (portableShingles is fixture-bound)
    val parts = (0 until 3).map(k => s"get(toks, i${if (k == 0) "-1" else s"+${k - 1}"})")
      .mkString(", ")
    def fold(m: Int) = "aggregate(transform(split(raw, ''), c -> ascii(c)), 0L, " +
      s"(acc, x) -> pmod(acc * $m + x, 1073741789L))"
    val relE = sig16(Similarity.minhashSigs(edge
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(1, greatest(size(toks) - 2, 1)), " +
          s"i -> concat_ws(' ', $parts))")).as("raw"))
      .select(col("doc_id"),
        expr(s"(${fold(31)}) * 1073741789L + (${fold(131)})").as("g"))
      .distinct()))
    assert(fusedE == relE, s"fused minhash drifted on edge rows")
  }

  test("connected components match an in-test union-find over the same pair graph") {
    val labels = q("dedup_cluster_cc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Similarity.minhashCandidates(spark, Sf0001, 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val find = unionFind(pairs.toSeq)
    labels.foreach { case (doc, cluster) =>
      assert(cluster == find(doc), s"doc $doc: $cluster vs ${find(doc)}") }
  }

  test("iteration caches release after the consuming action: block count returns to baseline") {
    // The releaseAfterUse listener must actually DROP the persisted frames
    // once the consuming action completes (ADVICE.md: result correctness
    // alone would not catch a listener that silently never fires). The
    // listener rides the async execution-listener bus, so poll briefly.
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.size
    // exercise BOTH consuming-action paths: a plain Dataset action and
    // Bench's Exec.fullCount (second r13 review pass: a bare toRdd action
    // posts no SQL-execution-end event, so a count()-only pin would mask
    // a bench that silently never releases)
    val actions: Seq[(String, org.apache.spark.sql.DataFrame => Unit)] = Seq(
      ("count", df => { df.count(); () }),
      ("fullCount", df => { org.apache.spark.sql.graft.Exec.fullCount(df); () }))
    for ((actionName, act) <- actions; name <- Seq("dedup_simhash_pairs", "dedup_cluster_cc")) {
      val baseline = persisted
      act(q(name)) // consuming action → listener fires → frames freed
      val deadline = System.currentTimeMillis() + 30000
      while (persisted > baseline && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(persisted <= baseline,
        s"$name left ${persisted - baseline} cached frame(s) after $actionName")
    }
  }

  test("jaccard pairs all meet the 0.5 threshold, symmetric-free (a<b)") {
    val rows = q("dedup_ngram_jaccard").collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) * 2 >= r.getLong(3)) // 2*inter >= union
    }
  }

  test("containment pairs equal a brute-force shingle-set reference, superset of jaccard") {
    // C(A,B) = |A∩B| / min(|A|,|B|) >= 0.9 over the SAME capped shingle
    // sets — recompute the whole thing from raw text in the JVM and
    // compare exactly; and since containment >= Jaccard always, every
    // Jaccard >= 0.9... pair is contained; we separately pin that every
    // 0.8-Jaccard near-dup pair from the minhash path also passes the
    // containment screen (inter/min >= inter/union).
    val texts = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingleSet(t: String): Set[String] = {
      val ts = t.split(" ", -1)
      (1 to math.max(ts.length - 2, 1)).map { i =>
        Seq(ts.lift(i - 1), ts.lift(i), ts.lift(i + 1)).flatten.mkString(" ")
      }.toSet
    }
    val sets0 = texts.map { case (id, t) => id -> shingleSet(t) }
    // hot-shingle cap: drop shingles with df > ShingleDfCap, like the index
    val df = sets0.flatMap(_._2).groupBy(identity).view.mapValues(_.length)
    val sets = sets0.map { case (id, sh) =>
      id -> sh.filter(g => df(g) <= Similarity.ShingleDfCap) }.toMap
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a < b
      inter = (sa intersect sb).size
      if inter * 10 >= math.min(sa.size, sb.size) * 9
    } yield (a, b, inter.toLong, math.min(sa.size, sb.size).toLong)).toSet
    val got = q("dedup_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"containment=${got.size} brute=${expected.size}")
    assert(got.nonEmpty, "no containment pairs on the fixture — vacuous")
  }

  test("simhash band-join pairs equal brute-force Hamming<=3 pairs") {
    // pigeonhole: distance <= 3 puts all differing bits in <= 3 of the 4
    // 16-bit bands, so every true pair shares >= 1 exact band — the banded
    // join must return EXACTLY the brute-force set, not a subset
    val hashes = q("dedup_simhash").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    val got = q("dedup_simhash_pairs").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"banded=${got.size} brute=${expected.size}")
  }

  test("jaccard-graph clustering matches an in-test union-find over the jaccard pairs") {
    val labels = q("dedup_cluster_jaccard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = q("dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val find = unionFind(pairs.toSeq)
    labels.foreach { case (doc, cluster) =>
      assert(cluster == find(doc), s"doc $doc: $cluster vs ${find(doc)}") }
  }

  test("incremental cluster maintenance equals the batch closure, with real merges") {
    val batch = q("dedup_cluster_cc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = q("dedup_cluster_incremental").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == batch, {
      val drift = incr.collect { case (k, v) if batch.get(k) != Some(v) =>
        (k, v, batch.get(k)) }.take(5)
      s"incremental != batch closure on: $drift"
    })
    // vacuity: the delta must actually CONNECT to the base on this fixture
    // (a cross-cutoff near-dup pair exists), otherwise the merge path —
    // the entire point of the operator — never executed
    val mx = Tables.documents(spark, Sf0001)
      .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    val crossPair = Similarity.minhashCandidates(spark, Sf0001, 0.8).collect()
      .exists { r =>
        val (da, db) = (r.getLong(0), r.getLong(1))
        da * Similarity.IncrCutDen <= mx * Similarity.IncrCutNum &&
        db * Similarity.IncrCutDen > mx * Similarity.IncrCutNum
      }
    assert(crossPair, "no cross-cutoff pair on the fixture — merge path untested")
  }

  /** Runs f with the two-regime gate disabled so the DISTRIBUTED loop is
    * the path under test (the fixture graphs are far below CcLocalEdgeCap
    * and would otherwise exercise only the driver union-find).
    */
  private def withForceLoop[T](f: => T): T =
    TestSpark.withRegime(spark, "loop", "cc_labels")(f)

  test("label propagation converges on a 15-hop chain (no premature round cap)") {
    // min-label propagation needs O(diameter) rounds; a path graph is the
    // worst case — a capped loop would mislabel the far end silently while
    // the dedup_cluster_jaccard recursive-CTE oracle stays exact. Forced
    // onto the LOOP path: the chain is exactly the shape the distributed
    // regime must still handle at scale.
    import spark.implicits._
    val docs = (0L until 20L).toDF("doc_id")
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("da", "db")
    val out = withForceLoop {
      Similarity.labelPropagate(docs, chain).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 15L).foreach(i => assert(out(i) == 0L, s"chain node $i"))
    (16L until 20L).foreach(i => assert(out(i) == i, s"isolated node $i"))
  }

  test("local union-find regime equals the distributed loop on random graphs") {
    // the round-15 two-regime gate: below CcLocalEdgeCap components solve
    // driver-side — the labels must be BIT-identical to the loop's (both
    // assign the component MIN id) on adversarial shapes: chains (worst
    // diameter), stars, multi-component mixes, self-loops, duplicate and
    // mirrored edges
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 8) {
      val n = 10 + rnd.nextInt(40)
      val edges = ((1 to (n + rnd.nextInt(2 * n))).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        (0L until 14L).map(i => (i + n.toLong, i + n.toLong + 1))).toSeq // plus a chain
      val docs = (0L until (n + 20L)).toDF("doc_id")
      val pairs = edges.toDF("da", "db")
      val local = Similarity.labelPropagate(docs, pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val loop = withForceLoop {
        Similarity.labelPropagate(docs, pairs).collect()
      }.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(local == loop, s"trial $trial: regimes disagree\n local=$local\n loop=$loop")
    }
  }

  test("clustering result survives a second action after the release listener fires") {
    // the release-after-use listener frees the final labels cache on the
    // first action; a second action on the SAME DataFrame must recompute
    // correctly (lineage is never truncated — spill rounds are durable
    // parquet), not crash or change values. The 15-hop chain forces >= 3
    // rounds, so a spill round is actually in the ancestry being re-run
    // (loop path forced — the local regime has no spill rounds to test).
    import spark.implicits._
    val docs = (0L until 20L).toDF("doc_id")
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("da", "db")
    val df = withForceLoop { Similarity.labelPropagate(docs, chain) }
    val first = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val second = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(first == second)
    assert(first.toMap.apply(15L) == 0L)
  }

  test("levenshtein block cap drops a degenerate block, keeps normal ones") {
    // synthetic corpus: one degenerate block (LevBlockCap+1 near-identical
    // docs — same lang/source/len_band, k² pairs without the guard) plus
    // one normal 2-doc block that MUST survive. The cap drops the
    // degenerate block entirely and keeps the normal pair.
    import spark.implicits._
    val k = Similarity.LevBlockCap + 1
    val degenerate = (0 until k).map { i =>
      (i.toLong, "en", "crawl", 150L, f"boilerplate page $i%04d")
    }
    val normal = Seq(
      (10000L, "de", "wiki", 150L, "der gleiche text hier"),
      (10001L, "de", "wiki", 150L, "der gleiche text hie!"))
    val docs = (degenerate ++ normal)
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val out = Similarity.levPairs(docs).collect()
    assert(out.length == 1, s"expected only the normal-block pair, got ${out.length}")
    assert(out.head.getLong(0) == 10000L && out.head.getLong(1) == 10001L)
    // and the real corpus is nowhere near the cap: sf0.1 blocks max out at
    // 32 docs — the production query output is unchanged by the guard
    val maxBlock = Tables.documents(spark, Sf01)
      .groupBy(col("lang"), col("source"), floor(col("n_chars") / 100))
      .count().agg(max("count")).collect()(0).getLong(0)
    assert(maxBlock <= Similarity.LevBlockCap / 4,
      s"fixture block size $maxBlock is approaching LevBlockCap — revisit the cap")
  }

  test("text_repetition flags a repetitive doc, scores exactly, and handles short docs") {
    import spark.implicits._
    val dir = "/tmp/graft_rep_docs"
    // doc 1: one token repeated 30× → 28 trigrams, 1 distinct → dup 27/28;
    // doc 2: 30 all-distinct tokens → dup 0; doc 3: 2 tokens → NO trigrams
    // (the Spark descending-sequence phantom edge this op guards against)
    Seq(
      (1L, Seq.fill(30)("ab").mkString(" "), "en", "spec", 0L),
      (2L, (1 to 30).map(i => s"w$i").mkString(" "), "en", "spec", 0L),
      (3L, "just two", "en", "spec", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_repetition")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((28L, 1L, 27L * 1000000L / 28L, "repetitive")), s"got ${out(1L)}")
    assert(out(2L) == ((28L, 28L, 0L, "ok")), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L, "ok")), s"got ${out(3L)}")
    // fixture invariants: counts consistent, ratio derivable, flag coherent
    SparkEntry.queries("text_repetition")(spark, Sf0001).collect().foreach { r =>
      val (n, nd, dup, flag) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(nd <= n && dup == (if (n > 0) (n - nd) * 1000000L / n else 0L))
      assert(flag == (if (dup >= TextOps.RepetitionFlagMicro) "repetitive" else "ok"))
    }
  }

  test("dedup_substring pairs a shared 32-token passage that Jaccard misses") {
    import spark.implicits._
    val dir = "/tmp/graft_substr_docs"
    val passage = (1 to Similarity.SubstrWin).map(i => s"p$i").mkString(" ")
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    // docs 1+2 share ONLY the verbatim 32-token passage inside long
    // otherwise-disjoint texts (Jaccard ≈ 32/332 — far under any near-dup
    // threshold); doc 3 has no overlap at all
    Seq(
      (1L, s"${filler("a", 150)} $passage ${filler("b", 150)}", "en", "spec", 0L),
      (2L, s"${filler("c", 150)} $passage ${filler("d", 150)}", "en", "spec", 0L),
      (3L, filler("e", 330), "en", "spec", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("dedup_substring")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a shared run of exactly W tokens contains exactly ONE aligned window
    assert(pairs.toSeq == Seq((1L, 2L, 1L)), s"got ${pairs.toSeq}")
    // the whole-doc Jaccard near-dup pass must NOT pair them (distinct
    // semantics is the point of this operator)
    val jac = Similarity.queries("dedup_ngram_jaccard")(spark, dir).collect()
    assert(jac.isEmpty, s"jaccard unexpectedly paired: ${jac.toSeq}")
    // and on the fixture corpus the op is deterministic and non-vacuous
    val fix = q("dedup_substring").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fix.nonEmpty && fix.distinct.length == fix.length)
  }

  test("jaccard hot-shingle cap is pinned and deterministic across runs") {
    // the oracle SQL embeds the same cap — changing one side silently
    // breaks the driver compare, so the constant is pinned here
    assert(Similarity.ShingleDfCap == 64)
    assert(SparkEntry.oracleSql("dedup_ngram_jaccard").contains("count(*) > 64"))
    val a = q("dedup_ngram_jaccard").collect().toSeq
    val b = q("dedup_ngram_jaccard").collect().toSeq
    assert(a == b)
  }

  test("sim_topk_cosine matches an exact in-test oracle") {
    val out = q("sim_topk_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def nrm(a: Array[Float]) =
      math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    val exact = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
    } yield (ia, ib, dot(va, vb) / (nrm(va) * nrm(vb))))
      .sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    assert(out.map(t => (t._1, t._2)).toSeq == exact.map(t => (t._1, t._2)).toSeq)
    out.zip(exact).foreach { case ((_, _, c1), (_, _, c2)) =>
      assert(math.abs(c1 - c2) < 1e-12) }
  }

  test("knn_per_label: rank 1..5 per label, 10 labels") {
    val rows = q("sim_knn_per_label").collect()
    val byLabel = rows.groupBy(_.getInt(0))
    assert(byLabel.size == 10)
    byLabel.values.foreach(rs => assert(rs.map(_.getInt(2)).sorted.sameElements(1 to 5)))
  }

  test("ann lsh: neighbors ranked, deterministic") {
    val a = q("sim_ann_lsh").collect().toSeq
    val b = q("sim_ann_lsh").collect().toSeq
    assert(a == b)
    a.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length)) }
  }

  test("langid is deterministic and total") {
    val a = q("text_langid").collect().map(r => r.getLong(0) -> r.getString(1))
    val b = q("text_langid").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(a.sameElements(b))
    assert(a.length == Tables.documents(spark, Sf0001).count())
    assert(a.forall(p => Set("en", "de", "es", "fr", "zh").contains(p._2)))
  }

  test("token gini is a valid impurity and its totals tie out to wordcount") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val rows = SparkEntry.queries("text_token_gini")(spark, TestSpark.Sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, v, sq, g) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(v <= n && sq >= n, s"${r.getString(0)}: vocab/sumsq out of range")
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)}: gini $g out of [0,1)")
      // the double is derived from the exact integer sums, nothing else
      assert(g == 1.0 - sq.toDouble / (n * n).toDouble)
    }
    val total = SparkEntry.queries("text_wordcount")(spark, TestSpark.Sf001)
      .agg(fsum("cnt")).collect()(0).getLong(0)
    assert(rows.map(_.getLong(1)).sum == total, "per-lang totals != corpus total")
  }

  test("bloom incremental dedup matches a JVM fingerprint reference at sf0.1") {
    def fp(t: String): Long =
      t.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    val out = SparkEntry.queries("dedup_bloom_incremental")(spark, TestSpark.Sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val docs = Tables.documents(spark, TestSpark.Sf01).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mx = docs.map(_._1).max
    val base = docs.filter { case (id, _) => id * 10 <= mx * 8 }
    val delta = docs.filter { case (id, _) => id * 10 > mx * 8 }
    val baseMin = base.groupBy(p => fp(p._2)).map { case (k, g) => k -> g.map(_._1).min }
    val expected = delta.map { case (id, t) =>
      val m = baseMin.get(fp(t))
      (id, m.getOrElse(-1L), if (m.isDefined) 0 else 1)
    }.sortBy(_._1)
    assert(out.length == expected.length)
    assert((out.toSet -- expected.toSet).isEmpty,
      s"mismatches: ${(out.toSet -- expected.toSet).take(5)}")
    // the fingerprint dups must be REAL text dups (a 1e9+7 collision in the
    // fixture would silently change the operator's meaning — fail loudly)
    val baseText = base.groupBy(_._2).map { case (t, g) => t -> g.map(_._1).min }
    delta.foreach { case (id, t) =>
      val viaFp = baseMin.get(fp(t))
      assert(viaFp == baseText.get(t), s"fingerprint collision at doc $id")
    }
    assert(expected.exists(_._3 == 0),
      "fixture has no cross-cutoff exact dup — dup path untested (regenerate-fixture hazard)")
  }

  test("fingerprint equals a reference implementation") {
    val out = q("text_fingerprint").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
      .limit(20).collect().map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      val exp = text.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      assert(out(id) == exp, s"doc $id")
    }
  }

  test("text_lm_surprisal equals an exact-integer JVM unigram-LM reference") {
    // the same fixed-point log2 (binary-length ilog2 + interpolated
    // fraction) computed with JVM integer ops — pins the SQL `bin`/`power`
    // formulation to the arithmetic it claims to implement
    val log2Micro = TestSpark.log2MicroRef _
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val cnt = docs.flatMap(_._2).groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = cnt.values.sum
    val expected = docs.map { case (id, toks) =>
      val bits = toks.map(w => log2Micro(n) - log2Micro(cnt(w))).sum
      id -> ((toks.size.toLong, (bits / toks.size) / 1000))
    }.toMap
    val got = q("text_lm_surprisal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == expected.size)
    got.foreach { case (id, nTok, sm, fl) =>
      val (en, esm) = expected(id)
      assert(nTok == en && sm == esm, s"doc $id: got ($nTok, $sm) want ($en, $esm)")
      assert(fl == (sm >= TextOps.LmSurprisalFlagMilli), s"doc $id flag")
    }
    // the interpolated fraction must discriminate (the pure-ilog2 form
    // collapsed the whole fixture to one score — keep that regression out)
    assert(got.map(_._3).distinct.length > 1, "surprisal is constant across the corpus")
  }

  test("text_token_entropy equals an exact-integer JVM reference, bounded by log2(vocab)") {
    val docs = Tables.documents(spark, Sf0001).select("lang", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ", -1).toSeq)
    val byLang = docs.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    val expected = byLang.map { case (lang, toks) =>
      val cnt = toks.groupBy(identity).map { case (_, xs) => xs.size.toLong }
      val n = toks.size.toLong
      val bits = cnt.map(c =>
        c * (TestSpark.log2MicroRef(n) - TestSpark.log2MicroRef(c))).sum
      lang -> ((n, cnt.size.toLong, (bits / n) / 1000))
    }
    val got = q("text_token_entropy").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (lang, t) =>
      assert(t == expected(lang), s"$lang: got $t want ${expected(lang)}")
      // uniform bound H ≤ log2(vocab); the interpolated fixed-point log2
      // is within ~86 millibits of true log2 per term, so allow 200
      val (_, v, h) = t
      val uniform = (math.log(v.toDouble) / math.log(2.0) * 1000).toLong
      assert(h <= uniform + 200, s"$lang entropy $h above uniform bound $uniform")
    }
    // entropy must discriminate across languages on the fixture (en has
    // ~3× the tokens and a larger working vocabulary)
    assert(got.values.map(_._3).toSet.size > 1, "entropy constant across languages")
  }

  test("text_rare_ngram_filter: counts reconcile and the frequent set is honored") {
    val rows = q("text_rare_ngram_filter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // every document survives the pipeline (trigram-less docs included, zeroed)
    assert(rows.length == Tables.documents(spark, Sf0001).count())
    rows.foreach { case (id, n, r, keep) =>
      assert(r >= 0 && r <= n, s"doc $id: n_rare $r out of [0, $n]")
      assert(keep == (2 * r <= n), s"doc $id: keep flag contradicts the threshold")
    }
    // reference check: recompute rarity for a few docs against a driver-side
    // frequent set built with the same (count DESC, trigram ASC) total order
    val tris = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect().map { d =>
        val tk = d.getString(1).split(" ", -1)
        d.getLong(0) -> tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      }
    val counts = tris.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val freq = counts.toSeq.sortBy { case (g, c) => (-c, g) }
      .take(TextOps.RareFreqSetSize).map(_._1).toSet
    tris.take(25).foreach { case (id, gs) =>
      val (n, r) = (gs.length.toLong, gs.count(g => !freq(g)).toLong)
      val got = rows.find(_._1 == id).get
      assert((got._2, got._3) == ((n, r)), s"doc $id: got (${got._2},${got._3}) want ($n,$r)")
    }
    // the threshold must discriminate on the fixture — both classes present
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "rare-ngram threshold no longer splits the corpus — retune RareFreqSetSize")
  }

  test("text_cooccur_pairs: support counts match a reference and respect the cap") {
    val got = q("text_cooccur_pairs").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(d => d.getString(1).split(" ", -1).distinct.sorted.take(TextOps.CooccurCap))
    val expected = docs.flatMap(ws =>
        for (i <- ws.indices; j <- (i + 1) until ws.length) yield (ws(i), ws(j)))
      .groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= TextOps.CooccurMinSupport).toMap
    assert(got == expected,
      s"pair mismatch, e.g. ${(got.toSet -- expected.toSet).take(3)} / ${(expected.toSet -- got.toSet).take(3)}")
    assert(got.nonEmpty, "support floor filtered everything — retune CooccurMinSupport")
    got.keys.foreach { case (a, b) => assert(a < b, s"unordered pair ($a,$b)") }
  }

  test("sim_hard_negatives: every mined negative crosses labels and ranks by true cosine") {
    import org.apache.spark.sql.functions._
    val got = q("sim_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val labels = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (qid, nn, nnLabel, _) =>
      assert(labels(nn) == nnLabel)
      assert(labels(nn) != labels(qid),
        s"query $qid mined a SAME-label vector $nn — not a negative")
    }
    // reference ranking for one query by driver-side cosine
    val vecs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val (q0, q0lab, q0vec) = vecs.find(_._1 == 0L).get
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d0, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        d0 += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d0 / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._2 != q0lab)
      .map(v => (v._1, cos(q0vec, v._3)))
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
    val gotQ0 = got.filter(_._1 == q0).sortBy(_._4).map(_._2).toSeq
    assert(gotQ0 == expected, s"query $q0 ranking: $gotQ0 vs $expected")
  }

  test("dedup_split_leakage flags exactly the cross-split near-dup pairs") {
    val got = q("dedup_split_leakage").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def isTrain(id: Long): Boolean = ((id % 1000000007L) * 2654435761L) % 1000L < 800L
    // orientation: the first column is always the TEST doc
    got.foreach { case (testDoc, trainDoc) =>
      assert(!isTrain(testDoc), s"$testDoc reported as leaked test doc but is in train")
      assert(isTrain(trainDoc), s"$trainDoc reported as train source but is in test")
    }
    // completeness: every verified near-dup pair that crosses the split is
    // reported, none invented
    val pairs = Similarity.minhashCandidates(spark, Sf0001, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.filter(p => isTrain(p._1) != isTrain(p._2))
      .map(p => if (isTrain(p._1)) (p._2, p._1) else (p._1, p._2)).toSet
    assert(got == expected,
      s"leak set drift: ${(got -- expected).take(3)} / ${(expected -- got).take(3)}")
    assert(got.nonEmpty, "no cross-split near-dups on the fixture — screen untested")
  }

  test("text_vocab_encode: exact round-trip through the inverse vocab, UNK accounting") {
    val vocab = TextOps.vocabFrame(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // vocab ids are dense 2..K+1 and disjoint from PAD=0 / UNK=1
    assert(vocab.size == TextOps.VocabSize)
    assert(vocab.values.toSeq.sorted == (2L to TextOps.VocabSize + 1L))
    val inverse = vocab.map(_.swap)
    val texts = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = q("text_vocab_encode").collect()
    assert(out.length == texts.size, "one encoded row per document")
    var unkSeen = 0L
    out.foreach { r =>
      val (docId, nTok, nUnk, ids) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3).split(" ").map(_.toLong))
      val words = texts(docId).split(" ")
      assert(nTok == words.length && ids.length == words.length)
      // position-exact encode: in-vocab words round-trip through the inverse
      // map; OOV words are exactly the UNK positions
      words.zip(ids).foreach { case (w, id) =>
        vocab.get(w) match {
          case Some(v) => assert(id == v, s"doc $docId: '$w' encoded $id, vocab says $v")
          case None    => assert(id == TextOps.UnkId, s"doc $docId: OOV '$w' not UNK ($id)")
        }
      }
      assert(nUnk == ids.count(_ == TextOps.UnkId))
      // decode check: every non-UNK id inverts to the original word
      words.zip(ids).filter(_._2 != TextOps.UnkId)
        .foreach { case (w, id) => assert(inverse(id) == w) }
      unkSeen += nUnk
    }
    assert(unkSeen > 0, "UNK path never exercised — VocabSize no longer < fixture vocab")
  }

  test("pack_sequences_ids: bins are exact PackSeqLen slices of the shard id streams") {
    // rebuild each shard's id stream from text_vocab_encode's per-doc
    // sequences in doc_id order, then require every (shard, bin) row to be
    // exactly its PackSeqLen-slice — straddling, fill and UNK counts all
    // follow from slice equality
    val perDoc = q("text_vocab_encode").collect()
      .map(r => (r.getLong(0), r.getString(3).split(" ").map(_.toLong)))
      .sortBy(_._1)
    val shardStream = perDoc.groupBy { case (id, _) => id % TextOps.PackShards }
      .view.mapValues(_.flatMap(_._2)).toMap
    val out = q("pack_sequences_ids").collect()
    out.foreach { r =>
      val (shard, bin, nIds, nUnk, ids) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getString(4).split(" ").map(_.toLong))
      val lo = (bin * TextOps.PackSeqLen).toInt
      val expected = shardStream(shard).slice(lo, lo + TextOps.PackSeqLen)
      assert(ids.sameElements(expected), s"shard $shard bin $bin id stream drift")
      assert(nIds == expected.length && nUnk == expected.count(_ == TextOps.UnkId))
    }
    // coverage: bins per shard tile the whole stream (no gap, no overlap)
    val binTokens = out.map(r => r.getLong(2)).sum
    assert(binTokens == shardStream.values.map(_.length.toLong).sum)
    // every full bin is exactly PackSeqLen; only a shard's LAST bin may be short
    val byShard = out.groupBy(_.getLong(0))
    byShard.values.foreach { rows =>
      val maxBin = rows.map(_.getLong(1)).max
      rows.filter(_.getLong(1) < maxBin)
        .foreach(r => assert(r.getLong(2) == TextOps.PackSeqLen))
    }
  }

  test("sample_dsir equals a JVM fixed-point brute force and over-selects the target language") {
    import TestSpark.log2MicroRef
    val B = TextOps.DsirBuckets.toLong
    // JVM twin of the portable polynomial bucket hash (the
    // text_fingerprint kernel mod DsirBuckets)
    def bucket(word: String): Long = {
      var acc = 0L
      word.foreach { ch => acc = (acc * 31 + ch.toInt) % 1000000007L }
      acc % B
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // split(text, " ") keeps trailing empties in Spark — mirror with -1
    val tokens = docs.flatMap { case (id, lang, text) =>
      text.split(" ", -1).map(w => (id, lang, bucket(w))) }
    val cr = tokens.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val ct = tokens.filter(_._2 == "en").groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val nr = tokens.length.toLong
    val nt = tokens.count(_._2 == "en").toLong
    def w(b: Long): Long =
      log2MicroRef(ct.getOrElse(b, 0L) + 1) - log2MicroRef(nt + B) -
        (log2MicroRef(cr(b) + 1) - log2MicroRef(nr + B))
    val scores = tokens.groupBy(_._1).view.mapValues { ts =>
      ts.groupBy(_._3).map { case (b, g) => g.length.toLong * w(b) }.sum }.toMap
    val expected = scores.toSeq.sortBy { case (id, sc) => (-sc, id) }
      .take(TextOps.DsirTopK)
    val got = q("sample_dsir").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"dsir drift: got=$got expected=$expected")
    // the selection must actually track the target distribution: the
    // English share among selected docs exceeds the corpus base rate
    val langOf = docs.map(x => x._1 -> x._2).toMap
    val selEn = got.count(g => langOf(g._1) == "en").toDouble / got.length
    val baseEn = docs.count(_._2 == "en").toDouble / docs.length
    assert(selEn > baseEn, s"dsir not target-seeking: selected en=$selEn base=$baseEn")
  }

  test("poly_hash equals the portable SQL fold on fixture texts and adversarial strings") {
    // the codegen'd code-point loop is the engine path for the
    // fingerprint/count-min/DSIR hashes; the HOF string remains the
    // portable definition the oracles execute — pin value equality on
    // the real corpus plus empty/whitespace/non-ASCII cases
    import spark.implicits._
    val adversarial = Seq("", " ", "  ", "a", "héllo", "中文字符", "mixé中s",
      "word word", "\ttab",
      // supplementary-plane chars: the one class where code-point vs
      // code-unit traversal diverges (U+1F600 + U+10348)
      "a😀b", "𐍈x😀")
    val texts = Tables.documents(spark, Sf0001).select("text").collect()
      .map(_.getString(0)).toSeq ++ adversarial
    val rows = texts.toDF("text")
      .select(expr(TextOps.FingerprintExpr).as("sqlFp"),
        TextOps.polyFingerprint(col("text")).as("natFp"),
        expr("aggregate(transform(split(text, ''), c -> ascii(c)), 0L, " +
          s"(acc, x) -> pmod(acc * 31 + x, ${Aggregations.CmP}L))").as("sqlCm"),
        Aggregations.cmBase(col("text")).as("natCm"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1), s"fingerprint drift on '${t.take(30)}'")
      assert(r.getLong(2) == r.getLong(3), s"cm-base drift on '${t.take(30)}'")
    }
  }

  test("sample_perplexity_band: per-language terciles over the verified surprisal scores") {
    // banding is pinned GIVEN the scores: text_lm_surprisal is itself
    // oracle-verified, so ranking its output in the JVM isolates exactly
    // the tercile/keep logic under test
    val surp = q("text_lm_surprisal").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val langOf = Tables.documents(spark, Sf0001).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = langOf.keys.toSeq.groupBy(langOf).flatMap { case (_, ids) =>
      val ranked = ids.sortBy(id => (surp(id), id))
      val n = ranked.length
      ranked.zipWithIndex.map { case (id, i) =>
        val rnk = i + 1
        val band = if (rnk * 3 <= n) "head"
          else if (rnk * 3 <= 2 * n) "middle" else "tail"
        id -> ((band, rnk * 3 <= 2 * n))
      }
    }
    val got = q("sample_perplexity_band").collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getBoolean(4)))).toMap
    assert(got == expected, s"band drift: ${got.toSet -- expected.toSet}")
    // the cuts are real at sf0.001: every language shows all three bands
    got.toSeq.groupBy(x => langOf(x._1)).foreach { case (lang, xs) =>
      assert(xs.map(_._2._1).toSet == Set("head", "middle", "tail"),
        s"$lang missing bands: ${xs.map(_._2._1).toSet}")
    }
  }

  test("pack_length_buckets: internally consistent and strictly beats naive global-max padding") {
    val d = TestSpark.Sf0001
    val rows = SparkEntry.queries("pack_length_buckets")(TestSpark.spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length > 1, "single bucket — the bucketing audit is vacuous")
    rows.foreach { case (bucket, nDocs, total, padded, waste, naive) =>
      assert((bucket & (bucket - 1)) == 0, s"bucket $bucket not a power of two")
      // batches pad to their own longest member, bounded by the cap
      assert(padded <= nDocs * bucket, "padded_tokens exceeds n_docs * cap")
      assert(waste == padded - total, "waste_tokens inconsistent")
      assert(total <= padded && padded <= naive,
        s"bucket $bucket: padding ordering violated ($total/$padded/$naive)")
    }
    // every doc lands in exactly one bucket
    val corpus = Tables.documents(TestSpark.spark, d).count()
    assert(rows.map(_._2).sum == corpus, "doc count mismatch across buckets")
    // the point of bucketing: strictly less padding than one global batch
    assert(rows.map(_._4).sum < rows.map(_._6).sum,
      "bucketed padding did not beat naive global-max padding")
  }
}
