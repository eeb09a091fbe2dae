package graft
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Dev-only scale smoke: replicate the sf0.1 documents corpus k× (each copy
  * token-prefixed so copies are NOT near-dups of each other — shingle volume
  * grows k× while the dup structure stays realistic) into /tmp, then time
  * the dedup family on 1× vs k×. Evidence for DESIGN.md's "would this
  * survive 100×" claims — measured, not asserted. Not part of the driver
  * surface.
  */
object ProfScale {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 4
    // args(1..): optional target filter, e.g. `ProfScale 16 graph_pagerank
    // dedup_cluster_cc` — lets the expensive 16x point measure just the
    // iterative tail without paying for the whole dedup family.
    // `--verbatim` (VERDICT r12 #3): replicate documents VERBATIM (disjoint
    // doc_id ranges, no prefix, no cipher) — distribution-preserving mass
    // growth. Every downstream stage of pipeline_pretrain_full then drops
    // exactly its 1× fraction of the surviving mass (the corpus unigram
    // distribution, per-doc token multisets, and quality ratios are all
    // unchanged), while the exact-dedup stage honestly absorbs the
    // replication itself (verbatim copies ARE exact duplicates — dropping
    // (k-1)/k of them is the operator doing its job, not an artifact).
    // The cipher mode remains the default for TIMING octaves, where copies
    // must NOT collapse at the first stage.
    val flags = args.drop(1).filter(_.startsWith("--")).toSet
    // fail loudly on unknown flags (the Bench SPARK_GRAFT_ONLY convention):
    // a typo'd --verbatim would otherwise run the full expensive octave in
    // cipher mode and mislabel the resulting table (code-review r13)
    val known = Set("--verbatim", "--bpe-rounds", "--semdedup", "--force-loop",
      "--unigram-em")
    require(flags.subsetOf(known),
      s"unknown flags: ${(flags -- known).mkString(", ")}")
    val verbatim = flags.contains("--verbatim")
    // `--force-loop` (VERDICT r15 #4): disable the bounded-collect driver
    // regime for the CC/kcore/BFS family so the octave measures the
    // DISTRIBUTED loop — the code path the 100 TB claim actually rests on
    // (the fixtures alone exercise only the driver regime since round 15).
    if (flags.contains("--force-loop"))
      System.setProperty("graft.cc.forceLoop", "true")
    val only = args.drop(1).filterNot(_.startsWith("--")).toSet
    val base = "/root/testdata/sf0.1"
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("WARN")
    val big = Sources.tmpUnique(s"docs_x$k")
    val docs = Tables.documents(spark, base)
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    // Per-copy text perturbation (r8): the token prefix alone decorrelates
    // only the first ~8 shingles, and the byte-SUM stripe signature
    // (mm_phash_dedup) is by design robust both to a short prefix and to a
    // per-letter Caesar shift (a near-uniform intensity offset moves every
    // block sum together) — copies stayed near-dups of each other and the
    // pair count densified k² instead of scaling k (measured: 557k pairs
    // at 16× with prefix only, 337k with prefix+Caesar). Two composed
    // length-preserving transforms fix both families: a per-copy CAESAR
    // rotation of the lowercase alphabet changes every shingle, and a
    // per-copy CIRCULAR rotation of the text by a distinct fraction
    // (i/(k+1)) shifts the stripe-sum PATTERN by ≥3 of 60 stripes between
    // any two copies, decorrelating the byte-signal signature. Copy 0
    // stays verbatim, preserving every 1× dup relationship.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // Per-copy AFFINE substitution x → a·x + b (mod 26), a coprime to 26 —
    // 12·26 = 312 distinct monoalphabetic ciphers, enough for any octave.
    // The original pure rotation (a=1) collided at k > 25: copies i and
    // i+25 shared a rotation, and since the circular text rotation below
    // preserves shingle SETS, those copies were spurious near-dups of each
    // other (measured at 64×: the near-dedup stage dropped 34% of exact
    // reps vs 4.7% at 1× — a perturbation artifact, not operator behavior).
    // Copy 0 stays identity (a=1, b=0) so every 1× dup relationship
    // survives verbatim; copies 1..25 remain pure rotations (shift i now,
    // i%25+1 before — statistically the same k ≤ 25 corpus).
    // all 12 units of Z/26 — with b in 0..25 that is 12·26 = 312 distinct
    // ciphers; copies i and i+312 would collide, bounding octaves at 312×
    val affineA = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def substituted(i: Int): String = {
      val a = affineA(i / 26 % affineA.length); val b = i % 26
      String.valueOf(alpha.indices.map(j => alpha((a * j + b) % 26)).toArray)
    }
    def perturb(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
      if (i == 0) c else {
        val t = translate(c, alpha, substituted(i))
        val len = length(t)
        val p = (len * lit(i) / lit(k + 1)).cast("int")
        concat(t.substr(p + lit(1), len - p), t.substr(lit(1), p))
      }
    (0 until k).map { i =>
      if (verbatim)
        docs.select((col("doc_id") + lit(i * n)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
      else {
        val prefix = s"copy$i " // n_chars adjusts by the ACTUAL prefix length
        docs.select((col("doc_id") + lit(i * n)).as("doc_id"),
          concat(lit(prefix), perturb(col("text"), i)).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(prefix.length)).as("n_chars"))
      }
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$big/documents.parquet")
    // orders/lineitem replicate k× too (round 5): order keys offset so the
    // join graph grows, CUSTOMER keys offset so pagerank's node/edge count
    // actually scales (same-key copies would collapse in the DISTINCT edge
    // list), and prices shift per copy by MORE than the global price spread
    // (~600k at sf0.1) so each copy occupies a disjoint price band — a
    // small shift would merely translate the width-100 match window across
    // the dense cross-copy price-difference distribution and matches would
    // still grow k² from duplication; disjoint bands make them grow ~k.
    val ord = Tables.orders(spark, base)
    val li = Tables.lineitem(spark, base)
    val nOrd = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    val nCust = ord.agg(max("o_custkey")).head().getLong(0) + 1
    val priceBand = 1000000.0
    (0 until k).map { i =>
      ord.select((col("o_orderkey") + lit(i * nOrd)).as("o_orderkey"),
        (col("o_custkey") + lit(i * nCust)).as("o_custkey"),
        col("o_orderstatus"),
        (col("o_totalprice") + lit(i * priceBand)).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$big/orders.parquet")
    // l_partkey offsets per copy (round 6): with shared part keys the
    // triangle graph DENSIFIES instead of scaling — w=1 co-purchase pairs
    // appear once per copy and cross the >= 2 threshold at k >= 2 (measured:
    // 1.9M triangles at 4×). Disjoint part keys give k independent copies
    // of the graph — edges and triangles grow ~k, the right linearity probe.
    val nPart = li.agg(max("l_partkey")).head().getLong(0) + 1
    (0 until k).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(i * nPart))
        .withColumn("l_extendedprice", col("l_extendedprice") + lit(i * priceBand))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$big/lineitem.parquet")
    // embeddings replicate k× with offset vec_ids (round 6): the PQ ADC
    // scan and the ANN candidate sets grow with the corpus while the query
    // set stays fixed at vec_id < 10 — exactly the scale asymmetry the
    // index paths exist for. Copies are identical vectors; timing is the
    // subject, tie-ranking is deterministic either way.
    val emb = Tables.embeddings(spark, base)
    val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    (0 until k).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * nVec))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$big/embeddings.parquet")
    // events replicate k× with offset event/user ids so the keyed-window
    // family (cdc compaction, gaps-islands, ewma) scales in keys, not
    // rows-per-key. Values offset per copy by MORE than the value domain
    // (~560 at sf0.1) so the DISTINCT-value vocabulary grows ~k× — the
    // exact rank tests' (agg_mann_whitney/agg_ks_test) windowed frame is
    // vocabulary-sized, and identical-value copies would hold it flat and
    // hide the very term under test. The binned variants clamp everything
    // past bin 255 into the top bin, so their frame stays ≤256 at any k —
    // measuring both on this corpus shows the contrast directly.
    val ev = Tables.events(spark, base)
    val nEvt = ev.agg(max("event_id")).head().getLong(0) + 1
    val nUid = ev.agg(max("user_id")).head().getLong(0) + 1
    val valBand = 1024.0
    (0 until k).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * nEvt))
        .withColumn("user_id", col("user_id") + lit(i * nUid))
        .withColumn("value", col("value") + lit(i * valBand))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$big/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$big/$t.parquet")
    }
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val rows = f
      System.err.println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($rows rows)")
    }
    // BPE merge-round octave (VERDICT r13 #1, the measurement half): FIXED
    // corpus (the k× ciphered replica — word-type supply ~k×107, enough
    // for 256 merges where the 1× fixture tops out near ~107), merge count
    // varied 16/64/256, serial protocol (batchK=1 — 2 driver-synchronized
    // jobs per MERGE) vs the batched one (2 per ROUND, rounds ≈
    // nMerges/E[batch]). learnLoop prints its rounds-taken line per entry;
    // the table for DESIGN.md is (m, batchK) → seconds + rounds.
    if (flags.contains("--bpe-rounds")) {
      // the study's subject is the DISTRIBUTED schedule (jobs per round);
      // the round-16 driver regime would absorb the fixture-sized frames
      // and measure nothing
      System.setProperty("graft.bpe.forceLoop", "true")
      val corpus = Tables.documents(spark, big)
      for (m <- Seq(16, 64, 256); bk <- Seq(1, Bpe.BpeBatchK)) {
        val t0 = System.nanoTime()
        Bpe.learnLoop(spark, corpus, s"bperounds:$k:$m:$bk", m, bk)
        System.err.println(
          f"[scale] bpe_learn m=$m batchK=$bk: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    // Unigram-EM scaling study (VERDICT r15 #7): FIXED k× corpus, EM dials
    // varied — SeedK {48, 512, 2048} × EmRounds {2, 8, 32}. Unlike BPE
    // merges, EM rounds CANNOT batch: round r's costs are a function of
    // round r-1's usage counts (a strict serial dependency — batching
    // would change the model, not just the schedule), so the only levers
    // are the per-round cost (already ONE job: native Viterbi over the
    // distinct-word frame + a vocab-bounded collect, where the BPE loop
    // needs two) and the literal-size term (costs ride into the
    // UnigramSegment expression as a SeedK+alphabet-entry literal). The
    // table for DESIGN.md is (seedK, rounds) → seconds.
    if (flags.contains("--unigram-em")) {
      val dir = big
      for (sk <- Seq(48, 512, 2048); em <- Seq(2, 8, 32)) {
        val t0 = System.nanoTime()
        val (vocab, _) = Unigram.learnScaled(spark, dir, sk, em)
        System.err.println(f"[scale] unigram_em seedK=$sk rounds=$em: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s (|vocab|=${vocab.length})")
      }
      spark.stop(); return
    }
    // SemDeDup pair-space octave (VERDICT r13 #7): the claim under test is
    // that with K scaled ~ n/target_list_size the within-cluster pair work
    // tracks Σ|cluster|² ≈ n·target — NOT n² — while FIXED K at a grown
    // corpus degrades toward n²/K (the documented K-is-the-scale-dial
    // caveat). Three rows: 1× @K=16, k× @K=16 (the caveat), k× @K=16k
    // (the dial). Σ|c|² is computed from the lists frame itself.
    if (flags.contains("--semdedup")) {
      import org.apache.spark.sql.graft.VectorOps.vec_dot
      def probe(label: String, dir: String, kq: Int): Unit = {
        val t0 = System.nanoTime()
        val lists = Similarity.ivfQuantize(spark, dir, kq)._2
        val a = lists.select(col("cid"), col("vec_id").as("va"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = lists.select(col("cid"), col("vec_id").as("vb"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        val drops = a.join(b, Seq("cid"))
          .where(col("va") < col("vb") &&
            vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= Similarity.SemDedupEps)
          .select(col("vb")).distinct().count()
        val secs = (System.nanoTime() - t0) / 1e9
        val pairSq = lists.groupBy("cid").count()
          .agg(sum(col("count") * col("count"))).head().getLong(0)
        val n = lists.count()
        System.err.println(
          f"[scale] semdedup $label K=$kq: $secs%.2f s, n=$n, sum|c|^2=$pairSq, drops=$drops")
      }
      probe("1x", base, 16)
      probe(s"${k}x", big, 16)
      probe(s"${k}x", big, 16 * k)
      spark.stop(); return
    }
    val targets = Seq("dedup_exact", "dedup_near_minhash", "dedup_ngram_jaccard",
      "dedup_cluster_jaccard", "dedup_cluster_cc", "dedup_simhash_pairs",
      "text_decontaminate", "text_tfidf_topk",
      // round-5 heavies: iterative graph, retrieval scoring, packing,
      // chunking, and the bucketed pure range join
      "graph_pagerank", "text_bm25_topk", "pack_sequences", "chunk_overlap",
      "join_range_bucketed",
      // round 6: the windowed shared-passage screen (same inverted-index
      // join family as ngram_jaccard, longer windows)
      "dedup_substring",
      // round-6 continuation: PQ's ADC scan (corpus k×, queries fixed),
      // triangle counting (per-copy l_partkey offsets above give k DISJOINT
      // copies of the co-purchase graph — edges and triangles grow ~k, the
      // right linearity probe), and the keyed-window pair
      "sim_ann_pq", "graph_triangle_count", "etl_cdc_apply",
      "window_gaps_islands", "join_bloom_prefilter",
      // round 7: the grid interval join (replicated orders widen the B
      // side; the W-cell replication factor is the constant under test),
      // the two-big-side full-outer diff, and the pruned+compressed ANN
      // composite (corpus k x, query set fixed - the IVF-PQ scale claim)
      "join_interval_overlap", "etl_snapshot_diff", "sim_ann_ivfpq",
      // round 8: multimodal near-dup banding, bounded/exact keyed EWMA,
      // and the rank tests — exact (vocabulary-sized window frame, grown
      // ~k× by the per-copy value offset) vs binned (structurally ≤256)
      "mm_phash_dedup", "window_ewma", "window_ewma_bounded",
      "agg_mann_whitney", "agg_ks_test",
      "agg_mann_whitney_binned", "agg_ks_binned",
      // round-8 close: storage-layout joins (both pay a fresh bucketed/
      // partitioned WRITE per run — the build is the operator), the
      // deterministic sampling pair, the per-dim embedding moments, the
      // token-concentration aggregate, and the broadcast-bloom ingest dedup
      "join_bucket_colocated", "join_dpp_partitioned",
      "sample_epoch_shuffle", "sample_source_mixture",
      "embed_dim_stats", "text_token_gini", "dedup_bloom_incremental",
      // round-8 last batch: frequent-set rarity screen (top-F TakeOrdered +
      // broadcast probe), capped pair mining, keyed LOCF, mergeSchema read,
      // and the SCD2 point-in-time lookup
      "text_rare_ngram_filter", "text_cooccur_pairs",
      "window_fill_forward", "etl_schema_evolution", "join_pit_scd2",
      // sessionization (keys ×k, rows/key constant), the 64-replicate
      // Poisson bootstrap (explode ×64 is the linear term under test),
      // and the broadcast-request purge
      "etl_sessionize", "agg_bootstrap_ci", "etl_gdpr_delete",
      // robust stats (two grouped exact-percentile passes — the per-group
      // value buffer is the term to watch) and the skew profiler
      "agg_robust_outliers", "etl_partition_skew_report",
      // the fixed-round peel (O(edges)/round, spilled — job-count bound)
      // and the interval-weighted keyed aggregate
      "graph_kcore", "window_twap",
      // one-pass Gram matrix: the ×2080 map-side pair expansion is the
      // linear flop term under test
      "embed_gram_matrix",
      // the stream-static enrichment's batch twin (broadcast dim probe)
      "stream_static_enrich",
      // assignment-only incremental index ingest (work ∝ |delta|, frozen
      // codebooks — the corpus is never rescanned)
      "ann_index_append",
      // hard-negative mining: bounded query probe set × streaming corpus
      "sim_hard_negatives",
      // cross-split leakage: a post-filter on the memoized band index
      "dedup_split_leakage",
      // LEFT tolerance as-of: same tagged-union window, NULL-kept facts
      "join_asof_left",
      // round 9 (VERDICT r8 #6): the persisted-index probe — the index is
      // ensured during warmup so the timed entry is PROBE-ONLY (zero
      // training jobs); the term under test is the candidate-list scan,
      // ~nprobe/K of the corpus
      "sim_ann_ivfpq_probe",
      // round-9 additions: the asymmetric containment screen (same
      // inverted-index join as ngram_jaccard), the recall evaluation
      // (10 broadcast probes × corpus — the query-set-fixed asymmetry),
      // and the chained-aggregation trending twin
      "dedup_containment", "sim_ann_recall_eval", "stream_trending_type",
      "window_ewma_std",
      // round-10 additions: the common-neighbor wedge join (the one
      // deliberately-unoriented quadratic-in-middle-degree term — the
      // co-order threshold is its bound), the HLL register aggregation
      // (shuffle bounded by groups × occupied registers), the weighted
      // cumulative pick (window frame = per-group value vocabulary), the
      // map-only rule tagger, and the temp-view SQL path
      "graph_jaccard_neighbors", "agg_hll_sketch",
      "agg_weighted_percentiles", "etl_quarantine", "sql_adhoc",
      // round 11 (VERDICT r10 #6): the persisted-index write path —
      // training is memoized from warmup's ensure(), so this times the
      // codes/lists artifact writes, the corpus-linear term of a rebuild
      "ann_index_build",
      // round 11: the five-stage composed pipeline — reads the memoized
      // pair/shingle spills, so the timed entry is the composition
      // (anti-join drops + quality + packing), not index derivation
      "pipeline_pretrain_full",
      // late round 11: the unigram-LM scorer (vocabulary grows ~k× under
      // the Caesar-perturbed copies — the tf⋈counts join is the term
      // under test), the language temperature mix (map-side filter — the
      // ≤|langs|-row quota build is the only aggregate), and the trailing
      // z-score window (events grow k× over a FIXED 5-ary partition key —
      // the serialization risk the `_bounded` week-keyed sibling exists
      // to remove; this measures the global form's cost)
      "text_lm_surprisal", "sample_lang_temperature", "window_anomaly_zscore",
      // the bounded sibling: same rows, (event_type, week) partitions —
      // 25 window partitions vs the global variant's 5 on this fixture
      "window_anomaly_zscore_bounded",
      // round 13: BPE learning (one corpus scan + a 16-round loop on the
      // distinct-word frame — the affine-perturbed copies grow the word
      // TYPE count ~k× while the char alphabet stays fixed, so this
      // measures the loop's vocabulary-linear term) and the map-side fold
      // encoder (corpus-linear, no join — the per-token fold cost is the
      // term under test)
      "text_bpe_vocab", "text_bpe_encode",
      // round 13: DSIR importance selection — corpus-linear (one token
      // aggregate + a 256-row broadcast probe); the per-copy cipher words
      // spread over the same 256 buckets, so the weight table stays fixed
      // while the token stream grows ~k×. dedup_semdedup is deliberately
      // NOT an octave target: at FIXED K its within-cluster pair space
      // grows k² by construction (the documented K-is-the-scale-dial
      // caveat) — a timing row would measure the caveat, not a regression.
      "sample_dsir",
      // round 15: the unigram-LM dual (EM segmentation jobs on the
      // vocabulary-sized distinct-word frame — word-TYPE count grows ~k×
      // under the cipher while the alphabet stays fixed, so this measures
      // the loop's vocabulary-linear term plus the corpus-linear encode)
      // and the held-out novel encoder (native fold + UNK fallback over
      // the 10% slice — corpus-linear, no join)
      "text_unigram_vocab", "text_unigram_encode", "text_bpe_encode_novel",
      "pack_sequences_unigram",
      // round 15 (cont.): the unigram novel encoder (train-split learn is
      // the fixed term, the perturbed 10% slice the corpus-linear one),
      // the Gopher rule battery (two map-side-combinable aggregates — the
      // cheapest possible shape, the row is the proof), and the sketch
      // merge (daily partial registers: groups × days × occupied-register
      // bound on the shuffle, raw rows only in the first partial pass)
      "text_unigram_encode_novel", "text_gopher_rules", "agg_sketch_merge",
      // round 15 (cont.): the LSH recall eval (truth side is probe-slice ×
      // corpus through the inverted shingle index — the query-set-fixed
      // asymmetry; found side reads the standing pair spill) and the
      // span-removal ledger (non-overlapping segments: ~n/8 explode rows,
      // one aggregate + one join — the sub-shingle-cost claim under test)
      "dedup_minhash_recall", "dedup_span_remove",
      // multi-source BFS: per-copy partkey offsets give k disjoint copies
      // of the co-purchase graph, but only copy 0 holds seed ids <
      // BfsSeedCap — the probe measures the edge-build + the seed-sliced
      // walk staying flat as unreachable copies multiply
      "graph_bfs_distance",
      // KMV overlap: raw events grow k× but every post-distinct frame is
      // bounded by days × k sketch rows — the persisted-sketch claim
      "agg_kmv_overlap",
      // round 16 (VERDICT r15 #4): raw connected components joins the
      // octave targets so the `--force-loop` regime rows cover the whole
      // CC/kcore/BFS family (dedup_cluster_cc measures the same
      // labelPropagate kernel through the dedup pair graph; this is the
      // co-purchase one)
      "graph_connected_components",
      // round 16: the bigram scorer (bigram index grows ~k× in rows, the
      // (prev,w) model frame ~k× in types under the cipher; the tf⋈cb⋈cc
      // joins are the terms under test — text_lm_surprisal's shape one
      // conditioning level up) and its per-language banding window
      "text_lm_surprisal_bigram", "sample_perplexity_band_bigram",
      // Kneser-Ney: same bigram-index shape plus two vocab-bounded
      // rollups (continuation counts) and a third equi-join
      "text_lm_surprisal_kn",
      // round 16: byte-level BPE — same vocabulary-linear loop term as
      // text_bpe_vocab but over regex pretokens (the space-attached TYPE
      // count is ~2× the bare-word one, fixed 256-symbol alphabet), and
      // the corpus-linear native-fold encoder with structural ids
      "text_bpe_bytes_vocab", "text_bpe_bytes_encode",
      // round 16 (VERDICT r15 #8): the persisted sketch store — build is
      // the corpus-linear nightly ingest term (distinct + two-level
      // bottom-k + the day-partitioned write), probe must stay FLAT (it
      // reads days × k persisted rows, never raw events; ensured in
      // warmup like the ANN probe)
      "kmv_store_build", "kmv_overlap_probe",
      // round 16: NN-descent — the LINEAR graph-ANN build (sampled local
      // join + incremental flags since round 17; the exact all-pairs
      // build is the documented quadratic non-target): the octave is the
      // claim (measured r17: 2.2× wall @16×, 12× @64×)
      "sim_ann_graph_nnd",
      // round 17: the real-codec media decode (corpus-linear partition-
      // local PNG encode+decode — the per-doc codec constant is the term
      // under test) and the persisted graph probe (must stay FLAT like
      // the IVF-PQ/KMV probes: two self-join hops on the fixed 10-query
      // probe set against lists that grow k×; ensured in warmup)
      "mm_decode_features", "sim_ann_graph_probe",
      // round 17 (cont.): the NB quality classifier (vocab grows ~k×
      // under the cipher — the class-aggregate + weight-join terms under
      // test; the corpus-linear tf⋈w join rides the standing tfIndex) and
      // the WAV codec path (corpus-linear per-doc encode+decode constant,
      // the audio twin of mm_decode_features)
      "text_quality_classifier", "mm_audio_features",
      // round 17 (cont.): the multi-frame GIF codec path (corpus-linear
      // per-doc encode+decode of 2-5 frames)
      "mm_video_frame_features",
      // round 18: the audio fingerprint pair graph — runs BEFORE the
      // cross-modal unions so ITS row pays the corpus-linear render+
      // decode through the real WAV codec (the aud_pairs spill build;
      // code-review r18: list order determines which row absorbs a
      // shared memoSpill build, so the order must match the comments)
      "dedup_audio_fingerprint",
      // round 18 (VERDICT r17 #5): the cross-modal union clusterings join
      // the static targets (r17 measured them via ad-hoc args only) — the
      // 2-way row pays the minhash+phash pair-spill builds, the 3-way row
      // then times the union + labelPropagate over all three spills; the
      // per-copy Caesar+rotation keeps copies from pairing ACROSS copies,
      // so edges grow ~k
      "dedup_cross_modal", "dedup_cross_modal_3way",
      // round 18 (VERDICT r17 #2): the in-engine beam search — must stay
      // ~FLAT like the other persisted-index probes (fixed 10-query probe
      // set; per-round frontier bounded by ef·K regardless of corpus
      // size; lists ensured in warmup so the row times search only)
      "sim_ann_graph_search",
      // and its out-of-index twin (novel queries start cold at the entry
      // point — more rounds, same corpus-independent per-round bound)
      "sim_ann_graph_search_novel",
      // round 18: incremental graph ingest — work ∝ |delta|·ef·K (delta
      // grows ~k under replication, so the row should scale ~linearly in
      // k while the base graph is never re-descended; base ensured in
      // warmup so the row times the append only)
      "gann_index_append",
      // round 18 (VERDICT r17 #1): tokenizer store builds — timed against
      // a deterministically WARM in-process learn (warmup below memoizes
      // it; code-review r18: otherwise whether the row paid the learn
      // depended on run history), so these rows measure the ARTIFACT
      // WRITE path; the learn term has its own rows (text_bpe_vocab /
      // text_bpe_bytes_vocab / text_unigram_vocab). The frozen encodes
      // are corpus-linear native folds with NO learn term at all — the
      // store read is a bounded driver collect; contrast
      // text_bpe_encode, whose spill build pays the learn
      "bpe_store_build", "unigram_store_build", "bpe_bytes_store_build",
      "text_bpe_encode_frozen", "text_unigram_encode_frozen",
      "text_bpe_bytes_encode_frozen",
      // round 19 — the lifecycle serving/maintenance keys. The serving
      // rows (merged/deleted/compacted probes+searches) must stay in the
      // probe-family ~flat regime: fixed 10-query probe sets, bounded
      // per-round frontiers, artifact scans only (append/tomb/compact
      // ensured in warmup below). The VERB rows (delete/compact) time
      // their own artifact work: delete is one predicate scan + write
      // (~flat in corpus... linear in the scan), compact is O(edges) —
      // expected ~linear in k
      "ann_index_delete", "sim_ann_ivfpq_probe_merged",
      "sim_ann_ivfpq_probe_deleted", "ann_index_compact",
      "sim_ann_ivfpq_probe_compacted",
      "gann_index_delete", "sim_ann_graph_search_merged",
      "sim_ann_graph_search_deleted", "gann_index_compact",
      "sim_ann_graph_search_compacted",
      "kmv_store_delete", "kmv_overlap_probe_deleted",
      "tokenizer_store_delete", "text_bpe_encode_frozen_deleted",
      // corpus-linear map-only string pipeline — must scale ~k
      "text_extract_markup",
      // round 19 session 2 — hybrid retrieval: both rows read the standing
      // bm25_tf posting artifact (ensured in warmup — probe-only timing,
      // the posting-list build is the ingest job) + the embeddings scan;
      // the fuse/rerank tail is probes × PoolN rows regardless of corpus,
      // so growth should be the two scan widths, not the fusion
      "retrieval_rrf_fusion", "retrieval_dense_rerank",
      // and the tokenizer RETRAIN verb — a full train-from-scratch on the
      // tombstone-filtered corpus by design (unlearning a merge table
      // cannot be incremental), so the honest expectation is the learn's
      // own scaling: corpus-linear wordFreq + the vocabulary-bounded loop
      // (the in-process learn memo is per-key; the @kx row pays its own
      // learn on the replicated corpus)
      "tokenizer_store_retrain",
      // round 19 session 2 — generation-2 lifecycle: the ingest row times
      // the delta2 beam over the compacted graph (compaction ensured in
      // warmup; work ∝ |delta2| · ef · K, delta2 grows ~k), the serving
      // row times the gen-2 union beam (probe-family ~flat envelope)
      "gann_index_append2", "sim_ann_graph_search_gen2",
      // IVF-PQ gen-2 twins: assignment-only ingest (linear in the batch),
      // probe over compacted ∪ delta2 (scan-width growth only)
      "ann_index_append2", "sim_ann_ivfpq_probe_gen2",
      // KMV compact: one anti-join + day-partitioned write over days×k
      // rows; the compacted probe drops the tombstone frame from the plan
      "kmv_store_compact", "kmv_overlap_probe_compacted",
      // retrained-store serving: the frozen-encode scan-bound shape with
      // the retrained artifacts (retrain ensured in warmup — this row
      // times serving; tokenizer_store_retrain's row pays the learn)
      "text_bpe_encode_retrained",
      // metadata-constrained search: the pre-filter probe (2× nprobe, so
      // ~2× the unfiltered probe's scan+ADC work) and the post-filter
      // beam (the unfiltered beam + a label join on the final state)
      "sim_ann_ivfpq_probe_filtered", "sim_ann_graph_search_filtered",
      // refine composites: the ADC probe + a broadcast-pool id-keyed
      // vector fetch and exact re-rank — scan-width growth like the
      // probe family, plus one more pass over the vector store
      "sim_ann_ivfpq_probe_refined", "sim_ann_ivfpq_probe_filtered_refined",
      // residual IVFADC: the raw composite's cost + the residual forms
      // (one zip per corpus vector at train, per (query, probed list) at
      // query) and the nprobe-wide LUT
      "sim_ann_ivfpq_residual",
      // index health: one aggregate over each metadata-scale artifact
      "ann_index_stats",
      // range search: probed-candidate scan + exact filter, no window
      "sim_range_search",
      // SQ8: one min/max aggregate + a 10×corpus decoded-distance scan
      "sim_ann_sq8",
      // streaming ingest: |delta| assignment work split across segments,
      // plus the per-micro-batch job floor — the streaming tax itself
      "stream_index_ingest",
      // the graph twin: |delta| beam work split across segments + floors
      "stream_gann_ingest",
      // graph health: a few scans of the metadata-scale lists artifact
      "gann_index_stats",
      // round 20 — ANN-served retrieval: the dense leg reads the persisted
      // IVF-PQ artifacts (index + posting artifact ensured in warmup —
      // probe-only timing); growth = the probe family's ~flat envelope +
      // the lexical scan; the fuse/rerank tail stays probes × pool rows
      "retrieval_rrf_fusion_ann", "retrieval_dense_rerank_ann",
      "retrieval_rrf_fusion_gann", "retrieval_dense_rerank_gann",
      "retrieval_rrf_fusion_3way",
      // recall canary: the rerank plan + a 10-probe exact kernel
      "retrieval_recall_eval",
      // ANALYZE: one stacked corpus scan + a 1-row min/max aggregate —
      // must scale with the two scan widths, groups stay 6; the merge
      // form re-reads per-half (2× the partial scans, merge is free)
      "catalog_column_stats", "catalog_column_stats_merge",
      // codec features: partition-local render+decode, corpus-linear
      "mm_image_histogram", "mm_audio_energy_windows",
      // CUSUM: two user-partitioned windows over events — one shuffle
      "window_cusum",
      // beam recall eval: the serving beam + a 10-probe brute kernel
      "gann_recall_eval")
      .filter(q => only.isEmpty || only(q))
    // warm BOTH corpora once with cheap queries touching EVERY table the
    // targets read — documents AND orders/lineitem (file listing + footer
    // reads must not land asymmetrically inside the first timed @kx entry)
    for (dir <- Seq(base, big)) {
      SparkEntry.queries("dedup_exact")(spark, dir).count()
      Tables.orders(spark, dir).count()
      Tables.lineitem(spark, dir).count()
      Tables.events(spark, dir).count()
      Tables.embeddings(spark, dir).count()
      // build the persisted ANN index OUTSIDE the timed probe entry —
      // the probe claim is probe-only cost, the build is its own entry
      if (targets.contains("sim_ann_ivfpq_probe")) AnnIndex.ensure(spark, dir)
      // same probe-only discipline for the KMV store: the build is its own
      // octave entry (kmv_store_build), the probe times sketch-reads only
      if (targets.contains("kmv_overlap_probe")) KmvStore.ensure(spark, dir)
      // and for the graph-ANN index: the probe row must time artifact
      // scans only, never the descent build
      if (targets.contains("sim_ann_graph_probe") ||
          targets.contains("sim_ann_graph_search") ||
          targets.contains("sim_ann_graph_search_novel") ||
          targets.contains("gann_index_stats") ||
          targets.contains("gann_recall_eval")) GraphAnnIndex.ensure(spark, dir)
      if (targets.contains("gann_index_append") ||
          targets.contains("stream_gann_ingest")) GraphAnnIndex.ensureBase(spark, dir)
      // frozen-encode rows time encode only — the store build is its own
      // octave entry (the kmv_store_build/kmv_overlap_probe split)
      if (targets.contains("text_bpe_encode_frozen")) TokenizerStore.ensureBpe(spark, dir)
      if (targets.contains("text_unigram_encode_frozen")) TokenizerStore.ensureUni(spark, dir)
      if (targets.contains("text_bpe_bytes_encode_frozen")) TokenizerStore.ensureByte(spark, dir)
      // store_build rows must be learn-warm DETERMINISTICALLY (not only
      // when a frozen-encode ensure happened to build): memoize the
      // in-process learn here so the timed rows isolate the artifact
      // write+audit path regardless of what already exists on disk —
      // UNLESS the corresponding vocab row is also in this run: the
      // vocab row is where the learn term is timed, it runs BEFORE the
      // store row (list order), and pre-warming here would de-cool it
      // (second review pass: a full-target run otherwise had NO row
      // paying the learn)
      // round-19 lifecycle serving rows time SERVING only: the artifacts
      // they read (delta staging, tombstones, compactions) are ensured
      // here; the verb rows (delete/compact) re-run their writes by
      // design and are the entries that time that work. The delete verbs
      // ensure their BASE STORE here too — delete() calls ensure()
      // internally, so a cold-tmpdir subset run would otherwise fold a
      // full index/store build into a row documented as "one predicate
      // scan + write" (code-review r19)
      if (targets.contains("ann_index_delete")) AnnIndex.ensure(spark, dir)
      if (targets.contains("gann_index_delete")) GraphAnnIndex.ensureBase(spark, dir)
      if (targets.contains("kmv_store_delete")) KmvStore.ensure(spark, dir)
      if (targets.contains("tokenizer_store_delete")) TokenizerStore.ensureBpe(spark, dir)
      if (targets.contains("sim_ann_ivfpq_probe_merged") ||
          targets.contains("sim_ann_ivfpq_probe_deleted"))
        AnnIndex.ensureAppend(spark, dir)
      if (targets.contains("sim_ann_ivfpq_probe_deleted"))
        AnnIndex.ensureTomb(spark, dir)
      if (targets.contains("sim_ann_ivfpq_probe_compacted"))
        AnnIndex.ensureCompact(spark, dir)
      if (targets.contains("ann_index_compact")) {
        AnnIndex.ensureAppend(spark, dir); AnnIndex.ensureTomb(spark, dir)
      }
      if (targets.contains("sim_ann_graph_search_merged") ||
          targets.contains("sim_ann_graph_search_deleted"))
        GraphAnnIndex.ensureAppend(spark, dir)
      if (targets.contains("sim_ann_graph_search_deleted"))
        GraphAnnIndex.ensureTomb(spark, dir)
      if (targets.contains("sim_ann_graph_search_compacted"))
        GraphAnnIndex.ensureCompact(spark, dir)
      if (targets.contains("gann_index_compact")) {
        GraphAnnIndex.ensureAppend(spark, dir); GraphAnnIndex.ensureTomb(spark, dir)
      }
      if (targets.contains("kmv_overlap_probe_deleted")) KmvStore.ensureTomb(spark, dir)
      if (targets.contains("text_bpe_encode_frozen_deleted"))
        TokenizerStore.ensureTombDocs(spark, dir)
      if (targets.contains("bpe_store_build") &&
          !targets.contains("text_bpe_vocab")) Bpe.mergesFrame(spark, dir).count()
      if (targets.contains("bpe_bytes_store_build") &&
          !targets.contains("text_bpe_bytes_vocab"))
        Bpe.mergesFrameFrom(spark, Bpe.learnBytes(spark, dir)).count()
      if (targets.contains("unigram_store_build") &&
          !targets.contains("text_unigram_vocab")) Unigram.learn(spark, dir)
      // hybrid-retrieval rows time retrieval, not posting-list ingest:
      // materialize the bm25_tf memoSpill here (the standing artifact a
      // retrieval stack probes; text_bm25_topk's own bench row is where
      // the build cost shows cold)
      if (targets.contains("retrieval_rrf_fusion") ||
          targets.contains("retrieval_dense_rerank"))
        TextOps.bm25Scored(spark, dir).count()
      // ANN-served retrieval rows time serving only: both standing
      // artifacts (the IVF-PQ index AND the posting frame) are the
      // ingest side's work
      if (targets.contains("retrieval_rrf_fusion_ann") ||
          targets.contains("retrieval_dense_rerank_ann")) {
        AnnIndex.ensure(spark, dir)
        TextOps.bm25Scored(spark, dir).count()
      }
      if (targets.contains("retrieval_rrf_fusion_gann") ||
          targets.contains("retrieval_dense_rerank_gann")) {
        GraphAnnIndex.ensure(spark, dir)
        TextOps.bm25Scored(spark, dir).count()
      }
      if (targets.contains("retrieval_rrf_fusion_3way")) {
        AnnIndex.ensure(spark, dir)
        GraphAnnIndex.ensure(spark, dir)
        TextOps.bm25Scored(spark, dir).count()
      }
      if (targets.contains("retrieval_recall_eval")) {
        AnnIndex.ensure(spark, dir)
        TextOps.bm25Scored(spark, dir).count()
      }
      // the retrain verb needs the tombstones (the delete verb's artifact,
      // not the retrain's work) — the learn itself is deliberately NOT
      // pre-warmed: retraining IS a training job and its row must pay it
      if (targets.contains("tokenizer_store_retrain"))
        TokenizerStore.ensureTombDocs(spark, dir)
      // gen-2 rows: the ingest row times the delta2 beam only (compaction
      // is the gen-1 verb's work); the serving row additionally gets its
      // delta2 artifacts ensured
      if (targets.contains("gann_index_append2"))
        GraphAnnIndex.ensureCompact(spark, dir)
      if (targets.contains("sim_ann_graph_search_gen2"))
        GraphAnnIndex.ensureAppend2(spark, dir)
      if (targets.contains("ann_index_append2"))
        AnnIndex.ensureCompact(spark, dir)
      if (targets.contains("sim_ann_ivfpq_probe_gen2"))
        AnnIndex.ensureAppend2(spark, dir)
      if (targets.contains("kmv_store_compact")) KmvStore.ensureTomb(spark, dir)
      if (targets.contains("kmv_overlap_probe_compacted"))
        KmvStore.ensureCompact(spark, dir)
      if (targets.contains("text_bpe_encode_retrained"))
        TokenizerStore.ensureRetrain(spark, dir)
      if (targets.contains("sim_ann_ivfpq_probe_filtered"))
        AnnIndex.ensure(spark, dir)
      if (targets.contains("sim_ann_graph_search_filtered"))
        GraphAnnIndex.ensure(spark, dir)
      // the refined probes are serving-only rows like every probe key:
      // the first 16x run measured 3.2x on the unfiltered refined row
      // because it ran FIRST on the fresh replica and paid the one-time
      // index build inside its timing (filtered_refined, next in order,
      // reused the marker and was flat) — ensure here like the rest
      if (targets.contains("sim_ann_ivfpq_probe_refined") ||
          targets.contains("sim_ann_ivfpq_probe_filtered_refined") ||
          targets.contains("ann_index_stats") ||
          targets.contains("stream_index_ingest"))
        AnnIndex.ensure(spark, dir)
      // Similarity-side trained caches (ADVICE r19 — the same first-run
      // distortion the AnnIndex ensure above fixes): the residual PQ
      // index, the SQ8 min/max state, and the coarse index otherwise
      // train inside the first timed run on a fresh replica
      if (targets.contains("sim_ann_ivfpq_residual")) Similarity.pqResidIndex(spark, dir)
      if (targets.contains("sim_ann_sq8")) Similarity.sq8Train(spark, dir)
      if (targets.contains("sim_range_search")) Similarity.ivfPqCoarseIndex(spark, dir)
    }
    // fullCount, not count() — the r13 Bench finding applies to octaves
    // too: Catalyst prunes projected expressions through the final
    // aggregate under a bare count (text_quality_classifier's fixed-point
    // weight expressions would be dropped), so a count-timed row measures
    // a partially-executed plan (code-review r17)
    targets.foreach { q =>
      time(s"$q @1x")(
        org.apache.spark.sql.graft.Exec.fullCount(SparkEntry.queries(q)(spark, base)))
      time(s"$q @${k}x")(
        org.apache.spark.sql.graft.Exec.fullCount(SparkEntry.queries(q)(spark, big)))
    }
    // Per-stage drop accounting for the composed pipeline (VERDICT r11 #4):
    // the same stage frames the query composes, counted at each cut — run
    // at both scales so DESIGN.md can attribute k× growth per stage. The
    // Caesar+rotation perturbation makes copies non-near-dups of each
    // other BY DESIGN, so cross-copy near-dedup/decontam drops don't occur;
    // each copy re-plays the 1× drop structure (documented expectation:
    // exact/near/decontam drops scale ~k, the probe set stays the fixed
    // doc_id<50 eval window of copy 0 only).
    if (targets.contains("pipeline_pretrain_full")) {
      // counts come from the SAME stage builders the registered query
      // composes (Similarity.pretrain*) — a pipeline edit cannot
      // desynchronize the attribution from the plan (ADVICE r12)
      for ((label, dir) <- Seq("1x" -> base, s"${k}x" -> big)) {
        val docsN = Tables.documents(spark, dir).count()
        System.err.println(s"[scale] pipeline stages @$label: docs=$docsN " +
          s"exact=${Similarity.pretrainExact(spark, dir).count()} " +
          s"near=${Similarity.pretrainNear(spark, dir).count()} " +
          s"decontam=${Similarity.pretrainDecontam(spark, dir).count()} " +
          s"quality=${Similarity.pretrainQuality(spark, dir).count()} " +
          s"surprisal=${Similarity.pretrainCleaned(spark, dir).count()}")
      }
    }
    // Fixed-delta / k×-base corpus for dedup_incremental_minhash (VERDICT
    // r7 #6): base docs (below the 1× cutoff) replicate k× into the LOW id
    // region (copy 0 unprefixed, so every 1× delta↔base near-dup pair
    // survives verbatim; later copies are token-prefixed occupancy), and
    // the 1× delta docs are appended ONCE at the TOP of the id range
    // (ids 4T+…), so the query's self-derived cutoff (doc_id·10 > 8·max)
    // selects the IDENTICAL delta batch at both scales. Claim under test:
    // candidate-pair work is ∝ |delta| × bucket occupancy, never base² —
    // the growth left in the k× point is the corpus-linear
    // signature/banding prefix (the part a 100 TB pipeline persists as the
    // standing band index). The symmetric all-pairs variant on the same
    // corpus is timed as the contrast.
    if (only.isEmpty || only("dedup_incremental_minhash")) {
      val incrBig = Sources.tmpUnique(s"incr_x$k")
      val mx1 = n - 1
      val T = k * n
      val baseDocs = docs.where(col("doc_id") * 10 <= lit(8L * mx1))
      val deltaDocs = docs.where(col("doc_id") * 10 > lit(8L * mx1))
      (0 until k).map { i =>
        val prefix = if (i == 0) "" else s"copy$i "
        baseDocs.select((col("doc_id") + lit(i * n)).as("doc_id"),
          concat(lit(prefix), perturb(col("text"), i)).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(prefix.length)).as("n_chars"))
      }.reduce(_ unionByName _)
        .unionByName(deltaDocs.select((col("doc_id") + lit(4L * T)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
        .write.mode(SaveMode.Overwrite).parquet(s"$incrBig/documents.parquet")
      SparkEntry.queries("dedup_exact")(spark, incrBig).count() // warm
      time("dedup_incremental_minhash @1x")(
        SparkEntry.queries("dedup_incremental_minhash")(spark, base).count())
      time(s"dedup_incremental_minhash @${k}x-base/fixed-delta")(
        SparkEntry.queries("dedup_incremental_minhash")(spark, incrBig).count())
      time(s"dedup_near_minhash (symmetric contrast) @${k}x-base/fixed-delta")(
        SparkEntry.queries("dedup_near_minhash")(spark, incrBig).count())
      // incremental CLUSTER maintenance on the same corpus: run 1 builds
      // the standing base labels (the cold term, ∝ base), run 2 is the
      // maintenance path the claim is about (∝ delta)
      time(s"dedup_cluster_incremental @${k}x-base/fixed-delta (cold: builds base labels)")(
        SparkEntry.queries("dedup_cluster_incremental")(spark, incrBig).count())
      time(s"dedup_cluster_incremental @${k}x-base/fixed-delta (warm: maintenance only)")(
        SparkEntry.queries("dedup_cluster_incremental")(spark, incrBig).count())
    }
    spark.stop()
  }
}
