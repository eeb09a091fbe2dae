package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import Tables._

/** Unigram-LM subword tokenizer (SentencePiece's model family — Kudo 2018,
  * "Subword Regularization"), the published dual of BPE (VERDICT r13 #4):
  * where BPE grows a vocabulary bottom-up by merging, unigram-LM starts
  * from an over-complete candidate vocabulary and SHRINKS it by EM — each
  * round segments the corpus under the current token probabilities
  * (Viterbi, i.e. hard-EM), re-estimates probabilities from token usage,
  * and prunes tokens the optimal segmentations no longer use.
  *
  * Deterministic variant (every step exact cross-engine):
  *  - token cost = −log2 p(token) in MICRO-BITS fixed point via the shared
  *    [[TextOps.log2MicroSql]] kernel (JVM mirror [[Unigram.log2Micro]]):
  *    cost = log2µ(total) − log2µ(count), integers end to end.
  *  - Viterbi ties resolve by (cost ASC, token-count ASC, segmentation
  *    string ASC in UTF-8 binary order) — a total order, mirrored
  *    token-for-token by the DuckDB oracle's window sort.
  *  - seeding: all corpus characters plus the top [[SeedK]] substrings of
  *    length 2..[[MaxSub]] by (occurrence-weighted count DESC, substring
  *    ASC).
  *  - pruning: characters are never dropped (coverage); a multi-char token
  *    survives a round iff the round's Viterbi segmentations used it at
  *    least once; character counts smooth to max(usage, 1) so no cost is
  *    ever log(0).
  *
  * Scale shape (the BPE/pagerank pattern): the corpus is scanned ONCE (the
  * word-frequency aggregate); every EM round is ONE distributed job over
  * the vocabulary-sized distinct-word frame — segment with the native
  * [[org.apache.spark.sql.graft.UnigramSegment]] expression (costs baked
  * as a bounded literal, ≤ SeedK + |alphabet| entries), explode tokens,
  * aggregate usage — whose result is a bounded driver collect (vocab-sized,
  * the Lloyd-centroid convention). Encoding never joins the corpus on
  * `word`: the final model broadcasts into the same expression map-side,
  * so the only encode shuffle is the per-doc re-aggregate (the
  * text_bpe_encode invariant).
  */
object Unigram {
  type Q = (SparkSession, String) => DataFrame

  /** Longest candidate token, in code points. */
  val MaxSub = 4
  /** Multi-char candidates seeded (plus every corpus character). */
  val SeedK = 48
  /** Viterbi-EM rounds (segment → re-count → prune). */
  val EmRounds = 2
  /** Oracle DP-chain unroll bound — the Spark learner REQUIRES the corpus
    * max word length to fit (the oracle would silently drop longer words;
    * the require turns that into a loud failure instead). Fixture max is
    * 8; 16 also covers ProfScale's ciphered replicas, whose per-copy
    * circular TEXT rotation merges one word pair at the seam (≤ 8+8
    * chars at any octave). Unused positions cost nothing: every p-CTE
    * filters len(word) >= p, so past the corpus max they are empty.
    */
  val MaxWordLen = 16

  /** JVM mirror of [[TextOps.log2MicroSql]] — exact fixed-point log2 in
    * micro-bits (x >= 1; truncating Long division equals floor on the
    * non-negative operands here, the `div`/`//` semantics both engines
    * apply).
    */
  private[graft] def log2Micro(x: Long): Long = {
    val i = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val p = 1L << i
    i * 1000000L + (x - p) * 1000000L / p
  }

  private[graft] def utf8Less(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** Learned model: (token, final count, cost micro-bits) plus the final
    * total (the UNK cost base). Memoized per fixture (bounded: |alphabet| +
    * SeedK rows).
    */
  private[graft] def learn(s: SparkSession, d: String): (Seq[(String, Long, Long)], Long) =
    learnFrom(s, d, trainOnly = false)

  /** Train-split variant (the novel-encode contract): the model is learned
    * on docs with doc_id % 10 != [[Bpe.NovelResidue]] only, so the held-out
    * slice is genuinely unseen text. Memoized under a distinct key.
    */
  private[graft] def learnTrain(s: SparkSession, d: String): (Seq[(String, Long, Long)], Long) =
    learnFrom(s, d, trainOnly = true)

  /** ProfScale's EM-scaling entry (VERDICT r15 #7): the same learner at
    * non-default (seedK, emRounds) — production SentencePiece vocabs are
    * 32k candidates over many more rounds, and the study measures which
    * term dominates (the per-round job floor vs the vocab-linear work).
    */
  private[graft] def learnScaled(s: SparkSession, d: String, seedK: Int,
      emRounds: Int): (Seq[(String, Long, Long)], Long) =
    learnFrom(s, d, trainOnly = false, seedK, emRounds)

  private def learnFrom(s: SparkSession, d: String, trainOnly: Boolean,
      seedK: Int = SeedK, emRounds: Int = EmRounds): (Seq[(String, Long, Long)], Long) = {
    val splitTag = if (trainOnly) ":train" else ""
    Artifact.memo("unigram", Sources.fixtureKey(d, "documents") +
      s":unigram:$MaxSub:$seedK:$emRounds$splitTag")(train(s, d, trainOnly, seedK, emRounds))
  }

  private def train(s: SparkSession, d: String, trainOnly: Boolean,
      seedK: Int, emRounds: Int): (Seq[(String, Long, Long)], Long) = {
    val docs0 = documents(s, d)
    val docs = if (trainOnly)
      docs0.where(pmod(col("doc_id"), lit(10L)) =!= lit(Bpe.NovelResidue))
    else docs0
    // one corpus scan; the loop below runs on this vocabulary-sized frame
    val wfPath = Sources.tmpUnique("uni_wf")
    Bpe.wordFreq(docs)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(wfPath)
    val wf = s.read.parquet(wfPath)
    val maxLen = wf.agg(max(length(col("word")))).collect()(0).getInt(0)
    require(maxLen <= MaxWordLen,
      s"fixture word length $maxLen exceeds the oracle DP unroll $MaxWordLen")
    // The novel-encode path runs the oracle DP over HELD-OUT words too, so
    // on a train-only learn the bound must hold over the full corpus — a
    // held-out word longer than MaxWordLen would be silently truncated by
    // the oracle's unroll, the exact divergence this require makes loud
    // (ADVICE r15). One cheap max-agg scan, paid once per memoized model.
    if (trainOnly) {
      val maxLenAll = docs0
        .select(explode(split(col("text"), " ")).as("word"))
        .agg(max(length(col("word")))).collect()(0).getInt(0)
      require(maxLenAll <= MaxWordLen,
        s"held-out word length $maxLenAll exceeds the oracle DP unroll $MaxWordLen")
    }
    // seed: occurrence-weighted substring counts, lengths 1..MaxSub
    // (empty-word guard: Spark sequence(1, 0) descends — the Bpe seed
    // precedent)
    val cand = wf
      .select(col("word"), col("freq"),
        explode(when(length(col("word")) >= 1, sequence(lit(1), length(col("word"))))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1), lit(MaxSub))).as("l"))
      .where(col("i") + col("l") - lit(1) <= length(col("word")))
      .select(col("word").substr(col("i"), col("l")).as("sub"), col("freq"))
      .groupBy("sub").agg(sum("freq").as("cnt"))
    // both collects are bounded: alphabet-sized / SeedK
    val chars = cand.where(length(col("sub")) === 1).orderBy("sub").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val multi = cand.where(length(col("sub")) >= 2)
      .orderBy(col("cnt").desc, col("sub").asc).limit(seedK).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val isChar = chars.map(_._1).toSet
    var vocab: Seq[(String, Long)] = chars ++ multi
    var tot = vocab.map(_._2).sum
    // EXACT fixpoint early-exit (VERDICT r15 #7, the measured conclusion):
    // EM rounds cannot batch (round r's costs are a function of round
    // r-1's usage — a strict serial dependency), and the scaling study
    // shows time is ~linear in ROUNDS and flat in SeedK (the per-round
    // job floor dominates; 0.25 s/round marginal at 16×, |vocab| stable
    // from round ~4 at every seed size). The honest production lever is
    // therefore convergence: if a round reproduces the previous (vocab,
    // counts) exactly, the costs — a pure function of them — are
    // unchanged, so every later segmentation and re-count is the
    // identity; breaking is result-identical to running all remaining
    // rounds. Default EmRounds=2 never triggers it (model unchanged);
    // the 32-round study point drops 8.7 → ~2.5 s.
    var converged = false
    for (_ <- 1 to emRounds if !converged) {
      val costs = vocab.map { case (t, c) => (t, log2Micro(tot) - log2Micro(c)) }
      val unk = log2Micro(tot)
      // ONE job per round: native Viterbi over distinct words, usage counts
      // weighted by word frequency; result bounded by |vocab|
      val usage = wf
        .select(explode(org.apache.spark.sql.graft.UnigramOps
          .unigram_segment(col("word"), costs, MaxSub, unk)).as("token"), col("freq"))
        .groupBy("token").agg(sum("freq").as("u")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val next = chars.map { case (t, _) => (t, math.max(usage.getOrElse(t, 0L), 1L)) } ++
        vocab.collect { case (t, _) if !isChar(t) && usage.getOrElse(t, 0L) >= 1L =>
          (t, usage(t)) }
      converged = next == vocab
      vocab = next
      tot = vocab.map(_._2).sum
    }
    val t0 = tot
    (vocab.map { case (t, c) => (t, c, log2Micro(t0) - log2Micro(c)) }, t0)
  }

  val queries: Map[String, Q] = Map(
    // The learned model — the shippable tokenizer artifact: every
    // surviving token with its final Viterbi-usage count and exact
    // fixed-point cost.
    "text_unigram_vocab" -> ((s, d) => {
      val (vocab, _) = learn(s, d)
      import s.implicits._
      vocab.toDF("token", "cnt", "cost_micro")
        .orderBy(col("cnt").desc, col("token").asc)
    }),

    // Viterbi encode of every document under the final model: per doc the
    // word count, subword count, and position-exact subword id stream
    // (ids: tokens in UTF-8 order from 2 — 0 PAD, 1 UNK reserved; UNK is
    // unreachable here because every corpus character survives pruning).
    // Map-side: the model rides inside the native expression + a literal
    // id map; the one shuffle is the doc_id re-aggregate.
    "text_unigram_encode" -> ((s, d) => {
      val (vocab, tot) = learn(s, d)
      val costs = vocab.map { case (t, _, cm) => (t, cm) }
      val ids = vocab.map(_._1).sortWith(utf8Less).zipWithIndex
        .map { case (t, i) => (t, i + 2L) }
      Sources.spreadScan(s, documents(s, d))
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .where(col("word") =!= "")
        // fused segment+id-map native pass (UNK=1 fallback inside;
        // unreachable on the training corpus since chars always survive
        // pruning). MEASURED plan-shape note: CollapseProject inlines the
        // DP column into both consumers below (size + render), so the DP
        // runs twice per word — but the single-reference alternative
        // (posexplode then aggregate 1.3M id rows) measured 3.6 s against
        // this shape's 1.7 s at sf0.1: the duplicated ~µs-scale DP is
        // cheaper than shuffling and collect_list-ing the exploded
        // stream. Kept deliberately; the same trade-off said the opposite
        // for BPE's 50µs interpreted fold (hence its spill).
        .withColumn("ids", org.apache.spark.sql.graft.UnigramOps
          .unigram_encode_ids(col("word"), costs, ids, MaxSub, log2Micro(tot)))
        .select(col("doc_id"), col("pos"),
          size(col("ids")).cast(LongType).as("n_sub"),
          expr("concat_ws(' ', transform(ids, x -> CAST(x AS STRING)))").as("ids_w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_sub"),
          collect_list(struct(col("pos"), col("ids_w"))).as("pid"))
        .withColumn("ids_str",
          expr("concat_ws(' ', transform(array_sort(pid), x -> x.ids_w))"))
        .select("doc_id", "n_tok", "n_sub", "ids_str")
        .orderBy("doc_id")
    }),

    // The pack capstone under THIS tokenizer (the pack_sequences_bpe
    // pattern on unigram ids): PackSeqLen training rows of Viterbi subword
    // ids. Same shard decomposition and three-level offsets — doc offset a
    // rangeBetween window over prior docs in shard, word offset a window
    // within doc, subword position its in-segmentation index. No standing
    // spill: the native DP derives the id streams map-side in the same
    // pass (contrast encodedCorpus, whose interpreted fold forced the BPE
    // spill). Measured plan note: an exploded-stream row_number
    // formulation (gpos as one shard window over id rows) was tried and
    // measured SLOWER (3.2 vs 2.2 s at sf0.1) — the word-level windows
    // run on 6× fewer rows than the exploded stream.
    // Unseen-text encode contract for THIS tokenizer family (the
    // text_bpe_encode_novel protocol on unigram-LM): the model is learned
    // on the TRAIN split (doc_id % 10 != Bpe.NovelResidue) and the
    // held-out docs are encoded under it, deterministically perturbed so
    // both novel populations are non-vacuous at every SF — 1-based word
    // positions p % 7 == 1 upper-cased (unseen CHARACTERS: the lowercase
    // fixture alphabet means every such code point takes the DP's
    // per-code-point UNK edge at cost log2µ(total) and maps to id 1) and
    // p % 7 == 4 reversed (novel WORDS over known characters — the
    // Viterbi path is built from train-learned tokens, the
    // subword-transfer case). Where BPE's novel path needed a
    // coalesce-to-UNK bolted onto the fold, the unigram DP carries its
    // own fallback edge natively (UnigramDp: out-of-vocab single code
    // points cost unkCostMicro) — the published advantage of the
    // unigram-LM family: open-vocabulary encode is part of the model, not
    // a patch. Map-side like every encoder here: model + id map ride in
    // the native expression, no corpus join, the one shuffle is the
    // per-doc re-aggregate over 10% of the corpus.
    "text_unigram_encode_novel" -> ((s, d) => {
      val (vocab, tot) = learnTrain(s, d)
      val costs = vocab.map { case (t, _, cm) => (t, cm) }
      val ids = vocab.map(_._1).sortWith(utf8Less).zipWithIndex
        .map { case (t, i) => (t, i + 2L) }
      Sources.spreadScan(s, documents(s, d)
        .where(pmod(col("doc_id"), lit(10L)) === lit(Bpe.NovelResidue)))
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word0")))
        // 1-based position rule mirrors the oracle's range(1, n+1)
        // enumeration; perturbation BEFORE the empty-token filter (the
        // text_bpe_encode_novel precedent — upper('')/'' stay '')
        .withColumn("word",
          when(pmod(col("pos") + lit(1), lit(7)) === 1, upper(col("word0")))
            .when(pmod(col("pos") + lit(1), lit(7)) === 4, reverse(col("word0")))
            .otherwise(col("word0")))
        .where(col("word") =!= "")
        .withColumn("ids", org.apache.spark.sql.graft.UnigramOps
          .unigram_encode_ids(col("word"), costs, ids, MaxSub, log2Micro(tot)))
        .select(col("doc_id"), col("pos"),
          size(col("ids")).cast(LongType).as("n_sub"),
          expr("size(filter(ids, x -> x = 1))").cast(LongType).as("n_unk_w"),
          expr("concat_ws(' ', transform(ids, x -> CAST(x AS STRING)))").as("ids_w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_sub"),
          sum("n_unk_w").as("n_unk"),
          collect_list(struct(col("pos"), col("ids_w"))).as("pid"))
        .withColumn("ids_str",
          expr("concat_ws(' ', transform(array_sort(pid), x -> x.ids_w))"))
        .select("doc_id", "n_tok", "n_sub", "n_unk", "ids_str")
        .orderBy("doc_id")
    }),

    "pack_sequences_unigram" -> ((s, d) => {
      val (vocab, tot) = learn(s, d)
      val costs = vocab.map { case (t, _, cm) => (t, cm) }
      val ids = vocab.map(_._1).sortWith(utf8Less).zipWithIndex
        .map { case (t, i) => (t, i + 2L) }
      val byWordInDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val priorDocsInShard = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Sources.spreadScan(s, documents(s, d))
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(TextOps.PackShards.toLong)).as("shard"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .where(col("word") =!= "")
        .withColumn("ids", org.apache.spark.sql.graft.UnigramOps
          .unigram_encode_ids(col("word"), costs, ids, MaxSub, log2Micro(tot)))
        .withColumn("n_sub", size(col("ids")).cast(LongType))
        .withColumn("woff", coalesce(sum("n_sub").over(byWordInDoc), lit(0L)))
        .withColumn("off", coalesce(sum("n_sub").over(priorDocsInShard), lit(0L)))
        .select(col("shard"), (col("off") + col("woff")).as("base"),
          posexplode(col("ids")).as(Seq("sidx", "id")))
        .withColumn("gpos", col("base") + col("sidx"))
        .withColumn("bin", expr(s"gpos div ${TextOps.PackSeqLen}"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_ids"),
          collect_list(struct(col("gpos"), col("id"))).as("gid"))
        .withColumn("ids_str",
          expr("concat_ws(' ', transform(array_sort(gid), x -> CAST(x.id AS STRING)))"))
        .select("shard", "bin", "n_ids", "ids_str")
        .orderBy("shard", "bin")
    })
  )

  // ---------------------------------------------------------------- oracle

  private def l2(x: String): String = TextOps.log2MicroSql(x, "//")

  /** One Viterbi DP chain under vocab CTE `vin` over the word frame `src`
    * (default the training word-frequency CTE): position CTEs
    * `${pre}p1..${pre}p$MaxWordLen` (argmin state per (word, prefix
    * length) — the window sort is the engine-mirrored tie-break) and the
    * final-state union `${pre}f` (word → seg at p = len(word)).
    */
  private def dpChain(pre: String, vin: String, src: String = "wf"): String = {
    val ps = (1 to MaxWordLen).map { p =>
      val branches = (1 to math.min(MaxSub, p)).map { l =>
        if (l == p)
          s"SELECT w.word, v.cost AS cost, 1 AS ntok, v.token AS seg " +
            s"FROM $src w JOIN $vin v ON v.token = substr(w.word, 1, $p) " +
            s"WHERE len(w.word) >= $p"
        else
          s"SELECT d.word, d.cost + v.cost AS cost, d.ntok + 1 AS ntok, " +
            s"d.seg || ' ' || v.token AS seg " +
            s"FROM ${pre}p${p - l} d JOIN $vin v ON v.token = substr(d.word, ${p - l + 1}, $l) " +
            s"WHERE len(d.word) >= $p"
      }.mkString(" UNION ALL ")
      s"${pre}p$p AS MATERIALIZED (SELECT word, cost, ntok, seg FROM " +
        s"(SELECT word, cost, ntok, seg, row_number() OVER " +
        s"(PARTITION BY word ORDER BY cost ASC, ntok ASC, seg ASC) AS rn " +
        s"FROM ($branches)) WHERE rn = 1)"
    }.mkString(", ")
    val fin = (1 to MaxWordLen)
      .map(p => s"SELECT word, seg FROM ${pre}p$p WHERE len(word) = $p")
      .mkString(" UNION ALL ")
    s"$ps, ${pre}f AS MATERIALIZED ($fin)"
  }

  /** Usage counts for round CTE prefix `pre`, then the next vocab `vout`
    * from previous vocab `vin`: chars (ch0) smoothed to max(usage, 1),
    * multi-char tokens kept iff used, costs re-derived from the new total.
    */
  private def emStep(pre: String, vin: String, vout: String): String =
    s"${pre}u AS (SELECT token, CAST(sum(freq) AS BIGINT) AS usage FROM " +
      s"(SELECT word, unnest(string_split(seg, ' ')) AS token FROM ${pre}f) t " +
      s"JOIN wf USING (word) GROUP BY token), " +
      s"${vout}_c AS MATERIALIZED (SELECT token, cnt FROM (" +
      s"SELECT c.token, CAST(greatest(coalesce(u.usage, 0), 1) AS BIGINT) AS cnt " +
      s"FROM ch0 c LEFT JOIN ${pre}u u USING (token) " +
      s"UNION ALL " +
      s"SELECT v.token, CAST(u.usage AS BIGINT) AS cnt FROM $vin v " +
      s"JOIN ${pre}u u USING (token) WHERE len(v.token) >= 2 AND u.usage >= 1)), " +
      s"$vout AS MATERIALIZED (SELECT token, cnt, ${l2("tot")} - ${l2("cnt")} AS cost " +
      s"FROM ${vout}_c, (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM ${vout}_c) t)"

  /** Shared chain: wf, substring seed, v0, then EmRounds × (DP + EM step).
    * The final vocab CTE is v$EmRounds. `docWhere` restricts the training
    * corpus (the novel-encode contract trains on the doc_id split); with
    * the default the generated SQL is byte-identical to the original
    * single-corpus chain.
    */
  private[graft] def modelCtes: String = modelCtesWhere("")

  private def modelCtesWhere(docWhere: String): String = {
    val sb = new StringBuilder
    val filt = if (docWhere.isEmpty) "" else s" WHERE $docWhere"
    sb ++= "wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
      s"(SELECT unnest(string_split(text, ' ')) AS word FROM documents$filt) GROUP BY word), "
    sb ++= "cand AS MATERIALIZED (SELECT sub, CAST(sum(freq) AS BIGINT) AS cnt FROM " +
      "(SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS sub, freq " +
      "FROM wf, unnest(range(1, len(word) + 1)) AS u(i), " +
      s"unnest(range(1, ${MaxSub + 1})) AS v(l) " +
      "WHERE i + l - 1 <= len(word)) GROUP BY sub), "
    sb ++= "ch0 AS MATERIALIZED (SELECT sub AS token, cnt FROM cand WHERE len(sub) = 1), "
    sb ++= "v0_c AS MATERIALIZED (SELECT token, cnt FROM ch0 UNION ALL " +
      "SELECT sub AS token, cnt FROM (SELECT sub, cnt FROM cand WHERE len(sub) >= 2 " +
      s"ORDER BY cnt DESC, sub ASC LIMIT $SeedK)), "
    sb ++= s"v0 AS MATERIALIZED (SELECT token, cnt, ${l2("tot")} - ${l2("cnt")} AS cost " +
      "FROM v0_c, (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM v0_c) t)"
    for (r <- 1 to EmRounds) {
      sb ++= ", " + dpChain(s"e$r", s"v${r - 1}")
      sb ++= ", " + emStep(s"e$r", s"v${r - 1}", s"v$r")
    }
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "text_unigram_vocab" ->
      (s"WITH $modelCtes " +
        s"SELECT token, cnt, cost AS cost_micro FROM v$EmRounds " +
        "ORDER BY cnt DESC, token ASC"),

    "text_unigram_encode" ->
      (s"WITH $modelCtes, ${dpChain("enc", s"v$EmRounds")}, " +
        "vid AS (SELECT token, CAST(row_number() OVER (ORDER BY token ASC) + 1 AS BIGINT) AS id " +
        s"FROM v$EmRounds), " +
        "wsub AS (SELECT t.word, " +
        "string_agg(CAST(vid.id AS VARCHAR), ' ' ORDER BY t.tpos) AS ids_w, " +
        "CAST(count(*) AS BIGINT) AS n_sub FROM " +
        "(SELECT word, unnest(string_split(seg, ' ')) AS token, " +
        "unnest(range(1, len(string_split(seg, ' ')) + 1)) AS tpos FROM encf) t " +
        "JOIN vid USING (token) GROUP BY t.word), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word, " +
        "unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM documents) " +
        "SELECT doc_id, count(*) AS n_tok, CAST(sum(n_sub) AS BIGINT) AS n_sub, " +
        "string_agg(ids_w, ' ' ORDER BY pos) AS ids_str " +
        "FROM tok JOIN wsub USING (word) GROUP BY doc_id ORDER BY doc_id"),

    // the text_bpe_encode_novel oracle protocol on the unigram chain: the
    // model CTEs train-filter, the held-out token stream perturbs at the
    // same 1-based positions, and the DP runs over the DISTINCT novel
    // words under vnovel = final vocab ∪ (unseen single chars at the UNK
    // cost log2µ(total)) — exactly the native DP's per-code-point
    // fallback edge. Ids come from the TRAIN vocab only (LEFT JOIN,
    // coalesce to UNK=1), so an unseen char maps to 1 on both engines.
    "text_unigram_encode_novel" ->
      (s"WITH ${modelCtesWhere(s"doc_id % 10 != ${Bpe.NovelResidue}")}, " +
        "nt AS MATERIALIZED (SELECT doc_id, pos, word FROM (" +
        "SELECT doc_id, pos, CASE WHEN pos % 7 = 1 THEN upper(word0) " +
        "WHEN pos % 7 = 4 THEN reverse(word0) ELSE word0 END AS word FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS word0, " +
        "unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos " +
        s"FROM documents WHERE doc_id % 10 = ${Bpe.NovelResidue})) WHERE word <> ''), " +
        "nw AS MATERIALIZED (SELECT DISTINCT word FROM nt), " +
        s"unkt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM v$EmRounds), " +
        "unkch AS (SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS token " +
        "FROM nw, unnest(range(1, len(word) + 1)) AS u(i) " +
        "WHERE substr(word, CAST(i AS INT), 1) NOT IN " +
        s"(SELECT token FROM v$EmRounds)), " +
        s"vnovel AS MATERIALIZED (SELECT token, cost FROM v$EmRounds " +
        s"UNION ALL SELECT token, ${l2("tot")} AS cost FROM unkch, unkt), " +
        s"${dpChain("enc", "vnovel", "nw")}, " +
        "vid AS (SELECT token, CAST(row_number() OVER (ORDER BY token ASC) + 1 AS BIGINT) AS id " +
        s"FROM v$EmRounds), " +
        "wsub AS (SELECT t.word, " +
        "string_agg(CAST(coalesce(vid.id, 1) AS VARCHAR), ' ' ORDER BY t.tpos) AS ids_w, " +
        "CAST(count(*) AS BIGINT) AS n_sub, " +
        "CAST(sum(CASE WHEN vid.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk " +
        "FROM (SELECT word, unnest(string_split(seg, ' ')) AS token, " +
        "unnest(range(1, len(string_split(seg, ' ')) + 1)) AS tpos FROM encf) t " +
        "LEFT JOIN vid USING (token) GROUP BY t.word) " +
        "SELECT doc_id, count(*) AS n_tok, CAST(sum(n_sub) AS BIGINT) AS n_sub, " +
        "CAST(sum(n_unk) AS BIGINT) AS n_unk, " +
        "string_agg(ids_w, ' ' ORDER BY pos) AS ids_str " +
        "FROM nt JOIN wsub USING (word) GROUP BY doc_id ORDER BY doc_id"),

    // the pack_sequences_bpe oracle pattern over the unigram id streams:
    // wid (word -> in-segmentation position + id) from the final DP chain,
    // then the identical three-level offset windows
    "pack_sequences_unigram" ->
      (s"WITH $modelCtes, ${dpChain("enc", s"v$EmRounds")}, " +
        "vid AS (SELECT token, CAST(row_number() OVER (ORDER BY token ASC) + 1 AS BIGINT) AS id " +
        s"FROM v$EmRounds), " +
        "wid AS (SELECT t.word, CAST(t.tpos AS BIGINT) AS spos, vid.id FROM " +
        "(SELECT word, unnest(string_split(seg, ' ')) AS token, " +
        "unnest(range(1, len(string_split(seg, ' ')) + 1)) AS tpos FROM encf) t " +
        "JOIN vid USING (token)), " +
        "wn AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub FROM wid GROUP BY word), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word, " +
        "unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM documents), " +
        "dn AS (SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS d_sub " +
        "FROM tok JOIN wn USING (word) GROUP BY doc_id), " +
        s"do_ AS (SELECT doc_id, doc_id % ${TextOps.PackShards} AS shard, " +
        "CAST(coalesce(sum(d_sub) OVER (PARTITION BY doc_id % " +
        s"${TextOps.PackShards} ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM dn), " +
        "wo AS (SELECT t.doc_id, t.pos, t.word, CAST(coalesce(sum(wn.n_sub) OVER " +
        "(PARTITION BY t.doc_id ORDER BY t.pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS woff " +
        "FROM tok t JOIN wn ON t.word = wn.word), " +
        "g AS (SELECT do_.shard, do_.off + wo.woff + wid.spos - 1 AS gpos, wid.id " +
        "FROM wo JOIN do_ USING (doc_id) JOIN wid ON wo.word = wid.word) " +
        s"SELECT shard, gpos // ${TextOps.PackSeqLen} AS bin, count(*) AS n_ids, " +
        "string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS ids_str " +
        "FROM g GROUP BY shard, bin ORDER BY shard, bin")
  )
}
