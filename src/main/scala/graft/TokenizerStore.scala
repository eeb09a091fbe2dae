package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Tables._

/** Cross-session persisted TOKENIZER artifacts (VERDICT r17 #1 — the
  * KmvStore/AnnIndex/GraphAnnIndex convention applied to the learned
  * vocabularies): every encode key previously re-learned its vocab per
  * process (memoSpilled but process-local), while production pipelines
  * tokenize with a FROZEN artifact — the merge table / unigram model is
  * trained once, versioned, and shipped to every encode job. These stores
  * make that the engine's shape: the build writes the learned tables to a
  * stable parquet layout keyed by the fixture fingerprint AND every learn
  * geometry dial, completion marker last; the frozen encode keys read ONLY
  * the store (a bounded vocabulary-sized driver collect — the tokenizer is
  * broadcast into the encode expressions, never joined against the corpus)
  * and reproduce the in-process encoders row for row.
  *
  * Layouts:
  *   graft_bpe_store/<fixture>_<hex64>/merges/  (rank, s1, s2, merged, pair_count)
  *                                    /vocab/   (sym, id)
  *                                    /_BPE_OK  — marker, written LAST
  *   graft_uni_store/<fixture>_<hex64>/vocab/   (token, cnt, cost_micro)
  *                                    /_UNI_OK
  * The unigram total (the cost normalizer) is Σ cnt by the model's own
  * definition, so the vocab table alone IS the full artifact.
  *
  * At 100 TB the build runs once per corpus release on the training
  * cluster and the store lands in object storage; encode fleets read the
  * few-KB artifact at job start — the exact split these keys rehearse.
  */
object TokenizerStore {
  type Q = (SparkSession, String) => DataFrame

  /** Build invocations this process — the specs' proof that the frozen
    * encode paths never trigger a learn (the KmvStoreSpec convention).
    */
  private[graft] val bpeBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val uniBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val byteBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val retrainBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Every dial that can change the learned CONTENT is folded into the
    * root (the r17 code-review rule: a retune with the others fixed must
    * never serve a stale artifact). BpeLocalWordCap only switches the
    * serial/distributed regime — proven result-identical — but it costs
    * nothing to fold and removes the proof from the staleness argument.
    */
  def bpeRoot(d: String): String =
    Artifact.root("bpe_store", d, "documents")(
      "bpestore", Bpe.BpeMerges, Bpe.BpeBatchK, Bpe.BpeLocalWordCap)

  /** The byte-level family's store: merges only — the id space is
    * STRUCTURAL (byte value + 1, merge rank + 256), so there is no vocab
    * table to persist; the merge list IS the whole artifact, which is
    * exactly how GPT-2-family tokenizers ship (merges.txt + the fixed
    * byte alias table).
    */
  def byteRoot(d: String): String =
    // the byte family's learned content additionally depends on the
    // pretokenizer regex, the per-language perturbation table, and the
    // byte→alias rendering (code-review r18: a pretok-regex retune with
    // the merge dials fixed would otherwise serve a stale merge table —
    // the same omission class the r17 review caught on the gann key);
    // fold their raw rendered text, not a nested hash — the whole key is
    // hashed once, and a second 64-bit pre-fold would only narrow the
    // content fingerprint
    Artifact.root("bpeb_store", d, "documents")(
      "bpebytestore", Bpe.BpeMerges, Bpe.BpeBatchK, Bpe.BpeLocalWordCap,
      Bpe.BytePretokRe + "|" + Bpe.pertCaseSql + "|" +
        org.apache.spark.sql.graft.ByteAlias.aliasStr)

  def uniRoot(d: String): String =
    Artifact.root("uni_store", d, "documents")(
      "unistore", Unigram.MaxSub, Unigram.SeedK, Unigram.EmRounds)

  /** True if the store already existed (frozen-probe path). */
  def ensureBpe(s: SparkSession, d: String): Boolean =
    Artifact.ensure(bpeRoot(d), "_BPE_OK")(buildBpe(s, d).count())

  def ensureUni(s: SparkSession, d: String): Boolean =
    Artifact.ensure(uniRoot(d), "_UNI_OK")(buildUni(s, d).count())

  def ensureByte(s: SparkSession, d: String): Boolean =
    Artifact.ensure(byteRoot(d), "_BPEB_OK")(buildByte(s, d).count())

  /** Byte-level BPE store build: the merge table under the geometry-keyed
    * root, marker last; 1-row audit = merge count, total merged-pair
    * weight, and the summed byte-length of the merged tokens (the
    * structural-id space needs no vocab table, so the length checksum is
    * the content witness the id_sum plays for the char family).
    */
  def buildByte(s: SparkSession, d: String): DataFrame = {
    byteBuilds.incrementAndGet()
    val root = byteRoot(d)
    Artifact.publish(root, "_BPEB_OK") {
      Bpe.mergesFrameFrom(s, Bpe.learnBytes(s, d)).orderBy("rank")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/merges")
    }
    s.read.parquet(s"$root/merges")
      .agg(count(lit(1)).as("n_merges"),
        sum(col("pair_count")).cast(LongType).as("pair_weight"),
        sum(length(col("merged"))).cast(LongType).as("merged_len_sum"))
  }

  /** Build (or rebuild) the BPE store from the SAME learned frames the
    * in-process encoders use (so persisted and process-local artifacts are
    * bit-identical), marker last; returns a 1-row artifact summary — the
    * content-sensitive audit a tokenizer release job logs: merge count,
    * total merged-pair weight, vocabulary size, and the id-assignment
    * checksum (any id-map drift moves it).
    */
  def buildBpe(s: SparkSession, d: String): DataFrame = {
    bpeBuilds.incrementAndGet()
    val root = bpeRoot(d)
    import s.implicits._
    Artifact.publish(root, "_BPE_OK") {
      Bpe.mergesFrame(s, d).orderBy("rank")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/merges")
      Bpe.vocabIds(s, d).sortBy(_._1).toDF("sym", "id")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/vocab")
    }
    bpeSummary(s, root)
  }

  private def bpeSummary(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/merges")
      .agg(count(lit(1)).as("n_merges"),
        sum(col("pair_count")).cast(LongType).as("pair_weight"))
      .crossJoin(broadcast(s.read.parquet(s"$root/vocab")
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("id")).cast(LongType).as("id_sum"))))

  def buildUni(s: SparkSession, d: String): DataFrame = {
    uniBuilds.incrementAndGet()
    val root = uniRoot(d)
    import s.implicits._
    Artifact.publish(root, "_UNI_OK") {
      Unigram.learn(s, d)._1.toDF("token", "cnt", "cost_micro")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/vocab")
    }
    s.read.parquet(s"$root/vocab")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).cast(LongType).as("total_cnt"),
        sum(col("cost_micro")).cast(LongType).as("cost_sum"))
  }

  /** Identity hook where a post-explode round-robin spread WOULD go —
    * evaluated and rejected on measurement (code-review r18 raised it;
    * the octave answered): adding the repartition HERE shuffles the
    * exploded token stream (8M rows at 16×) for a measured net LOSS
    * (text_bpe_encode_frozen 3.0 → 11.9 s). OPTIMIZATION r21 found the
    * form that wins instead: [[Sources.spreadScan]] on the COMPACT doc
    * frame BEFORE the explode (corpus bytes cross the round-robin once;
    * the token stream still never transits a shuffle), which un-serializes
    * the single-row-group scan task that otherwise runs the whole
    * regex+fold chain on one core — text_bpe_encode_frozen 2.25 → 1.02 s
    * at sf0.1/local[32]. This hook stays as the documented NEGATIVE
    * result so nobody re-tries the exploded-stream variant.
    */
  private def spread(s: SparkSession, exploded: DataFrame): DataFrame = exploded

  def ensureRetrain(s: SparkSession, d: String): Boolean =
    Artifact.ensure(bpeRetrainRoot(d), "_BPE_OK")(retrainBpe(s, d).count())

  /** The frozen BPE encode over a caller-supplied documents frame (round
    * 19: the deleted-serving key anti-joins tombstoned docs BEFORE the
    * explode — the filter sits against the corpus scan, so deleted docs
    * never enter the tokenize fleet's work at all, not merely its output).
    */
  private def frozenBpeEncodeOf(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    val (ml, vocab) = frozenBpe(s, d)
    frozenEncodeWith(s, docs, ml, vocab)
  }

  /** The encode pipeline over an explicit (merge list, vocab) artifact —
    * shared by the base-store and retrained-store serving keys.
    */
  private def frozenEncodeWith(s: SparkSession, docs: DataFrame,
      ml: Seq[(String, String)], vocab: Seq[(String, Long)]): DataFrame = {
    // merge fold + id lookup fused in one native expression whose id
    // table is a plan CONSTANT — the literal map() this replaced grew the
    // expression tree (and codegen method size) linearly with |vocab|,
    // the ADVICE r18 production-scale wall; now plan size is
    // vocab-independent and the 50k-token story holds
    spread(s, Sources.spreadScan(s, docs)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(col("word") =!= ""))
      .withColumn("ids", org.apache.spark.sql.graft.BpeOps.bpe_apply_ids(
        col("word"), ml, vocab.toMap, byteStructural = false))
      .select(col("doc_id"), col("pos"),
        size(col("ids")).cast(LongType).as("n_sub"),
        expr("concat_ws(' ', transform(ids, x -> CAST(x AS STRING)))")
          .as("ids_w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_sub"),
        collect_list(struct(col("pos"), col("ids_w"))).as("pid"))
      .withColumn("ids_str",
        expr("concat_ws(' ', transform(array_sort(pid), x -> x.ids_w))"))
      .select("doc_id", "n_tok", "n_sub", "ids_str")
      .orderBy("doc_id")
  }

  /** Tombstone dir for DOCUMENT-level deletion, rule-keyed. The tokenizer
    * family's deletable unit is the document: a tombstoned doc must never
    * re-enter an encode fleet's output (this is enforceable at read time),
    * while the learned VOCAB retains its aggregate counts until the next
    * store build — the honest trained-artifact trade (same as any model:
    * unlearning ≠ filtering), documented rather than hidden; the rebuild
    * keys are the retrain path.
    */
  private[graft] def tombDir(root: String): String =
    s"$root/tombstones_${Similarity.delTag}"

  def ensureTombDocs(s: SparkSession, d: String): Boolean =
    Artifact.ensure(tombDir(bpeRoot(d)), "_TOMB_OK")(deleteDocs(s, d).count())

  /** The DELETE verb on the tokenizer store: persist tombstoned doc_ids
    * (the shared deterministic mid-slice rule over the document id range)
    * under the BPE store root. Output: the deletion-ledger audit.
    */
  def deleteDocs(s: SparkSession, d: String): DataFrame = {
    ensureBpe(s, d)
    val td = tombDir(bpeRoot(d))
    Artifact.publish(td, "_TOMB_OK") {
      val mx = documents(s, d).agg(max(col("doc_id")).as("mx"))
      documents(s, d).crossJoin(broadcast(mx))
        .where(col("doc_id") * Similarity.DelCutDen > col("mx") * Similarity.DelCutLoNum &&
               col("doc_id") * Similarity.DelCutDen <= col("mx") * Similarity.DelCutHiNum)
        .select("doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$td/ids")
    }
    s.read.parquet(s"$td/ids")
      .agg(count(lit(1)).as("n_tombstoned"), sum(col("doc_id")).as("id_sum"))
  }

  /** Retrained-store root — the RETRAIN half of the unlearning contract
    * the tombDir scaladoc documents: document-level deletion is enforced
    * at read time (the deleted-serving keys), but the learned VOCAB still
    * aggregates the deleted docs' counts until a rebuild. This root holds
    * that rebuild: the same learn geometry over documents MINUS the
    * tombstoned slice, keyed by every learn dial AND the delete rule (a
    * rule retune must never serve a stale retrained vocab — the r17
    * staleness convention).
    */
  def bpeRetrainRoot(d: String): String =
    Artifact.root("bpe_store", d, "documents", "retrained")("bpestore", Bpe.BpeMerges,
      Bpe.BpeBatchK, Bpe.BpeLocalWordCap, "retrain", Similarity.delTag)

  /** The RETRAIN verb: rebuild the BPE store from scratch on the
    * tombstone-filtered corpus (true unlearning for the tokenizer
    * artifact — deleted text stops influencing merge choices, counts,
    * and ids, not merely encode outputs). Same loop, same artifact
    * layout, marker last; the audit row is bpe_store_build's, recomputed
    * by the oracle over the FILTERED corpus end to end, so a single
    * deleted doc leaking into training moves pair_weight. At 100 TB this
    * is the periodic tokenizer-release job after a GDPR batch: corpus
    * scan + the vocabulary-bounded learn, delta-independent by design
    * (unlearning a merge table cannot be incremental — every argmax
    * after the first changed count is suspect).
    */
  def retrainBpe(s: SparkSession, d: String): DataFrame = {
    ensureTombDocs(s, d)
    retrainBuilds.incrementAndGet()
    val root = bpeRetrainRoot(d)
    import s.implicits._
    Artifact.publish(root, "_BPE_OK") {
      val tombs = s.read.parquet(s"${tombDir(bpeRoot(d))}/ids")
      val corpus = documents(s, d).join(tombs, Seq("doc_id"), "left_anti")
      val art = Bpe.learnLoop(s, corpus,
        Sources.fixtureKey(d, "documents") +
          s":bpe_retrain_${Similarity.delTag}:${Bpe.BpeMerges}",
        Bpe.BpeMerges, Bpe.BpeBatchK)
      Bpe.mergesFrameFrom(s, art).orderBy("rank")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/merges")
      Bpe.vocabIdsFrom(s, art).sortBy(_._1).toDF("sym", "id")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/vocab")
    }
    bpeSummary(s, root)
  }

  /** The frozen BPE merge list + id map, read from the persisted store —
    * bounded collects (|merges| and |vocab| rows), never a learn.
    */
  private def frozenBpe(s: SparkSession, d: String)
      : (Seq[(String, String)], Seq[(String, Long)]) = {
    ensureBpe(s, d)
    val root = bpeRoot(d)
    val ml = s.read.parquet(s"$root/merges").orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = s.read.parquet(s"$root/vocab").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    (ml, vocab)
  }

  val queries: Map[String, Q] = Map(
    // Always REBUILD the ARTIFACT (the ann_index_build/gann_index_build
    // convention); what a timed row measures depends on the in-process
    // learn memo: cross-session cold = learn + write, but under the
    // octave/bench protocol the learn is deliberately warm (ProfScale
    // learn-warms it; the vocab rows — text_bpe_vocab /
    // text_bpe_bytes_vocab / text_unigram_vocab — are where the
    // vocabulary-linear learn term is timed), so these rows isolate the
    // artifact write+audit path. The frozen keys below are the
    // probe-only consumers.
    "bpe_store_build" -> ((s, d) => buildBpe(s, d)),
    "unigram_store_build" -> ((s, d) => buildUni(s, d)),

    // Frozen-vocabulary encode: identical output contract to
    // text_bpe_encode, but the tokenizer comes from the persisted store
    // (builds == 0 on re-probe, TokenizerStoreSpec) and the plan is one
    // corpus scan + the per-doc re-aggregate — the merge fold AND the id
    // map both ride inside one native map-side expression
    // (bpe_apply_ids), so there is no learn aggregate, no spill read, no
    // join, and (round 19 session 2, closing ADVICE r18's scale bound) no
    // vocab-proportional literal tree: the id table is an expression
    // constant, so the plan is the same size at 40 tokens or 50k.
    "text_bpe_encode_frozen" -> ((s, d) =>
      frozenBpeEncodeOf(s, d, documents(s, d))),

    // Frozen BYTE-level encode: text_bpe_bytes_encode's exact output with
    // the merge table read from the persisted store — the GPT-2 serving
    // shape (frozen merges.txt + the fixed byte alias; ids are STRUCTURAL
    // so no vocab artifact exists to go stale). Same one-scan no-join
    // plan: codegen'd alias + native fold + literal min-rank map.
    "bpe_bytes_store_build" -> ((s, d) => buildByte(s, d)),
    "text_bpe_bytes_encode_frozen" -> ((s, d) => {
      ensureByte(s, d)
      val ml = s.read.parquet(s"${byteRoot(d)}/merges").orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      // merged tokens → ByteIdBase + min rank (collision rule unchanged);
      // single alias chars take the STRUCTURAL id inside the fused
      // expression (byteStructural — the instr(aliasStr, c) the SQL CASE
      // computed), so like the char path the plan carries no
      // vocab-proportional literal tree (ADVICE r18)
      val idMap = ml.groupBy { case (_, s1, s2) => s1 + s2 }
        .map { case (m, rs) => (m, Bpe.ByteIdBase + rs.map(_._1).min) }
      spread(s, Sources.spreadScan(s, Bpe.byteDocs(s, d))
        .select(col("doc_id"),
          posexplode(expr(s"regexp_extract_all(text, '${Bpe.BytePretokRe}', 0)"))
            .as(Seq("pos", "word0"))))
        .withColumn("ids", org.apache.spark.sql.graft.BpeOps.bpe_apply_ids(
          org.apache.spark.sql.graft.BpeOps.utf8_alias(col("word0")),
          ml.map { case (_, s1, s2) => (s1, s2) }, idMap, byteStructural = true))
        .select(col("doc_id"), col("pos"),
          size(col("ids")).cast(LongType).as("n_sub"),
          expr("concat_ws(' ', transform(ids, x -> CAST(x AS STRING)))")
            .as("ids_w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_sub"),
          collect_list(struct(col("pos"), col("ids_w"))).as("pid"))
        .withColumn("ids_str",
          expr("concat_ws(' ', transform(array_sort(pid), x -> x.ids_w))"))
        .select("doc_id", "n_tok", "n_sub", "ids_str")
        .orderBy("doc_id")
    }),

    // Frozen unigram encode: text_unigram_encode's exact output from the
    // persisted model — costs come from the stored cost_micro column, the
    // UNK normalizer is log2µ(Σ cnt) by the model's own definition, and
    // the id space is the same UTF-8-ordered assignment from 2.
    "text_unigram_encode_frozen" -> ((s, d) => {
      ensureUni(s, d)
      val rows = s.read.parquet(s"${uniRoot(d)}/vocab").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val costs = rows.map { case (t, _, cm) => (t, cm) }
      val tot = rows.map(_._2).sum
      val ids = rows.map(_._1).sortWith(Unigram.utf8Less).zipWithIndex
        .map { case (t, i) => (t, i + 2L) }
      spread(s, Sources.spreadScan(s, documents(s, d))
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .where(col("word") =!= ""))
        .withColumn("ids", org.apache.spark.sql.graft.UnigramOps
          .unigram_encode_ids(col("word"), costs, ids, Unigram.MaxSub,
            Unigram.log2Micro(tot)))
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

    "tokenizer_store_delete" -> (deleteDocs _),

    // the retrain verb (see [[retrainBpe]]) — the vocab-side repayment of
    // the deletion debt; oracle = the full merge chain re-learned by
    // DuckDB on the tombstone-filtered corpus
    "tokenizer_store_retrain" -> (retrainBpe _),

    // deleted-serving: the frozen encode with tombstoned docs anti-joined
    // at the corpus scan — a deleted doc's text never reaches the encode
    // expressions (GDPR for the tokenize fleet; the vocab-side debt is
    // documented at tombDir and repaid by the rebuild keys)
    "text_bpe_encode_frozen_deleted" -> ((s, d) => {
      ensureTombDocs(s, d)
      val tombs = s.read.parquet(s"${tombDir(bpeRoot(d))}/ids")
      frozenBpeEncodeOf(s, d,
        documents(s, d).join(tombs, Seq("doc_id"), "left_anti"))
    }),

    // retrained-serving: the encode fleet AFTER the retrain verb — the
    // surviving corpus tokenized with the RETRAINED store's merges/ids
    // (deleted text no longer shapes even the vocabulary). Genuinely a
    // different tokenizer on this fixture: deletion moved merges 14-16 at
    // every SF, so affected words segment differently than under the
    // base-vocab deleted encode — the spec pins that divergence.
    "text_bpe_encode_retrained" -> ((s, d) => {
      ensureRetrain(s, d)
      // the tombstones are read directly below — a warm retrain marker
      // does NOT imply an intact tombstone artifact (deleteDocs crashes
      // after deleting its marker, or the dir was cleaned independently); the
      // sibling deleted key ensures them, so must this one (code-review,
      // this session)
      ensureTombDocs(s, d)
      val root = bpeRetrainRoot(d)
      val ml = s.read.parquet(s"$root/merges").orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = s.read.parquet(s"$root/vocab").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val tombs = s.read.parquet(s"${tombDir(bpeRoot(d))}/ids")
      frozenEncodeWith(s,
        documents(s, d).join(tombs, Seq("doc_id"), "left_anti"), ml, vocab)
    })
  )

  val oracles: Map[String, String] = Map(
    // the merge chain's own counts/weights + the min-id vocab assignment
    // (the text_bpe_encode vocab CTE verbatim) — any drift in the learned
    // merges, the collision rule, or the id base moves a column
    "bpe_store_build" ->
      (s"WITH ${Bpe.roundCtes}, mall AS (" +
        (1 to Bpe.BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged, c FROM b$r")
          .mkString(" UNION ALL ") + "), " +
        "chars AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym ASC) + 1 AS BIGINT) AS id " +
        "FROM (SELECT DISTINCT sym FROM s0)), " +
        "vocab AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM " +
        "(SELECT sym, id FROM chars UNION ALL SELECT merged AS sym, " +
        "(SELECT count(*) FROM chars) + 1 + rank AS id FROM mall) GROUP BY sym) " +
        "SELECT (SELECT count(*) FROM mall) AS n_merges, " +
        "(SELECT CAST(sum(c) AS BIGINT) FROM mall) AS pair_weight, " +
        "(SELECT count(*) FROM vocab) AS n_vocab, " +
        "(SELECT CAST(sum(id) AS BIGINT) FROM vocab) AS id_sum"),

    "unigram_store_build" ->
      (s"WITH ${Unigram.modelCtes} " +
        "SELECT count(*) AS n_tokens, CAST(sum(cnt) AS BIGINT) AS total_cnt, " +
        s"CAST(sum(cost) AS BIGINT) AS cost_sum FROM v${Unigram.EmRounds}"),

    // merge chain counts/weights + the merged-token length checksum (the
    // byte family has no vocab table — ids are structural)
    "bpe_bytes_store_build" ->
      (s"WITH ${Bpe.byteRoundCtes}, mall AS (" +
        (1 to Bpe.BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged, c FROM b$r")
          .mkString(" UNION ALL ") + ") " +
        "SELECT count(*) AS n_merges, CAST(sum(c) AS BIGINT) AS pair_weight, " +
        "CAST(sum(len(merged)) AS BIGINT) AS merged_len_sum FROM mall"),

    // identical output contract ⇒ identical oracle (the sim_ann_ivfpq_probe
    // convention: the frozen probe reproduces the in-process operator)
    "text_bpe_encode_frozen" -> Bpe.oracles("text_bpe_encode"),
    "text_bpe_bytes_encode_frozen" -> Bpe.oracles("text_bpe_bytes_encode"),
    "text_unigram_encode_frozen" -> Unigram.oracles("text_unigram_encode"),

    // bpe_store_build's audit oracle with the whole merge chain trained on
    // documents minus the tombstoned slice — the same four columns, every
    // one sensitive to a deleted doc leaking into (or a kept doc missing
    // from) the retrain corpus
    "tokenizer_store_retrain" ->
      (s"WITH ${Bpe.roundCtesTrainedOn("NOT (" + Similarity.tombPredSql(
          "doc_id", "(SELECT max(doc_id) FROM documents)") + ")")}, mall AS (" +
        (1 to Bpe.BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged, c FROM b$r")
          .mkString(" UNION ALL ") + "), " +
        "chars AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym ASC) + 1 AS BIGINT) AS id " +
        "FROM (SELECT DISTINCT sym FROM s0)), " +
        "vocab AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM " +
        "(SELECT sym, id FROM chars UNION ALL SELECT merged AS sym, " +
        "(SELECT count(*) FROM chars) + 1 + rank AS id FROM mall) GROUP BY sym) " +
        "SELECT (SELECT count(*) FROM mall) AS n_merges, " +
        "(SELECT CAST(sum(c) AS BIGINT) FROM mall) AS pair_weight, " +
        "(SELECT count(*) FROM vocab) AS n_vocab, " +
        "(SELECT CAST(sum(id) AS BIGINT) FROM vocab) AS id_sum"),

    "tokenizer_store_delete" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_tombstoned, " +
       "CAST(sum(d.doc_id) AS BIGINT) AS id_sum " +
       "FROM documents d, (SELECT max(doc_id) AS mx FROM documents) m " +
       s"WHERE ${Similarity.tombPredSql("d.doc_id", "m.mx")}"),

    // the full retrained pipeline end to end: the merge chain LEARNED on
    // the tombstone-filtered corpus, the vocab derived from it, and the
    // encode tail scanning only the surviving docs — a deleted doc
    // leaking into either the learn or the encode moves the hash
    "text_bpe_encode_retrained" -> {
      val notTomb = "NOT (" + Similarity.tombPredSql(
        "doc_id", "(SELECT max(doc_id) FROM documents)") + ")"
      s"WITH ${Bpe.roundCtesTrainedOn(notTomb)}, " +
        "mtab AS (" +
        (1 to Bpe.BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged FROM b$r")
          .mkString(" UNION ALL ") + "), " +
        "chars AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym ASC) + 1 AS BIGINT) AS id " +
        "FROM (SELECT DISTINCT sym FROM s0)), " +
        "vocab AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM " +
        "(SELECT sym, id FROM chars UNION ALL SELECT merged AS sym, " +
        "(SELECT count(*) FROM chars) + 1 + rank AS id FROM mtab) GROUP BY sym), " +
        "wsub AS (SELECT word, string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY pos) AS ids_w, " +
        s"CAST(count(*) AS BIGINT) AS n_sub FROM s${Bpe.BpeMerges} JOIN vocab v USING (sym) GROUP BY word), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word, " +
        "unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos " +
        s"FROM documents WHERE $notTomb) " +
        "SELECT doc_id, count(*) AS n_tok, CAST(sum(n_sub) AS BIGINT) AS n_sub, " +
        "string_agg(ids_w, ' ' ORDER BY pos) AS ids_str " +
        "FROM tok JOIN wsub USING (word) GROUP BY doc_id ORDER BY doc_id"
    },

    // the frozen-encode oracle, wrapped: per-doc output rows survive iff
    // the doc is not tombstoned (the encode itself is unchanged — one
    // output row per doc makes the outer filter exact)
    "text_bpe_encode_frozen_deleted" ->
      ("SELECT doc_id, n_tok, n_sub, ids_str FROM (" +
       Bpe.oracles("text_bpe_encode") + ") t, " +
       "(SELECT max(doc_id) AS mx FROM documents) m " +
       s"WHERE NOT (${Similarity.tombPredSql("t.doc_id", "m.mx")}) " +
       "ORDER BY doc_id")
  )
}
