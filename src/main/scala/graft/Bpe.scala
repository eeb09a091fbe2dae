package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Byte-pair-encoding vocabulary learning + subword encoding (VERDICT r12
  * #2 — the real-pipeline replacement for the word-level top-24 toy behind
  * `text_vocab_encode`). Classic corpus-level BPE: seed every distinct word
  * as its character sequence, then for [[BpeMerges]] rounds merge the
  * highest-weighted adjacent symbol pair ((count DESC, pair ASC) tie-break,
  * counts weighted by word frequency), greedy leftmost non-overlapping
  * within each word.
  *
  * Scale shape: the corpus is scanned ONCE (the word-frequency aggregate);
  * the merge loop then iterates on the distinct-WORD symbol frame —
  * vocabulary-sized (10^6-10^7 types at 100 TB), never corpus-sized. Each
  * round is one window pass (partitioned by word — a stable partitioning
  * reused across rounds) plus one pair-count aggregate whose argmax is a
  * bounded 1-row driver collect (the Lloyd-centroid precedent); the merged
  * frame spills per round (pagerank's pattern) so round r reads round r-1's
  * parquet instead of recomputing the whole chain. Encoding never joins the
  * corpus on `word`: the 16-row merge table compiles into a map-side
  * aggregate() fold chain (exactly the production shape — tokenizers ship
  * the merge list, not a word table), so the only encode shuffle is the
  * final per-doc re-aggregate.
  *
  * Greedy-equivalence note (spec-pinned): the learning loop selects merge
  * sites via island arithmetic on candidate runs (select odd ranks within
  * each maximal run of consecutive candidates — runs only arise for s1==s2
  * pairs); the encoder's left fold merges when the accumulator's last
  * element is s1 and the current element is s2. Both implement leftmost
  * non-overlapping matching: a fold-merged token (= s1+s2) can never equal
  * s1 again (s2 nonempty), so a merge never chains onto its own output
  * within a round, and disjoint occurrences re-merge exactly like the
  * island rule's odd ranks.
  */
object Bpe {
  type Q = (SparkSession, String) => DataFrame

  /** Number of deterministic merge rounds. Measured against the fixture:
    * every SF supplies >= 24 non-empty best pairs (BpeSpec pins supply
    * >= BpeMerges at sf0.001), so the loop never starves; interpolated
    * into the oracle so query and oracle cannot desynchronize.
    */
  val BpeMerges = 16

  /** Max merges selected per distributed round (VERDICT r13 #1).
    * Production vocabularies are 30k-100k merges and the serial loop pays
    * 2 driver-synchronized jobs per merge — the per-round fixed cost
    * (driver round-trip, job scheduling, spill) dominates at that count
    * regardless of corpus size. Batching selects a PREFIX of the sorted
    * pair list that is provably serial-equivalent (see [[selectBatch]]),
    * so the merge table is bit-identical to the one-merge-per-round
    * algorithm the oracle's CTE chain implements, while the driver
    * round-trip count drops ~BatchK-fold.
    */
  val BpeBatchK = 16

  /** Serial-equivalent batch selection. Input: the (count DESC, s1 ASC,
    * s2 ASC)-sorted head of the pair table (batchK+1 rows suffice — the
    * walk below never looks past position batchK+1). Rule:
    *
    *  1. Walk the sorted prefix, selecting pairs whose symbols are
    *     disjoint from every previously selected pair; HALT at the first
    *     conflicting pair (or after batchK selections).
    *  2. Let c_stop = the count at the halt position (-1 if the list was
    *     exhausted first, i.e. no unseen pair exists).
    *  3. Keep the longest PREFIX of the selections in which every pair
    *     after the argmax has count > c_stop AND count > c_self/2 for
    *     every PRIOR kept self-pair (s,s) with count c_self (checked as
    *     2·count > c_self — counts are integers).
    *
    * Why this equals serial (the proof the BpeSpec 300-corpus property
    * pins): for the j-th kept pair s_j, the prior kept merges are
    * symbol-disjoint so count(s_j) is unchanged, and serial round j's
    * competitors are (a) unselected pre-batch pairs — at or after the halt
    * position, so count <= c_stop < count(s_j) — and (b) pairs NEWLY
    * created by prior kept merges (s1,s2)→m. For s1 != s2 every new
    * (x,m)/(m,y)/(m,m') occurrence was an (x,s1)/(s2,y)/(s2,s1') adjacency
    * pre-batch, a pair that shares a symbol with a kept merge, hence
    * unselected and <= c_stop. For a SELF-pair (s,s)→m that ancestor
    * argument fails — (m,m)/(m,s) descend from the kept pair ITSELF
    * (e.g. (a,a,21) spawns (aa,aa,9), which outranked an naively-kept
    * (b,c,7) in the property test) — but within each maximal run of L
    * consecutive s's the merge takes floor(L/2) sites leaving at most
    * floor(L/2)-1 (m,m) and (L odd) one trailing (m,s) adjacency, both
    * <= (L-1)/2, so summed over the corpus each descendant counts
    * <= c_self/2; the 2·count > c_self guard clears them strictly. Hence
    * serial round j's argmax is exactly s_j — strictly, never by
    * tie-break (a tying new pair could sort lexicographically earlier).
    * The trim must be a PREFIX cut, not a filter: a dropped selection
    * stays unmerged with count >= every later selection's, so it (not
    * they) would win the next serial round. (With no kept self-pairs both
    * conditions are monotone in the walk's non-increasing counts, so
    * prefix == filter; the guard makes it explicit.)
    *
    * The conflict set includes each selection's OUTPUT token s1+s2, not
    * just its operands: a later candidate naming that token as a symbol
    * (possible when the string already exists as a symbol from an earlier
    * round) would, under serial, be recounted AFTER the new tokens exist —
    * its pre-batch count is stale, so it must halt the walk.
    *
    * OUTPUT-COLLISION tightening (ADVICE r14): when a kept merge's output
    * string m = s1+s2 ALREADY EXISTS — as a prior-ROUND merge output still
    * live in the corpus (`priorOutputs`), or as an earlier symbol/output of
    * THIS batch (`used` hit at selection time) — a competitor pair (m,z)
    * can combine its stale pre-batch population (counted in this round's
    * table, <= c_stop because (m,z) shares m with the kept merge and so
    * was never selected) with occurrences NEWLY created by the kept merge
    * (<= c_stop by the ancestor argument above). The two populations sum:
    * serial round j could see (m,z) at up to 2·c_stop (and a self-pair
    * descendant at up to c_stop + c_self/2), which the plain c > c_stop
    * trim does not dominate. Whether global greedy merging can actually
    * realize the coexistence is unproven either way — a 350k-corpus random
    * search found zero reachable collisions, and the minimal cases reduce
    * to a contradiction (the two decompositions of a colliding string,
    * e.g. [aa,b] vs [a,ab] for "aab", require the constituent merges
    * (a,a)/(a,b) to have fired in OPPOSITE global orders, but the merge
    * sequence is totally ordered and applies globally) — so the trim is
    * CONSERVATIVE: once any kept pair's output collides, every LATER keep
    * additionally requires c > 2·c_stop and 2·c > 2·c_stop + c_self — an
    * earlier prefix cut is always serial-safe (the dropped selections are
    * simply re-derived by the next rounds' exact counts). Pre-collision
    * keeps are unaffected: a competitor only gains its new population
    * AFTER the colliding merge fires. Single-char alphabet symbols can
    * never collide (every output is >= 2 code points), so `priorOutputs`
    * — the accumulated merge-output strings — is exactly the multi-char
    * symbol universe and no corpus scan is needed.
    */
  private[graft] def selectBatch(
      sortedHead: Seq[(String, String, Long)], batchK: Int,
      priorOutputs: Set[String] = Set.empty)
      : Seq[(String, String, Long)] = {
    val sel = scala.collection.mutable.ArrayBuffer[(String, String, Long, Boolean)]()
    val used = scala.collection.mutable.Set[String]()
    var cStop = -1L
    var halted = false
    val it = sortedHead.iterator
    while (!halted && sel.length < batchK && it.hasNext) {
      val (s1, s2, c) = it.next()
      if (used(s1) || used(s2)) { cStop = c; halted = true }
      else {
        val outTok = s1 + s2
        val collides = used(outTok) || priorOutputs(outTok)
        sel += ((s1, s2, c, collides))
        used += s1; used += s2; used += outTok
      }
    }
    if (!halted && it.hasNext) cStop = it.next()._3
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var selfCap = -1L // max count among kept self-pairs so far
    var strict = false // an already-kept pair's output collided
    var ok = true
    for ((s1, s2, c, collides) <- sel if ok) {
      val baseOk = c > cStop && 2L * c > selfCap
      val strictOk = !strict || (c > 2L * cStop && 2L * c > 2L * cStop + selfCap)
      if (out.isEmpty || (baseOk && strictOk)) {
        out += ((s1, s2, c))
        if (s1 == s2) selfCap = math.max(selfCap, c)
        if (collides) strict = true
      } else ok = false
    }
    out.toSeq
  }

  private[graft] def wordFreq(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Runs the learning loop on the full fixture corpus. */
  private def learn(s: SparkSession, d: String): (String, String, String) =
    learnLoop(s, documents(s, d),
      Sources.fixtureKey(d, "documents") + s":bpe:$BpeMerges", BpeMerges, BpeBatchK)

  /** Held-out residue for the unseen-text encode contract (VERDICT r13 #2):
    * docs with doc_id % 10 == NovelResidue are EXCLUDED from training and
    * encoded as novel text by `text_bpe_encode_novel`.
    */
  val NovelResidue = 7L

  /** Runs the learning loop on the TRAINING split only (doc_id % 10 !=
    * [[NovelResidue]]) — the tokenizer artifact the novel-encode contract
    * probes. Same loop, separate spill key (the two merge tables are
    * different artifacts).
    */
  private def learnTrain(s: SparkSession, d: String): (String, String, String) =
    learnLoop(s,
      documents(s, d).where(pmod(col("doc_id"), lit(10L)) =!= lit(NovelResidue)),
      Sources.fixtureKey(d, "documents") + s":bpe_train10:$BpeMerges", BpeMerges, BpeBatchK)

  /** GPT-2-family regex pre-tokenizer (VERDICT r15 #2), simplified to the
    * three alternatives this corpus can exercise: letter runs, digit runs,
    * and punctuation runs, each with its LEADING SPACE attached (" the" is
    * a different pretoken than "the" — the published byte-level design
    * decision that lets the vocabulary encode word boundaries without a
    * whitespace token), plus a trailing lone-space alternative so the
    * tokenization is LOSSLESS on space runs (code-review r16: without it
    * "a  b" dropped the second space and decode(encode(x)) lost bytes —
    * the exact contract byte-level BPE exists to keep). GPT-2 handles
    * this with `\s+(?!\S)`, but RE2 (the DuckDB oracle's engine) has no
    * lookahead — the lone-space form is equivalent on this alphabet:
    * alternatives match in order, so a space followed by a token is
    * always consumed as that token's leading space, and only runs/
    * trailing spaces fall through to the lone-space match, one byte per
    * pretoken. Every byte class is covered ⇒ concat(pretokens) == input
    * for ANY input (ByteBpeSpec pins space runs + trailing spaces). Same
    * semantics under Java regex (Spark) and RE2: no lookarounds, no
    * escapes, no quotes.
    */
  val BytePretokRe = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| "

  /** Deterministic multi-byte perturbation of the documents corpus for the
    * BYTE-level tokenizer family (VERDICT r16 #1): the fixture text is
    * ASCII-transliterated (lowercase a–y + space at every SF), so the
    * byte-level keys re-inflect it per language — accented Latin for
    * de/fr/es (2-byte UTF-8), CJK for zh (3-byte), a mathematical-alphabet
    * letter for en (4-byte, supplementary plane) — exercising every UTF-8
    * length class through the GPT-2 alias machinery. One definition site:
    * [[pertCaseSql]] renders this table as a CASE/replace expression whose
    * text is valid in BOTH Spark and DuckDB, so query and oracle perturb
    * identically by construction. The char-level tokenizer keys keep the
    * raw corpus (their contract predates the byte family and their merge
    * tables are a separate artifact).
    */
  private[graft] val BytePerturb: Seq[(String, Seq[(String, String)])] = Seq(
    "zh" -> Seq("e" -> "中", "o" -> "文"),
    "de" -> Seq("u" -> "ü", "s" -> "ß"),
    "fr" -> Seq("e" -> "é", "c" -> "ç"),
    "es" -> Seq("n" -> "ñ", "a" -> "á"),
    "en" -> Seq("w" -> "𝓌"))

  /** [[BytePerturb]] as engine-portable SQL (plain CASE + nested replace —
    * identical semantics in Spark and DuckDB; no quotes/backslashes in the
    * replacement table, so no escaping question arises).
    */
  private[graft] def pertCaseSql: String = {
    val whens = BytePerturb.map { case (lang, reps) =>
      val inner = reps.foldLeft("text") { case (e, (f, t)) =>
        s"replace($e, '$f', '$t')" }
      s"WHEN lang = '$lang' THEN $inner"
    }.mkString(" ")
    s"CASE $whens ELSE text END"
  }

  /** The byte family's corpus: documents with [[pertCaseSql]] applied. */
  private[graft] def byteDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("lang"),
      expr(pertCaseSql).as("text"))

  /** The GPT-2 alias table escaped for embedding in a single-quoted SQL
    * literal (it contains `'` — byte 39 is printable and maps to itself;
    * Spark additionally treats backslash as an escape, hence [[sqlLit]]).
    */
  private[graft] def aliasLitSpark: String =
    sqlLit(org.apache.spark.sql.graft.ByteAlias.aliasStr)
  private[graft] def aliasLitDuck: String =
    org.apache.spark.sql.graft.ByteAlias.aliasStr.replace("'", "''")

  /** Pretoken-frequency frame for the byte-level learner — [[wordFreq]]
    * with the regex pre-tokenizer in place of the whitespace split, each
    * pretoken rendered into GPT-2 ALIAS SPACE (one alias char per UTF-8
    * octet — [[org.apache.spark.sql.graft.ByteAlias]]). Everything
    * downstream (seeding, merges, symbols) lives in alias space, which is
    * exactly the published byte-level design: the merge loop stays
    * byte-agnostic because the alias rendering already IS the byte
    * decomposition.
    */
  private[graft] def byteWordFreq(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(expr(s"regexp_extract_all(text, '$BytePretokRe', 0)")).as("word0"))
      .select(org.apache.spark.sql.graft.BpeOps.utf8_alias(col("word0")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** BYTE-level BPE artifacts: the char-level [[learnLoopWf]] machinery
    * over alias-rendered regex pretokens of the [[byteDocs]] corpus. Since
    * round 17 the byte→symbol map is the published GPT-2 alias bijection
    * (not the old ASCII-only identity), so the family is total over
    * arbitrary UTF-8 — the multi-byte perturbation above exercises 2-, 3-
    * and 4-byte sequences end to end, and the old loud ASCII require is
    * gone because the contract it guarded no longer exists.
    */
  private[graft] def learnBytes(s: SparkSession, d: String): (String, String, String) =
    learnLoopWf(s, byteWordFreq(byteDocs(s, d)),
      Sources.fixtureKey(d, "documents") + s":bpe_bytes_u8:$BpeMerges", BpeMerges, BpeBatchK)

  /** The byte-level merge list (rank, s1, s2) — ByteBpeSpec's entry point. */
  private[graft] def byteMergeList(s: SparkSession, d: String): Seq[(Long, String, String)] =
    mergeListFrom(s, learnBytes(s, d))

  /** Byte-level id space: 0 = PAD, bytes 0–255 ↦ ids 1–256 STRUCTURALLY
    * (every possible input byte has an id whether or not the corpus ever
    * produced it — GPT-2's base-vocabulary design), merge rank r ↦ 256+r.
    * There is NO UNK id: any input text decomposes into bytes and every
    * byte is in-vocabulary, which is the whole point of byte-level BPE —
    * ByteBpeSpec pins that encoding never-seen characters yields ids with
    * zero fallbacks and exact round-trip.
    */
  val ByteIdBase = 256L

  /** The batched learning loop (VERDICT r13 #1); returns (mergesPath,
    * symsPath, wfPath). Each distributed round: one pair-count aggregate
    * whose sorted (batchK+1)-row head is a bounded driver collect,
    * [[selectBatch]] on the head (serial-equivalent — the proof above),
    * then ONE window pass applying every selected merge simultaneously,
    * spilled. Simultaneous application is exact because candidate spans of
    * distinct batch pairs are disjoint AND non-adjacent: an overlap or
    * adjacency between an A-candidate (sym, nxt) = (s1, s2) and a
    * B-candidate (t1, t2) would force a symbol equality (s2 = t1, s1 = t2,
    * …) that [[selectBatch]]'s used-set already rejected. Hence the
    * per-merge island arithmetic is untouched (runs of consecutive
    * candidates still arise only within one s1==s2 pair — two candidates of
    * DIFFERENT pairs at adjacent positions would need sym(p+1) to be both
    * s2 and t1) and the merged token at a selected start is simply
    * concat(sym, nxt). Driver-synchronized jobs drop from 2·nMerges to
    * 2·rounds, rounds ≈ nMerges / E[batch] (measured in DESIGN.md r14).
    */
  private[graft] def learnLoop(s: SparkSession, corpus: DataFrame, key: String,
      nMerges: Int, batchK: Int): (String, String, String) =
    learnLoopWf(s, wordFreq(corpus), key, nMerges, batchK)

  /** Word-type cap for the DRIVER learning regime (round 16 — the
    * CC/kcore/BFS two-regime pattern applied to tokenizer training): a
    * word-frequency frame at or under this many distinct types collects
    * to the driver (≤ a few MB of strings) and trains with the textbook
    * SERIAL loop — zero distributed jobs per round, where the loop pays
    * 2 driver-synchronized jobs (~0.6–1.0 s fixed floor each) per ROUND
    * regardless of frame size. Results are BIT-IDENTICAL: the batched
    * distributed loop is provably serial-equivalent (selectBatch), and
    * the driver regime IS serial — BpeSpec pins both regimes equal under
    * `-Dgraft.bpe.forceLoop`. Production 100 TB corpora carry 10⁶–10⁷
    * types and take the distributed loop; every fixture (and the ciphered
    * octave replicas) sits far below the cap, which is why the driver
    * regime owns the bench numbers — the r15 cold-top was exactly this
    * loop's job floor (text_bpe_encode 13.6 s cold, ~12 rounds × 2 jobs).
    */
  val BpeLocalWordCap = 200000L

  private def cpSeq(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  /** The textbook serial BPE loop on driver-side maps — one merge per
    * round, argmax by (count DESC, s1 ASC, s2 ASC), greedy leftmost
    * non-overlapping application (identical semantics to the windowed
    * island rule and the BpeApply fold — the spec-pinned equivalences).
    * Same loud supply require as the distributed loop.
    */
  private def serialLearn(wfMap: Seq[(String, Long)], nMerges: Int)
      : (Seq[(Long, String, String, Long)], Seq[(String, Long, String)]) = {
    var syms: Map[String, Seq[String]] =
      wfMap.map { case (w, _) => w -> cpSeq(w) }.toMap
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    while (merges.length < nMerges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, f) <- wfMap; s = syms(w); i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + f
      require(counts.nonEmpty,
        s"BPE pair supply exhausted after ${merges.length} merges < $nMerges (fixture too small)")
      // tie-break in UTF-8 BINARY order (the Unigram.utf8Less precedent,
      // code-review r16): the distributed loop's orderBy compares
      // UTF8String bytes and the oracle mirrors it — JVM String.compareTo
      // is UTF-16 code units, which inverts supplementary-plane vs
      // high-BMP symbols and would silently break the regimes'
      // bit-identity on a non-ASCII vocabulary
      def u8lt(a: String, b: String): Boolean =
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      val ((s1, s2), c) = counts.toSeq.sortWith { case (((a1, b1), n1), ((a2, b2), n2)) =>
        n1 > n2 || (n1 == n2 && (u8lt(a1, a2) ||
          (a1 == a2 && u8lt(b1, b2))))
      }.head
      merges += ((merges.length + 1L, s1, s2, c))
      syms = syms.map { case (w, sq) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < sq.length) {
          if (i + 1 < sq.length && sq(i) == s1 && sq(i + 1) == s2) {
            out += s1 + s2; i += 2
          } else { out += sq(i); i += 1 }
        }
        w -> out.toSeq
      }
    }
    val symRows = syms.toSeq.flatMap { case (w, sq) =>
      sq.zipWithIndex.map { case (sym, i) => (w, i + 1L, sym) } }
    (merges.toSeq, symRows)
  }

  /** [[learnLoop]] over an explicit word-frequency frame — the seam that
    * lets the BYTE-level learner feed regex pretokens (leading spaces and
    * all) through the identical merge machinery: every step below is
    * string-agnostic (seeding substr's any symbol string, pair counting
    * groups on it), so char-level and byte-level BPE share one loop and
    * one serial-equivalence proof. Two-regime (round 16): a vocabulary at
    * or under [[BpeLocalWordCap]] types trains driver-side ([[serialLearn]]
    * — bit-identical results, zero per-round jobs); `-Dgraft.bpe.forceLoop`
    * restores the distributed loop for specs and octaves, under a
    * DISTINCT spill key so the forced run actually executes (a shared key
    * would hand the spec the other regime's cached artifact). One learned
    * artifact per (process, key): merge table + final word-symbol frame,
    * parquet-spilled; the key carries the documents fixture fingerprint so
    * an in-place rewrite invalidates the memo.
    */
  private[graft] def learnLoopWf(s: SparkSession, wf0: DataFrame, key0: String,
      nMerges: Int, batchK: Int): (String, String, String) = {
    val forceLoop = java.lang.Boolean.getBoolean("graft.bpe.forceLoop")
    val key = if (forceLoop) key0 + ":loop" else key0
    Artifact.memo("bpe_learn", key)(learnSpills(s, wf0, key, forceLoop, nMerges, batchK))
  }

  /** The learn behind [[learnLoopWf]]: (merges, final syms, word-freq) spill paths. */
  private def learnSpills(s: SparkSession, wf0: DataFrame, key: String,
      forceLoop: Boolean, nMerges: Int, batchK: Int): (String, String, String) = {
    val wfPath = Sources.tmpUnique("bpe_wf")
    wf0.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(wfPath)
    if (!forceLoop) {
      val wfS = s.read.parquet(wfPath)
      val nTypes = wfS.count()
      if (nTypes <= BpeLocalWordCap) {
        import s.implicits._
        val wfMap = wfS.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val (merges, symRows) = serialLearn(wfMap, nMerges)
        val mergesPath = Sources.tmpUnique("bpe_merges")
        merges.toDF("rank", "s1", "s2", "pair_count")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(mergesPath)
        val symsPath = Sources.tmpUnique("bpe_syms_local")
        symRows.toDF("word", "pos", "sym")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(symsPath)
        System.err.println(
          s"[bpe] $key: ${merges.length} merges driver-side ($nTypes types)")
        return (mergesPath, symsPath, wfPath)
      }
    }
    val wf = s.read.parquet(wfPath)
    val w = Window.partitionBy("word").orderBy("pos")
    // seed: one row per (word, char position)
    var symsPath = Sources.tmpUnique("bpe_syms0")
    // sequence(1, 0) in Spark auto-steps DOWN to [1, 0] — an empty word
    // (split on consecutive spaces) would seed two ""-symbol rows here
    // while the oracle's range(1, len+1) yields none (code-review r13);
    // the empty-array guard makes both sides emit zero rows identically
    wf.select(col("word"),
        explode(when(length(col("word")) >= 1,
          sequence(lit(1L), length(col("word")).cast(LongType)))
          .otherwise(array().cast("array<bigint>"))).as("pos"))
      .select(col("word"), col("pos"),
        col("word").substr(col("pos").cast(IntegerType), lit(1)).as("sym"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(symsPath)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var round = 0
    while (merges.length < nMerges) {
      round += 1
      val syms = s.read.parquet(symsPath)
      // bounded driver collect: batchK+1 rows — the walk in selectBatch
      // never looks past position batchK+1 (the +1 row only supplies
      // c_stop when the walk fills the whole batch without a conflict)
      val head = syms
        .withColumn("nxt", lead("sym", 1).over(w))
        .where(col("nxt").isNotNull)
        .join(wf, "word")
        .groupBy(col("sym").as("s1"), col("nxt").as("s2"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("s1").asc, col("s2").asc)
        .limit(batchK + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      require(head.nonEmpty,
        s"BPE pair supply exhausted after ${merges.length} merges < $nMerges (fixture too small)")
      val batch = selectBatch(head, math.min(batchK, nMerges - merges.length),
        merges.map { case (_, s1, s2, _) => s1 + s2 }.toSet)
      batch.foreach { case (s1, s2, c) =>
        merges += ((merges.length + 1L, s1, s2, c)) }
      // greedy leftmost merge, all batch pairs in ONE pass: candidates =
      // positions starting any batch pair (at most one pair can match a
      // position — distinct pairs share no s1); within each maximal run of
      // consecutive candidates (possible only when s1==s2, see the
      // non-adjacency argument above) select odd ranks; drop the position
      // after each selected start; renumber densely for the next round
      val islandW = Window.partitionBy("word", "island")
      val candExpr = batch.map { case (s1, s2, _) =>
        col("sym") === lit(s1) && col("nxt") === lit(s2) }.reduce(_ || _)
      val next = syms
        .withColumn("nxt", lead("sym", 1).over(w))
        .withColumn("cand", coalesce(candExpr, lit(false)))
        .withColumn("crn",
          sum(when(col("cand"), 1L).otherwise(0L)).over(w))
        .withColumn("island", col("pos") - col("crn"))
        .withColumn("sel", col("cand") &&
          pmod(col("crn") - min(when(col("cand"), col("crn"))).over(islandW),
            lit(2L)) === 0L)
        .withColumn("psel", lag("sel", 1, false).over(w))
        .where(!col("psel"))
        .select(col("word"), col("pos").as("opos"),
          when(col("sel"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
        .withColumn("pos",
          row_number().over(Window.partitionBy("word").orderBy("opos")).cast(LongType))
        .select("word", "pos", "sym")
      val p = Sources.tmpUnique(s"bpe_syms$round")
      // the loop frame is vocabulary-sized (types, not tokens); bound the
      // spill's file count so the rounds don't scatter rounds×32 tiny
      // files. repartition, NOT coalesce (VERDICT r13 #3): coalesce
      // collapses the round's whole window+merge compute into ≤4 tasks,
      // while repartition pays one tiny round-robin shuffle on the
      // vocabulary-sized frame and leaves the compute at full parallelism
      // — the etl_compact_small_files distinction.
      next.repartition(4).write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      symsPath = p
    }
    System.err.println(
      s"[bpe] $key: ${merges.length} merges in $round rounds (batchK=$batchK)")
    val mergesPath = Sources.tmpUnique("bpe_merges")
    import s.implicits._
    merges.toSeq.toDF("rank", "s1", "s2", "pair_count")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(mergesPath)
    (mergesPath, symsPath, wfPath)
  }

  /** The learned merge table: (rank, s1, s2, merged, pair_count). */
  private[graft] def mergesFrame(s: SparkSession, d: String): DataFrame =
    mergesFrameFrom(s, learn(s, d))

  private[graft] def mergesFrameFrom(s: SparkSession, art: (String, String, String)): DataFrame =
    s.read.parquet(art._1)
      .select(col("rank"), col("s1"), col("s2"),
        concat(col("s1"), col("s2")).as("merged"), col("pair_count"))

  /** The final word → subword-symbol frame (word, pos, sym) after all
    * [[BpeMerges]] rounds — the training-side result the encoder's fold
    * must reproduce (BpeSpec pins the equivalence).
    */
  private[graft] def wordSymsFrame(s: SparkSession, d: String): DataFrame =
    s.read.parquet(learn(s, d)._2)

  /** Escape a string for a single-quoted SPARK SQL literal: quotes double,
    * and backslashes double too — Spark's parser treats backslash as an
    * escape in string literals under the default
    * escapedStringLiterals=false (ADVICE r16: byte-level pretokens make a
    * backslash-bearing merge symbol reachable on a richer corpus; without
    * this the map key would silently parse to a different string than the
    * bpe_apply output). DuckDB-side literals escape quotes only
    * ([[aliasLitDuck]]) — standard SQL strings there are backslash-inert.
    */
  private[graft] def sqlLit(x: String): String =
    x.replace("\\", "\\\\").replace("'", "''")

  /** Driver-side (rank, s1, s2) merge list — bounded (BpeMerges rows). */
  private[graft] def mergeList(s: SparkSession, d: String): Seq[(Long, String, String)] =
    mergeListFrom(s, learn(s, d))

  private def mergeListFrom(s: SparkSession, art: (String, String, String))
      : Seq[(Long, String, String)] =
    mergesFrameFrom(s, art).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  /** Vocabulary id map: 0=PAD, 1=UNK (reserved, unreachable — chars cover
    * every word), base characters sorted ASC from 2, merge tokens after
    * them in rank order; string collisions (a later merge reproducing an
    * existing token) take the MIN id on both engines. Bounded collect:
    * |chars| + BpeMerges rows.
    */
  private[graft] def vocabIds(s: SparkSession, d: String): Seq[(String, Long)] =
    vocabIdsFrom(s, learn(s, d))

  private[graft] def vocabIdsFrom(s: SparkSession, art: (String, String, String))
      : Seq[(String, Long)] = {
    // alphabet comes from learn()'s spilled word-frequency frame — a
    // vocabulary-sized parquet read, NOT a fresh corpus scan+shuffle per
    // encode-query construction (code-review r13); same empty-word guard
    // as the seed frame
    val chars = s.read.parquet(art._3)
      .select(explode(when(length(col("word")) >= 1,
          sequence(lit(1L), length(col("word")).cast(LongType)))
          .otherwise(array().cast("array<bigint>"))).as("pos"),
        col("word"))
      .select(col("word").substr(col("pos").cast(IntegerType), lit(1)).as("sym"))
      .distinct().orderBy("sym").collect().map(_.getString(0)).toSeq
    val nCh = chars.length.toLong
    val base = chars.zipWithIndex.map { case (c, i) => (c, i + 2L) }
    val merged = mergeListFrom(s, art).map { case (r, s1, s2) => (s1 + s2, nCh + 1L + r) }
    (base ++ merged).groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).min) }.toSeq
  }

  /** Compiles the rank-ordered merge list into a map-side expression:
    * char-split the word, then one aggregate() left fold per merge — the
    * production encode shape (broadcast the merge list, never join the
    * corpus on word).
    */
  private[graft] def encodeExpr(merges: Seq[(Long, String, String)]): String = {
    // empty-word guard mirrors the seed frame's (Spark sequence(1, 0) is
    // the descending [1, 0], which would emit two "" symbols per empty word)
    var e = "IF(length(word) < 1, CAST(array() AS ARRAY<STRING>), " +
      "transform(sequence(1, length(word)), i -> substring(word, i, 1)))"
    merges.foreach { case (_, s1, s2) =>
      val (a, b, m) = (sqlLit(s1), sqlLit(s2), sqlLit(s1 + s2))
      e = s"aggregate($e, CAST(array() AS ARRAY<STRING>), (acc, x) -> " +
        s"IF(size(acc) > 0 AND element_at(acc, -1) = '$a' AND x = '$b', " +
        s"concat(slice(acc, 1, size(acc) - 1), array('$m')), concat(acc, array(x))))"
    }
    e
  }

  /** The encoded corpus as a STANDING ARTIFACT: (doc_id, shard, pos, ids)
    * — one row per word occurrence with its subword-id array, memoSpilled
    * per (fixture, merge geometry). This is what a production pipeline
    * stores after tokenization; every consumer (text_bpe_encode,
    * pack_sequences_bpe) reads the parquet instead of re-running the
    * merge fold. Measured why (bench r13, sf0.1): the 16-deep aggregate()
    * fold chain never enters whole-stage codegen (HOFs are interpreted),
    * so ONE full evaluation costs ~14 s — and without a materialization
    * boundary CollapseProject inlines the fold into every dependent
    * expression (n_sub, the pack generator), which put pack_sequences_bpe
    * at 20.8 s WARM; a persist() boundary just moved the cost into the
    * columnar cache build (16 s, every run). The spill pays the fold once
    * per fixture (cold ledger, like every standing index) and the warm
    * path drops to ~1 s. n_sub is intentionally NOT stored: size(ids)
    * inside the build would re-inline the whole fold a second time.
    */
  private[graft] def encodedCorpus(s: SparkSession, d: String): DataFrame =
    Sources.memoSpill(s,
        Sources.fixtureKey(d, "documents") + s":bpe_enc:$BpeMerges", "bpe_enc") {
      encodedCorpusBuild(s, d)
    }

  /** The spill-build plan behind [[encodedCorpus]] — the merge-fold shape
    * the plan pin audits (the merge list compiles into per-row fold
    * expressions; ids attach inside the fused bpe_apply_ids expression;
    * the corpus is NEVER
    * joined on `word`). Kept as its own def so (a) the mergeList/vocabIds
    * driver collects run only on a spill MISS (memoSpill's build is
    * by-name — computing them outside charged two wasted driver jobs to
    * every warm construction, second review pass), and (b)
    * PlanRegressionSpec can pin THIS plan, where the no-join invariant
    * actually lives now.
    */
  private[graft] def encodedCorpusBuild(s: SparkSession, d: String): DataFrame = {
    val ml = mergeList(s, d)
    val vocab = vocabIds(s, d)
    val exploded = documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(TextOps.PackShards.toLong)).as("shard"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      // drop empty tokens (consecutive/leading/trailing spaces) BEFORE the
      // fold (ADVICE r13): the oracle's `tok JOIN wsub` drops '' words (the
      // seed frames emit zero symbol rows for them, so they never reach
      // s16), while an unfiltered Spark side would count '' in n_tok and
      // emit an empty ids_w element — both consumers now drop them by
      // construction. pos keeps its pre-filter value, matching the
      // oracle's unnest enumeration.
      .where(col("word") =!= "")
    // round-robin BEFORE the fold, but ONLY when the scan is under-split
    // (the fixture is a single parquet row group, so the interpreted
    // fold otherwise runs in ONE task — ~14 s measured at sf0.1); at
    // production input sizes the scan has natural splits and the whole
    // exploded corpus must not transit a shuffle for zero gain
    // (second-pass review). NOT a shuffle on `word` — the no-corpus-join
    // invariant is untouched (plan pin allows at most this round-robin
    // exchange and nothing keyed).
    val par = s.sparkContext.defaultParallelism
    val spread = if (exploded.rdd.getNumPartitions < par)
      exploded.repartition(par) else exploded
    spread
      // merge fold + id lookup fused in the native BpeApplyIds expression
      // (round 20 — the literal map() this replaced was the last
      // vocab-proportional expression tree on this path; the id table now
      // rides the expression constructor like the frozen-store encodes,
      // so plan size is vocab-independent). BpeSpec pins native == SQL
      // fold == greedy reference on an adversarial corpus; encodeExpr
      // remains the portable SQL form the oracle and the equivalence
      // spec exercise. No UNK here: the build corpus IS the train corpus,
      // so an unmapped token is a bug and throws.
      .select(col("doc_id"), col("shard"), col("pos"),
        org.apache.spark.sql.graft.BpeOps.bpe_apply_ids(col("word"),
          ml.map { case (_, s1, s2) => (s1, s2) }, vocab.toMap,
          byteStructural = false).as("ids"))
  }

  /** Tokenize-at-ingest: the STREAMING form of the encoder — the same
    * compiled merge fold (native BpeApply) + literal id map applied to a
    * streaming frame of (doc_id, text). Stateless append-mode map: no
    * state store, no watermark, no shuffle — tokenization is a pure
    * per-record function, which is exactly why production pipelines run
    * it at ingest and leave the per-doc/packing re-aggregates to
    * downstream batch (or a separate stateful stage). Same definition
    * site as the batch encoder (mergeList/vocabIds from the learned
    * artifacts), so batch and stream agree by construction; BpeSpec pins
    * the streamed rows equal to text_bpe_encode's per-doc output.
    */
  private[graft] def encodeStream(s: SparkSession, d: String, docs: DataFrame): DataFrame = {
    val ml = mergeList(s, d)
    val vocab = vocabIds(s, d)
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(col("word") =!= "")
      // UNK=1 fallback, same contract as text_bpe_encode_novel: streaming
      // ingest is exactly where unseen text appears. The fused expression
      // (unkId = 1) replaces the coalesce(element_at(literal map), 1L)
      // form — same ADVICE r15 rationale (n_sub == tokens in ids_w
      // always), now without the vocab-proportional literal tree.
      .withColumn("ids",
        org.apache.spark.sql.graft.BpeOps.bpe_apply_ids(col("word"),
          ml.map { case (_, s1, s2) => (s1, s2) }, vocab.toMap,
          byteStructural = false, unkId = Some(1L)))
      .select(col("doc_id"), col("pos"),
        size(col("ids")).cast(LongType).as("n_sub"),
        expr("concat_ws(' ', transform(ids, x -> CAST(x AS STRING)))")
          .as("ids_w"))
  }

  val queries: Map[String, Q] = Map(
    // The learned merge table itself — the shippable tokenizer artifact.
    // Rounds are deterministic: integer pair counts, (count DESC, pair ASC)
    // argmax, greedy leftmost application (BpeSpec pins vs an in-JVM
    // reference implementation).
    "text_bpe_vocab" -> ((s, d) =>
      mergesFrame(s, d).orderBy("rank")),

    // Subword encoding of every document under the learned vocab: per doc
    // the word count, subword count, and the position-exact subword id
    // stream. The fold machinery (merge list compiled into per-row
    // aggregate() HOFs, ids via a literal map, no corpus join on word)
    // lives in [[encodedCorpusBuild]] and runs once per fixture; this
    // query reads the standing id streams, and its one real shuffle is
    // the doc_id re-aggregate with the standing array_sort(struct(pos, ·))
    // order fix.
    "text_bpe_encode" -> ((s, d) =>
      // consumes the standing [[encodedCorpus]] id streams (one fold pass
      // per fixture, paid at spill build — see encodedCorpus for the
      // measured why); the query itself is a parquet scan + one doc_id
      // aggregate, no join, no corpus shuffle on word (pin unchanged)
      encodedCorpus(s, d)
        .select(col("doc_id"), col("pos"),
          size(col("ids")).cast(LongType).as("n_sub"),
          expr("concat_ws(' ', transform(ids, x -> CAST(x AS STRING)))").as("ids_w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_sub"),
          collect_list(struct(col("pos"), col("ids_w"))).as("pid"))
        .withColumn("ids_str",
          expr("concat_ws(' ', transform(array_sort(pid), x -> x.ids_w))"))
        .select("doc_id", "n_tok", "n_sub", "ids_str")
        .orderBy("doc_id")),

    // The capstone VERDICT r12 #2 asked for: pack the SUBWORD id streams
    // into PackSeqLen training rows (pack_sequences_ids' grain under the
    // learned BPE vocab — no UNK column, subwords cover every word).
    // Same shard decomposition; a doc's global offset is the sum of PRIOR
    // docs' subword counts in its shard (a rangeBetween window — exclusive
    // of the current doc's own rows), a word's offset within its doc a
    // second window, a subword's position its in-word index. All id
    // derivation comes from the standing [[encodedCorpus]] streams;
    // shuffles are the two window exchanges (doc_id, shard) + the
    // (shard, bin) re-aggregate.
    "pack_sequences_bpe" -> ((s, d) => {
      val byWordInDoc = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val priorDocsInShard = Window.partitionBy("shard").orderBy("doc_id")
        .rangeBetween(Window.unboundedPreceding, -1)
      encodedCorpus(s, d)
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
    }),

    // Unseen-text encode contract (VERDICT r13 #2): the tokenizer is
    // learned on the TRAINING split (doc_id % 10 != NovelResidue) and
    // encodes the HELD-OUT docs, deterministically perturbed so the novel
    // population is non-vacuous at every SF: 1-based word positions with
    // p % 7 == 1 are upper-cased (unseen CHARACTERS — the fixture alphabet
    // is lowercase-only, so every such symbol falls back to UNK=1: the
    // case-variant text a production tokenizer meets constantly), and
    // p % 7 == 4 are reversed (novel WORDS over the known alphabet — the
    // subword-sharing path, where the train-learned merges still apply).
    // The merge fold is corpus-independent (a string rewrite), so encode
    // is the same native BpeApply + literal-map lookup as the training
    // encoder, plus the coalesce-to-UNK the training path never needs.
    // No standing spill: the held-out slice is 10% of the corpus and the
    // fold is native (~1µs/word) — one map-side pass per run, the only
    // shuffle the per-doc re-aggregate.
    // BYTE-level BPE merge table (VERDICT r15 #2; GPT-2 alias space since
    // round 17): regex pretokens with leading spaces attached
    // ([[BytePretokRe]]) over the multi-byte [[byteDocs]] corpus, each
    // rendered one-alias-char-per-UTF-8-octet before the merge loop. Space
    // is byte 32 — non-printable, so it renders as 'Ġ' and the table
    // learns the published boundary merges ("Ġt", "Ġs"…) the
    // whitespace-split char BPE structurally cannot; multi-byte codepoints
    // contribute their continuation bytes as ordinary symbols, which is
    // how GPT-2 vocabularies share sub-codepoint structure across CJK.
    "text_bpe_bytes_vocab" -> ((s, d) =>
      mergesFrameFrom(s, learnBytes(s, d)).orderBy("rank")),

    // Byte-level subword encoding: regex pretokenize the perturbed corpus,
    // alias-render (codegen'd utf8_alias), apply the byte merge fold (same
    // native BpeApply), then ids under the STRUCTURAL byte id space
    // ([[ByteIdBase]] doc): single-alias-char symbols map by POSITION in
    // the alias table (instr — character-indexed on both engines, so the
    // id is byte value + 1 with no vocabulary lookup that could miss);
    // multi-char symbols are exactly the merge outputs, so the literal
    // merge map is total over them — the lookup cannot return null BY
    // CONSTRUCTION, which is the "UNK structurally unreachable" property
    // this family exists for (ByteBpeSpec pins it on never-seen
    // characters, now including codepoints ≥ 128). Two merges can
    // legitimately emit the same merged string; the id map takes the MIN
    // rank (the vocabIds convention, ADVICE r16) and the oracle's mtab
    // mirrors with min(rank) GROUP BY merged.
    // Plan shape = encodeStream's: one map-side pass (native fold +
    // codegen'd alias, no interpreted HOF in the hot path), the per-doc
    // re-aggregate the only shuffle.
    "text_bpe_bytes_encode" -> ((s, d) => {
      val art = learnBytes(s, d)
      val ml = mergeListFrom(s, art)
      // merged tokens → ByteIdBase + min rank; single alias chars take the
      // structural id inside the fused expression (byteStructural — the
      // instr(aliasStr, c) the CASE computed), the exact pattern the
      // frozen-store twin certifies; the literal map() this replaced was
      // the vocab-proportional tree (round 20)
      val idMap = ml.groupBy { case (_, s1, s2) => s1 + s2 }
        .map { case (m, rs) => (m, ByteIdBase + rs.map(_._1).min) }
      Sources.spreadScan(s, byteDocs(s, d))
        .select(col("doc_id"),
          posexplode(expr(s"regexp_extract_all(text, '$BytePretokRe', 0)"))
            .as(Seq("pos", "word0")))
        .withColumn("ids",
          org.apache.spark.sql.graft.BpeOps.bpe_apply_ids(
            org.apache.spark.sql.graft.BpeOps.utf8_alias(col("word0")),
            ml.map { case (_, s1, s2) => (s1, s2) }, idMap,
            byteStructural = true))
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

    // Tokenizer FERTILITY by language — the published tokenizer-fairness
    // eval (XLM-R/mBART-era: a vocabulary trained on skewed data tokenizes
    // low-resource languages into more, shorter pieces, inflating their
    // effective sequence length and training cost): per language, mean
    // subwords-per-pretoken (fertility) and bytes-per-subword
    // (compression) under the learned BYTE-level vocabulary, in exact
    // micro fixed point (counts and div only — D5). n_bytes is TRUE UTF-8
    // octets (octet_length — VERDICT r16 #3; on the perturbed multi-byte
    // corpus chars ≠ bytes, which is the whole point of the metric: CJK
    // text costs 3 bytes per codepoint before the tokenizer even starts).
    // One corpus pass (regex pretokenize + codegen'd alias + native fold),
    // one per-language aggregate; at 100 TB this is the scan-bound audit a
    // tokenizer release runs per corpus slice.
    "text_tokenizer_fertility" -> ((s, d) => {
      val art = learnBytes(s, d)
      val ml = mergeListFrom(s, art)
      Sources.spreadScan(s, byteDocs(s, d))
        .select(col("lang"),
          explode(expr(s"regexp_extract_all(text, '$BytePretokRe', 0)")).as("word0"))
        .withColumn("n_sub",
          size(org.apache.spark.sql.graft.BpeOps.bpe_apply(
            org.apache.spark.sql.graft.BpeOps.utf8_alias(col("word0")),
            ml.map { case (_, s1, s2) => (s1, s2) })).cast(LongType))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tok"),
          sum("n_sub").as("n_sub"),
          Det.lsum(octet_length(col("word0"))).as("n_bytes"))
        .select(col("lang"), col("n_tok"), col("n_sub"), col("n_bytes"),
          expr("n_sub * 1000000 div n_tok").as("fertility_micro"),
          expr("n_bytes * 1000000 div n_sub").as("bytes_per_sub_micro"))
        .orderBy("lang")
    }),

    "text_bpe_encode_novel" -> ((s, d) => {
      val art = learnTrain(s, d)
      val ml = mergeListFrom(s, art)
      val vocab = vocabIdsFrom(s, art)
      Sources.spreadScan(s, documents(s, d)
        .where(pmod(col("doc_id"), lit(10L)) === lit(NovelResidue)))
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word0")))
        // 1-based position rule mirrors the oracle's range(1, n+1)
        // enumeration; the perturbation applies BEFORE the empty-token
        // filter (upper('')/'' stay '', filtered identically both sides)
        .withColumn("word",
          when(pmod(col("pos") + lit(1), lit(7)) === 1, upper(col("word0")))
            .when(pmod(col("pos") + lit(1), lit(7)) === 4, reverse(col("word0")))
            .otherwise(col("word0")))
        .where(col("word") =!= "")
        // UNK=1 fallback via the fused expression (ids never collide with
        // it: chars start at 2, merges above them, so id == 1 <=> symbol
        // outside the train vocab); the literal map() this replaced was
        // the last vocab-proportional tree on the novel path (round 20)
        .withColumn("ids",
          org.apache.spark.sql.graft.BpeOps.bpe_apply_ids(col("word"),
            ml.map { case (_, s1, s2) => (s1, s2) }, vocab.toMap,
            byteStructural = false, unkId = Some(1L)))
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
    })
  )

  /** The per-round CTE chain (wf, s0, then p/b/f/s per round). Generated
    * from [[BpeMerges]] so round count cannot desynchronize; MATERIALIZED
    * on the frames referenced more than once per round — inlined CTEs
    * would expand the reference tree exponentially in rounds.
    */
  private[graft] def roundCtes: String = roundCtesWith("", None)

  /** The chain trained on a RESTRICTED corpus (round 19 — the tokenizer
    * retrain oracle learns on documents minus the tombstoned slice; the
    * novel-encode oracle below passes its own filter plus extra words).
    */
  private[graft] def roundCtesTrainedOn(trainWhere: String): String =
    roundCtesWith(trainWhere, None)

  /** The byte-level chain (GPT-2 alias space since round 17): the
    * perturbed corpus ([[pertCaseSql]]), regex pretokens with positions
    * (group 0 = whole match on both engines; DuckDB's default group is
    * already 0), the alias rendering done ARITHMETICALLY over the
    * vocabulary-sized distinct-pretoken frame — codepoints via ord(), the
    * standard UTF-8 encoding formulas in integer `//`/`%` (exact
    * cross-engine), alias chars by 1-based substr into the shared
    * [[aliasLitDuck]] table — then the identical serial merge machinery
    * over alias words. `wa` (word0 → alias word) and `tok0`
    * (doc_id, lang, pos, word0) are exported for the encode/fertility
    * tails.
    */
  private[graft] def byteRoundCtes: String = {
    val sb = new StringBuilder
    sb ++= s"bdocs AS MATERIALIZED (SELECT doc_id, lang, $pertCaseSql AS text " +
      "FROM documents), "
    sb ++= s"tok0 AS MATERIALIZED (SELECT doc_id, lang, " +
      s"unnest(regexp_extract_all(text, '$BytePretokRe')) AS word0, " +
      s"unnest(range(1, len(regexp_extract_all(text, '$BytePretokRe')) + 1)) AS pos " +
      "FROM bdocs), "
    sb ++= "wf0 AS (SELECT word0, CAST(count(*) AS BIGINT) AS freq FROM tok0 GROUP BY word0), "
    // per-codepoint → per-UTF-8-byte decomposition of each DISTINCT pretoken
    sb ++= "wcp AS (SELECT word0, i, ord(substr(word0, CAST(i AS INT), 1)) AS cp " +
      "FROM (SELECT word0 FROM wf0), unnest(range(1, len(word0) + 1)) AS u(i)), "
    sb ++= "wnb AS (SELECT word0, i, cp, CASE WHEN cp < 128 THEN 1 WHEN cp < 2048 THEN 2 " +
      "WHEN cp < 65536 THEN 3 ELSE 4 END AS nb FROM wcp), "
    sb ++= "wby AS (SELECT word0, i, j, CASE WHEN nb = 1 THEN cp " +
      "WHEN j = 1 THEN CASE nb WHEN 2 THEN 192 + cp // 64 WHEN 3 THEN 224 + cp // 4096 " +
      "ELSE 240 + cp // 262144 END " +
      "ELSE 128 + (cp // (CASE WHEN j = nb THEN 1 WHEN j = nb - 1 THEN 64 ELSE 4096 END)) % 64 " +
      "END AS b FROM wnb, unnest(range(1, nb + 1)) AS v(j)), "
    sb ++= s"wa AS MATERIALIZED (SELECT word0, string_agg(substr('$aliasLitDuck', " +
      "CAST(b + 1 AS INT), 1), '' ORDER BY i, j) AS word FROM wby GROUP BY word0), "
    // alias rendering is injective (UTF-8 is), so this join is 1:1
    sb ++= "wf AS MATERIALIZED (SELECT wa.word AS word, wf0.freq AS freq " +
      "FROM wf0 JOIN wa USING (word0)), "
    sb ++= "s0 AS MATERIALIZED (SELECT word, CAST(i AS BIGINT) AS pos, " +
      "substr(word, CAST(i AS INT), 1) AS sym FROM wf, " +
      "unnest(range(1, len(word) + 1)) AS u(i))"
    appendMergeRounds(sb)
    sb.toString
  }

  /** Parameterized CTE chain (VERDICT r13 #2). `trainWhere` restricts the
    * TRAINING corpus (wf — the frame pair counts join against); when
    * `extraWords` is given (a SELECT yielding a `word` column), those
    * words are ADDED to the seed frame so the chain SEGMENTS them under
    * the train-learned merges without letting them vote on any argmax:
    * p_r inner-joins wf, so extra-only words contribute zero count. With
    * default arguments the generated SQL is byte-identical to the
    * original single-corpus chain.
    */
  private def roundCtesWith(trainWhere: String, extraWords: Option[String]): String = {
    val tokUnnest = "unnest(string_split(text, ' '))"
    val sb = new StringBuilder
    val docFilter = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    sb ++= "wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
      s"(SELECT $tokUnnest AS word FROM documents$docFilter) GROUP BY word), "
    val seedSrc = extraWords match {
      case None => "wf"
      case Some(sel) =>
        sb ++= s"wa AS MATERIALIZED (SELECT word FROM wf UNION $sel), "
        "wa"
    }
    sb ++= "s0 AS MATERIALIZED (SELECT word, CAST(i AS BIGINT) AS pos, " +
      s"substr(word, CAST(i AS INT), 1) AS sym FROM $seedSrc, " +
      "unnest(range(1, len(word) + 1)) AS u(i))"
    appendMergeRounds(sb)
    sb.toString
  }

  /** The per-round p/b/f/s CTE quartet appended after a chain that defines
    * `wf` (word, freq) and `s0` (word, pos, sym) — shared verbatim by the
    * char-level chain and the byte-level alias chain (the merge machinery
    * is string-agnostic by design; see [[learnLoopWf]]).
    */
  private def appendMergeRounds(sb: StringBuilder): Unit =
    for (r <- 1 to BpeMerges) {
      val p = r - 1
      sb ++= s", p$r AS (SELECT s1, s2, sum(freq) AS c FROM " +
        s"(SELECT word, sym AS s1, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS s2 " +
        s"FROM s$p) t JOIN wf USING (word) WHERE s2 IS NOT NULL GROUP BY s1, s2)"
      sb ++= s", b$r AS MATERIALIZED (SELECT s1, s2, c FROM p$r " +
        "ORDER BY c DESC, s1 ASC, s2 ASC LIMIT 1)"
      sb ++= s", f$r AS (SELECT word, pos, sym, s1, s2, (cand AND " +
        "(crn - min(CASE WHEN cand THEN crn END) OVER " +
        "(PARTITION BY word, pos - crn)) % 2 = 0) AS sel FROM " +
        "(SELECT word, pos, sym, s1, s2, cand, " +
        "sum(CASE WHEN cand THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY word ORDER BY pos) AS crn FROM " +
        "(SELECT s.word, s.pos, s.sym, b.s1, b.s2, (s.sym = b.s1 AND " +
        "lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.s2) AS cand " +
        s"FROM s$p s CROSS JOIN b$r b)))"
      sb ++= s", s$r AS MATERIALIZED (SELECT word, " +
        "row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, " +
        "CASE WHEN sel THEN s1 || s2 ELSE sym END AS sym FROM " +
        "(SELECT *, lag(sel, 1, false) OVER (PARTITION BY word ORDER BY pos) AS psel " +
        s"FROM f$r) WHERE NOT psel)"
    }

  val oracles: Map[String, String] = Map(
    "text_bpe_vocab" ->
      (s"WITH $roundCtes " +
        (1 to BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1, s2, s1 || s2 AS merged, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$r").mkString(" UNION ALL ") +
        " ORDER BY rank"),

    "text_bpe_encode" ->
      (s"WITH $roundCtes, " +
        "mtab AS (" +
        (1 to BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged FROM b$r")
          .mkString(" UNION ALL ") + "), " +
        "chars AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym ASC) + 1 AS BIGINT) AS id " +
        "FROM (SELECT DISTINCT sym FROM s0)), " +
        "vocab AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM " +
        "(SELECT sym, id FROM chars UNION ALL SELECT merged AS sym, " +
        "(SELECT count(*) FROM chars) + 1 + rank AS id FROM mtab) GROUP BY sym), " +
        s"wsub AS (SELECT word, string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY pos) AS ids_w, " +
        s"CAST(count(*) AS BIGINT) AS n_sub FROM s$BpeMerges JOIN vocab v USING (sym) GROUP BY word), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word, " +
        "unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM documents) " +
        "SELECT doc_id, count(*) AS n_tok, CAST(sum(n_sub) AS BIGINT) AS n_sub, " +
        "string_agg(ids_w, ' ' ORDER BY pos) AS ids_str " +
        "FROM tok JOIN wsub USING (word) GROUP BY doc_id ORDER BY doc_id"),

    "text_bpe_bytes_vocab" ->
      (s"WITH $byteRoundCtes " +
        (1 to BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1, s2, s1 || s2 AS merged, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$r").mkString(" UNION ALL ") +
        " ORDER BY rank"),

    // ids by the structural alias-table position (instr — character-
    // indexed, = byte value + 1) for single-char symbols, 256+rank via the
    // merge table otherwise; mtab min-rank-dedups colliding merge outputs
    // (the vocabIds convention, mirroring the Spark map's min — ADVICE
    // r16: without the GROUP BY a collision fans out duplicate rows here
    // while Spark's map() throws). The LEFT JOIN can only miss on
    // single-char symbols, where the CASE never reads it.
    "text_bpe_bytes_encode" ->
      (s"WITH $byteRoundCtes, " +
        "mtab AS (SELECT merged, CAST(min(rank) AS BIGINT) AS rank FROM (" +
        (1 to BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged FROM b$r")
          .mkString(" UNION ALL ") + ") GROUP BY merged), " +
        "wsub AS (SELECT word, string_agg(CAST(CASE WHEN len(sym) = 1 " +
        s"THEN instr('$aliasLitDuck', sym) ELSE $ByteIdBase + m.rank END AS VARCHAR), ' ' ORDER BY pos) AS ids_w, " +
        s"CAST(count(*) AS BIGINT) AS n_sub " +
        s"FROM s$BpeMerges s LEFT JOIN mtab m ON s.sym = m.merged GROUP BY word) " +
        "SELECT doc_id, count(*) AS n_tok, CAST(sum(n_sub) AS BIGINT) AS n_sub, " +
        "string_agg(ids_w, ' ' ORDER BY pos) AS ids_str " +
        "FROM tok0 JOIN wa USING (word0) JOIN wsub USING (word) " +
        "GROUP BY doc_id ORDER BY doc_id"),

    // per-pretoken segment sizes from the byte chain's final word table;
    // n_bytes = strlen (true UTF-8 octets — VERDICT r16 #3; ≡ the alias
    // word's char length by construction); micro ratios via `//` ≡ `div`
    // on the non-negative counts
    "text_tokenizer_fertility" ->
      (s"WITH $byteRoundCtes, " +
        s"wsub AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub " +
        s"FROM s$BpeMerges GROUP BY word), " +
        "ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tok, " +
        "CAST(SUM(n_sub) AS BIGINT) AS n_sub, " +
        "CAST(SUM(strlen(word0)) AS BIGINT) AS n_bytes " +
        "FROM tok0 JOIN wa USING (word0) JOIN wsub USING (word) GROUP BY lang) " +
        "SELECT lang, n_tok, n_sub, n_bytes, " +
        "CAST(n_sub * 1000000 // n_tok AS BIGINT) AS fertility_micro, " +
        "CAST(n_bytes * 1000000 // n_sub AS BIGINT) AS bytes_per_sub_micro " +
        "FROM ag ORDER BY lang"),

    // mechanism differs by design (the oracle derives ids from the
    // training CTE chain's word table; Spark re-derives them map-side),
    // the packed streams must hash-match anyway
    "pack_sequences_bpe" ->
      (s"WITH $roundCtes, " +
        "mtab AS (" +
        (1 to BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged FROM b$r")
          .mkString(" UNION ALL ") + "), " +
        "chars AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym ASC) + 1 AS BIGINT) AS id " +
        "FROM (SELECT DISTINCT sym FROM s0)), " +
        "vocab AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM " +
        "(SELECT sym, id FROM chars UNION ALL SELECT merged AS sym, " +
        "(SELECT count(*) FROM chars) + 1 + rank AS id FROM mtab) GROUP BY sym), " +
        s"wid AS (SELECT word, pos AS spos, v.id FROM s$BpeMerges JOIN vocab v USING (sym)), " +
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
        "FROM g GROUP BY shard, bin ORDER BY shard, bin"),

    // train/held-out split chain: wf (and so every b_r argmax) sees only
    // the training docs; the seed frame additionally carries the perturbed
    // held-out words so s16 segments them under the SAME merge sequence
    // the fold applies (chain == fold is word-local, pinned in BpeSpec);
    // vocab chars are train-restricted, novel symbols LEFT-join to UNK=1
    "text_bpe_encode_novel" -> {
      val novelTok =
        "SELECT doc_id, pos, CASE WHEN pos % 7 = 1 THEN upper(word) " +
          "WHEN pos % 7 = 4 THEN reverse(word) ELSE word END AS word FROM " +
          "(SELECT doc_id, unnest(string_split(text, ' ')) AS word, " +
          "unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM documents " +
          s"WHERE doc_id % 10 = $NovelResidue)"
      s"WITH ${roundCtesWith(s"doc_id % 10 != $NovelResidue",
          Some(s"SELECT DISTINCT word FROM ($novelTok) WHERE word != ''"))}, " +
        "mtab AS (" +
        (1 to BpeMerges).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, s1 || s2 AS merged FROM b$r")
          .mkString(" UNION ALL ") + "), " +
        "chars AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym ASC) + 1 AS BIGINT) AS id " +
        "FROM (SELECT DISTINCT sym FROM s0 JOIN wf USING (word))), " +
        "vocab AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM " +
        "(SELECT sym, id FROM chars UNION ALL SELECT merged AS sym, " +
        "(SELECT count(*) FROM chars) + 1 + rank AS id FROM mtab) GROUP BY sym), " +
        "wsub AS (SELECT word, " +
        "string_agg(CAST(coalesce(v.id, 1) AS VARCHAR), ' ' ORDER BY pos) AS ids_w, " +
        "CAST(count(*) AS BIGINT) AS n_sub, " +
        "CAST(count(*) FILTER (WHERE v.id IS NULL) AS BIGINT) AS n_unk_w " +
        s"FROM s$BpeMerges LEFT JOIN vocab v USING (sym) GROUP BY word), " +
        s"tok AS ($novelTok) " +
        "SELECT doc_id, count(*) AS n_tok, CAST(sum(n_sub) AS BIGINT) AS n_sub, " +
        "CAST(sum(n_unk_w) AS BIGINT) AS n_unk, " +
        "string_agg(ids_w, ' ' ORDER BY pos) AS ids_str " +
        "FROM tok JOIN wsub USING (word) GROUP BY doc_id ORDER BY doc_id"
    }
  )
}
