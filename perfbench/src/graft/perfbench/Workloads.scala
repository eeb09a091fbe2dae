package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark operation: a registered query and the module that owns it. */
final case class Op(name: String, module: String, fn: (SparkSession, String) => DataFrame)

/** The benchmark's workloads: fixed op lists over the engine's modules. */
object Workloads {
  /** The modules reported as layers, each with its public query map. */
  val layers: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Joins" -> graft.Joins.queries, "Aggregations" -> graft.Aggregations.queries,
    "Windows" -> graft.Windows.queries, "Relational" -> graft.Relational.queries,
    "Etl" -> graft.Etl.queries, "Streaming" -> graft.Streaming.queries,
    "GraphAnnIndex" -> graft.GraphAnnIndex.queries, "AnnIndex" -> graft.AnnIndex.queries,
    "KmvStore" -> graft.KmvStore.queries, "Retrieval" -> graft.Retrieval.queries,
    "Similarity" -> graft.Similarity.queries, "TextOps" -> graft.TextOps.queries,
    "Bpe" -> graft.Bpe.queries, "Unigram" -> graft.Unigram.queries,
    "TokenizerStore" -> graft.TokenizerStore.queries, "Graph" -> graft.Graph.queries,
    "Multimodal" -> graft.Multimodal.queries)

  val layerNames: Seq[String] = layers.map(_._1)

  val lists: Map[String, Seq[String]] = Map(
    // plan-only operators: SQL-style joins, aggregates, windows, ETL and
    // word count; no beam, no persisted artifact, no tokenizer
    "tpch_analytics" -> Seq(
      "tpch_q3_like", "agg_groupby_q1", "join_inner_shuffle", "window_anomaly_zscore",
      "project_expr", "etl_scd2", "stream_session_windows", "text_wordcount"),
    // work done while a query is built: persisted ANN indexes, sketch and
    // tokenizer stores, the graph beam and retrieval fusion over them,
    // memoized clustering and label propagation, tokenizer training, and
    // native per-row text and media expressions
    "index_dedup" -> Seq(
      "sim_ann_graph_search", "sim_ann_ivfpq_probe", "kmv_overlap_probe",
      "retrieval_rrf_fusion_ann", "dedup_cluster_cc", "graph_connected_components",
      "text_bpe_encode", "text_unigram_encode", "text_unigram_encode_frozen",
      "mm_decode_features"))

  /** Warm passes of an untraced run at least: their median is `warm_s`. A
    * `tpch_analytics` pass is a few seconds of sub-second jobs, so it takes
    * more passes for a steady median.
    */
  def warmPasses(workload: String): Int = if (workload == "tpch_analytics") 5 else 2

  /** The owning layer of a query name; fails loudly for a name no layer owns. */
  def op(name: String): Op = layers.collectFirst {
    case (module, qs) if qs.contains(name) => Op(name, module, qs(name))
  }.getOrElse(throw new IllegalArgumentException(s"no layer owns query '$name'"))

  /** A comma-separated name subset, with the engine Bench's rules: blank
    * entries are dropped, and an empty result means "no subset".
    */
  def parseOnly(csv: String): Option[Set[String]] =
    Option(csv).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)

  /** The ops of a workload, optionally narrowed to a subset. Unknown workload
    * or op names fail loudly.
    */
  def select(workload: String, only: Option[Set[String]] = None): Seq[Op] = {
    val names = lists.getOrElse(workload, throw new IllegalArgumentException(
      s"unknown workload '$workload'; known: ${lists.keys.toSeq.sorted.mkString(", ")}"))
    only.foreach { o =>
      val unknown = o -- names
      require(unknown.isEmpty, s"names not in workload $workload: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    names.filter(n => only.forall(_.contains(n))).map(op)
  }

  /** The op order of one pass: a permutation drawn from the workload seed and
    * the pass index, so the same seed always gives the same sequence.
    */
  def order[A](ops: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}
