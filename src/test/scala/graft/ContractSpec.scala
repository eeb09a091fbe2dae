package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import TestSpark.{spark, Sf0001}

/** Guards on the driver contract itself: every oracle belongs to a query,
  * and every registered query produces rows on the smoke fixture (the
  * driver's weaker rows-only check needs rows > 0; an empty result would
  * silently zero that operator's score).
  */
class ContractSpec extends AnyFunSuite {

  test("every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("oracle coverage does not regress") {
    // driver-verified > scalatest-only: deleting an oracle silently
    // downgrades a query to the weaker rows-only check — pin the floor
    // (raise it when adding oracles, never lower without cause)
    assert(SparkEntry.oracleSql.size >= 303,
      s"oracle count fell to ${SparkEntry.oracleSql.size}")
  }

  test("the full SURVEY.md §2 normative inventory is implemented") {
    val survey2 = Seq(
      "scan_project", "scan_filter_pushdown", "filter_compound", "project_expr",
      "filter_like_regex", "join_inner_broadcast", "join_inner_shuffle",
      "join_multiway_star", "join_left_outer", "join_full_outer", "join_semi",
      "join_anti", "join_theta_range", "join_asof", "join_cross_limited",
      "agg_global", "agg_groupby_q1", "agg_distinct", "agg_approx_distinct",
      "agg_rollup", "agg_cube", "agg_grouping_sets", "agg_histogram",
      "window_rank", "window_topk_per_group", "window_running_sum",
      "window_moving_avg", "window_lag_lead", "sort_multi_nulls", "topk_global",
      "set_union_all", "set_union_distinct", "set_intersect", "set_except",
      "fn_string", "fn_date", "fn_math", "fn_array", "fn_json_extract", "fn_map",
      "text_wordcount", "text_grep", "text_inverted_index", "text_stats",
      "text_lang_filter", "dedup_exact", "dedup_near_minhash", "sim_topk_cosine",
      "sim_knn_per_label", "stream_tumbling_counts", "stream_sliding_avg",
      "stream_session_windows", "stream_stateful_dedup", "udf_scalar",
      "udaf_typed", "udtf_explode")
    val missing = survey2.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"§2 keys not implemented: $missing")
  }

  test("query subset: blank entries dropped, blank spec selects all, unknown names throw") {
    // Bench's SPARK_GRAFT_ONLY and Verify's 3rd argument both parse here
    assert(SparkEntry.select("join_anti,,agg_global") == Set("join_anti", "agg_global"))
    assert(SparkEntry.select(" , ") == SparkEntry.queries.keySet)
    assertThrows[IllegalArgumentException](SparkEntry.select("join_anti,nope"))
  }

  test("every multi-row oracle carries an ORDER BY (rule D1)") {
    // single-row global aggregates are exempt (no row order to pin)
    val singleRow = Set("agg_global", "etl_dq_checks", "etl_compact_small_files",
      "agg_ab_test", "agg_chi_square", "agg_mann_whitney", "agg_ks_test",
      "tpch_q6_like", "tpch_q14_like", "tpch_q19_like",
      // round 19: the delete-verb audits are 1-row (count, id_sum) scans
      "ann_index_delete", "gann_index_delete", "kmv_store_delete",
      "tokenizer_store_delete",
      // and the retrain verb's audit (n_merges, pair_weight, n_vocab, id_sum)
      "tokenizer_store_retrain",
      // round 19: the index-health aggregate is 1-row by construction
      "ann_index_stats")
    val unordered = SparkEntry.oracleSql.collect {
      case (k, sql) if !singleRow.contains(k) && !sql.toUpperCase.contains("ORDER BY") => k
    }
    assert(unordered.isEmpty, s"oracles without total order: $unordered")
  }

  /** One pass over every query in sorted order: build the frame, read its
    * schema, then count it, before the next query is built. Building all
    * frames first would strand earlier ones: re-constructing an operator
    * replaces its tag's release listener (`Similarity.releaseListeners`),
    * and some constructions rewrite shared tmp paths. Each entry is the
    * query name, its built frame's schema (or the construction failure)
    * and its row count (or the failure to count).
    */
  private lazy val census: Seq[(String, Either[Throwable, StructType], Either[Throwable, Long])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, Sf0001)
        (name, Right(df.schema), try Right(df.count()) catch { case e: Throwable => Left(e) })
      } catch { case e: Throwable => (name, Left(e), Left(e)) }
    }

  test("no array/map/struct/binary/decimal columns in registered outputs") {
    // Driver-harness constraints (round 1, VERDICT.md "What's wrong" #1/#2):
    // nested/binary cells crash the driver's pandas row sort
    // (mm_resize_thumbnail's array<int> did), and DECIMAL finals render with
    // trailing zeros that DuckDB's float64 conversion drops — both fail the
    // stringify-then-hash compare even on identical values. Finals must be
    // scalar, and money finals must be DOUBLE (Det.dsum2/4, .cast(DoubleType)).
    val offenders = census.flatMap { case (name, schema, _) =>
      // a frame that cannot be built fails this test with its own error
      schema.fold(e => throw e, identity).fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] || f.dataType == BinaryType ||
                  f.dataType.isInstanceOf[DecimalType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty, s"non-driver-safe output columns:\n${offenders.mkString("\n")}")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns rows at sf0.001 (except known-empty oracle-matched ones)") {
    // join_anti is legitimately empty (every customer has orders) — its
    // ORACLE is empty too, so the hash match still passes.
    val mayBeEmpty = Set("join_anti", "set_except")
    val failures = census.flatMap { case (name, _, rows) =>
      rows match {
        case Right(n) =>
          if (n == 0 && !mayBeEmpty.contains(name)) Some(s"$name: empty") else None
        case Left(e) => Some(s"$name: ${e.getMessage.take(100)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
