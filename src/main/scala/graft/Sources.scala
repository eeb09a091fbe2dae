package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Det._
import Tables._

/** Source/sink surface beyond the plain parquet scan (SURVEY.md §2.1): text
  * files (the reference's native input format), CSV and JSON with explicit
  * schemas, and a partitioned parquet sink re-read with partition pruning.
  *
  * Each query is a write→read round trip through a real on-disk format under
  * java.io.tmpdir, so both the sink and the source path execute; outputs are
  * plain relational results with DuckDB oracles over the original tables.
  * At 100 TB the same calls target object storage; `partitionBy` is what
  * makes downstream partition pruning (and per-partition job parallelism)
  * possible, and explicit schemas avoid a full inference pass over the data.
  */
object Sources {
  type Q = (SparkSession, String) => DataFrame

  // Per-process subdir (two concurrent JVMs must not overwrite each other's
  // round-trip data mid-read) + per-sfDir discriminator (two scale factors in
  // one JVM would otherwise share a path and lazily-read the wrong data).
  // The process dir is removed on JVM exit so repeated runs don't leak /tmp.
  /** Recursive best-effort delete — ONE definition site (code-review r18:
    * three verbatim copies had accreted in this file alone).
    */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rmTree)
    }
    f.delete()
  }

  private[graft] lazy val procDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io_${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      rmTree(new java.io.File(dir))))
    dir
  }

  private[graft] def tmp(name: String, sfDir: String): String =
    s"$procDir/${java.lang.Integer.toHexString(sfDir.hashCode)}/$name"

  private val uniqueSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Fresh never-reused path under the per-process dir — for operator-
    * internal spills (e.g. labelPropagate's round checkpoints) that must not
    * collide across invocations; cleaned with procDir at JVM exit.
    */
  private[graft] def tmpUnique(prefix: String): String =
    s"$procDir/unique/${prefix}_${uniqueSeq.incrementAndGet()}"

  /** Writes `df` as parquet to a fresh [[tmpUnique]] path; returns the path. */
  private[graft] def spill(df: DataFrame, prefix: String): String = {
    val p = tmpUnique(prefix)
    df.write.mode(SaveMode.Overwrite).parquet(p)
    p
  }

  /** Round-robin a COMPACT pre-explode frame across the session's cores
    * when its scan is under-split (OPTIMIZATION r21, guide §2.5 "input
    * skew: one huge unsplittable file"): every fixture table is ONE
    * parquet row group, so a scan→explode→native-fold→partial-agg chain
    * otherwise runs single-task regardless of core count — the encode
    * keys' entire warm cost was one core folding ~10⁵ tokens. The spread
    * moves the DOC rows (the corpus bytes, once) BEFORE the explode, so
    * the regex/pretokenize/fold work parallelizes while the exploded
    * token stream still never transits a shuffle — this is exactly the
    * trade the TokenizerStore octave measured when it REJECTED spreading
    * the exploded frame (8M rows at 16×, net loss): pay ~corpus-bytes of
    * round-robin, not ~token-rows. No-op wherever the scan already has
    * natural splits (production multi-row-group inputs), so the guard is
    * scale-adaptive, not a local[32] constant.
    */
  private[graft] def spreadScan(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val par = s.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
  }

  /** Run independent per-segment job chains from separate threads
    * (round 20, VERDICT r19 #2): Spark's scheduler interleaves jobs
    * submitted by different threads, so mutually independent pipelines —
    * disjoint inputs slices, disjoint output paths — overlap their
    * per-job floors instead of serializing them. This is what concurrent
    * micro-batches on a real cluster do; callers must guarantee disjoint
    * outputs. The first failure rethrows on the calling thread after all
    * segments finish (no torn half-started segment is left running).
    */
  private[graft] def concurrently(items: Range)(f: Int => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = items.map { i =>
      // NonFatal only (ADVICE r20): a VirtualMachineError/interrupt must
      // surface on its own thread, not be queued behind sibling segments
      new Thread(() => try f(i)
        catch { case scala.util.control.NonFatal(t) => errs.add(t) },
        s"graft-seg-$i")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      // rethrow the first failure with the others attached, not dropped
      val first = errs.poll()
      errs.forEach(t => if (t ne first) first.addSuppressed(t))
      throw first
    }
  }

  /** Memoization key for per-dataset index artifacts: the dataset path
    * PLUS the backing fixture's size and mtime, so data rewritten at the
    * same path can never be served a stale cached index (ADVICE r7). Also
    * folded into every persisted store's [[Artifact.root]] for the same
    * reason.
    */
  private[graft] def fixtureKey(d: String, table: String): String = {
    val f = new java.io.File(s"$d/$table.parquet")
    s"$d@${f.length()}:${f.lastModified()}"
  }

  /** 64-bit FNV-1a of a key string as 16 hex chars — the directory-name
    * fingerprint for CROSS-SESSION persisted artifact roots
    * ([[Artifact.root]]). ADVICE r16: the previous 32-bit
    * String.hashCode left a real (if tiny) chance that two different
    * corpus fingerprints collide and a probe silently serves the other
    * corpus's artifact — the exact staleness the key exists to prevent;
    * 64 bits of a proper mix removes it for any realistic artifact count.
    */
  private[graft] def stableHex64(key: String): String = {
    var h = 0xcbf29ce484222325L
    val bs = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    f"$h%016x"
  }

  /** Generic per-(process, key) deterministic parquet spill — build once,
    * read thereafter from the file: an [[Artifact.memo]] whose value is the
    * spill directory, tagged by `prefix`. The shared engine behind the
    * fingerprint-keyed index caches (minhash band index, jaccard shingles,
    * phash signatures) and, since round 9, the VERIFIED PAIR frames one
    * level up (VERDICT r8 #2): deterministic content means memoization
    * cannot change any result, and the parquet spill (unlike persist)
    * truncates lineage so consumers — labelPropagate rounds especially —
    * plan against a bare file scan. Key must include [[fixtureKey]] so a
    * rewritten fixture is never served a stale artifact. Spill dirs live
    * until [[evictSpills]] or JVM exit (procDir).
    */
  private[graft] def memoSpill(s: SparkSession, key: String, prefix: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(Artifact.memo(prefix, key)(spill(build, prefix)))

  /** (file count, total bytes) currently spilled under [[procDir]] —
    * the diagnostic behind VERDICT r10 #8's footprint ask; Bench prints
    * it to stderr at end of run.
    */
  private[graft] def spillFootprint(): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .map(walk).foldLeft((0L, 0L)) {
            case ((n, b), (nn, bb)) => (n + nn, b + bb) }
      else if (f.isFile) (1L, f.length())
      else (0L, 0L) // deleted/absent root
    walk(new java.io.File(procDir))
  }

  /** Opt-in spill eviction for long-lived services (VERDICT r10 #8): drop
    * every memoized value and every spill directory; the next access
    * rebuilds deterministically. CONTRACT: call only between queries, when
    * no DataFrame returned earlier is still live — spilled frames are read
    * lazily, so evicting under a live consumer yields FileNotFound at its
    * next action. A bench/verify process never needs this (procDir is
    * removed at JVM exit); a resident service calls it on its own
    * idle/epoch boundary.
    */
  def evictSpills(): Unit = {
    Artifact.clearMemos()
    rmTree(new java.io.File(procDir))
  }

  val queries: Map[String, Q] = Map(
    // The reference pipeline, end to end: text-file sink → sc.textFile →
    // flatMap → map → reduceByKey (map/combine/shuffle/reduce) → DataFrame.
    // Kept as the one RDD-API demo: BASELINE.json's "MapReduce maps directly
    // to Spark RDD transformations" — everything else in this library uses
    // the declarative API so Catalyst can optimize.
    "mr_wordcount_rdd" -> ((s, d) => {
      import s.implicits._
      val dir = tmp("text_wordcount_input", d)
      // Precondition of the text round trip: one doc per line (no embedded
      // newlines — holds for the fixture corpus) and non-null text.
      documents(s, d).select("text").filter(col("text").isNotNull)
        .write.mode(SaveMode.Overwrite).text(dir)
      s.sparkContext.textFile(dir)
        .flatMap(_.split(" ", -1)) // -1: keep empty tokens like string_split
        .map(w => (w, 1L))
        .reduceByKey(_ + _)
        .toDF("word", "cnt")
        .orderBy(col("cnt").desc, col("word").asc)
    }),

    "sink_partitioned_parquet" -> ((s, d) => {
      val dir = tmp("orders_by_year", d)
      orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .write.mode(SaveMode.Overwrite).partitionBy("yr").parquet(dir)
      // Re-read: the filter on the partition column prunes directories —
      // .explain shows PartitionFilters, not a full scan.
      s.read.parquet(dir)
        .filter(col("yr") >= 1996 && col("yr") <= 1999)
        .groupBy("yr")
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy("yr")
    }),

    "source_csv_roundtrip" -> ((s, d) => {
      val dir = tmp("nation_csv", d)
      nation(s, d).write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
      s.read
        .option("header", "true")
        .schema(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType))))
        .csv(dir)
        .orderBy("n_nationkey")
    }),

    // ORC round trip — the other columnar format Spark bundles natively;
    // same pushdown/pruning machinery as parquet (ORC stripe stats), so at
    // 100 TB the choice is interop-driven, not capability-driven.
    "source_orc_roundtrip" -> ((s, d) => {
      val dir = tmp("region_orc", d)
      region(s, d).write.mode(SaveMode.Overwrite).orc(dir)
      s.read.orc(dir)
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    }),

    "source_json_roundtrip" -> ((s, d) => {
      val dir = tmp("supplier_json", d)
      supplier(s, d).write.mode(SaveMode.Overwrite).json(dir)
      s.read
        .schema(StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType))))
        .json(dir)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // GZIP-compressed JSONL round trip (round 19, third session): the
    // format pretraining corpora actually ARRIVE in (Common Crawl WET/
    // WARC derivatives, most public text dumps ship as *.jsonl.gz). The
    // write pins codec=gzip; the read proves Spark's transparent codec
    // path end-to-end. The scale note is the honest one: gzip is NOT
    // splittable, so at 100 TB one .jsonl.gz = one task — the ingest job
    // relies on MANY files for parallelism (exactly how crawl dumps ship,
    // thousands of shards), and the FIRST thing this engine does with
    // them is rewrite to splittable parquet (every downstream operator
    // here reads that). Explicit schema: no inference pass.
    "source_jsonl_gzip_roundtrip" -> ((s, d) => {
      val dir = tmp("documents_jsonl_gz", d)
      documents(s, d).select("doc_id", "lang", "text")
        .write.mode(SaveMode.Overwrite)
        .option("compression", "gzip").json(dir)
      s.read
        .schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("text", StringType))))
        .json(dir)
        .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }),

    // Avro round trip (VERDICT r17 #3 — the last common interchange format):
    // the image ships avro core/ipc/mapred but NOT the spark-avro
    // DataSource, so this rides the public Hadoop-Avro bridge instead —
    // GenericRecord container files written via AvroKeyOutputFormat and
    // re-read via AvroKeyInputFormat, schema declared explicitly (avro is
    // schema-first: no inference pass ever, unlike the JSON path). The RDD
    // hop is the format bridge only; everything downstream of the read is
    // a DataFrame again. At 100 TB with the connector on the classpath the
    // same query is spark.read.format("avro") and keeps pushdown; the
    // container format itself (blocked, sync-marked, per-block codec) is
    // what makes the files splittable across executors either way.
    "source_avro_roundtrip" -> ((s, d) => {
      val dir = tmp("customer_avro", d)
      // Hadoop output committers refuse an existing target (no Overwrite
      // mode at this API level) — bench reruns hit the same path
      rmTree(new java.io.File(dir))
      val schemaJson =
        """{"type":"record","name":"customer","fields":[
          |{"name":"c_custkey","type":"long"},
          |{"name":"c_name","type":"string"},
          |{"name":"c_nationkey","type":"int"},
          |{"name":"c_acctbal","type":"double"},
          |{"name":"c_mktsegment","type":"string"}]}""".stripMargin
      import org.apache.avro.generic.{GenericData, GenericRecord}
      import org.apache.avro.mapred.AvroKey
      import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
      import org.apache.hadoop.io.NullWritable
      val wJob = org.apache.hadoop.mapreduce.Job.getInstance(s.sparkContext.hadoopConfiguration)
      AvroJob.setOutputKeySchema(wJob, new org.apache.avro.Schema.Parser().parse(schemaJson))
      customer(s, d)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .rdd.mapPartitions { it =>
          // Schema is parsed per partition (Row -> GenericRecord needs it
          // executor-side; the JSON string is the serialization-safe form)
          val sch = new org.apache.avro.Schema.Parser().parse(schemaJson)
          it.map { r =>
            val rec = new GenericData.Record(sch)
            rec.put("c_custkey", r.getLong(0)); rec.put("c_name", r.getString(1))
            rec.put("c_nationkey", r.getInt(2)); rec.put("c_acctbal", r.getDouble(3))
            rec.put("c_mktsegment", r.getString(4))
            (new AvroKey[GenericRecord](rec), NullWritable.get())
          }
        }
        .saveAsNewAPIHadoopFile(dir, classOf[AvroKey[GenericRecord]],
          classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
          wJob.getConfiguration)
      val rJob = org.apache.hadoop.mapreduce.Job.getInstance(s.sparkContext.hadoopConfiguration)
      AvroJob.setInputKeySchema(rJob, new org.apache.avro.Schema.Parser().parse(schemaJson))
      val rows = s.sparkContext.newAPIHadoopFile(dir,
          classOf[AvroKeyInputFormat[GenericRecord]],
          classOf[AvroKey[GenericRecord]], classOf[NullWritable],
          rJob.getConfiguration)
        // the input format REUSES the key object per record — every field
        // is copied out to a fresh Row before the iterator advances (the
        // map runs element-by-element; avro strings are Utf8, hence toString)
        .map { case (k, _) =>
          val rec = k.datum()
          org.apache.spark.sql.Row(
            rec.get("c_custkey").asInstanceOf[Long],
            rec.get("c_name").toString,
            rec.get("c_nationkey").asInstanceOf[Int],
            rec.get("c_acctbal").asInstanceOf[Double],
            rec.get("c_mktsegment").toString)
        }
      s.createDataFrame(rows, StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType),
          StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType))))
        .orderBy("c_custkey")
    }),

    // Dynamic partition pruning: the fact table is partitioned by yr, and
    // the years to read are only known AFTER filtering the dim side — DPP
    // injects the broadcast join's build-side keys as a runtime partition
    // filter on the fact scan (`dynamicpruningexpression` in the plan,
    // pinned by SourcesSpec), so at 100 TB the scan opens only the 2
    // surviving year directories instead of all of them. Static pruning
    // (sink_partitioned_parquet) handles literal predicates; DPP is what
    // keeps partitioned reads cheap when the predicate arrives via a join.
    "join_dpp_partitioned" -> ((s, d) => {
      val dir = tmp("orders_by_year_dpp", d)
      orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .write.mode(SaveMode.Overwrite).partitionBy("yr").parquet(dir)
      val dim = orders(s, d)
        .select(year(col("o_orderdate")).as("yr")).distinct()
        .filter(col("yr").between(1996, 1997))
      s.read.parquet(dir)
        .join(broadcast(dim), "yr")
        .groupBy("yr")
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy("yr")
    })
  )

  val oracles: Map[String, String] = Map(
    "mr_wordcount_rdd" ->
      ("SELECT word, count(*) AS cnt FROM " +
       "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
       "GROUP BY word ORDER BY cnt DESC, word ASC"),

    "sink_partitioned_parquet" ->
      ("SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n, " +
       s"${oDsum2("o_totalprice")} AS sum_price FROM orders " +
       "WHERE year(o_orderdate) BETWEEN 1996 AND 1999 GROUP BY 1 ORDER BY yr"),

    "source_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "source_json_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",

    "source_orc_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    // codec transparency: the gz hop must be invisible — the roundtrip
    // equals a direct projection of the source table (n_chars, not the
    // raw text, keeps the final scalar)
    "source_jsonl_gzip_roundtrip" ->
      ("SELECT doc_id, lang, CAST(length(text) AS INT) AS n_chars " +
       "FROM documents ORDER BY doc_id"),

    // avro long/string/int/double round-trip bit-exactly (IEEE doubles are
    // stored as raw little-endian bits in the container)
    "source_avro_roundtrip" ->
      ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment " +
       "FROM customer ORDER BY c_custkey"),

    // the dim (distinct order years ∩ [1996,1997]) reduces to the literal
    // year predicate — the runtime pruning is a physical property only
    "join_dpp_partitioned" ->
      ("SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n, " +
       s"${oDsum2("o_totalprice")} AS sum_price FROM orders " +
       "WHERE year(o_orderdate) BETWEEN 1996 AND 1997 GROUP BY 1 ORDER BY yr")
  )
}
