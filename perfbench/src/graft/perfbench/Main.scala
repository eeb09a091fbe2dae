package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's JVM side: set-up, one cold pass, warm passes for a fixed
  * time, then end-of-run measurements and the correctness dumps. Writes one
  * JSON result file; `perfbench/run.py` checks the dumps and prints the
  * metrics.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * fixtures (input tables), scratch (a fresh directory this run owns), out
  * (result file), and optionally only (comma-separated op subset) and head
  * (source revision to record). The JVM's java.io.tmpdir must be a fresh
  * empty directory.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val graftProps = sys.props.keys.filter(_.startsWith("graft.")).toSeq.sorted
    if (graftProps.nonEmpty) {
      System.err.println(s"[perfbench] refusing to run with engine flags set: ${graftProps.mkString(", ")}")
      sys.exit(2)
    }
    val workload = a("workload")
    val ops = Workloads.select(workload, a.get("only").flatMap(Workloads.parseOnly))
    val result = run(workload, ops, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("fixtures"), a("scratch"), a.getOrElse("head", "unknown"))
    Files.writeString(Paths.get(a("out")), Serialization.write(result)(DefaultFormats))
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The engine Bench's session settings, at `cores` cores. Spark's local
    * dir comes from SPARK_LOCAL_DIRS, which the launcher points into the
    * JVM's java.io.tmpdir.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bytes in regular files under `f`. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  /** Process-wide artifact build counters of the persisted stores. */
  def builds(): Map[String, Long] = Map(
    "AnnIndex.builds" -> graft.AnnIndex.builds.get.toLong,
    "GraphAnnIndex.builds" -> (graft.GraphAnnIndex.builds.get.toLong +
      graft.GraphAnnIndex.baseBuilds.get + graft.GraphAnnIndex.compactBuilds.get),
    "KmvStore.builds" -> graft.KmvStore.builds.get.toLong)

  /** Heap in use after full collections. Spark's cleaner releases the
    * blocks of collected broadcasts and shuffles asynchronously, so collect
    * a few times with pauses and keep the smallest reading.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(workload: String, ops: Seq[Op], seed: Long, seconds: Double, trace: Boolean,
      fixtures: String, scratch: String, head: String): Map[String, Any] = {
    val loadStart = loadAvg
    // one core stays free for the driver's scheduler, listener and JIT
    // threads; with all cores busy the pass times spread twice as wide
    val cores = math.max(1, math.min(Runtime.getRuntime.availableProcessors - 1, 4))
    // java.io.tmpdir is this run's own empty directory (set at JVM launch),
    // holding the persisted stores and Spark's local dir: everything starts
    // cold, and its size is the run's disk footprint
    val tmpRoot = new File(sys.props("java.io.tmpdir"))

    // ---- set-up: session start and the fixture footer warm-up
    val spark = session(cores)
    val sc = spark.sparkContext
    val runner = new Runner(spark, seed)
    val t0 = System.nanoTime()
    graft.Tables.names.foreach(n => graft.Tables.t(spark, fixtures, n).count())
    val tablesLoadS = (System.nanoTime() - t0) / 1e9
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- cold pass, then warm passes until the time is up
    val tracer = new Tracer
    if (trace) sc.addSparkListener(tracer)
    val builds0 = builds()
    val cold = runner.pass(ops, fixtures, 0, "cold", trace, keep = true)
    val builds1 = builds()
    // ---- correctness dumps, untimed: the cold pass's DataFrames executed once more
    val d0 = System.nanoTime()
    val dumps = dumpOutputs(spark, ops, runner.kept, fixtures, new File(scratch, "dump"))
    val dumpS = (System.nanoTime() - d0) / 1e9
    runner.kept = Map.empty
    val warm = ArrayBuffer.empty[PassRun]
    // trace mode runs untraced and traced warm passes in the order U T T U,
    // which cancels a steady drift of pass times out of the difference, so
    // one run gives both the per-layer record and the tracing overhead
    val minWarm = if (trace) math.max(4, Workloads.warmPasses(workload)) else Workloads.warmPasses(workload)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var attached = trace
    while (warm.size < minWarm || System.nanoTime() < deadline) {
      val traced = trace && (warm.size % 4 == 1 || warm.size % 4 == 2)
      if (traced != attached) {
        // a removed listener misses the events still queued: drain first
        if (traced) sc.addSparkListener(tracer)
        else { org.apache.spark.perfbench.Bus.drain(sc); sc.removeSparkListener(tracer) }
        attached = traced
      }
      warm += runner.pass(ops, fixtures, warm.size + 1, "warm", traced)
    }
    if (trace) org.apache.spark.perfbench.Bus.drain(sc)

    // ---- end-of-run state, before anything is released
    val heapMb = liveHeapMb()
    val diskMb = du(tmpRoot) / 1e6
    val loadEnd = loadAvg
    val passes = cold +: warm.toSeq
    val untracedWarm = warm.filter(!_.traced).map(_.seconds).toSeq
    val e2e = Map(
      "setup_s" -> setupS, "cold_s" -> cold.seconds, "warm_s" -> median(untracedWarm),
      "disk_mb" -> diskMb, "live_heap_mb" -> heapMb)
    val perLayer: Map[String, Any] = if (!trace) Map.empty else {
      val traced = warm.filter(_.traced).toSeq
      val per = traced.map(p => Layers.of(p, tracer, cores))
      val names = Workloads.layerNames.flatMap(l => Layers.perLayer.map(m => s"$l.$m")) ++
        Layers.execMetrics.map("Exec." + _)
      names.map(n => n -> median(per.map(_(n)))).toMap ++
        builds1.map { case (k, v) => k -> (v - builds0(k)).toDouble } ++ Map(
          "Tables.load_s" -> tablesLoadS,
          "Exec.trace_overhead_s" -> (median(traced.map(_.seconds)) - median(untracedWarm)))
    }
    val tracedCounts = if (!trace) Seq.empty else
      passes.filter(_.traced).map(p => Map("pass" -> p.index, "kind" -> p.kind) ++ Layers.counts(p, tracer))
    val spans = if (!trace) Seq.empty else
      Map("id" -> workload, "parent" -> null, "kind" -> "workload", "name" -> workload,
        "start" -> cold.start, "end" -> passes.last.end) +:
        passes.filter(_.traced).flatMap(p => Layers.spans(workload, p, tracer))
    if (attached) sc.removeSparkListener(tracer)

    val conf = sc.getConf.getAll.toSeq.sortBy(_._1).toMap
    spark.stop()

    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "cores" -> cores, "spark_conf" -> conf,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "head" -> head, "load_start" -> loadStart, "load_end" -> loadEnd,
      "fixtures" -> fixtures, "ops" -> ops.map(o => Map("op" -> o.name, "module" -> o.module)),
      "oracle" -> ops.flatMap(o => graft.SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap,
      "tables_load_s" -> tablesLoadS, "check_dump_s" -> dumpS,
      "builds_cold" -> builds1.map { case (k, v) => k -> (v - builds0(k)) },
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "seconds" -> p.seconds,
        "wall_s" -> (p.end - p.start) / 1e3,
        "ops" -> p.ops.map(r => Map("op" -> r.op.name, "module" -> r.op.module,
          "build_s" -> r.buildS, "run_s" -> r.runS, "rows" -> r.rows, "error" -> r.error.orNull)))),
      "end_to_end" -> e2e, "warm_passes" -> untracedWarm.size,
      "per_layer" -> perLayer, "traced_counts" -> tracedCounts, "spans" -> spans,
      "dumps" -> dumps)
  }

  /** Writes each op's output the way the engine's Verify does (one parquet
    * file per op), from the DataFrame the cold pass built. An op without a
    * DuckDB oracle is also written from a second, fresh build, so its content
    * can be compared across passes. Untimed, so the ops are written
    * concurrently.
    */
  def dumpOutputs(spark: SparkSession, ops: Seq[Op], built: Map[String, DataFrame], fixtures: String,
      dir: File): Seq[Map[String, Any]] = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def dump(op: Op): Map[String, Any] = {
      val sources: Seq[(String, () => DataFrame)] =
        built.get(op.name).map(df => "a" -> (() => df)).toSeq ++
          (if (graft.SparkEntry.oracleSql.contains(op.name)) Nil else Seq("b" -> (() => op.fn(spark, fixtures))))
      val written = sources.map { case (c, df) =>
        val path = new File(new File(dir, op.name), c).getPath
        try { df().coalesce(1).write.mode("overwrite").parquet(path); Right(path) }
        catch { case NonFatal(e) => Left(String.valueOf(e.toString).take(300)) }
      }
      Map("op" -> op.name, "paths" -> written.collect { case Right(p) => p },
        "error" -> (if (!built.contains(op.name)) Some("failed in the cold pass")
          else written.collectFirst { case Left(e) => e }).orNull)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try {
      ops.sortBy(_.name)
        .map(op => pool.submit(new java.util.concurrent.Callable[Map[String, Any]] { def call() = dump(op) }))
        .map(_.get())
    } finally {
      pool.shutdown()
      spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }
}
