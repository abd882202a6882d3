package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side, driven by `perfbench/run.py`.
  *
  *   Main templates <out.json>
  *     writes the NL templates of `QlQueries` and the oracles of the
  *     nightly `QueryDef`s, which the input generator and the checks use.
  *   Main run <workload> <inputs> <work> <seconds> <trace> <cpus> <out.json>
  *     runs one workload: set-up, a timed window of back-to-back
  *     operations, then the hand-off to the checks. With trace=1 blocks of
  *     untraced and traced operations alternate through the window.
  */
object Main {

  private val NlQuestion = """\[NL: “(.*)”\]$""".r.unanchored

  /** The NL question a `QlQueries` entry carries in its doc string. */
  def question(doc: String): Option[String] = doc match {
    case NlQuestion(q) => Some(q)
    case _ => None
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("templates", out) => templates(out)
    case Seq("run", workload, in, work, seconds, trace, cpus, out) =>
      run(workload, in, work, seconds.toInt, trace == "1", cpus, out)
    case _ =>
      System.err.println("usage: Main templates <out> | Main run <workload> <inputs> <work> <seconds> <trace> <cpus> <out>")
      sys.exit(2)
  }

  private def templates(out: String): Unit = {
    val ql = graft.queries.QlQueries.defs.flatMap { d =>
      for (q <- question(d.doc); o <- d.oracle)
        yield Map("name" -> d.name, "question" -> q, "oracle" -> o)
    }
    val nightly = Workloads.NightlyQueries.map { n =>
      n -> graft.SparkEntry.all.find(_.name == n).flatMap(_.oracle).getOrElse("")
    }.toMap
    write(out, Map("ql" -> ql, "nightly" -> nightly))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  /** `Bench`'s session settings, with Spark's scratch space kept in `work`. */
  private def session(cpus: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cumulative steal time of the host's CPUs, from /proc/stat (ms). */
  private def stealMs(): Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) 0.0
    else {
      val cpu = scala.io.Source.fromFile(f).getLines().next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble * 10.0 else 0.0 // USER_HZ = 100
    }
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** VmHWM of this JVM (MB). */
  private def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def run(workload: String, in: String, work: String, seconds: Int, trace: Boolean,
      cpus: String, out: String): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    val tr = new Tracer(spark, new java.io.File("src/main/scala"))
    val w: Workload = workload match {
      case "nightly_refresh" => new Nightly(spark, tr, s"$in/data", s"$work/nightly")
      case "replay_cycles" => new Replay(spark, tr, in, work)
      case "analyst_session" => new Analyst(spark, tr, in, work)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // Traced runs alternate blocks of untraced and traced operations, so
    // both halves see the same warm-up state and the same input mix; the
    // listeners are attached only inside traced blocks. The first
    // operation, still slower than the rest, opens an untraced block and
    // is left out of the comparison, so a traced run takes one more.
    val block = if (workload == "analyst_session") 5 else 1
    val steal0 = stealMs()
    val lat = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Boolean]()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    var afterTotalMs = 0.0
    while (System.nanoTime() < deadline || i < 2 || (trace && (i < 3 || !traced.contains(true)))) {
      val tracedBlock = trace && (i / block) % 2 == 1
      if (tracedBlock && !tr.enabled) {
        if (!traced.contains(true)) heapPools.foreach(_.resetPeakUsage())
        tr.start()
      } else if (!tracedBlock && tr.enabled) tr.stop()
      val s = System.nanoTime()
      w.op(i)
      lat += (System.nanoTime() - s) / 1e6
      traced += tr.enabled
      val a = System.nanoTime()
      w.after(i)
      // bookkeeping counts in neither the window nor the traced time
      val afterMs = (System.nanoTime() - a) / 1e6
      afterTotalMs += afterMs
      if (tr.enabled) tr.tracedMs -= afterMs
      i += 1
    }
    if (tr.enabled) tr.stop()
    // the untraced operations' part of the window
    val windowS = (System.nanoTime() - t0) / 1e9 - (tr.tracedMs + afterTotalMs) / 1e3
    val stealWindow = stealMs() - steal0
    val perLayer =
      if (!trace) Map.empty[String, Double]
      else layers(w, tr, lat.zip(traced).toSeq)
    val extra = w.finish()
    val res = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "latencies_ms" -> lat.toSeq,
      "traced" -> traced.toSeq,
      "window_s" -> windowS,
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "errors" -> w.errors.take(20).toSeq,
      "rows" -> w.rows,
      "steal_ms" -> stealWindow,
      "peak_rss_mb" -> peakRssMb(),
      "per_layer" -> perLayer,
      "extra" -> extra)
    write(out, res)
    if (trace) {
      val spans = tr.allSpans
      write(out.stripSuffix(".json") + "-spans.json", Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)),
        "self_ms" -> tr.selfTimes(spans),
        "job_sites" -> tr.jobs.values.groupBy(j => (j.module, j.site)).toSeq
          .sortBy(-_._2.size).map { case ((m, site), js) =>
            Map("module" -> m, "jobs" -> js.size, "call_site" -> site.linesIterator.take(4).toSeq)
          }))
    }
    spark.stop()
  }

  val Modules = Seq("ingest", "merge", "core", "gold", "streaming", "search",
    "resolve", "ql", "queries", "Pipeline", "harness", "other")

  /** The per-layer record of the traced blocks of the window. Counts and
    * times are per traced operation unless the name says p50. */
  private def layers(w: Workload, tr: Tracer, ops: Seq[(Double, Boolean)]): Map[String, Double] = {
    val tracedMs = tr.tracedMs
    val n = ops.count(_._2).max(1).toDouble
    val untraced = ops.drop(1).filterNot(_._2).map(_._1)
    val tracedLat = ops.filter(_._2).map(_._1)
    val c = tr.counters
    val jobs = tr.jobs.values.filter(_.end >= 0).toSeq
    val activeMs = tr.unionNanos(jobs.map(j => (j.start, j.end))) / 1e6
    def spanP50(name: String) =
      median(tr.spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq)
    val spark = Seq("analysis_ms", "optimization_ms", "planning_ms",
      "codegen_compile_ms", "codegen_compiles", "stages", "tasks", "task_run_ms",
      "task_cpu_ms", "task_gc_ms", "input_bytes", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "output_bytes")
      .map(k => s"spark.$k" -> c(s"spark.$k") / n).toMap ++ Map(
      "spark.jobs" -> jobs.size / n,
      "spark.job_active_ms" -> activeMs / n,
      "spark.driver_gap_ms" -> (tracedMs - activeMs).max(0.0) / n,
      "spark.busy_cores" -> c("spark.task_run_ms") / tracedMs.max(1.0))
    val modules = Modules.flatMap { m =>
      val js = jobs.filter(_.module == m)
      Seq(s"$m.job_ms" -> js.map(j => (j.end - j.start) / 1e6).sum / n,
        s"$m.jobs" -> js.size / n)
    }.toMap
    val queries = Workloads.NightlyQueries.flatMap { q =>
      Seq(s"query.$q.build_ms" -> spanP50(s"query.$q.build"),
        s"query.$q.write_ms" -> spanP50(s"query.$q.write"))
    }.toMap
    val nightly = w match {
      case x: Nightly => Map(
        "pipeline.run_ms" -> spanP50("Pipeline.runMaster"),
        "pipeline.block_attempts" -> median(x.blockAttempts.takeRight(n.toInt).map(_.toDouble).toSeq))
      case _ => Map("pipeline.run_ms" -> 0.0, "pipeline.block_attempts" -> 0.0)
    }
    val replay = w match {
      case r: Replay => Map(
        "streaming.gold_apply_ms" -> spanP50("GoldMaintainer.applyBatch"),
        "streaming.index_apply_ms" -> spanP50("IndexMaintainer.applyBatch"),
        "streaming.init_ms" -> r.initMs,
        "streaming.jobs_per_cycle" -> jobs.size / n) ++ r.stateStats
      case _ => Map("streaming.gold_apply_ms" -> 0.0, "streaming.index_apply_ms" -> 0.0,
        "streaming.init_ms" -> 0.0, "streaming.jobs_per_cycle" -> 0.0,
        "state.versions" -> 0.0, "state.files" -> 0.0, "state.gold_mb" -> 0.0,
        "state.index_mb" -> 0.0)
    }
    val ql = w match {
      case a: Analyst => Map(
        "ql.plan_ms" -> spanP50("Planner.plan"),
        "ql.run_ms" -> spanP50("QueryGuard.run"),
        "ql.denied" -> a.denied.toDouble,
        "ql.repeat_share" -> a.repeats.toDouble / a.timedQuestions.max(1L),
        "ql.compiles_per_query" -> c("spark.codegen_compiles") / n)
      case _ => Map("ql.plan_ms" -> 0.0, "ql.run_ms" -> 0.0, "ql.denied" -> 0.0,
        "ql.repeat_share" -> 0.0, "ql.compiles_per_query" -> 0.0)
    }
    val jvm = Map(
      "jvm.gc_ms" -> c("jvm.gc_ms") / n,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "trace.overhead_pct" ->
        (if (untraced.isEmpty) 0.0 else (median(tracedLat) / median(untraced) - 1.0) * 100.0))
    spark ++ modules ++ queries ++ nightly ++ replay ++ ql ++ jvm
  }
}
