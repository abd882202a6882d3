package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one benchmark operation share `op`;
  * `parent` is the id of the enclosing span (0 for an operation's root).
  * Times are epoch nanoseconds so Spark's listener timestamps (epoch ms)
  * and the harness's own spans sit on one axis. */
final case class Span(id: Long, op: Long, name: String, parent: Long, start: Long, end: Long)

/** In-memory tracer for the traced run. The harness opens a span around
  * each call into the program; the Spark listeners add one span per job,
  * parented to the harness span that was open on the submitting thread
  * (carried as a job local property, which Spark copies to the threads a
  * caller spawns). Spans stay in memory; the harness writes them out when
  * the run ends. */
final class Tracer(spark: SparkSession, srcRoot: java.io.File) {
  private val sc: SparkContext = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis() * 1000000L
  def now(): Long = t0Epoch + (System.nanoTime() - t0Nanos)

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  var enabled = false

  /** Runs `body` as a span named `name`; a span with no open parent
    * starts a new operation. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val (parent, op) = stack.headOption.getOrElse((0L, id))
      stack = (id, op) :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      sc.setLocalProperty(Tracer.OpProp, op.toString)
      val start = now()
      try body
      finally {
        val end = now()
        spans.synchronized { spans += Span(id, op, name, parent, start, end) }
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_._1.toString).orNull)
        sc.setLocalProperty(Tracer.OpProp, stack.headOption.map(_._2.toString).orNull)
      }
    }

  // ---- module of a job's call site --------------------------------------

  /** Source file name -> module: the directory under `graft/` that holds
    * it, `Pipeline` for Pipeline.scala, `harness` for this benchmark's
    * own files, `other` for anything else. */
  private val moduleOf: Map[String, String] = {
    val graft = new java.io.File(srcRoot, "graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(graft).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = graft.toPath.relativize(f.toPath)
      val m = if (rel.getNameCount > 1) rel.getName(0).toString
              else if (f.getName == "Pipeline.scala") "Pipeline" else "other"
      f.getName -> m
    }.toMap ++ Seq("Main.scala", "Workloads.scala", "Trace.scala").map(_ -> "harness")
  }
  /** Module of the first frame of a call-site stack (one frame per line,
    * innermost first, as Spark's long call site) whose file is known. */
  def module(stack: String): String = {
    val File = """\(([^():]+):\d+\)""".r.unanchored
    stack.linesIterator.collectFirst {
      case l @ File(f) if moduleOf.contains(f) && !Tracer.Library.exists(l.trim.startsWith) =>
        moduleOf(f)
    }.getOrElse("other")
  }

  // ---- Spark listeners ----------------------------------------------------

  final class JobRec(val id: Int, val start: Long, val span: Long, val op: Long,
      val site: String, val module: String) { var end: Long = -1L }
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  // SQL actions may submit their jobs from a helper thread whose own call
  // site is a JDK frame; the execution-start event carries the call site
  // of the thread that ran the action.
  private val sqlSites = mutable.HashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { sqlSites(s.executionId) = s.details }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
        .orElse(prop("callSite.long")).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, e.time * 1000000L,
        prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
        prop(Tracer.OpProp).map(_.toLong).getOrElse(0L), site, module(site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      add("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_ms", m.executorRunTime.toDouble)
        add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.task_gc_ms", m.jvmGCTime.toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { k =>
          ph.get(k).foreach(s => add(s"spark.${k}_ms", s.durationMs.toDouble))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.metrics.source.CodegenMetrics
  private var compile0 = 0L
  private var compiles0 = 0L

  private var gc0 = 0.0
  private var block0 = 0L
  /** Wall time spent with tracing on, over all traced blocks (ms). */
  var tracedMs = 0.0

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Starts a traced block of operations. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    compile0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    gc0 = gcMs()
    block0 = System.nanoTime()
    enabled = true
  }

  /** Ends a traced block; waits for Spark's listener bus to deliver every
    * event of the block first, outside any operation's time. */
  def stop(): Unit = {
    enabled = false
    tracedMs += (System.nanoTime() - block0) / 1e6
    add("jvm.gc_ms", gcMs() - gc0)
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    add("spark.codegen_compile_ms", (CodeGenerator.compileTime - compile0) / 1e6)
    add("spark.codegen_compiles",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
  }

  /** Harness spans plus one `job:<module>` span per Spark job. */
  def allSpans: Seq[Span] = spans.toSeq ++ jobs.values.filter(_.end >= 0).map { j =>
    Span(-j.id.toLong - 1, j.op, s"job:${j.module}", j.span, j.start, j.end)
  }

  /** Total length of the union of intervals. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval its children cover, summed over spans of that name (ms). */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(x => x._2 > x._1)
        (s.end - s.start - unionNanos(c)) / 1e6
      }.sum
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"
  val Library = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
}
