package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Pipeline, SparkEntry}
import graft.ql.{Planner, QueryGuard}
import graft.streaming.{GoldMaintainer, IndexMaintainer, VersionedState}

/** One workload: `setup` loads inputs and warms up, `op` is one timed
  * operation, `after` is the untimed bookkeeping that follows it, `finish`
  * runs after the timed window and hands the checks what they need.
  * `attempted`/`failed` count operations; `rows` counts input rows the
  * operations applied. */
abstract class Workload(val spark: SparkSession, val tr: Tracer) {
  var attempted = 0L
  var failed = 0L
  var rows = 0L
  val errors = scala.collection.mutable.ArrayBuffer[String]()
  def setup(): Unit
  def op(i: Int): Unit
  def after(i: Int): Unit = ()
  def finish(): Map[String, Any]

  protected def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) =>
        errors += s"$what: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        false
    }
    if (!ok) failed += 1
  }

  /** Drops what an operation left cached, as the program's `Bench` does
    * between queries, so one operation does not slow the next. */
  protected def dropLeftovers(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Workloads {
  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()
  def files(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum else 1L
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  /** The eight nightly `QueryDef`s: the reference's five MVs and the
    * three person-dedup tiers. */
  val NightlyQueries = Seq(
    "mv_firs_full", "mv_accuseds", "mv_advanced_search_firs",
    "mv_advanced_search_full", "mv_profiles",
    "e1_fingerprint_dedup", "e2_blocked_fuzzy", "e3_weighted_identity")
}

/** `Pipeline.runMaster` into a fresh work dir, then each nightly
  * `QueryDef` built and written as parquet. One pass is one operation. */
final class Nightly(spark: SparkSession, tr: Tracer, data: String, work: String)
    extends Workload(spark, tr) {
  private val defs = Workloads.NightlyQueries.map(n =>
    SparkEntry.all.find(_.name == n).getOrElse(sys.error(s"no QueryDef $n")))
  private var lastDir: java.io.File = _
  private var lastLog: Seq[(String, String)] = Nil
  private var lastBlocks: Seq[graft.Orchestrator.BlockRun] = Nil
  val passBytes = scala.collection.mutable.ArrayBuffer[Long]()
  val blockAttempts = scala.collection.mutable.ArrayBuffer[Long]()

  private def pass(dir: String): Unit = tr.span("nightly.pass") {
    attempt("Pipeline.runMaster") {
      val (report, log) = tr.span("Pipeline.runMaster") {
        Pipeline.runMaster(spark, data, s"$dir/pipeline")
      }
      lastLog = log
      lastBlocks = report.blocks
      blockAttempts += report.blocks.map(_.attempts.toLong).sum
      report.blocks.filter(b => b.status != "ok" && b.status != "skipped_duplicate")
        .foreach(b => errors += s"block ${b.name}: ${b.status} ${b.error.getOrElse("")}")
      report.succeeded && report.blocks.forall(_.attempts <= 1)
    }
    defs.foreach { q =>
      attempt(q.name) {
        val df = tr.span(s"query.${q.name}.build") { q.run(spark, data) }
        tr.span(s"query.${q.name}.write") {
          df.write.mode("overwrite").parquet(s"$dir/out/${q.name}")
        }
        true
      }
    }
  }

  /** One warm-up pass. The first timed pass still runs about a tenth
    * slower than the next; a second warm-up pass would remove that but
    * costs more set-up time than the benchmark's run budget allows. */
  def setup(): Unit = {
    pass(s"$work/warmup")
    Workloads.rm(new java.io.File(s"$work/warmup"))
    dropLeftovers()
  }

  def op(i: Int): Unit = pass(s"$work/pass$i")

  /** Sizes what the pass wrote and keeps only the newest pass for the
    * output checks. */
  override def after(i: Int): Unit = {
    val dir = new java.io.File(s"$work/pass$i")
    passBytes += Workloads.du(dir)
    if (lastDir != null) Workloads.rm(lastDir)
    lastDir = dir
    dropLeftovers()
  }

  def finish(): Map[String, Any] = Map(
    "out_dir" -> s"${lastDir.getPath}/out",
    "queries" -> Workloads.NightlyQueries,
    "pipeline_log" -> lastLog.map { case (k, v) => Seq(k, v) },
    "blocks" -> lastBlocks.map(b => Map("name" -> b.name, "attempts" -> b.attempts,
      "status" -> b.status)),
    "pass_bytes" -> passBytes.toSeq,
    "block_attempts" -> blockAttempts.toSeq)
}

/** `GoldMaintainer` over the lineitem fact (the gold rollup of
  * `st_gold_replay_parity`) and `IndexMaintainer` over the documents,
  * fed one fact drop then one document drop per cycle. One cycle is one
  * operation. Old state versions are left where the maintainers put them. */
final class Replay(spark: SparkSession, tr: Tracer, in: String, work: String)
    extends Workload(spark, tr) {
  private val FactSchema = StructType.fromDDL(
    "l_orderkey BIGINT, qty BIGINT, l_returnflag STRING, l_extendedprice DOUBLE")
  private val DocSchema = StructType.fromDDL("doc_id BIGINT, text STRING")
  private val Warmup = 2

  private def gold(fact: DataFrame): DataFrame = fact.groupBy(col("l_orderkey"))
    .agg(count(lit(1)).as("n_items"),
      sum(col("qty")).cast("long").as("qty_tot"),
      sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long").as("n_returned"),
      floor(max(col("l_extendedprice"))).cast("long").as("max_price"))

  private val gm = new GoldMaintainer(spark, "l_orderkey", s"$work/state/gold", gold)
  private val im = new IndexMaintainer(spark, s"$work/state/index")
  private var next = 0
  var initMs = 0.0

  private def drop(kind: String, c: Int) = f"$in/drops/${kind}_$c%04d.parquet"

  private def cycle(): Unit = {
    val c = next
    next += 1
    tr.span("replay.cycle") {
      attempt(s"gold batch $c") {
        val p = drop("fact", c)
        tr.span("GoldMaintainer.applyBatch") {
          gm.applyBatch(spark.read.schema(FactSchema).parquet(p))
        }
        true
      }
      attempt(s"index batch $c") {
        val p = drop("docs", c)
        tr.span("IndexMaintainer.applyBatch") {
          im.applyBatch(spark.read.schema(DocSchema).parquet(p))
        }
        true
      }
    }
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    tr.span("streaming.init") {
      gm.init(spark.read.schema(FactSchema).parquet(s"$in/fact0.parquet"))
      im.init(spark.read.schema(DocSchema).parquet(s"$in/docs0.parquet"))
    }
    initMs = (System.nanoTime() - t0) / 1e6
    (0 until Warmup).foreach(_ => cycle())
  }

  def op(i: Int): Unit = cycle()

  /** Counts the rows of the cycle's two drops from their footers. */
  override def after(i: Int): Unit =
    rows += Seq("fact", "docs").map(k => VersionedState.rowCount(spark, drop(k, next - 1))).sum

  /** Size of the maintainers' state as they left it. */
  def stateStats: Map[String, Double] = {
    val state = new java.io.File(s"$work/state")
    def dir(d: String) = new java.io.File(state, d)
    Map(
      "state.versions" -> Seq("gold", "index")
        .map(d => Option(dir(d).list()).toSeq.flatten.size).sum.toDouble,
      "state.files" -> Workloads.files(state).toDouble,
      "state.gold_mb" -> Workloads.du(dir("gold")) / 1048576.0,
      "state.index_mb" -> Workloads.du(dir("index")) / 1048576.0)
  }

  def finish(): Map[String, Any] = {
    val stats = stateStats
    // exported after the window, for the from-scratch comparison
    gm.fact.write.parquet(s"$work/final/fact")
    gm.gold.write.parquet(s"$work/final/gold")
    im.index.write.parquet(s"$work/final/index")
    stats ++ Map("final_dir" -> s"$work/final", "cycles_applied" -> next,
      "init_ms" -> initMs)
  }
}

/** NL questions through `Planner.plan` then `QueryGuard.run` with its
  * default 100-row cap, one client, closed loop. One question is one
  * operation. */
final class Analyst(spark: SparkSession, tr: Tracer, in: String, work: String)
    extends Workload(spark, tr) {
  private val data = s"$in/data"
  private val questions: IndexedSeq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$in/questions.json"))
    (0 until root.size()).map { i =>
      val q = root.get(i)
      (q.get("question").asText(), q.get("oracle").asText())
    }
  }
  private val asked = scala.collection.mutable.HashSet[String]()
  private val answers = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
  var denied = 0L
  var repeats = 0L
  var timedQuestions = 0L

  private def stamp(t: java.time.LocalDateTime): String = {
    val s = t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    if (t.getNano == 0) s else f"$s.${t.getNano / 1000}%06d"
  }

  /** A result cell as the checks compare it: timestamps in UTC as
    * `yyyy-MM-dd HH:mm:ss[.ffffff]`, decimals as doubles. */
  private def value(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp =>
      stamp(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.LocalDateTime => stamp(t)
    case t: java.time.Instant => stamp(t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => b.doubleValue
    case s: scala.collection.Seq[_] => s.map(value)
    case x => x
  }

  private def ask(q: String, oracle: String, record: Boolean): Unit = tr.span("ql.question") {
    if (record) {
      timedQuestions += 1
      if (asked.contains(q)) repeats += 1
    }
    asked += q
    attempt(s"question '$q'") {
      val plan = tr.span("Planner.plan") { Planner.plan(q) }
      tr.span("QueryGuard.run") { QueryGuard.run(spark, data, plan.sql) } match {
        case Left(d) =>
          denied += 1
          errors += s"denied '$q': ${d.reason}"
          false
        case Right(res) =>
          if (record && !answers.contains(q))
            answers(q) = Map("question" -> q, "oracle" -> oracle,
              "columns" -> res.columns.toSeq,
              "rows" -> res.rows.toSeq.map((r: Row) => r.toSeq.map(value)))
          true
      }
    }
  }

  /** Warm-up: every fifth gated template once, with its own literals. */
  def setup(): Unit = {
    graft.queries.QlQueries.defs.flatMap(d => Main.question(d.doc)).zipWithIndex
      .collect { case (q, i) if i % 5 == 0 => q }
      .foreach(ask(_, "", record = false))
  }

  def op(i: Int): Unit = {
    val (q, o) = questions(i % questions.size)
    ask(q, o, record = true)
  }

  def finish(): Map[String, Any] = {
    val f = s"$work/answers.json"
    Main.write(f, answers.values.toSeq)
    Map("answers" -> f, "denied" -> denied, "repeats" -> repeats,
      "timed_questions" -> timedQuestions, "distinct_answers" -> answers.size)
  }
}
