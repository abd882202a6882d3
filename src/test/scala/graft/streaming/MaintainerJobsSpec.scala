package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables

/** Job-count ceilings for one delta batch of each replay maintainer on a
  * fixed tiny input, the way PlanAssertionSpec pins plan shapes: a delta
  * batch writes only its own rows and key sets, so a change that brings
  * back full-state rewrites, a header count, an emptiness probe or a
  * re-derived key set shows up here as extra Spark jobs. The counts
  * include the adaptive executor's per-stage jobs.
  */
class MaintainerJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs started by `body`, on any thread it spawns. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val seen = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.incrementAndGet(): Unit
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "maintainer batch")
      try body finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the fence job's
      // start arrives, every job of the body has been counted
      sc.setJobGroup(fence, "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS))
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  test("one gold delta batch stays within its job ceiling") {
    val work = java.nio.file.Files.createTempDirectory("graft-jobs-gold").toString
    val li = Tables(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
    def gold(f: DataFrame): DataFrame =
      f.groupBy(col("l_orderkey")).agg(sum(col("qty")).as("qty_tot"))
    val m = new GoldMaintainer(spark, "l_orderkey", work, gold)
    m.init(li.filter(col("l_orderkey") % 3 === 0))
    val batch = li.filter(col("l_orderkey") % 51 === 0)
    val jobs = jobsOf(m.applyBatch(batch))
    assert(new java.io.File(work, "fact_v1/_DELTA").exists)
    assert(jobs <= GoldCeiling, s"$jobs jobs for one gold batch (ceiling $GoldCeiling)")
  }

  test("one index delta batch stays within its job ceiling") {
    val work = java.nio.file.Files.createTempDirectory("graft-jobs-index").toString
    val m = new IndexMaintainer(spark, work)
    m.init(Seq((1L, "spark index spark"), (2L, "index merge"), (3L, "merge spark state"))
      .toDF("doc_id", "text"))
    val batch = Seq((2L, "fresh words"), (4L, "state words")).toDF("doc_id", "text")
    val jobs = jobsOf(m.applyBatch(batch))
    assert(new java.io.File(work, "postings_v1/_DELTA").exists)
    assert(jobs <= IndexCeiling, s"$jobs jobs for one index batch (ceiling $IndexCeiling)")
  }

  // Measured on these inputs. Full-state versions took 13 (gold) and 19
  // (index) jobs here.
  private val GoldCeiling = 5
  private val IndexCeiling = 10
}
