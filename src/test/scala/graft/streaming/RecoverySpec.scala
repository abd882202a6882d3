package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.search.IndexMaintain

/** Crash recovery for the parquet-versioned maintainers: a NEW instance
  * pointed at the same workDir must resume from the latest fully
  * committed version — including when a crash left a torn version
  * (first table written, second not).
  */
class RecoverySpec extends SparkTestBase {
  import spark.implicits._

  test("index maintainer: restart resumes the exact state; torn versions are skipped") {
    val work = java.nio.file.Files.createTempDirectory("graft-recover-ix").toString
    val a = new IndexMaintainer(spark, work)
    a.init(Seq((1L, "spark index spark"), (2L, "index merge"))
      .toDF("doc_id", "text"))
    a.applyBatch(Seq((3L, "merge spark state")).toDF("doc_id", "text"))
    a.applyBatch(Seq((2L, "fresh words")).toDF("doc_id", "text"))

    // fresh instance, same directory: resumes at v2 with identical state
    val b = new IndexMaintainer(spark, work)
    assert(b.recover() == 2)
    assert(sameRows(b.index, a.index))
    assert(sameRows(b.postingsState, a.postingsState))

    // torn version: postings_v3 committed, index_v3 missing → still v2
    val torn = new java.io.File(work, "postings_v3")
    torn.mkdirs()
    new java.io.File(torn, "_SUCCESS").createNewFile()
    assert(new IndexMaintainer(spark, work).recover() == 2)
    // an uncommitted (markerless) index_v3 doesn't change that
    new java.io.File(work, "index_v3").mkdirs()
    assert(new IndexMaintainer(spark, work).recover() == 2)

    // the recovered instance keeps maintaining: next batch lands as v3
    // (overwriting the torn leftovers) and equals a from-scratch rebuild
    b.applyBatch(Seq((4L, "state words")).toDF("doc_id", "text"))
    val finalCorpus = Seq((1L, "spark index spark"), (2L, "fresh words"),
      (3L, "merge spark state"), (4L, "state words")).toDF("doc_id", "text")
    assert(sameRows(b.index,
      IndexMaintain.buildIndex(IndexMaintain.postings(finalCorpus))))
  }

  test("drift monitor: restart resumes the running histogram") {
    val work = java.nio.file.Files.createTempDirectory("graft-recover-dr").toString
    val ref = Seq.tabulate(100)(i => i.toDouble).toDF("value")
    val a = new DriftMonitor(spark, work, bucketWidth = 50.0, nBuckets = 10)
    a.init(ref, "value")
    a.applyBatch(Seq(10.0, 470.0, 480.0).toDF("value"), "value")
    a.applyBatch(Seq(490.0, 20.0).toDF("value"), "value")

    val b = new DriftMonitor(spark, work, bucketWidth = 50.0, nBuckets = 10)
    assert(b.recover() == 2)
    assert(sameRows(b.currentHistogram, a.currentHistogram))
    assert(math.abs(b.psi() - a.psi()) < 1e-12)
  }

  test("recover on an empty directory refuses loudly instead of inventing v0") {
    val work = java.nio.file.Files.createTempDirectory("graft-recover-empty").toString
    intercept[IllegalStateException] {
      new IndexMaintainer(spark, work).recover()
    }
  }

  test("gold maintainer: restart resumes fact+gold at the committed pair") {
    val work = java.nio.file.Files.createTempDirectory("graft-recover-gold").toString
    def buildGold(fact: org.apache.spark.sql.DataFrame) =
      fact.groupBy(col("k")).agg(sum(col("v")).as("total"))
    val a = new GoldMaintainer(spark, "k", work, buildGold)
    a.init(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    a.applyBatch(Seq((2L, 25L)).toDF("k", "v"))

    val b = new GoldMaintainer(spark, "k", work, buildGold)
    assert(b.recover() == 1)
    assert(sameRows(b.gold, a.gold))
    assert(sameRows(b.fact, a.fact))
  }

  test("torn delta versions: recovery lands on the previous version; re-applying equals one application") {
    def rm(work: String, path: String): Unit =
      VersionedState.deleteRec(new java.io.File(work, path))

    // gold: both row tables committed, one marker written, key set missing
    val gw = java.nio.file.Files.createTempDirectory("graft-recover-torn-gold").toString
    val li = graft.core.Tables(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity").cast("long").as("v"))
    def buildGold(fact: org.apache.spark.sql.DataFrame) =
      fact.groupBy(col("k")).agg(sum(col("v")).as("total"))
    val fact0 = li.filter(col("k") % 4 === 0)
    val b1 = li.filter(col("k") === 4L).withColumn("v", col("v") + 1)
    val b2 = li.filter(col("k") === 8L || col("k") === 9L).withColumn("v", col("v") * 2)
    val g = new GoldMaintainer(spark, "k", gw, buildGold)
    g.init(fact0)
    g.applyBatch(b1)
    g.applyBatch(b2)
    assert(new java.io.File(gw, "fact_v2/_DELTA").exists, "batch 2 must be a delta version")
    rm(gw, "keys_v2")
    rm(gw, "gold_v2/_DELTA")
    val g2 = new GoldMaintainer(spark, "k", gw, buildGold)
    assert(g2.recover() == 1)
    g2.applyBatch(b2)
    val once = Seq(b1, b2).foldLeft(fact0) { (f, b) =>
      f.join(b.select("k").distinct(), Seq("k"), "left_anti").unionByName(b)
    }
    assert(sameRows(g2.fact, once))
    assert(sameRows(g2.gold, buildGold(once)))

    // index: postings and both key sets committed, the sibling index
    // table missing
    val iw = java.nio.file.Files.createTempDirectory("graft-recover-torn-ix").toString
    val corpus0 = (0 until 40).map(i => i.toLong ->
      (0 until 4).map(j => s"w${(i * 5 + j * 3) % 17}").mkString(" "))
    val d1 = Seq((3L, "w1 w2 fresh"))
    val d2 = Seq((5L, "w3 fresh again"), (40L, "w4 w5"))
    val a = new IndexMaintainer(spark, iw)
    a.init(corpus0.toDF("doc_id", "text"))
    a.applyBatch(d1.toDF("doc_id", "text"))
    a.applyBatch(d2.toDF("doc_id", "text"))
    assert(new java.io.File(iw, "postings_v2/_DELTA").exists, "batch 2 must be a delta version")
    rm(iw, "index_v2")
    rm(iw, "postings_v2/_DELTA")
    val b = new IndexMaintainer(spark, iw)
    assert(b.recover() == 1)
    b.applyBatch(d2.toDF("doc_id", "text"))
    val finalCorpus = (corpus0.toMap ++ d1 ++ d2).toSeq.toDF("doc_id", "text")
    assert(sameRows(b.postingsState, IndexMaintain.postings(finalCorpus)))
    assert(sameRows(b.index,
      IndexMaintain.buildIndex(IndexMaintain.postings(finalCorpus))))
  }
}
