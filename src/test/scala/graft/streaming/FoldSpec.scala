package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.search.IndexMaintain

/** The keyed delta layout across a fold: each maintainer is driven
  * through enough batches that the delta rows pass the fold fraction, so
  * the run has delta versions, a full version written by a fold, and
  * delta versions after it. After EVERY batch the merged state must equal
  * a from-scratch rebuild, and no version's table may carry more than
  * twice the session's parallelism in files: a version is written from
  * at most two scans, and a scan packs any number of small files into
  * about that many partitions. A layout that carries each earlier
  * batch's files forward into every version passes that bound within a
  * few batches.
  */
class FoldSpec extends SparkTestBase {
  import spark.implicits._

  private def kinds(work: String, table: String, versions: Range): Seq[String] =
    versions.map { v =>
      if (new java.io.File(work, s"${table}_v$v/_FULL").exists) "full"
      else if (new java.io.File(work, s"${table}_v$v/_DELTA").exists) "delta"
      else "none"
    }

  private def files(work: String, dir: String): Int =
    Option(new java.io.File(work, dir).list()).toSeq.flatten.count(_.endsWith(".parquet"))

  private def assertFewFiles(work: String, tables: Seq[String], v: Int): Unit =
    tables.foreach { t =>
      val n = files(work, s"${t}_v$v")
      assert(n <= 2 * spark.sparkContext.defaultParallelism, s"$t v$v has $n files")
    }

  test("gold maintainer: state ≡ rebuild before and after a fold; versions stay small") {
    val work = java.nio.file.Files.createTempDirectory("graft-fold-gold").toString
    val li = Tables(spark, sf0001, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
    // a parent left with one child has no gold row: its old row must
    // vanish from the merged read
    def buildGold(f: DataFrame): DataFrame = f.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_tot"))
      .filter(col("n") > 1)
    // batch i replaces (or adds) the parents of one residue class; odd
    // batches shrink them to their first child
    def batch(i: Int): DataFrame = {
      val b = li.filter(col("l_orderkey") % 47 === i).withColumn("qty", col("qty") + i)
      if (i % 2 == 1) b.filter(col("l_linenumber") === 1) else b
    }

    val m = new GoldMaintainer(spark, "l_orderkey", work, buildGold)
    var expected = li.filter(col("l_orderkey") % 3 === 0)
    m.init(expected)
    val n = 9
    for (i <- 1 to n) {
      val b = batch(i)
      m.applyBatch(b)
      expected = expected.join(b.select("l_orderkey").distinct(), Seq("l_orderkey"), "left_anti")
        .unionByName(b)
      assert(sameRows(m.fact, expected), s"fact after batch $i")
      assert(sameRows(m.gold, buildGold(expected)), s"gold after batch $i")
      assertFewFiles(work, Seq("fact", "gold", "keys"), i)
    }
    val k = kinds(work, "fact", 1 to n)
    assert(k.contains("full") && k.lastIndexOf("delta") > k.indexOf("full") &&
      k.indexOf("delta") < k.indexOf("full"), k)
    assert(kinds(work, "gold", 1 to n) == k)
  }

  test("index maintainer: state ≡ rebuild before and after a fold, df-floor drops included") {
    val work = java.nio.file.Files.createTempDirectory("graft-fold-index").toString
    def text(i: Int, salt: Int): String =
      ((0 until 3 + i % 4).map(j => s"w${(i * 7 + j * 3 + salt) % 40}") ++
        (if (i < 2 && salt == 0) Seq("rare") else Nil)).mkString(" ")
    var corpus = (0 until 200).map(i => i.toLong -> text(i, 0)).toMap
    def docs(m: Map[Long, String]) = m.toSeq.toDF("doc_id", "text")

    val m = new IndexMaintainer(spark, work)
    m.init(docs(corpus))
    assert(m.index.filter(col("term") === "rare").count() == 1)
    val n = 5
    for (k <- 0 until n) {
      // three replaced docs (batch 0 drops "rare" below the df floor),
      // three new ones
      val b = ((k * 3 until k * 3 + 3) ++ (200 + k * 3 until 203 + k * 3))
        .map(i => i.toLong -> text(i, k + 1)).toMap
      m.applyBatch(docs(b))
      corpus = corpus ++ b
      val expectedPostings = IndexMaintain.postings(docs(corpus))
      assert(sameRows(m.postingsState, expectedPostings), s"postings after batch $k")
      assert(sameRows(m.index, IndexMaintain.buildIndex(expectedPostings)),
        s"index after batch $k")
      assertFewFiles(work, Seq("postings", "index", "docs", "terms"), k + 1)
    }
    assert(m.index.filter(col("term") === "rare").count() == 0)
    val k = kinds(work, "postings", 1 to n)
    assert(k.contains("full") && k.lastIndexOf("delta") > k.indexOf("full") &&
      k.indexOf("delta") < k.indexOf("full"), k)
    assert(kinds(work, "index", 1 to n) == k)
  }
}
