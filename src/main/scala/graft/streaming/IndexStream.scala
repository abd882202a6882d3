package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.search.IndexMaintain

/** Streaming inverted-index maintenance: document micro-batches (new
  * docs and whole-document updates; one row per doc_id per batch) drive
  * the delta-bounded refresh of [[IndexMaintain]] via foreachBatch —
  * each batch touches only its own vocabulary, so the per-batch cost
  * tracks the batch, not the corpus.
  *
  * State is two keyed tables in [[KeyedVersions]] delta layout: postings
  * keyed by doc id (key set `docs`: the batch's doc ids) and the index
  * keyed by term (key set `terms`: the affected terms — every term a
  * replaced doc used to mention or a batch doc mentions now). A batch
  * version holds the batch's postings and the affected terms' recomputed
  * index rows; a term that drops below the df floor is in the key set
  * but has no row, so it vanishes from the merged index. No state table
  * is rewritten, except by the fold every few tens of batches.
  */
final class IndexMaintainer(spark: SparkSession, workDir: String) {

  private val state = new KeyedVersions(spark, workDir, Seq(
    KeyedVersions.Table("postings", "doc_id", "docs"),
    KeyedVersions.Table("index", "term", "terms")))

  def init(docs0: DataFrame): Unit = synchronized {
    // one cached tokenize feeds both concurrent writes (guide §2.6)
    val p0 = IndexMaintain.postings(docs0).cache()
    try state.init("postings" -> p0, "index" -> IndexMaintain.buildIndex(p0))
    finally { p0.unpersist(blocking = false); () }
  }

  def postingsState: DataFrame = synchronized { state.read("postings") }
  def index: DataFrame = synchronized { state.read("index") }

  /** Resume from the latest committed version on disk — a restarted
    * maintainer continues where the crashed one stopped; a torn version
    * (postings written, index not) is skipped. */
  def recover(): Int = synchronized { state.recover() }

  /** One micro-batch of documents(doc_id, text): four concurrent writes —
    * the batch's postings, its doc ids, the affected terms, and those
    * terms' index rows recomputed over the spliced postings. */
  def applyBatch(batch: DataFrame): Unit = synchronized {
    val delta = batch.select(col("doc_id"), col("text"))
    // one row per doc_id per batch: the ids need no distinct
    val ids = delta.select(col("doc_id"))
    val prev = postingsState
    // the affected terms are one narrow scan, run by both the terms write
    // and the recompute: reading the recompute's set back from the
    // written terms serializes the two, and measured slower per batch
    val affected = IndexMaintain.affectedTerms(prev, delta)
    val terms = affected.select(col("w").as("term"))
    val next = state.begin()
    graft.core.Par.run(
      () => next.write("postings", IndexMaintain.postings(delta), ids),
      () => next.writeKeys("docs", ids),
      () => next.writeKeys("terms", terms),
      () => next.write("index", IndexMaintain.recompute(prev, delta, affected), terms))
    // an empty batch leaves no version: the uncommitted directories are
    // cleared by the next begin()
    if (VersionedState.rowCount(spark, state.path("docs", next.v)) > 0) next.commit()
  }

  def start(docs: DataFrame, queryName: String): StreamingQuery =
    docs.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => applyBatch(batch) }
      .start()
}
