package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental inverted-index maintenance — the index-side analog of
  * `gold/GoldIncremental`: when a delta batch of documents arrives (new
  * docs and whole-document updates), refresh the term index touching
  * only the TERMS the delta mentions, never rebuilding the
  * corpus-wide aggregate.
  *
  * State grain: the (term, doc, tf) postings table — the same relation
  * `ir1_inverted_index` aggregates. Maintenance is two delta-bounded
  * steps:
  *
  *   1. postings splice: drop the replaced docs' rows (broadcast anti
  *      join — the base NEVER shuffles), append the delta's rows;
  *   2. term-stats splice: recompute the index rows ONLY for affected
  *      terms (any term in a removed or added posting — semi-joined from
  *      the spliced postings), keep every other index row as-is
  *      (broadcast anti join again).
  *
  * At 100 TB the cost is |delta postings| + |affected-term postings|,
  * both delta-proportional (affected terms are the delta's vocabulary —
  * stop-word-like terms make the recompute set wider but it is still
  * term-bounded, never corpus-bounded). IndexMaintainSpec proves
  * incremental ≡ from-scratch rebuild, including deleted-then-silent
  * terms and df threshold crossings in both directions.
  */
object IndexMaintain {

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))

  /** Tokenize documents(doc_id, text) to the postings grain. */
  def postings(docs: DataFrame): DataFrame =
    tokens(docs).groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("tf"))

  /** The ir1-shaped index: term, df, cf, tf-impact-ordered top-3
    * posting head; terms with df < minDf dropped. */
  def buildIndex(postings: DataFrame, minDf: Int = 2): DataFrame = {
    val wW = Window.partitionBy(col("w")).orderBy(col("tf").desc, col("doc_id"))
    postings.withColumn("rn", row_number().over(wW))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        concat_ws(",", transform(
          array_sort(collect_list(when(col("rn") <= 3,
            struct(col("rn"), concat_ws(":", col("doc_id"), col("tf")).as("s"))))),
          x => x.getField("s"))).as("posting_head"))
      .filter(col("df") >= minDf)
      .select(col("w").as("term"), col("df"), col("cf"), col("posting_head"))
  }

  /** Splice a delta batch (new + whole-document-replaced docs; one row
    * per doc_id) into the postings state. The base side is only ever
    * anti-joined against the (broadcastable) delta doc-id set — no base
    * shuffle. */
  def splicePostings(base: DataFrame, deltaDocs: DataFrame): DataFrame =
    // re-select: the USING join hoists doc_id to the front; keep the
    // postings grain's canonical (w, doc_id, tf) order
    base.join(broadcast(deltaDocs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .select(col("w"), col("doc_id"), col("tf"))
      .unionByName(postings(deltaDocs))

  /** Terms whose index rows a delta batch changes: everything the
    * replaced docs used to mention in `basePostings`, plus everything the
    * delta docs mention now — both delta-bounded. A term may repeat:
    * every consumer is a semi- or anti-join, and without a distinct the
    * set is one narrow scan, no shuffle. */
  def affectedTerms(basePostings: DataFrame, deltaDocs: DataFrame): DataFrame =
    basePostings.join(broadcast(deltaDocs.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .select(col("w"))
      .unionByName(tokens(deltaDocs).select(col("w")))

  /** The `affected` terms' index rows over the postings after the delta:
    * terms that fall below `minDf` have no row. The recompute's window
    * input is hash-partitioned by term over the session's parallelism:
    * left to adaptive coalescing, a delta-sized input lands in one
    * partition and the window's sort runs as a single task. */
  def recompute(basePostings: DataFrame, deltaDocs: DataFrame,
      affected: DataFrame, minDf: Int = 2): DataFrame =
    buildIndex(splicePostings(basePostings, deltaDocs)
      .join(broadcast(affected), Seq("w"), "left_semi")
      .repartition(basePostings.sparkSession.sparkContext.defaultParallelism, col("w")), minDf)

  /** Refresh the index given the OLD postings state and the delta batch
    * (one row per doc_id). Returns (new postings state, new index). Only
    * affected terms' index rows are recomputed; every other index row is
    * kept as-is (broadcast anti join against the affected terms). */
  def refresh(basePostings: DataFrame, baseIndex: DataFrame,
      deltaDocs: DataFrame, minDf: Int = 2): (DataFrame, DataFrame) = {
    val affected = affectedTerms(basePostings, deltaDocs)
    val untouched = baseIndex.join(
      broadcast(affected.select(col("w").as("term"))), Seq("term"), "left_anti")
    (splicePostings(basePostings, deltaDocs),
      untouched.unionByName(recompute(basePostings, deltaDocs, affected, minDf)))
  }
}
