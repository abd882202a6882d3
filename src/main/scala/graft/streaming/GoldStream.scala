package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental MV maintenance (SURVEY.md §3.2 + §4): the
  * reference rebuilds its gold MVs wholesale on a schedule; here a
  * Structured Streaming `foreachBatch` sink applies each micro-batch of
  * fact deltas as a changed-key splice — O(touched parents) per batch,
  * never a full rebuild.
  *
  * Batch contract: a micro-batch carries the FULL new child set for
  * every parent it touches (the child-replace S8 semantics — the
  * reference's ingestion emits whole parents, not row diffs).
  *
  * State is two keyed tables in [[KeyedVersions]] delta layout, fact and
  * gold, sharing one key set per version: the batch's parents.
  * A batch version holds the batch itself as the fact segment and
  * `buildGold(batch)` as the gold segment — the contract makes the batch
  * the complete child set of each parent it names, so the recompute
  * needs no read of the prior state. The three writes run concurrently
  * and no state table is rewritten; reads merge the last full version
  * with the later segments, and every few tens of batches a fold writes
  * the merged state as a new full version.
  */
final class GoldMaintainer(
    spark: SparkSession,
    parentKey: String,
    workDir: String,
    buildGold: DataFrame => DataFrame,
    trackMetrics: Boolean = false) {

  private val state = new KeyedVersions(spark, workDir, Seq(
    KeyedVersions.Table("fact", parentKey, "keys"),
    KeyedVersions.Table("gold", parentKey, "keys")))

  /** Per-batch throughput/state metrics (SURVEY §2.11 A13 ≅
    * StreamingQueryListener progress): rows processed, keys touched, and
    * the maintained state sizes after each batch. Off by default: a delta
    * version's footers hold only the batch, so the counts take one action
    * per batch over the batch and the merged state, spent only when
    * metrics are on. Init's counts are its footers. Oracle-gated by
    * st_metrics_parity. */
  private val metricsBuf =
    scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Long)]()

  /** (batch_id, rows_in, keys_touched, state_rows, gold_rows) per applied
    * batch, init included as batch 0. */
  def metrics: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    metricsBuf.toSeq
      .toDF("batch_id", "rows_in", "keys_touched", "state_rows", "gold_rows")
  }

  /** Seed v0 from the initial fact state; builds the initial gold. Both
    * writes run CONCURRENTLY (guide §2.6): the gold build reads the same
    * lazy seed frame the fact write persists — one source scan each,
    * same total I/O as write-then-rescan, but the two job chains overlap
    * instead of serializing on a mostly-idle session. */
  def init(fact0: DataFrame): Unit = synchronized {
    state.init("fact" -> fact0, "gold" -> buildGold(fact0))
    metricsBuf.clear()
    if (trackMetrics) {
      // batch 0 = init: rows_in is the seeded fact size, keys_touched its
      // distinct parents (== gold rows); both are footer metadata.
      val n = VersionedState.rowCount(spark, state.path("fact", 0))
      val g = VersionedState.rowCount(spark, state.path("gold", 0))
      metricsBuf += ((0, n, g, n, g))
    }
  }

  def fact: DataFrame = synchronized { state.read("fact") }
  def gold: DataFrame = synchronized { state.read("gold") }

  /** Resume from the latest committed version on disk; a torn version
    * from a crash inside a batch is skipped. */
  def recover(): Int = synchronized { state.recover() }

  /** One micro-batch: the batch replaces its parents' children in the
    * fact state, and their recomputed gold rows replace theirs. */
  def applyBatch(batch0: DataFrame): Unit = synchronized {
    // persist the micro-batch ONCE: all three writes read it, and an
    // un-cached foreachBatch frame re-scans its source on every action —
    // measured 5× the input rows in the listener's numInputRows before
    // this cache
    val batch = batch0.persist()
    try {
      val next = state.begin()
      val rows = batch.select(state.schema("fact").fieldNames.map(col).toIndexedSeq: _*)
      // a parent may repeat: the key set is only ever anti-joined, and
      // without a distinct its write is one narrow job
      val keys = rows.select(col(parentKey))
      graft.core.Par.run(
        () => next.write("fact", rows, keys),
        () => next.write("gold", buildGold(rows), keys),
        () => next.writeKeys("keys", keys))
      // an empty batch leaves no version: the uncommitted directories are
      // cleared by the next begin()
      if (VersionedState.rowCount(spark, state.path("keys", next.v)) == 0) return
      next.commit()
      if (trackMetrics) {
        // one action: the batch's rows and distinct parents, and the
        // merged fact and gold sizes
        val c = rows.agg(count(lit(1)), count_distinct(col(parentKey)))
          .crossJoin(fact.agg(count(lit(1))))
          .crossJoin(gold.agg(count(lit(1))))
          .head()
        metricsBuf += ((next.v, c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)))
      }
    } finally { batch.unpersist(blocking = false); () }
  }

  /** Attach to a streaming delta source; each micro-batch maintains the
    * gold table incrementally. */
  def start(deltas: DataFrame, queryName: String): StreamingQuery =
    deltas.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => applyBatch(batch) }
      .start()
}
