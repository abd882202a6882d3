package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental gold-table maintenance (SURVEY.md §4 "incremental
  * processing" + §3.2): instead of rebuilding an entire MV three times a
  * day like the reference, recompute ONLY the parents whose children
  * changed and splice them in with the child-replace kernel.
  *
  * At 100 TB this turns the refresh from O(full fact table) into
  * O(touched parent groups): the changed-key set prunes both the gold
  * rewrite (replaceWhere on parent id) and the recompute scan (semi-join
  * pushes the key filter to the fact scan).
  */
object GoldIncremental {

  /** @param goldPrev      current gold table (one row per parentKey)
    * @param changedKeys   frame holding the parent keys touched this run
    * @param recompute     the gold pipeline, applied only to a key subset
    */
  def refresh(
      goldPrev: DataFrame,
      changedKeys: DataFrame,
      parentKey: String)(
      recompute: DataFrame => DataFrame): DataFrame = {
    // NOT cached: refresh is called per micro-batch from the funnel
    // maintainer, and a cache per call would leak storage entries for the
    // stream's lifetime. The count is one extra slim-column job.
    val keys = changedKeys.select(col(changedKeys.columns.head).as(parentKey)).distinct()
    val nKeys = keys.count()
    val recomputed = recompute(keys)
    // Anti-join on the CHANGED keys, not on the recomputed rows: a changed
    // parent whose recompute yields zero rows (all child facts deleted / no
    // longer qualifies) must drop its stale gold row, or incremental
    // diverges from a full rebuild. The using-column join hoists the key
    // to position 0, so re-project goldPrev's column order — the refreshed
    // frame must be schema-identical to a full rebuild, not just
    // name-equivalent.
    //
    // ADAPTIVE strategy (round-11, from the r10 sf0.1 regression + the
    // r10 100× OOM): the gold side carries KB-scale rendered-JSON rows —
    // the one thing the anti-join must never do is SORT or EXCHANGE it
    // when the key side is small.
    //   - Under the key budget: BROADCAST the slim MEASURED key set — the
    //     fat gold side moves nothing at all (no shuffle, no sort). An
    //     unconditional shuffle_hash here was the r10 regression: it
    //     exchanged all of gold to drop a handful of keys (3.7→27 s at
    //     sf0.1 in the driver run).
    //   - Over the budget (the change batch is a fixed FRACTION of the
    //     parents, so the key set grows with data): SHUFFLE_HASH, which
    //     hash-builds the key side and streams gold through one exchange
    //     but never sorts it. An unconditional broadcast here was the r10
    //     100× OOM: the hint removes AQE's degrade path.
    // Budget default 5M keys ≈ low hundreds of MB as a hash relation —
    // inside executor broadcast limits; tune via session conf.
    val budget = goldPrev.sparkSession.conf
      .get("spark.graft.gold.broadcastMaxKeys", "5000000").toLong
    val hinted = if (nKeys <= budget) broadcast(keys) else keys.hint("shuffle_hash")
    goldPrev.join(hinted, Seq(parentKey), "left_anti")
      .unionByName(recomputed)
      .select(goldPrev.columns.map(col).toIndexedSeq: _*)
  }
}
