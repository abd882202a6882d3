package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout measurement: the §4 partition-pruning claim as a
  * NUMBER, not prose. LayoutSpec already pins the plan shape (date
  * predicate → PartitionFilters); this main prices it on the 10× derived
  * lineitem (~6 M rows): the same one-month revenue aggregate against
  *   (a) the flat parquet table (every file scanned, predicate applied
  *       per row group), and
  *   (b) the month-partitioned layout written by
  *       `Layout.writePartitionedByMonth` (directory pruning — only the
  *       matching month's files are listed and read).
  * At 100 TB the flat path reads the full table off storage for every
  * date-bounded query; the partitioned path reads ~1/84th. The local
  * ratio under-sells that (page cache, no network storage), so the
  * pruned/unpruned file and byte counts from the scan node are recorded
  * alongside the wall-clock.
  *
  * Usage: `runMain graft.LayoutBench` — writes LAYOUT.json.
  */
object LayoutBench {

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session()

    val dir = ScaleCanary.derived(spark, 10)
    val flatPath = s"$dir/lineitem.parquet"
    val partPath = "target/layout-bench/lineitem_by_month"

    // build the partitioned layout once (stamped, like the derived sets)
    val stamp = java.nio.file.Paths.get(s"$partPath/_LAYOUT")
    if (!java.nio.file.Files.exists(stamp)) {
      System.err.println("[layout] writing month-partitioned lineitem…")
      graft.core.Layout.writePartitionedByMonth(
        spark.read.parquet(flatPath), "l_shipdate", partPath)
      java.nio.file.Files.writeString(stamp, "v1\n")
    }

    def revenue(df: DataFrame): DataFrame = df
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("revenue"),
        count(lit(1)).as("n"))
    def monthRevenueFlat(df: DataFrame): DataFrame = revenue(
      df.filter(col("l_shipdate") >= lit("1995-03-01") &&
        col("l_shipdate") < lit("1995-04-01")))
    def monthRevenuePruned(df: DataFrame): DataFrame = revenue(
      df.filter(graft.core.Layout.monthBounded(
        "l_shipdate", "1995-03-01", "1995-04-01")))

    def time(mk: () => DataFrame): Double = {
      mk().write.format("noop").mode("overwrite").save() // warmup
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    // scan-node metrics: files/bytes actually read after pruning.
    // collect(), not a noop save: a v2 write wraps the logical plan in its
    // OWN QueryExecution, so df.queryExecution.executedPlan would never
    // run and its metrics would read zero.
    def scanStats(df: DataFrame): (Long, Long) = {
      df.collect()
      val scans = Explain.flatten(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val files = scans.map(s =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      val bytes = scans.map(s =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
      (files, bytes)
    }

    // read each table ONCE: re-reading per iteration would re-list the
    // partition tree every time, which a catalog-backed production table
    // does not do (its file index is cached) — the timed quantity is the
    // scan, not repeated directory listing
    val flatTbl = spark.read.parquet(flatPath)
    val partTbl = spark.read.parquet(partPath)
    val flat = () => monthRevenueFlat(flatTbl)
    val pruned = () => monthRevenuePruned(partTbl)

    // correctness: identical answers on both layouts
    val a = flat().collect().head
    val b = pruned().collect().head
    require(a == b, s"layout changed the answer: $a vs $b")

    val (fFiles, fBytes) = scanStats(flat())
    val (pFiles, pBytes) = scanStats(pruned())
    val tFlat = time(flat)
    val tPruned = time(pruned)
    System.err.println(
      f"[layout] flat: $tFlat%.3f s ($fFiles files, ${fBytes / 1e6}%.1f MB) " +
        f"pruned: $tPruned%.3f s ($pFiles files, ${pBytes / 1e6}%.1f MB) " +
        f"speedup ${tFlat / tPruned}%.2fx, bytes ${fBytes.toDouble / pBytes}%.1fx")
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val json =
      s"""{"dataset":"$dir","query":"one-month revenue agg","flat":""" +
        s"""{"sec":${fmt(tFlat)},"files":$fFiles,"bytes":$fBytes},""" +
        s""""partitioned":{"sec":${fmt(tPruned)},"files":$pFiles,"bytes":$pBytes},""" +
        s""""speedup":${fmt(tFlat / tPruned)},""" +
        s""""bytes_ratio":${fmt(fBytes.toDouble / pBytes)}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("LAYOUT.json"), json)
    spark.stop()
  }
}
