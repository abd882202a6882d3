package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test harness start
  * their session here, so the settings below cannot drift apart.
  *
  * `cpus` sets both the local master's thread count and the shuffle
  * partition count. It defaults to [[cores]].
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set (a deployment setting), else the
    * host's core count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared builder, for the rare caller that chains a setting of
    * its own before `getOrCreate`. */
  def builder(cpus: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default 100-entry generated-class cache thrashes across the
      // query inventory: a warm-up pass evicts every earlier plan, so big
      // plans re-janino-compile on every timed run and their timings
      // measure compiler time, not plan cost (observed 2x on
      // mv_firs_full: ~7 s in-inventory vs 3.3 s isolated).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Always sort-based shuffle: the bypass-merge writer opens one file
      // PER REDUCE PARTITION per map task (32x32+ opens per exchange at
      // local[32]), and executor thread dumps showed task time dominated
      // by FileOutputStream.open0; the sort path writes one data+index
      // file per task. Above 200 partitions Spark never bypasses anyway,
      // so this is a no-op at cluster scale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Bucketed tables (core/Layout) land in the warehouse; a fresh one
      // per session keeps two runs from colliding on a fixed path.
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)

  /** A session on the shared settings, logging at WARN. */
  def apply(cpus: Int = cores): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
