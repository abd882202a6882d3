package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Per VERDICT r1 findings 1-3:
  *   - forces full evaluation with a noop-format write (Catalyst cannot
  *     prune projections/sorts away as it can under a bare count()),
  *   - one warm-up pass absorbs JVM/codegen cost,
  *   - minimum of 3 timed runs (see the note at the timing loop),
  *   - failures are reported in an "errors" field, never as fake timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session()

    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Order-insensitivity: drop every cached/checkpointed block a query
    // left behind before timing the next one. Iterative queries
    // (localCheckpoint) and within-query caches otherwise accumulate
    // pinned blocks across the 4 passes (warmup + 3) of all ~100 queries,
    // and queries benched late read from a memory-starved executor —
    // their numbers then depend on bench ORDER, not on their plan.
    var execCount = 0
    def dropLeftoverBlocks(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // Spark's ContextCleaner reaps unreferenced broadcast/shuffle state
      // only when the JVM GCs — and a large heap GCs rarely, so hundreds
      // of queries accumulate driver bookkeeping and queries benched LATE
      // inflate (measured: e5_ann_quantized 0.49s isolated vs 3.96s at
      // inventory position ~190). A periodic full GC bounds that
      // accumulation at a fixed, amortized cost.
      execCount += 1
      if (execCount % 25 == 0) System.gc()
    }

    // optional filter for isolated reruns: comma-separated query names
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.all
      .filter(q => only.forall(_.contains(q.name)))
      .map(q => q.name -> q.run)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // warm-up: one full pass (also smokes every query)
    ordered.foreach { case (name, fn) =>
      try exec(fn)
      catch { case e: Throwable => errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200) }
      dropLeftoverBlocks()
    }

    val timings = ordered.collect { case (name, fn) if !errors.contains(name) =>
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { exec(fn); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200); Double.NaN }
        finally dropLeftoverBlocks() // run N+1 must not pay run N's leftovers
      }.filterNot(_.isNaN).sorted
      // MIN of 3, not median: this host shows bursty hypervisor CPU steal
      // (4% average, 10x swings between identical JVM invocations —
      // measured mv_firs_full 5.1s and 69.0s for the SAME first timed
      // run), and for deterministic work the minimum is the standard
      // interference-robust estimator of plan cost. The per-run spread
      // stays on stderr so a genuinely bimodal query is still visible.
      val best = if (runs.isEmpty) Double.NaN else runs.head
      System.err.println(f"[bench] $name runs=${
        runs.map(r => f"$r%.2f").mkString(",")}")
      name -> best
    }.filterNot(_._2.isNaN)
      // a query that failed during ANY timed run is an error, never a timing
      .filterNot { case (name, _) => errors.contains(name) }

    // Locale.ROOT: f"%.4f" under a comma-decimal default locale emits
    // invalid JSON ("0,1234").
    def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "'").replaceAll("[\\n\\r\\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"n_queries":${timings.size},"sf":"$sfDir"}"""
    println(line)
    // Persist alongside stdout: the driver keeps only a 2000-char output
    // tail, which has truncated the JSON every round. The committed copy
    // makes round-over-round per-query diffs possible from the repo alone.
    // SPARK_GRAFT_BENCH_ONLY subset reruns do NOT overwrite the
    // full-inventory file unless an explicit BENCH_OUT names a target —
    // a 2-query iteration must never clobber the round's baseline.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH_LOCAL.json") else None)
    out.foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not persist JSON: ${e.getMessage}") }
    }
    spark.stop()
  }
}
