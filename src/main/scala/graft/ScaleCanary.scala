package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale canary: a MEASURED datapoint behind the 100×-scale plan claims.
  *
  * The shipped testdata tops out at sf0.1, so the canary derives scaled
  * datasets from it — key-offset replicas per table, FK relationships
  * preserved within each replica, dims (nation/region) fixed like TPC-H —
  * then times inventory queries at both scales and reports the ratio.
  * Near-linear operators should land at ≈factor× (±JVM noise and the
  * fixed per-query overhead, which at these sizes biases ratios BELOW the
  * factor); anything super-linear is a scale bug the plan audit missed.
  *
  * Corpus realism: replica texts get a per-replica word tag, so each
  * replica owns its vocabulary slice. Without it, every doc would have
  * factor−1 exact clones, and the dedup family's candidate sets would grow
  * quadratically by DATA pathology rather than engine behavior — the
  * canary would measure the synthetic duplication, not the scaling.
  * Embeddings get a small per-replica component shift for the same reason.
  *
  * Modes:
  *   - `runMain graft.ScaleCanary [maxQueries]` — deep 10× canary over the
  *     maxQueries heaviest queries (by the committed BENCH_LOCAL.json),
  *     warmup + min-of-3 per scale.
  *   - `runMain graft.ScaleCanary [maxQueries] name1,name2` — deep 10×
  *     canary over an explicit query list.
  *   - `runMain graft.ScaleCanary --sweep` — full-inventory 2× sweep
  *     (single-shot timing after one warmup), then auto-escalates every
  *     query whose 2× ratio exceeds 2.0 to the deep 10× canary. This
  *     closes the "canary selects by base cost" blind spot: a
  *     cheap-but-superlinear query is invisible to the heaviest-N list
  *     but lights up in the sweep.
  *   - `runMain graft.ScaleCanary --deep100 [name1,name2,…]` — round-10:
  *     the 100× canary (~60 M lineitem rows, the brief's claimed scale
  *     step), default list = the inventory's heaviest queries (the
  *     round-9 VERDICT's 15-heaviest ask). Timed runs at 100× are
  *     warmup + min-of-2 (not 3): each run is minutes, where run-to-run
  *     noise is proportionally small — the third run buys nothing but
  *     wall-clock. Results stream into SCALE_CANARY_100X.json after
  *     EVERY query so an interrupted run keeps its finished rows.
  *
  * Output: SCALE_CANARY.json — `queries` holds deep 10× rows,
  * `sweep2x` (sweep mode) holds the full-inventory 2× ratios;
  * SCALE_CANARY_100X.json — the 100× rows.
  *
  * Each derived dataset directory carries a _GENERATOR stamp; the dataset
  * is regenerated whenever the stamp mismatches the current generator
  * version, so edits to replicate()/offsets can never silently reuse a
  * stale corpus.
  */
object ScaleCanary {

  private val Base = "/root/testdata/sf0.1"

  /** Bump on ANY change to replicate()/generate()/offsets: stale derived
    * data is regenerated on mismatch instead of silently skewing ratios. */
  private val GeneratorVersion = "v2"

  /** Per-key-domain replica offsets (well above each domain's max key). */
  private val OrdOff = 10000000L
  private val CustOff = 1000000L
  private val SuppOff = 1000000L
  private val PartOff = 1000000L
  private val DocOff = 1000000L
  private val EvOff = 10000000L
  private val UserOff = 1000000L

  private def replicate(df: DataFrame, replicas: Int, shifts: Map[String, Long],
      textTag: Boolean = false, embShift: Boolean = false): DataFrame =
    (0 until replicas).map { r =>
      var d = df
      shifts.foreach { case (c, off) =>
        d = d.withColumn(c, (col(c) + lit(r * off)).cast(df.schema(c).dataType))
      }
      if (textTag && r > 0) {
        // per-replica vocabulary: tag every word so shingle/term keys do
        // not collide across replicas (see scaladoc)
        d = d.withColumn("text",
            array_join(transform(split(col("text"), " "),
              w => concat(lit(s"r$r"), w)), " "))
          .withColumn("n_chars", length(col("text")))
      }
      if (embShift && r > 0)
        d = d.withColumn("embedding",
          transform(col("embedding"), x => x + lit(r * 0.0137f)))
      d
    }.reduce(_ unionByName _)

  private def generate(spark: SparkSession, dir: String, replicas: Int): Unit = {
    def t(n: String) = spark.read.parquet(s"$Base/$n.parquet")
    def w(df: DataFrame, n: String) =
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    w(t("region"), "region")
    w(t("nation"), "nation")
    w(replicate(t("customer"), replicas, Map("c_custkey" -> CustOff)), "customer")
    w(replicate(t("supplier"), replicas, Map("s_suppkey" -> SuppOff)), "supplier")
    w(replicate(t("part"), replicas, Map("p_partkey" -> PartOff)), "part")
    w(replicate(t("orders"), replicas,
      Map("o_orderkey" -> OrdOff, "o_custkey" -> CustOff)), "orders")
    w(replicate(t("lineitem"), replicas, Map("l_orderkey" -> OrdOff,
      "l_partkey" -> PartOff, "l_suppkey" -> SuppOff)), "lineitem")
    w(replicate(t("events"), replicas,
      Map("event_id" -> EvOff, "user_id" -> UserOff)), "events")
    w(replicate(t("documents"), replicas, Map("doc_id" -> DocOff),
      textTag = true), "documents")
    w(replicate(t("embeddings"), replicas, Map("vec_id" -> DocOff),
      embShift = true), "embeddings")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_GENERATOR"),
      s"$GeneratorVersion replicas=$replicas\n")
  }

  /** Derived dataset for a scale factor, (re)generated when absent or when
    * its _GENERATOR stamp mismatches the current generator version.
    * Shared with CrossoverBench. */
  private[graft] def derived(spark: SparkSession, replicas: Int): String = {
    val dir = s"target/sf-derived-${replicas}x"
    val stamp = java.nio.file.Paths.get(s"$dir/_GENERATOR")
    val want = s"$GeneratorVersion replicas=$replicas\n"
    val fresh = java.nio.file.Files.exists(stamp) &&
      new String(java.nio.file.Files.readAllBytes(stamp)) == want
    if (!fresh) {
      System.err.println(s"[canary] generating ${replicas}x derived dataset…")
      generate(spark, dir, replicas)
    }
    dir
  }

  /** Top-N heaviest queries by the committed full-inventory bench, parsed
    * with a real JSON parser (Jackson, on Spark's classpath) — a format
    * change fails loudly instead of silently yielding a wrong list. */
  private def heaviest(n: Int): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File("BENCH_LOCAL.json"))
    val qs = root.get("queries")
    require(qs != null && qs.isObject,
      "BENCH_LOCAL.json has no \"queries\" object")
    val known = SparkEntry.all.map(_.name).toSet
    val it = qs.fields()
    val pairs = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    while (it.hasNext) {
      val e = it.next()
      require(known.contains(e.getKey),
        s"BENCH_LOCAL.json query '${e.getKey}' not in SparkEntry.all")
      pairs += e.getKey -> e.getValue.asDouble()
    }
    require(pairs.nonEmpty, "BENCH_LOCAL.json queries object is empty")
    pairs.sortBy(-_._2).take(n).map(_._1).toSeq
  }

  /** The round-9 VERDICT's 15-heaviest ask (16 names: both replay rows). */
  private val Deep100Defaults = Seq(
    "mv_firs_full", "mv_firs_incremental", "mv_accuseds_incremental",
    "dd2_minhash_lsh", "dd11_dedup_clusters", "dd31_substring_dedup",
    "dd34_pagerank", "dd60_setsim_join", "dd88_containment_join",
    "dd91_label_propagation", "ir2_bm25_topk", "ir14_chunk_retrieval",
    "ir17_blockmax_topk", "e2_blocked_fuzzy",
    "st_gold_replay_parity", "st_index_replay_parity")

  def main(args: Array[String]): Unit = {
    val sweep = args.headOption.contains("--sweep")
    val deep100 = args.headOption.contains("--deep100")
    val maxQ =
      if (sweep || deep100) 0 else args.headOption.map(_.toInt).getOrElse(20)
    val explicitNames: Option[Seq[String]] =
      if (!sweep && args.length > 1) Some(args(1).split(",").toSeq) else None
    val spark = graft.core.Session.builder()
      // zstd shuffle/spill compression (round-11): the 100× fat-MV runs
      // spill tens of GB; zstd roughly halves lz4's on-disk footprint for
      // the rendered-JSON gold rows at similar CPU. The common production
      // choice at this scale, and both scales of every ratio measure under
      // the same codec so rows stay self-consistent.
      .config("spark.io.compression.codec", "zstd")
      // Vectorized-reader batches sized for FAT-STRING rows (round-11):
      // the default 4096-row batch asked for a 117 MB contiguous buffer
      // per string column when reading the 100× gold snapshot (~30 KB
      // rendered-JSON strings), and 32 concurrent reader tasks × several
      // such columns OOMed a 48 GB heap. 512 rows ≈ 15 MB per column
      // batch — the same "size batches to the data" rule the brief
      // applies to shuffle partitions.
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val byName = SparkEntry.all.map(q => q.name -> q.run).toMap
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // ContextCleaner drops shuffle files only when the JVM GCs the
      // dependency objects — at 100× one fat-MV run spills tens of GB,
      // and three un-GCed runs filled the disk (measured: ENOSPC on the
      // accuseds re-run with 72 GB free at start). Same discipline as
      // Bench's periodic gc, but per-run: the canary's runs are huge.
      System.gc()
    }
    def once(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      byName(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup(); dt
    }
    def time(dir: String, name: String): Double = {
      // warmup once, then min of 3 — min-of-2 left cold-page-cache
      // outliers in the ratios (mv_accuseds read 21× on a run whose
      // min-of-3 is 7.8×); same interference rationale as Bench
      once(dir, name)
      (1 to 3).map(_ => once(dir, name)).min
    }
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    def timeN(dir: String, name: String, runs: Int): Double = {
      once(dir, name)
      (1 to runs).map(_ => once(dir, name)).min
    }

    def deepAt(names: Seq[String], factor: Int, scaledRuns: Int,
        partialPath: Option[String], seed: Seq[String] = Nil): Seq[String] = {
      val dirN = derived(spark, factor)
      // Shuffle partitions scale with the data (the brief's own rule:
      // size partitions so they fit executor memory at the target SF).
      // 32 partitions hold ~25 GB of rendered gold rows at 100× —
      // ~800 MB/task, which starves stages that stack several sorters in
      // one task. A real 100×-sized cluster would run thousands of
      // partitions; 256 here keeps per-task state at base-scale levels.
      val scaledParts = if (factor >= 100) "256" else "32"
      def withParts(parts: String)(body: => Double): Double = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try body finally spark.conf.set("spark.sql.shuffle.partitions", "32")
      }
      val acc = scala.collection.mutable.ArrayBuffer[String](seed: _*)
      names.filter(byName.contains).foreach { name =>
        try {
          val tb = time(Base, name)
          val td = withParts(scaledParts)(timeN(dirN, name, scaledRuns))
          System.err.println(
            f"[canary] $name base=$tb%.2f ${factor}x=$td%.2f ratio=${td / tb}%.1f")
          acc += s""""$name":{"t_base":${fmt(tb)},"t_${factor}x":${fmt(td)},"ratio":${fmt(td / tb)}}"""
        } catch { case e: Throwable =>
          System.err.println(s"[canary] $name FAILED: ${e.getMessage}")
          acc += s""""$name":{"error":"${e.getMessage.replaceAll("[\"\\\\\n\r\t]", " ").take(200)}"}"""
        }
        // stream partial results: an interrupted 100× run keeps its rows
        partialPath.foreach { p =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
            s"""{"base":"$Base","factor":$factor,"scaled_runs":$scaledRuns,"queries":{${acc.mkString(",")}}}""")
        }
      }
      acc.toSeq
    }
    def deep(names: Seq[String]): Seq[String] = deepAt(names, 10, 3, None)

    // A targeted re-run (explicit name list) MERGES into the committed
    // file: rows for queries not in this run are carried over verbatim,
    // so healing one row (e.g. re-measuring a fixed OOM) or recording
    // datapoints for new operators never discards prior measurements.
    def seedRows(path: String, names: Seq[String]): Seq[String] = {
      val f = new java.io.File(path)
      if (!f.exists()) Nil else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val qs = mapper.readTree(f).get("queries")
        if (qs == null || !qs.isObject) Nil else {
          val keep = scala.collection.mutable.ArrayBuffer[String]()
          val it = qs.fields()
          while (it.hasNext) {
            val e = it.next()
            if (!names.contains(e.getKey))
              keep += s""""${e.getKey}":${e.getValue.toString}"""
          }
          keep.toSeq
        }
      }
    }

    val json = if (deep100) {
      val names = explicitNames.getOrElse(Deep100Defaults)
      val seed = seedRows("SCALE_CANARY_100X.json", names)
      val rows = deepAt(names, 100, 2, Some("SCALE_CANARY_100X.json"), seed)
      s"""{"base":"$Base","factor":100,"scaled_runs":2,"queries":{${rows.mkString(",")}}}"""
    } else if (sweep) {
      // Full-inventory 2× superlinearity sweep: single-shot per scale
      // after one warmup pass (the sweep's job is to FLAG, not to bench —
      // deep() re-measures anything suspicious with warmup + min-of-3).
      val dir2 = derived(spark, 2)
      val names = SparkEntry.all.map(_.name)
      val flagged = scala.collection.mutable.ArrayBuffer[String]()
      val rows = names.flatMap { name =>
        try {
          once(Base, name) // warmup (both scales share plans/codegen)
          val tb = once(Base, name)
          val t2 = once(dir2, name)
          val ratio = t2 / tb
          if (ratio > 2.0) flagged += name
          System.err.println(
            f"[sweep] $name base=$tb%.2f 2x=$t2%.2f ratio=$ratio%.1f")
          Some(s""""$name":{"t_base":${fmt(tb)},"t_2x":${fmt(t2)},"ratio":${fmt(ratio)}}""")
        } catch { case e: Throwable =>
          System.err.println(s"[sweep] $name FAILED: ${e.getMessage}"); None
        }
      }
      System.err.println(s"[sweep] ${flagged.size} queries >2.0x at 2x: " +
        flagged.mkString(", "))
      val deepRows = deep(flagged.toSeq)
      s"""{"base":"$Base","sweep_factor":2,"sweep2x":{${rows.mkString(",")}},""" +
        s""""factor":10,"queries":{${deepRows.mkString(",")}}}"""
    } else {
      val names = explicitNames.getOrElse(heaviest(maxQ))
      val rows = seedRows("SCALE_CANARY.json", names) ++ deep(names)
      // carry the committed full-inventory 2x sweep forward verbatim — a
      // targeted deep run must never delete the sweep evidence
      val sweepCarry = {
        val f = new java.io.File("SCALE_CANARY.json")
        if (!f.exists()) "" else {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val sw = mapper.readTree(f).get("sweep2x")
          if (sw == null || !sw.isObject) ""
          else s""""sweep_factor":2,"sweep2x":${sw.toString},"""
        }
      }
      s"""{"base":"$Base",$sweepCarry"factor":10,"queries":{${rows.mkString(",")}}}"""
    }
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      if (deep100) "SCALE_CANARY_100X.json" else "SCALE_CANARY.json"), json)
    spark.stop()
  }
}
