package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Crash recovery for the parquet-versioned maintainers: state
  * directories are written as `<prefix>_v<N>` with parquet's `_SUCCESS`
  * marker, so the latest COMMITTED version is discoverable from the
  * filesystem alone — a restarted maintainer resumes from it instead of
  * losing its place with the in-memory counter.
  *
  * A multi-table version is committed only when EVERY table of that
  * version has its marker: a crash between two writes leaves a torn
  * version that recovery must skip.
  *
  * LshAdmit, Funnel and Drift write every version in full through these
  * helpers; Gold and Index keep keyed delta segments ([[KeyedVersions]]).
  */
object VersionedState {

  /** Write `df` to `path` and return the read-back frame with the WRITE
    * schema pinned: `spark.read.parquet` without a schema launches a
    * footer-inference job per call, and the maintainers re-open their
    * state tables many times per batch — the replay gates paid 20-30
    * such driver-side jobs each (measured, OPTIMIZATION_r11.md). The
    * pinned schema is exactly what was just written, so inference would
    * discover the same thing. */
  def writeRead(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Exact row count of a just-written parquet state table from its file
    * footers — metadata the write already produced, no Spark job. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
      val rf = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try rf.getRecordCount finally rf.close()
    }.sum
  }

  private def versionsOf(workDir: String, prefix: String): Seq[Int] = {
    val base = new java.io.File(workDir)
    Option(base.list()).toSeq.flatten
      .filter(_.startsWith(prefix + "_v"))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix + "_v").toInt).toOption)
      .filter(v => new java.io.File(base, s"${prefix}_v$v/_SUCCESS").exists)
  }

  /** Highest version for which every named state table is fully written
    * (has its `_SUCCESS` marker). None when no complete version exists. */
  def latestCommitted(workDir: String, prefixes: Seq[String]): Option[Int] =
    prefixes
      .map(p => versionsOf(workDir, p).toSet)
      .reduceOption(_ intersect _)
      .flatMap(_.maxOption)

  /** Remove EVERY `<prefix>_v*` directory (committed or torn) under
    * workDir. Maintainers call this from init(): recover() takes the MAX
    * committed version, so a "fresh" init that only writes v0 over a
    * workDir holding higher versions from a prior run would silently
    * resurrect stale state on the next recovery. */
  def dropVersions(workDir: String, prefixes: String*): Unit = {
    val base = new java.io.File(workDir)
    for {
      name <- Option(base.list()).toSeq.flatten
      p <- prefixes
      if name.startsWith(p + "_v") &&
        name.stripPrefix(p + "_v").forall(_.isDigit)
    } deleteRec(new java.io.File(base, name))
  }

  private[streaming] def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }
}

/** Keyed delta layout for child-replace state: every row of a table
  * belongs to one key (a parent, a document, a term), and a batch
  * replaces the full row set of each key it names.
  *
  * A FULL version holds a table's whole state in `<table>_v<N>`. A DELTA
  * version holds only the batch's new rows in `<table>_v<N>` plus, in
  * `<keys>_v<N>`, the key set those rows replace. The key set is the
  * batch's keys, not the keys of its rows: a key whose recompute yields
  * no row (a parent with no gold row, a term below the df floor) is in
  * the key set and so vanishes from the merged read.
  *
  * A read is merge-on-read: the last full version plus every later delta
  * segment, each segment's rows dropped where a LATER segment's key set
  * names their key. One anti-join of the version-tagged rows against the
  * version-tagged key sets does that for all segments at once.
  *
  * Commit protocol: a version's row directories carry Spark's `_SUCCESS`
  * and then, once every table and key set of the version is written, a
  * `_FULL` or `_DELTA` marker. A version is committed when every row
  * directory has both, and a delta version's key sets have `_SUCCESS`.
  * Anything less is a torn version: recovery skips it and the next write
  * of that version number clears it first.
  *
  * Fold: once the delta rows since the last full version pass
  * [[KeyedVersions.FoldFraction]] of it (row counts from parquet footers,
  * no Spark job), or the segments reach [[KeyedVersions.MaxSegments]],
  * the next batch writes a full version — the merged state with that
  * batch applied — so the version number still counts batches.
  */
final class KeyedVersions(spark: SparkSession, workDir: String,
    tables: Seq[KeyedVersions.Table]) {
  import KeyedVersions._

  private val keySets = tables.map(_.keys).distinct
  private var base = 0
  private var deltas = Vector.empty[Int]
  private var baseRows = 0L
  private var deltaRows = 0L
  private var schemas = Map.empty[String, StructType]
  private val views = scala.collection.mutable.Map.empty[String, DataFrame]

  private def version: Int = deltas.lastOption.getOrElse(base)
  def path(prefix: String, v: Int): String = s"$workDir/${prefix}_v$v"
  def schema(table: String): StructType = schemas(table)

  /** Drops every earlier version and writes `rows` (table name → state)
    * as the full version 0. The writes run concurrently. */
  def init(rows: (String, DataFrame)*): Unit = {
    VersionedState.dropVersions(workDir, tables.map(_.name) ++ keySets: _*)
    graft.core.Par.run(rows.map { case (t, df) => () => save(df, path(t, 0)) }: _*)
    schemas = rows.map { case (t, df) => t -> df.schema }.toMap
    new Pending(0, full = true).commit()
  }

  /** Table `name` as of the latest committed version. */
  def read(name: String): DataFrame =
    views.getOrElseUpdate(name, merged(table(name), deltas))

  /** Resume from the latest committed version: its last full version
    * plus the committed delta segments after it. */
  def recover(): Int = {
    val dir = new java.io.File(workDir)
    val first = tables.head.name
    val latest = Option(dir.list()).toSeq.flatten
      .filter(_.startsWith(first + "_v"))
      .flatMap(n => n.stripPrefix(first + "_v").toIntOption)
      .filter(committed).maxOption
      .getOrElse(throw new IllegalStateException(
        s"no committed state under $workDir"))
    var b = latest
    while (!marked(first, b, Full)) {
      b -= 1
      if (b < 0 || !committed(b)) throw new IllegalStateException(
        s"delta version ${b + 1} under $workDir has no committed predecessor")
    }
    base = b
    deltas = (b + 1 to latest).toVector
    schemas = tables.map(t => t.name -> spark.read.parquet(path(t.name, b)).schema).toMap
    baseRows = footerRows(b)
    deltaRows = deltas.map(footerRows).sum
    views.clear()
    latest
  }

  /** Starts the next version: a delta segment, or a full version once the
    * delta rows since the last full version pass [[FoldFraction]] of it
    * or the segments reach [[MaxSegments]].
    * Clears any torn leftovers of that version number first. */
  def begin(): Pending = {
    val v = version + 1
    val dir = new java.io.File(workDir)
    (tables.map(_.name) ++ keySets)
      .foreach(p => VersionedState.deleteRec(new java.io.File(dir, s"${p}_v$v")))
    new Pending(v,
      full = deltaRows > FoldFraction * baseRows || deltas.size >= MaxSegments)
  }

  /** One version being written. Nothing of it is visible to `read` or to
    * recovery until `commit`. */
  final class Pending(val v: Int, val full: Boolean) {

    /** Writes table `name`'s rows for this version: the batch's `rows`
      * replacing the keys in `keys` (a one-column frame named like the
      * table's key). A delta version stores `rows` as they are; a full
      * version stores the merged state with the batch applied, spread
      * over the session's parallelism. */
    def write(name: String, rows: DataFrame, keys: => DataFrame): Unit =
      save(
        if (!full) rows
        else merged(table(name), deltas, Some((rows, keys, v)))
          .repartition(spark.sparkContext.defaultParallelism),
        path(name, v))

    /** Writes key set `name` for this version. */
    def writeKeys(name: String, keys: DataFrame): Unit =
      save(keys, path(name, v))

    /** Marks every table of this version and makes it the latest. */
    def commit(): Unit = {
      tables.foreach { t =>
        new java.io.File(path(t.name, v), if (full) Full else Delta).createNewFile()
      }
      val rows = footerRows(v)
      if (full) { base = v; deltas = Vector.empty; baseRows = rows; deltaRows = 0 }
      else { deltas :+= v; deltaRows += rows }
      views.clear()
    }
  }

  private def table(name: String): Table = tables.find(_.name == name).get

  // reads go through the merged views, so nothing re-opens a write
  private def save(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def open(prefix: String, v: Int, s: StructType): DataFrame =
    spark.read.schema(s).parquet(path(prefix, v))

  private def marked(prefix: String, v: Int, marker: String): Boolean =
    new java.io.File(path(prefix, v), marker).exists

  private def committed(v: Int): Boolean = tables.forall { t =>
    marked(t.name, v, "_SUCCESS") && (marked(t.name, v, Full) ||
      (marked(t.name, v, Delta) && marked(t.keys, v, "_SUCCESS")))
  }

  private def footerRows(v: Int): Long =
    tables.map(t => VersionedState.rowCount(spark, path(t.name, v))).sum

  /** Table `t` over the base version and delta versions `ds`, plus an
    * optional not-yet-written segment (rows, keys, version). Each group
    * of segments is ONE multi-path scan whose rows take their version
    * from the file path, so the plan has the same shape however many
    * segments there are and its generated code stays cached across
    * batches (a union of per-segment scans recompiled on every batch). */
  private def merged(t: Table, ds: Seq[Int],
      extra: Option[(DataFrame, DataFrame, Int)] = None): DataFrame = {
    val s = schemas(t.name)
    // a file's parent directory `<prefix>_v<N>` gives its version N
    def scan(prefix: String, schema: StructType, vs: Seq[Int], tag: String) =
      spark.read.schema(schema).parquet(vs.map(path(prefix, _)): _*)
        .withColumn(tag, substring_index(substring_index(
          col("_metadata.file_path"), "/", -2), "/", 1).substr(prefix.length + 3, 10).cast("int"))
    val rows = scan(t.name, s, base +: ds, RowVersion) +:
      extra.map { case (r, _, v) => r.withColumn(RowVersion, lit(v)) }.toSeq
    val keys = (if (ds.isEmpty) Nil
      else Seq(scan(t.keys, StructType(Seq(s(t.key))), ds, KeyVersion))) ++
      extra.map { case (_, k, v) => k.withColumn(KeyVersion, lit(v)) }
    if (keys.isEmpty) open(t.name, base, s)
    else rows.reduce(_ unionByName _)
      .join(keys.reduce(_ unionByName _).withColumnRenamed(t.key, KeyCol),
        col(t.key) === col(KeyCol) && col(KeyVersion) > col(RowVersion), "left_anti")
      .drop(RowVersion)
  }
}

object KeyedVersions {

  /** A state table `name`, keyed by column `key`, whose delta versions
    * name their replaced keys in key set `keys` (tables may share one). */
  final case class Table(name: String, key: String, keys: String)

  /** A fold rewrites the whole state, which is what every batch cost
    * before delta segments. Folding once the deltas reach a tenth of the
    * base spreads that rewrite over tens of small batches, while a merged
    * read never scans more than a tenth more rows than the base alone. */
  val FoldFraction = 0.1

  /** Spark lists up to 32 paths of one scan on the driver and starts a
    * listing job past that (`parallelPartitionDiscovery.threshold`); the
    * base plus 31 segments stays under it however small the batches. */
  val MaxSegments = 31

  private val Full = "_FULL"
  private val Delta = "_DELTA"
  private val RowVersion = "_row_version"
  private val KeyCol = "_replaced_key"
  private val KeyVersion = "_key_version"
}
