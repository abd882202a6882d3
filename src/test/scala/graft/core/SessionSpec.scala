package graft.core

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

class SessionSpec extends SparkTestBase {

  test("the shared test session carries the factory settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1))
    assert(cores.contains(conf.get("spark.sql.shuffle.partitions")),
      spark.sparkContext.master)
    // a per-session temp dir: under java.io.tmpdir, with a random suffix
    val warehouse = new File(new java.net.URI(conf.get("spark.sql.warehouse.dir")).getPath)
    val tmp = new File(System.getProperty("java.io.tmpdir")).getCanonicalFile
    assert(warehouse.getCanonicalFile.getParentFile == tmp, warehouse)
    assert(warehouse.getName.startsWith("graft-warehouse") &&
      warehouse.getName != "graft-warehouse", warehouse)
  }

  test("core/Session.scala is the only place a session is built") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.toList finally walk.close()
    }.filter { p =>
      p.toString.endsWith(".scala") &&
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8).contains(needle)
    }.map(_.toString)
    assert(hits == Seq("src/main/scala/graft/core/Session.scala"), hits)
  }
}
