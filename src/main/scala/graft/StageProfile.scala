package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Per-stage wall/task profile for one or more queries (guide §1/§7):
  * attaches a SparkListener, runs each named query once warm then once
  * measured, and prints per-stage rows — tasks, wall, max/median task
  * time, shuffle read/write bytes, input bytes — so optimization targets
  * the measured stage, not a guess.
  *
  * Run: `runMain graft.StageProfile <name> [name ...]`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: the host's core count).
  */
object StageProfile {

  final case class StageRow(
      id: Int, name: String, tasks: Int, wallMs: Long,
      taskMaxMs: Long, taskMedMs: Long,
      inputMB: Double, shReadMB: Double, shWriteMB: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session()

    val stages = mutable.LinkedHashMap[Int, StageRow]()
    val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (collecting && t.taskMetrics != null)
          taskMs.synchronized {
            taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
              t.taskMetrics.executorRunTime
          }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val ms = taskMs.synchronized {
            taskMs.getOrElse(si.stageId, mutable.ArrayBuffer.empty[Long]).sorted
          }
          val wall = (for {c <- si.completionTime; s <- si.submissionTime}
            yield c - s).getOrElse(0L)
          stages.synchronized {
            stages(si.stageId) = StageRow(
              si.stageId, si.name.takeWhile(_ != '\n').take(60),
              si.numTasks, wall,
              if (ms.isEmpty) 0 else ms.last,
              if (ms.isEmpty) 0 else ms(ms.size / 2),
              si.taskMetrics.inputMetrics.bytesRead / 1e6,
              si.taskMetrics.shuffleReadMetrics.remoteBytesRead / 1e6 +
                si.taskMetrics.shuffleReadMetrics.localBytesRead / 1e6,
              si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6)
          }
        }
    })

    val byName = SparkEntry.all.map(q => q.name -> q.run).toMap
    args.foreach { name =>
      def run(): Unit = {
        byName(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      run() // warm
      stages.clear(); taskMs.clear()
      collecting = true
      val t0 = System.nanoTime()
      run()
      val dt = (System.nanoTime() - t0) / 1e9
      collecting = false
      println(f"===== $name total=$dt%.2fs =====")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"wallMs"}%8s ${"maxTask"}%8s " +
        f"${"medTask"}%8s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
      stages.values.toSeq.sortBy(-_.wallMs).foreach { r =>
        println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs}%8d ${r.taskMaxMs}%8d " +
          f"${r.taskMedMs}%8d ${r.inputMB}%8.1f ${r.shReadMB}%8.1f " +
          f"${r.shWriteMB}%8.1f  ${r.name}")
      }
    }
    spark.stop()
  }
}
