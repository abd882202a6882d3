package graft.ql

import org.apache.spark.sql.SparkSession

import graft.functions.Udfs

/** CLI face of the query surface: validate + execute one SQL statement
  * over the registered testdata views — or, with --ask, the full NL
  * path (planner → guard → executor), the engine-side shape of the
  * reference's chatbot loop.
  * Usage: runMain graft.ql.QlShell <sfDir> <sql> [maxRows]
  *        runMain graft.ql.QlShell <sfDir> --ask '<question>' [maxRows]
  * Add --present anywhere to render record cards + statistics
  * (Presenter) instead of pipe-separated rows. Add --mongo with --ask to
  * answer through the document-store surface (NL → find/aggregate JSON →
  * MongoQL) when the plan is routable — the reference planner's second
  * executor; non-routable plans fall back to SQL with a note.
  */
object QlShell {
  def main(rawArgs: Array[String]): Unit = {
    val presentMode = rawArgs.contains("--present")
    val mongoMode = rawArgs.contains("--mongo")
    val args = rawArgs.filterNot(a => a == "--present" || a == "--mongo")
    val dir = args(0)
    def startSpark(): SparkSession = {
      val s = graft.core.Session()
      s.sparkContext.setLogLevel("ERROR")
      Udfs.register(s)
      s
    }
    def emit(columns: Seq[String], rows: Seq[Seq[Any]]): Unit =
      if (presentMode) print(Presenter.present(columns, rows))
      else {
        println(columns.mkString(" | "))
        rows.foreach(r => println(r.mkString(" | ")))
      }

    if (args(1) == "--ask" && mongoMode) {
      MongoRoute.fromQuestion(args(2)) match {
        case Some(r) =>
          println(s"-- mongo route: db.${r.collection}.aggregate(${r.pipelineJson})")
          val spark = startSpark()
          MongoRoute.run(spark, dir, r) match {
            case Right(df) =>
              val rows = df.limit(math.max(r.limit, 1000)).collect()
              emit(df.columns.toSeq, rows.toSeq.map(_.toSeq))
            case Left(d) =>
              println(s"DENIED [${d.code}]: ${d.detail}")
              sys.exit(2)
          }
          spark.stop()
          return
        case None =>
          println("-- plan not mongo-routable, falling back to SQL surface")
      }
    }

    val (sql, maxRowsArg) =
      if (args(1) == "--ask") {
        val plan = Planner.plan(args(2))
        println(s"-- intent=${plan.intent} table=${plan.table}" +
          plan.groupDim.map(d => s" group=$d").getOrElse("") +
          (if (plan.yearRange.isDefined && !plan.yearApplied) " (year range NOT applied)" else ""))
        println(s"-- ${plan.sql}")
        (plan.sql, args.lift(3).map(_.toInt).getOrElse(plan.limit))
      } else (args(1), args.lift(2).map(_.toInt).getOrElse(100))
    val maxRows = maxRowsArg
    val spark = startSpark()
    QueryGuard.run(spark, dir, sql, maxRows) match {
      case Right(res) =>
        emit(res.columns.toSeq, res.rows.toSeq.map(_.toSeq))
      case Left(denied) =>
        println(s"DENIED [${denied.threat}]: ${denied.reason}")
        sys.exit(2)
    }
    spark.stop()
  }
}
