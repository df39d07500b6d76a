package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit CLI: print the formatted physical plan of registered entries
  * without timing them — the `.explain("formatted")` iteration loop,
  * runnable as `sbt "runMain graft.Explain [q1_agg,q2] [sfDir]"`. No names
  * (or an empty first argument) means every entry, in name order; an entry
  * that fails to plan prints its error and the audit moves on. Entries
  * build their staged artifacts on first call exactly as in Bench, so the
  * printed plan is the plan the bench times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.Engine.session(
      master = Some(s"local[$cpus]"), shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val selected = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    selected.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          println(s"===== $name =====")
          try println(fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
          catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
      }
    }
    spark.stop()
  }
}
