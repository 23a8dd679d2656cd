package graft

/** Plan-audit tool: prints the formatted physical plan of selected queries
  * (pushdown / pruning / join strategy / codegen span review — the per-
  * operator scale gate). Usage: Explain <sfDir> [nameRegex]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val nameFilter = if (args.length > 1) args(1) else ".*"
    val spark = SessionEnv.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.matches(nameFilter))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
