package graft

/** Plan auditor: prints the formatted physical plan for each headline
  * query (or the names passed as args) so scan pushdown (PushedFilters /
  * ReadSchema), broadcast vs shuffle joins, and WholeStageCodegen spans
  * can be reviewed per round. Usage:
  *   runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.headline
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
