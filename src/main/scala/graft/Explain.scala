package graft

/** Plan-audit tool: prints the formatted physical plan of one or more
  * registered queries without executing them (`runMain graft.Explain
  * <sfDir> <query>[,<query>...]`). The per-operator review loop —
  * "explain, then iterate until it's the plan you'd want" — needs this
  * to be one command, not an interactive session.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query>[,<query>...]")
    val sfDir = args(0)
    val spark = Harness.session()
    args(1).split(",").foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      println(s"==== $name ====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
