package graft

/** Plan-audit main: print the formatted physical plan of the named
  * queries (all queries when no args). Usage:
  *   sbt "runMain graft.Explain q03_store_yoy e01_knn_brute"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.build(Session.Role.Explain, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    QueryRun.run(spark, QueryRun.select(args.toSet, sfDir))(
      act = { (name, build) =>
        println(s"\n========== $name ==========")
        build().explain("formatted")
      },
      failed = (_, e) => println(s"EXPLAIN FAILED: ${e.getMessage}"))
    spark.stop()
  }
}
