package graft

/** Plan inspection helper: prints the formatted physical plan of the
  * named queries (or all) against a scale dir — the `.explain`
  * feedback loop for shuffle/broadcast/pushdown review.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = graft.util.Session.build()
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      println(s"===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
