package graft

/** Dev tool: print the formatted physical plan of one or more declared
  * queries, e.g. `sbt "runMain graft.Explain /root/testdata/sf0.01 filter_pred"`.
  * Used to audit pushdown (PushedFilters), broadcast choices and
  * WholeStageCodegen spans after each operator change. Plans under the
  * same session regime as Bench and Verify ([[GraftSession.build]]).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = GraftSession.envCpus
    val spark = GraftSession.build(Some(s"local[$cpus]"), cpus, sfDir)
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
