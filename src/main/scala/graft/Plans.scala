package graft

/** Plan-audit main: prints the formatted physical plan of the named
  * catalog queries (default: every catalog query, in name order) so scan
  * pruning (`PushedFilters`, `ReadSchema`), join strategies (broadcast vs
  * shuffle), and whole-stage-codegen spans can be reviewed per query. An
  * unknown name fails on its catalog lookup.
  *
  * Usage: runMain graft.Plans [sfDir] [query ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n================ $name ================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
