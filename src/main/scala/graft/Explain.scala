package graft

/** Dev tool: print the formatted physical plan of one or more queries
  * (one Spark session for the batch, `===== name =====` separators),
  * planned in the contract [[Session]] — the confs `Bench` times and
  * `Verify` certifies under.
  * `sbt "runMain graft.Explain <query>... [sfDir]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.partition(_.startsWith("/"))
    val dir = dirs.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session()
    for (name <- names) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
