package graft

/** The specs run in the contract [[Session]], and that session carries
  * every conf the bench times with from its first query on — no loader
  * call has to run first, so no result depends on test order.
  */
class SessionSpec extends SparkSuite {

  test("SparkSuite.session is a contract session carrying every timed conf") {
    // the suite's session first: it sets the static warehouse dir, which
    // a session created earlier without it would keep
    val suite = SparkSuite.session
    assert(Session() eq suite)
    val n = Session.cpus
    assert(spark.sparkContext.master == s"local[$n]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    Seq(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("Tables.events reads the session's confs and never sets them") {
    val s2 = spark.newSession()
    s2.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val before = s2.conf.getAll
    assert(Tables.events(s2, sf).count() > 0)
    assert(s2.conf.getAll == before)
  }
}
