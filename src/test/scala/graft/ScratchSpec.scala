package graft

class ScratchSpec extends SparkSuite {

  test("scratch root honors spark.graft.scratchDir") {
    val custom = tempDir("scratch_root")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.scratchDir", custom)
    val d = Scratch.dir(s2, "spec_")
    assert(d.contains(custom), s"$d should live under configured root $custom")
    // usable by write+read through the returned string
    import s2.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(d + "/t")
    assert(s2.read.parquet(d + "/t").count() == 2)
  }

  test("scratch falls back to the checkpoint dir before local temp") {
    val cp = tempDir("scratch_cp")
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(cp)
    try {
      val s2 = spark.newSession() // no spark.graft.scratchDir set
      assert(Scratch.root(s2).contains(new java.io.File(cp).getName))
    } finally {
      // restore the previous state exactly, so every later suite sharing
      // this context resolves scratch as before: any `setCheckpointDir`
      // call would create a UUID-named subdirectory that nothing deletes
      org.apache.spark.SparkInternals.restoreCheckpointDir(spark.sparkContext, prev)
    }
  }

  test("two sessions running the same roundtrip query concurrently don't interleave files") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sfDir = "/root/testdata/sf0.001"
    val sessions = Seq(spark.newSession(), spark.newSession())
    val runs = sessions.map { s2 =>
      Future(graft.queries.Extended.s1JsonRoundtrip(s2, sfDir)
        .collect().map(_.toString).toSeq)
    }
    val Seq(r1, r2) = runs.map(Await.result(_, 120.seconds))
    // identical correct results — corrupt-line counts would differ if the
    // two sessions had appended into each other's scratch dirs
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("stagedFrame builds once per (session, key) and re-reads from scratch") {
    import spark.implicits._
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    def frame = {
      built.incrementAndGet()
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    }
    val key = "staged_spec_" + System.nanoTime()
    val a = Scratch.stagedFrame(spark, key)(frame)
    val b = Scratch.stagedFrame(spark, key)(frame)
    assert(built.get() == 1, "builder must run exactly once per (session, key)")
    assert(a.collect().toSet == b.collect().toSet && a.count() == 2)
    // the memo stores the scratch PATH and re-reads on hit — never the
    // DataFrame itself, which would strongly reference the SparkSession
    // and pin the weak-keyed entry forever
    assert(!(a eq b), "hits must be fresh reads, not a cached DataFrame")
  }

  test("writeRead returns the writer's frame exactly — schema, rows, and " +
    "agreement with a bare inferred read") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // aggregate output carries non-nullable columns and an array — the
    // shapes whose round-trip through an explicit read schema must match
    // what footer inference would have produced
    val src = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sort_array(collect_list("v")).as("vs"))
    val path = Scratch.dir(spark, "spec_wr_") + "/t"
    val back = Scratch.writeRead(src, path)
    // file sources force nullability on read (a file can't be trusted),
    // for explicit schemas exactly as for inferred ones — so the contract
    // is NOT "back.schema == src.schema" but "identical to what the old
    // bare inferred read produced": same names/types, file-source
    // nullability, same rows. That identity is what makes writeRead a
    // pure job-count optimization.
    val inferred = spark.read.parquet(path)
    assert(back.schema == inferred.schema,
      "explicit writer schema and footer inference must agree — " +
        s"${back.schema} vs ${inferred.schema}")
    // names and types match the writer (nullability-free rendering:
    // the forcing applies to nested containsNull too)
    assert(back.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
      == src.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq)
    assert(back.collect().toSet == inferred.collect().toSet
      && back.count() == 2)
  }

  test("stagedFrame read-back carries the build-time schema (no inference)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = "staged_schema_spec_" + System.nanoTime()
    val built = Scratch.stagedFrame(spark, key) {
      Seq((1L, 2.5), (2L, 3.5)).toDF("k", "x")
        .groupBy("k").agg(count(lit(1)).as("n"))
    }
    val hit = Scratch.stagedFrame(spark, key) {
      fail("builder must not re-run on a memo hit"); null
    }
    // file-source nullability applies (see the writeRead spec above):
    // the carried build-time schema reads back with the same names/types
    // and the same forced-nullable fields a bare inferred read produces
    val expected = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = true)))
    assert(built.schema == expected && hit.schema == expected,
      s"${built.schema} / ${hit.schema} vs $expected")
    assert(hit.collect().toSet == built.collect().toSet && hit.count() == 2)
  }

  test("concurrent sessions and repeated calls never collide") {
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    val dirs = Seq(
      Scratch.dir(s2, "spec_"), Scratch.dir(s2, "spec_"),
      Scratch.dir(s3, "spec_"), Scratch.dir(spark, "spec_"))
    assert(dirs.distinct.size == dirs.size, s"collision in $dirs")
    // every dir exists and is empty — ready for a writer
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p) && fs.listStatus(p).isEmpty)
    }
  }
}
