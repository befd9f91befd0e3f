package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one local session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  lazy val sf: String = "/root/testdata/sf0.001"

  def tempDir(prefix: String): String = SparkSuite.tempDir(prefix)
}

object SparkSuite {
  // every directory a spec writes — temp dirs and the session's warehouse
  // — lives under one per-JVM root, deleted at exit
  private lazy val root: java.io.File = {
    val r = java.nio.file.Files.createTempDirectory("graft_test").toFile
    // after Spark's own hooks (context stop at 50, its temp dirs at 25),
    // before Hadoop closes its cached FileSystems (10)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => { org.apache.hadoop.fs.FileUtil.fullyDelete(r); () }, 20)
    r
  }

  /** A fresh directory under the suite root, deleted at JVM exit. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root.toPath, prefix).toString

  /** The contract [[Session]] — the confs the bench times and the oracle
    * gate certifies — with its warehouse under the suite root, so tables
    * the specs save never land in the working directory.
    */
  lazy val session: SparkSession = {
    val s = Session(Seq("spark.sql.warehouse.dir" -> tempDir("warehouse")))
    // The repo's only unpartitioned windows are the DELIBERATE K-row
    // frames (ds_mixture / ds_temperature / ds_interleave quota math —
    // bounded by the language/source domain, commented at each site), so
    // WindowExec's "No Partition Defined" warning is pure noise in test
    // logs; quiet that one logger rather than train readers to ignore
    // warnings.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
