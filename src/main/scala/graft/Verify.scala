package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Runtime confs whose STATIC oracle SQL pins the default value. The
  * knobs exist for production (shard counts in the thousands, nprobe per
  * recall budget); the cross-engine gate is only meaningful at the pinned
  * defaults, so Verify fails fast instead of silently hash-mismatching
  * when a non-default value leaks into the gate's session.
  */
object OracleDefaults {
  val pinned: Seq[(String, String)] = Seq(
    "spark.graft.shards" -> "8",
    "spark.graft.ivf.nprobe" -> "2",
    "spark.graft.ivf.cells" -> "8",
    "spark.graft.sem.evaln" -> "25",
    "spark.graft.sem.tau" -> "1400000000000")

  def assertDefaults(spark: SparkSession): Unit = pinned.foreach {
    case (k, v) =>
      val got = spark.conf.get(k, v)
      require(got == v,
        s"oracle gate: $k=$got but the static oracle SQL pins $k=$v — " +
          "unset the conf (or update the pinned default) before verifying")
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    OracleDefaults.assertDefaults(spark)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=tpch_q2,tpch_q8 dumps a subset for fast
    // tools/check.py iteration
    val selected = SparkEntry.selected()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Loud failure record (round-4 postmortem: stderr-only errors let a
    // broken round ship). Written even when empty so its absence vs
    // emptiness is distinguishable in the driver's artifacts.
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
