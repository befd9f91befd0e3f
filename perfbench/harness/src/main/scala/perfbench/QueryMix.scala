package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `query_mix`: a fixed list of the engine's named queries
  * (`SparkEntry.queries`) over generated star-schema tables. One cold pass
  * runs each query once in the fresh session, which pays every
  * session-scoped staging build; warm passes repeat the list until the
  * run's time is up. One operation is one query execution that writes
  * its result as parquet (so every column is computed); the last pass's
  * results are what the checks compare with DuckDB.
  */
final class QueryMix(o: Opts) extends Workload {
  def prepare(dir: String): Unit = () // tables come from perfbench/gen_tables.py

  def run(spark: SparkSession, dir: String, tracer: Option[Tracer]): Outcome = {
    val tables = o.tables
    val fns = QueryMix.Queries.map { case (name, _) => name -> SparkEntry.queries(name) }
    val resultDir = s"${o.root}/check/results"
    def exec(name: String): Cost = {
      val fam = QueryMix.Queries.toMap.apply(name)
      def body() = fns.toMap.apply(name)(spark, tables).write.mode("overwrite")
        .parquet(s"$resultDir/$name")
      Stats.measure(tracer.fold(body())(_.span(s"queries.$fam")(body())))._2
    }

    tracer.foreach(_.reset())
    val scratch = s"${o.root}/scratch"
    val before = Tracer.dirBytes(scratch)
    // one cold and at least one warm pass: a run has about a minute
    val passes = Stats.rounds(o.seconds, min = 2) { _ =>
      val times = QueryMix.Queries.map { case (name, _) => name -> exec(name) }
      (times, tracer.fold(Seq.empty[Span])(_.recorded()))
    }
    val rss = Tracer.peakRssMb()
    val staged = (Tracer.dirBytes(scratch) - before) / 1048576.0

    // per query: its first execution, and the median of its later ones
    def first(f: Cost => Double) = passes.head._1.map { case (n, c) => n -> f(c) }.toMap
    def warmMed(f: Cost => Double) = QueryMix.Queries.map { case (n, _) =>
      n -> Stats.median(passes.drop(1).map(p => f(p._1.toMap.apply(n))))
    }.toMap
    val cold = first(_.wall)
    val warmMedian = warmMed(_.wall)
    val coldCpu = first(_.cpu)
    val warmCpu = warmMed(_.cpu)

    Files.writeString(Paths.get(s"${o.root}/check/oracle_sql.json"),
      Json(QueryMix.Queries.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap))

    val layers = tracer.fold(Map.empty[String, Double]) { _ =>
      // spans accumulate over passes (reset once): pass k holds the
      // spans recorded after pass k-1's
      val spans = passes.map(_._2)
      val perPass = spans.indices.map(i => spans(i).drop(if (i == 0) 0 else spans(i - 1).length))
      QueryMix.Families.flatMap { f =>
        val names = QueryMix.Queries.collect { case (n, `f`) => n }
        def counters(pass: Seq[Span]) = {
          val c = new Counters
          pass.filter(_.name == s"queries.$f").foreach(s => c += s.work)
          c
        }
        val warmC = perPass.drop(1).map(counters)
        def med(g: Counters => Long) = Stats.median(warmC.map(g(_).toDouble))
        Seq(
          s"queries.$f.cold_s" -> names.map(cold).sum,
          s"queries.$f.warm_s" -> names.map(warmMedian).sum,
          s"queries.$f.jobs" -> med(_.jobs),
          s"queries.$f.tasks" -> med(_.tasks),
          s"queries.$f.shuffle_mb" -> med(_.shuffleBytes) / 1048576.0,
          s"queries.$f.spill_mb" -> med(_.spillBytes) / 1048576.0)
      }.toMap + ("scratch.staged_mb" -> staged)
    }
    Outcome(
      attempted = passes.length * QueryMix.Queries.length, failed = 0,
      endToEnd = Map("cold_cpu_s" -> coldCpu.values.sum, "warm_cpu_s" -> warmCpu.values.sum,
        "peak_rss_mb" -> rss),
      layers = layers,
      check = Map("results" -> resultDir, "oracle_sql" -> s"${o.root}/check/oracle_sql.json",
        "tables" -> tables, "queries" -> QueryMix.Queries.map(_._1)),
      detail = Map("cold_wall_s" -> cold, "warm_median_wall_s" -> warmMedian,
        "cold_cpu_s" -> coldCpu, "warm_median_cpu_s" -> warmCpu))
  }
}

object QueryMix {
  /** (query, family): commerce/relational, near-duplicate detection,
    * vector similarity. Order is execution order within a pass.
    */
  val Queries: Seq[(String, String)] = Seq(
    "a1_fact_order_daily" -> "rel", "tpch_q1" -> "rel", "dd_incremental" -> "dd",
    "sim_pq" -> "sim")

  val Families: Seq[String] = Seq("rel", "dd", "sim")
}
