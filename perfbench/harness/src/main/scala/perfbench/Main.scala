package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      root: String, cores: Int, tables: String, prepSeconds: Double,
                      prepCpuSeconds: Double)

/** What a workload hands back: operations attempted and failed, the
  * end-to-end and per-layer metrics, the facts the correctness checks in
  * perfbench/checks.py need, and per-operation detail for the log.
  */
final case class Outcome(attempted: Int, failed: Int, endToEnd: Map[String, Double],
                         layers: Map[String, Double], check: Map[String, Any],
                         detail: Map[String, Any] = Map.empty)

trait Workload {
  /** Generate this run's inputs under `dir`; called once, in set-up. */
  def prepare(dir: String): Unit

  /** Run whole rounds of the workload's operations for `opts.seconds`. */
  def run(spark: SparkSession, dir: String, tracer: Option[Tracer]): Outcome
}

object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("root"), kv("cores").toInt, kv.getOrElse("tables", ""),
      kv.getOrElse("prep-seconds", "0").toDouble, kv.getOrElse("prep-cpu-seconds", "0").toDouble)
    val workload: Workload = o.workload match {
      case "elt_rebuild" => new EltRebuild(o)
      case "daily_refresh" => new DailyRefresh(o)
      case "query_mix" => new QueryMix(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: JVM start, the Spark session and the inputs, each once. A
    // second session in the same JVM takes under 2 % of the first (its
    // classes are loaded), so a median of repetitions would time a
    // set-up no user pays. setup_s is the CPU time of all of it, this
    // JVM's since it started plus the table generator's.
    val (spark, session_s) = Stats.time(session(o))
    val inputs = s"${o.root}/inputs"
    val prepare = Stats.time(workload.prepare(inputs))._2
    val setupCpu = Stats.cpu() + o.prepCpuSeconds
    val setupWall = jvmStart + session_s + prepare + o.prepSeconds

    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val out = workload.run(spark, inputs, tracer)
    val result = Map[String, Any](
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "end_to_end" -> (out.endToEnd + ("setup_s" -> setupCpu)),
      "per_layer" -> out.layers,
      "check" -> out.check,
      "detail" -> (out.detail ++ Map("setup_wall_s" -> setupWall, "jvm_start_s" -> jvmStart,
        "session_s" -> session_s, "prepare_s" -> prepare)))
    Files.writeString(Paths.get(s"${o.root}/result.json"), Json(result))
    spark.stop()
  }

  /** The one session every workload runs in. Parallelism, shuffle width
    * and every directory Spark writes to are fixed here, not taken from
    * the host or the environment.
    */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .config("spark.local.dir", s"${o.root}/local")
      .config("spark.graft.scratchDir", s"file:${o.root}/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** What one operation cost: wall seconds and CPU seconds. */
final case class Cost(wall: Double, cpu: Double)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Run `op(i)` for i = 0, 1, ... until `seconds` have passed and at
    * least `min` rounds ran; returns each round's result in order.
    */
  def rounds[A](seconds: Double, min: Int)(op: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[A]()
    while (out.length < min || (System.nanoTime() - t0) / 1e9 < seconds)
      out += op(out.length)
    out.toSeq
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds this JVM has used since it started, all threads
    * together (JIT and GC included). The kernel leaves out the time the
    * hypervisor gave to other guests (steal); run.py scales it by the
    * host's speed (see perfbench/README.md).
    */
  def cpu(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case other => throw new IllegalStateException(s"no process CPU time in $other")
  }

  /** Wall and CPU seconds of `body`. */
  def measure[A](body: => A): (A, Cost) = {
    val t0 = System.nanoTime()
    val c0 = cpu()
    val a = body
    (a, Cost((System.nanoTime() - t0) / 1e9, cpu() - c0))
  }

  /** Per-layer metrics from spans grouped by round: for every span name
    * L, `L_s` plus its counters, each the median over the given rounds.
    */
  def layerMetrics(rounds: Seq[Seq[Span]], cores: Int): Map[String, Double] = {
    val names = rounds.flatMap(_.map(_.name)).distinct
    names.flatMap { n =>
      val per = rounds.map { r =>
        val ss = r.filter(_.name == n)
        val c = new Counters
        ss.foreach(s => c += s.work)
        val secs = ss.map(_.seconds).sum
        Map(
          s"${n}_s" -> secs,
          s"$n.jobs" -> c.jobs.toDouble,
          s"$n.tasks" -> c.tasks.toDouble,
          s"$n.shuffle_mb" -> c.shuffleBytes / 1048576.0,
          s"$n.spill_mb" -> c.spillBytes / 1048576.0,
          s"$n.written_mb" -> c.writtenBytes / 1048576.0,
          s"$n.gc_s" -> ss.map(_.gcSeconds).sum,
          s"$n.busy_share" -> (if (secs > 0) c.runMs / 1000.0 / (secs * cores) else 0.0))
      }
      per.head.keys.map(k => k -> median(per.map(_(k))))
    }.toMap
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
