package perfbench

import scala.jdk.CollectionConverters._

import graft.pipeline.CommercePulse
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** `daily_refresh`: starting from an empty store, the streaming refresh
  * (`EventStream.readLiveStream` -> `dedupWithWatermark` ->
  * `startDailyRefresh`) applies the daily feeds one file per micro-batch,
  * each batch after the previous one finished (a closed loop). A round is
  * one full refresh of all days into fresh store and checkpoint
  * directories; one operation is one micro-batch, including the
  * watermark-only batch with 0 input rows Spark runs after the last file.
  *
  * `cold_cpu_s` is the CPU time of the first refresh in the fresh JVM,
  * what a restarted daily job pays; `warm_cpu_s` is that of the median
  * micro-batch after the first, what each landed day costs.
  */
final class DailyRefresh(o: Opts) extends Workload {
  private val corpus = Corpus(o.seed, days = 2, perDay = 1000, historical = 0)

  def prepare(dir: String): Unit = corpus.write(dir)

  private final case class Round(cost: Cost, progress: Seq[StreamingQueryProgress],
                                 batchCpu: Seq[Double], batches: Map[Long, Counters],
                                 storeMb: Double)

  /** The JVM's CPU time at the end of each micro-batch, in batch order.
    * Progress events reach the listener a few milliseconds after their
    * batch ends, so the next batch's first milliseconds land in the
    * earlier one.
    */
  private final class BatchCpu extends StreamingQueryListener {
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      ends.add(Stats.cpu())
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)

  def run(spark: SparkSession, dir: String, tracer: Option[Tracer]): Outcome = {
    def base(i: Int) = s"${o.root}/refresh/r$i"
    val batchCpu = new BatchCpu
    spark.streams.addListener(batchCpu)
    // a refresh outlasts the run length, so a run is one round
    val rounds = Stats.rounds(o.seconds, min = 1) { i =>
      if (i > 0) Main.deleteTree(base(i - 1))
      tracer.foreach(_.reset())
      batchCpu.ends.clear()
      val out = s"${base(i)}/fact_order_daily"
      val cpu0 = Stats.cpu()
      val (q, cost) = Stats.measure {
        val stream = EventStream.dedupWithWatermark(
          EventStream.readLiveStream(spark, s"$dir/live", maxFilesPerTrigger = Some(1)))
        val q = EventStream.startDailyRefresh(spark, stream, out, s"${base(i)}/checkpoint")
        q.awaitTermination()
        q
      }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val ends = cpu0 +: batchCpu.ends.asScala.toSeq
      val progress = q.recentProgress.toSeq
      require(ends.length == progress.length + 1,
        s"${ends.length - 1} progress events for ${progress.length} micro-batches")
      Round(cost, progress, ends.sliding(2).map { case Seq(a, b) => b - a }.toSeq,
        tracer.fold(Map.empty[Long, Counters])(_.batches()),
        Tracer.dirBytes(s"${out}_events") / 1048576.0)
    }
    spark.streams.removeListener(batchCpu)
    val rss = Tracer.peakRssMb()

    // incremental == recompute: the batch pipeline over the final store,
    // written next to the maintained table for the checks
    val last = s"${base(rounds.length - 1)}/fact_order_daily"
    val store = spark.read.parquet(s"${last}_events")
    CommercePulse.factOrderDaily(CommercePulse.normalizeOrders(store),
      CommercePulse.normalizePayments(store), CommercePulse.normalizeRefunds(store))
      .write.parquet(s"${o.root}/check/recompute")

    // every micro-batch but the very first, which pays the JVM's warm-up
    val warm = rounds.flatMap(_.progress).drop(1)
    val warmCpu = rounds.flatMap(_.batchCpu).drop(1)
    Outcome(
      attempted = rounds.map(_.progress.length).sum, failed = 0,
      endToEnd = Map("cold_cpu_s" -> rounds.head.cost.cpu,
        "warm_cpu_s" -> Stats.median(warmCpu), "peak_rss_mb" -> rss),
      layers = if (tracer.isEmpty) Map.empty else layers(rounds, warm),
      check = Map(
        "maintained" -> last,
        "store" -> s"${last}_events",
        "recompute" -> s"${o.root}/check/recompute",
        "truth" -> s"$dir/truth.csv",
        "batches_per_round" -> rounds.map(_.progress.length),
        "rows_per_round" -> rounds.map(_.progress.map(_.numInputRows).sum)),
      detail = Map("refresh_wall_s" -> rounds.map(_.cost.wall),
        "refresh_cpu_s" -> rounds.map(_.cost.cpu),
        "batch_wall_s" -> rounds.map(_.progress.map(dur(_, "triggerExecution"))),
        "batch_cpu_s" -> rounds.map(_.batchCpu),
        "batch_rows" -> rounds.map(_.progress.map(_.numInputRows))))
  }

  /** Streaming and sink metrics: batch timings over the warm batches,
    * sizes and per-batch work over the rounds (medians).
    */
  private def layers(rounds: Seq[Round], warm: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def med(f: Round => Double) = Stats.median(rounds.map(f))
    val data = warm.filter(_.numInputRows > 0)
    val empty = warm.filter(_.numInputRows == 0)
    def perBatch(r: Round, f: Counters => Long) =
      r.batches.values.map(f).sum / 1048576.0 / math.max(1, r.progress.length)
    Map(
      "streaming.add_batch_s" -> Stats.median(data.map(dur(_, "addBatch"))),
      "streaming.trigger_overhead_s" -> Stats.median(data.map(p =>
        dur(p, "triggerExecution") - dur(p, "addBatch"))),
      "streaming.empty_batch_s" ->
        (if (empty.isEmpty) 0.0 else Stats.median(empty.map(dur(_, "triggerExecution")))),
      "streaming.state_rows" -> med(r => r.progress.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)),
      "sources.store_mb" -> med(_.storeMb),
      "sources.written_mb_per_batch" -> med(perBatch(_, _.writtenBytes)),
      "sources.shuffle_mb_per_batch" -> med(perBatch(_, _.shuffleBytes)))
  }
}
