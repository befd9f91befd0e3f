package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Work counters of one span (or one streaming micro-batch). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    writtenBytes += o.writtenBytes
  }
}

/** One recorded span: its name, wall seconds, JVM GC seconds spent inside
  * it, and the Spark work attributed to it.
  */
final case class Span(name: String, seconds: Double, gcSeconds: Double, work: Counters)

/** Spans around the benchmark's calls into the engine, plus a
  * SparkListener that attributes every job and task to the span that
  * submitted it.
  *
  * Attribution rides on a thread-local Spark property: `span` sets
  * `perfbench.span` before calling into the engine, every job submitted
  * from that thread (and from threads it starts, such as a streaming
  * query's execution thread) carries it, and the listener adds each
  * finished task to its span. Streaming micro-batches are also keyed by
  * the batch id Spark itself puts on their jobs.
  *
  * Listener events arrive asynchronously, so counters are read only
  * after `drain`, when the listener bus has delivered everything.
  */
final class Tracer(sc: SparkContext) {
  private val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageBatch = new ConcurrentHashMap[Int, Long]()
  private val bySpan = new ConcurrentHashMap[String, Counters]()
  private val byBatch = new ConcurrentHashMap[Long, Counters]()
  private val spans = scala.collection.mutable.ArrayBuffer[(String, String, Double, Double)]()
  private var seq = 0

  private def bucket[K](m: ConcurrentHashMap[K, Counters], k: K): Counters =
    m.computeIfAbsent(k, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { id =>
        e.stageIds.foreach(s => stageSpan.put(s, id))
        bucket(bySpan, id).synchronized(bucket(bySpan, id).jobs += 1)
      }
      props.flatMap(p => Option(p.getProperty(BatchKey))).foreach { b =>
        e.stageIds.foreach(s => stageBatch.put(s, b.toLong))
        bucket(byBatch, b.toLong).synchronized(bucket(byBatch, b.toLong).jobs += 1)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      def add(c: Counters): Unit = c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.writtenBytes += m.outputMetrics.bytesWritten
      }
      Option(stageSpan.get(e.stageId)).foreach(id => add(bucket(bySpan, id)))
      if (stageBatch.containsKey(e.stageId)) add(bucket(byBatch, stageBatch.get(e.stageId)))
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as span `name`; nested spans are not supported. */
  def span[A](name: String)(body: => A): A = {
    seq += 1
    val id = s"$name#$seq"
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val gc0 = Tracer.gcSeconds()
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      spans += ((name, id, secs, Tracer.gcSeconds() - gc0))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Every span recorded so far, in order, with its counters. */
  def recorded(): Seq[Span] = {
    drain()
    spans.toSeq.map { case (name, id, secs, gc) =>
      Span(name, secs, gc, Option(bySpan.get(id)).getOrElse(new Counters))
    }
  }

  /** Counters of each streaming micro-batch seen so far, by batch id. */
  def batches(): Map[Long, Counters] = {
    drain()
    byBatch.asScala.toMap
  }

  def reset(): Unit = {
    drain()
    stageSpan.clear(); stageBatch.clear(); bySpan.clear(); byBatch.clear(); spans.clear()
  }
}

object Tracer {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Peak resident set size of this JVM so far, in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Bytes under a local directory (0 if it does not exist). */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path.stripPrefix("file:"))
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }
}
