package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region at a layer boundary. `unit` is the file, wave, batch
  * or query the span belongs to; `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, unit: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spark jobs started inside a span carry its id
  * in the `perfbench.span` local property of the calling thread, so the
  * [[JobListener]] can attribute them. When tracing is off every call is a
  * plain pass-through and nothing is recorded. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)

  def span[T](name: String, parent: Long, unit: String)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId.getAndIncrement()
      val prev = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = Clock.now
      try body(id)
      finally {
        val t1 = Clock.now
        sc.setLocalProperty(Tracer.Prop, prev)
        synchronized { spans += Span(id, name, parent, unit, t0, t1) }
      }
    }

  /** A span whose bounds were observed elsewhere (audit timestamps). */
  def record(name: String, parent: Long, unit: String, t0: Long, t1: Long): Long =
    if (!enabled) 0L
    else synchronized {
      val id = nextId.getAndIncrement()
      spans += Span(id, name, parent, unit, t0, t1)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit =
    Json.write(path, all.map(s => scala.collection.immutable.ListMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "unit" -> s.unit,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Wall clock in epoch nanoseconds (microsecond resolution). Spans, audit
  * events and file timestamps all use it, so they share one time line. */
object Clock {
  def now: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** Work counted per span id (0 = outside any span). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var jobMs = 0L
  def add(o: Work): Work = {
    jobs += o.jobs; jobMs += o.jobMs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    this
  }
}

/** Spark jobs, stages and tasks, grouped by the span that started them. */
final class JobListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Long, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]

  private def work(span: Long) = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)
    work(span).jobs += 1
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => work(span).jobMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val w = work(stageSpan.getOrElse(info.stageId, 0L))
    w.stages += 1
    w.tasks += info.numTasks
    Option(info.taskMetrics).foreach { m =>
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sum over the given span ids. */
  def sum(spans: Iterable[Long]): Work = synchronized {
    spans.foldLeft(new Work)((acc, s) => bySpan.get(s).fold(acc)(acc.add))
  }

}

final case class StreamBatch(inputRows: Long, durations: Map[String, Long])

/** Progress of every micro-batch of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[StreamBatch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val d = p.durationMs
      val m = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      // AvailableNow also reports a final no-data batch; count the ones
      // that processed files.
      if (p.numInputRows > 0) batches += StreamBatch(p.numInputRows, m)
    }

  def all: Seq[StreamBatch] = synchronized(batches.toList)
}
