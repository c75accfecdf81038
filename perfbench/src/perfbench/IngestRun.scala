package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.{Clean, Readers, Schemas, Validate}
import graft.pipeline.Router
import graft.sink.{AuditLog, Warehouse}
import graft.streaming.Stream

/** An audit sink that remembers when each event arrived. */
final class TimedAudit extends AuditLog.Sink {
  private val inner = new AuditLog.InMemorySink
  private val events = mutable.ArrayBuffer.empty[(Schemas.AuditEntry, Long)]
  override def log(entry: Schemas.AuditEntry): Unit = {
    inner.log(entry)
    synchronized { events += ((entry, Clock.now)) }
  }
  override def current: Map[String, Schemas.AuditEntry] = inner.current
  def timeline: Seq[(Schemas.AuditEntry, Long)] = synchronized(events.toList)
}

/** `Warehouse.loader` with each call's file, bounds and row count kept. */
final class TimedLoad(path: String) {
  private val inner = Warehouse.loader(path)
  private val calls = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  val fn: DataFrame => Long = { df =>
    // The Router caches the frame it loads, which hides its files; the
    // sweep's frame still names its one input file.
    val file = df.inputFiles.headOption
      .map(p => new org.apache.hadoop.fs.Path(p).getName).getOrElse("")
    val t0 = Clock.now
    val n = inner(df)
    val t1 = Clock.now
    synchronized { calls += ((file, t0, t1, n)) }
    n
  }
  def all: Seq[(String, Long, Long, Long)] = synchronized(calls.toList)
}

final case class Landed(spec: Drop.FileSpec, landedNs: Long)

/** One drain: the files landed, their outcomes, and the drain calls. */
final class Drain(val root: Path, val stream: Boolean) {
  val warehouse: String = root.resolve("warehouse").toString
  val bucket = Router.Bucket(root.resolve("bucket").toString)
  val incoming: Path = if (stream) root.resolve("incoming") else Paths.get(bucket.incoming)
  val quarantine: Path = root.resolve("quarantine")
  val checkpoint: Path = root.resolve("ckpt")
  val load = new TimedLoad(warehouse)
  val audit = new TimedAudit
  val landed = mutable.ArrayBuffer.empty[Landed]
  /** file name -> (outcome, rows, outcome time) */
  val outcomes = mutable.LinkedHashMap.empty[String, (String, Long, Long)]
  /** (span id, start, end) of each runBatch or sweep call */
  val calls = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def drainS: Double = calls.map(c => c._3 - c._2).sum / 1e9
  def rowsLoaded: Long = outcomes.values.filter(_._1 == "loaded").map(_._2).sum
  def latencies: Seq[Double] = landed.toSeq.flatMap(l =>
    outcomes.get(l.spec.name).map(o => (o._3 - l.landedNs) / 1e9))

  def toJson: ListMap[String, Any] = ListMap(
    "files" -> landed.map { l =>
      val (outcome, rows, t) = outcomes.getOrElse(l.spec.name, ("missing", 0L, 0L))
      ListMap("spec" -> l.spec.toJson, "outcome" -> outcome, "rows" -> rows,
        "latency_s" -> (if (t > 0) (t - l.landedNs) / 1e9 else -1.0),
        "audit_status" -> audit.current.get(l.spec.name).map(_.status))
    },
    "drain_s" -> drainS,
    "rows_loaded" -> rowsLoaded,
    "warehouse" -> warehouse,
    "bucket" -> bucket.base,
    "stream_incoming" -> incoming.toString,
    "quarantine" -> quarantine.toString)
}

/** The `ingest_batch` workload: land a seeded drop one file at a time,
  * drain each with one `Router.runBatch` into `Warehouse.loader`, then run
  * the reference's KPI reads over the fresh warehouse.
  *
  * The traced run also drains the same files, one at a time, through
  * `Stream.runAvailableNowSweep` (one checkpoint for all sweeps) into a
  * second warehouse, so the streaming layer is measured and its routing
  * checked too. */
final class IngestRun(spark: SparkSession, work: Path, seed: Long,
                      seconds: Double, trace: Boolean) extends Workload {
  /** The run drains a fixed drop: one file per second of `seconds`, in
    * whole format rotations (10 files at 10 s). Fixed work keeps the
    * warehouse the KPI reads scan the same size whatever the drain speed. */
  private val nFiles = Drop.Formats.size * math.max(1, math.round(seconds / Drop.Formats.size).toInt)
  private val staging = work.resolve("drop")
  private val probe = work.resolve("probe")
  private var specs: Seq[Drop.FileSpec] = Nil

  /** Drop generation (repeated as part of set-up). */
  def prepare(): Unit = {
    Drop.deleteTree(staging)
    specs = Drop.generate(spark, seed, nFiles, staging, "sales")
  }

  /** Drain a small drop of every format through both paths into throwaway
    * warehouses, so JIT and codegen are warm before timing. */
  def warmup(): Unit = {
    val dir = work.resolve("warmup")
    val paths = if (trace) Seq(false, true) else Seq(false)
    paths.foreach { stream =>
      val drain = new Drain(dir.resolve(if (stream) "stream" else "batch"), stream)
      val drop = Drop.generate(spark, seed + 7919L, Drop.Formats.size, dir.resolve("drop"), "warm")
      drop.foreach(s => drainOne(drain, dir.resolve("drop").resolve(s.name), new Tracer(false, spark.sparkContext)))
      kpiReads(Warehouse.readSales(spark, drain.warehouse)).foreach(_._2.collect())
    }
    Drop.deleteTree(dir)
    if (trace) {
      // Copies for the direct ingest-layer probe, taken before landing.
      Files.createDirectories(probe)
      specs.take(10).foreach(s => Files.copy(staging.resolve(s.name), probe.resolve(s.name)))
    }
  }

  /** Land `file` in the drain's drop zone and drain it with one call. Each
    * file is drained as it lands, as the reference's per-file DAG run does
    * at its 10,000 rows/min rate (a file every few seconds). */
  private def drainOne(d: Drain, file: Path, tracer: Tracer): Unit = {
    if (d.stream) Files.createDirectories(d.incoming) else Router.ensure(spark, d.bucket)
    val name = file.getFileName.toString
    Files.move(file, d.incoming.resolve(name))
    d.landed += Landed(specs.find(_.name == name).getOrElse(
      Drop.FileSpec(name, "", "", None, 0, 0, 0, 0L, BigDecimal(0), 0L)), Clock.now)
    val w0 = Clock.now
    val id = tracer.span(if (d.stream) "streaming.sweep" else "pipeline.runBatch", 0L, name) { id =>
      if (d.stream) {
        val results = Stream.runAvailableNowSweep(spark, d.incoming.toString,
          d.checkpoint.toString, d.quarantine.toString, df => { d.load.fn(df); () })
        results.foreach { r =>
          val file = new org.apache.hadoop.fs.Path(r.path).getName
          if (r.quarantined) {
            // The sweep moves a rejected file; the move sets its ctime.
            val ctime = Files.getAttribute(d.quarantine.resolve(file), "unix:ctime")
              .asInstanceOf[java.nio.file.attribute.FileTime].toInstant
            d.outcomes(file) = ("quarantined", 0L, ctime.getEpochSecond * 1000000000L + ctime.getNano)
          } else {
            val end = d.load.all.reverseIterator.find(_._1 == file).map(_._3).getOrElse(Clock.now)
            d.outcomes(file) = ("loaded", r.rows, end)
          }
        }
      } else {
        val report = Router.runBatch(spark, d.bucket, d.audit, d.load.fn)
        val last = d.audit.timeline.groupBy(_._1.file_key).map { case (k, es) => k -> es.map(_._2).max }
        report.outcomes.foreach(o => d.outcomes(o.key) = (o.status, o.rows, last(o.key)))
      }
      id
    }
    d.calls += ((id, w0, Clock.now))
  }

  def measure(tracer: Tracer, jobs: JobListener, streams: StreamListener): ListMap[String, Any] = {
    val batch = new Drain(work.resolve("batch"), stream = false)
    val t0 = Clock.now
    specs.foreach(s => drainOne(batch, staging.resolve(s.name), tracer))
    val measuredS = (Clock.now - t0) / 1e9

    // Fresh KPI reads over the warehouse just written: one untimed, so the
    // read path is warm for this warehouse's size, then three timed.
    // The last round's answers are the ones checked.
    def readKpis() = kpiReads(Warehouse.readSales(spark, batch.warehouse)).map { case (name, df) =>
      name -> df.collect().toSeq.map(r => r.toSeq.map(v => if (v == null) null else v.toString))
    }
    readKpis()
    var kpiResults = Seq.empty[(String, Seq[Seq[String]])]
    val kpiTimes = (1 to 3).map { _ =>
      val k0 = Clock.now
      kpiResults = readKpis()
      (Clock.now - k0) / 1e9
    }

    val traced = if (!trace) ListMap.empty[String, Any] else {
      val layers = traceLayers(tracer, jobs, batch, measuredS)
      // The same files, in the same order, through the streaming sweep.
      val stream = new Drain(work.resolve("stream"), stream = true)
      val again = work.resolve("stream_drop")
      Files.createDirectories(again)
      val copies = batch.landed.toSeq.map { l =>
        val where = Seq(Paths.get(batch.bucket.processed), Paths.get(batch.bucket.failed("validation_failed")))
          .map(_.resolve(l.spec.name)).find(Files.exists(_)).get
        Files.copy(where, again.resolve(l.spec.name))
      }
      copies.foreach(c => drainOne(stream, c, tracer))
      ListMap("stream" -> stream.toJson, "layers" -> (layers ++ streamLayers(streams, stream)))
    }
    batch.toJson ++ ListMap(
      "measured_s" -> measuredS,
      "fresh_kpi_s" -> kpiTimes,
      "kpi_results" -> ListMap(kpiResults: _*)) ++ traced
  }

  /** The reference's KPI reads (README's dashboard queries) over the
    * warehouse: daily totals, top-10 customers, product breakdown and the
    * rolling 7-day average. Sums are exact decimals. */
  def kpiReads(sales: DataFrame): Seq[(String, DataFrame)] = {
    val amt = col("amount").cast("decimal(18,2)")
    val daily = sales.groupBy(to_date(col("sale_date")).as("day"))
      .agg(count(lit(1)).as("n"), sum(amt).as("revenue"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    Seq(
      "daily_totals" -> daily,
      "top_customers" -> sales.groupBy(col("customer_id")).agg(sum(amt).as("revenue"))
        .orderBy(col("revenue").desc, col("customer_id")).limit(10),
      "product_breakdown" -> sales.groupBy(col("product_id"))
        .agg(count(lit(1)).as("n"), sum(col("quantity")).as("qty"), sum(amt).as("revenue")),
      "rolling_7day" -> daily.filter(col("day").isNotNull)
        .select(col("day"), sum(col("revenue")).over(w).as("revenue_7d"),
          count(lit(1)).over(w).as("days_7d"))
        .withColumn("avg_7d", col("revenue_7d") / col("days_7d")))
  }

  private def traceLayers(tracer: Tracer, jobs: JobListener, d: Drain,
                          measuredS: Double): ListMap[String, Any] = {
    org.apache.spark.ListenerBusFlush(spark.sparkContext)
    val m = mutable.LinkedHashMap.empty[String, Any]
    val nFiles = math.max(1, d.landed.size).toDouble

    // pipeline.*: per-file phases from audit timestamps and load bounds.
    // A file's interval starts where the previous file's last audit event
    // (or the runBatch call) ended.
    val phases = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    val loads = d.load.all.iterator
    var phaseSum = 0.0
    d.calls.foreach { case (callId, w0, w1) =>
      val evs = d.audit.timeline.filter { case (_, t) => t >= w0 && t <= w1 }
      var start = w0
      evs.groupBy(_._1.file_key).toSeq.sortBy(_._2.head._2).foreach { case (key, es) =>
        val at = es.map { case (e, t) => e.status -> t }.toMap
        val end = es.map(_._2).max
        val fileSpan = tracer.record("pipeline.file", callId, key, start, end)
        at.get("validated").orElse(at.get("validation_failed")).foreach { tv =>
          tracer.record("pipeline.validate", fileSpan, key, start, tv)
          val validate = (tv - start) / 1e9
          (at.get("processed"), at.get("loaded")) match {
            case (Some(tp), Some(tl)) =>
              val (_, l0, l1, _) = loads.next()
              tracer.record("pipeline.process", fileSpan, key, tv, tp)
              tracer.record("pipeline.load", fileSpan, key, l0, l1)
              tracer.record("pipeline.move_audit", fileSpan, key, l1, tl)
              val p = ((tp - tv) / 1e9, (l1 - l0) / 1e9, ((l0 - tp) + (tl - l1)) / 1e9)
              phases += ((validate, p._1, p._2, p._3))
              phaseSum += validate + p._1 + p._2 + p._3
            case _ => phaseSum += validate
          }
        }
        start = end
      }
    }
    m("pipeline.validate_s") = Stats.median(phases.map(_._1).toSeq)
    m("pipeline.process_s") = Stats.median(phases.map(_._2).toSeq)
    m("pipeline.load_s") = Stats.median(phases.map(_._3).toSeq)
    m("pipeline.move_audit_s") = Stats.median(phases.map(_._4).toSeq)
    m("pipeline.jobs_per_file") = jobs.sum(d.calls.map(_._1)).jobs / nFiles
    m("pipeline.phase_coverage") = if (d.drainS > 0) phaseSum / d.drainS else 0.0

    // ingest.*: direct calls on copies of the first drop files.
    val probes = Files.list(probe).iterator().asScala.toSeq.sortBy(_.toString)
    val vTimes = mutable.ArrayBuffer.empty[Double]
    val cTimes = mutable.ArrayBuffer.empty[Double]
    var rowsIn, nullKey, dupRemoved = 0L
    probes.foreach { p =>
      val unit = p.getFileName.toString
      val v0 = Clock.now
      val verdict = tracer.span("ingest.validate", 0L, unit)(_ => Validate.validate(spark, p.toString))
      vTimes += (Clock.now - v0) / 1e9
      if (verdict.valid) {
        val obs = Observation(s"probe_$unit")
        val c0 = Clock.now
        val out = tracer.span("ingest.clean", 0L, unit) { _ =>
          Clean.cleanSalesObserved(Readers.readAllString(spark, p.toString), obs).count()
        }
        cTimes += (Clock.now - c0) / 1e9
        val got = obs.get
        val in = got("rows_in").asInstanceOf[Long]
        val nk = got("rows_null_key").asInstanceOf[Long]
        rowsIn += in; nullKey += nk; dupRemoved += in - nk - out
      }
    }
    m("ingest.validate_s") = Stats.median(vTimes.toSeq)
    m("ingest.clean_s") = Stats.median(cTimes.toSeq)
    m("ingest.rows_in") = rowsIn
    m("ingest.rows_null_key") = nullKey
    m("ingest.rows_dup_removed") = dupRemoved

    // sink.*
    val wh = Paths.get(d.warehouse)
    val whFiles = Files.walk(wh).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val loadedFiles = math.max(1, d.load.all.size).toDouble
    val inputBytes = d.landed.filter(l => d.outcomes.get(l.spec.name).exists(_._1 == "loaded"))
      .map(_.spec.bytes).sum.toDouble
    m("sink.write_s") = Stats.median(d.load.all.map(c => (c._3 - c._2) / 1e9))
    m("sink.files_written") = whFiles.size / loadedFiles
    m("sink.bytes_per_input_byte") =
      if (inputBytes > 0) whFiles.map(Files.size).sum / inputBytes else 0.0
    m("sink.partitions_touched") = Files.list(wh).iterator().asScala
      .count(_.getFileName.toString.startsWith(Warehouse.PartitionCol + "="))
    val readTimes = (1 to 3).map { _ =>
      val r0 = Clock.now
      tracer.span("sink.read", 0L, "warehouse")(_ => Warehouse.readSales(spark, d.warehouse))
      (Clock.now - r0) / 1e9
    }
    m("sink.read_s") = Stats.median(readTimes)
    m("sink.files_scanned") = Warehouse.readSales(spark, d.warehouse).inputFiles.length
    m("sink.audit_events") = d.audit.timeline.size / nFiles

    // spark.*: every job of the drain, per landed file.
    val w = jobs.sum(d.calls.map(_._1))
    m("spark.exec_s") = w.jobMs / 1e3 / nFiles
    m("spark.exec_jobs") = w.jobs / nFiles
    m("spark.stages") = w.stages / nFiles
    m("spark.tasks") = w.tasks / nFiles
    m("spark.shuffle_write_bytes") = w.shuffleWriteBytes / nFiles
    m("spark.spill_bytes") = w.spillBytes / nFiles
    m("spark.busy_ratio") = w.runMs / 1e3 / (measuredS * spark.sparkContext.defaultParallelism)
    m("spark.gc_s") = w.gcMs / 1e3 / nFiles
    ListMap(m.toSeq: _*)
  }

  private def streamLayers(streams: StreamListener, d: Drain): ListMap[String, Any] = {
    org.apache.spark.ListenerBusFlush(spark.sparkContext)
    val bs = streams.all
    def per(k: String) = if (bs.isEmpty) 0.0 else bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / bs.size
    ListMap(
      "streaming.rows_per_s" -> (if (d.drainS > 0) d.rowsLoaded / d.drainS else 0.0),
      "streaming.file_p50_s" -> Stats.median(d.latencies),
      "streaming.batches" -> bs.size,
      "streaming.files_per_batch" -> (if (bs.isEmpty) 0.0 else bs.map(_.inputRows).sum.toDouble / bs.size),
      "streaming.trigger_s" -> per("triggerExecution"),
      "streaming.add_batch_s" -> per("addBatch"),
      "streaming.latest_offset_s" -> per("latestOffset"),
      "streaming.wal_commit_s" -> per("walCommit"))
  }
}
