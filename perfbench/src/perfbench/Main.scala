package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: input generation, warm-up, and a measured run
  * that returns the raw samples the output checks and metrics need. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def measure(tracer: Tracer, jobs: JobListener, streams: StreamListener): ListMap[String, Any]
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** JVM side of the benchmark; `perfbench/run.py` launches it.
  *
  * Arguments (all `--key value`): `workload`, `seed`, `seconds`, `trace`
  * (0/1), `cpus`, `work` (working directory), `out` (result JSON),
  * `trace-out` (span JSON) and, for `kpi_queries`, `data` (star schema).
  *
  * Set-up is repeated three times (session start + input generation) and
  * followed by one warm-up; the measured region follows. */
object Main {
  val SetupReps = 3

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val work = Paths.get(opts("work"))

    def make(spark: SparkSession): Workload = workload match {
      case "ingest_batch" => new IngestRun(spark, work, seed, seconds, trace)
      case "kpi_queries" => new QueryRun(spark, work, opts("data"), seed, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val sessionS = mutable.ArrayBuffer.empty[Double]
    val prepareS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var run: Workload = null
    (1 to SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = Clock.now
      spark = session(cpus, work)
      val t1 = Clock.now
      run = make(spark)
      run.prepare()
      sessionS += (t1 - t0) / 1e9
      prepareS += (Clock.now - t1) / 1e9
    }
    val w0 = Clock.now
    run.warmup()
    val warmupS = (Clock.now - w0) / 1e9

    val jobs = new JobListener
    val streams = new StreamListener
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }
    val tracer = new Tracer(trace, spark.sparkContext)
    val result = run.measure(tracer, jobs, streams)
    opts.get("trace-out").filter(_ => trace).foreach(p => tracer.write(Paths.get(p)))
    Json.write(Paths.get(opts("out")), ListMap(
      "workload" -> workload,
      "seed" -> seed,
      "setup" -> ListMap("session_s" -> sessionS.toList, "prepare_s" -> prepareS.toList,
        "warmup_s" -> warmupS),
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> tracer.all.size,
      "result" -> result))
    spark.stop()
  }
}
