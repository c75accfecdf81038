package perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `kpi_queries` workload: analyst queries over the star schema in
  * `dataDir`, one client in a closed loop. Every pass runs each query once,
  * in an order drawn from the seed; a run makes one pass per ten seconds of
  * `seconds` (at least one), so every run does the same work. */
final class QueryRun(spark: SparkSession, work: Path, dataDir: String,
                     seed: Long, seconds: Double) extends Workload {
  val Names = Seq(
    "q1_daily_revenue", "q2_top_customers", "q3_product_performance",
    "q4_rolling_7day", "q5_failure_trend", "q6_revenue_rollup",
    "q7_pricing_summary", "q8_region_revenue", "q9_top_suppliers",
    "q12_distinct_parts", "q13_events_hourly", "q17_clean_sales",
    "q18_dedup_latest", "q36_late_ship_orders", "q37_value_percentiles",
    "q67_shipping_priority", "q68_local_supplier_volume")
  /** The reference's KPI reads: daily revenue, top customers, product
    * performance and the rolling 7-day average. */
  val Kpi = Names.take(4)
  private val rng = new Random(seed)
  private val results = work.resolve("results")

  /** The star schema is written before the JVM starts. */
  def prepare(): Unit = ()

  /** One untimed pass. Its results are the ones the output check compares
    * with the DuckDB oracles. */
  def warmup(): Unit =
    rng.shuffle(Names).foreach { q =>
      try SparkEntry.queries(q)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(q).toString)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $q failed: $e") }
    }

  def measure(tracer: Tracer, jobs: JobListener, streams: StreamListener): ListMap[String, Any] = {
    val execs = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val querySpans = mutable.ArrayBuffer.empty[Long]
    def timed(q: String, pass: Int): Unit = {
      val unit = s"$q#$pass"
      val q0 = Clock.now
      val ok = try {
        querySpans += tracer.span("query", 0L, unit) { id =>
          val df = tracer.span("queries.construct", id, unit)(_ => SparkEntry.queries(q)(spark, dataDir))
          if (tracer.enabled) tracer.span("plans.plan", id, unit)(_ => df.queryExecution.executedPlan)
          tracer.span("spark.exec", id, unit)(_ => df.write.format("noop").mode("overwrite").save())
          id
        }
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $q failed: $e")
          false
      }
      execs += ListMap("query" -> q, "pass" -> pass, "latency_s" -> (Clock.now - q0) / 1e9, "ok" -> ok)
    }
    val t0 = Clock.now
    val nPasses = math.max(1, math.round(seconds / 10).toInt)
    (0 until nPasses).foreach { pass =>
      val p0 = Clock.now
      rng.shuffle(Names).foreach(timed(_, pass))
      passes += (Clock.now - p0) / 1e9
    }
    // The reference's four KPI reads (q1-q4) once more, so their time is a
    // median of at least two rounds.
    Kpi.foreach(timed(_, nPasses))
    val measuredS = (Clock.now - t0) / 1e9
    ListMap(
      "executions" -> execs.toList,
      "passes_s" -> passes.toList,
      "kpi" -> Kpi,
      "measured_s" -> measuredS,
      "results_dir" -> results.toString,
      "oracles" -> ListMap(Names.map(q => q -> SparkEntry.oracleSql(q)): _*),
      "layers" -> (if (tracer.enabled) layers(tracer, jobs, querySpans.toSeq) else ListMap.empty))
  }

  private def layers(tracer: Tracer, jobs: JobListener, queries: Seq[Long]): ListMap[String, Any] = {
    org.apache.spark.ListenerBusFlush(spark.sparkContext)
    val spans = tracer.all
    def of(name: String) = spans.filter(_.name == name)
    val n = math.max(1, queries.size).toDouble
    val construct = of("queries.construct")
    val plan = of("plans.plan")
    val exec = of("spark.exec")
    val wall = of("query")
    val all = jobs.sum(spans.map(_.id))
    val phases = (construct ++ plan ++ exec).map(_.seconds).sum
    val wallS = wall.map(_.seconds).sum
    ListMap(
      "queries.construct_s" -> Stats.median(construct.map(_.seconds)),
      "queries.construct_jobs" -> jobs.sum(construct.map(_.id)).jobs / n,
      "queries.phase_coverage" -> (if (wallS > 0) phases / wallS else 0.0),
      "plans.plan_s" -> Stats.median(plan.map(_.seconds)),
      "spark.exec_s" -> Stats.median(exec.map(_.seconds)),
      "spark.exec_jobs" -> jobs.sum(exec.map(_.id)).jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes / n,
      "spark.spill_bytes" -> all.spillBytes / n,
      "spark.busy_ratio" -> all.runMs / 1e3 / (wallS * spark.sparkContext.defaultParallelism),
      "spark.gc_s" -> all.gcMs / 1e3 / n)
  }
}
