package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, work: String, result: String, traceFile: String,
                      catalog: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, get("work"), get("result"), get("trace-file"), get("catalog"))
  }
}

/** One timed operation: its latency, whether its result was correct, and
  * how many input events it covered (0 where events are not its unit). */
final case class Op(id: Long, name: String, seconds: Double, ok: Boolean, events: Long, traced: Boolean)

/** State shared by every workload: the session, the span recorder, the
  * operations run and the per-layer figures of the traced operations. */
final class Run(val a: Args) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  val tracer = new Tracer(enabled = a.trace)
  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Set-up time: JVM start, session and every warm phase, generator excluded. */
  var setupSeconds = 0.0
  /** setup.* phase times. */
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  var warmFailures = 0
  var genSeconds = 0.0
  /** Per-layer figures: probe counters summed over traced operations. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var heapPeakMb = 0.0
  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Workload-specific per-layer metrics. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra detail for the result file (samples, sizes). */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0L

  def session(cores: Int = a.cores): SparkSession = {
    if (spark != null) spark.stop()
    spark = Run.session(cores, a.work)
    spark
  }

  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally setupPhases(name) = setupPhases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A warm-phase step whose failure is counted and printed, never hidden. */
  def warm(what: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => Run.report(s"warm $what", e); false }
    if (!ok) { warmFailures += 1; System.err.println(s"[perfbench] WARM FAILURE: $what") }
  }

  /** Runs one operation. `body` does the timed work and returns the
    * correctness check, which runs after the clock stops. A failed or wrong
    * operation is recorded with ok = false and its time is kept out of every
    * latency. A traced operation runs with the probe and spans on. */
  def op(name: String, events: Long, traced: Boolean)(body: => () => Boolean): Op = {
    nextOp += 1
    tracer.setOp(nextOp)
    spark.sparkContext.setJobGroup(s"op$nextOp", name)
    val probe = if (traced) Some(new Probe(spark).install()) else None
    if (traced) { Jvm.resetHeapPeak(); counters("jvm.gc_s") -= Jvm.gcSeconds }
    val wasOn = tracer.enabled
    tracer.enabled = traced
    Jvm.AfterGc.install
    Jvm.AfterGc.armed = true
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val check = try tracer.span(s"bench.$name")(body)
                catch { case e: Throwable => Run.report(name, e); () => false }
    val dt = (System.nanoTime() - t0) / 1e9
    Jvm.AfterGc.armed = false
    // Listener events of this operation are handled before the next one
    // starts, traced or not, so a traced operation differs from an untraced
    // one only by the probe and the spans.
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val ms1 = System.currentTimeMillis()
    tracer.enabled = wasOn
    probe.foreach { p =>
      p.snapshot(ms0, ms1).foreach { case (k, v) => counters(k) += v }
      jobs ++= p.jobRecords(t0Ms)
      p.uninstall()
      counters("jvm.gc_s") += Jvm.gcSeconds
      heapPeakMb = math.max(heapPeakMb, Jvm.heapPeakMb)
    }
    val ok = try check() catch { case e: Throwable => Run.report(s"$name check", e); false }
    if (!ok) System.err.println(s"[perfbench] FAILED op $nextOp $name")
    tracer.setOp(0)
    val o = Op(nextOp, name, dt, ok, events, traced)
    ops += o
    o
  }

  def elapsed(sinceNs: Long): Double = (System.nanoTime() - sinceNs) / 1e9
}

object Run {
  def report(what: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $what failed: $e")
    e.printStackTrace()
  }

  /** The session the repository's bench main uses, with every scratch
    * directory kept under the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.RewriteLatestWinsWindow
    s
  }
}

object Main {
  private val ProbeMetrics = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.codegen_fallbacks", "spark.jobs", "spark.stages", "spark.driver_gap_s",
    "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.output_bytes")
  private val StreamMetrics = Seq(
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.scaffold_s", "streaming.wal_commit_s")
  private val SetupMetrics = Seq("setup.session_s", "setup.cycle_warm_s", "setup.plan_warm_s")
  private val Layers = Seq("bench", "ingest", "streaming", "state", "catalog")
  private val WorkloadMetrics = Seq(
    "ingest.append_s", "state.process_batch_s", "retention.expire_s", "state.members_s",
    "state.compact_s", "state.forget_user_s", "state.assignment_log_bytes", "state.bytes",
    "state.files", "state.bytes_per_user", "retention.partitions_dropped") ++
    CatalogWorkload.Families.map(f => s"catalog.${f}_s")
  private val RunMetrics = Seq("setup.warm_failures", "jvm.gc_s", "jvm.heap_peak_mb", "gen.s",
    "trace.span_violations")

  /** Every per-layer metric a traced JVM publishes, in order, with its unit
    * (0 where the workload does not exercise the layer). run.py adds the
    * ones that compare with an untraced run (`trace.overhead_*`,
    * `spark.parallel_speedup`) and checks the names against BENCHMARK.json. */
  val PerLayer: Seq[(String, String)] =
    (ProbeMetrics ++ StreamMetrics ++ Layers.map(l => s"self.${l}_s") ++ SetupMetrics ++
      WorkloadMetrics ++ RunMetrics).map(k => k -> unit(k))

  private def unit(k: String): String =
    if (k.endsWith("_s") || k == "gen.s") "s" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("bytes_per_user")) "bytes/user" else if (k.endsWith("bytes")) "bytes"
    else if (k.endsWith("speedup") || k.endsWith("share")) "ratio"
    else "count"

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val run = new Run(a)
    val code = try {
      a.workload match {
        case "segment_stream" => StreamWorkload(run)
        case "query_catalog" => CatalogWorkload(run)
        case "pin" => CatalogWorkload.pin(run); sys.exit(0)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Json.write(a.result, result(run))
      0
    } catch { case e: Throwable => Run.report("run", e); 1 }
    finally if (run.spark != null) run.spark.stop()
    sys.exit(code)
  }

  def result(run: Run): Map[String, Any] = {
    val a = run.a
    val failed = run.ops.count(!_.ok)
    val metrics = if (a.trace) layerMetrics(run) else endToEnd(run)
    val detail = run.detail ++ Map(
      "ops" -> run.ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
        "traced" -> o.traced, "events" -> o.events)),
      "setup_s" -> run.setupSeconds, "setup_phases" -> run.setupPhases,
      "warm_failures" -> run.warmFailures)
    Json.write(a.result.stripSuffix(".json") + "-detail.json", detail)
    if (a.trace) Json.write(a.traceFile, Map("workload" -> a.workload, "seed" -> a.seed,
      "spans" -> Trace.toJson(run.tracer.spans, run.t0Ns), "jobs" -> run.jobs))
    Map("correct" -> (failed == 0), "attempted" -> run.ops.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
  }

  /** End-to-end metrics of an untraced run. */
  def endToEnd(run: Run): mutable.LinkedHashMap[String, (Double, String)] = {
    val good = run.ops.filter(_.ok)
    require(good.nonEmpty, "no successful timed operation")
    val lat = good.map(_.seconds)
    val p90 = Stats.p90Option(lat)
    val heapPeak = Jvm.AfterGc.finish()
    run.detail ++= Map("samples" -> lat.size, "latency_p90_s" -> p90.getOrElse(null))
    mutable.LinkedHashMap(
      "setup_s" -> ((run.setupSeconds, "s")),
      "latency_p50_s" -> ((Stats.p50(lat), "s")),
      "latency_mean_s" -> ((Stats.mean(lat), "s")),
      "heap_after_gc_peak_mb" -> ((heapPeak, "MB")))
  }

  /** Per-layer metrics of the traced operations. Probe counters are per
    * traced operation (streaming ones per trigger); span times are per
    * occurrence. */
  def layerMetrics(run: Run): mutable.LinkedHashMap[String, (Double, String)] = {
    val traced = run.ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val c = run.counters
    val triggers = math.max(1.0, c("streaming.triggers"))
    val spans = run.tracer.spans
    val self = Trace.layerSelfSeconds(spans)
    val v = mutable.Map.empty[String, Double]
    ProbeMetrics.foreach(k => v(k) = c(k) / n)
    StreamMetrics.foreach(k => v(k) = c(k) / triggers)
    Layers.foreach(l => v(s"self.${l}_s") = self.getOrElse(l, 0.0) / n)
    v ++= run.setupPhases
    v ++= run.layer
    v ++= Map("setup.warm_failures" -> run.warmFailures.toDouble, "jvm.gc_s" -> c("jvm.gc_s") / n,
      "jvm.heap_peak_mb" -> run.heapPeakMb, "gen.s" -> run.genSeconds,
      "trace.span_violations" -> Trace.violations(spans).toDouble)
    val unknown = v.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the published list: $unknown")
    mutable.LinkedHashMap.from(PerLayer.map { case (k, u) => k -> ((v.getOrElse(k, 0.0), u)) })
  }

  /** Mean duration of the spans with this name (0 when none ran). */
  def spanMean(run: Run, name: String): Double = {
    val ids = run.ops.filter(_.traced).map(_.id).toSet
    val ss = run.tracer.spans.filter(s => s.name == name && ids(s.op))
    if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
  }
}
