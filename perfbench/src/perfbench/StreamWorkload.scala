package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.SegmentDef
import graft.sources.Ingest
import graft.state.{MicroBatchPipeline, StateStorePaths}
import graft.streaming.StreamingSegments
import scala.jdk.CollectionConverters._

/** `MicroBatchPipeline` with its `processBatch` call timed as a span and its
  * jobs tagged with the current operation (the call runs on the stream
  * thread, which does not see the driver thread's job group). */
final class TimedPipeline(spark: SparkSession, seg: SegmentDef, paths: StateStorePaths, tracer: Tracer)
    extends MicroBatchPipeline(spark, seg, paths, procTimeCol = "ts", eventTimeCol = Some("event_time")) {
  override def processBatch(events: DataFrame, lowerBound: Timestamp, batchTs: Timestamp): Unit = {
    spark.sparkContext.setJobGroup(s"op${tracer.currentOp}", "processBatch")
    tracer.span("state.process_batch")(super.processBatch(events, lowerBound, batchTs))
  }
}

/** segment_stream: the live path. Each cycle ingests one pre-staged
  * `JSONEachRow` micro-batch through `Ingest.jsonLines` and
  * `Ingest.appendSorted` into the parquet stream source feeding
  * `StreamingSegments.foreachBatchPipeline(..., retentionDays)`, waits for
  * `processAllAvailable()`, and reads `members()` back with every column
  * digested. Cycles run in periods of eight; the last of them also
  * compacts the state and forgets one member. Latency is freshness: from the
  * batch reaching the ingest edge to the segment read back. */
object StreamWorkload {
  /** Events per user per day in the `events` fixture: 10,000 rows over 150
    * users and 30 days (the ratio is the same at every scale factor). */
  val FixtureEventsPerUserDay: Double = 10000.0 / 150 / 30
  /** One batch is one day of traffic. The batch size is chosen for the run
    * budget, the user count follows from the fixture's ratio, a quarter of
    * the events are re-deliveries as in the reference's idempotency fixture
    * (FIXTURES.md A2: one row in four), and the late share is a choice no
    * source fixes (DESIGN.md). */
  val Spec = Gen.StreamSpec(users = math.round(30000 / FixtureEventsPerUserDay).toInt,
    batchEvents = 30000, batches = 0, dupShare = 0.25, lateShare = 0.10)
  val Segment = SegmentDef("click", 3)
  /** Below the warm-cycle count, so the last warm cycle and every timed one
    * drop one change-log partition. */
  val RetentionDays = 1
  /** The last cycle of each period also compacts the state and forgets one
    * member; timing covers whole periods, so every run times the same mix
    * of plain and maintenance cycles. The cycle after a maintenance cycle
    * and the first timed one run slower than the rest; with seven plain
    * cycles to one maintenance cycle the median falls inside the cluster of
    * plain cycles rather than on the edge between two clusters. */
  val Period = 8
  /** Untimed set-up cycles; the last also compacts and forgets, so every
    * code path of a timed cycle is compiled before timing. */
  val WarmCycles = 3
  /** Cycles of the single-core baseline in a traced run. */
  val BaselineCycles = 4
  /** Nominal seconds of one period: a run times round(seconds / this)
    * whole periods (at least one), so every run does the same work. */
  val PeriodSeconds = 20.0

  val Schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("event_time", TimestampType)))

  /** Stamp of micro-batch `b`: late in day `b`, after all of its arrivals. */
  def batchTs(b: Long): Timestamp =
    new Timestamp((Gen.BaseMicros + b * Gen.DayMicros) / 1000 + 23L * 3600 * 1000)

  /** One stream query over a fresh source, checkpoint and state store. */
  final class Live(run: Run, dir: Path, stage: Path, batches: IndexedSeq[Events]) {
    private val spark = run.spark
    private val src = Files.createDirectories(dir.resolve("src"))
    val paths = StateStorePaths(dir.resolve("state").toString)
    val pipe = new TimedPipeline(spark, Segment, paths, run.tracer)
    val model = new StreamModel(Segment.minCount)
    private val picks = new SplittableRandom(run.a.seed ^ 0x5DEECE66DL)
    var next = 0
    val query: StreamingQuery = StreamingSegments.foreachBatchPipeline(
        spark.readStream.schema(Schema).option("maxFilesPerTrigger", "1").parquet(src.toString),
        pipe, b => batchTs(b), retentionDays = Some(RetentionDays))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()

    /** The batch arrives as `JSONEachRow` and is written, sorted, as one
      * file of the stream's source table (one file = one trigger). */
    def ingest(b: Int): Unit = {
      val lines = Files.readAllLines(stage.resolve(f"batch-$b%05d.jsonl")).asScala.toSeq
      val parsed = Ingest.jsonLines(spark, spark.createDataset(lines)(Encoders.STRING), Schema, strict = true)
      Ingest.appendSorted(parsed.coalesce(1), src.toString, Seq("user_id", "event_type", "ts"))
    }

    /** One cycle; the expected segment is advanced outside the clock. */
    def cycle(traced: Boolean, name: String = "cycle", maintain: Boolean = false): Op = {
      val b = next
      next += 1
      model.deliver(batches(b))
      val forget = if (maintain) {
        val ids = model.memberIds
        val u = ids(picks.nextInt(ids.size))
        model.forget(u)
        Some(u)
      } else None
      val tr = run.tracer
      run.op(name, batches(b).size, traced) {
        tr.span("ingest.append")(ingest(b))
        tr.span("streaming.process_all_available")(query.processAllAvailable())
        if (maintain) tr.span("state.compact")(pipe.compact(batchTs(b)))
        forget.foreach(u => tr.span("state.forget_user")(pipe.forgetUser(u)))
        val got = tr.span("state.members")(Digest.of(pipe.members()))
        () => got == model.membersDigest
      }
    }

    def warm(): Unit = (1 to WarmCycles).foreach { i =>
      run.warm(s"stream cycle $next")(cycle(traced = false, name = "warm", maintain = i == WarmCycles).ok)
      run.ops.remove(run.ops.size - 1) // a warm cycle is set-up, not a timed operation
    }

    def periods(count: Int, name: String, traced: Boolean): Unit =
      for (_ <- 1 to count; i <- 1 to Period) cycle(traced, name, maintain = i == Period)

    def stop(): Unit = { query.stop(); query.awaitTermination() }
  }

  def apply(run: Run): Unit = {
    val a = run.a
    val count = math.max(1, math.round(a.seconds / PeriodSeconds).toInt)
    val staged = WarmCycles + Period * count
    val root = Files.createDirectories(Paths.get(a.work, "stream"))
    val stage = Files.createDirectories(root.resolve("stage"))
    val g0 = System.nanoTime()
    val batches = Gen.stream(a.seed, Spec.copy(batches = staged))
    batches.zipWithIndex.foreach { case (e, b) =>
      Files.write(stage.resolve(f"batch-$b%05d.jsonl"), Gen.jsonLines(e).getBytes("UTF-8"))
    }
    run.genSeconds = run.elapsed(g0)

    run.phase("setup.session_s")(run.session())
    val live = run.phase("setup.cycle_warm_s") {
      val l = new Live(run, root.resolve("live"), stage, batches)
      l.warm()
      l
    }
    run.setupSeconds = Jvm.uptimeSeconds - run.genSeconds

    live.periods(count, "cycle", a.trace)
    val processed = live.next
    live.stop()

    val timed = run.ops.filter(o => o.name == "cycle" && o.ok)
    run.detail("events_per_s") = timed.map(_.events).sum / timed.map(_.seconds).sum
    val walk = DirStats(Paths.get(live.paths.root))
    val users = math.max(1, live.model.liveUsers)
    run.detail ++= Map("state_bytes" -> walk.bytes, "live_users" -> users,
      "state_bytes_per_user" -> walk.bytes.toDouble / users, "cycles" -> processed)

    if (a.trace) {
      val triggers = math.max(1.0, run.counters("streaming.triggers"))
      val pb = Main.spanMean(run, "state.process_batch")
      run.layer ++= Seq(
        "ingest.append_s" -> Main.spanMean(run, "ingest.append"),
        "state.process_batch_s" -> pb,
        "retention.expire_s" -> math.max(0.0, run.counters("streaming.add_batch_s") / triggers - pb),
        "state.members_s" -> Main.spanMean(run, "state.members"),
        "state.compact_s" -> Main.spanMean(run, "state.compact"),
        "state.forget_user_s" -> Main.spanMean(run, "state.forget_user"),
        "state.assignment_log_bytes" -> DirStats(Paths.get(live.paths.assignments)).bytes.toDouble,
        "state.bytes" -> walk.bytes.toDouble,
        "state.files" -> walk.files.toDouble,
        "state.bytes_per_user" -> walk.bytes.toDouble / users,
        "retention.partitions_dropped" ->
          (processed - DirStats.partitions(Paths.get(live.paths.changeLog))).toDouble)
      // single-core baseline of the first plain cycles, run without
      // tracing; run.py sets it against the same cycles of the untraced run
      run.session(cores = 1)
      val one = new Live(run, root.resolve("one-core"), stage, batches)
      one.warm()
      (1 to BaselineCycles).foreach(_ => one.cycle(traced = false, "cycle_1core"))
      one.stop()
    }
  }
}

/** On-disk footprint of a directory tree. */
final case class DirStats(bytes: Long, files: Long)

object DirStats {
  def apply(dir: Path): DirStats =
    if (!Files.exists(dir)) DirStats(0, 0)
    else {
      val sizes = Files.walk(dir).filter(Files.isRegularFile(_)).toArray.map(p => Files.size(p.asInstanceOf[Path]))
      DirStats(sizes.sum, sizes.length)
    }

  /** Partition directories (`col=value`) directly under a table root. */
  def partitions(table: Path): Int =
    if (!Files.exists(table)) 0
    else Files.list(table).toArray.count(p => p.asInstanceOf[Path].getFileName.toString.contains("="))
}
