package perfbench

import java.nio.file.{Files, Path, Paths}

/** Tests of the benchmark's own machinery. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  private def throws(body: => Any): Boolean = try { body; false } catch { case _: IllegalArgumentException => true }

  /** Generates the input files a run stages into `dir`. */
  private def generate(seed: Long, dir: Path): String = {
    Files.createDirectories(dir)
    Gen.stream(seed, StreamWorkload.Spec.copy(batches = 4)).zipWithIndex.foreach { case (e, b) =>
      Files.write(dir.resolve(s"batch-$b.jsonl"), Gen.jsonLines(e).getBytes("UTF-8"))
    }
    treeDigest(dir)
  }

  /** SHA-256 over every byte of the files under `dir`, in name order. */
  def treeDigest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
    files.foreach { f => md.update(dir.relativize(f).toString.getBytes("UTF-8")); md.update(Files.readAllBytes(f)) }
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val catalog = Paths.get(args(1))

    val a = generate(7, work.resolve("a"))
    check("same seed gives byte-identical inputs")(a == generate(7, work.resolve("b")))
    check("another seed gives different inputs")(a != generate(8, work.resolve("c")))
    check("stream batches carry re-deliveries and late events") {
      val bs = Gen.stream(7, StreamWorkload.Spec.copy(batches = 3))
      val ids = bs.flatMap(_.eventId)
      val late = bs.map(e => (0 until e.size).count(i => e.ts(i) - e.eventTime(i) > Gen.DayMicros)).sum
      ids.distinct.size < ids.size && late > 0
    }

    val xs = (1 to 200).map(_.toDouble).reverse
    check("p50 is the nearest-rank median")(Stats.p50(xs) == 100.0 && Stats.p50(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("p90 is the nearest-rank 90th percentile")(Stats.p90(xs) == 180.0 && Stats.p90(xs.take(100)) == 190.0)
    check("p90 is refused below 100 samples")(throws(Stats.p90(xs.take(99))) && Stats.p90Option(xs.take(99)).isEmpty)

    val t = new Tracer(enabled = true)
    t.setOp(1)
    t.span("bench.op") {
      t.span("state.a") { Thread.sleep(20); t.span("state.inner")(Thread.sleep(10)) }
      Thread.sleep(5)
      t.span("segments.b")(Thread.sleep(15))
    }
    val spans = t.spans
    val self = Trace.selfSeconds(spans)
    check("spans nest without violations")(Trace.violations(spans) == 0)
    check("self time plus child time equals each span's wall time") {
      spans.forall { s =>
        val children = spans.filter(_.parent == s.id).map(_.seconds).sum
        math.abs(self(s.id) + children - s.seconds) < 1e-9 && self(s.id) >= 0
      }
    }
    check("per-layer self times sum to the operation's wall time") {
      val root = spans.find(_.parent == 0).get
      math.abs(Trace.layerSelfSeconds(spans).values.sum - root.seconds) < 1e-9
    }
    check("overlapping siblings are reported") {
      Trace.violations(Seq(Span(1, "a", 1, 0, 0, 100), Span(2, "b", 1, 1, 10, 60), Span(3, "c", 1, 1, 50, 90))) == 1
    }
    check("disabled tracer records nothing") {
      val off = new Tracer(enabled = false); off.span("x")(()); off.spans.isEmpty
    }

    val spark = Run.session(1, work.toString)
    try {
      check("generated traffic has the events fixture's types, type shares and events per user-day") {
        import org.apache.spark.sql.functions._
        val fx = graft.Tables.load(spark, catalog.resolve("sf0.01").toString, "events")
        val n = fx.count().toDouble
        val shares = fx.groupBy("event_type").count().collect().map(r => r.getString(0) -> r.getLong(1) / n).toMap
        val days = fx.agg(datediff(max(col("ts")), min(col("ts"))) + 1).first().getInt(0)
        val perUserDay = n / fx.select("user_id").distinct().count() / days
        val gen = Gen.stream(7, StreamWorkload.Spec.copy(batches = 1, dupShare = 0)).head
        val genShares = gen.eventType.groupBy(identity).map { case (t, xs) => Gen.EventTypes(t) -> xs.length.toDouble / gen.size }
        shares.keySet == Gen.EventTypes.toSet && shares.forall { case (t, x) => math.abs(genShares(t) - x) < 0.01 } &&
          math.abs(perUserDay - StreamWorkload.FixtureEventsPerUserDay) < 1e-9 &&
          math.abs(gen.size.toDouble / StreamWorkload.Spec.users - perUserDay) < 0.01
      }
      check("Scala digest equals Spark's xxhash64 digest") {
        import spark.implicits._
        val rows = Seq((1L, true, 1704067200L), (2L, false, -3L), (Long.MaxValue, true, 0L))
        val b = new Digest.Builder
        rows.foreach { case (u, v, t) => b.row(u, v, t) }
        val df = rows.toDF("user_id", "latest_value", "last_event_time")
        Digest.of(df) == b.result && Digest.of(df.limit(0)) == Digest(0, 0, 0)
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
