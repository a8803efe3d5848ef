package perfbench

import java.util.SplittableRandom

/** A column-major block of generated events. `ts` is processing (arrival)
  * time and `eventTime` the time the event happened, both in microseconds
  * since the epoch at whole seconds. */
final class Events(val userId: Array[Long], val eventType: Array[Byte],
                   val eventId: Array[Long], val ts: Array[Long], val eventTime: Array[Long]) {
  def size: Int = userId.length
  def typeName(i: Int): String = Gen.EventTypes(eventType(i))
}

/** Seeded input generator. The same seed always yields the same events and
  * byte-identical `JSONEachRow` files; the program under test only ever
  * sees the files.
  *
  * The traffic's shape follows the repository's `events` fixture
  * (`catalog/sf0.01/events.parquet`; DESIGN.md shows the derivation): five
  * event types in equal shares, users drawn uniformly, arrivals spread
  * uniformly over the day. Re-deliveries of earlier `event_id`s
  * (exactly-once state) and events whose event time lags by more than one
  * batch (`last_event_time` must still take the maximum) are added at the
  * shares the workload's spec sets. */
object Gen {
  /** The fixture's `event_type` values, in its sort order; each is a fifth
    * of its rows (0.198-0.202). */
  val EventTypes: Vector[String] = Vector("click", "purchase", "error", "signup", "view")
  val Click: Byte = 0

  val DayMicros: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z: day 0 of every generated timeline. */
  val BaseMicros: Long = 1704067200L * 1000000L
  /** Arrivals of batch `b` fall in the first 23 hours of day `b`, before
    * the batch's stamp. */
  val ArrivalSeconds: Long = 23L * 3600
  /** An on-time event happened 30 s after its arrival stamp, as in the
    * reference's event-time fixture (FIXTURES.md A4). */
  val EventTimeSkewMicros: Long = 30L * 1000000L

  final case class StreamSpec(users: Int, batchEvents: Int, batches: Int,
                              dupShare: Double, lateShare: Double)

  private def sec(r: SplittableRandom, bound: Long): Long = r.nextLong(bound) * 1000000L

  /** Micro-batches for the live stream. Batch `b` arrives during day `b`;
    * a re-delivery repeats an event from this or the two previous batches
    * verbatim apart from its arrival time. */
  def stream(seed: Long, spec: StreamSpec): IndexedSeq[Events] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    var nextId = 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[Events]
    for (b <- 0 until spec.batches) {
      val n = spec.batchEvents
      val (u, t, id, ts, et) = (new Array[Long](n), new Array[Byte](n), new Array[Long](n),
        new Array[Long](n), new Array[Long](n))
      val recent = out.takeRight(2)
      val pool = recent.map(_.size).sum
      for (i <- 0 until n) {
        ts(i) = BaseMicros + b * DayMicros + sec(r, ArrivalSeconds)
        if (r.nextDouble() < spec.dupShare && pool + i > 0) {
          val k = r.nextInt(pool + i)
          val (src, j) = if (k < pool) {
            val blk = if (recent.size == 2 && k >= recent(0).size) 1 else 0
            (recent(blk), k - (if (blk == 1) recent(0).size else 0))
          } else (null, k - pool)
          if (src == null) { u(i) = u(j); t(i) = t(j); id(i) = id(j); et(i) = et(j) }
          else { u(i) = src.userId(j); t(i) = src.eventType(j); id(i) = src.eventId(j); et(i) = src.eventTime(j) }
        } else {
          u(i) = 1L + r.nextInt(spec.users)
          t(i) = r.nextInt(EventTypes.size).toByte
          id(i) = nextId; nextId += 1
          et(i) =
            if (r.nextDouble() < spec.lateShare) ts(i) - DayMicros - sec(r, 4 * 86400L)
            else ts(i) + EventTimeSkewMicros
        }
      }
      out += new Events(u, t, id, ts, et)
    }
    out.toIndexedSeq
  }

  /** `JSONEachRow` encoding of a batch: what the ingest edge receives. */
  def jsonLines(e: Events): String = {
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    def iso(us: Long) = fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))
    val b = new StringBuilder
    for (i <- 0 until e.size)
      b ++= s"""{"user_id":${e.userId(i)},"event_type":"${e.typeName(i)}","event_id":${e.eventId(i)},""" ++=
        s""""ts":"${iso(e.ts(i))}","event_time":"${iso(e.eventTime(i))}"}\n"""
    b.toString
  }
}
