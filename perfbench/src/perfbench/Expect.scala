package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Order-independent digest of a result: row count and two 64-bit sums of
  * each row's xxhash64 (high and low 32-bit halves, so the sums cannot
  * overflow). Every column feeds the hash, so no column can be pruned away
  * and a result is never "materialized" by a footer-only `count()`. */
final case class Digest(rows: Long, hi: Long, lo: Long) {
  override def toString: String = s"$rows:$hi:$lo"
}

object Digest {
  def parse(s: String): Digest = s.split(":") match {
    case Array(a, b, c) => Digest(a.toLong, b.toLong, c.toLong)
    case _ => throw new IllegalArgumentException(s"bad digest '$s'")
  }

  /** Computed on the executors; the driver receives one row. */
  def of(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(shiftright(h, 32)), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))).first()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The same digest computed in plain Scala, one row at a time, with the
    * hash chaining Spark's `xxhash64(c1, c2, ...)` applies to long and
    * boolean columns (seed 42, each column's hash seeds the next; booleans
    * hash as ints). */
  final class Builder {
    private var rows, hi, lo = 0L
    private var h = 0L
    def row(cells: Any*): Unit = {
      h = 42L
      cells.foreach {
        case v: Long => h = XXH64.hashLong(v, h)
        case v: Boolean => h = XXH64.hashInt(if (v) 1 else 0, h)
        case other => throw new IllegalArgumentException(s"unhashed cell $other")
      }
      rows += 1; hi += h >> 32; lo += h & 0xffffffffL
    }
    def result: Digest = Digest(rows, hi, lo)
  }
}

/** Reference model of the live segment, in plain Scala collections (no
  * library code): what `members()` must return after each delivered batch.
  * Per user it keeps the set of distinct click ids and the latest click
  * event time; forgetting a user erases both, so events (and re-deliveries)
  * that arrive later count afresh. */
final class StreamModel(minCount: Long) {
  private final class U { val ids = new mutable.HashSet[Long]; var lastEventMicros = Long.MinValue }
  private val users = mutable.LongMap.empty[U]

  def deliver(e: Events): Unit =
    for (i <- 0 until e.size if e.eventType(i) == Gen.Click) {
      val u = users.getOrElseUpdate(e.userId(i), new U)
      u.ids += e.eventId(i)
      u.lastEventMicros = math.max(u.lastEventMicros, e.eventTime(i))
    }

  def forget(user: Long): Unit = users.remove(user)

  /** Users with state rows: anyone with a click since they were last forgotten. */
  def liveUsers: Int = users.size

  def memberIds: IndexedSeq[Long] =
    users.iterator.collect { case (id, u) if u.ids.size >= minCount => id }.toIndexedSeq.sorted

  /** Digest of (user_id, latest_value = true, last_event_time in seconds). */
  def membersDigest: Digest = {
    val b = new Digest.Builder
    users.foreach { case (id, u) =>
      if (u.ids.size >= minCount) b.row(id, true, Math.floorDiv(u.lastEventMicros, 1000000L))
    }
    b.result
  }
}
