package perfbench

/** Order statistics for the reported timings. Percentiles are nearest-rank
  * (the smallest sample with at least p% of the samples at or below it), so
  * every reported value is a latency that was actually observed. */
object Stats {
  /** Fewest samples for which a p90 is published: below this, fewer than ten
    * samples lie beyond the 90th rank and the tail is not resolved. */
  val MinP90Samples = 100

  def nearestRank(xs: scala.collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    sorted(math.max(1, math.ceil(p / 100.0 * sorted.size).toInt) - 1)
  }

  def p50(xs: scala.collection.Seq[Double]): Double = nearestRank(xs, 50)

  def p90(xs: scala.collection.Seq[Double]): Double = {
    require(xs.size >= MinP90Samples,
      s"p90 needs at least $MinP90Samples samples, got ${xs.size}")
    nearestRank(xs, 90)
  }

  def p90Option(xs: scala.collection.Seq[Double]): Option[Double] =
    if (xs.size >= MinP90Samples) Some(p90(xs)) else None

  def mean(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }
}

/** Minimal JSON writer for the result and trace files (numbers keep every
  * digit the double carries). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp, apply(v).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
