package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** query_catalog: the driver-side floor. Runs a fixed slice of the
  * `SparkEntry.queries` contract, in contract order, on the fixed sf0.01
  * tables kept with the benchmark (the tables are not generated, so this
  * workload ignores the seed). Every result is digested over all of its
  * columns and compared with the digest pinned in `catalog/queries.tsv`. */
object CatalogWorkload {
  final case class Entry(name: String, family: String, digest: Digest)

  val Families: Seq[String] = Seq("tpch", "seg", "stream", "cdc", "dedup", "ann", "text",
    "stats", "events", "other")
  /** Nominal seconds of one pass: a run times round(seconds / this) whole
    * passes (at least one), so every run does the same work. */
  val PassSeconds = 10.0

  def entries(catalog: String): Seq[Entry] = {
    val rows = Files.readAllLines(Paths.get(catalog, "queries.tsv")).asScala
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t"))
    val byName = rows.map(r => r(0) -> Entry(r(0), r(1), Digest.parse(r(2)))).toMap
    // contract order, whatever the file's order
    SparkEntry.queries.keys.toSeq.filter(byName.contains).map(byName)
  }

  private def dataDir(a: Args) = Paths.get(a.catalog, "sf0.01").toString

  /** Session and one untimed pass over the slice: it compiles every plan
    * shape the timed passes run, and the passes after it converge. */
  private def setup(run: Run, slice: Seq[Entry], check: Boolean): Unit = {
    val dir = dataDir(run.a)
    // a batch main never rewrites its inputs mid-run (as in graft.Bench)
    System.setProperty("graft.fp.ttlMs", "3600000")
    run.phase("setup.session_s")(run.session())
    run.phase("setup.plan_warm_s") {
      for (e <- slice) run.warm(e.name) {
        val d = Digest.of(SparkEntry.queries(e.name)(run.spark, dir))
        !check || d == e.digest
      }
    }
  }

  def apply(run: Run): Unit = {
    val a = run.a
    val slice = entries(a.catalog)
    require(slice.nonEmpty, "no catalogue queries")
    val dir = dataDir(a)
    setup(run, slice, check = true)
    run.setupSeconds = Jvm.uptimeSeconds

    val passes = math.max(1, math.round(a.seconds / PassSeconds).toInt)
    for (_ <- 0 until passes; e <- slice) {
      run.op(e.name, 0L, a.trace) {
        val d = run.tracer.span(s"catalog.${e.family}")(Digest.of(SparkEntry.queries(e.name)(run.spark, dir)))
        () => d == e.digest
      }
    }
    run.detail ++= Map("passes" -> passes, "queries" -> slice.size)
    if (a.trace) {
      val fam = slice.map(e => e.name -> e.family).toMap
      Families.foreach { f =>
        run.layer(s"catalog.${f}_s") =
          run.ops.filter(o => o.ok && fam(o.name) == f).map(_.seconds).sum / passes
      }
    }
  }

  /** Prints `name<TAB>family<TAB>digest` for the slice, to re-pin after a
    * certified change of the contract's results. */
  def pin(run: Run): Unit = {
    val slice = entries(run.a.catalog)
    setup(run, slice, check = false)
    val dir = dataDir(run.a)
    val out = slice.map(e => s"${e.name}\t${e.family}\t${Digest.of(SparkEntry.queries(e.name)(run.spark, dir))}")
    Files.write(Paths.get(run.a.result), (out.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
