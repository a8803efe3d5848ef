package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** The ingest-artifact registry's policy, end to end through SparkEntry:
  * a rewritten source table rebuilds the artifacts derived from it, and a
  * Bench-style warm of two dirs builds each declared artifact once per dir
  * without evicting anything. */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"

  private def copyOf(tables: Seq[String]): String = {
    val dir = tmpDir("graft_artifacts")
    tables.foreach(n => Files.copy(Paths.get(s"$Sf/$n.parquet"), Paths.get(s"$dir/$n.parquet")))
    dir
  }

  test("a rewritten documents table rebuilds the minhash pair list") {
    assert(java.lang.Long.getLong("graft.fp.ttlMs", 0L) == 0L)
    val dir = copyOf(Seq("documents"))
    def pairs(): Set[(Long, Long)] = SparkEntry.queries("minhash_neardup")(spark, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val before = pairs()
    // plant an exact duplicate: doc b takes doc a's text, for two long docs
    // that are in no pair yet
    val inPair = before.flatMap { case (x, y) => Seq(x, y) }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val Array(a, b) = docs.filter(length($"text") > 200).select($"doc_id").as[Long]
      .collect().sorted.filterNot(inPair).take(2)
    val textA = docs.filter($"doc_id" === a).select($"text").as[String].head()
    val out = tmpDir("graft_docs_rewrite")
    docs.withColumn("text", when($"doc_id" === b, lit(textA)).otherwise($"text"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$dir/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val after = pairs()
    assert(after.contains((a, b)), s"stale pair list served after the rewrite: ($a,$b) missing")
    assert(before.subsetOf(after))
  }

  test("a Bench-style warm of two dirs builds each artifact once per dir, evicting none") {
    val copy = copyOf(new java.io.File(Sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")))
    val s2 = spark.newSession() // a session no earlier suite has warmed
    SparkEntry.queries // declares the artifacts
    val arts = Artifacts.declared
    assert(arts.map(_.label).distinct.size == arts.size, "labels must be unique")
    val before = arts.map(a => (a.builds, a.evictions))
    Seq(Sf, copy, Sf, copy).foreach(SparkEntry.warmIngestArtifacts(s2, _))
    // the first timed consumer of a warmed artifact must not rebuild it
    Seq(Sf, copy).foreach(d => SparkEntry.queries("incremental_clusters")(s2, d).count())
    arts.zip(before).foreach { case (a, (b0, e0)) =>
      assert(a.builds - b0 == 2, s"${a.label}: ${a.builds - b0} builds for 2 dirs")
      assert(a.evictions == e0, s"${a.label}: evicted")
    }
  }
}
