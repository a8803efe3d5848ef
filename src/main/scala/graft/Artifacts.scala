package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry for INGEST-TIME artifacts: what production builds when
  * data lands and every later query reads — learned models and corpus
  * constants (values), persisted intermediates such as pair lists and LSH
  * indexes (eagerly `localCheckpoint`ed frames), and on-disk layouts and
  * landing tables (temp trees). Spark keeps one cache manager for
  * materialized plans, not one cache per query; this is the same idea for
  * the engine's derived tables.
  *
  * Each artifact is declared once — a label, the source tables it derives
  * from, and its builder — and the registry owns one policy for all of them:
  *  - an entry is keyed by (session, dir, label) and stamped with the file
  *    fingerprints of the declared sources ([[Tables.tableFingerprint]]). A
  *    lookup under a different fingerprint rebuilds and DROPS the old entry
  *    (the `Tables.cachedForFp` rule), so a same-JVM rewrite of a source
  *    table never serves a stale artifact and never leaves a dead one behind;
  *  - the session term is an identity hash checked against a weak reference:
  *    a frame holds its session strongly, so the session itself cannot be
  *    the key, and the weak ref stops a recycled hash of a dead session from
  *    aliasing its entries;
  *  - there is no count cap to size by hand: an entry lives until it is
  *    superseded. Trees are deleted when dropped and at JVM exit;
  *  - builds and evictions are counted per artifact.
  */
object Artifacts {

  final class Artifact[A] private[Artifacts] (
      val label: String, sources: Seq[String],
      build: (SparkSession, String) => A, release: A => Unit) {
    private val nBuilds = new AtomicLong
    private val nEvictions = new AtomicLong
    @volatile private var served: Option[A] = None

    /** This artifact for `dir` in session `s`, built on first use. */
    def apply(s: SparkSession, dir: String): A = {
      val v = lookup(s, dir)
      served = Some(v)
      v
    }

    /** The value most recently SERVED (not built): data-dependent oracle
      * SQL embeds it, and Verify runs every query before dumping that SQL,
      * so it is the value the dumped query results were computed from. */
    def last: Option[A] = served

    def builds: Long = nBuilds.get
    def evictions: Long = nEvictions.get

    private def lookup(s: SparkSession, dir: String): A = {
      val fp = sources.map(Tables.tableFingerprint(dir, _))
      val key = (System.identityHashCode(s), dir, label)
      // one reentrant lock: builders look up the artifacts they derive from
      Artifacts.synchronized {
        Option(entries.get(key)) match {
          case Some(e) if (e.session.get eq s) && e.fp == fp =>
            e.value.asInstanceOf[A]
          case stale =>
            // labels are unique, so a stale entry under this key is ours
            stale.foreach { e =>
              entries.remove(key)
              release(e.value.asInstanceOf[A])
              nEvictions.incrementAndGet()
            }
            val v = build(s, dir)
            nBuilds.incrementAndGet()
            entries.put(key, Entry(new java.lang.ref.WeakReference(s), fp, v))
            v
        }
      }
    }
  }

  private final case class Entry(session: java.lang.ref.WeakReference[SparkSession],
                                 fp: Seq[Long], value: Any)

  private val entries = new java.util.HashMap[(Int, String, String), Entry]()
  private val all = scala.collection.mutable.ArrayBuffer.empty[Artifact[_]]

  /** Every declared artifact, in declaration order. */
  def declared: Seq[Artifact[_]] = synchronized(all.toList)

  private def declare[A](a: Artifact[A]): Artifact[A] = synchronized { all += a; a }

  /** A driver-side value: a learned model or a corpus constant. */
  def value[A](label: String, sources: String*)
              (build: (SparkSession, String) => A): Artifact[A] =
    declare(new Artifact[A](label, sources, build, _ => ()))

  /** A persisted intermediate table, materialized once (eager
    * `localCheckpoint`) instead of recomputed per consumer query. */
  def frame(label: String, sources: String*)
           (build: (SparkSession, String) => DataFrame): Artifact[DataFrame] =
    declare(new Artifact[DataFrame](label, sources,
      (s, dir) => build(s, dir).localCheckpoint(true), _ => ()))

  /** An on-disk tree: `write(s, dir, path)` fills a fresh temp directory
    * whose path is the value. Deleted when dropped or at JVM exit. */
  def tree(label: String, sources: String*)
          (write: (SparkSession, String, String) => Unit): Artifact[String] =
    declare(new Artifact[String](label, sources, (s, dir) => {
      val p = java.nio.file.Files.createTempDirectory(s"graft_art_$label").toString
      liveTrees.add(p)
      write(s, dir, p)
      p
    }, p => { liveTrees.remove(p); deleteTree(p) }))

  /** Thrown by a warm pass after it has tried EVERY artifact: each failed
    * label with its cause (the causes also ride along as suppressed). */
  final class WarmFailed(val failed: Seq[(String, Throwable)])
      extends RuntimeException("ingest artifacts failed to build: " +
        failed.map { case (l, e) => s"$l:${e.getClass.getSimpleName}" }.mkString(", ")) {
    failed.foreach { case (_, e) => addSuppressed(e) }
  }

  private lazy val liveTrees = {
    val set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      set.forEach(p => try deleteTree(p) catch { case _: Throwable => () })))
    set
  }

  private[graft] def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
