package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

/** The one artifact protocol: every derived artifact the engine builds
  * once per corpus and reads on every query goes through these five
  * functions, so the crash, race and staleness rules live in one place.
  *
  *  - [[root]]: the cross-session directory of a persisted store, keyed by
  *    the fixture fingerprint plus every dial that shapes its content, so a
  *    rewritten corpus or a retune can never serve a stale artifact.
  *  - [[publish]]: marker-last write — the marker is deleted first and
  *    written only after the content, so a crashed write leaves no marker.
  *  - [[ready]]: every named marker is present.
  *  - [[ensure]]: build unless ready, at most once per directory at a time.
  *  - [[memo]]: the in-process build-once cell for values (spill paths,
  *    trained constants), keyed by a tag naming the artifact plus its key.
  */
object Artifact {

  /** `java.io.tmpdir/graft_<family>/<fixture dir>_[<variant>_]<hex64>`,
    * where hex64 folds [[Sources.fixtureKey]] of `table` and each dial,
    * `:`-separated, through [[Sources.stableHex64]].
    */
  def root(family: String, d: String, table: String, variant: String = "")(
      dials: Any*): String = {
    val key = Sources.fixtureKey(d, table) + dials.map(":" + _).mkString
    val base = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val name = Seq(new File(d).getName, variant, Sources.stableHex64(key))
      .filter(_.nonEmpty).mkString("_")
    s"$base/graft_$family/$name"
  }

  def ready(dir: String, markers: String*): Boolean =
    markers.forall(m => new File(dir, m).isFile)

  def publish(dir: String, marker: String)(write: => Unit): Unit = {
    val ok = new File(dir, marker)
    ok.delete()
    write
    ok.getParentFile.mkdirs()
    java.nio.file.Files.write(ok.toPath, Array.emptyByteArray)
  }

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** True if `dir` was already ready (probe-only path); false if this call
    * ran `build`. Concurrent callers on one directory build once: the
    * lock-free check serves the warm path, the per-directory lock and its
    * re-check serialize the cold one. A build may ensure only the
    * directories its artifact derives from (delta → base, compacted →
    * delta/tombstones → base), never the reverse, so the locks nest in one
    * order and cannot deadlock.
    */
  def ensure(dir: String, markers: String*)(build: => Unit): Boolean =
    ready(dir, markers: _*) ||
      locks.computeIfAbsent(dir, _ => new AnyRef).synchronized {
        ready(dir, markers: _*) || { build; false }
      }

  private final class Cell { @volatile var done = false; var value: Any = _ }

  private val memos = new ConcurrentHashMap[String, Cell]()

  /** Build `tag`/`key` once per process and serve the value thereafter.
    * The map only installs an empty cell — the build runs under the cell's
    * own lock, never a map bin lock, because builds nest (a pair spill
    * reads a shingle index). Same-key callers wait for one build; a build
    * that throws leaves the cell empty, so the next caller retries. The key
    * must include [[Sources.fixtureKey]] of every table the value reads.
    */
  def memo[V](tag: String, key: String)(build: => V): V = {
    val cell = memos.computeIfAbsent(s"$tag|$key", _ => new Cell)
    if (!cell.done) cell.synchronized {
      if (!cell.done) { cell.value = build; cell.done = true }
    }
    cell.value.asInstanceOf[V]
  }

  /** Forget every memoized value (see [[Sources.evictSpills]]). */
  private[graft] def clearMemos(): Unit = memos.clear()
}
