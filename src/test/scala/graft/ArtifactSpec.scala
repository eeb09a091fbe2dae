package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import TestSpark.{spark, Sf0001}

/** The artifact protocol under injected faults and contention: a torn
  * publish is never trusted, concurrent ensures build once, and memo cells
  * build once per (tag, key) and retry after a failed build.
  */
class ArtifactSpec extends AnyFunSuite {

  private def freshDir(): String =
    Files.createTempDirectory("graft_artifact_spec").toFile.getPath

  private def content(dir: String): String =
    new String(Files.readAllBytes(new File(dir, "data").toPath), "UTF-8")

  private def put(dir: String, v: String): Unit =
    Files.write(new File(dir, "data").toPath, v.getBytes("UTF-8"))

  /** Run `f` on `n` threads released together; returns their results. */
  private def race[T](n: Int)(f: => T): Seq[T] = {
    val gate = new CyclicBarrier(n)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, T]]()
    val ts = (0 until n).map(_ => new Thread(() => {
      gate.await()
      out.add(try Right(f) catch { case t: Throwable => Left(t) })
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.map(_.fold(t => throw t, identity))
  }

  test("a publish whose write throws leaves no marker; the next ensure rebuilds") {
    val dir = freshDir()
    try {
      Artifact.publish(dir, "_X_OK")(put(dir, "v1"))
      assert(Artifact.ready(dir, "_X_OK"))
      // the write lands a file, then fails: the torn content must not be
      // served under the earlier generation's marker
      intercept[IllegalStateException] {
        Artifact.publish(dir, "_X_OK") { put(dir, "torn"); throw new IllegalStateException("crash") }
      }
      assert(!Artifact.ready(dir, "_X_OK"), "a crashed publish left its marker")
      val builds = new AtomicInteger(0)
      def ensure() = Artifact.ensure(dir, "_X_OK") {
        builds.incrementAndGet()
        Artifact.publish(dir, "_X_OK")(put(dir, "v2"))
      }
      assert(!ensure(), "ensure trusted a markerless directory")
      assert(builds.get() == 1 && content(dir) == "v2")
      assert(ensure(), "a published artifact was rebuilt")
      assert(builds.get() == 1)
      // multi-marker readiness needs every marker
      assert(!Artifact.ready(dir, "_X_OK", "_Y_OK"))
    } finally Sources.rmTree(new File(dir))
  }

  test("concurrent ensures on one fresh directory build exactly once") {
    val dir = freshDir()
    try {
      val builds = new AtomicInteger(0)
      val got = race(4) {
        Artifact.ensure(dir, "_X_OK") {
          builds.incrementAndGet()
          Artifact.publish(dir, "_X_OK") { Thread.sleep(200); put(dir, "v") }
        }
      }
      assert(builds.get() == 1, s"${builds.get()} builds for one directory")
      assert(got.count(_ == false) == 1 && got.count(_ == true) == 3)
      assert(content(dir) == "v")
    } finally Sources.rmTree(new File(dir))
  }

  test("concurrent AnnIndex.ensure calls on a missing index build it once") {
    Sources.rmTree(new File(AnnIndex.indexRoot(Sf0001)))
    val b0 = AnnIndex.builds.get()
    val got = race(2)(AnnIndex.ensure(spark, Sf0001))
    assert(AnnIndex.builds.get() == b0 + 1,
      s"${AnnIndex.builds.get() - b0} builds raced on one index root")
    assert(got.sorted == Seq(false, true))
    assert(AnnIndex.ensure(spark, Sf0001) && AnnIndex.builds.get() == b0 + 1)
  }

  test("memo builds once per key under contention and isolates tags") {
    val key = s"memo-spec-${System.nanoTime()}"
    val builds = new AtomicInteger(0)
    val got = race(8)(Artifact.memo("spec_a", key) {
      builds.incrementAndGet(); Thread.sleep(100); "a"
    })
    assert(builds.get() == 1, s"${builds.get()} builds for one key")
    assert(got.forall(_ == "a"))
    // same key, different tag: a different artifact, never the cached one
    assert(Artifact.memo("spec_b", key)("b") == "b")
    assert(Artifact.memo("spec_a", key)("not rebuilt") == "a")
  }

  test("memo retries after a build that throws") {
    val key = s"memo-retry-${System.nanoTime()}"
    intercept[IllegalStateException] {
      Artifact.memo[Int]("spec_retry", key)(throw new IllegalStateException("crash"))
    }
    assert(Artifact.memo("spec_retry", key)(42) == 42, "a failed build poisoned the cell")
    assert(Artifact.memo("spec_retry", key)(7) == 42)
  }
}
