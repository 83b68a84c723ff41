package graft.interop

import graft.ingest.Writers
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The commit-file PUBLISH step every table format commits through:
  * Hadoop's local filesystem implements `create(f, overwrite = false)`
  * as check-then-act, so two simultaneous committers could BOTH pass
  * the exists probe and the second silently overwrote the first — an
  * actual lost commit, observed under 4-way append contention.
  * [[CommitFiles.publish]] writes a hidden temporary file and makes it
  * visible with a kernel-arbitrated hard link; this spec locks the
  * exactly-one-winner contract under direct contention. */
class CommitFilesSpec extends AnyFunSuite {

  private def text(fs: org.apache.hadoop.fs.FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("publish: exactly one of N simultaneous publishers wins; content survives") {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "commitfiles")
    Writers.deleteTree(dir)
    val (fs, _) = Writers.fsFor(dir.toString)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 5).foreach { round =>
      val dest = new HPath(dir.toString, s"v$round.json")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results = Future.sequence((1 to 8).map { i =>
        Future {
          gate.await()
          try {
            CommitFiles.publish(fs, dest, s"winner-$i".getBytes("UTF-8"))
            Some(i)
          } catch { case _: java.util.ConcurrentModificationException => None }
        }
      })
      gate.countDown()
      val wins = Await.result(results, 60.seconds).flatten
      assert(wins.size == 1,
        s"round $round: exactly one publisher must win, got $wins")
      assert(text(fs, dest) == s"winner-${wins.head}",
        s"round $round: the winner's bytes must survive intact")
    }
    assert(Files.list(dir).iterator().asScala.forall(!_.getFileName.toString.endsWith(".tmp")),
      "a publisher left its temporary file behind")
  }

  test("publish refuses a pre-existing file and leaves it as it was") {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "commitfiles2")
    Writers.deleteTree(dir)
    val (fs, _) = Writers.fsFor(dir.toString)
    val dest = new HPath(dir.toString, "v1.json")
    CommitFiles.publish(fs, dest, "first".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException](
      CommitFiles.publish(fs, dest, "second".getBytes("UTF-8")))
    assert(text(fs, dest) == "first")
  }
}
