package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Exceptional, Outcome}
import org.scalatest.exceptions.TimeoutField
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.time.{Minutes, Span}

/** Shared local SparkSession for suites that need one. */
object TestSpark {
  lazy val spark: SparkSession = graft.ops.Fixtures
    .sessionBuilder("local[2]", "2")
    .appName("graft-tests")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with TimeLimitedTests with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh `<java.io.tmpdir>/<prefix>…` dir, deleted with everything
    * under it when the suite ends.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Hang guard, not a perf budget: the r16 driver artifact recorded
    * `tests_ok: false` with a streaming write killed inside the JVM
    * shutdown hook — the signature of a wedged test being killed from
    * outside, which zeroes the whole suite's verdict. A test that
    * blocks (awaitTermination / processAllAvailable on a dead stream)
    * now FAILS individually after 10 minutes — two orders of magnitude
    * above any suite's normal per-test time — and the rest of the
    * suite still runs and reports. ThreadSignaler interrupts the stuck
    * thread, which Spark's blocking waits honor.
    */
  override val timeLimit: Span = Span(10, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  /** A test cut by the hang guard may leave its Spark jobs running (the
    * interrupted thread is not the one running the tasks): cancel them
    * so they do not spill into the next test or suite.
    */
  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    outcome match {
      case Exceptional(_: TimeoutField) => SparkSession.getDefaultSession.foreach(_.sparkContext.cancelAllJobs())
      case _ => ()
    }
    outcome
  }
}
