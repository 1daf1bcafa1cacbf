package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for engine suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Drain a streaming query by polling committed sink rows — NOT
    * `processAllAvailable`, which livelocks when a ProcessingTimeTimeout
    * keeps the engine running no-data micro-batches (round-11 finding).
    * Fails FAST on a dead query (surfaces its exception instead of
    * burning the deadline on a count that will never move). */
  protected def awaitStreamRows(q: org.apache.spark.sql.streaming.StreamingQuery,
                                count: => Long, expected: Long,
                                timeoutMs: Long = 600000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (count < expected && System.currentTimeMillis() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(300)
    }
    q.exception.foreach(e => throw e)
    assert(count >= expected, s"drain timed out before $expected rows")
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder("local[4]", 4)
      .appName("graft-test")
      // Without the native Hadoop lib, the default FileContext-based
      // checkpoint manager shells out (readlink) per checkpoint file and
      // subprocess forks are pathologically slow in this VM — use the
      // FileSystem-based manager, which stays in-process.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
