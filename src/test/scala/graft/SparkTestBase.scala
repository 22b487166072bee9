package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with a fresh temp dir (passed to `body`), then deletes
    * the dir, so no spec leaves one behind. */
  def withTempDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_test")
    try body(dir.toString)
    finally deleteDir(dir.toFile)
  }

  // a stopped stream's state-store maintenance can still write into its
  // checkpoint dir for a moment, so a delete that races it is retried
  private def deleteDir(dir: java.io.File, tries: Int = 50): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(dir)
    catch {
      case _: java.io.IOException if tries > 1 =>
        Thread.sleep(100)
        deleteDir(dir, tries - 1)
    }

  /** Polls `cond` every 200 ms for up to `ms`; its final value. For
    * streams that never quiesce (processing-time timeouts), where
    * `processAllAvailable()` cannot be used. */
  def waitUntil(cond: => Boolean, ms: Long = 30000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
    cond
  }

  /** Runs `body` with the shared session's checkpoint dir pointed at a
    * fresh temp dir (passed to `body`), then restores the previous
    * setting and deletes the temp dir, so no spec leaks either. */
  def withCheckpointDir[T](body: String => T): T =
    withTempDir(dir => swapCheckpointDir(dir)(body(dir)))

  /** Runs `body` with `graft.reliableCheckpoint` on, then unsets it. */
  def reliableConf[T](body: => T): T = {
    spark.conf.set("graft.reliableCheckpoint", "true")
    try body
    finally spark.conf.unset("graft.reliableCheckpoint")
  }

  /** Runs `body` in reliable mode against a fresh checkpoint dir. */
  def withReliable[T](body: String => T): T =
    withCheckpointDir(dir => reliableConf(body(dir)))

  /** Runs `body` on the RocksDB state store (transformWithState needs
    * it) with a fresh temp dir for its checkpoints and sinks, passed to
    * `body`, then restores the provider and the partition count and
    * deletes the dir. The state partition count binds at query start:
    * one RocksDB instance per shuffle partition checkpoints every
    * micro-batch, so 2 partitions keep local-FS churn small while
    * exercising the same semantics. */
  def withRocksDb[T](body: String => T): T = withTempDir { dir =>
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val shuffle = "spark.sql.shuffle.partitions"
    val prevProvider = spark.conf.getOption(provider)
    val prevShuffle = spark.conf.get(shuffle)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(shuffle, "2")
    try body(dir)
    finally {
      prevProvider match {
        case Some(v) => spark.conf.set(provider, v)
        case None => spark.conf.unset(provider)
      }
      spark.conf.set(shuffle, prevShuffle)
    }
  }

  /** Runs `body` with no checkpoint dir set, restoring it afterwards. */
  def withoutCheckpointDir[T](body: => T): T = swapCheckpointDir(null)(body)

  // setCheckpointDir(null) unsets the dir; a restored dir gets a fresh
  // subdirectory of the old one, which is all callers depend on
  private def swapCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.setCheckpointDir(prev.orNull)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }
}
