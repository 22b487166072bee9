package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Jobs `body` launches, counted by job group; a marker job started
    * afterwards flushes the listener bus before the count is read. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "flush")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      jobs.get
    } finally sc.removeSparkListener(listener)
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
