package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.{GraftFunctions, GraftSession, SparkEntry}
import graft.sources.CdcEnvelope
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.{Change, Enriched}

/** Drives one workload through the engine's public calls and writes the
  * raw measurements (spans, jobs, streaming progress) as one JSON file.
  * `run.py` builds this, runs it, checks outputs and derives the metrics.
  *
  * {{{
  * perfbench.Main <batch|stream> key=value ...
  *   cores, seed, seconds, trace (0|1), data (table dir), work (scratch
  *   dir), out (result file); batch: keys (comma list), min_passes;
  *   stream: open_files, open_rows, interval_ms, drain_files, drain_rows,
  *   warm_files, max_files (per trigger)
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val cores = opt("cores").toInt
    val spark = session(s"local[$cores]", cores, work, mode == "stream")
    val sessionMs = (System.nanoTime() - jvmStartNs) / 1e6
    val trace = new Trace(spark, opt("trace") == "1")
    val fields = mode match {
      case "batch" => Batch(spark, trace, opt, work).run()
      case "stream" => Stream(spark, trace, opt, work).run()
    }
    trace.settle()
    val all = Seq(
      "mode" -> Json.str(mode),
      "cores" -> cores.toString,
      "jvm_start_us" -> (jvmStartMs * 1000L).toString,
      "session_start_ms" -> Json.num(sessionMs),
      "spans" -> Json.arr(trace.toJson),
      "phases" -> Json.arr(trace.phases.asScala.map { case (n, s, d) =>
        s"""[${Json.str(n)},$s,${Json.num(d)}]""" }),
      "aqe_updates_us" -> Json.arr(trace.aqeUpdates.asScala.map(_.toString)),
      "progress" -> Json.arr(trace.progress.asScala.map(_.json))) ++ fields
    trace.detach()
    spark.stop()
    // single-thread baseline of the stream, traced runs only
    val baseline =
      if (mode == "stream" && trace.full) Seq("local1_rows_per_s" -> Json.num(Stream.singleThread(opt, work)))
      else Nil
    // peak resident memory of this process, read after all work is done
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    Files.write(Paths.get(opt("out")),
      Json.obj(all ++ baseline :+ ("peak_rss_mb" -> Json.num(hwm))).getBytes(UTF_8))
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** nanoTime at JVM start, so durations from it share one clock. */
  private val jvmStartNs =
    System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L

  /** Microseconds from JVM start to now: where set-up ends. */
  def sinceJvmStartUs(): Long = Clock.nowUs() - jvmStartMs * 1000L

  def session(master: String, cores: Int, work: Path, rocksdb: Boolean): SparkSession = {
    val b = GraftSession.builder(master, cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    if (rocksdb) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Closed loop, one client: each query key is built through
  * `SparkEntry.queries(key)(spark, dir)` and executed through the noop
  * sink, one after another, in a seeded order per pass. */
final case class Batch(spark: SparkSession, trace: Trace, opt: Map[String, String], work: Path) {
  private val keys = opt("keys").split(",").toSeq
  private val dir = opt("data")
  private val seed = opt("seed").toLong

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000 + pass).shuffle(keys)

  /** One pass over every key; spans are tagged with the pass label.
    * `sink` executes a built query. Returns the keys that failed. */
  private def pass(label: String, n: Int)(sink: (String, DataFrame) => Unit): Seq[String] =
    order(n).filterNot { key =>
      spark.catalog.clearCache()
      val q = trace.start(key, label)
      try {
        val df = trace.within("build", "build", q.id)(SparkEntry.queries(key)(spark, dir))
        trace.within("execute", "execute", q.id)(sink(key, df))
        true
      } catch {
        case e: Throwable =>
          q.attrs("failed") = 1
          System.err.println(s"[perfbench] $label $key failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      } finally q.endUs = Clock.nowUs()
    }

  private def noop(key: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(): Seq[(String, String)] = {
    val missing = keys.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(",")}")
    // set-up: the output check pass (one parquet file per key, outside
    // the timed passes) pays every memoized first call and warms the JIT
    val out = work.resolve("out")
    val checkFailed = pass("check", -1) { (key, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(key).toString)
    }
    // drop the set-up's cached plans and garbage before timing
    spark.catalog.clearCache()
    System.gc()
    val setupUs = Main.sinceJvmStartUs()
    val deadline = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
    val t0 = Clock.nowUs()
    var passes = 0
    // whole passes until --seconds have passed, at least min_passes, so
    // that every run pools the same number of samples per key
    while (passes < opt("min_passes").toInt || System.nanoTime() < deadline) {
      pass("query", passes)(noop); passes += 1
    }
    val timedUs = Clock.nowUs() - t0
    val oracles = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> Json.str(_)))
    Seq(
      "keys" -> Json.arr(keys.map(Json.str)),
      "setup_us" -> setupUs.toString,
      "timed_us" -> timedUs.toString,
      "passes" -> passes.toString,
      "check_dir" -> Json.str(out.toString),
      "check_failed" -> Json.arr(checkFailed.map(Json.str)),
      "oracle_sql" -> Json.obj(oracles))
  }
}

/** The reference CDC topology as a file-source stream on the RocksDB
  * state store: envelope decode (with `parse_sqdata_ts`), latest-value
  * enrichment, 10-minute watermark and tumble, into a memory sink.
  *
  * The customer changelog is loaded first (dimension bootstrap). Then one
  * generator thread drops order-changelog files on a fixed schedule (open
  * loop, for latency), and finally the remaining files land at once
  * (drain, for throughput). Two far-future sentinel records close every
  * window so the final totals can be checked. */
final case class Stream(spark: SparkSession, trace: Trace, opt: Map[String, String], work: Path) {
  import spark.implicits._
  import Stream.{custSchema, orderSchema}

  /** Envelope JSON lines of a changelog, in (op_ts, seq) order. */
  private def lines(env: DataFrame): Seq[String] =
    CdcEnvelope.toEnvelopeJson(env)
      .select(col("value"), get_json_object(col("value"), "$.sv_op_timestamp").as("ts"),
        get_json_object(col("value"), "$.sv_trans_id").cast("long").as("id"))
      .orderBy("ts", "id").select("value").as[String].collect().toSeq

  private def customerLines(dir: String): Seq[String] = {
    val c = CdcEnvelope.customerChangelog(spark, dir)
    lines(CdcEnvelope.envelope(c, "customer", "c_custkey",
      custSchema.fieldNames.toSeq.map(n => n -> col(n))))
  }

  /** Order changes in op_ts order; records inside one 10-minute window
    * are shuffled by the seed, which keeps every record inside the
    * watermark's out-of-orderness bound. */
  private def orderLines(dir: String, seed: Long): Seq[String] = {
    val o = CdcEnvelope.ordersChangelog(spark, dir)
    val image = orderSchema.fieldNames.toSeq.map {
      case "o_orderdate" => "o_orderdate" -> CdcEnvelope.tsDigits(col("o_orderdate"))
      case n => n -> col(n)
    }
    val rnd = new scala.util.Random(seed)
    // digits yyyyMMddHHmm + one more minute digit: the 10-minute bucket
    lines(CdcEnvelope.envelope(o, "orders", "o_orderkey", image))
      .groupBy(l => l.substring(l.indexOf("\"sv_op_timestamp\":\"") + 19).take(11))
      .toSeq.sortBy(_._1).flatMap { case (_, g) => rnd.shuffle(g) }
  }

  /** Files land atomically, with strictly increasing modification times
    * so the source reads them in the order they were written. */
  private final class Dropper(stage: Path) {
    private var n = 0
    private val base = System.currentTimeMillis()
    def drop(dst: Path, name: String, ls: Seq[String]): Unit = {
      val tmp = stage.resolve(name)
      Files.write(tmp, ls.mkString("", "\n", "\n").getBytes(UTF_8))
      tmp.toFile.setLastModified(base + n); n += 1
      Files.move(tmp, dst.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def sinkRows(sink: String): Seq[String] =
    spark.table(sink).select(unix_millis(col("order_period")).as("p"),
      col("group_key"), col("n_rows")).as[(Long, String, Long)].collect().toSeq
      .map { case (p, g, n) => s"[$p,${Json.str(g)},$n]" }

  /** A copy of an order change of a customer that is never deleted (keys
    * divisible by 10 get a delete), re-stamped at `digits`. */
  private def sentinel(orders: Seq[String], digits: String): String =
    orders.find(l => "\"o_custkey\":(\\d+)".r.findFirstMatchIn(l).exists(_.group(1).toLong % 10 != 0)).get
      .replaceFirst("\"sv_op_timestamp\":\"\\d+\"", s""""sv_op_timestamp":"$digits"""")

  def run(): Seq[(String, String)] = {
    val dir = opt("data")
    val seed = opt("seed").toLong
    val (openFiles, openRows) = (opt("open_files").toInt, opt("open_rows").toInt)
    val (drainFiles, drainRows) = (opt("drain_files").toInt, opt("drain_rows").toInt)
    val maxFiles = opt("max_files").toInt
    val interval = opt("interval_ms").toLong
    val root = work.resolve("stream")
    Main.deleteTree(root)
    val stage = Files.createDirectories(root.resolve("stage"))
    val drop = new Dropper(stage)

    val (cust, genCustS) = Main.time(customerLines(dir))
    val (ordersAll, genOrdS) = Main.time(orderLines(dir, seed))
    val (openPart, rest) = ordersAll.splitAt(openFiles * openRows)
    val files = openPart.grouped(openRows).toSeq ++ rest.take(drainFiles * drainRows).grouped(drainRows)
    require(files.size == openFiles + drainFiles && files.last.size == drainRows,
      s"${ordersAll.size} order changes are too few for the file plan")
    def dims(d: Path): Unit = drop.drop(d, "c00000.json", cust)

    // warm-up: the same topology over the dimension and a few order files
    val warmS = Main.time {
      val (cd, od) = (Files.createDirectories(root.resolve("warm_c")),
        Files.createDirectories(root.resolve("warm_o")))
      dims(cd)
      files.take(opt("warm_files").toInt).zipWithIndex.foreach { case (f, i) =>
        drop.drop(od, f"w$i%05d.json", f) }
      val q = Stream.start(spark, cd, od, root.resolve("warm_ckpt"), "warm_totals", maxFiles)
      try q.processAllAvailable() finally q.stop()
    }._2

    // the measured query: the stream span tags every job it launches
    val custDir = Files.createDirectories(root.resolve("in_c"))
    val orderDir = Files.createDirectories(root.resolve("in_o"))
    val ckpt = root.resolve("ckpt")
    dims(custDir)
    val streamSpan = trace.start("stream", "stream")
    val sc = spark.sparkContext
    sc.setLocalProperty(trace.SpanProp, streamSpan.id.toString)
    val q = Stream.start(spark, custDir, orderDir, ckpt, "totals", maxFiles)
    sc.setLocalProperty(trace.SpanProp, null)
    val (_, bootS) = Main.time(q.processAllAvailable())
    val setupUs = Main.sinceJvmStartUs()

    // open loop: one generator thread, file i due at t0 + i * interval
    val open = files.slice(0, openFiles)
    val sched = new Array[Long](openFiles)
    val actual = new Array[Long](openFiles)
    val t0 = Clock.nowUs() + 50000L
    val gen = new Thread(() => open.zipWithIndex.foreach { case (f, i) =>
      sched(i) = t0 + i * interval * 1000L
      val wait = (sched(i) - Clock.nowUs()) / 1000L
      if (wait > 0) Thread.sleep(wait)
      drop.drop(orderDir, f"o$i%05d.json", f)
      actual(i) = Clock.nowUs()
    }, "perfbench-generator")
    gen.start(); gen.join()
    q.processAllAvailable()
    val openEndUs = Clock.nowUs()

    // drain: the whole backlog present at once
    val drain = files.slice(openFiles, openFiles + drainFiles)
    drain.zipWithIndex.foreach { case (f, i) =>
      drop.drop(orderDir, f"o${openFiles + i}%05d.json", f) }
    val drainT0 = Clock.nowUs()
    q.processAllAvailable()
    val drainT1 = Clock.nowUs()

    // close every window: a far-future record advances the watermark,
    // a second one makes the next batch evict with it
    drop.drop(orderDir, "s00000.json", Seq(sentinel(drain.last, "20990101000000000")))
    q.processAllAvailable()
    drop.drop(orderDir, "s00001.json", Seq(sentinel(drain.last, "20990101000100000")))
    q.processAllAvailable()
    q.stop()
    streamSpan.endUs = Clock.nowUs()
    val totals = sinkRows("totals")

    // every consumed file with the file source's own log batch id
    val fileBatch = Files.list(ckpt.resolve("sources")).iterator().asScala.toSeq
      .flatMap(d => Files.list(d).iterator().asScala.toSeq)
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{")))
      .map { l =>
        val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(l).get.group(1)
        Json.str(path.substring(path.lastIndexOf('/') + 1)) + ":" + batch
      }

    Seq(
      "setup_us" -> setupUs.toString,
      "gen_s" -> Json.num(genCustS + genOrdS),
      "warmup_s" -> Json.num(warmS),
      "bootstrap_s" -> Json.num(bootS),
      "open_sched_us" -> Json.arr(sched.map(_.toString)),
      "open_actual_us" -> Json.arr(actual.map(_.toString)),
      "open_end_us" -> openEndUs.toString,
      "drain_us" -> Json.arr(Seq(drainT0.toString, drainT1.toString)),
      "drain_rows" -> drain.map(_.size).sum.toString,
      "file_log_batch" -> fileBatch.mkString("{", ",", "}"),
      "totals" -> Json.arr(totals),
      "input_dirs" -> Json.arr(Seq(custDir, orderDir).map(p => Json.str(p.toString))),
      "checkpoint_dir" -> Json.str(ckpt.toString))
  }
}

object Stream {
  val custSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType), StructField("o_orderpriority", StringType)))

  private def changes(raw: DataFrame, schema: StructType, key: String,
                      payload: org.apache.spark.sql.Column, enrichment: Boolean): Dataset[Change] = {
    import raw.sparkSession.implicits._
    CdcPipeline.decodeEnvelope(raw, schema)
      .select(col(s"after_image.$key").as("key"),
        unix_millis(col("op_ts")).as("eventTimeMs"), payload.as("payload"),
        lit(enrichment).as("isEnrichment"), col("manip"),
        coalesce(col("seq"), lit(0)).as("seq"))
      .as[Change]
  }

  /** decodeEnvelope → enrichLatest → windowedTotals over two file dirs. */
  def start(spark: SparkSession, custDir: Path, orderDir: Path, ckpt: Path, sink: String,
            maxFiles: Int): StreamingQuery = {
    def src(p: Path) = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", maxFiles).text(p.toString)
    val cust = changes(src(custDir), custSchema, "c_custkey",
      col("after_image.c_mktsegment"), enrichment = true)
    val orders = changes(src(orderDir), orderSchema, "o_custkey",
      col("after_image.o_orderkey").cast("string"), enrichment = false)
    val enriched: Dataset[Enriched] = CdcPipeline.enrichLatest(cust.union(orders))
    CdcPipeline.windowedTotals(enriched).writeStream
      .format("memory").queryName(sink).outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt.toString).start()
  }

  /** Single-thread baseline: the measured run's dimension and order files
    * drained at once by the same topology on a fresh local[1] session. */
  def singleThread(opt: Map[String, String], work: Path): Double = {
    val spark = Main.session("local[1]", 1, work, rocksdb = true)
    try {
      val src = work.resolve("stream")
      val root = work.resolve("stream1")
      Main.deleteTree(root)
      val (cd, od) = (Files.createDirectories(root.resolve("in_c")),
        Files.createDirectories(root.resolve("in_o")))
      def copy(from: Path, to: Path, prefix: String): Long =
        Files.list(from).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
          .filter(_.getFileName.toString.startsWith(prefix)).map { f =>
            Files.copy(f, to.resolve(f.getFileName))
            Files.readAllLines(f).size.toLong
          }.sum
      copy(src.resolve("in_c"), cd, "c")
      val q = start(spark, cd, od, root.resolve("ckpt"), "totals1", opt("max_files").toInt)
      q.processAllAvailable()
      val stage = Files.createDirectories(root.resolve("stage"))
      val rows = copy(src.resolve("in_o"), stage, "o")
      val t0 = System.nanoTime()
      // one move per file, in name order, so the source reads them in order
      Files.list(stage).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        .foreach(f => Files.move(f, od.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      rows / secs
    } finally spark.stop()
  }
}
