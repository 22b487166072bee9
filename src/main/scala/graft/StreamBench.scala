package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Similarity, Windows}
import graft.streaming.{CdcPipeline, TwsActiveUsers, TwsCep, TwsDedup,
  TwsDomainCap, TwsMeanShift, TwsScd2, TwsSeqGap, TwsTrending}

/** Streaming performance posture (r15 item 5, extended r16 to the FULL
  * Tws family): throughput, state-store footprint, and recovery time
  * for every Tws* operator on the RocksDB state store provider at the
  * 10× corpus — the reference (StreamingJob.java:153-203) is a
  * streaming topology, and these twins had correctness + recovery
  * SPECS but (before r15/r16) no recorded perf evidence. Pass the
  * literal arg `dedup100x` to also price TwsDedup at 10× its r15
  * state population (the 100×-of-sf0.1 document corpus) — since r17
  * that row runs the COLLAPSED form (TwsDedupC100x; the r16 plain
  * pricing stands in STREAMBENCH_r16). r17 also adds TwsDedupC (the
  * collapsed 10× A/B against row 1) and CurationIngest (the composed
  * A9 decode → quality → bloom-decontam → TWS-near-dup job as one
  * running pipeline, r16 verdict item 4).
  *
  * Method, per operator:
  *   1. The 10× parquet part-files are copied into a scratch input dir
  *      (90% up front), and the operator runs as a file-source stream
  *      (`maxFilesPerTrigger` bounds each micro-batch) to a noop sink
  *      with a fresh checkpoint. `processAllAvailable()` wall time +
  *      input rows → rows/s; the final StreamingQueryProgress's state
  *      operator gives state rows and RocksDB memory/SST bytes, and the
  *      checkpoint state dir is du'd for the durable footprint.
  *   2. RECOVERY: the query is stopped, the held-back 10% of files land
  *      in the input dir, and the SAME checkpoint is restarted — wall
  *      time from start() to processAllAvailable() covers state reload
  *      (RocksDB restores from the last snapshot + changelog) plus the
  *      catch-up batch, the operational number a pipeline restart pays.
  *
  * `sbt "runMain graft.StreamBench /tmp/bench10x STREAMBENCH_rNN.txt [dedup100x]"`
  */
object StreamBench {

  private def du(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum
    finally s.close()
  }

  private def copyParts(srcDir: String, dst: Path, parts: Seq[Path]): Unit = {
    Files.createDirectories(dst)
    parts.foreach(p => Files.copy(p, dst.resolve(p.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/tmp/bench10x")
    val outFile = args.lift(1).getOrElse("STREAMBENCH_r16.txt")
    val cpus = math.min(32, Runtime.getRuntime.availableProcessors())
    // Progress retention must cover EVERY batch of the largest corpus:
    // rows/batches are summed from q.recentProgress, which is capped at
    // numRecentProgressUpdates (default 100) — with maxFilesPerTrigger=4
    // a source over ~400 part files would silently drop early batches,
    // undercounting rows and INFLATING the reported throughput (r16
    // ADVICE; the dedup100x corpus at 64 parts/trigger 8 was safe only
    // by coincidence). bench() asserts its batch count fits under this.
    val ProgressRetention = 10000
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates",
        ProgressRetention.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    import spark.implicits._

    val work = Files.createTempDirectory("graft_streambench")
    val lines = scala.collection.mutable.ListBuffer.empty[String]
    def log(s: String): Unit = { println(s); lines += s }

    // Teardown hardening (r16 operational caveat: a SIGSEGV in
    // rocksdb::LoggerJniCallback::Logv during the TwsDedup100x stop —
    // the known rocksdbjni logger teardown race, racing native
    // background work's log calls against the Java logger's disposal).
    // Spark 4.1 exposes no conf to fully silence the native logger
    // (RocksDB.createLogger pins ERROR_LEVEL unless slf4j debug is
    // on — verified against the shipped class), so the harness limits
    // the EXPOSURE instead: queries are always DRAINED first
    // (processAllAvailable returns before stop), a settle pause after
    // each heavy-state stop lets native flush/compaction quiesce
    // while the Java side is still alive, and stop() failures are
    // logged rather than allowed to fail the harness mid-artifact.
    // Structurally, the r17 collapsed dedup rows shrink the 100×
    // state ~an order of magnitude — less to flush at stop is less to
    // race.
    def safeStop(q: StreamingQuery, settleMs: Long = 0L): Unit = {
      try q.stop() catch {
        case e: Throwable =>
          log(s"# WARN teardown ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (settleMs > 0) Thread.sleep(settleMs)
    }

    // targeted-probe filter (adjudication runs): when
    // SPARK_GRAFT_SB_ONLY=prefix1,prefix2 is set, only rows whose
    // name starts with a listed prefix run — lets a single row pair
    // be re-measured in a fresh JVM without re-running the family.
    // Applied to EVERY row including AnnProbe (r18 ADVICE: the old
    // form skipped that block outright whenever the env was set, so it
    // could never be targeted), and a prefix list that matches zero
    // rows fails loudly at the end instead of writing an empty
    // artifact (the typo'd-prefix failure mode).
    val sbOnly: Option[Array[String]] =
      sys.env.get("SPARK_GRAFT_SB_ONLY").map(_.split(","))
    def selected(name: String): Boolean =
      sbOnly.forall(_.exists(name.startsWith))
    var rowsRun = 0

    /** Run one operator: build the op over a streaming frame read from
      * `inDir`, measure ingest + state + recovery. When `sink` is set
      * the query runs through `foreachBatch` (the op's output batch +
      * batch id are handed to it) instead of the noop sink — the
      * CurationIngest verify stage needs per-batch control to prune
      * its store probe; state metrics still report (the stateful
      * operator is upstream of the sink either way).
      *
      * `pollDrain` MUST be set for TimeMode.ProcessingTime operators
      * (TTL rows): in that mode the planner fires micro-batches
      * CONTINUOUSLY to service timers/TTL, `processAllAvailable()`
      * never settles, and with the default 0 ms trigger every empty
      * batch commits a full per-partition RocksDB snapshot zip — the
      * r18 harness measured 2,280+ empty batches at 570% CPU before
      * the row was killed (the TWS TTL SPEC already polls for the same
      * reason, StreamingSpec "TWS native TTL"). With `pollDrain` the
      * query runs under a 1 s trigger (bounds the empty-batch commit
      * rate) and the drain waits for the EXACT expected input-row
      * total (pre-counted from the static parquet input, 1 s poll —
      * see drain()), so the ingest wall carries a ≤1 s poll tail. */
    def bench(name: String, srcTable: String, filesPerTrigger: Int,
              settleMs: Long = 0L,
              sink: Option[(DataFrame, Long) => Unit] = None,
              pollDrain: Boolean = false,
              warmup: Boolean = false)
             (op: DataFrame => DataFrame): Unit = {
      if (!selected(name)) return
      rowsRun += 1
      // srcTable is a table name under dataDir, or an absolute
      // parquet-dir path (the dedup100x scratch corpus)
      val src = if (srcTable.startsWith("/")) srcTable
                else s"$dataDir/$srcTable.parquet"
      val schema = spark.read.parquet(src).schema
      val parts = {
        val d = Paths.get(src)
        val s = Files.list(d)
        val all = try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") && n.endsWith(".parquet")
          }.toSeq.sortBy(_.getFileName.toString)
        } finally s.close()
        all
      }
      require(parts.size >= 2, s"$src has ${parts.size} part files")
      // every micro-batch must still be in recentProgress at read time
      // (+8 slack: empty/no-data progress entries also occupy slots);
      // CEILING division (r17 ADVICE) — a part count that is not a
      // multiple of the trigger still adds a final partial batch, and
      // the invariant must hold without leaning on the slack
      require((parts.size + filesPerTrigger - 1) / filesPerTrigger + 8
          <= ProgressRetention,
        s"$src: ${parts.size} parts / trigger $filesPerTrigger exceeds " +
          s"the progress retention $ProgressRetention — rows would undercount")
      val holdBack = math.max(1, parts.size / 10)
      val (tail, head) = parts.splitAt(parts.size - holdBack) match {
        case (h, t) => (t, h)
      }
      val inDir = work.resolve(s"$name-in")
      val ckpt = work.resolve(s"$name-ckpt").toString
      copyParts(src, inDir, head)

      def start(): StreamingQuery = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger)
          .parquet(inDir.toString)
        val w = sink match {
          case Some(f) => op(stream).writeStream.foreachBatch(f)
          case None    => op(stream).writeStream.format("noop")
        }
        val w2 = if (pollDrain)
          w.trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("1 second"))
        else w
        w2.option("checkpointLocation", ckpt).start()
      }
      // Drain by EXPECTED ROW COUNT, not a stability heuristic: the
      // first poll-drain attempt waited for 5 stable seconds, but a
      // 100×-corpus batch runs ~8-30 s between progress updates, so
      // the "stable" window expired mid-stream and the row recorded 1
      // of 8 batches. The input is a static file set — the exact row
      // count is knowable up front, so wait for exactly that.
      //
      // r18 ADVICE (medium): the loop must not spin forever on a DEAD
      // query — processAllAvailable rethrows query failures, but a
      // pure progress poll would hang the unattended overnight leg on
      // exactly the TTL row class that previously had to be killed by
      // hand. Each iteration rethrows q.exception, and a generous
      // wall-clock bound (2 h default, SPARK_GRAFT_SB_DRAIN_MAX_SEC
      // to override — the slowest recorded TTL row is 74 s) aborts
      // with a diagnostic instead of hanging.
      val drainMaxSec = sys.env.get("SPARK_GRAFT_SB_DRAIN_MAX_SEC")
        .map(_.toLong).getOrElse(7200L)
      def drain(q: StreamingQuery, expectRows: Long): Unit =
        if (!pollDrain) q.processAllAvailable()
        else {
          val deadline = System.nanoTime() + drainMaxSec * 1000000000L
          while (q.recentProgress.map(_.numInputRows).sum < expectRows) {
            q.exception.foreach(e => throw e)
            require(System.nanoTime() < deadline,
              s"$name drain exceeded ${drainMaxSec}s waiting for " +
                s"$expectRows rows (got ${q.recentProgress.map(_.numInputRows).sum})")
            Thread.sleep(1000)
          }
        }

      // ---- phase 1: ingest 90%
      val headRows =
        if (pollDrain) spark.read.parquet(inDir.toString).count() else -1L
      val t0 = System.nanoTime()
      val q = start()
      drain(q, headRows)
      val ingestSec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val rows = progs.map(_.numInputRows).sum
      val batches = progs.count(_.numInputRows > 0)
      val stateOp = progs.reverse.flatMap(_.stateOperators.headOption)
        .find(_.numRowsTotal >= 0)
      val stateRows = stateOp.map(_.numRowsTotal).getOrElse(-1L)
      val stateMem = stateOp.map(_.memoryUsedBytes).getOrElse(-1L)
      val sstBytes = stateOp.flatMap(o =>
        Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.longValue()))
        .getOrElse(-1L)
      safeStop(q, settleMs)
      // warm-up rows (r18 verdict item 6) exist to pay the one-time
      // codegen/JIT + page-cache fill BEFORE the timed rows, so the
      // per-stage decomposition's marginals stop being
      // position-confounded "upper bounds"; their numbers are logged
      // for transparency but are NOT a row of record, and the
      // recovery phase is skipped (nothing to adjudicate)
      if (warmup) {
        log(f"# warmup $name%-14s rows=$rows%9d ingest=$ingestSec%7.2fs (discarded)")
        return
      }
      val ckptBytes = du(Paths.get(ckpt, "state"))

      // ---- phase 2: recovery — restart the checkpoint on +10% input
      copyParts(src, inDir, tail)
      val tailRows =
        if (pollDrain) spark.read.parquet(inDir.toString).count() - headRows
        else -1L
      val r0 = System.nanoTime()
      val q2 = start()
      drain(q2, tailRows)
      val recoverSec = (System.nanoTime() - r0) / 1e9
      val rRows = q2.recentProgress.map(_.numInputRows).sum
      safeStop(q2, settleMs)

      log(f"STREAMBENCH $name%-14s rows=$rows%9d batches=$batches%3d " +
        f"ingest=$ingestSec%7.2fs thpt=${rows / math.max(ingestSec, 1e-9)}%9.0f rows/s " +
        f"stateRows=$stateRows%9d stateMemMB=${stateMem / 1e6}%8.1f " +
        f"sstMB=${sstBytes / 1e6}%8.1f ckptStateMB=${ckptBytes / 1e6}%8.1f " +
        f"recovery=$recoverSec%6.2fs (+$rRows rows)")
    }

    // 1) TwsDedup: streaming LSH near-dup candidates over documents —
    //    state = bucket membership (16 bands × corpus), the crawl-ingest
    //    posture. Signatures are a pure projection on the stream.
    bench("TwsDedup", "documents", filesPerTrigger = 4) { docs =>
      TwsDedup.candidatePairs(
        graft.operators.Dedup.withMinHashSignatures(docs, "text", "doc_id"))
        .toDF()
    }

    // 1b) TwsDedupC: the same ingest with EXACT-CONTENT PRE-COLLAPSE
    //     (r16 verdict item 3) — mirrors of an already-seen content
    //     add no bucket state and emit no pairs, so state tracks
    //     DISTINCT contents; the A/B against row 1 prices what the
    //     collapse buys at the same corpus.
    bench("TwsDedupC", "documents", filesPerTrigger = 4) { docs =>
      TwsDedup.candidatePairsCollapsed(
        graft.operators.Dedup.withMinHashSignatures(docs, "text", "doc_id"))
        .toDF()
    }

    // 2) Sessions: watermark-final sessions over events (Spark's
    //    session_window) — state = open sessions per user; 30-min gap,
    //    10-min lateness (the reference topology's out-of-orderness
    //    allowance).
    bench("Sessions", "events", filesPerTrigger = 4) { ev =>
      Windows.sessions(ev, gapSecs = 1800L, delay = "10 minutes")
    }

    // 3) CdcEnrichment: latest-image enrichment — events replayed as a
    //    CDC change stream keyed by user (error rows act as enrichment
    //    images, the rest as stream rows buffering/flushing against
    //    them) — exercises image update + buffer + flush state paths.
    bench("CdcEnrichment", "events", filesPerTrigger = 4) { ev =>
      val changes = ev.select(
        col("user_id").as("key"),
        unix_millis(col("ts").cast("timestamp")).as("eventTimeMs"),
        col("props").as("payload"),
        (col("event_type") === "error").as("isEnrichment"),
        lit("I").as("manip"),
        (col("event_id") % 1000000).cast("int").as("seq")
      ).as[CdcPipeline.Change]
      CdcPipeline.enrichLatest(changes).toDF()
    }

    // 4) TwsSeqGap: per-block completeness audit over the event_id
    //    sequence — state = one open block audit per 1000-id block +
    //    finalized tombstones; 10-min settle, 10-min lateness.
    bench("TwsSeqGap", "events", filesPerTrigger = 4) { ev =>
      TwsSeqGap.audit(ev, blockSize = 1000L, settleSecs = 600L,
        delay = "10 minutes").toDF()
    }

    // ---- r16 (verdict item 5): the remaining Tws operators, same
    // columns, so the whole family has a recorded perf posture.

    // 5) TwsScd2: events replayed as a CDC change stream keyed by
    //    user — signup opens (I), error tombstones (D), the rest
    //    update (U); state = one open version per key (keyspace-
    //    bounded), emits watermark-free closed versions.
    bench("TwsScd2", "events", filesPerTrigger = 4) { ev =>
      import org.apache.spark.sql.{Encoders => E}
      val changes = ev.select(
        col("user_id").cast("long").as("key"),
        unix_millis(col("ts").cast("timestamp")).as("opTs"),
        (col("event_id") % 1000000).cast("int").as("seq"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("manip"),
        col("props").as("value"))
        .as(E.product[graft.streaming.TwsScd2.ChgRow])
      graft.streaming.TwsScd2.closedVersions(changes).toDF()
    }

    // 6) TwsCep: view→click→purchase episode matching (the batch B58
    //    semantics) — state = per-user trigger buffer under the
    //    episode window; 1-h window, 10-min lateness.
    bench("TwsCep", "events", filesPerTrigger = 4) { ev =>
      TwsCep.episodes(ev, Seq("view", "click", "purchase"),
        windowSecs = 3600L, delay = "10 minutes").toDF()
    }

    // 7) TwsTrending: per-(lang, hour-window) Misra-Gries top-10 terms
    //    over the document stream — state = one bounded MG summary per
    //    open (group, window); doc_id-derived event time keeps the
    //    layout deterministic.
    bench("TwsTrending", "documents", filesPerTrigger = 4) { docs =>
      TwsTrending.trending(
        docs.withColumn("ts", timestamp_seconds(col("doc_id"))),
        "lang", "ts", "text", windowDur = "1 hour",
        delay = "10 minutes", k = 10).toDF()
    }

    // 8) TwsActiveUsers: rolling 7-day activity coverage intervals —
    //    state = open coverage + recent day set per user.
    bench("TwsActiveUsers", "events", filesPerTrigger = 4) { ev =>
      TwsActiveUsers.coverage(ev, windowDays = 7L, settleSecs = 600L,
        delay = "10 minutes").toDF()
    }

    // 9) TwsDomainCap: per-source admission cap over the document
    //    stream — state = one counter per domain (domain-bounded).
    bench("TwsDomainCap", "documents", filesPerTrigger = 4) { docs =>
      TwsDomainCap.admit(docs, "source", "doc_id", maxDocs = 1000).toDF()
    }

    // 10) TwsMeanShift: per-user two-window mean-shift flags (B77
    //     semantics, ¢30 threshold) — state = last 16 amounts per user.
    bench("TwsMeanShift", "events", filesPerTrigger = 4) { ev =>
      TwsMeanShift.shifts(
        ev.withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long")),
        delay = "10 minutes").toDF()
    }

    // 11) DayGapMoments: per-(type, day) inter-arrival gap moments on a
    //     1-day tumble — state = the distinct seconds per open (type,
    //     day).
    bench("DayGapMoments", "events", filesPerTrigger = 4) { ev =>
      Windows.dayGapMoments(ev, delay = "10 minutes")
    }

    // 12) AnnProbe: stateless foreachBatch LSH probe of the vector
    //     stream against the pre-bucketed static store — the posture
    //     here is probe throughput + source-position recovery (there
    //     is no state operator; stateRows columns read -1 by design).
    if (selected("AnnProbe")) {
      val store = Similarity.withLshBucket(
          spark.read.parquet(s"$dataDir/embeddings.parquet"), "embedding",
          numPlanes = 8)
        .localCheckpoint()
      val probed = new java.util.concurrent.atomic.AtomicLong
      bench("AnnProbe", "embeddings", filesPerTrigger = 4,
          sink = Some { (batch: DataFrame, _: Long) =>
            probed.addAndGet(Similarity.lshTopKBucketed(store, batch,
              "vec_id", "embedding", k = 10, numPlanes = 8, multiprobe = 1)
              .count()): Unit
          }) { emb =>
        emb.select(col("vec_id"), col("embedding"))
      }
      log(s"# AnnProbe probePairs=${probed.get()}")
    }

    // 13) optional (arg flag "dedup100x"): TwsDedup at 10× its r15
    //     state size — the documents corpus unioned 10× with shifted
    //     doc ids — pricing how state footprint and recovery grow
    //     with the keyed-store population.
    if (args.contains("dedup100x")) {
      val big = work.resolve("documents100x.parquet")
      val base = spark.read.parquet(s"$dataDir/documents.parquet")
      (0 until 10).map(i => base
          .withColumn("doc_id", col("doc_id") + lit(i * 50000000L)))
        .reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(big.toString)
      // r17: the 100× row runs the COLLAPSED form — r16 priced the
      // plain form here (846 s ingest, 418.5M state rows, 11.7 GB
      // checkpoint, 125 s recovery; STREAMBENCH_r16) and named the
      // exact-content pre-collapse as THE design for mirror-heavy
      // corpora; this row is the proof leg on the identical
      // deterministic corpus (same base parquet, same shifts).
      bench("TwsDedupC100x", big.toString, filesPerTrigger = 8,
            settleMs = 3000L) { docs =>
        TwsDedup.candidatePairsCollapsed(
          graft.operators.Dedup.withMinHashSignatures(docs, "text", "doc_id"))
          .toDF()
      }
      // r18 (r17 verdict item 3): the PRODUCTION POSTURE — cap + TTL +
      // collapse together — on the same corpus. The 1 h horizon
      // outlives the run, so nothing expires mid-ingest and the row
      // prices the TTL's BOOKKEEPING (per-entry expiry timestamps in
      // every RocksDB value + the TTL sweep) rather than state loss;
      // the expiry SEMANTICS (expired content re-reps, pairs re-emit
      // in the new horizon, state bounded by rate × TTL) are pinned in
      // TwsSpecs with a crafted clock.
      bench("TwsDedupC100xTTL", big.toString, filesPerTrigger = 8,
            settleMs = 3000L, pollDrain = true) { docs =>
        TwsDedup.candidatePairsCollapsed(
          graft.operators.Dedup.withMinHashSignatures(docs, "text", "doc_id"),
          ttl = Some(java.time.Duration.ofHours(1))).toDF()
      }
    }

    // 14) the COMPOSED A9 curation ingest (r16 verdict item 4; r17
    //     verdict items 2+5) — the reference-shaped end-to-end
    //     pipeline as ONE running job: raw-JSON decode → quality gate
    //     → bloom decontamination → TWS near-dup (collapsed) →
    //     exact-verify PRUNED probe of the corpus signature store.
    //     Spec-verified for batch-parity since r8 (StreamingSpec
    //     "end-to-end streaming curation"). The JSON wire shape is
    //     manufactured from the documents corpus at stream time
    //     (to_json of the row) so the decode stage pays a real parse.
    //
    //     r18 changes, both from the r17 verdict:
    //     - the signature store is WRITTEN id-sorted to a parquet
    //       scratch dir (TwsDedup.writeSignatureStore) and re-read —
    //       replacing the eager localCheckpoint of a fact-scale frame
    //       (r17 ADVICE item 1: pinned non-recomputable blocks
    //       competing with RocksDB native memory inside the measured
    //       ingest), and giving the store the sorted layout the
    //       pruned probe needs;
    //     - the verify stage runs per micro-batch through foreachBatch
    //       (TwsDedup.verifiedPairsBatch): the store is probed with
    //       the batch's candidate ids pushed into the parquet scan,
    //       NOT re-scanned in full every batch;
    //     - PER-STAGE DECOMPOSITION rows (CurIngest*) price each
    //       stage's marginal cost on the same corpus — successive row
    //       differences are the honest per-stage bill.
    if (Seq("CurIngestDecode", "CurIngestQual", "CurIngestBloom",
        "CurIngestDedup", "CurationIngest", "CurWarm", "CurVer100x")
        .exists(selected)) {
      val bench8 = Seq((900000000L,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text")
      val bloom = graft.operators.Dedup.buildGramBloom(bench8, "text", "doc_id")
      val storeDir = work.resolve("curation-store.parquet").toString
      TwsDedup.writeSignatureStore(
        graft.operators.Dedup.withMinHashSignatures(
          spark.read.parquet(s"$dataDir/documents.parquet"),
          "text", "doc_id"),
        storeDir)
      val store = spark.read.parquet(storeDir)

      def decode(docs: DataFrame): DataFrame = {
        val raw = docs.select(to_json(struct(col("doc_id"), col("text")))
          .as("value"))
        raw.select(from_json(col("value"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, text STRING")).as("d"))
          .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      }
      def quality(d: DataFrame): DataFrame =
        graft.operators.TextAnalysis
          .withQualityFlag(d, "text", "doc_id", minWords = 8,
            maxWords = 100000, minWordLenBp = 0, maxWordLenBp = 1000000,
            minStopwordBp = 0, maxDupBp = 10000)
          .filter(col("keep")).select("doc_id", "text")
      def decontam(d: DataFrame): DataFrame =
        graft.operators.Dedup
          .contaminationFlagBloom(d, bloom, "text", "doc_id")
          .filter(!col("contaminated")).select("doc_id", "text")
      def dedupCands(d: DataFrame): DataFrame =
        TwsDedup.candidatePairsCollapsed(
          graft.operators.Dedup.withMinHashSignatures(d, "text", "doc_id"))
          .toDF()

      bench("CurIngestDecode", "documents", filesPerTrigger = 4)(decode)
      bench("CurIngestQual", "documents", filesPerTrigger = 4) { docs =>
        quality(decode(docs)) }
      bench("CurIngestBloom", "documents", filesPerTrigger = 4) { docs =>
        decontam(quality(decode(docs))) }
      val verified = new java.util.concurrent.atomic.AtomicLong
      def rowDedup(): Unit =
        bench("CurIngestDedup", "documents", filesPerTrigger = 4) { docs =>
          dedupCands(decontam(quality(decode(docs)))) }
      def rowFull(): Unit =
        bench("CurationIngest", "documents", filesPerTrigger = 4,
            sink = Some { (batch: DataFrame, _: Long) =>
              // the batch frame is consumed twice (id collection + join)
              // — persist so the upstream stateful op's output is not
              // recomputed inside its own micro-batch
              batch.persist()
              try verified.addAndGet(
                TwsDedup.verifiedPairsBatch(batch, store).count()): Unit
              finally { batch.unpersist(); () }
            }) { docs =>
          dedupCands(decontam(quality(decode(docs))))
        }
      // DISCARDED composed-chain warm-up before the timed pair (r18
      // verdict item 6): the r18 REVCUR probe proved the dedup-vs-full
      // inversion follows POSITION — the first composed row pays
      // one-time codegen/JIT + page-cache fill (~1.4-1.6×) — so one
      // throwaway pass of the FULL chain (including the pruned store
      // probe, so its plan is also compiled) makes the marginal table
      // clean instead of caveated. The REVCUR env probe is retired:
      // the question it existed to answer is answered.
      bench("CurWarm", "documents", filesPerTrigger = 4, warmup = true,
          sink = Some { (batch: DataFrame, _: Long) =>
            batch.persist()
            try TwsDedup.verifiedPairsBatch(batch, store).count(): Unit
            finally { batch.unpersist(); () }
          }) { docs =>
        dedupCands(decontam(quality(decode(docs))))
      }
      rowDedup(); rowFull()
      // only meaningful when the full row actually ran — a targeted
      // SB_ONLY run that skips CurationIngest must not print a
      // misleading verified_pairs=0 into its artifact
      if (selected("CurationIngest"))
        log(s"# CurationIngest verified_pairs=${verified.get()} " +
          s"(pruned per-batch store probe, store=$storeDir)")

      // 14b) (arg flag "verify100x") — r18 verdict item 2: the pruned
      //      verify's 100 TB claim was proven in PLAN SHAPE (pushed In,
      //      broadcast slice, PlanSpec) but at bench scale the store
      //      was the same 50k docs as the stream, so pruning had
      //      nothing to win. Here the STORE grows to 10× the streamed
      //      corpus (100× sf0.1 documents, id-sorted via
      //      writeSignatureStore) while the batch stream stays
      //      IDENTICAL to the CurationIngest row, and the same
      //      composed ingest runs twice: the pruned probe vs the
      //      unpruned fallback (maxProbeIds=0 forces the degraded
      //      full-scan branch). A task-metrics listener records bytes
      //      and records read over each arm — the between-arm delta IS
      //      the store IO the sorted layout + pushed-id pruning saves,
      //      since everything upstream of the probe is identical.
      if (args.contains("verify100x")) {
        val bigStoreDir = work.resolve("verify100x-store.parquet").toString
        val base10 = spark.read.parquet(s"$dataDir/documents.parquet")
        val grown = (0 until 10).map(i => base10
            .withColumn("doc_id", col("doc_id") + lit(i * 1000000000L)))
          .reduce(_ unionByName _)
        TwsDedup.writeSignatureStore(
          graft.operators.Dedup.withMinHashSignatures(grown, "text", "doc_id"),
          bigStoreDir, numFiles = 64)
        val bigStore = spark.read.parquet(bigStoreDir)
        val storeRows = bigStore.count()
        log(s"# verify100x store: $storeRows sigs at $bigStoreDir " +
          s"(streamed corpus ${base10.count()} docs)")

        val bytesRead = new java.util.concurrent.atomic.AtomicLong
        val recordsRead = new java.util.concurrent.atomic.AtomicLong
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) {
              bytesRead.addAndGet(m.inputMetrics.bytesRead)
              recordsRead.addAndGet(m.inputMetrics.recordsRead); ()
            }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val probeNs = new java.util.concurrent.atomic.AtomicLong
        val probeBatches = new java.util.concurrent.atomic.AtomicLong
        val probePairs = new java.util.concurrent.atomic.AtomicLong
        def armSink(maxIds: Int): Option[(DataFrame, Long) => Unit] =
          Some { (batch: DataFrame, _: Long) =>
            batch.persist()
            try {
              val t0 = System.nanoTime()
              probePairs.addAndGet(TwsDedup.verifiedPairsBatch(batch,
                bigStore, maxProbeIds = maxIds).count())
              probeNs.addAndGet(System.nanoTime() - t0)
              probeBatches.incrementAndGet(); ()
            } finally { batch.unpersist(); () }
          }
        def runArm(name: String, maxIds: Int): Unit = {
          bytesRead.set(0); recordsRead.set(0)
          probeNs.set(0); probeBatches.set(0); probePairs.set(0)
          bench(name, "documents", filesPerTrigger = 4,
            sink = armSink(maxIds))(docs =>
            dedupCands(decontam(quality(decode(docs)))))
          Thread.sleep(1500) // let straggler task-end events land
          log(f"# $name%-16s probeBatches=${probeBatches.get()}%3d " +
            f"probeWall=${probeNs.get() / 1e9}%7.2fs " +
            f"verifiedPairs=${probePairs.get()}%6d " +
            f"runReadMB=${bytesRead.get() / 1e6}%9.1f " +
            f"runRecordsRead=${recordsRead.get()}%12d")
        }
        runArm("CurVer100xPruned", 100000)
        runArm("CurVer100xFull", 0)

        // Plan/exec cost near maxProbeIds (r18 "What's wrong" 3: the
        // 100k cap was picked, not measured): D distinct literal ids
        // shipped into the plan as In/InSet + min-max range, timed
        // end-to-end against the unpruned fallback ON THE SAME PAIRS.
        // Two id layouts bound the pruning win: CONSECUTIVE (a recent
        // ingest neighborhood — files/row-groups outside one narrow
        // range all skip) and STRIDED (worst-case scatter across the
        // full id space — the min/max range fallback prunes nothing,
        // only row-group-level In matching helps).
        val sampleIds = bigStore.select(col("id")).orderBy(col("id"))
          .collect().map(_.getLong(0))
        def pairsOf(ids: Array[Long]): DataFrame =
          ids.grouped(2).collect { case Array(a, b) =>
            (math.min(a, b), math.max(a, b)) }.toSeq
            .toDF("doc_a", "doc_b")
        def timeProbe(pairsDf: DataFrame, maxIds: Int): Double = {
          val t0 = System.nanoTime()
          TwsDedup.verifiedPairsBatch(pairsDf, bigStore,
            maxProbeIds = maxIds).count()
          (System.nanoTime() - t0) / 1e9
        }
        for (d <- Seq(1000, 10000, 50000, 100000)) {
          val consec = sampleIds.take(d)
          val stride = math.max(1, sampleIds.length / d)
          val strided = (0 until d).map(j => sampleIds(
            math.min(j * stride, sampleIds.length - 1))).toArray
          for ((layout, ids) <- Seq("consec" -> consec, "strided" -> strided)) {
            val pdf = pairsOf(ids).persist()
            pdf.count()
            val pruned = Seq.fill(3)(timeProbe(pdf, 200000)).sorted.apply(1)
            val full = Seq.fill(3)(timeProbe(pdf, 0)).sorted.apply(1)
            pdf.unpersist()
            log(f"# verify100x probeCost D=$d%6d $layout%-7s " +
              f"pruned=${pruned}%6.2fs fullscan=${full}%6.2fs")
          }
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    // a typo'd SPARK_GRAFT_SB_ONLY prefix list must fail loudly, not
    // write an empty artifact that reads as "ran and measured nothing"
    if (sbOnly.isDefined && rowsRun == 0)
      log(s"# ERROR SPARK_GRAFT_SB_ONLY=${sbOnly.get.mkString(",")} " +
        "matched no rows")
    Files.writeString(Paths.get(outFile),
      (s"# STREAMBENCH — Tws* family on RocksDB state store, $dataDir" +:
        lines).mkString("", "\n", "\n"))
    spark.stop()
    require(sbOnly.isEmpty || rowsRun > 0,
      s"SPARK_GRAFT_SB_ONLY=${sbOnly.get.mkString(",")} matched no rows")
  }
}
