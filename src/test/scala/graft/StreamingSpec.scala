package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.{Change, Enriched}

/** A9 — Structured-Streaming twin of the reference pipeline:
  * keyed latest-value enrichment state + watermarked tumbling agg. */
class StreamingSpec extends SparkTestBase {

  private def t(min: Int): Long = 1704067200000L + min * 60000L // 2024-01-01 UTC

  test("enrichLatest: latest-wins, early rows buffered until enrichment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS())
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: stream row arrives BEFORE its enrichment → buffered
      input.addData(Change(1L, t(0), "order-a", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("enriched").count() == 0)
      // batch 2: enrichment lands → buffered row flushes with it;
      // a second enrichment updates latest; later stream row joins the newest
      input.addData(
        Change(1L, t(1), "dim-v1", isEnrichment = true),
        Change(1L, t(2), "dim-v2", isEnrichment = true))
      q.processAllAvailable()
      input.addData(Change(1L, t(3), "order-b", isEnrichment = false))
      q.processAllAvailable()
      val got = spark.table("enriched").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
      assert(got == Set(("order-a", "dim-v1"), ("order-b", "dim-v2")))
    } finally q.stop()
  }

  test("enrichLatest bounds per-key state: oldest buffered rows drop at the cap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS(), maxBuffered = 2)
      .writeStream.format("memory").queryName("bounded")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Change(1L, t(0), "o1", isEnrichment = false),
        Change(1L, t(1), "o2", isEnrichment = false),
        Change(1L, t(2), "o3", isEnrichment = false)) // o1 evicted
      q.processAllAvailable()
      input.addData(Change(1L, t(3), "dim", isEnrichment = true))
      q.processAllAvailable()
      val got = spark.table("bounded").as[Enriched].collect().map(_.payload).toSet
      assert(got == Set("o2", "o3"), s"got $got")
    } finally q.stop()
  }

  test("enrichLatest: a CDC delete tombstone clears the enrichment image") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS())
      .writeStream.format("memory").queryName("tombstoned")
      .outputMode(OutputMode.Append).start()
    try {
      // image lands → stream row joins it
      input.addData(
        Change(1L, t(0), "dim-v1", isEnrichment = true),
        Change(1L, t(1), "order-a", isEnrichment = false))
      q.processAllAvailable()
      // delete tombstone clears the image → next row BUFFERS (does not
      // join the dead image), mirroring Cdc.latestImage dropping the key
      input.addData(Change(1L, t(2), "dim-v1", isEnrichment = true, manip = "D"))
      q.processAllAvailable()
      input.addData(Change(1L, t(3), "order-b", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("tombstoned").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v1")))
      // a LATE image older than the delete must NOT resurrect the key
      input.addData(Change(1L, t(1), "dim-stale", isEnrichment = true))
      q.processAllAvailable()
      input.addData(Change(1L, t(3), "order-c", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("tombstoned").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v1")))
      // a fresh image newer than the delete re-enables enrichment and
      // flushes ALL buffered rows
      input.addData(Change(1L, t(4), "dim-v2", isEnrichment = true))
      q.processAllAvailable()
      assert(spark.table("tombstoned").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v1"), ("order-b", "dim-v2"), ("order-c", "dim-v2")))
    } finally q.stop()
  }

  test("delete+reinsert sharing an op timestamp resolves deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS())
      .writeStream.format("memory").queryName("tiebreak")
      .outputMode(OutputMode.Append).start()
    try {
      // ONE micro-batch: delete (seq=1) + reinsert (seq=2) at the SAME
      // sv_op_timestamp — a normal CDC transaction shape. The wire seq
      // must decide (reinsert wins), not shuffle arrival order.
      input.addData(
        Change(1L, t(0), "dim-v1", isEnrichment = true, seq = 1),
        Change(1L, t(2), "stale", isEnrichment = true, manip = "D", seq = 1),
        Change(1L, t(2), "dim-v2", isEnrichment = true, seq = 2))
      q.processAllAvailable()
      input.addData(Change(1L, t(3), "order-a", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("tiebreak").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v2")))
      // reversed seq: the delete is the transaction's LAST word → dead
      input.addData(
        Change(2L, t(2), "dim-v1", isEnrichment = true, seq = 1),
        Change(2L, t(2), "kill", isEnrichment = true, manip = "D", seq = 2))
      q.processAllAvailable()
      input.addData(Change(2L, t(3), "order-b", isEnrichment = false))
      q.processAllAvailable()
      // order-b buffered against the dead key, never emitted
      assert(spark.table("tiebreak").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v2")))
      // seq absent (both 0): deletes sort before images → image wins
      // the tie regardless of addData order
      input.addData(
        Change(3L, t(2), "dim-x", isEnrichment = true),
        Change(3L, t(2), "del-x", isEnrichment = true, manip = "D"))
      q.processAllAvailable()
      input.addData(Change(3L, t(3), "order-c", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("tiebreak").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v2"), ("order-c", "dim-x")))
      // an image tying the delete on (op_ts, seq) applies after it, and
      // the transaction's seq-2 image supersedes both
      input.addData(
        Change(4L, t(2), "dim-a", isEnrichment = true, seq = 1),
        Change(4L, t(2), "kill", isEnrichment = true, manip = "D", seq = 1),
        Change(4L, t(2), "dim-b", isEnrichment = true, seq = 2))
      q.processAllAvailable()
      input.addData(Change(4L, t(3), "order-d", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("tiebreak").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-v2"), ("order-c", "dim-x"), ("order-d", "dim-b")))
    } finally q.stop()
  }

  test("(op_ts, seq) order holds ACROSS micro-batches, matching the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS())
      .writeStream.format("memory").queryName("xbatch")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: the transaction's LAST record (t2, seq 2) arrives first
      input.addData(Change(1L, t(2), "dim-new", isEnrichment = true, seq = 2))
      q.processAllAvailable()
      // batch 2: the SAME-timestamp earlier record (t2, seq 1) — must
      // NOT replace the newer image, exactly as (op_ts, seq) sorting
      // in Cdc.latestImage would resolve it
      input.addData(Change(1L, t(2), "dim-old", isEnrichment = true, seq = 1))
      q.processAllAvailable()
      input.addData(Change(1L, t(3), "order-a", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("xbatch").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-new")))
      // key 2: delete is the transaction's last word (t2, seq 2); the
      // same-ts seq-1 image arriving a batch LATER must stay dead
      input.addData(Change(2L, t(2), "kill", isEnrichment = true, manip = "D", seq = 2))
      q.processAllAvailable()
      input.addData(Change(2L, t(2), "stale", isEnrichment = true, seq = 1))
      q.processAllAvailable()
      input.addData(Change(2L, t(3), "order-b", isEnrichment = false))
      q.processAllAvailable()
      assert(spark.table("xbatch").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
        == Set(("order-a", "dim-new")))
    } finally q.stop()
  }

  test("enrichLatest equals the batch EnrichmentJoin over the sf0.001 CDC changelogs") {
    // the independent reference: every customer image (inserts, updates,
    // delete tombstones) lands before the order rows, so the stream's
    // as-of join equals the batch latest-image join
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cust = sources.CdcEnvelope.customerChangelog(spark, sfDir)
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("enrichPayload"),
        col("op_ts"), col("seq"), col("manip"))
    val orders = sources.CdcEnvelope.ordersChangelog(spark, sfDir)
      .select(col("o_custkey").as("key"),
        unix_millis(col("op_ts").cast("timestamp")).as("eventTimeMs"),
        concat_ws(":", col("o_orderkey"), col("seq")).as("payload"),
        lit(false).as("isEnrichment"), col("manip"), col("seq"))
    val want = graft.operators.EnrichmentJoin.enrichLatest(orders, cust, "key")
      .select("payload", "enrichPayload").as[(String, String)].collect().sorted.toSeq
    val images = cust.select(col("key"),
        unix_millis(col("op_ts").cast("timestamp")).as("eventTimeMs"),
        col("enrichPayload").as("payload"), lit(true).as("isEnrichment"),
        col("manip"), col("seq"))
      .as[Change].collect().sortBy(c => (c.eventTimeMs, c.seq)).toSeq
    val rows = orders.as[Change].collect().toSeq
    assert(images.exists(_.manip == "D") && want.nonEmpty && want.size < rows.size)
    def split(cs: Seq[Change], n: Int) = cs.grouped((cs.size + n - 1) / n).toSeq
    // each side in one micro-batch; then images newest first over 3
    // batches (older images meet newer state, deletes before their
    // inserts) and the rows over 4
    val layouts = Seq(Seq(images, rows), split(images.reverse, 3) ++ split(rows, 4))
    for ((batches, i) <- layouts.zipWithIndex) {
      val input = MemoryStream[Change]
      val q = CdcPipeline.enrichLatest(input.toDS())
        .writeStream.format("memory").queryName(s"ref_layout$i")
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        val got = spark.table(s"ref_layout$i").as[Enriched].collect()
          .map(e => (e.payload, e.enrichPayload)).sorted.toSeq
        val (extra, missing) = (got.diff(want), want.diff(got))
        assert(extra.isEmpty && missing.isEmpty,
          s"layout $i: extra ${extra.take(5)}, missing ${missing.take(5)}")
      } finally q.stop()
    }
  }

  test("KafkaCdc: record projection + envelope decode round-trips the wire shape") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.streaming.KafkaCdc
    // a batch frame shaped exactly like the Kafka source output
    // (binary key/value + topic/partition/offset metadata)
    val env = sources.CdcEnvelope.envelope(
      sources.CdcEnvelope.ordersChangelog(spark, sfDir).limit(50),
      "SALES.ORDERS", "o_orderkey",
      Seq("SalesOrderId" -> col("o_orderkey"), "TotalDue" -> col("o_totalprice")))
    val kafkaShaped = sources.CdcEnvelope.toEnvelopeJson(env)
      .select(lit(null).cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        lit("precisely_orders").as("topic"),
        lit(0).as("partition"),
        monotonically_increasing_id().as("offset"),
        current_timestamp().as("timestamp"))
    val afterImage = StructType(Seq(
      StructField("SalesOrderId", LongType), StructField("TotalDue", DoubleType)))
    val decoded = graft.streaming.CdcPipeline.decodeEnvelope(
      KafkaCdc.recordValues(kafkaShaped), afterImage)
    assert(decoded.count() == 50)
    assert(decoded.filter(col("after_image.SalesOrderId").isNull).count() == 0)
    assert(decoded.select("manip").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("I", "U", "D")))
    // sink side: rows → (key, value-json) records
    val recs = KafkaCdc.toRecords(
      decoded.select(col("after_image.SalesOrderId").as("k"), col("manip")), "k")
    assert(recs.columns.toSeq == Seq("key", "value"))
    val r0 = recs.limit(1).collect().head
    assert(r0.getString(1).contains("\"manip\""))
  }

  test("KafkaCdc: without the connector jar, the path fails at format " +
      "resolution, not in graft glue") {
    import org.apache.spark.sql.types._
    // the sandbox ships no spark-sql-kafka jar: every graft-side step
    // (option blocks, projections, decode wiring) must construct fine,
    // with the ONLY failure being Spark's data-source lookup for
    // "kafka" — i.e. the untested surface is exactly the connector,
    // nothing of ours. With the jar on the classpath this builder
    // would return a streaming frame (covered by the round-trip test
    // above via a kafka-shaped batch frame).
    val afterImage = StructType(Seq(StructField("SalesOrderId", LongType)))
    val e = intercept[Exception] {
      graft.streaming.KafkaCdc.readEnvelopes(spark,
        graft.streaming.KafkaCdc.Conf("localhost:9092"),
        "precisely_orders", afterImage)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.toLowerCase.contains("kafka") &&
        (m.contains("Failed to find") || m.contains("DATA_SOURCE_NOT_FOUND"))),
      s"expected connector-resolution failure, got: $e")
  }

  test("decode dead-letter: malformed envelopes route to the DLQ with raw payload") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val afterImage = StructType(Seq(StructField("SalesOrderId", LongType)))
    val env = sources.CdcEnvelope.envelope(
      sources.CdcEnvelope.ordersChangelog(spark, sfDir).limit(10),
      "SALES.ORDERS", "o_orderkey", Seq("SalesOrderId" -> col("o_orderkey")))
    val goodJson = sources.CdcEnvelope.toEnvelopeJson(env)
    val raw = goodJson.unionByName(Seq(
      "{ not json at all",
      """{"valid_json": "but not an envelope"}""").toDF("value"))
    val (good, bad) = graft.streaming.CdcPipeline
      .decodeEnvelopeWithDeadLetter(raw, afterImage)
    assert(good.count() == 10)
    assert(good.filter(col("after_image.SalesOrderId").isNull).count() == 0)
    val deadLetters = bad.as[String].collect().toSet
    assert(deadLetters == Set("{ not json at all",
      """{"valid_json": "but not an envelope"}"""))
  }

  test("dedupWithinWatermark: redelivered ids dropped, state bounded by the horizon") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (event_id, eventTimeMs)
    val deduped = graft.streaming.CdcPipeline.dedupWithinWatermark(
      input.toDS().toDF("event_id", "ms")
        .withColumn("event_time", timestamp_millis(col("ms"))),
      Seq("event_id"), "event_time", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, t(0)), (2L, t(1)), (1L, t(0))) // in-batch redelivery
      q.processAllAvailable()
      input.addData((1L, t(2)), (3L, t(3)))             // cross-batch redelivery
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("soak: sustained rate-source stateful aggregation stays healthy") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "5000").load()
      .withWatermark("timestamp", "2 seconds")
      .groupBy(window(col("timestamp"), "1 second"), pmod(col("value"), lit(100)).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .writeStream.format("memory").queryName("soak")
      .outputMode("append").trigger(Trigger.ProcessingTime(250)).start()
    try {
      val deadline = System.currentTimeMillis() + 12000
      while (System.currentTimeMillis() < deadline) Thread.sleep(500)
      q.processAllAvailable()
      val progress = q.recentProgress
      assert(progress.nonEmpty)
      val processed = progress.map(_.numInputRows).sum
      assert(processed > 10000, s"only $processed rows in soak")
      // watermark advanced → closed windows emitted, state not unbounded
      val lastState = progress.last.stateOperators.head
      assert(lastState.numRowsTotal < 10000,
        s"state grew to ${lastState.numRowsTotal}")
      assert(spark.table("soak").count() > 0)
    } finally q.stop()
  }

  test("file-source CDC JSON end-to-end: decode → enrich → window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    // write a batch of envelope JSON files (the Kafka-topic stand-in)
    withTempDir { dir =>
      val chg = sources.CdcEnvelope.ordersChangelog(spark, sfDir).limit(200)
      val env = sources.CdcEnvelope.envelope(chg, "SALES.ORDERS", "o_orderkey", Seq(
        "SalesOrderId" -> col("o_orderkey"),
        "TotalDue" -> col("o_totalprice")))
      sources.CdcEnvelope.toEnvelopeJson(env).coalesce(1)
        .write.mode("overwrite").text(s"$dir/in")
      val afterImage = StructType(Seq(
        StructField("SalesOrderId", LongType), StructField("TotalDue", DoubleType)))
      val raw = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
        .text(s"$dir/in")
      val decoded = CdcPipeline.decodeEnvelope(raw, afterImage)
        .select(col("after_image.SalesOrderId").as("key"),
          unix_millis(col("op_ts")).as("eventTimeMs"),
          col("after_image.TotalDue").cast("string").as("payload"),
          (col("manip") === "X").as("isEnrichment"), // all stream-side here
          col("manip"), coalesce(col("seq"), lit(0)).as("seq"))
        .as[Change]
      val q = CdcPipeline.windowedTotals(
          decoded.map(c => Enriched(c.key, c.eventTimeMs, c.payload, "ALL")),
          watermarkDelay = "10 minutes", width = "1 day")
        .writeStream.format("memory").queryName("cdc_e2e")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        // append-mode windows only emit once the watermark passes them;
        // with a finite file batch the open tail windows stay pending —
        // assert the closed ones carry the decoded rows
        val emitted = spark.table("cdc_e2e").agg(sum("n_rows")).collect()(0).getLong(0)
        assert(emitted > 0 && emitted <= 200)
      } finally q.stop()
    }
  }

  test("two-level enrichment chain like the reference topology") {
    // ref StreamingJob.java:112-113 — address⋈state, then
    // orders⋈(address+state): the first stage's output feeds the
    // second stage as its enrichment stream, two stateful operators
    // in one continuous query
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = MemoryStream[Change]   // states (enrichment) + addresses
    val orders = MemoryStream[Change] // orders keyed by address id
    // stage 1: addresses enriched by states; its output re-flagged as
    // the enrichment stream for stage 2, unioned with the order stream
    val stage1 = CdcPipeline.enrichLatest(dims.toDS())
    val stage2Input = stage1.map(e =>
        Change(e.key, e.eventTimeMs, s"${e.payload}|${e.enrichPayload}",
          isEnrichment = true))
      .union(orders.toDS())
    val q = CdcPipeline.enrichLatest(stage2Input).writeStream
      .format("memory").queryName("chained").outputMode(OutputMode.Append).start()
    try {
      // state arrives, then address (stage-1 pair), then the order
      dims.addData(
        Change(100L, t(0), "state:CA", isEnrichment = true),
        Change(100L, t(1), "addr:market-st", isEnrichment = false))
      q.processAllAvailable()
      orders.addData(Change(100L, t(2), "order:42", isEnrichment = false))
      q.processAllAvailable()
      val got = spark.table("chained").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
      assert(got == Set(("order:42", "addr:market-st|state:CA")), got.toString)
    } finally q.stop()
  }

  test("three-stream reference topology end-to-end: decode → enrich² → window → sink") {
    // The full reference wiring (StreamingJob.java:93-135): three
    // concurrent CDC streams with DISTINCT after_image schemas —
    // states, addresses, orders — through envelope decode, the
    // two-level enrichment chain (address⋈state, then orders⋈that),
    // the 10-minute watermark and tumbling window, into one sink;
    // including a mid-stream address tombstone and a late-drop.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def wire(min: Int) = f"20240101${min / 60}%02d${min % 60}%02d00"
    def env(manip: String, seq: Int, min: Int, after: String): String =
      s"""{"sv_manip_type":"$manip","sv_trans_id":1,"sv_trans_row_seq":$seq,""" +
        s""""sv_op_timestamp":"${wire(min)}","after_image":$after}"""
    val stateSchema = StructType(Seq(
      StructField("StateId", LongType), StructField("StateName", StringType)))
    val addrSchema = StructType(Seq(
      StructField("AddressId", LongType), StructField("StateId", LongType),
      StructField("Street", StringType)))
    val orderSchema = StructType(Seq(
      StructField("SalesOrderId", LongType), StructField("AddressId", LongType),
      StructField("TotalDue", DoubleType)))
    val states = MemoryStream[String]
    val addresses = MemoryStream[String]
    val orders = MemoryStream[String]
    val ems = unix_millis(col("op_ts")).as("eventTimeMs")
    val sq = coalesce(col("seq"), lit(0)).as("seq")
    val stateChanges = CdcPipeline.decodeEnvelope(states.toDF(), stateSchema)
      .select(col("after_image.StateId").as("key"), ems,
        col("after_image.StateName").as("payload"),
        lit(true).as("isEnrichment"), col("manip"), sq).as[Change]
    val addrDecoded = CdcPipeline.decodeEnvelope(addresses.toDF(), addrSchema)
    // address images join states on StateId (stage-1 stream side);
    // address DELETES skip stage 1 (no image to enrich) and tombstone
    // the address dimension in stage 2 directly
    val addrImages = addrDecoded.filter(col("manip") =!= "D")
      .select(col("after_image.StateId").as("key"), ems,
        concat(col("after_image.AddressId"), lit("|"),
          col("after_image.Street")).as("payload"),
        lit(false).as("isEnrichment"), col("manip"), sq).as[Change]
    val addrDeletes = addrDecoded.filter(col("manip") === "D")
      .select(col("after_image.AddressId").as("key"), ems,
        lit("").as("payload"), lit(true).as("isEnrichment"), col("manip"), sq)
      .as[Change]
    val orderChanges = CdcPipeline.decodeEnvelope(orders.toDF(), orderSchema)
      .select(col("after_image.AddressId").as("key"), ems,
        concat(lit("order-"), col("after_image.SalesOrderId")).as("payload"),
        lit(false).as("isEnrichment"), col("manip"), sq).as[Change]
    // stage 1: address ⋈ latest state; re-keyed by AddressId it IS the
    // enrichment stream of stage 2 (ref chains the two joins the same way)
    val stage1 = CdcPipeline.enrichLatest(stateChanges.union(addrImages))
    val stage2Enrich = stage1.map { e =>
      val Array(addrId, street) = e.payload.split("\\|", 2)
      Change(addrId.toLong, e.eventTimeMs, s"$street|${e.enrichPayload}",
        isEnrichment = true)
    }
    val enriched = CdcPipeline.enrichLatest(
      stage2Enrich.union(addrDeletes).union(orderChanges))
    val q = CdcPipeline.windowedTotals(enriched,
        watermarkDelay = "10 minutes", width = "10 minutes")
      .writeStream.format("memory").queryName("ref_topology")
      .outputMode(OutputMode.Append).start()
    try {
      states.addData(env("I", 1, 0, """{"StateId":1,"StateName":"CA"}"""))
      addresses.addData(
        env("I", 2, 1, """{"AddressId":7,"StateId":1,"Street":"market-st"}"""),
        env("I", 3, 1, """{"AddressId":8,"StateId":1,"Street":"oak-ave"}"""))
      q.processAllAvailable()
      orders.addData(
        env("I", 1, 2, """{"SalesOrderId":42,"AddressId":7,"TotalDue":10.5}"""),
        env("I", 2, 3, """{"SalesOrderId":43,"AddressId":8,"TotalDue":20.0}"""))
      q.processAllAvailable()
      // tombstone address 7 mid-stream → later orders for it buffer
      addresses.addData(env("D", 1, 6,
        """{"AddressId":7,"StateId":1,"Street":"market-st"}"""))
      q.processAllAvailable()
      orders.addData(env("I", 1, 7,
        """{"SalesOrderId":45,"AddressId":7,"TotalDue":5.0}"""))
      q.processAllAvailable()
      // advance the watermark past the [0,10) window via a live key
      orders.addData(env("I", 1, 45,
        """{"SalesOrderId":44,"AddressId":8,"TotalDue":7.0}"""))
      q.processAllAvailable()
      // late-drop: 40 minutes behind the watermark → engine drops it
      orders.addData(env("I", 1, 5,
        """{"SalesOrderId":46,"AddressId":8,"TotalDue":9.9}"""))
      q.processAllAvailable()
      orders.addData(env("I", 1, 50,
        """{"SalesOrderId":47,"AddressId":8,"TotalDue":1.0}"""))
      q.processAllAvailable()
      val got = spark.table("ref_topology").collect()
        .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2)))
        .toSet
      // exactly the two on-time orders in the closed [00:00,00:10)
      // window, fully enriched street|state; order 45 (tombstoned
      // address) and order 46 (late) never surface
      assert(got == Set(
        ("2024-01-01T00:00:00Z", "market-st|CA", 1L),
        ("2024-01-01T00:00:00Z", "oak-ave|CA", 1L)), got.toString)
    } finally q.stop()
  }

  test("streaming session windows merge and close under the watermark") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, ms)
    val q = input.toDS().toDF("user", "ms")
      .withColumn("event_time", timestamp_millis(col("ms")))
      .withWatermark("event_time", "5 minutes")
      .groupBy(session_window(col("event_time"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("user"), col("n"))
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // two bursts 3 min apart merge into one session; a distant event
      // advances the watermark and closes it
      input.addData((1L, t(0)), (1L, t(3)))
      q.processAllAvailable()
      input.addData((1L, t(60)))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getLong(2), r.getTimestamp(0).toInstant.toEpochMilli,
          r.getTimestamp(1).toInstant.toEpochMilli, r.getLong(3)))
      // the merged session: [t0, t3+10min), 2 events
      assert(rows.contains((1L, t(0), t(13), 2L)), rows.mkString(","))
    } finally q.stop()
  }

  test("native stream-stream interval join with watermarks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)] // (user, clickMs)
    val buys = MemoryStream[(Long, Long)]   // (user, buyMs)
    val c = clicks.toDS().toDF("c_user", "c_ms")
      .withColumn("c_time", timestamp_millis(col("c_ms")))
      .withWatermark("c_time", "1 minute")
    val b = buys.toDS().toDF("b_user", "b_ms")
      .withColumn("b_time", timestamp_millis(col("b_ms")))
      .withWatermark("b_time", "1 minute")
    // buys within 10 minutes AFTER a click — the engine bounds state
    // retention from the interval + watermark, no custom state code
    val q = c.join(b,
        col("c_user") === col("b_user") &&
        col("b_time") >= col("c_time") &&
        col("b_time") <= col("c_time") + expr("INTERVAL 10 MINUTES"))
      .select(col("c_user").as("user"), col("c_ms"), col("b_ms"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((1L, t(0)), (2L, t(0)))
      buys.addData((1L, t(5)), (2L, t(20)), (1L, t(8)))
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      // user 1: both buys inside the window; user 2's buy is 20min late
      assert(got == Set((1L, t(5)), (1L, t(8))))
    } finally q.stop()
  }

  test("enrichLatest runs on the RocksDB state store (large-state path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // at 100 TB keyed state outgrows the JVM heap — RocksDB keeps it
    // off-heap/on-disk; same query code, one provider switch
    withRocksDb { _ =>
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS())
      .writeStream.format("memory").queryName("rocksdb_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Change(9L, t(0), "dim", isEnrichment = true))
      q.processAllAvailable()
      input.addData(Change(9L, t(1), "row1", isEnrichment = false),
        Change(9L, t(2), "row2", isEnrichment = false))
      q.processAllAvailable()
      val got = spark.table("rocksdb_out").as[Enriched].collect().map(_.payload).toSet
      assert(got == Set("row1", "row2"))
    } finally q.stop()
    }
  }

  test("checkpoint recovery: state survives a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(base: String): Unit = {
      val input = MemoryStream[Change]
      // the memory sink can't recover from a checkpoint — a file sink can
      def start() = CdcPipeline.enrichLatest(input.toDS()).toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode(OutputMode.Append).start()
      var q = start()
      try {
        // key 1's image and key 2's early (buffered) row land before
        // shutdown — only state, no output yet
        input.addData(
          Change(1L, t(0), "dim-v1", isEnrichment = true),
          Change(2L, t(1), "order-early", isEnrichment = false))
        q.processAllAvailable()
        q.stop()
        q = start() // restart from checkpoint
        // after recovery: key 1's RESTORED image joins; key 2's RESTORED
        // buffer flushes when its enrichment finally lands
        input.addData(
          Change(1L, t(5), "order-a", isEnrichment = false),
          Change(2L, t(6), "dim-v2", isEnrichment = true))
        q.processAllAvailable()
        val got = spark.read.parquet(s"$base/out").as[Enriched].collect()
          .map(e => (e.payload, e.enrichPayload)).toSet
        assert(got == Set(("order-a", "dim-v1"), ("order-early", "dim-v2")),
          got.toString)
      } finally q.stop()
    }
    withTempDir(run) // the default (HDFS-backed) state store
    withRocksDb(run)
  }

  test("foreachBatch sink: per-batch latest-image upsert to parquet") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir { dir =>
      val input = MemoryStream[Change]
      // the Kafka-sink stand-in: each micro-batch folds into a keyed
      // parquet materialization via latest-image semantics
      val q = input.toDS().toDF()
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val prev = try spark.read.parquet(s"$dir/state")
            catch { case _: Throwable => spark.emptyDataFrame }
          // the upsert assigns its own manip/seq below; drop the wire
          // columns so the schema matches the persisted state
          val b = batch.drop("manip", "seq")
          val merged =
            if (prev.isEmpty) b
            else prev.unionByName(b)
          operators.Cdc.latestImage(
              merged.withColumn("op_ts", timestamp_millis(col("eventTimeMs")))
                .withColumn("seq", lit(0)).withColumn("manip", lit("U")),
              "key")
            .drop("op_ts", "seq", "manip")
            .write.mode("overwrite").parquet(s"$dir/next")
          // atomic-ish swap for the test; a real deployment writes Delta/Iceberg
          val fs = new java.io.File(s"$dir/state")
          if (fs.exists()) { scala.reflect.io.Directory(fs).deleteRecursively() }
          new java.io.File(s"$dir/next").renameTo(fs)
          ()
        }.start()
      try {
        input.addData(Change(1L, t(0), "v1", false), Change(2L, t(0), "w1", false))
        q.processAllAvailable()
        input.addData(Change(1L, t(5), "v2", false))
        q.processAllAvailable()
        val state = spark.read.parquet(s"$dir/state")
          .select("key", "payload").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(state == Map(1L -> "v2", 2L -> "w1"))
      } finally q.stop()
    }
  }

  test("pipeline operators compose onto streams: quality filter on a doc stream") {
    // the C-operators are plain projections/aggregations, so the SAME
    // library calls run on a readStream frame — here the scan-speed
    // qualityFilter curates documents as they arrive
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.qualityFilter(
        input.toDS().toDF("doc_id", "text"), "text", "doc_id")
      .writeStream.format("memory").queryName("stream_quality")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, "too short"),
        (2L, "the quick brown fox jumps over a lazy dog while many other " +
          "animals watch the scene unfold quietly near a stream today ok"))
      q.processAllAvailable()
      val got = spark.table("stream_quality").collect()
        .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
      assert(got == Map(1L -> false, 2L -> true))
    } finally q.stop()
  }

  test("TWS domain cap: first maxDocs per domain admit; micro-batch split is invariant") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { dir =>
    // 5 docs on a hot domain, 2 on a quiet one, ordered feed sliced
    // mid-domain by the micro-batch boundary
    val docs = Seq(("a.com", 1L), ("a.com", 2L), ("b.com", 3L),
      ("a.com", 4L), ("a.com", 5L), ("b.com", 6L), ("a.com", 7L))
    def run(split: Int, name: String): Map[(String, Long), Long] = {
      val input = MemoryStream[(String, Long)]
      val ckpt = s"$dir/$name"
      val q = graft.streaming.TwsDomainCap.admit(
          input.toDF().toDF("domain", "doc_id"), "domain", "doc_id", maxDocs = 3)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(docs.take(split): _*)
        q.processAllAvailable()
        input.addData(docs.drop(split): _*)
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      } finally q.stop()
    }
    val got = run(4, "domcap_a")
    // a.com admits its first three ids by arrival (1,2,4 — id 5
    // arrives in batch two after the cap), b.com is under cap
    assert(got == Map(("a.com", 1L) -> 1L, ("a.com", 2L) -> 2L,
      ("a.com", 4L) -> 3L, ("b.com", 3L) -> 1L, ("b.com", 6L) -> 2L), got.toString)
    // the ordered feed sliced elsewhere admits the same set
    assert(run(2, "domcap_b") == got)
    }
  }

  test("windowedTotals drops data later than the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Enriched]
    val q = CdcPipeline.windowedTotals(input.toDS(),
        watermarkDelay = "10 minutes", width = "10 minutes")
      .writeStream.format("memory").queryName("totals")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Enriched(1L, t(5), "o1", "DE"),
        Enriched(2L, t(7), "o2", "DE"))
      q.processAllAvailable()
      // advance event time far enough that the [0,10) window closes
      input.addData(Enriched(3L, t(25), "o3", "DE"))
      q.processAllAvailable()
      // this row is 20+ minutes behind the watermark → dropped
      input.addData(Enriched(4L, t(6), "late", "DE"))
      q.processAllAvailable()
      input.addData(Enriched(5L, t(45), "o5", "DE"))
      q.processAllAvailable()
      val rows = spark.table("totals").collect()
        .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(2))).toMap
      // the first window emitted exactly the two on-time rows; the
      // late row never inflated a result
      assert(rows("2024-01-01T00:00:00Z") == 2L)
    } finally q.stop()
  }

  test("stream-static join: streaming facts enrich against a static dim table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the OTHER enrichment shape: dimension is a static lake table
    // (broadcast per micro-batch), not a second stream — no state at
    // all, the right tool when the dim is slow-changing
    val nation = sources.Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("key"), col("n_name"))
    val input = MemoryStream[(Long, Double)] // (nationkey, amount)
    val q = input.toDF().toDF("key", "amount")
      .join(nation, "key")
      .writeStream.format("memory").queryName("stream_static")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((0L, 10.0), (1L, 20.0), (999L, 5.0)) // 999 has no dim row
      q.processAllAvailable()
      val got = spark.table("stream_static")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got.keySet == Set(0L, 1L)) // inner join drops the miss
      assert(got.values.forall(_.nonEmpty))
    } finally q.stop()
  }

  test("observed metrics ride the streaming progress events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = CdcPipeline.observed(CdcPipeline.enrichLatest(input.toDS()))
      .writeStream.format("memory").queryName("observed_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Change(1L, t(0), "dim-v1", isEnrichment = true),
        Change(1L, t(1), "order-a", isEnrichment = false),
        Change(2L, t(2), "dim-x", isEnrichment = true))
      q.processAllAvailable()
      input.addData(
        Change(1L, t(3), "order-b", isEnrichment = false),
        Change(2L, t(4), "order-c", isEnrichment = false))
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("cdc_enriched")))
      // engine-computed per-batch metrics must reconcile with the sink
      assert(metrics.map(_.getAs[Long]("n_rows")).sum ==
        spark.table("observed_out").count())
      assert(metrics.map(_.getAs[Long]("max_event_ms")).max == t(4))
    } finally q.stop()
  }

  test("TWS native TTL: an expired enrichment image no longer joins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val input = MemoryStream[Change]
    // a lifetime switches on the processing-time timeout, which
    // schedules continuous batches — poll the sink instead of
    // processAllAvailable
    val q = CdcPipeline.enrichLatest(input.toDS(),
        ttl = Some(java.time.Duration.ofSeconds(5)))
      .writeStream.format("memory").queryName("tws_ttl")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // enrichment lands, then a stream row WITHIN the TTL → joins
      input.addData(Change(1L, t(0), "dim-v1", isEnrichment = true))
      input.addData(Change(1L, t(1), "order-a", isEnrichment = false))
      assert(waitUntil(spark.table("tws_ttl").count() == 1),
        "in-TTL row failed to join")
      // let the image EXPIRE (an expired image reads as absent, and a
      // key with nothing left is removed), then a stream row → buffers
      // instead of joining the dead image
      Thread.sleep(7000)
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 0,
        "expired key still held in state")
      input.addData(Change(1L, t(2), "order-b", isEnrichment = false))
      Thread.sleep(3000) // several batches; output must NOT grow
      assert(spark.table("tws_ttl").count() == 1,
        "expired enrichment image still joined")
      // a fresh image revives the key and flushes the buffered row
      input.addData(Change(1L, t(3), "dim-v2", isEnrichment = true))
      assert(waitUntil(spark.table("tws_ttl").count() == 2),
        "buffered row not flushed by the fresh image")
      val got = spark.table("tws_ttl").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
      assert(got == Set(("order-a", "dim-v1"), ("order-b", "dim-v2")))
    } finally q.stop()
    }
  }

  test("TwsDedup: at-least-once redelivery is a no-op (in-batch and cross-batch)") {
    // CDC transports are at-least-once; a redelivered document must
    // not re-emit its candidate pairs. In-batch redelivery is dropped
    // by the processor's seen-set; cross-batch redelivery by the
    // stored bucket membership; and the capped-bucket corner (the doc
    // never joined members, so the processor DOES re-pair it against
    // the bucket head) is absorbed by the downstream
    // dropDuplicates — the user-visible output is invariant in all
    // three shapes.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy cat again and again today",
      3L -> "completely different text about parquet files and column pruning at scale")
    val input = MemoryStream[(Long, String)]
    val streamSigs = graft.operators.Dedup
      .withMinHashSignatures(input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    // maxBucket = 1 exercises the capped corner: doc 2 never joins the
    // (band, bh) members it shares with doc 1, so its redelivery
    // re-pairs against the head and MUST be collapsed downstream
    val result = graft.streaming.TwsDedup
      .candidatePairs(streamSigs, maxBucket = 1)
    val q = result.writeStream.format("memory").queryName("tws_redeliver")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // in-batch redelivery of doc 1 rides the first micro-batch
      input.addData(docs :+ docs.head: _*)
      q.processAllAvailable()
      val afterFirst = spark.table("tws_redeliver").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterFirst == Set((1L, 2L)), s"first batch pairs $afterFirst")
      // cross-batch redelivery of both members of the emitted pair
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      val got = spark.table("tws_redeliver").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == 1 && got.head == ((1L, 2L)),
        s"redelivery changed output: $got")
    } finally q.stop()
    }
  }

  test("TWS streaming near-dup dedup matches the batch MinHash-LSH result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    // planted near-dups: (1,2) inside batch one, (2,6) across the
    // micro-batch boundary, (3,7) across it too; 4,5,8 are singletons
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy cat again and again today",
      3L -> "structured streaming keeps state in rocksdb across micro batches forever",
      4L -> "completely different text about parquet files and column pruning at scale",
      5L -> "yet another unrelated document discussing broadcast joins and shuffles",
      6L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      7L -> "structured streaming keeps state in rocksdb across micro batches mostly",
      8L -> "final unique entry mentioning watermarks and windowed aggregations only")
    val docsDf = docs.toDF("doc_id", "text")
    // batch oracle over the full set
    val batchSigs = graft.operators.Dedup
      .withMinHashSignatures(docsDf, "text", "doc_id")
    val want = graft.operators.Dedup.minhashLshFromSignatures(batchSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.exists(p => p._1 == 1L && p._2 == 2L), "planted dup (1,2) missing")
    assert(want.exists(p => p._1 == 2L && p._2 == 6L) ||
      want.exists(p => p._1 == 1L && p._2 == 6L), "cross-batch dup missing")
    // streaming twin: same signatures as a projection on the stream,
    // per-bucket TWS membership, exact verify vs the signature store
    val input = MemoryStream[(Long, String)]
    val streamSigs = graft.operators.Dedup
      .withMinHashSignatures(input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val result = graft.streaming.TwsDedup.verifiedPairs(
      graft.streaming.TwsDedup.candidatePairs(streamSigs),
      batchSigs.select("id", "hs"))
    val q = result.writeStream.format("memory").queryName("tws_dedup")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs.take(4): _*)
      q.processAllAvailable()
      val afterFirst = spark.table("tws_dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterFirst.contains(want.find(p => p._1 == 1L && p._2 == 2L).get),
        "in-batch dup not found after first micro-batch")
      input.addData(docs.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("tws_dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"streaming $got != batch $want")
    } finally q.stop()
    }
  }

  test("TwsDedup pre-collapse: collapsed candidate pairs equal the plain " +
       "form modulo representative identity on a mirror-heavy corpus " +
       "across micro-batch boundaries") {
    // The r16 100× pricing showed plain bucket membership is
    // width-quadratic on mirrors (every copy enters every bucket list
    // and pairs with every member). candidatePairsCollapsed keeps one
    // representative per distinct content per bucket; the contract is
    // output equality MODULO representative identity: map each doc to
    // its content's first-writer rep, drop same-content pairs, and the
    // two pair sets must coincide — with in-batch mirrors, cross-batch
    // mirrors, a mirror of a near-dup, and a cross-batch redelivery
    // all in play.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { dir =>
    val tDog = "the quick brown fox jumps over the lazy dog again and again today"
    val tCat = "the quick brown fox jumps over the lazy cat again and again today"
    val tRox = "structured streaming keeps state in rocksdb across micro batches forever"
    val tNight = "the quick brown fox jumps over the lazy dog again and again tonight"
    val tUniq = "final unique entry mentioning watermarks and windowed aggregations only"
    val batch1 = Seq(1L -> tDog, 2L -> tCat, 3L -> tRox, 4L -> tDog) // 4 mirrors 1 in-batch
    val batch2 = Seq(5L -> tCat,   // cross-batch mirror of 2
                     6L -> tNight, // near-dup of content(1)
                     7L -> tRox,   // cross-batch mirror of 3
                     8L -> tUniq,
                     1L -> tDog)   // cross-batch redelivery of a rep
    // first-writer representative of each doc's content
    val repOf = Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L,
                    5L -> 2L, 6L -> 6L, 7L -> 3L, 8L -> 8L)

    def run(collapsed: Boolean, tag: String): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      val sigs = graft.operators.Dedup.withMinHashSignatures(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id")
      val result =
        if (collapsed) graft.streaming.TwsDedup.candidatePairsCollapsed(sigs)
        else graft.streaming.TwsDedup.candidatePairs(sigs)
      val ckpt = s"$dir/$tag"
      val q = result.toDF().writeStream.format("memory").queryName(s"twsc_$tag")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        input.addData(batch2: _*)
        q.processAllAvailable()
        spark.table(s"twsc_$tag").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    val plain = run(collapsed = false, "plain")
    val coll = run(collapsed = true, "coll")
    // the plain set must actually exercise mirrors (same-content pairs)
    assert(plain.contains((1L, 4L)), s"mirror pair missing from plain: $plain")
    val plainModuloReps = plain
      .map { case (a, b) => (repOf(a), repOf(b)) }
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(coll == plainModuloReps,
      s"collapsed $coll != plain-modulo-reps $plainModuloReps")
    // collapsed output touches representatives only — a mirror id
    // (4, 5, 7) must never appear
    val mirrorTouched = coll.flatMap(p => Seq(p._1, p._2))
      .intersect(Set(4L, 5L, 7L))
    assert(mirrorTouched.isEmpty, s"mirror ids in collapsed: $mirrorTouched")
    // and the near-dup content pairs themselves are present
    assert(coll.contains((1L, 2L)) && coll.contains((1L, 6L)),
      s"expected rep-level near-dup pairs in $coll")
    }
  }

  test("TwsDedup.contentReps: first-writer-wins representatives survive " +
       "micro-batch boundaries, later smaller ids, and redelivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val y = "completely different text about parquet files and column pruning at scale"
    val input = MemoryStream[(Long, String)]
    val sigs = graft.operators.Dedup.withMinHashSignatures(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val result = graft.streaming.TwsDedup.contentReps(sigs)
    val q = result.toDF().writeStream.format("memory").queryName("tws_reps")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: rep of content X is the min in-batch id (5, not 9)
      input.addData(5L -> x, 9L -> x, 3L -> y)
      q.processAllAvailable()
      val afterFirst = spark.table("tws_reps").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterFirst == Set((5L, 5L), (9L, 5L), (3L, 3L)),
        s"first batch reps $afterFirst")
      // batch 2: a LATER, SMALLER id does not steal the rep (1 -> 5);
      // a new content member maps to its batch-1 rep; redelivery of
      // the rep re-emits the same assignment (downstream-idempotent)
      input.addData(1L -> x, 7L -> y, 5L -> x)
      q.processAllAvailable()
      val got = spark.table("tws_reps").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((5L, 5L), (9L, 5L), (3L, 3L), (1L, 5L), (7L, 3L)),
        s"reps after batch 2: $got")
    } finally q.stop()
    }
  }

  test("TWS timers: an orphan buffered row dead-letters after the buffer timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val input = MemoryStream[Change]
    val q = CdcPipeline.enrichLatest(input.toDS(),
        bufferTimeout = Some(java.time.Duration.ofSeconds(3)))
      .writeStream.format("memory").queryName("tws_timer")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def rows() = spark.table("tws_timer").as[Enriched].collect()
      .map(e => (e.payload, Option(e.enrichPayload))).toSet
    try {
      // key 1's image never arrives (orphan); key 2's lands promptly
      input.addData(
        Change(1L, t(0), "orphan-order", isEnrichment = false),
        Change(2L, t(0), "covered-order", isEnrichment = false))
      input.addData(Change(2L, t(1), "dim-b", isEnrichment = true))
      assert(waitUntil(rows().contains(("covered-order", Some("dim-b")))),
        "promptly-covered row failed to join")
      // the orphan must emit UNENRICHED on timeout (~3 s), not wait
      // forever; the covered row must not dead-letter alongside it
      assert(waitUntil(rows().contains(("orphan-order", None))),
        "orphan buffered row never dead-lettered")
      assert(rows().size == 2, s"unexpected extra output: ${rows()}")
      // a LATE image cannot re-emit the dead-lettered row — it serves
      // only rows arriving after it
      input.addData(Change(1L, t(2), "dim-a-late", isEnrichment = true))
      input.addData(Change(1L, t(3), "order-after", isEnrichment = false))
      assert(waitUntil(rows().contains(("order-after", Some("dim-a-late")))),
        "post-image row failed to join")
      Thread.sleep(2000)
      assert(rows() == Set(
        ("covered-order", Some("dim-b")), ("orphan-order", None),
        ("order-after", Some("dim-a-late"))),
        s"dead-lettered row re-emitted or lost: ${rows()}")
    } finally q.stop()
    }
  }

  test("TWS tombstone TTL escape hatch: stale image inside the window " +
      "still cannot resurrect a deleted key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val input = MemoryStream[Change]
    // the recommended configuration: tombstone window = 3× image TTL
    val q = CdcPipeline.enrichLatest(input.toDS(),
        ttl = Some(java.time.Duration.ofSeconds(5)),
        tombstoneTtl = Some(java.time.Duration.ofSeconds(15)))
      .writeStream.format("memory").queryName("tws_tomb")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // live image joins normally
      input.addData(Change(1L, t(0), "dim-v1", isEnrichment = true))
      input.addData(Change(1L, t(1), "order-a", isEnrichment = false))
      assert(waitUntil(spark.table("tws_tomb").count() == 1),
        "live image failed to join")
      // delete the key, then replay a STALE image (op_ts older than the
      // delete) well inside the 15 s tombstone window — the guard must
      // hold even though the tombstone now carries a TTL
      input.addData(Change(1L, t(2), "kill", isEnrichment = true, manip = "D"))
      Thread.sleep(1500) // let the delete batch commit
      input.addData(Change(1L, t(1), "stale-dim", isEnrichment = true))
      Thread.sleep(1500)
      input.addData(Change(1L, t(3), "order-b", isEnrichment = false))
      Thread.sleep(3000) // several batches; the row must buffer, not join
      assert(spark.table("tws_tomb").count() == 1,
        "stale image inside the tombstone window resurrected a deleted key")
      // a genuinely NEWER image revives the key and flushes the buffer
      input.addData(Change(1L, t(4), "dim-v2", isEnrichment = true))
      assert(waitUntil(spark.table("tws_tomb").count() == 2),
        "buffered row not flushed by the fresh image")
      val got = spark.table("tws_tomb").as[Enriched].collect()
        .map(e => (e.payload, e.enrichPayload)).toSet
      assert(got == Set(("order-a", "dim-v1"), ("order-b", "dim-v2")))
    } finally q.stop()
    }
  }

  test("streaming inverted index: per-batch posting deltas merge to the batch result") {
    // the incremental index-maintenance contract (TextAnalysis
    // .mergePostingStats): an append-only doc stream never repeats a
    // (doc, token) pair across micro-batches, so per-batch
    // invertedIndex(minDf=1) deltas are exactly additive
    import spark.implicits._
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val deltas = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val d = TextAnalysis.invertedIndex(batch, "text", "doc_id", minDf = 1L)
          .collect()
        deltas.synchronized { deltas ++= d }
        ()
      }.start()
    try {
      // three uneven append batches
      docs.grouped(docs.size / 3 + 1).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val schema = TextAnalysis.invertedIndex(
        graft.sources.Tables.documents(spark, sfDir), "text", "doc_id").schema
      val merged = TextAnalysis.mergePostingStats(
          spark.createDataFrame(spark.sparkContext.parallelize(deltas.toSeq), schema))
        .filter(org.apache.spark.sql.functions.col("df") >= 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batchResult = TextAnalysis.invertedIndex(
          graft.sources.Tables.documents(spark, sfDir), "text", "doc_id", minDf = 10L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(merged == batchResult)
    } finally q.stop()
  }

  test("TwsTrending: per-group window top-k across micro-batches equals exact counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val input = MemoryStream[(String, Long, String)] // (group, ms, text)
    val q = graft.streaming.TwsTrending.trending(
        input.toDS().toDF("group", "ms", "text")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "group", "ts", "text", windowDur = "10 minutes",
        delay = "5 minutes", k = 3, capacity = 64)
      .writeStream.format("memory").queryName("trend")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,10) split over TWO micro-batches: group a has
      // x:5 y:3 z:1, group b has p:4 q:2; window [10,20) group a r:2
      input.addData(("a", t(1), "x x y"), ("b", t(2), "p p q"))
      q.processAllAvailable()
      input.addData(("a", t(3), "x x x y y z"), ("b", t(4), "p p q"),
        ("a", t(11), "r r"))
      q.processAllAvailable()
      assert(spark.table("trend").isEmpty) // windows still open
      input.addData(("a", t(60), "tick"))  // watermark 55 closes both
      q.processAllAvailable()
      val got = spark.table("trend").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == Set(
        ("a", t(0), "x", 5L, 1L), ("a", t(0), "y", 3L, 2L), ("a", t(0), "z", 1L, 3L),
        ("b", t(0), "p", 4L, 1L), ("b", t(0), "q", 2L, 2L),
        ("a", t(10), "r", 2L, 1L)), got.mkString(","))
    } finally q.stop()
    }
  }

  test("TwsCep: watermark-final episodes equal the batch CEP matcher, late binder wins") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L // 2024-01-01 UTC, seconds
    def ms(s: Long) = (B + s) * 1000L
    // the batch spec's stream: pre-trigger click, late binding click,
    // out-of-window purchase, dangling chain, instant tie
    val rows = Seq(
      (100L, 1L, 5L, "click"), (101L, 1L, 10L, "view"),
      (102L, 1L, 20L, "click"), (103L, 1L, 30L, "click"),
      (104L, 1L, 40L, "purchase"),
      (200L, 2L, 10L, "view"), (201L, 2L, 20L, "click"),
      (202L, 2L, 5000L, "purchase"),
      (300L, 3L, 10L, "view"),
      (400L, 4L, 10L, "view"), (402L, 4L, 15L, "click"),
      (401L, 4L, 15L, "click"), (403L, 4L, 16L, "purchase"))
    // batch truth at the same window
    val batchDf = rows.map { case (id, u, s, ty) =>
      (id, u, new java.sql.Timestamp(ms(s)), ty) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val batch = graft.operators.Cep.nextMatchEpisodes(batchDf, "user_id",
        "ts", "event_id", "event_type", Seq("view", "click", "purchase"), 100L)
      .collect()
    val batchCompleted = batch.filter(_.getBoolean(7))
      .map(r => (r.getLong(1), r.getLong(0),
        Seq(r.getLong(4), r.getLong(6)))).toSet
    val batchExpired = batch.filterNot(_.getBoolean(7)).map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.TwsCep.episodes(
        input.toDS().toDF("event_id", "user_id", "ms", "event_type")
          .withColumn("ts", timestamp_millis(col("ms"))),
        Seq("view", "click", "purchase"), windowSecs = 100L,
        delay = "50 seconds")
      .writeStream.format("memory").queryName("cep")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      def feed(ids: Long*): Unit = {
        val byId = rows.map(r => r._1 -> r).toMap
        input.addData(ids.map { i =>
          val (id, u, s, ty) = byId(i); (id, u, ms(s), ty) })
        q.processAllAvailable()
      }
      // b1: everything EXCEPT user1's click@20 (and the pre-trigger
      // click) — an eager matcher would bind click@30 here
      feed(101L, 103L, 104L, 200L, 300L, 400L, 402L, 401L, 403L)
      // b2: the late-but-in-watermark click@20 + user2's click
      feed(100L, 102L, 201L)
      assert(spark.table("cep").isEmpty, "nothing may emit before the watermark")
      // b3: the far purchase advances the watermark past every window
      feed(202L)
      input.addData((900L, 9L, ms(6000L), "view")) // tick, stays open
      q.processAllAvailable()
      val got = spark.table("cep")
        .filter(col("user_id") < 9).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](3),
          r.getBoolean(4))).toSet
      val want = Set(
        (1L, 101L, Seq(102L, 104L), true),  // late click@20 outbinds click@30
        (2L, 200L, Seq(201L), false),       // purchase misses the window
        (3L, 300L, Seq(), false),           // dangling chain
        (4L, 400L, Seq(401L, 403L), true))  // instant tie → smallest id
      assert(got == want, s"stream $got != $want")
      // batch parity: completed episodes equal bit-for-bit; expired
      // triggers equal the batch completed=false trigger set
      val streamCompleted = got.filter(_._4).map(g => (g._1, g._2, g._3.toSeq))
      assert(streamCompleted == batchCompleted,
        s"completed parity broke: $streamCompleted vs $batchCompleted")
      assert(got.filterNot(_._4).map(_._2) == batchExpired,
        "expired trigger sets diverge from batch")
    } finally q.stop()
    }
  }

  test("TwsCep: one watermark jump over two overlapping triggers keeps " +
    "the second trigger's bindable events (retention clamps to open episodes)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L // 2024-01-01 UTC, seconds
    def ms(s: Long) = (B + s) * 1000L
    // TWO view triggers for user 1 whose windows overlap (0 and 50,
    // window 100s) and binding events inside both windows; then one tick
    // far in the future so a SINGLE watermark advance crosses BOTH timer
    // expiries. The first-firing timer must not prune click@60/purchase@70
    // with the batch watermark (horizon 4900s) while trigger@50 is still
    // open — the horizon clamps to the earliest surviving trigger ts.
    val rows = Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 50L, "view"),
      (3L, 1L, 10L, "click"), (4L, 1L, 60L, "click"),
      (5L, 1L, 70L, "purchase"))
    val batchDf = rows.map { case (id, u, s, ty) =>
      (id, u, new java.sql.Timestamp(ms(s)), ty) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val batch = graft.operators.Cep.nextMatchEpisodes(batchDf, "user_id",
        "ts", "event_id", "event_type", Seq("view", "click", "purchase"), 100L)
      .collect()
      .map(r => (r.getLong(0), Seq(r.getLong(4), r.getLong(6)), r.getBoolean(7)))
      .toSet
    assert(batch == Set((1L, Seq(3L, 5L), true), (2L, Seq(4L, 5L), true)),
      s"batch truth moved: $batch")
    val input = MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.TwsCep.episodes(
        input.toDS().toDF("event_id", "user_id", "ms", "event_type")
          .withColumn("ts", timestamp_millis(col("ms"))),
        Seq("view", "click", "purchase"), windowSecs = 100L,
        delay = "50 seconds")
      .writeStream.format("memory").queryName("cep_jump")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.map { case (id, u, s, ty) => (id, u, ms(s), ty) })
      q.processAllAvailable()
      assert(spark.table("cep_jump").isEmpty, "watermark has not passed yet")
      input.addData((9L, 9L, ms(5000L), "view")) // one jump past BOTH expiries
      q.processAllAvailable()
      val got = spark.table("cep_jump").filter(col("user_id") === 1).collect()
        .map(r => (r.getLong(1), r.getSeq[Long](3).toSeq, r.getBoolean(4)))
        .toSet
      assert(got == batch,
        s"stream diverged from batch under a multi-expiry watermark jump: $got")
    } finally q.stop()
    }
  }

  test("TwsSessionize: watermark-final sessions equal batch islands; " +
    "gap-equal joins, out-of-order fragments merge") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L // 2024-01-01 UTC, seconds
    def ms(s: Long) = (B + s) * 1000L
    val Gap = 1800L
    // user1: 0 → 1800 (diff == gap JOINS) → 3601 (diff == gap+1 SPLITS)
    // user2: @100 arrives FIRST, @50 arrives a batch later (late in
    //        event time, inside the watermark) — one [50,100] session;
    //        an arrival-order sessionizer emits two singletons
    val rows = Seq(
      (10L, 1L, 0L), (11L, 1L, 1800L), (12L, 1L, 3601L),
      (20L, 2L, 100L), (21L, 2L, 50L))
    // batch truth: the B32 gap-island rule on the same frame
    val batchDf = rows.map { case (id, u, s) =>
      (id, u, new java.sql.Timestamp(ms(s))) }
      .toDF("event_id", "user_id", "ts")
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val batch = batchDf
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("ts").cast("long") -
          lag(col("ts"), 1).over(byUser).cast("long") > Gap).as("gap"))
      .select(col("user_id"), col("ts"),
        sum(when(col("gap"), 1L).otherwise(0L)).over(byUser).as("sid"))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).cast("long").as("s"), max(col("ts")).cast("long").as("e"),
        count(lit(1)).as("n"))
      .select(col("user_id"), (col("s") * 1000).as("start_ms"),
        (col("e") * 1000).as("end_ms"), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val input = MemoryStream[(Long, Long, Long)]
    val q = graft.operators.Windows.sessions(
        input.toDS().toDF("event_id", "user_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        gapSecs = Gap, delay = "100 seconds")
      .writeStream.format("memory").queryName("sess")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      def feed(ids: Long*): Unit = {
        val byId = rows.map(r => r._1 -> r).toMap
        input.addData(ids.map { i =>
          val (id, u, s) = byId(i); (id, u, ms(s)) })
        q.processAllAvailable()
      }
      feed(10L, 20L)        // wm → 0s: nothing final
      feed(21L, 11L)        // the late fragment + the gap-equal joiner; wm → 1700s
      assert(spark.table("sess").isEmpty,
        "nothing may emit before the watermark passes end + gap")
      feed(12L)             // wm → 3501s: user2's [50,100] closes (timer 1901)
      val mid = spark.table("sess").as[(Long, Long, Long, Long)].collect().toSet
      assert(mid == Set((2L, ms(50L), ms(100L), 2L)),
        s"mid-stream close mismatch: $mid")
      input.addData((90L, 9L, ms(10000L))) // tick: wm → 9900s, user1 closes
      q.processAllAvailable()
      val got = spark.table("sess").filter(col("user_id") < 9)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (1L, ms(0L), ms(1800L), 2L),   // gap-equal event JOINED
        (1L, ms(3601L), ms(3601L), 1L), // gap+1 split into a singleton
        (2L, ms(50L), ms(100L), 2L)),  // out-of-order fragments merged
        s"stream sessions $got")
      assert(got == batch, s"batch parity broke: $got vs $batch")
    } finally q.stop()
    }
  }

  test("TwsMeanShift: watermark-final flags equal the batch two-window " +
    "frames; arrival order and slicing don't leak") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L // 2024-01-01 UTC, seconds
    def ms(s: Long) = (B + s) * 1000L
    // user 1: 20 events 10s apart, cents steps 1000 → 10000 at idx 10
    val rows = (0 until 20).map { i =>
      (100L + i, 1L, i * 10L, if (i < 10) 1000L else 10000L)
    }
    // batch truth: the B77 window frames on the same data
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val before = byUser.rowsBetween(-8, -1)
    val after = byUser.rowsBetween(0, 7)
    val batch = rows.map { case (id, u, s, c) =>
        (id, u, new java.sql.Timestamp(ms(s)), c) }
      .toDF("event_id", "user_id", "ts", "cents")
      .withColumn("before_sum", sum(col("cents")).over(before))
      .withColumn("before_n", count(lit(1)).over(before))
      .withColumn("after_sum", sum(col("cents")).over(after))
      .withColumn("after_n", count(lit(1)).over(after))
      .filter(col("before_n") === 8 && col("after_n") === 8)
      .filter(abs(col("after_sum") - col("before_sum")) > lit(24000L))
      .select(col("user_id"), col("event_id"), col("ts").cast("long") * 1000,
        col("before_sum"), col("after_sum"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "the planted step must flag in batch")
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = graft.streaming.TwsMeanShift.shifts(
        input.toDS().toDF("event_id", "user_id", "ms", "cents")
          .withColumn("ts", timestamp_millis(col("ms"))),
        delay = "60 seconds")
      .writeStream.format("memory").queryName("shift")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      def feed(data: Seq[(Long, Long, Long, Long)]): Unit = {
        input.addData(data.map { case (id, u, s, c) => (id, u, ms(s), c) })
        q.processAllAvailable()
      }
      // slice out of order: idx 0..12 arrive first but SHUFFLED, the
      // tail 13..19 a batch later, with idx 11 held back into batch 2
      // (late in event time vs batch 1's max, inside the watermark)
      val held = rows(11)
      val b1 = scala.util.Random.shuffle(
        rows.take(13).filterNot(_ == held)).toSeq
      feed(b1)
      feed(rows.drop(13) :+ held)
      // tick 1 fires batch 1's timer (expiry B+120.001 ≤ wm B+130):
      // every point it finalizes lacks 8 before-context events → no
      // flags may emit even though the full step is in the buffer.
      // (Tick stays at B+220 so the post-batch watermark B+160 is
      // still below batch 2's timer — the no-data micro-batch must
      // not finalize the followers yet.)
      feed(Seq((900L, 9L, 220L, 0L)))
      assert(spark.table("shift").filter(col("user_id") === 1L).isEmpty,
        "nothing may emit before the watermark passes the 8th follower")
      // tick 2 fires batch 2's timer → all points final
      feed(Seq((901L, 9L, 1000L, 0L)))
      val got = spark.table("shift").filter(col("user_id") === 1L)
        .select(col("user_id"), col("event_id"), col("ms"),
          col("before_sum"), col("after_sum"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == batch, s"batch parity broke: $got vs $batch")
    } finally q.stop()
    }
  }

  test("TwsSeqGap: watermark-final per-block completeness equals the " +
    "interior-block truth; premature timers defer; dupes go negative") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L // 2024-01-01 UTC, seconds
    def ms(s: Long) = (B + s) * 1000L
    // ids 0..39 (blocks 0..3 at blockSize 10), ts = B + id seconds;
    // drops {7, 13, 23} and a duplicated 25 — so per-block truth is
    // (0,9,1) (1,9,1) (2,10,0) (3,10,0): the dup REFILLS block 2's
    // dropped id count-wise (the stream counts deliveries, not
    // distinct ids — that is the at-least-once visibility the batch
    // groupBy can't have)
    val ids = (0L until 40L).filterNot(Set(7L, 13L, 23L)) :+ 25L
    val truth = ids.groupBy(_ / 10).map { case (b, xs) =>
      (b, xs.size.toLong, 10L - xs.size) }.toSet
    val input = MemoryStream[(Long, Long)] // (event_id, eventTimeMs)
    val q = graft.streaming.TwsSeqGap.audit(
        input.toDS().toDF("event_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        blockSize = 10L, settleSecs = 30L, delay = "60 seconds")
      .writeStream.format("memory").queryName("seqgap")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      def feed(data: Seq[Long]): Unit = {
        input.addData(data.map(id => (id, ms(id))))
        q.processAllAvailable()
      }
      // id 9 held into batch 2: it EXTENDS block 0's horizon, so the
      // batch-1 timer (B+8+31) must defer to the batch-2 one (B+40)
      feed(scala.util.Random.shuffle(ids.filterNot(_ == 9L)).toSeq)
      feed(Seq(9L))
      // tick 1 → watermark B+39: fires block 0's stale timer only —
      // it must DEFER (9's arrival moved finality to B+40)
      input.addData(Seq((990L, ms(99))))
      q.processAllAvailable()
      assert(spark.table("seqgap").filter(col("block_id") < 4).isEmpty,
        "no block may finalize before its newest row settles")
      // tick 2 → watermark B+140: every data block final
      input.addData(Seq((991L, ms(200))))
      q.processAllAvailable()
      val got = spark.table("seqgap").filter(col("block_id") < 4)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == truth, s"completeness parity broke: $got vs $truth")
    } finally q.stop()
    }
  }

  test("TwsSeqGap: a straggler with a FRESH event time re-opens a " +
    "finalized block and emits a delta-tagged row, not a second full audit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L
    def ms(s: Long) = (B + s) * 1000L
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.TwsSeqGap.audit(
        input.toDS().toDF("event_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        blockSize = 10L, settleSecs = 30L, delay = "60 seconds")
      .writeStream.format("memory").queryName("seqgap2")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // block 0 arrives missing id 9, then the watermark closes it
      input.addData((0L until 9L).map(id => (id, ms(id))))
      q.processAllAvailable()
      input.addData(Seq((990L, ms(200)))) // watermark → B+140: finalize
      q.processAllAvailable()
      assert(spark.table("seqgap2").filter(col("block_id") === 0)
        .as[(Long, Long, Long)].collect().toSet == Set((0L, 9L, 1L)),
        "block 0 must finalize (9 present, 1 missing)")
      // the straggler: id 9 with a FRESH timestamp (B+300 — ahead of
      // the B+140 watermark, so NOT late) re-opens the block; event
      // time is not monotone in block id for a CDC stream
      input.addData(Seq((9L, ms(300))))
      q.processAllAvailable()
      input.addData(Seq((991L, ms(500)))) // watermark → B+440: settle
      q.processAllAvailable()
      val got = spark.table("seqgap2").filter(col("block_id") === 0)
        .as[(Long, Long, Long)].collect().toSet
      // tombstone live → the re-finalization is DELTA-tagged
      // (1, −1), and Σ n_missing over the block's rows is exact: 0
      assert(got == Set((0L, 9L, 1L), (0L, 1L, -1L)),
        s"re-opened block must emit a delta-tagged row: $got")
    } finally q.stop()
    }
  }

  test("TwsSeqGap: after the tombstone TTL expires, a straggler emits a " +
    "fresh FULL audit — the documented residual, and the state is bounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val B = 1704067200L
    def ms(s: Long) = (B + s) * 1000L
    val input = MemoryStream[(Long, Long)]
    // short 600 s tombstone so the expiry path is reachable in-test
    val q = graft.streaming.TwsSeqGap.audit(
        input.toDS().toDF("event_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        blockSize = 10L, settleSecs = 30L, delay = "60 seconds",
        tombstoneTtlSecs = 600L)
      .writeStream.format("memory").queryName("seqgap3")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((0L until 9L).map(id => (id, ms(id))))
      q.processAllAvailable()
      input.addData(Seq((990L, ms(200)))) // finalize: audit (9, 1)
      q.processAllAvailable()
      // advance the watermark past finalization + TTL: the cleanup
      // timer fires and clears the tombstone
      input.addData(Seq((991L, ms(2000))))
      q.processAllAvailable()
      // straggler AFTER the tombstone died: block re-opens with no
      // memory of the first audit → a fresh FULL audit (1, 9) — the
      // class-doc'd residual duplicate-row risk the TTL trades for
      // bounded state; downstream per-block aggregation still sees
      // every delivery counted
      input.addData(Seq((5L, ms(2100))))
      q.processAllAvailable()
      input.addData(Seq((992L, ms(3000))))
      q.processAllAvailable()
      val got = spark.table("seqgap3").filter(col("block_id") === 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((0L, 9L, 1L), (0L, 1L, 9L)),
        s"post-TTL straggler must emit a fresh full audit: $got")
    } finally q.stop()
    }
  }

  test("TwsSeqGap: the finalized tombstone survives a query restart — " +
    "a straggler after recovery still delta-tags") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { base =>
    val B = 1704067200L
    def ms(s: Long) = (B + s) * 1000L
    val input = MemoryStream[(Long, Long)]
    def start() = graft.streaming.TwsSeqGap.audit(
        input.toDS().toDF("event_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        blockSize = 10L, settleSecs = 30L, delay = "60 seconds")
      .toDF()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append).start()
    var q = start()
    try {
      input.addData((0L until 9L).map(id => (id, ms(id))))
      q.processAllAvailable()
      input.addData(Seq((990L, ms(200)))) // finalize: audit (9, 1)
      q.processAllAvailable()
      // cold restart AFTER finalization: the fin ValueState must come
      // back from the checkpoint, or the straggler below would replay
      // a second full audit instead of the delta row
      q.stop()
      q = start()
      input.addData(Seq((9L, ms(300)))) // fresh-ts straggler re-opens
      q.processAllAvailable()
      input.addData(Seq((991L, ms(500)))) // settle the re-open
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/out")
        .filter(col("block_id") === 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((0L, 9L, 1L), (0L, 1L, -1L)),
        s"restored tombstone must delta-tag the re-open: $got")
    } finally q.stop()
    }
  }

  test("TwsActiveUsers: watermark-final coverage intervals equal the batch " +
    "dau_wau interval construction; unexpired days stay pending") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val W = 7L
    val Day0 = 19723L // 2024-01-01 in epoch days
    def tsMs(day: Long, secInDay: Long) = (Day0 + day) * 86400000L + secInDay * 1000L
    // activity: consecutive runs, window-interior gaps, a > W dead
    // zone (user 3), duplicate same-day events (user 1 day 2)
    val acts: Seq[(Long, Long)] = Seq(
      (1L, 0L), (1L, 1L), (1L, 2L), (1L, 2L), (1L, 9L),
      (2L, 0L), (2L, 4L), (2L, 5L),
      (3L, 1L), (3L, 15L),
      (4L, 3L),
      (5L, 0L), (5L, 6L), (5L, 7L), (5L, 13L))
    // batch truth: per user sorted distinct days, cend = next-1 when
    // the next active day lands inside the window, else g+W-1
    val truth = acts.distinct.groupBy(_._1).flatMap { case (u, rows) =>
      val days = rows.map(_._2).distinct.sorted
      days.map { g =>
        val nx = days.find(_ > g)
        val cend = nx match {
          case Some(n) if n <= g + W - 1 => n - 1
          case _ => g + W - 1
        }
        (u, Day0 + g, Day0 + cend) // stream emits absolute epoch days
      }
    }.toSet
    val input = MemoryStream[(Long, Long)] // (user_id, eventTimeMs)
    val q = graft.streaming.TwsActiveUsers.coverage(
        input.toDS().toDF("user_id", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))),
        windowDays = W, settleSecs = 30L, delay = "60 seconds")
      .writeStream.format("memory").queryName("activeusers")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      val r = new scala.util.Random(13)
      // batch 1: everything up to day 9, shuffled WITHIN the batch —
      // the watermark only advances after a batch completes, so
      // intra-batch disorder is legal while a cross-batch shuffle of
      // a 15-day span against a 60 s allowance would make the older
      // half watermark-late by contract
      val (head, tail) = acts.map { case (u, d) => (u, d, tsMs(d, 1L + u)) }
        .partition(_._2 <= 9L)
      input.addData(r.shuffle(head).map(a => (a._1, a._3)))
      q.processAllAvailable()
      // watermark is now ~day 9: only days 0 and 1 (finality = end of
      // day g+6 + settle) may have finalized
      val early = spark.table("activeusers").as[(Long, Long, Long)]
        .collect().toSet
      assert(early.forall(_._2 <= Day0 + 1L),
        s"a day finalized before its window horizon passed: $early")
      assert(early == truth.filter(_._2 <= Day0 + 1L),
        s"early-final intervals diverge: $early vs ${
          truth.filter(_._2 <= Day0 + 1L)}")
      // batch 2: the day-13/15 stragglers (both above the watermark)
      input.addData(tail.map(a => (a._1, a._3)))
      q.processAllAvailable()
      // watermark far past everything: all intervals final
      input.addData(Seq((99L, tsMs(40L, 0L))))
      q.processAllAvailable()
      val got = spark.table("activeusers").as[(Long, Long, Long)]
        .collect().toSet
      assert(got == truth, s"coverage parity broke: ${
        (got -- truth) ++ (truth -- got)}")
    } finally q.stop()
    }
  }

  test("TwsTrending sharded fan-out: merged per-shard candidates equal the unsharded top-k") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val input = MemoryStream[(String, Long, String)]
    // shards = 4 spreads group a's vocabulary over 4 state keys — the
    // hot-group fan-out; same data shape as the unsharded spec
    val q = graft.streaming.TwsTrending.trendingSharded(
        input.toDS().toDF("group", "ms", "text")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "group", "ts", "text", windowDur = "10 minutes",
        delay = "5 minutes", k = 3, capacity = 64, shards = 4)
      .writeStream.format("memory").queryName("trend_sh")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("a", t(1), "x x y"), ("b", t(2), "p p q"))
      q.processAllAvailable()
      input.addData(("a", t(3), "x x x y y z"), ("b", t(4), "p p q"),
        ("a", t(11), "r r"))
      q.processAllAvailable()
      assert(spark.table("trend_sh").isEmpty) // windows still open
      input.addData(("a", t(60), "tick"))     // watermark 55 closes both
      q.processAllAvailable()
      // candidates: <= k rows per (group, window, shard), unranked
      val cands = spark.table("trend_sh")
      val got = graft.streaming.TwsTrending.mergeCandidates(cands, k = 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      // identical to the unsharded spec's expected output
      assert(got == Set(
        ("a", t(0), "x", 5L, 1L), ("a", t(0), "y", 3L, 2L), ("a", t(0), "z", 1L, 3L),
        ("b", t(0), "p", 4L, 1L), ("b", t(0), "q", 2L, 2L),
        ("a", t(10), "r", 2L, 1L)), got.mkString(","))
    } finally q.stop()
    }
  }

  test("TwsTrending: Misra-Gries keeps the heavy hitter at a tiny capacity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val input = MemoryStream[(String, Long, String)]
    val q = graft.streaming.TwsTrending.trending(
        input.toDS().toDF("group", "ms", "text")
          .withColumn("ts", timestamp_millis(col("ms"))),
        "group", "ts", "text", windowDur = "10 minutes",
        delay = "5 minutes", k = 1, capacity = 2)
      .writeStream.format("memory").queryName("trend_mg")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // heavy h:10 vs five singletons, interleaved across batches —
      // true gap (10 vs 1) far exceeds eps*N = 15/3, so MG must keep
      // h on top despite holding only 2 counters
      input.addData(("a", t(1), "h h h n1 h n2"))
      q.processAllAvailable()
      input.addData(("a", t(2), "h n3 h h n4"), ("a", t(3), "h n5 h h"))
      q.processAllAvailable()
      input.addData(("a", t(60), "tick"))
      q.processAllAvailable()
      val got = spark.table("trend_mg").collect()
        .filter(_.getLong(1) == t(0))
        .map(r => (r.getString(2), r.getLong(4))).toSet
      assert(got == Set(("h", 1L)), got.mkString(","))
    } finally q.stop()
    }
  }

  test("dropDuplicatesWithinWatermark: dedup inside the horizon, state evicted past it") {
    // Spark's NATIVE bounded-state streaming dedup (the engine-level
    // sibling of TwsDedup's near-dup state): duplicates inside the
    // watermark horizon are suppressed; once the watermark passes a
    // key's horizon its state evicts, so the same id re-admits with a
    // fresh event time — state = rate × horizon, not stream history.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = input.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("wm_dedup")
      .outputMode(OutputMode.Append).start()
    def tstamp(min: Int) = new java.sql.Timestamp(t(min))
    def ids() = spark.table("wm_dedup").collect().map(_.getLong(0)).toSeq
    try {
      input.addData((1L, tstamp(0)), (2L, tstamp(0)))
      q.processAllAvailable()
      assert(ids().sorted == Seq(1L, 2L))
      // duplicate inside the horizon → suppressed
      input.addData((1L, tstamp(5)))
      q.processAllAvailable()
      assert(ids().sorted == Seq(1L, 2L))
      // advance event time far past the horizon → id-1 state evicts
      input.addData((9L, tstamp(200)))
      q.processAllAvailable()
      // the SAME id with a fresh event time re-admits
      input.addData((1L, tstamp(210)))
      q.processAllAvailable()
      assert(ids().sorted == Seq(1L, 1L, 2L, 9L), ids().mkString(","))
    } finally q.stop()
  }

  test("TwsScd2: closed versions across micro-batches equal batch scd2 history") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TwsScd2
    import graft.streaming.TwsScd2.ChgRow
    withRocksDb { ckpt =>
    val chg = Seq(
      ChgRow(1L, 100L, 1, "I", "a1"),
      ChgRow(1L, 200L, 2, "U", "a2"), // closes a1 inside batch one
      ChgRow(2L, 100L, 1, "I", "b1"),
      ChgRow(3L, 100L, 1, "I", "c1"),
      ChgRow(3L, 100L, 2, "U", "c2"), // same ts — seq breaks the tie
      // batch two
      ChgRow(1L, 300L, 3, "U", "a3"), // closes a2 ACROSS the boundary
      ChgRow(2L, 250L, 2, "D", "b1"), // closes b1; the tombstone emits nothing
      ChgRow(2L, 400L, 3, "I", "b2")) // reopens after the delete
    val batchDf = chg.map(c => (c.key, c.opTs, c.seq, c.manip, c.value))
      .toDF("key", "op_ts", "seq", "manip", "value")
    val want = graft.operators.Cdc.scd2(batchDf, "key")
      .filter(col("valid_to").isNotNull)
      .select("key", "value", "valid_from", "valid_to")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(want == Set((1L, "a1", 100L, 200L), (1L, "a2", 200L, 300L),
      (2L, "b1", 100L, 250L), (3L, "c1", 100L, 100L)), s"batch history $want")
    val input = MemoryStream[ChgRow]
    val q = TwsScd2.closedVersions(input.toDS()).toDF()
      .writeStream.format("memory").queryName("tws_scd2")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(chg.take(5): _*)
      q.processAllAvailable()
      val afterFirst = spark.table("tws_scd2").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(afterFirst == Set((1L, "a1", 100L, 200L), (3L, "c1", 100L, 100L)),
        s"first batch closed $afterFirst")
      input.addData(chg.drop(5): _*)
      q.processAllAvailable()
      val got = spark.table("tws_scd2").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"streaming $got != batch $want")
    } finally q.stop()
    }
  }

  test("end-to-end streaming curation: decode → quality → bloom decontam → " +
    "TWS dedup equals the batch pipeline across micro-batches") {
    // The COMPOSED production ingest: one streaming job chaining raw
    // JSON decode, the quality gate, benchmark decontamination (bloom
    // projection), and TWS near-dup detection — dropped docs never
    // reach the dedup state, and the admitted pair set equals the
    // batch pipeline on the same data.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val bench = Seq((100L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val bloom = graft.operators.Dedup.buildGramBloom(bench, "text", "doc_id")
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy cat again and again today",
      3L -> "structured streaming keeps state in rocksdb across micro batches forever",
      4L -> "short text", // quality drop: under minWords
      5L -> ("we quote alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa in this evaluation document"), // contaminated: benchmark 8-gram
      6L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      7L -> "structured streaming keeps state in rocksdb across micro batches mostly",
      8L -> "final unique entry mentioning watermarks and windowed aggregations only",
      9L -> ("students memorize alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa before the test session"), // contaminated, batch two
      10L -> "tiny") // quality drop, batch two
    def toJson(d: (Long, String)) = s"""{"doc_id": ${d._1}, "text": "${d._2}"}"""

    // the curation chain — pure projections, so the SAME function
    // runs on the batch frame and the streaming frame
    def curate(raw: DataFrame): DataFrame = {
      val decoded = raw
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING")).as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      val kept = graft.operators.TextAnalysis
        .withQualityFlag(decoded, "text", "doc_id", minWords = 8,
          maxWords = 1000, minWordLenBp = 0, maxWordLenBp = 1000000,
          minStopwordBp = 0, maxDupBp = 10000)
        .filter(col("keep")).select("doc_id", "text")
      graft.operators.Dedup
        .contaminationFlagBloom(kept, bloom, "text", "doc_id")
        .filter(!col("contaminated")).select("doc_id", "text")
    }

    // batch twin: same chain, batch LSH on the curated signatures
    val batchCurated = curate(docs.map(toJson).toDF("value"))
    val admitted = batchCurated.select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L, 6L, 7L, 8L),
      s"batch curation admitted $admitted")
    val store = graft.operators.Dedup
      .withMinHashSignatures(batchCurated, "text", "doc_id")
    val want = graft.operators.Dedup.minhashLshFromSignatures(store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 6L), (2L, 6L), (3L, 7L)),
      s"batch pairs $want")

    val input = MemoryStream[String]
    val streamSigs = graft.operators.Dedup
      .withMinHashSignatures(curate(input.toDF()), "text", "doc_id")
    val result = graft.streaming.TwsDedup.verifiedPairs(
      graft.streaming.TwsDedup.candidatePairs(streamSigs),
      store.select("id", "hs"))
    val q = result.writeStream.format("memory").queryName("stream_curation")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs.take(5).map(toJson): _*)
      q.processAllAvailable()
      val afterFirst = spark.table("stream_curation").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterFirst == Set((1L, 2L)),
        s"first micro-batch expected only the in-batch pair, got $afterFirst")
      input.addData(docs.drop(5).map(toJson): _*)
      q.processAllAvailable()
      val got = spark.table("stream_curation").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"streaming $got != batch $want")
      // dropped docs were filtered BEFORE bucketing: no pair may touch them
      val droppedTouched = got.flatMap(p => Seq(p._1, p._2))
        .intersect(Set(4L, 5L, 9L, 10L))
      assert(droppedTouched.isEmpty, s"dropped docs in pairs: $droppedTouched")
    } finally q.stop()
    }
  }

  test("composed curation ingest survives a mid-batch kill: restart from " +
    "RocksDB checkpoint ends bit-identical to the uninterrupted run") {
    // CRASH CONSISTENCY for the full production topology (decode →
    // quality gate → bloom decontam → TwsDedup): the job is killed with
    // a batch in flight (stop() with undrained data — the StreamTest
    // StopStream idiom), restarted against the SAME checkpoint + file
    // sink, fed the remaining data, and the committed output must equal
    // the uninterrupted run exactly. The parquet sink's _spark_metadata
    // log is the exactly-once boundary (orphan files from the killed
    // batch are invisible); the cross-batch pairs (1,6)/(2,6)/(3,7)
    // only exist if the RocksDB dedup state RESTORED — state loss or
    // batch replay would both break equality.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { dir =>
    val bench = Seq((100L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val bloom = graft.operators.Dedup.buildGramBloom(bench, "text", "doc_id")
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy cat again and again today",
      3L -> "structured streaming keeps state in rocksdb across micro batches forever",
      4L -> "short text",
      5L -> ("we quote alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa in this evaluation document"),
      6L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      7L -> "structured streaming keeps state in rocksdb across micro batches mostly",
      8L -> "final unique entry mentioning watermarks and windowed aggregations only",
      9L -> ("students memorize alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa before the test session"),
      10L -> "tiny")
    def toJson(d: (Long, String)) = s"""{"doc_id": ${d._1}, "text": "${d._2}"}"""
    def curate(raw: DataFrame): DataFrame = {
      val decoded = raw
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING")).as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      val kept = graft.operators.TextAnalysis
        .withQualityFlag(decoded, "text", "doc_id", minWords = 8,
          maxWords = 1000, minWordLenBp = 0, maxWordLenBp = 1000000,
          minStopwordBp = 0, maxDupBp = 10000)
        .filter(col("keep")).select("doc_id", "text")
      graft.operators.Dedup
        .contaminationFlagBloom(kept, bloom, "text", "doc_id")
        .filter(!col("contaminated")).select("doc_id", "text")
    }
    val store = graft.operators.Dedup
      .withMinHashSignatures(curate(docs.map(toJson).toDF("value")), "text", "doc_id")
      .select("id", "hs")

    def runTopology(kill: Boolean): Set[(Long, Long, Long)] = {
      val input = MemoryStream[String]
      val pairs = graft.streaming.TwsDedup.verifiedPairs(
        graft.streaming.TwsDedup.candidatePairs(
          graft.operators.Dedup.withMinHashSignatures(
            curate(input.toDF()), "text", "doc_id")),
        store)
      val out = s"$dir/out_$kill"
      val ckpt = s"$dir/ckpt_$kill"
      def start() = pairs.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      var q = start()
      input.addData(docs.take(4).map(toJson): _*)
      q.processAllAvailable()
      input.addData(docs.slice(4, 8).map(toJson): _*)
      if (kill) {
        // kill with the batch in flight; nothing is drained first
        Thread.sleep(150)
        q.stop()
        // more data arrives while the job is down
        input.addData(docs.drop(8).map(toJson): _*)
        q = start() // restart from the same checkpoint + sink log
        q.processAllAvailable()
      } else {
        q.processAllAvailable()
        input.addData(docs.drop(8).map(toJson): _*)
        q.processAllAvailable()
      }
      q.stop()
      // read through the sink's _spark_metadata log — the committed set
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val clean = runTopology(kill = false)
    val crashed = runTopology(kill = true)
    assert(clean.map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 6L), (2L, 6L), (3L, 7L)),
      s"uninterrupted run moved: $clean")
    assert(crashed == clean,
      s"crash-restart diverged: $crashed vs $clean")
    }
  }

  test("decontam scrub projection is streaming-legal: stateless, matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the C65 claim made executable: trimContamProjectionExact is ONE
    // shuffle-free projection, so it must run unmodified on a stream —
    // no state store, no watermark, Append mode — and agree with its
    // batch twin row-for-row
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "leak one two three four five six seven eight end of doc"))
    val probe = Seq((100L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val hashes = graft.operators.Dedup
      .probeGramHashes(probe, "text", "doc_id", n = 8)
    val batch = graft.operators.Dedup.trimContamProjectionExact(
      docs.toDF("doc_id", "text"), hashes, "text", "doc_id", n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // doc 3 must actually lose its planted 8-gram
    assert(batch.exists(r => r._1 == 3L && r._3 == 8L), s"no trim in $batch")
    val input = MemoryStream[(Long, String)]
    val scrubbed = graft.operators.Dedup.trimContamProjectionExact(
      input.toDF().toDF("doc_id", "text"), hashes, "text", "doc_id", n = 8)
    assert(scrubbed.isStreaming, "projection must preserve streaming-ness")
    val q = scrubbed.writeStream.format("memory").queryName("scrub_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("scrub_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == batch, s"streaming $got != batch $batch")
      // stateless by plan: no state-store operator, no exchange in the
      // executed micro-batch plan — the scan-speed contract as a fact
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("StateStore"), s"stateful op in plan:\n$plan")
      assert(!plan.contains("Exchange"), s"shuffle in plan:\n$plan")
    } finally q.stop()
  }

  test("TwsAnnProbe: stream-accumulated LSH and IVF probes equal the one-shot " +
      "batch probe over the union of micro-batches (r12 verdict item 9)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sim = graft.operators.Similarity
    val emb = sources.Tables.embeddings(spark, sfDir)
    val allQueries = emb.filter(col("vec_id") < 24)
      .select(col("vec_id"), col("embedding"))
    val qRows = allQueries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // LSH store once (the persisted-store shape; localCheckpoint stands
    // in for the parquet read-back the production path does)
    val lshStore = Sim.withLshBucket(emb, "embedding", numPlanes = 4)
      .localCheckpoint()
    val batchLsh = Sim.lshTopKBucketed(lshStore, allQueries, "vec_id",
        "embedding", k = 10, numPlanes = 4, multiprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // IVF store at the broadcast-centroid regime
    val cents = Sim.ivfCentroids(emb, "vec_id", "embedding", nCentroids = 16).toSeq
    val ivfStore = Sim.withIvfLists(emb, "embedding", cents).localCheckpoint()
    val batchIvf = Sim.ivfTopKBucketed(ivfStore, allQueries, "vec_id",
        "embedding", k = 10, cents, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    withTempDir { dir =>
      // stream the same queries in 3 micro-batches through each probe
      val lshIn = MemoryStream[(Long, Array[Float])]
      val lshAcc = scala.collection.mutable.Set.empty[(Long, Long, Int)]
      // streaming search over a static store is the batch probe per
      // micro-batch, called straight from foreachBatch
      val lshQ = lshIn.toDS().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          lshAcc ++= Sim.lshTopKBucketed(lshStore, b, "vec_id", "embedding",
              k = 10, numPlanes = 4, multiprobe = 1)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
          ()
        }.option("checkpointLocation", s"$dir/lsh").start()
      try {
        qRows.grouped((qRows.length + 2) / 3).foreach { g =>
          lshIn.addData(g.toSeq); lshQ.processAllAvailable()
        }
      } finally lshQ.stop()
      assert(lshAcc.toSet == batchLsh && batchLsh.nonEmpty,
        s"LSH stream/batch diverged: ${(lshAcc.toSet -- batchLsh) ++ (batchLsh -- lshAcc)}")
      val ivfIn = MemoryStream[(Long, Array[Float])]
      val ivfAcc = scala.collection.mutable.Set.empty[(Long, Long, Int)]
      val ivfQ = ivfIn.toDS().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          ivfAcc ++= Sim.ivfTopKBucketed(ivfStore, b, "vec_id", "embedding",
              k = 10, cents, nProbe = 4)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
          ()
        }.option("checkpointLocation", s"$dir/ivf").start()
      try {
        qRows.grouped((qRows.length + 2) / 3).foreach { g =>
          ivfIn.addData(g.toSeq); ivfQ.processAllAvailable()
        }
      } finally ivfQ.stop()
      assert(ivfAcc.toSet == batchIvf && batchIvf.nonEmpty,
        s"IVF stream/batch diverged: ${(ivfAcc.toSet -- batchIvf) ++ (batchIvf -- ivfAcc)}")
    }
  }

  test("TwsBurstiness checkpoint recovery: the per-second MapState " +
    "survives a restart mid-day") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { base =>
    val Day0 = 19723L
    def sec(s: Long) = Day0 * 86400L + s
    val input = MemoryStream[(String, Long)]
    def start() = graft.operators.Windows.dayGapMoments(
        input.toDS().toDF("event_type", "s")
          .withColumn("ts", timestamp_seconds(col("s"))),
        delay = "60 seconds")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append).start()
    var q = start()
    try {
      // first half of the day's events, then a cold restart
      input.addData(Seq(("a", sec(10)), ("a", sec(10)), ("a", sec(40))))
      q.processAllAvailable()
      q.stop()
      q = start()
      // second half + a watermark sentinel past finality: the day's
      // moments must include the RESTORED pre-restart seconds
      input.addData(Seq(("a", sec(100))))
      q.processAllAvailable()
      input.addData(Seq(("zz", sec(86400 * 2 + 200))))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/out")
        .filter(col("event_type") === "a")
        .select(col("n_events"), col("n_gaps"), col("sum_gap_s"),
          col("sum_gap2_s"))
        .as[(Long, Long, Long, Long)].collect().toSet
      // secs {10,10,40,100}: n=4, gaps=3, Σg=90, Σg²=30²+60²=4500
      assert(got == Set((4L, 3L, 90L, 4500L)), got.toString)
    } finally q.stop()
    }
  }

  test("TwsBurstiness: watermark-final day moments equal brute-force " +
    "seconds-grid gap moments; open days stay pending") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val Day0 = 19723L // 2024-01-01 in epoch days
    def sec(day: Long, s: Long) = (Day0 + day) * 86400L + s
    // (type, day, second-in-day): same-second duplicates (zero gaps),
    // a singleton key (no emission), a day-boundary-hugging event
    val evs: Seq[(String, Long, Long)] = Seq(
      ("a", 0L, 10L), ("a", 0L, 10L), ("a", 0L, 40L), ("a", 0L, 100L),
      ("a", 1L, 5L), ("a", 1L, 86399L),
      ("b", 0L, 7L))
    val truth = evs.groupBy(e => (e._1, e._2)).collect {
      case ((t, d), xs) if xs.size >= 2 =>
        val occ = xs.map(_._3).distinct.sorted
        val gaps = occ.zip(occ.drop(1)).map { case (x, y) => y - x }
        (t, d, xs.size.toLong, xs.size - 1L, gaps.sum, gaps.map(g => g * g).sum)
    }.toSet
    val input = MemoryStream[(String, Long)] // (event_type, eventTimeSec)
    val q = graft.operators.Windows.dayGapMoments(
        input.toDS().toDF("event_type", "s")
          .withColumn("ts", timestamp_seconds(col("s"))),
        delay = "60 seconds")
      .writeStream.format("memory").queryName("burst")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // day-0 rows only: watermark stays inside day 0, nothing final
      input.addData(scala.util.Random.shuffle(
        evs.filter(_._2 == 0L)).map(e => (e._1, sec(e._2, e._3))))
      q.processAllAvailable()
      assert(spark.table("burst").isEmpty,
        "no day may close before the watermark passes its end")
      // day-1 rows advance the watermark past day 0's finality
      input.addData(evs.filter(_._2 == 1L).map(e => (e._1, sec(e._2, e._3))))
      q.processAllAvailable()
      // sentinel past day 1 end + delay: everything final
      input.addData(Seq(("zz", sec(2L, 200L))))
      q.processAllAvailable()
      val got = spark.table("burst")
        .select(col("event_type"), col("day") - Day0, col("n_events"),
          col("n_gaps"), col("sum_gap_s"), col("sum_gap2_s"))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == truth, s"moment parity broke: $got vs $truth")
    } finally q.stop()
    }
  }

  test("TwsDedupC over-cap mirror flood: same-batch mirrors of a " +
       "NOT-admitted content emit one pair total, not one per mirror; " +
       "cross-batch mirrors carry the documented one-pair residual") {
    // r17 ADVICE item 3: with a FULL bucket (cap reached), a new
    // content is never admitted (no byContent entry), so before the
    // fix every same-batch mirror re-emitted its own (id x mem.head)
    // pair -- distinct ids survive dropDuplicates -- breaking the
    // O(1)-per-mirror contract in exactly the flood regime the
    // collapse targets. The in-batch sighting set now records the ck
    // even when not admitted: one pair per (bucket, batch), however
    // many mirrors the batch carries. CROSS-batch mirrors of an
    // over-cap content still emit one pair each by design (persisting
    // their ck would grow state with over-cap contents, un-bounding
    // the cap) -- pinned here as the documented residual.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val tDog = "the quick brown fox jumps over the lazy dog again and again today"
    val tCat = "the quick brown fox jumps over the lazy cat again and again today"
    val input = MemoryStream[(Long, String)]
    val sigs = graft.operators.Dedup.withMinHashSignatures(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    // cap 1: doc 1's content fills every one of its buckets
    val result = graft.streaming.TwsDedup
      .candidatePairsCollapsed(sigs, maxBucket = 1)
    val q = result.toDF().writeStream.format("memory").queryName("tws_overcap")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def pairs(): Set[(Long, Long)] = spark.table("tws_overcap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      input.addData(1L -> tDog)
      q.processAllAvailable()
      assert(pairs().isEmpty, s"lone doc emitted ${pairs()}")
      // a same-batch FLOOD of a new near-dup content: in the buckets
      // shared with doc 1 the cap is reached, so the content is not
      // admitted -- exactly one probe pair (min id 10) may emit; the
      // mirrors 11 and 12 must be suppressed in-batch
      input.addData(10L -> tCat, 11L -> tCat, 12L -> tCat)
      q.processAllAvailable()
      assert(pairs() == Set((1L, 10L)),
        s"same-batch mirror flood leaked pairs: ${pairs()}")
      // cross-batch mirror of the over-cap content: one residual pair
      input.addData(13L -> tCat)
      q.processAllAvailable()
      assert(pairs() == Set((1L, 10L), (1L, 13L)),
        s"cross-batch residual wrong: ${pairs()}")
    } finally q.stop()
    }
  }

  test("TwsDedupC TTL x pre-collapse: expired contents re-rep on their " +
       "next mirror and pairs re-emit within the new horizon; in-TTL " +
       "mirrors still collapse (r17 verdict item 3)") {
    // The production posture runs cap + TTL + collapse together. TTL
    // expires a bucket's (ck -> rep) entries AND its rep-list entries
    // per element, so state is bounded by arrival rate x TTL even on
    // an endless crawl; the semantics to pin are (a) a mirror arriving
    // INSIDE the horizon collapses as usual, (b) after its content's
    // entries expire, the NEXT mirror becomes a fresh representative
    // and near-dup pairs re-emit against the new horizon's reps only
    // -- old, expired reps never resurface in pairs.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { ckpt =>
    val tDog = "the quick brown fox jumps over the lazy dog again and again today"
    val tCat = "the quick brown fox jumps over the lazy cat again and again today"
    val input = MemoryStream[(Long, String)]
    val sigs = graft.operators.Dedup.withMinHashSignatures(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val result = graft.streaming.TwsDedup.candidatePairsCollapsed(
      sigs, ttl = Some(java.time.Duration.ofSeconds(4)))
    // ProcessingTime mode (required for TTL) schedules continuous
    // batches -- poll the sink instead of processAllAvailable
    val q = result.toDF().writeStream.format("memory").queryName("tws_ttlc")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def pairs(): Set[(Long, Long)] = spark.table("tws_ttlc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      input.addData(1L -> tDog, 2L -> tCat)
      assert(waitUntil(pairs() == Set((1L, 2L))), s"seed pair: ${pairs()}")
      // in-TTL mirror: collapses (no new pairs while entries are live)
      input.addData(3L -> tDog)
      Thread.sleep(1500)
      assert(pairs() == Set((1L, 2L)), s"in-TTL mirror leaked: ${pairs()}")
      // let every entry expire, then mirrors of BOTH contents arrive:
      // 10 re-reps dog's content into the empty bucket, 11 pairs with
      // it -- and with 1/2/3 expired, (10, 11) is the ONLY legal pair
      Thread.sleep(8000)
      input.addData(10L -> tDog, 11L -> tCat)
      assert(waitUntil(pairs().contains((10L, 11L))),
        s"post-expiry pair missing: ${pairs()}")
      assert(pairs() == Set((1L, 2L), (10L, 11L)),
        s"expired reps resurfaced: ${pairs()}")
    } finally q.stop()
    }
  }
}
