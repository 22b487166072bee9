package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.GraftFunctions

/** Structured-Streaming twin of the reference job
  * (`StreamingJob.java:57-151`): CDC JSON envelopes → timestamp parse
  * → latest-value enrichment (keyed state) → watermark → tumbling
  * window aggregation.
  *
  * The reference's `KeyedCoProcessFunction` (EnrichmentJoin.java:23)
  * keeps the latest enrichment row in `ValueState` and buffers early
  * stream rows in `ListState`. Spark's equivalent keyed-state
  * primitive is `flatMapGroupsWithState`: [[enrichLatest]] unions the
  * two streams, groups by key, and keeps (latest enrichment, buffered
  * rows) as the group state — same semantics, engine-managed state
  * store (RocksDB/HDFS-checkpointed on a real cluster). It is the one
  * enrichment engine; its optional state lifetimes run on Spark's
  * processing-time group timeout.
  */
object CdcPipeline {

  /** A change record after envelope decode: join key, event time,
    * payload (JSON of after_image), which side it came from, and the
    * CDC manipulation type ('I'nsert/'U'pdate/'D'elete — sv_manip_type
    * on the wire). */
  case class Change(key: Long, eventTimeMs: Long, payload: String,
                    isEnrichment: Boolean, manip: String = "I", seq: Int = 0)

  /** An enriched output row. */
  case class Enriched(key: Long, eventTimeMs: Long, payload: String, enrichPayload: String)

  /** Keyed state: latest enrichment image, rows waiting for it, and
    * the newest delete tombstone. The tombstone must persist (not just
    * clear `latest`): a late image OLDER than the delete would
    * otherwise resurrect a deleted key within the pipeline's
    * out-of-orderness window. Image and tombstone each carry their
    * wire (op_ts, seq) so recency comparisons use the SAME total order
    * as the batch twin (`Cdc.latestImage` sorts by (op_ts, seq)) even
    * when records at one op timestamp arrive in different
    * micro-batches. Each part also keeps the processing time it was
    * written at (`latestAt`, a buffered row's first field, `deleteAt`):
    * [[enrichLatest]]'s optional lifetimes count from it. Buffered rows
    * are (writtenAtMs, eventTimeMs, payload), newest first. */
  case class EnrichState(latest: Option[(Long, Int, String)] = None,
                         latestAt: Long = 0L,
                         buffered: List[(Long, Long, String)] = Nil,
                         deleteTs: Long = Long.MinValue,
                         deleteSeq: Int = Int.MinValue,
                         deleteAt: Long = 0L) {
    def hasTombstone: Boolean = deleteTs != Long.MinValue
    def isEmpty: Boolean = latest.isEmpty && buffered.isEmpty && !hasTombstone
  }

  /** [[enrichLatest]]'s optional state lifetimes, in ms. A buffered
    * row lives for the shorter of `ttl` and `bufferTimeout`. */
  private case class Lifetimes(ttl: Option[Long], tombstoneTtl: Option[Long],
                               bufferTimeout: Option[Long]) {
    private val all = Seq(ttl, tombstoneTtl, bufferTimeout).flatten
    require(all.forall(_ > 0), "state lifetimes must be positive")
    private val buffer = (ttl ++ bufferTimeout).minOption

    def any: Boolean = all.nonEmpty

    /** `st` without the parts whose lifetime ran out by `now`, and the
      * expired buffered rows as dead letters, oldest first. */
    def expire(key: Long, st: EnrichState, now: Long): (EnrichState, List[Enriched]) =
      if (!any) (st, Nil)
      else {
        def over(at: Long, life: Option[Long]) = life.exists(at + _ <= now)
        val (dead, kept) = st.buffered.partition(b => over(b._1, buffer))
        val live = st.copy(latest = st.latest.filterNot(_ => over(st.latestAt, ttl)),
          buffered = kept)
        (if (over(st.deleteAt, tombstoneTtl))
           live.copy(deleteTs = Long.MinValue, deleteSeq = Int.MinValue)
         else live,
         dead.reverse.map(b => Enriched(key, b._2, b._3, null)))
      }

    /** The earliest time a part of `st` expires, if any part can. */
    def deadline(st: EnrichState): Option[Long] =
      (st.latest.flatMap(_ => ttl.map(st.latestAt + _)) ++
        buffer.flatMap(life => st.buffered.map(_._1 + life).minOption) ++
        tombstoneTtl.filter(_ => st.hasTombstone).map(st.deleteAt + _)).minOption
  }

  /** The pruned envelope read schema (only the fields the pipeline
    * consumes — from_json skips converting the rest). */
  private def envSchema(afterImageSchema: StructType): StructType =
    StructType(Seq(
      StructField("sv_manip_type", StringType),
      StructField("sv_trans_id", LongType),
      StructField("sv_trans_row_seq", IntegerType),
      StructField("sv_op_timestamp", StringType),
      StructField("after_image", afterImageSchema)))

  /** Typed projection of a parsed envelope struct column `e`. */
  private def envProjection(df: DataFrame): DataFrame =
    df.select(col("e.sv_manip_type").as("manip"),
      col("e.sv_trans_row_seq").as("seq"),
      GraftFunctions.parse_sqdata_ts(col("e.sv_op_timestamp")).as("op_ts"),
      col("e.after_image"))

  /** Decode the CDC JSON envelope wire format (sv_* + after_image)
    * into typed rows — the streaming twin of
    * `sources.CdcEnvelope.fromEnvelopeJson`. */
  def decodeEnvelope(raw: DataFrame, afterImageSchema: StructType): DataFrame = {
    GraftFunctions.register(raw.sparkSession)
    envProjection(
      raw.select(from_json(col("value"), envSchema(afterImageSchema)).as("e")))
  }

  /** Envelope decode with a dead-letter side: malformed JSON (or JSON
    * whose shape misses the envelope fields) cannot silently vanish in
    * a CDC pipeline — it means capture-side corruption and must be
    * routed, not dropped. `from_json` yields a null struct on parse
    * failure; rows where every envelope field is null split to the
    * dead-letter frame with the raw payload intact for replay.
    * Both outputs derive from one source frame, so in streaming each
    * can be sunk independently (results topic + DLQ topic). */
  def decodeEnvelopeWithDeadLetter(raw: DataFrame, afterImageSchema: StructType)
      : (DataFrame, DataFrame) = {
    GraftFunctions.register(raw.sparkSession)
    val parsed = raw.select(col("value"),
      from_json(col("value"), envSchema(afterImageSchema)).as("e"))
    val isDead = col("e").isNull ||
      (col("e.sv_manip_type").isNull && col("e.sv_op_timestamp").isNull &&
        col("e.after_image").isNull)
    val bad = parsed.filter(isDead).select(col("value").as("raw"))
    val good = envProjection(parsed.filter(!isDead))
    (good, bad)
  }

  /** Exactly-once event dedup for at-least-once CDC transports: drops
    * redelivered records by id inside the watermark horizon, so state
    * is bounded by (rate × watermark), not stream history — the
    * streaming twin of `operators.Dedup.exact`. */
  def dedupWithinWatermark(df: DataFrame, idCols: Seq[String],
                           eventTimeCol: String, watermark: String): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** The per-key, per-micro-batch state fold of [[enrichLatest]].
    *
    * Processes the key's batch slice in a total, DETERMINISTIC order:
    * event time, then side, then the wire transaction-row seq, then
    * deletes before images — so a delete+reinsert sharing
    * sv_op_timestamp in one micro-batch resolves by seq (the batch
    * twin's (op_ts, seq) order), and when seq is absent too, the image
    * is applied after the delete ("image wins the tie") regardless of
    * shuffle arrival order. Any total order over the slice requires
    * materializing it (a one-pass fold would tie output to shuffle
    * arrival order); one ArrayBuffer + sortInPlace keeps that to a
    * single allocation, and the slice is bounded by the micro-batch
    * (maxOffsetsPerTrigger & co. in production), not stream history.
    * Every part written here is stamped with the batch's processing
    * time `nowMs`. */
  private def foldChanges(key: Long, rows: Iterator[Change], initial: EnrichState,
                          maxBuffered: Int, nowMs: Long): (EnrichState, Seq[Enriched]) = {
    var st = initial
    val out = scala.collection.mutable.ListBuffer[Enriched]()
    // the batch twin's total order over CDC records
    def le(aTs: Long, aSeq: Int, bTs: Long, bSeq: Int): Boolean =
      aTs < bTs || (aTs == bTs && aSeq <= bSeq)
    val batch = scala.collection.mutable.ArrayBuffer.empty[Change]
    rows.foreach(batch += _)
    batch.sortInPlaceBy(c =>
      (c.eventTimeMs, c.isEnrichment, c.seq, if (c.manip == "D") 0 else 1))
    batch.foreach { c =>
      if (c.isEnrichment) {
        if (c.manip == "D") {
          // CDC delete tombstone: drop the image so later stream
          // rows buffer until a new one lands — mirrors the batch
          // twin (Cdc.latestImage drops deleted keys). The
          // tombstone (op_ts, seq) persists so an out-of-order
          // image older than the delete cannot resurrect the key
          // even when it arrives in a later micro-batch.
          if (st.latest.forall { case (ts, sq, _) =>
            le(ts, sq, c.eventTimeMs, c.seq) }) st = st.copy(latest = None)
          if (!le(c.eventTimeMs, c.seq, st.deleteTs, st.deleteSeq))
            st = st.copy(deleteTs = c.eventTimeMs, deleteSeq = c.seq, deleteAt = nowMs)
        } else if (le(st.deleteTs, st.deleteSeq, c.eventTimeMs, c.seq) &&
          st.latest.forall { case (ts, sq, _) =>
            le(ts, sq, c.eventTimeMs, c.seq) }) {
          // image applies only if at-or-after the newest delete in
          // (op_ts, seq) order (image wins an exact delete/image
          // tie, matching the batch twin where the later record
          // of a transaction wins)
          st = st.copy(latest = Some((c.eventTimeMs, c.seq, c.payload)), latestAt = nowMs)
          if (st.buffered.nonEmpty) {
            st.buffered.reverse.foreach { case (_, t, p) =>
              out += Enriched(key, t, p, c.payload)
            }
            st = st.copy(buffered = Nil)
          }
        }
      } else st.latest match {
        case Some((_, _, ep)) => out += Enriched(key, c.eventTimeMs, c.payload, ep)
        case None =>
          // buffered is newest-first; cap drops the oldest
          st = st.copy(buffered =
            ((nowMs, c.eventTimeMs, c.payload) :: st.buffered).take(maxBuffered))
      }
    }
    (st, out.toList)
  }

  /** Latest-value enrichment join over two keyed change streams.
    * Stream rows that arrive before their enrichment are buffered in
    * state and flushed when it lands (ref EnrichmentJoin.java:64-95).
    *
    * State is per-key and BOUNDED: `maxBuffered` caps the early-row
    * buffer (oldest dropped first) so a key whose enrichment never
    * arrives cannot grow state without limit — at 100 TB the state
    * store shards by key across executors and per-key state must stay
    * O(1). The reference's ListState has no such bound; this is the
    * production-hardened form.
    *
    * Three optional processing-time lifetimes bound state by rate ×
    * lifetime instead of keyspace. A part past its lifetime reads as
    * absent: it never joins, and a key with nothing left is removed.
    *  - `ttl`: the image and each buffered row live this long after
    *    they are written.
    *  - `tombstoneTtl`: the delete tombstone's lifetime. Without it the
    *    tombstone (16 B/key) is kept forever, so the resurrection guard
    *    holds unconditionally. Set it MUCH longer than `ttl` (≥ 3×):
    *    inside the window the guard is unchanged, but an enrichment row
    *    staler than the window could resurrect a deleted key.
    *  - `bufferTimeout`: a stream row that waits this long for its image
    *    leaves the buffer.
    * An expired buffered row (by `ttl` or `bufferTimeout`) is emitted
    * as a DEAD LETTER with `enrichPayload = null` — the downstream
    * splits on `enrichPayload IS NULL` (results vs DLQ), the routing
    * contract of [[decodeEnvelopeWithDeadLetter]] — and a late image
    * does not re-emit it.
    *
    * With no lifetime set the operator runs `GroupStateTimeout.NoTimeout`
    * and ordinary data-driven batches. With any set it runs
    * `ProcessingTimeTimeout`, each key armed at its earliest deadline;
    * the engine then keeps scheduling no-data batches to fire timeouts,
    * so `processAllAvailable()` never quiesces — poll the sink.
    *
    * CHECKPOINT COMPATIBILITY: the state schema is [[EnrichState]]. A
    * checkpoint written before its write-time fields existed cannot
    * restart this operator (Spark's state schema check rejects it);
    * start such a query from a fresh checkpoint directory. */
  def enrichLatest(changes: Dataset[Change], maxBuffered: Int = 1000,
                   ttl: Option[Duration] = None, tombstoneTtl: Option[Duration] = None,
                   bufferTimeout: Option[Duration] = None): Dataset[Enriched] = {
    import changes.sparkSession.implicits._
    val life = Lifetimes(ttl.map(_.toMillis), tombstoneTtl.map(_.toMillis),
      bufferTimeout.map(_.toMillis))
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[EnrichState, Enriched](OutputMode.Append,
        if (life.any) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Change], state: GroupState[EnrichState]) =>
          val now = state.getCurrentProcessingTimeMs()
          val (live, dead) = life.expire(key, state.getOption.getOrElse(EnrichState()), now)
          val (st, out) = foldChanges(key, rows, live, maxBuffered, now)
          if (st.isEmpty) state.remove()
          else {
            state.update(st)
            life.deadline(st).foreach(d => state.setTimeoutDuration(d - now))
          }
          dead.iterator ++ out.iterator
      }
  }

  /** Pipeline observability: named engine-computed metrics attached to
    * the enriched stream — per micro-batch they ride
    * `StreamingQueryProgress.observedMetrics` (and `observe` costs no
    * extra pass: the aggregates ride the existing plan). The
    * production monitoring hook: rows emitted, keys touched
    * (approximate — sketch, O(1) state), event-time span for lag
    * tracking. Works identically on the batch twin. */
  def observed(enriched: Dataset[Enriched],
               name: String = "cdc_enriched"): Dataset[Enriched] =
    enriched.observe(name,
      count(lit(1)).as("n_rows"),
      approx_count_distinct(col("key")).as("n_keys"),
      min(col("eventTimeMs")).as("min_event_ms"),
      max(col("eventTimeMs")).as("max_event_ms"))

  /** Watermarked tumbling aggregation over the enriched stream — the
    * reference's `output.sql` TUMBLE with 10-minute out-of-orderness
    * (`StreamingJob.java:119-126`): rows later than the watermark are
    * dropped by the engine. */
  def windowedTotals(enriched: Dataset[Enriched],
                     watermarkDelay: String = "10 minutes",
                     width: String = "10 minutes"): DataFrame = {
    import enriched.sparkSession.implicits._
    enriched
      .withColumn("event_time", timestamp_millis(col("eventTimeMs")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), width), col("enrichPayload").as("group_key"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("window.start").as("order_period"), col("group_key"), col("n_rows"))
  }
}
