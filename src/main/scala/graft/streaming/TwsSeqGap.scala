package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** STREAMING SEQUENCE-GAP audit — the live twin of the batch
  * completeness check (C101 `seq_gap_audit`): per 1000-id block of the
  * change-sequence space, how many rows actually arrived vs the block
  * width — the "did every upstream change make it" monitor a CDC
  * consumer runs CONTINUOUSLY instead of per-snapshot.
  *
  * A block is FINAL when the watermark proves no more of its rows can
  * arrive: each micro-batch that touches a block advances the block's
  * max event time and registers a timer at `maxTs + settle + 1`; a
  * firing timer finalizes ONLY if it is the newest one (expiry covers
  * the stored maxTs — an older timer fires and defers). On
  * finalization the block emits
  * `(block_id, n_present, n_missing = blockSize − n_present)`
  * and clears its count state; a FINALIZED TOMBSTONE (one long: the
  * finalization time) survives for `tombstoneTtlSecs` so stragglers
  * can't silently replay a full audit. Event time is NOT monotone in
  * block id for a CDC stream, so a straggler with a fresh (non-late)
  * timestamp CAN re-open a finalized block — while the tombstone
  * lives, the re-opened block's eventual emission is DELTA-TAGGED:
  * `(block_id, n_delta, −n_delta)`, deliveries beyond the recorded
  * audit. Summing n_missing per block_id stays exact across the pair
  * (blockSize − n₁ − n₂), and the delta row's n_missing = −n_present
  * marks it unambiguously; downstream must aggregate rows per
  * block_id (deliveries semantics). A straggler arriving AFTER the
  * tombstone expires emits a fresh full audit — the TTL bounds state,
  * so that residual dupe-row risk is the documented trade (r13
  * advice). `n_missing < 0` also flags DUPLICATE delivery on a live
  * block (at-least-once upstreams) — the batch audit can't see dupes
  * that a groupBy collapses upstream, the stream counts deliveries.
  *
  * Streaming-vs-batch boundary contract: the stream audits INTERIOR
  * blocks (expected = blockSize); the batch form clamps the first and
  * last block to the observed [min, max] — an unbounded stream has no
  * gmax, so edge blocks read low here (documented, spec-pinned on
  * interior blocks). State per in-flight block: two longs + pending
  * timers; blocks shard by id hash across executors, so 100 TB/day of
  * changes costs (ids-in-flight / blockSize) counters, not a corpus
  * buffer — the cheapest state shape of any Tws operator.
  */
object TwsSeqGap {

  case class Ev(block_id: Long, ts: java.sql.Timestamp)
  case class BlockAudit(block_id: Long, n_present: Long, n_missing: Long)

  class Auditor(blockSize: Long, settleMs: Long, tombstoneTtlMs: Long)
      extends StatefulProcessor[Long, Ev, BlockAudit] {

    // (n_present so far, max event-time ms seen)
    @transient private var st: ValueState[(Long, Long)] = _
    // finalized tombstone: event-time ms at which the block last
    // finalized; expires tombstoneTtlMs later via a self-registered
    // timer (event-time mode has no state TTL — the timer IS the TTL)
    @transient private var fin: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState("st",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      fin = getHandle.getValueState("fin",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[BlockAudit] = {
      val timers = scala.collection.mutable.Set.empty[Long]
      timers ++= getHandle.listTimers()
      var n = 0L
      var mx = Long.MinValue
      rows.foreach { r =>
        n += 1
        val ms = r.ts.getTime
        if (ms > mx) mx = ms
      }
      val (pn, pmx) =
        if (st.exists()) st.get() else (0L, Long.MinValue)
      val nmx = math.max(pmx, mx)
      st.update((pn + n, nmx))
      // +1: a row exactly at maxTs + settle is still provably on time
      val at = nmx + settleMs + 1
      if (timers.add(at)) getHandle.registerTimer(at)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[BlockAudit] = {
      if (!st.exists()) {
        // no live count state: this can only be a tombstone-expiry
        // timer — clear the finalized flag once it has outlived its
        // TTL (an older finalize timer for a re-opened block lands
        // here too and correctly defers: expiry < fin + ttl)
        if (fin.exists() && info.getExpiryTimeInMs() >= fin.get() + tombstoneTtlMs)
          fin.clear()
        return Iterator.empty
      }
      val (n, mx) = st.get()
      // only the NEWEST timer finalizes — an older one fired while a
      // later batch had already extended the block's horizon
      if (info.getExpiryTimeInMs() < mx + settleMs + 1) Iterator.empty
      else {
        st.clear()
        // while the tombstone lives, a re-opened block emits a
        // DELTA-tagged row (n_missing = −n_delta) instead of a second
        // full audit; the (re)finalization re-arms the tombstone
        val out =
          if (fin.exists()) BlockAudit(key, n, -n)
          else BlockAudit(key, n, blockSize - n)
        fin.update(info.getExpiryTimeInMs())
        getHandle.registerTimer(info.getExpiryTimeInMs() + tombstoneTtlMs)
        Iterator.single(out)
      }
    }
  }

  /** Streaming change frame (`event_id, ts`) → watermark-final
    * per-block completeness audits. `delay` is the watermark lateness
    * allowance; `settleSecs` is how long after a block's newest row
    * the block is considered closed; `tombstoneTtlSecs` is how long a
    * finalized block remembers it finalized (stragglers within the
    * TTL emit delta-tagged rows, see class doc). */
  def audit(events: DataFrame, blockSize: Long, settleSecs: Long,
            delay: String, tombstoneTtlSecs: Long = 86400L): Dataset[BlockAudit] = {
    import events.sparkSession.implicits._
    events
      .select(expr(s"event_id div $blockSize").as("block_id"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", delay)
      .as[Ev]
      .groupByKey(_.block_id)
      .transformWithState(
        new Auditor(blockSize, settleSecs * 1000L, tombstoneTtlSecs * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
