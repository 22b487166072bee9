package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ListState}

/** STREAMING trending terms: per (group, event-time window), the
  * top-`k` heaviest terms — the what's-spiking-now signal a live
  * ingest runs per source/domain/hour (burst detection, hot-topic
  * routing, crawl re-prioritization).
  *
  * An exact streaming top-k would need every distinct term's count in
  * state (unbounded: open-web window vocabularies are corpus-sized).
  * This keeps a MISRA-GRIES heavy-hitter summary instead — at most
  * `capacity` counters per (group, window), merged batch-wise: batch
  * counts fold into the summary, then if the summary exceeds
  * `capacity` the (size−capacity)-th smallest count is subtracted
  * from every counter and non-positive entries drop (the mergeable-
  * summaries form; Agarwal et al., Mergeable Summaries, PODS'12).
  * Guarantee: a stored count undercounts its true count by at most
  * εN (ε = 1/(capacity+1), N = the window's token mass), and any term
  * with true count > εN is PRESENT in the summary — so with
  * `capacity` ≫ k the emitted top-k matches the exact top-k whenever
  * true counts are separated by more than εN (spec constructs this
  * regime and asserts equality with the batch groupBy).
  *
  * Emission is event-time correct: one timer per (group, window) at
  * the window end fires when the WATERMARK passes it, emitting the
  * final ranked top-k once and clearing the state — rows arriving
  * before the watermark closes the window (in any micro-batch
  * slicing) land in the summary first. State per key is O(capacity);
  * keying by (group, window) shards the work, and because MG
  * summaries are mergeable a wider fan-out (key by (group, window,
  * term-shard), merge the k·S candidates downstream) is the
  * documented scale path when one group's window outgrows a task. */
object TwsTrending {

  case class Tok(group: String, ts: java.sql.Timestamp, term: String)
  case class Trend(group: String, window_start: Long, term: String,
                   cnt: Long, rank: Long)

  /** The Misra-Gries body of both forms: fold a micro-batch's terms into
    * the `summary` counters, decrement back to `capacity`, arm one timer
    * at the window end, and when it fires hand the `k` heaviest
    * (term, count) pairs, heaviest first, to `emit` and clear the
    * state. `term` and `windowStart` read a row and a key. */
  abstract class MisraGries[K, I, O](k: Int, capacity: Int, windowMs: Long)
      extends StatefulProcessor[K, I, O] {

    protected def term(row: I): String
    protected def windowStart(key: K): Long
    protected def emit(key: K, top: Array[(String, Long)]): Iterator[O]

    @transient private var summary: ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      summary = getHandle.getListState("summary",
        Encoders.product[(String, Long)], TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
                                 tv: TimerValues): Iterator[O] = {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      if (summary.exists())
        summary.get().foreach { case (t, c) => counts(t) = c }
      rows.foreach { r =>
        val t = term(r)
        counts(t) = counts.getOrElse(t, 0L) + 1L
      }
      if (counts.size > capacity) {
        // subtract the (size-capacity)-th smallest count from all —
        // one decrement step restores the bound, error mass <= m·gap
        val m = counts.values.toArray.sorted.apply(counts.size - capacity - 1)
        val dec = counts.collect { case (t, c) if c > m => (t, c - m) }
        counts.clear(); counts ++= dec
      }
      summary.put(counts.toArray)
      val winEnd = windowStart(key) + windowMs
      if (!getHandle.listTimers().contains(winEnd))
        getHandle.registerTimer(winEnd)
      Iterator.empty
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[O] = {
      val entries = if (summary.exists()) summary.get().toArray else Array.empty[(String, Long)]
      summary.clear()
      emit(key, entries.sortBy { case (t, c) => (-c, t) }.take(k))
    }
  }

  class MisraGriesTopK(k: Int, capacity: Int, windowMs: Long)
      extends MisraGries[(String, Long), Tok, Trend](k, capacity, windowMs) {
    protected def term(row: Tok): String = row.term
    protected def windowStart(key: (String, Long)): Long = key._2
    protected def emit(key: (String, Long),
                       top: Array[(String, Long)]): Iterator[Trend] =
      top.iterator.zipWithIndex.map { case ((t, c), i) =>
        Trend(key._1, key._2, t, c, i + 1L) }
  }

  /** (group, ts, term) rows of the watermarked docs stream, one per
    * non-empty space-separated term. */
  private def tokens(docs: DataFrame, groupCol: String, tsCol: String,
                     textCol: String, delay: String): DataFrame =
    docs
      .select(col(groupCol).cast("string").as("group"),
        col(tsCol).cast("timestamp").as("ts"), col(textCol).as("text"))
      .withWatermark("ts", delay)
      .select(col("group"), col("ts"),
        explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)

  private def windowOf(ts: java.sql.Timestamp, windowMs: Long): Long =
    ts.getTime - Math.floorMod(ts.getTime, windowMs)

  /** Streaming (group, ts, text) → closed-window trending top-k.
    * `delay` is the watermark (how long a window stays open for late
    * data after its end). */
  def trending(docs: DataFrame, groupCol: String, tsCol: String,
               textCol: String, windowDur: String, delay: String,
               k: Int = 10, capacity: Int = 256): Dataset[Trend] = {
    import docs.sparkSession.implicits._
    require(k >= 1 && capacity >= k,
      s"need capacity ($capacity) >= k ($k) >= 1")
    val windowMs = parseWindowMs(windowDur)
    tokens(docs, groupCol, tsCol, textCol, delay)
      .as[Tok]
      .groupByKey(t => (t.group, windowOf(t.ts, windowMs)))
      .transformWithState(new MisraGriesTopK(k, capacity, windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  private def parseWindowMs(windowDur: String): Long =
    org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(windowDur)) match {
      case iv =>
        require(iv.months == 0, "calendar-month windows are not fixed-width")
        iv.days * 86400000L + iv.microseconds / 1000L
    }

  // ----- sharded fan-out: the hot-group scale path ------------------

  case class ShardTok(group: String, ts: java.sql.Timestamp, term: String,
                      shard: Int)
  /** A per-shard top-k candidate — rank is assigned after the merge. */
  case class Cand(group: String, window_start: Long, term: String, cnt: Long)

  /** Per-shard Misra-Gries summary: the [[MisraGries]] body keyed
    * (group, window, term-shard), emitting its k heaviest counters as
    * UNranked candidates. */
  class MisraGriesShard(k: Int, capacity: Int, windowMs: Long)
      extends MisraGries[(String, Long, Int), ShardTok, Cand](k, capacity, windowMs) {
    protected def term(row: ShardTok): String = row.term
    protected def windowStart(key: (String, Long, Int)): Long = key._2
    protected def emit(key: (String, Long, Int),
                       top: Array[(String, Long)]): Iterator[Cand] =
      top.iterator.map { case (t, c) => Cand(key._1, key._2, t, c) }
  }

  /** The FAN-OUT form of [[trending]] for hot groups: tokens key by
    * (group, window, term-shard) with `shard = pmod(xxhash64(term),
    * shards)`, so one group's window vocabulary spreads over `shards`
    * tasks and `shards` state entries instead of pinning one task —
    * the documented scale path, now implemented. Because a term maps
    * to exactly ONE shard, shards partition the vocabulary: every
    * global top-k term is top-k within its own shard, so the union of
    * per-shard candidates (≤ k·shards rows per (group, window),
    * emitted together in the micro-batch whose watermark closes the
    * window) contains the global top-k, and [[mergeCandidates]]
    * ranks it downstream. Under the no-decrement regime (per-shard
    * distinct terms ≤ capacity) candidate counts are exact and the
    * merged result EQUALS the unsharded [[trending]] output
    * (StreamingSpec pins this); under decrement pressure each shard's
    * εN error is over its own substream mass — strictly tighter than
    * the unsharded bound at equal capacity. */
  def trendingSharded(docs: DataFrame, groupCol: String, tsCol: String,
                      textCol: String, windowDur: String, delay: String,
                      k: Int = 10, capacity: Int = 256,
                      shards: Int = 8): Dataset[Cand] = {
    import docs.sparkSession.implicits._
    require(k >= 1 && capacity >= k && shards >= 1,
      s"need capacity ($capacity) >= k ($k) >= 1 and shards ($shards) >= 1")
    val windowMs = parseWindowMs(windowDur)
    tokens(docs, groupCol, tsCol, textCol, delay)
      .withColumn("shard", pmod(xxhash64(col("term")), lit(shards)).cast("int"))
      .as[ShardTok]
      .groupByKey(t => (t.group, windowOf(t.ts, windowMs), t.shard))
      .transformWithState(new MisraGriesShard(k, capacity, windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Merge [[trendingSharded]] candidates into the final ranked top-k
    * per (group, window). BATCH-side (run it in `foreachBatch` or over
    * the persisted candidate table): all shards of a (group, window)
    * fire on the same global watermark, so their candidates land in
    * the same micro-batch and the merge never spans batches. Shards
    * partition terms, so this is a pure rank-and-take — no count
    * re-aggregation. */
  def mergeCandidates(cands: DataFrame, k: Int): DataFrame = {
    val byWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"), col("window_start"))
      .orderBy(col("cnt").desc, col("term").asc)
    cands
      .withColumn("rank", row_number().over(byWin).cast("long"))
      .filter(col("rank") <= k)
      .select(col("group"), col("window_start"), col("term"), col("cnt"),
        col("rank"))
  }
}
