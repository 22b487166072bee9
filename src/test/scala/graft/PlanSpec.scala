package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-posture assertions on the physical plans: pushdown reaches
  * the parquet scan, small dims broadcast, hot paths stay inside
  * WholeStageCodegen, and dedup shuffles hashes rather than bodies. */
class PlanSpec extends SparkTestBase {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted") match {
      case m => qe.explainString(m)
    }
  }

  test("PlanDump text is comparable: one key dumped after two different " +
    "predecessors reads identically") {
    // each predecessor advances the session's expression-id, plan-id
    // and RDD-id counters by a different amount
    def after(pred: String): String = {
      PlanDump.dump(spark, sfDir, pred, "pred")
      PlanDump.dump(spark, sfDir, "q5_supplier_volume", "x")
    }
    val a = after("q1_pricing")
    val b = after("tumble_agg")
    assert(a.contains("plan_id=1]") && a.contains("#1"), a)
    assert(a == b, s"dumps differ:\n$a\n---\n$b")
  }

  test("q1_pricing: filter pushed to parquet scan, pruned read schema") {
    val df = SparkEntry.queries("q1_pricing")(spark, sfDir)
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filter in:\n$plan")
    // only the 7 needed columns of 11 are read
    assert(!plan.contains("l_orderkey"), "read schema not pruned")
    // codegen spans only materialize in the AQE final plan → execute
    // THIS df (count() would build a separate query execution)
    df.collect()
    // "*(n)" prefixes mark WholeStageCodegen stages in the tree string
    val executed = planOf(df)
    assert(executed.contains("*(1)") && executed.contains("*(2)"), executed)
  }

  test("runtime bloom filter: a selective build side injects a row-level " +
    "filter into the fact scan") {
    // Spark's runtime row-level filtering: when a shuffled join's
    // build side carries a selective predicate, the optimizer plants
    // a bloom-filter aggregate on it and pushes might_contain into
    // the fact side's scan — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~matching
    // slice. Local datasets sit under the size thresholds and
    // broadcast joins don't need the filter, so the test lowers the
    // application-side threshold and disables auto-broadcast to reach
    // the shuffled-join regime the big cluster would be in.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = graft.sources.Tables.lineitem(spark, sfDir)
      val dim = graft.sources.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("scd2_intervals: the whole version chain costs one key shuffle") {
    val df = SparkEntry.queries("scd2_intervals")(spark, sfDir)
    val plan = planOf(df)
    // changelog synthesis is explode-in-scan; the lead window is the
    // only exchange — same single-shuffle shape as latest-image
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"$shuffles shuffles in:\n$plan")
  }

  test("scd2_pit_join: the versioned dimension broadcasts — probes never shuffle for it") {
    val df = SparkEntry.queries("scd2_pit_join")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the interval predicate rides the broadcast join as a filter, not
    // a nested-loop pass
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("incr_agg_merge: both partials and the merge keep map-side aggregation") {
    val df = SparkEntry.queries("incr_agg_merge")(spark, sfDir)
    val plan = planOf(df)
    assert("partial".r.findAllIn(plan.toLowerCase).nonEmpty,
      s"no partial aggregation in:\n$plan")
    // state + delta partials then one merge groupBy — never a raw
    // row union reaggregated from scratch more than once
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected partial+final aggs on both branches:\n$plan")
  }

  test("q5_supplier_volume: dimension joins are broadcast") {
    val df = SparkEntry.queries("q5_supplier_volume")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("enrich_join: deduped dims broadcast — no shuffle of the fact side for dims") {
    val df = SparkEntry.queries("enrich_join")(spark, sfDir)
    assert(planOf(df).contains("BroadcastHashJoin"))
  }

  test("dedup_exact: shuffle carries the 64-bit hash, not the text") {
    val df = operators.Dedup.exact(
      sources.Tables.documents(spark, sfDir), "text", "doc_id")
    val plan = planOf(df)
    assert(plan.contains("xxhash64"))
    // map-side partial_min runs BELOW the exchange (later in tree
    // text), so each row crosses the shuffle as (hash, min-id) — the
    // text column never leaves the scan stage
    val exch = plan.indexOf("Exchange hashpartitioning")
    val partial = plan.indexOf("partial_min")
    assert(exch >= 0 && partial > exch, s"no map-side combine before shuffle:\n$plan")
    val exchangeLine = plan.linesIterator.find(_.contains("Exchange hashpartitioning")).get
    assert(exchangeLine.contains("_groupingexpression"), exchangeLine)
  }

  test("topn_orders plans as TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("topn_orders")(spark, sfDir)
    assert(planOf(df).contains("TakeOrderedAndProject"))
  }

  test("tumble_agg: partial aggregation before the shuffle") {
    val df = SparkEntry.queries("tumble_agg")(spark, sfDir)
    val plan = planOf(df)
    val firstAgg = plan.indexOf("HashAggregate")
    val exch = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exch >= 0 && plan.indexOf("HashAggregate", exch) > exch,
      "expected partial+final HashAggregate around the exchange")
  }

  test("asof_join costs exactly one shuffle") {
    val df = SparkEntry.queries("asof_join")(spark, sfDir)
    val plan = planOf(df)
    // union both sides, one hash partitioning on the key for the
    // running-last window — duplicates resolve in-window, no pre-dedup
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"$shuffles shuffles in:\n$plan")
  }

  test("brute-force ANN broadcasts the query set (no corpus shuffle)") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val df = operators.Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("decontaminate: probe grams broadcast; corpus side joins without a pre-join shuffle") {
    val docs = sources.Tables.documents(spark, sfDir)
    val df = operators.Dedup.contaminatedDocs(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", n = 8)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the corpus branch (the ":-" side of the join) must be
    // exchange-free: corpus grams flow scan → explode → join without
    // ever shuffling; the only exchanges are the tiny probe distinct
    // (inside the BroadcastExchange subtree) and the post-join count
    val corpusBranch = plan.linesIterator
      .filter(l => l.contains(":-") || l.startsWith(":") || l.contains(":  "))
      .mkString("\n")
    assert(!corpusBranch.contains("Exchange hashpartitioning"),
      s"corpus grams shuffled before join:\n$plan")
  }

  test("repetition: per-row only — no exchange beyond the explicit fan-out") {
    val df = operators.TextAnalysis.repetition(
      sources.Tables.documents(spark, sfDir), "text", "doc_id")
    val plan = planOf(df)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("source_mix_sample: bounded-heap aggregate, no per-source window sort") {
    val df = SparkEntry.queries("source_mix_sample")(spark, sfDir)
    val plan = planOf(df)
    // the TypedImperativeAggregate plans as ObjectHashAggregate with a
    // map-side partial — k encoded longs per source cross the shuffle
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("top_k"), plan)
    // the old formulation's scaling hazard: a Window (row_number) sorts
    // every source partition — it must be gone
    assert(!plan.contains("Window"), plan)
  }

  test("embed_lsh_ann: multiprobe queries broadcast; corpus joined without pre-shuffle") {
    val df = SparkEntry.queries("embed_lsh_ann")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchange allowed is the post-join rerank window on
    // query_id (candidate pairs, tiny); the corpus scan side must not
    // shuffle before the bucket join
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"corpus shuffled before the bucket join:\n$plan")
  }

  test("tfidf_topk: df joins broadcast (no tf reshuffle by Zipf-skewed term); tf exchange reused") {
    val q = SparkEntry.queries("tfidf_topk")(spark, sfDir)
    val plan = formatted(q)
    // vocab-sized df broadcasts — the corpus-sized tf table is never
    // hash-partitioned by term (Zipf: the hottest term's partition
    // would be a single giant task)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // rank<=k runs as WindowGroupLimit (per-doc top-k, not full sort)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("ReadSchema: struct<>"), "count scan should read no columns")
    // AQE serves the (id, term) tf shuffle to both the tf branch and
    // the df re-aggregation from one materialized stage — the
    // scan+explode subtree runs once despite appearing twice
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      executed.contains("ReusedShuffle"), executed)
  }

  test("rarity_score: rank table broadcasts; tf exchange reused across branches") {
    val q = SparkEntry.queries("rarity_score")(spark, sfDir)
    val plan = formatted(q)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      executed.contains("ReusedShuffle"), executed)
  }

  test("rarity standing entries run the head-floored vocab window " +
    "(bounded input at any corpus size)") {
    // the unpartitioned rank window is safe ONLY because its input is
    // the minCount-floored vocabulary head (<= corpus_tokens/minCount);
    // pin that both standing keys plan a count filter UNDER the window
    // and broadcast the rank table — the bigram site especially, whose
    // raw vocabulary grows ~linearly with an open-web corpus
    for (key <- Seq("rarity_score", "bigram_rarity")) {
      val q = SparkEntry.queries(key)(spark, sfDir)
      val plan = formatted(q)
      assert(plan.contains("BroadcastHashJoin"), s"$key:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$key:\n$plan")
      // the head floor reached the optimized plan as a filter on the
      // vocab count feeding the window (not applied after ranking)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains(">= 3"), s"$key head floor missing:\n$opt")
    }
  }

  test("approx_sketch: percentile buffers aggregate per GROUP, never per (group, user)") {
    // regression pin for the r11 reshape: fusing countDistinct with
    // the sketch aggs makes Spark's single-distinct rewrite key the
    // partial aggregate by (event_type, user_id) — one 10000-accuracy
    // QuantileSummaries buffer per user (17x slower at sf0.1)
    val q = SparkEntry.queries("approx_sketch")(spark, sfDir)
    // executedPlan renders each aggregate as one line:
    // ObjectHashAggregate(keys=[...], functions=[...])
    val plan = q.queryExecution.executedPlan.toString
    val badAgg = plan.linesIterator.exists { l =>
      val keys = l.indexOf("keys=[")
      val funcs = l.indexOf("functions=[")
      keys >= 0 && funcs > keys &&
        l.substring(keys, funcs).contains("user_id") &&
        l.substring(funcs).contains("percentile_approx")
    }
    assert(!badAgg, s"sketch buffers keyed by user_id:\n$plan")
    assert(plan.contains("percentile_approx"), plan)
  }

  test("dedup_minhash_lsh: no sort-based aggregate buffers signature arrays") {
    // regression pin for the r11 sigGroups reshape: min(struct) over
    // array-carrying payloads falls back to SortAggregate, whose
    // per-partition sort buffers every (hs, sig) — OOM'd the 1000x
    // sweep at the default heap
    val q = SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    val badSortAgg = executed.linesIterator.exists(l =>
      l.contains("SortAggregate") && (l.contains("hs") || l.contains("sig")))
    assert(!badSortAgg, s"sort-based aggregate carries signature arrays:\n$executed")
  }

  test("vocab_coverage: rank window input is the collapsed vocab frame, one corpus shuffle") {
    val q = SparkEntry.queries("vocab_coverage")(spark, sfDir)
    val plan = formatted(q)
    // one corpus-sized shuffle only (the word count, map-side partial);
    // the unpartitioned rank/cumsum window runs over the POST-AGG
    // vocabulary frame, so no range sort and no second corpus exchange
    assert(plan.linesIterator.count(_.contains("hashpartitioning")) == 1, plan)
    assert(!plan.contains("rangepartitioning"), plan)
    q.collect()
    // the single-partition window's child chain is the collapsed
    // HashAggregate (vocab-sized), never the raw explode
    val executed = q.queryExecution.executedPlan.toString
    val winIdx = executed.indexOf("Window")
    assert(winIdx >= 0, executed)
    val below = executed.substring(winIdx)
    assert(below.indexOf("HashAggregate") >= 0 &&
      below.indexOf("HashAggregate") < below.indexOf("Generate"),
      s"window input should be the collapsed vocab frame:\n$executed")
  }

  test("dup_spans: gram frequency and per-doc rollup shuffle 8-byte hashes, never text") {
    val plan = formatted(SparkEntry.queries("dup_spans")(spark, sfDir))
    val shuffles = plan.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(_.contains("text")),
      s"a shuffle carries document text:\n${shuffles.mkString("\n")}")
  }

  test("decontam_spans: probe grams broadcast into a semi join; no corpus shuffle by gram") {
    val plan = formatted(SparkEntry.queries("decontam_spans")(spark, sfDir))
    // the benchmark-gram membership probe is a broadcast LeftSemi —
    // the corpus's exploded gram positions are tested in place
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"probe-gram membership is not a broadcast semi join:\n$plan")
    // the only hash exchanges are id-keyed (interval merge window +
    // span rollup + trim join) — never keyed by the gram hash
    val shuffles = plan.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(shuffles.forall(s => s.contains("id") || s.contains("doc_id")),
      s"a shuffle is not id-keyed:\n${shuffles.mkString("\n")}")
  }

  test("train_shuffle: single shard-keyed exchange, per-shard sort only") {
    val plan = formatted(SparkEntry.queries("train_shuffle")(spark, sfDir))
    assert(plan.linesIterator.count(_.contains("hashpartitioning")) == 1, plan)
    assert(!plan.contains("rangepartitioning"), "no global sort expected:\n" + plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      "scan should read only doc_id")
  }

  test("bm25_topk: df broadcasts back; global top-k is take-ordered, not a full sort") {
    val q = SparkEntry.queries("bm25_topk")(spark, sfDir)
    val plan = formatted(q)
    // df and the corpus totals join back as broadcasts — the tf side
    // is never reshuffled by term
    assert(plan.contains("BroadcastHashJoin"), plan)
    // rank <= k rewrites to per-partition top-k: either the window
    // group limit or (better) the LimitPushDownThroughWindow form,
    // TakeOrderedAndProject — never a global rangepartitioned sort
    assert(plan.contains("WindowGroupLimit") ||
      plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("key_skew_profile: top-N take-ordered; count exchange feeds both branches") {
    val q = SparkEntry.queries("key_skew_profile")(spark, sfDir)
    val plan = formatted(q)
    assert(plan.contains("WindowGroupLimit") ||
      plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      executed.contains("ReusedShuffle"), executed)
  }

  test("q10_returns: global top-20 is take-ordered; filters push to both fact scans") {
    val q = SparkEntry.queries("q10_returns")(spark, sfDir)
    val plan = formatted(q)
    assert(plan.contains("WindowGroupLimit") ||
      plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    // both pushed predicates reach their scans
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(l_returnflag,R)"), plan)
  }

  test("q18_big_orders: the HAVING-filtered aggregate broadcasts back") {
    val q = SparkEntry.queries("q18_big_orders")(spark, sfDir)
    q.collect()
    // AQE sees the post-threshold aggregate is tiny and broadcasts it
    // against the fact chain instead of shuffling the facts again
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"), executed)
  }

  test("q8_market_share: every dim role broadcasts — nations twice, region, part") {
    val q = SparkEntry.queries("q8_market_share")(spark, sfDir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    val nBroadcast = executed.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, got $nBroadcast:\n$executed")
    // the share comes from ONE conditional aggregation pass, not a
    // second scan branch: exactly one lineitem scan in the plan
    val scans = formatted(q).linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans")
  }

  test("q17_small_qty: per-part thresholds broadcast back (decorrelated scalar subquery)") {
    val q = SparkEntry.queries("q17_small_qty")(spark, sfDir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"), executed)
    assert(!executed.contains("CartesianProduct"), executed)
  }

  test("q21_sole_fault: double correlation decorrelates — no nested-loop, one stats aggregate") {
    val q = SparkEntry.queries("q21_sole_fault")(spark, sfDir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(!executed.contains("CartesianProduct") &&
      !executed.contains("BroadcastNestedLoopJoin"), executed)
    // the R-flag predicate pushes into the probe-side lineitem scan
    val plan = formatted(q)
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
  }

  test("q22_dormant: recency anti join with the date pushed to the orders scan") {
    val q = SparkEntry.queries("q22_dormant")(spark, sfDir)
    val plan = formatted(q)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("pmi_topk: one unigram broadcast reused for both join sides and the total; top-k take-ordered") {
    val q = SparkEntry.queries("pmi_topk")(spark, sfDir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    // cnt_a and cnt_b join from ONE broadcast of the unigram counts
    // (the second side is a ReusedExchange), and the corpus total
    // re-aggregates the same unigram exchange — the word counts are
    // computed exactly once
    assert(executed.contains("BroadcastHashJoin"), executed)
    assert(executed.linesIterator.count(_.contains("ReusedExchange")) >= 2, executed)
    // rank <= k rewrites to TakeOrderedAndProject (LimitPushDown
    // ThroughWindow): per-partition top-50 then merge, no global sort
    assert(executed.contains("TakeOrderedAndProject") ||
      executed.contains("WindowGroupLimit"), executed)
    assert(!executed.contains("rangepartitioning"), executed)
  }

  test("embed_gram: the triangle aggregates map-side (partial ObjectHashAggregate)") {
    val plan = planOf(SparkEntry.queries("embed_gram")(spark, sfDir))
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial phase BELOW the single-partition exchange — only
    // partitions × dim²/2 longs cross the wire, the C70 contract
    val lower = plan.toLowerCase
    assert(lower.contains("objecthashaggregate"), s"no object agg in:\n$plan")
    assert("partial_gram_matrix".r.findAllIn(lower).nonEmpty,
      s"no partial gram_matrix phase in:\n$plan")
    // and no explode/generate anywhere upstream of the aggregate —
    // the naive dim²-amplification shape must be absent
    val gen = plan.indexOf("Generate")
    val agg = plan.toLowerCase.indexOf("partial_gram_matrix")
    assert(gen == -1 || gen < agg,
      s"row-amplifying Generate feeds the aggregate:\n$plan")
  }

  test("embed_covar: post-aggregate joins broadcast the triangle slices") {
    val plan = planOf(SparkEntry.queries("embed_covar")(spark, sfDir))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size +
      "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected sums×2 + n broadcasts, got $bhj in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"triangle self-join fell back to SMJ:\n$plan")
  }

  test("graph_triangles: every join keyed — no cartesian; counts shuffle as longs") {
    val plan = planOf(SparkEntry.queries("graph_triangles")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"wedge/closure joins must stay keyed:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in the triangle path:\n$plan")
  }

  test("heavy_hitters: the sketch aggregates map-side (partial ObjectHashAggregate)") {
    val plan = planOf(SparkEntry.queries("heavy_hitters")(spark, sfDir))
    val lower = plan.toLowerCase
    // the k-counter summary combines BEFORE the single-partition
    // exchange — partitions × k pairs cross the wire, the C79 contract
    assert(lower.contains("objecthashaggregate"), s"no object agg in:\n$plan")
    assert("partial_mg_sketch".r.findAllIn(lower).nonEmpty,
      s"no partial mg_sketch phase in:\n$plan")
  }

  test("source_drift: post-profile grid is broadcast-joined, zero corpus rescans") {
    val df = SparkEntry.queries("source_drift")(spark, sfDir)
    val plan = planOf(df)
    // the bucketed profile is localCheckpointed: everything after it
    // reads the in-memory RDD, so NO parquet scan may appear in the
    // final plan — the one corpus pass happened at checkpoint time
    assert(!plan.toLowerCase.contains("filescan"),
      s"corpus rescan after the profile checkpoint:\n$plan")
    // the zero-cell grid comes from broadcast joins of bounded frames
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"grid not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast cross join:\n$plan")
  }

  test("pareto_front: front joins back as broadcast; the only window runs over the size frame") {
    val plan = planOf(SparkEntry.queries("pareto_front")(spark, sfDir))
    // the ~50-row front frame must broadcast back onto parts — a
    // shuffle join here would repartition the whole part table to
    // recover 5 rows
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the running-min walk is over the distinct-size aggregate
    // (size-vocabulary bounded — the global window sits above a
    // HashAggregate, never above the raw scan), and the raw parts are
    // never globally sorted
    // (tree prints parent-first, so the feeding aggregate appears
    // BELOW the Window line)
    val winIdx = plan.indexOf("Window")
    assert(winIdx > 0 && plan.indexOf("HashAggregate", winIdx) > 0,
      s"size-frame aggregate must feed the window:\n$plan")
  }

  test("ri_audit: every FK edge collapses the child map-side before one " +
       "outer join of distinct keys; bounded dims broadcast") {
    val plan = planOf(SparkEntry.queries("ri_audit")(spark, sfDir))
    // r17 shape: per constraint the child collapses to (key, cnt) —
    // a keyed partial+final HashAggregate — and orphan detection is
    // ONE LeftOuter join of distinct keys vs the distinct parent
    // (never an anti join over raw child rows: that shape's shuffle
    // is broadcast-dependent and shuffles raw rows when the parent
    // can't broadcast — RIPROBE_r17). 7 constraints → ≥7 outer joins.
    assert("LeftOuter".r.findAllIn(plan).size >= 7,
      s"expected 7 outer joins of collapsed keys:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"raw-row anti join crept back into the audit:\n$plan")
    // the collapse really is map-side: a partial_count keyed aggregate
    // sits under each child scan
    assert("partial_count".r.findAllIn(plan).size >= 7,
      s"child collapse must partial-aggregate map-side:\n$plan")
    // the nation/region parents pin the broadcast side explicitly
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("burst_hours: two aggregations + keyed join — no window over raw events") {
    val plan = planOf(SparkEntry.queries("burst_hours")(spark, sfDir))
    // the per-entity baseline comes from re-aggregating the bounded
    // (user, hour) frame, never from a per-user window pass over the
    // raw event stream
    assert(!plan.contains("Window"), s"window crept into the burst plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("assortativity: keyed degree joins, single moment aggregate, no cartesian") {
    val plan = planOf(SparkEntry.queries("assortativity")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the five moments fold in ONE aggregate pass over the symmetrized
    // pairs (partial + final HashAggregate), not per-moment scans
    assert("partial_(sum|count)".r.findAllIn(plan).nonEmpty
      || plan.contains("HashAggregate"), plan)
  }

  test("seasonality_profile: totals re-aggregate the checkpointed frame — zero second scans") {
    val plan = planOf(SparkEntry.queries("seasonality_profile")(spark, sfDir))
    // the hod frame is localCheckpointed; everything above it reads
    // the in-memory RDD — no parquet scan may appear (C77 posture)
    assert(!plan.toLowerCase.contains("filescan"),
      s"corpus rescan after the hod checkpoint:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("rolling_retention: distinct once, keyed self-join, no window and no cartesian") {
    val plan = planOf(SparkEntry.queries("rolling_retention")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("fanOut gates on scan parallelism: no-op on pre-split input") {
    val docs = sources.Tables.documents(spark, sfDir)
    val par = spark.sparkContext.defaultParallelism
    // the driver's single-row-group file: one split → fan out
    assert(docs.rdd.getNumPartitions < math.max(1, par / 2),
      "precondition: testdata should read as a single split")
    val fanned = sources.Tables.fanOut(docs)
    assert(fanned.rdd.getNumPartitions == par)
    assert(planOf(fanned).contains("Exchange RoundRobinPartitioning"))
    // production-lake shape (input already split): the SAME call adds
    // ZERO exchange — it returns the input plan untouched
    val preSplit = docs.repartition(par)
    val gated = sources.Tables.fanOut(preSplit)
    assert(gated eq preSplit, "fanOut should return the input frame unchanged")
    assert(planOf(gated).linesIterator.count(_.contains("Exchange")) ==
      planOf(preSplit).linesIterator.count(_.contains("Exchange")))
  }

  test("rrf_fusion: queries broadcast, both leg ranks share ONE " +
    "query-keyed shuffle, fused top-N plans as WindowGroupLimit") {
    val df = SparkEntry.queries("rrf_fusion")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"query set not broadcast:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"both leg ranks must share one shuffle, " +
      s"got $shuffles in:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"fused rank filter should push a group limit:\n$plan")
  }

  test("interval_union: one key shuffle; island scan and summary " +
    "reuse the sort") {
    val df = SparkEntry.queries("interval_union")(spark, sfDir)
    val plan = planOf(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    // one window shuffle on the key + the island-id groupBy reuses
    // the same partitioning (islands keyed by (key, island_id) hash
    // to a superset — Spark may add one agg exchange, never more)
    assert(shuffles <= 2, s"$shuffles shuffles in:\n$plan")
    assert("Window".r.findAllIn(plan).size >= 1)
  }

  test("acf_hourly / daily_trend: all algebra runs on the bounded " +
    "spine frame — totals broadcast back, no second corpus scan") {
    for (k <- Seq("acf_hourly", "daily_trend")) {
      val plan = planOf(SparkEntry.queries(k)(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"), s"$k: totals not broadcast:\n$plan")
      // the corpus scan happened once at spine materialization
      // (localCheckpoint → ExistingRDD) or feeds exactly one agg
      assert(!plan.contains("SortMergeJoin"),
        s"$k: bounded-frame joins must not sort-merge:\n$plan")
    }
  }

  test("node_jaccard: top-k is TakeOrdered, never a global sort; no " +
    "single-partition stage anywhere in the wedge pipeline") {
    val df = SparkEntry.queries("node_jaccard")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition TakeOrdered:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"wedge pipeline must stay partitioned:\n$plan")
  }

  test("seasonal_outliers: one corpus aggregation with map-side combine, " +
    "cohort stats broadcast back — no window, no second shuffle of events") {
    val df = SparkEntry.queries("seasonal_outliers")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"moment agg must partial-aggregate map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cohort stats must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"no window over the event log:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"stats join must not sort-merge:\n$plan")
  }

  test("fd_audit: every FD check partial-aggregates (expand/distinct " +
    "two-phase), no joins and no windows") {
    val df = SparkEntry.queries("fd_audit")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"two-level agg expected:\n$plan")
    assert(!plan.contains("Join"), s"FD checks are join-free:\n$plan")
    assert(!plan.contains("Window"), s"FD checks are window-free:\n$plan")
  }

  test("zonemap_audit: no corpus-wide single-partition stage — the " +
    "range model's only global window runs over the day spine") {
    val df = SparkEntry.queries("zonemap_audit")(spark, sfDir)
    val plan = planOf(df)
    // the day-spine cumulative window + the one-row bounds agg are the
    // only single-partition stages; both have calendar/constant-bounded
    // input, so the budget holds at any corpus size
    assert("Exchange SinglePartition".r.findAllIn(plan).size <= 2,
      s"only the day-spine window and the bounds agg may single-partition:\n$plan")
    // the day→file_id map joins back by broadcast, never sort-merge
    assert(plan.contains("BroadcastHashJoin"),
      s"day→file map must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-side sort-merge join:\n$plan")
  }

  test("embed_pq_topk: encode is scan-local (no exchange below the scoring " +
    "join), corpus side reads codes not vectors, one window shuffle") {
    val df = SparkEntry.queries("embed_pq_topk")(spark, sfDir)
    val plan = planOf(df)
    // broadcast-queries scoring scan (the documented guarded-crossJoin
    // ANN contract) + the per-query top-k window
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
    // rank-limit pushdown: partial WindowGroupLimit prunes to k rows
    // per query BEFORE the exchange — the top-k never shuffles the
    // full scored scan
    assert(plan.contains("WindowGroupLimit"), plan)
    // the only exchanges: the window's hash partitioning (plus AQE
    // bookkeeping) — encoding must never shuffle the corpus
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"$exchanges hash exchanges in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("seq_gap_audit: block spine is a distributed Range, never a " +
    "one-task explode; no single-partition stage") {
    val df = SparkEntry.queries("seq_gap_audit")(spark, sfDir)
    val plan = planOf(df)
    // spark.range plans as a partitioned Range scan — the spine
    // generation stays distributed at any corpus span
    assert(plan.contains("Range ("), s"spine must be spark.range:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"completeness audit must have no single-partition stage:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("embed_ivfpq_topk: probe joins the coded store by list (equi, " +
    "broadcast), rank-limit prunes before the exchange, no corpus sort") {
    val df = SparkEntry.queries("embed_ivfpq_topk")(spark, sfDir)
    val plan = planOf(df)
    // the list_id equi-join against the (broadcast, bounded) LUT side
    assert(plan.contains("BroadcastHashJoin"), plan)
    // per-query top-k pruned partially before its shuffle
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan)
  }

  test("mutual_nn: bucket equi-join only (no all-pairs), both best-match " +
    "ranks are the only windows") {
    val df = SparkEntry.queries("mutual_nn")(spark, sfDir)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"mutual-NN must block on the bucket, never all-pairs:\n$plan")
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"exactly the two best-match rank windows:\n$plan")
  }

  test("shard_plan: two-level scan — the one single-partition window is " +
    "the supergranule prefix; local prefix partitions by supergranule") {
    val df = SparkEntry.queries("shard_plan")(spark, sfDir)
    val plan = planOf(df)
    // exactly one SinglePartition exchange: the corpus/(G·S)-row
    // supergranule frame (the documented bounded stage); the granule
    // frame must NEVER collapse to one partition
    assert("Exchange SinglePartition".r.findAllIn(plan).size == 1,
      s"exactly the supergranule stage may be single-partition:\n$plan")
    // the local exclusive prefix runs per supergranule
    assert(plan.contains("], [super_id"),
      s"granule prefix must partition by super_id:\n$plan")
    // offsets come back via broadcast, not a shuffle of the granules
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("peak_concurrency: within-day running sum partitions by day; " +
    "the only single-partition stage is the calendar day spine") {
    val df = SparkEntry.queries("peak_concurrency")(spark, sfDir)
    val plan = planOf(df)
    // the per-second running sum must be keyed by day (≤ 86 400 rows
    // a partition), never a corpus-ordered global window
    assert(plan.contains("], [day"),
      s"within-day window must partition by day:\n$plan")
    assert("Exchange SinglePartition".r.findAllIn(plan).size == 1,
      s"only the day-spine carry may be single-partition:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("basket_rules: deterministic top-20 is TakeOrdered, pair counts " +
    "partial-aggregate before their shuffle") {
    val df = SparkEntry.queries("basket_rules")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must never be a global sort:\n$plan")
    assert(plan.contains("partial_count"),
      s"pair counts must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("km_survival: segment dim broadcasts; at_risk window partitions " +
    "by segment; no cartesian anywhere") {
    val df = SparkEntry.queries("km_survival")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the segment dim must broadcast:\n$plan")
    assert("\\], \\[segment#\\d+\\]".r.findFirstIn(plan).isDefined,
      s"at_risk cumulative must partition by segment:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("abc_classification: two-level prefix — the one single-partition " +
    "window is the band offset frame; the part prefix partitions by band") {
    val df = SparkEntry.queries("abc_classification")(spark, sfDir)
    val plan = planOf(df)
    // two bounded single-partition stages and no more: the band-count
    // offset window and the one-row grand-total fold — the PART frame
    // must never collapse to one partition
    assert("Exchange SinglePartition".r.findAllIn(plan).size == 2,
      s"only the band-offset window and the scalar total may be " +
        s"single-partition:\n$plan")
    assert("\\], \\[band#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"the within-band prefix must partition by band:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"band offsets must come back via broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("burstiness_index: the gap ordering window partitions by " +
    "(type, day) — day-granular, never one per-type sort") {
    val df = SparkEntry.queries("burstiness_index")(spark, sfDir)
    val plan = planOf(df)
    assert("\\], \\[event_type#\\d+, day#\\d+L?\\]".r
        .findFirstIn(plan).isDefined,
      s"lag window must partition by (event_type, day):\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"moments must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("order_backlog: deltas partial-aggregate before the shuffle; the " +
    "cumulative window partitions by priority") {
    val df = SparkEntry.queries("order_backlog")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("partial_sum"),
      s"±1 deltas must map-side combine:\n$plan")
    assert("\\], \\[priority#\\d+\\]".r.findFirstIn(plan).isDefined,
      s"backlog cumulative must partition by priority:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("revenue_bridge: the month-shifted self-join is a keyed full outer " +
    "(never a cartesian); bounds come back via broadcast") {
    val df = SparkEntry.queries("revenue_bridge")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("FullOuter"),
      s"the bridge join must be a keyed full outer:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("window_ntile: no raw-order-table window partitioned only by " +
    "status — the rank is the two-level (status, bin) prefix") {
    val df = SparkEntry.queries("window_ntile")(spark, sfDir)
    val plan = planOf(df)
    // the r13 scale-killer: Window.partitionBy(o_orderstatus) over raw
    // orders sorts the whole table in ≤3 tasks (three status values).
    // The only per-status-ONLY windows allowed are the offset/total
    // walks over the tiny bin-count frame — which order by bin, never
    // by o_totalprice. A status-partitioned window sorted by price IS
    // the outlawed raw-row sort.
    assert("\\], \\[o_orderstatus#\\d+\\], \\[o_totalprice#"
        .r.findFirstIn(plan).isEmpty,
      s"raw-row window partitioned by status alone:\n$plan")
    // the local rank must partition by (status, bin)
    assert("\\], \\[o_orderstatus#\\d+, bin#\\d+L?\\]".r
        .findFirstIn(plan).isDefined,
      s"local rank must partition by (status, bin):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bin offsets must come back via broadcast:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"nothing here may collapse to one partition:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("session_threshold_sensitivity: one melted session aggregation " +
    "serves all three thresholds") {
    // the checkpointed inner frame: r13 ran one groupBy per threshold
    // (three (user_id, sid_t) aggregations); the melt does ONE —
    // explode to (gap_s, user_id, sid), a single session aggregation
    // (partial + final = exactly 2 HashAggregate nodes on that key),
    // and NO per-threshold sid_NNN-keyed aggregate anywhere
    val inner = graft.queries.AnalyticsQueries
      .sessionThresholdSessions(spark, sfDir)
    val plan = planOf(inner)
    assert(plan.contains("Generate explode"),
      s"thresholds must melt via explode:\n$plan")
    assert("keys=\\[gap_s#\\d+L?, user_id#\\d+L?, sid#\\d+L?\\]".r
        .findAllIn(plan).size == 2,
      s"exactly one melted session aggregation (partial+final):\n$plan")
    assert("keys=\\[[^\\]]*sid_\\d+".r.findFirstIn(plan).isEmpty,
      s"no per-threshold aggregation may survive the melt:\n$plan")
    // the full query reads the checkpoint (sess executes ONCE) and
    // never re-aggregates sessions from raw events
    val full = planOf(
      SparkEntry.queries("session_threshold_sensitivity")(spark, sfDir))
    assert(full.contains("ExistingRDD"),
      s"folds must read the checkpointed session frame:\n$full")
    assert(!full.contains("CartesianProduct"), full)
  }

  test("minhashLshIncrementalGrouped: the probe plan re-groups NOTHING " +
    "on the corpus side — exactly one sk-keyed grouping, the probe's own") {
    // the r13 drift's root cause (FUZZYPROBE_r14): probing a RAW store
    // made the collapsed path re-derive content groups per run —
    // sigGroups (a groupBy(sk) min/count + SHUFFLE_HASH array join)
    // ran on BOTH sides, re-shuffling the full store's signature
    // arrays. Against the ingest-collapsed store the corpus-side
    // sigGroups must be GONE: exactly one sk-keyed min/count
    // aggregation (partial + final — the PROBE side's, probe-sized)
    // may appear. The (band, bh) hot-bucket window that remains runs
    // over the array-free GROUP bucket frame — distinct-content-sized,
    // not corpus-row-sized — and is the posture's documented cost.
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val sigs = graft.operators.Dedup.withMinHashSignatures(docs, "text", "doc_id")
    val probe = graft.operators.Dedup.withMinHashSignatures(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text")),
      "text", "doc_id")
    withTempDir { dir =>
      graft.operators.Dedup.contentGroups(sigs).write.parquet(s"$dir/g")
      graft.operators.Dedup.contentMembers(sigs).write.parquet(s"$dir/m")
      val df = graft.operators.Dedup.minhashLshIncrementalGrouped(probe,
        spark.read.parquet(s"$dir/g"), spark.read.parquet(s"$dir/m"),
        minBp = 8000)
      // un-checkpointed frames repeat their subplan per reference, so a
      // raw count over the plan text counts re-references; the robust
      // pin is COMPARATIVE — same inputs through the raw-store collapsed
      // path must show strictly more sk-groupings (the corpus side's)
      // than the grouped-store path, which carries only the probe's.
      def skGroups(p: String): Int =
        "keys=\\[sk#\\d+L?\\], functions=\\[(partial_)?min\\("
          .r.findAllIn(p).size
      val grouped = skGroups(planOf(df))
      val raw = skGroups(planOf(
        graft.operators.Dedup.minhashLshIncrementalCollapsed(probe, sigs,
          16, 8000, 64, graft.operators.Dedup.DefaultMaxBucket)))
      assert(grouped < raw,
        s"grouped-store probe must drop the corpus-side re-grouping " +
          s"(grouped=$grouped raw=$raw)")
      assert(!planOf(df).contains("CartesianProduct"))
    }
  }

  test("salted_join: the salt basis must not widen the orders scan — " +
    "ReadSchema stays at the two projected columns") {
    // SCANAUDIT_r14: the whole-row default salt hashed every column,
    // forcing a 6/6-column fact scan for a 2-column projection; the
    // unique-key basis restores pruning and the result set is
    // basis-independent
    val df = SparkEntry.queries("salted_join")(spark, sfDir)
    val plan = formatted(df)
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
      s"orders scan must prune to the projected columns:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sparse_sim_topk: ONE tokenize chain total — df, probe, and " +
    "candidate sides all read the lazily-persisted postings cache") {
    // SPARSEPROBE r15→r16: the pre-r15 plan tokenized the corpus FOUR
    // times (probe w, cand w, and a df chain inside each;
    // reusedExchange=0). r15's eager df localCheckpoint cut that to 2
    // isolated but ran a build-time job and regressed the 10× SUITE
    // row (3.84 → 4.11 s) under block-manager pressure. Now the
    // (id, term, tf) postings are persisted LAZILY and every consumer
    // (df count, probe side, candidate side) is an InMemoryTableScan
    // over the SAME relation — the formatted dump's detail section
    // carries exactly one unique parquet scan header.
    val df = SparkEntry.queries("sparse_sim_topk")(spark, sfDir)
    val plan = formatted(df)
    // the formatted dump lists each node in the tree AND the detail
    // section — count the numbered detail headers, one per UNIQUE scan
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 unique documents scan (shared cache):\n$plan")
    val memScans = "InMemoryTableScan \\(\\d+\\)".r.findAllIn(plan).length
    assert(memScans >= 3,
      s"df/probe/cand must all read the postings cache:\n$plan")
    // the probe-side prune: the id-modulo filter over the cached
    // postings, not a third tokenize chain
    assert(plan.contains("% 37"), s"probe filter must prune the cache:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("lang_discrim_terms: lang totals broadcast; the vocab-keyed token " +
    "join never degenerates to a cartesian") {
    val df = SparkEntry.queries("lang_discrim_terms")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"lang totals must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("verifiedPairsBatch: the per-batch store probe pushes candidate " +
    "ids into the parquet scan and broadcasts the pruned slice -- the " +
    "store is never shuffled or scanned into a shuffle join (r17 " +
    "verdict item 2)") {
    import spark.implicits._
    val Tws = graft.streaming.TwsDedup
    withTempDir { dir =>
      val sigs = graft.operators.Dedup.withMinHashSignatures(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "text", "doc_id")
      // id-sorted store: repartitionByRange gives files disjoint id
      // ranges, so footer min/max stats answer id predicates
      Tws.writeSignatureStore(sigs, dir, numFiles = 4)
      val store = spark.read.parquet(dir)
      val ids = store.select("id").orderBy("id").limit(4).as[Long].collect()
      val cands = Seq((ids(0), ids(1)), (ids(2), ids(3)))
        .toDF("doc_a", "doc_b")
      val out = Tws.verifiedPairsBatch(cands, store)
      val plan = planOf(out)
      // the batch's ids reach the store scan as a pushed filter (<=10
      // ids push as the exact OR-set; larger lists as a min/max range)
      assert(plan.contains("In(id"), s"no pushed id probe in:\n$plan")
      // pruned slice broadcasts; no store-wide shuffle join survives
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"store shuffled by the probe:\n$plan")
      // correctness parity with the stream-static form on the same input
      val want = Tws.verifiedPairs(cands.as[Tws.CandPair], store, minBp = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = Tws.verifiedPairsBatch(cands, store, minBp = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want && got.size == 2, s"$got != $want")
      // the over-cap fallback degrades to broadcast-batch over a
      // RANGE-pruned scan (r19: the candidate id span [lo, hi] pushes
      // into the sorted store's footer stats — the unpruned full scan
      // is gone), still no store shuffle
      val fb = Tws.verifiedPairsBatch(cands, store, minBp = 0, maxProbeIds = 1)
      val fplan = planOf(fb)
      assert(fplan.contains("BroadcastHashJoin") &&
        !fplan.contains("SortMergeJoin") && !fplan.contains("ShuffledHashJoin"),
        s"fallback shuffled the store:\n$fplan")
      assert(fplan.contains("GreaterThanOrEqual(id") &&
        fplan.contains("LessThanOrEqual(id"),
        s"fallback scan not range-pruned by the candidate id span:\n$fplan")
      assert(fb.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == want)
      // r18 ADVICE: an EMPTY candidate batch (routine under
      // ProcessingTime triggers) must short-circuit — same output
      // schema, zero rows, and NO store scan in the plan (the old code
      // routed empty batches to the unpruned full-scan fallback)
      val empty = Tws.verifiedPairsBatch(cands.limit(0), store)
      assert(empty.schema.fieldNames.toSeq ==
        Seq("doc_a", "doc_b", "jaccard_bp"))
      assert(empty.count() == 0)
      val eplan = planOf(empty)
      assert(!eplan.contains("Scan parquet") && !eplan.contains("FileScan"),
        s"empty batch still scans the store:\n$eplan")
    }
  }

  test("modularity_score composition: propagation and scoring share ONE " +
    "persisted undirected frame -- the scoring fan-out reads the cache, " +
    "never a re-derived edge-set distinct (r17 verdict item 4)") {
    val Graph = graft.operators.Graph
    val edges = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val und = Graph.undirect(edges, "src", "dst").persist()
    try {
      val rounds = Graph.labelPropTraceUnd(und, iters = 2)
      val plan = planOf(Graph.modularityRoundsPlan(und,
        Seq(1L -> rounds(0), 2L -> rounds(1))))
      // the edge total, the degree agg, and both per-round intra joins
      // must all read the shared cache...
      val memScans = "InMemoryTableScan".r.findAllIn(plan).length
      assert(memScans >= 4, s"expected >=4 cache reads, got $memScans:\n$plan")
      // ...and nothing may re-derive the edge set from source (the old
      // shape paid the undirected distinct twice, once per operator).
      // The InMemoryRelation node renders its STORED build plan — the
      // one legitimate parquet-scan text — so the pin is positional:
      // no parquet scan may appear before the first cache node.
      val firstParquet = plan.indexOf("Scan parquet")
      assert(firstParquet < 0 || firstParquet > plan.indexOf("InMemoryRelation"),
        s"edge set re-derived from parquet in the scoring plan:\n$plan")
    } finally und.unpersist()
  }
}
