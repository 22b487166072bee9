package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ckpt, Dedup, Skew, TextAnalysis}
import graft.sources.Tables

/** §2.C45–C49, C52 — retrieval ranking, the skew-diagnostic/mitigation
  * pair: integer-exact BM25 top-k, per-key occupancy profiling, the
  * salted equi-join (output-identical to the plain join — and the
  * oracle IS the plain join), the cross-source n-gram overlap
  * profile, link-density main-content extraction, and
  * URL-canonicalization dedup.
  */
object ScaleQueries {

  /** BM25 query-term set: fixed representative terms; the operator
    * takes any. */
  private val QueryTerms = Seq("join", "vector", "hash", "spark")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C45 — top-10 documents for a 4-term query by the integer-exact
    // BM25 surrogate (k1 = 1.2, b = 0.75 scaled to micro-units,
    // rational idf). The retrieval consumer of the inverted index.
    "bm25_topk" -> { (s, d) =>
      TextAnalysis.bm25TopK(Tables.fanOut(Tables.documents(s, d)),
        "text", "doc_id", QueryTerms, k = 10)
    },

    // C89 — JOIN-CARDINALITY audit for a many-to-many pair join
    // (per-user view × purchase — the funnel-pair-join planner
    // question C46's single-table profile can't answer): exact output
    // size Σ n_view(u)·n_purchase(u) plus the top-20 contributing
    // keys with share — the "will this join explode, and on which
    // keys" gate that decides salting/pre-aggregation BEFORE the join
    // runs. Cost: two map-side-combined per-key counts + a count-table
    // join — never the pair join itself; the rank window runs over the
    // ≤|keys| profile frame, not the corpus.
    "join_card_est" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val l = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_left"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_right"))
      val per = Ckpt(l.join(r, "user_id")
        .withColumn("out_rows", col("n_left") * col("n_right")))
      val tot = per.agg(sum(col("out_rows")).as("total_rows"))
      per
        .withColumn("rank", row_number().over(
          Window.orderBy(col("out_rows").desc, col("user_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n_left"), col("n_right"), col("out_rows"),
          col("rank"), col("total_rows"),
          expr("out_rows * 10000 div total_rows").as("share_bp"))
    },

    // C90 — ZONE-MAP SKIPPING audit: how much of a scan a date
    // predicate could prune under a hash file layout vs a
    // range-clustered one — the measured "is the clustered write
    // worth it" answer behind Sinks.writeClustered/Z-order (file
    // min/max stats ARE the parquet row-group zone maps). Files are
    // modeled as 32 buckets: multiplicative-hash ids vs cumulative
    // row-count allocation of WHOLE DAYS to files (what a
    // range-clustered writer actually produces — it splits on the
    // clustering key's value boundaries, not mid-key). The only
    // global window runs over the per-day aggregate — calendar-
    // bounded (~2.5k rows at any corpus size), never the corpus —
    // and the day→file map broadcasts back. Predicate = the 30-day
    // mid-range window. Per (layout, file): min/max/rows — a ≤ 2×32
    // frame; the report takes the predicate bounds from a global
    // window over that bounded frame (no second corpus pass).
    "zonemap_audit" -> { (s, d) =>
      val rows = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(CAST(l_shipdate AS TIMESTAMP) AS BIGINT) div 86400")
            .as("day"))
      val hashed = rows.withColumn("layout", lit("hash"))
        .withColumn("file_id",
          pmod(col("l_orderkey") % 1000003L * 2654435761L + col("l_linenumber"),
            lit(32L)))
      // day-granular range allocation: file_id from the cumulative
      // row count BEFORE each day, over the day spine only
      val daySpine = Window.orderBy(col("day").asc)
      val dayFiles = rows.groupBy(col("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("day"),
          coalesce(sum(col("n")).over(
              daySpine.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("cum_before"),
          sum(col("n")).over(daySpine.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).as("total"))
        .select(col("day"), expr("cum_before * 32 div total").as("file_id"))
      val ranged = rows.join(broadcast(dayFiles), Seq("day"))
        .withColumn("layout", lit("range"))
      val files = hashed.unionByName(ranged)
        .groupBy(col("layout"), col("file_id"))
        .agg(count(lit(1)).as("n_rows"), min(col("day")).as("min_day"),
          max(col("day")).as("max_day"))
      // predicate bounds from a global window over the ≤ 2×32-row
      // files frame (bounded input — no second pass over the corpus)
      val wAll = Window.partitionBy()
      files
        .withColumn("mn", min(col("min_day")).over(wAll))
        .withColumn("mx", max(col("max_day")).over(wAll))
        .withColumn("lo", expr("(mn + mx) div 2"))
        .withColumn("hi", expr("(mn + mx) div 2 + 29"))
        .withColumn("skipped",
          (col("max_day") < col("lo") || col("min_day") > col("hi"))
            .cast("long"))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_files"), sum(col("skipped")).as("files_skipped"),
          sum(col("n_rows")).as("total_rows"),
          sum(when(col("skipped") === 1, col("n_rows")).otherwise(0L))
            .as("rows_skipped"))
        .select(col("layout"), col("n_files"), col("files_skipped"),
          expr("files_skipped * 10000 div n_files").as("file_skip_bp"),
          col("total_rows"), col("rows_skipped"),
          expr("rows_skipped * 10000 div total_rows").as("row_skip_bp"))
    },

    // C46 — key-occupancy profile of orders by customer: top-20 keys
    // with corpus share (bp) and multiple-of-mean weight (milli) —
    // the measurement that decides salting/broadcast before a big
    // join.
    "key_skew_profile" -> { (s, d) =>
      Skew.keySkew(Tables.orders(s, d), "o_custkey", topN = 20)
    },

    // C47 — salted equi-join of orders with customer (8 salts, salt
    // from a whole-row hash): result-identical to the plain join,
    // shuffle keyed (custkey, salt). The oracle is the PLAIN join —
    // equality is the operator's contract.
    "salted_join" -> { (s, d) =>
      // salt basis = the unique order key, so the orders scan prunes
      // to the two columns this query projects (SCANAUDIT_r14: the
      // whole-row default read 6/6 columns)
      Skew.saltedJoin(Tables.orders(s, d),
          Tables.customer(s, d).withColumnRenamed("c_custkey", "o_custkey"),
          "o_custkey", nSalts = 8, saltCols = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_nationkey"))
    },

    // C48 — cross-source word-3-gram Jaccard overlap: which corpus
    // sources duplicate each other, before mixing them.
    "source_overlap" -> { (s, d) =>
      Dedup.sourceOverlap(Tables.fanOut(Tables.documents(s, d)),
        "text", "source", n = 3)
    },

    // C49 — link-density main-content extraction (readability/
    // boilerpipe heuristic): synthetic crawl pages wrap each doc in a
    // nav bar, an inline link, and (every 3rd doc) a footer menu —
    // the all-anchor lines must drop, the paragraph must survive.
    "text_main_content" -> { (s, d) =>
      val raw = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div><p>"),
        col("text"),
        lit(" see <a href=\"/more\">more details here</a></p>"),
        when(col("doc_id") % 3 === 0,
          lit("<ul><li><a href=\"/t\">Terms</a></li>" +
            "<li><a href=\"/p\">Privacy</a></li></ul>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("html"))
      raw.select(col("doc_id"),
        TextAnalysis.extractMainContent(col("html")).as("text_main"),
        length(col("html")).as("n_raw"))
    },

    // C52 — URL-canonicalization dedup: messy synthetic crawl URLs
    // (mixed-case scheme/host, default :443 ports, utm tracking
    // params, fragments) normalize to one canonical form per
    // (source, page), then exact-dedup on it — the crawl-frontier
    // dedup that runs BEFORE any content is fetched. Every
    // normalization rule fires somewhere in the corpus (adjacent
    // utm params exercise the two-pass removal).
    "url_dedup" -> { (s, d) =>
      val url = concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/page"), col("doc_id") % 5,
        when(col("doc_id") % 2 === 0,
          lit("?utm_source=feed&utm_medium=rss&ref=home"))
          .otherwise(lit("?ref=home")),
        when(col("doc_id") % 7 === 0, lit("#top")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), TextAnalysis.normalizeUrl(col("url")).as("url_norm"))
        .groupBy(col("url_norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
    },

    // C77 — per-source distribution DRIFT monitor: a chi-square-form
    // statistic in ppm space between each source's doc-length profile
    // and the whole-corpus reference — the "did a source's shape
    // silently change" alarm that runs before retraining mixes are
    // trusted. Buckets are the C68 integer log2 lengths;
    // probabilities are ppm by integer division, so
    // drift = Σ_b (p_s(b) − p_r(b))² div max(p_r(b), 1) is exact
    // 64-bit in every engine AT ANY CORPUS SIZE (ppm ≤ 10⁶ caps each
    // term at 10¹² regardless of row count — no count-product
    // overflow, unlike raw-count chi-square). SCALE: ONE corpus scan
    // into a (sources × ~20)-key map-side-combined agg; the profile
    // frame is then localCheckpointed (a few hundred bytes) and every
    // derived total re-aggregates it — the full source × bucket grid
    // including zero cells comes from a broadcast cross join of two
    // bounded frames, never a second corpus pass.
    "source_drift" -> { (s, d) =>
      Skew.distributionDrift(
        Tables.documents(s, d)
          .select(col("source"),
            (length(bin(greatest(size(split(col("text"), " ")).cast("long"),
              lit(1L)))) - 1).cast("long").as("len_bucket")),
        "source", "len_bucket")
    },

    // C92 — KS DRIFT per source: two-sample Kolmogorov–Smirnov
    // distance (bp-quantized: both CDFs floor to basis points before
    // the max-diff — documented, deterministic) between each source's
    // doc-length distribution and the REST of the corpus, over C77's
    // log2 token buckets — the one-number "is this source shaped like
    // the rest" test that complements C77's per-bucket share profile
    // (KS localizes nothing but ranks sources by divergence and feeds
    // a threshold). All frames bounded: counts collapse to
    // sources×buckets, the spine is that same cross (broadcast), cum
    // sums run per source over ≤ buckets rows.
    "ks_drift" -> { (s, d) =>
      val counts = Ckpt(Tables.documents(s, d)
        .select(col("source"),
          (length(bin(greatest(size(split(col("text"), " ")).cast("long"),
            lit(1L)))) - 1).cast("long").as("len_bucket"))
        .groupBy(col("source"), col("len_bucket")).agg(count(lit(1)).as("c")))
      val tot = counts.groupBy(col("len_bucket")).agg(sum(col("c")).as("ct"))
      val spine = counts.select(col("source")).distinct()
        .crossJoin(broadcast(tot))
      val cumW = Window.partitionBy(col("source"))
        .orderBy(col("len_bucket").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val grand = counts.agg(sum(col("c")).as("n_all"))
      val perSrc = counts.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      spine.join(counts, Seq("source", "len_bucket"), "left")
        .select(col("source"), col("len_bucket"), col("ct"),
          coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("cum_s", sum(col("c")).over(cumW))
        .withColumn("cum_all", sum(col("ct")).over(cumW))
        .crossJoin(broadcast(grand))
        .join(broadcast(perSrc), "source")
        .withColumn("diff_bp",
          abs(expr("cum_s * 10000 div n_s") -
            expr("(cum_all - cum_s) * 10000 div (n_all - n_s)")))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_docs"), max(col("diff_bp")).as("ks_bp"))
    },

    // C79 — heavy hitters by MISRA–GRIES sketch (functions.MisraGries
    // via mg_sketch, k = 16), B14-style bounded verification: the
    // engine computes its own sketch AND its own exact counts, then
    // publishes the guarantee booleans — every item above the
    // n/(k+1) share must be captured, estimates never exceed truth,
    // and the estimate gap stays within n/(k+1) — which hold under
    // ANY merge order, so both engines emit identical rows. The
    // token stream gets three PLANTED hot markers (every doc_id%4==0
    // doc's tokens collapse to hot0/hot1/hot2 ≈ 8.3% each, above the
    // 1/17 threshold; the organic vocabulary tops out ~2.6% below
    // it) so the verified set is provably non-empty. SCALE: the
    // sketch side moves partitions × k pairs through the shuffle —
    // never the vocabulary; the exact side exists only to verify.
    "heavy_hitters" -> { (s, d) =>
      val stream = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .select(when(col("doc_id") % 4 === 0,
          expr("concat('hot', CAST((doc_id div 4) % 3 AS STRING))"))
          .otherwise(col("term")).as("term"))
      val sk = stream.agg(graft.GraftFunctions
        .mg_sketch(graft.GraftFunctions.fingerprint64(col("term")), 16).as("cand"))
      val exact = stream.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = exact.agg(sum(col("cnt")).as("n"))
      val est =
        "element_at(filter(cand, c -> c.item = fingerprint64(term)), 1).est"
      exact.crossJoin(broadcast(tot)).filter(col("cnt") * 17 > col("n"))
        .crossJoin(broadcast(sk))
        .select(col("term"), col("cnt"),
          expr("exists(cand, c -> c.item = fingerprint64(term))").as("captured"),
          expr(s"coalesce($est <= cnt, false)").as("underest_ok"),
          expr(s"(cnt - coalesce($est, CAST(0 AS BIGINT))) * 17 <= n")
            .as("bound_ok"))
    },

    // C81 — referential-integrity AUDIT across the warehouse: orphan
    // counts + ppm for every FK edge of the schema (the "can these
    // tables be joined without silent row loss" gate that runs before
    // any enrichment pipeline is trusted; the events→customer edge is
    // a SOFT key and really does orphan). Shape per constraint (r17 —
    // the decomposition ri_audit's two weak rounds ordered): the child
    // collapses to (key → cnt) with map-side combine FIRST — nulls
    // keep their own group so the total stays exact — then one left
    // join of DISTINCT child keys against the distinct parent feeds a
    // single fold computing n_child (Σcnt) and n_orphan (Σcnt over
    // unmatched non-null keys) together. vs the r16 shape (raw-row
    // anti-join + a second full-scan count): the anti-join shuffle
    // moves distinct keys instead of raw rows (lineitem collapses
    // ~4×, events→customer ~600× at 10×) and each child is scanned
    // ONCE, not twice. Bounded dims (nation/region) pin the broadcast
    // side explicitly; fact↔fact edges shuffle their collapsed key
    // sets and AQE handles skew. One-row frames union into the audit
    // report — rows = #constraints, at any scale.
    "ri_audit" -> { (s, d) =>
      def audit(name: String, child: DataFrame, ck: String,
                parent: DataFrame, pk: String, bcastParent: Boolean): DataFrame = {
        val keyed = child.select(col(ck))
          .groupBy(col(ck)).agg(count(lit(1)).as("cnt"))
        val par0 = parent.select(col(pk).as(ck)).distinct()
          .withColumn("__parent", lit(1))
        val par = if (bcastParent) broadcast(par0) else par0
        keyed.join(par, Seq(ck), "left")
          .agg(sum(col("cnt")).as("n_child"),
            coalesce(sum(when(col("__parent").isNull && col(ck).isNotNull,
              col("cnt"))), lit(0L)).as("n_orphan"))
          .select(lit(name).as("constraint_name"), col("n_child"),
            col("n_orphan"),
            expr("n_orphan * 1000000 div n_child").as("orphan_ppm"))
      }
      val li = Tables.lineitem(s, d)
      audit("lineitem.l_orderkey->orders.o_orderkey",
          li, "l_orderkey", Tables.orders(s, d), "o_orderkey", bcastParent = false)
        .unionByName(audit("lineitem.l_partkey->part.p_partkey",
          li, "l_partkey", Tables.part(s, d), "p_partkey", bcastParent = false))
        .unionByName(audit("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey",
          bcastParent = false))
        .unionByName(audit("customer.c_nationkey->nation.n_nationkey",
          Tables.customer(s, d), "c_nationkey", Tables.nation(s, d),
          "n_nationkey", bcastParent = true))
        .unionByName(audit("supplier.s_nationkey->nation.n_nationkey",
          Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d),
          "n_nationkey", bcastParent = true))
        .unionByName(audit("nation.n_regionkey->region.r_regionkey",
          Tables.nation(s, d), "n_regionkey", Tables.region(s, d),
          "r_regionkey", bcastParent = true))
        .unionByName(audit("events.user_id->customer.c_custkey",
          Tables.events(s, d), "user_id", Tables.customer(s, d), "c_custkey",
          bcastParent = false))
    },

    // C82 — BENFORD first-digit audit of order totals: observed
    // first-significant-digit shares vs the Benford expectation, both
    // in integer ppm — the classic synthetic-data / fraud smell test
    // (a generator that draws totals uniformly fails it loudly, which
    // is itself the finding on this corpus). The digit derives from
    // the INTEGER part's decimal string (first char) — no log10
    // float edge cases — so every engine bins identically; expected
    // shares are pinned integer constants (⌊log10(1+1/d)·10⁶⌋,
    // summing to 999 995 — floor dust documented). ONE scan into a
    // 9-key map-side-combined agg; the total re-aggregates the
    // 9-row frame (broadcast back, guarded-crossJoin convention).
    "benford_audit" -> { (s, d) =>
      val digits = Tables.orders(s, d)
        .select(floor(col("o_totalprice")).cast("long").as("n0"))
        .filter(col("n0") >= 1)
        .select(substring(col("n0").cast("string"), 1, 1).cast("long").as("digit"))
      val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("n"))
      counts.crossJoin(broadcast(tot))
        .select(col("digit"), col("cnt"),
          expr("cnt * 1000000 div n").as("obs_ppm"),
          expr(BenfordCase).as("benford_ppm"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
    },

    // C95 — FUNCTIONAL-DEPENDENCY audit: for each candidate FD
    // X → Y, how many X-keys map to more than one Y and how many
    // rows sit in those violating keys — the data-quality check that
    // decides whether a column can be NORMALIZED OUT (snapshotted
    // into a dim, deduplicated, used as a merge key) before anyone
    // builds on a dependency that only mostly holds. The audited
    // candidates are the ones a TPC-H-ish modeler would actually
    // ask: does returnflag ride the order (no — it's per line), is a
    // part single-sourced (no — parts ship from many suppliers),
    // does a customer always order at one priority (no). Shapes, per
    // FD: ONE two-level aggregation — distinct (X, Y) partial-aggs
    // map-side, the key frame re-aggregates to four counters; no
    // windows, no joins, three independent agg pipelines unioned.
    // Violation share in integer bp.
    "fd_audit" -> { (s, d) =>
      def check(df: DataFrame, xc: String, yc: String, name: String) =
        df.groupBy(col(xc))
          .agg(countDistinct(col(yc)).as("dv"), count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("dv") > 1, 1L).otherwise(0L)).as("violating_keys"),
            sum(when(col("dv") > 1, col("n")).otherwise(0L))
              .as("violating_rows"),
            sum(col("n")).as("n_rows"))
          .select(lit(name).as("fd"), col("n_keys"), col("violating_keys"),
            col("violating_rows"), col("n_rows"),
            expr("violating_rows * 10000 div n_rows").as("violation_bp"))
      check(Tables.lineitem(s, d), "l_orderkey", "l_returnflag",
          "l_orderkey->l_returnflag")
        .unionByName(check(Tables.lineitem(s, d), "l_partkey", "l_suppkey",
          "l_partkey->l_suppkey"))
        .unionByName(check(Tables.orders(s, d), "o_custkey", "o_orderpriority",
          "o_custkey->o_orderpriority"))
    },

    // C101 — SEQUENCE-GAP audit (CDC completeness): which 1000-id
    // blocks of the event-id sequence are missing rows, and how many
    // — the "did every upstream change actually arrive" check a CDC
    // consumer runs before trusting a snapshot. NO global sort and no
    // lag window over the corpus (the naive form — the zonemap
    // lesson): per-BLOCK counts come from one map-side-combined agg;
    // the block spine is spark.range (a DISTRIBUTED generator, not a
    // one-task sequence() explode — corpus/1000 rows stay partitioned
    // at any scale) bounded by the observed [min, max] ids (one
    // 2-long control-plane collect); a spine⋈agg join then prices
    // every block, so WHOLLY-missing blocks surface too (a groupBy
    // alone can't see a block with zero surviving rows). The audited
    // corpus synthesizes known losses: two ids dropped per block
    // (%1000 ∈ {7, 113}) and block 5 dropped whole.
    "seq_gap_audit" -> { (s, d) =>
      val B = 1000L
      val ev = Tables.events(s, d)
        .filter(col("event_id") % B =!= 7 && col("event_id") % B =!= 113 &&
          expr(s"event_id div $B") =!= 5)
        .select(col("event_id"))
      val agg = ev.groupBy(expr(s"event_id div $B").as("block_id"))
        .agg(count(lit(1)).as("n_present"))
      val bounds = ev.agg(min(col("event_id")).as("gmin"),
        max(col("event_id")).as("gmax")).collect()(0)
      val (gmin, gmax) = (bounds.getLong(0), bounds.getLong(1))
      s.range(gmin / B, gmax / B + 1).toDF("block_id")
        .join(agg, Seq("block_id"), "left")
        .select(col("block_id"),
          coalesce(col("n_present"), lit(0L)).as("n_present"),
          (least(col("block_id") * B + (B - 1), lit(gmax))
            - greatest(col("block_id") * B, lit(gmin)) + 1
            - coalesce(col("n_present"), lit(0L))).as("n_missing"))
        .filter(col("n_missing") > 0)
    },

    // C106 — SHARD PLAN (byte-balanced compaction planner): assign
    // contiguous doc-id GRANULES to output shards so each shard holds
    // ~target bytes — the file-compaction/repartition plan a 100 TB
    // writer computes before rewriting a corpus into uniform ~1 GB
    // files (small-file storms and 10 GB stragglers both come from
    // skipping this step). The trap is the running byte offset: a
    // corpus-wide cumulative sum is the exact single-partition sort
    // the zonemap rework (C90) removed. Here the prefix sum is
    // TWO-LEVEL (Blelloch scan shape): granule aggregates (one
    // map-side-combined agg, corpus/G rows, distributed) roll into
    // supergranules (corpus/(G·S) rows — at 10¹¹ docs that is ~10⁵
    // rows for the ONE ordered window), whose exclusive offsets
    // broadcast back; the granule-local exclusive prefix runs
    // per-supergranule (≤ S rows a partition). shard = offset div
    // target — first-fit by byte offset, so both engines floor
    // identically. Constants are bench-scaled (G=32 docs, 16 KiB
    // target); production uses G~10⁴, target ~1 GB — same plan.
    "shard_plan" -> { (s, d) =>
      val G = 32L; val S = 1024L; val Target = 16384L
      val g = Tables.documents(s, d)
        .groupBy(expr(s"doc_id div $G").as("granule_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val sup = g.groupBy(expr(s"granule_id div $S").as("super_id"))
        .agg(sum(col("bytes")).as("s_bytes"))
      val wsup = Window.orderBy(col("super_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val supOff = sup
        .select(col("super_id"),
          coalesce(sum(col("s_bytes")).over(wsup), lit(0L)).as("s_off"))
      val wloc = Window.partitionBy(col("super_id")).orderBy(col("granule_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("super_id", expr(s"granule_id div $S"))
        .join(broadcast(supOff), "super_id")
        .withColumn("cum_before",
          col("s_off") + coalesce(sum(col("bytes")).over(wloc), lit(0L)))
        .withColumn("shard_id", expr(s"cum_before div $Target"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_granules"), sum(col("n_docs")).as("n_docs"),
          sum(col("bytes")).as("bytes"),
          min(col("granule_id")).as("granule_lo"),
          max(col("granule_id")).as("granule_hi"))
    })

  /** ⌊log10(1+1/d)·10⁶⌋ for d = 1…9 — shared verbatim by the engine
    * projection and the DuckDB oracle (both dialects parse it). */
  private val BenfordCase =
    "CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938" +
      " WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946" +
      " WHEN 7 THEN 57991 WHEN 8 THEN 51152 ELSE 45757 END AS BIGINT)"

  /** One FK-edge block of the C81 oracle. */
  private def riSql(name: String, child: String, ck: String,
                    parent: String, pk: String): String =
    s"""SELECT '$name' AS constraint_name, n_child, n_orphan,
       |       n_orphan * 1000000 // n_child AS orphan_ppm
       |FROM (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
       |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
       |   WHERE c.$ck IS NOT NULL AND NOT EXISTS (
       |     SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS n_orphan)""".stripMargin

  /** DuckDB twin of TextAnalysis.visibleText over SQL fragment `x`:
    * tags → spaces, the six entities decoded (amp last), whitespace
    * collapsed, trimmed. */
  private def sqlVisible(x: String): String =
    s"""trim(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(
       |    regexp_replace($x, '<[^>]*>', ' ', 'g'),
       |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |    '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
       |  '[ \t]+', ' ', 'g'))""".stripMargin

  private val TermList = QueryTerms.map(t => s"'$t'").mkString("(", ", ", ")")

  val oracles: Map[String, String] = Map(

    // C106: the oracle may use the naive single cumulative sum — the
    // two-level scan is the ENGINE's scale posture, the values agree.
    "shard_plan" -> """
      WITH g AS (
        SELECT doc_id // 32 AS granule_id, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY 1),
      c AS (
        SELECT *, CAST(coalesce(sum(bytes) OVER (ORDER BY granule_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before
        FROM g)
      SELECT cum_before // 16384 AS shard_id,
             CAST(count(*) AS BIGINT) AS n_granules,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(bytes) AS BIGINT) AS bytes,
             min(granule_id) AS granule_lo, max(granule_id) AS granule_hi
      FROM c GROUP BY 1""",

    "bm25_topk" -> s"""WITH toks AS (
      |  SELECT doc_id, t AS term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |totals AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                  CAST(sum(dl) AS BIGINT) AS n_tokens FROM dl),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
      |       WHERE term IN $TermList GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |         CAST(sum((tf * 2200000 //
      |                   (tf * 1000 + 300 +
      |                    (900 * (dl * 1000000 //
      |                            (n_tokens * 1000 // n_docs))) // 1000))
      |                  * ((n_docs - df + 1) * 1000000 // (df + 1))
      |                  // 1000000) AS BIGINT) AS score,
      |         CAST(count(*) AS BIGINT) AS n_terms
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN totals
      |  GROUP BY 1)
      |SELECT doc_id, score, n_terms,
      |       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= 10""".stripMargin,

    // C89: count tables joined, exact products, global rank over the
    // profile frame.
    "join_card_est" -> """
      WITH l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_left
                 FROM events WHERE event_type = 'view' GROUP BY 1),
      r AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_right
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
      p AS (SELECT l.user_id, n_left, n_right, n_left * n_right AS out_rows
            FROM l JOIN r USING (user_id)),
      t AS (SELECT CAST(sum(out_rows) AS BIGINT) AS total_rows FROM p)
      SELECT user_id, n_left, n_right, out_rows,
             CAST(row_number() OVER (ORDER BY out_rows DESC, user_id)
               AS BIGINT) AS rank,
             total_rows, out_rows * 10000 // total_rows AS share_bp
      FROM p CROSS JOIN t QUALIFY rank <= 20""",

    // C92: same log2 buckets as C77, dense source×bucket spine,
    // bp-floored CDFs, max diff.
    "ks_drift" -> """
      WITH b AS (
        SELECT source, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS len_bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT source,
                     greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1)
                       AS n_tok
              FROM documents)
        GROUP BY 1, 2),
      tot AS (SELECT len_bucket, CAST(sum(c) AS BIGINT) AS ct
              FROM b GROUP BY 1),
      spine AS (SELECT source, len_bucket, ct
                FROM (SELECT DISTINCT source FROM b) CROSS JOIN tot),
      sc AS (
        SELECT sp.source, sp.len_bucket, sp.ct, coalesce(b.c, 0) AS c
        FROM spine sp LEFT JOIN b
          ON sp.source = b.source AND sp.len_bucket = b.len_bucket),
      cum AS (
        SELECT source, len_bucket, ct, c,
               CAST(sum(c) OVER w AS BIGINT) AS cum_s,
               CAST(sum(ct) OVER w AS BIGINT) AS cum_all
        FROM sc WINDOW w AS (PARTITION BY source ORDER BY len_bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      g AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM b),
      ps AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM b GROUP BY 1)
      SELECT cum.source, max(ps.n_s) AS n_docs,
             CAST(max(abs(cum_s * 10000 // n_s -
               (cum_all - cum_s) * 10000 // (n_all - n_s))) AS BIGINT) AS ks_bp
      FROM cum CROSS JOIN g JOIN ps ON cum.source = ps.source
      GROUP BY 1""",

    // C90: same bucket models (multiplicative hash on bounded
    // residues — no overflow either engine; range layout via the
    // day-granular cumulative file allocation, a window over the
    // calendar-bounded per-day aggregate), same mid-range predicate.
    "zonemap_audit" -> """
      WITH rws AS (
        SELECT l_orderkey, l_linenumber,
               epoch_us(l_shipdate) // 86400000000 AS day
        FROM lineitem),
      h AS (SELECT 'hash' AS layout,
                   (l_orderkey % 1000003 * 2654435761 + l_linenumber) % 32
                     AS file_id, day FROM rws),
      dc AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM rws GROUP BY 1),
      dfm AS (SELECT day,
                     CAST(coalesce(sum(n) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) * 32
                       // CAST(sum(n) OVER () AS BIGINT) AS file_id
              FROM dc),
      r AS (SELECT 'range' AS layout, dfm.file_id, rws.day
            FROM rws JOIN dfm USING (day)),
      u AS (SELECT * FROM h UNION ALL SELECT * FROM r),
      files AS (SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
                       min(day) AS min_day, max(day) AS max_day
                FROM u GROUP BY 1, 2),
      b AS (SELECT (min(min_day) + max(max_day)) // 2 AS lo,
                   (min(min_day) + max(max_day)) // 2 + 29 AS hi FROM files)
      SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN max_day < lo OR min_day > hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
             CAST(sum(CASE WHEN max_day < lo OR min_day > hi
                           THEN 1 ELSE 0 END) AS BIGINT) * 10000 //
               CAST(count(*) AS BIGINT) AS file_skip_bp,
             CAST(sum(n_rows) AS BIGINT) AS total_rows,
             CAST(sum(CASE WHEN max_day < lo OR min_day > hi
                           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
             CAST(sum(CASE WHEN max_day < lo OR min_day > hi
                           THEN n_rows ELSE 0 END) AS BIGINT) * 10000 //
               CAST(sum(n_rows) AS BIGINT) AS row_skip_bp
      FROM files CROSS JOIN b GROUP BY 1""",

    "key_skew_profile" -> """WITH counts AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
      |             CAST(count(*) AS BIGINT) AS n_keys FROM counts)
      |SELECT o_custkey, n,
      |       n * 10000 // total AS share_bp,
      |       n * 1000 * n_keys // total AS skew_x1000,
      |       CAST(row_number() OVER (ORDER BY n DESC, o_custkey) AS BIGINT) AS rank
      |FROM counts CROSS JOIN t QUALIFY rank <= 20""".stripMargin,

    "salted_join" -> """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,

    "source_overlap" -> """WITH sg AS (
      |  SELECT DISTINCT source, g FROM (
      |    SELECT source,
      |           unnest(list_transform(range(0, greatest(len(w) - 2, 0)),
      |             i -> array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                             CAST(i + 3 AS INT)), ' '))) AS g
      |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
      |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1),
      |pairs AS (
      |  SELECT x.source AS src_a, y.source AS src_b,
      |         CAST(count(*) AS BIGINT) AS common
      |  FROM sg x JOIN sg y ON x.g = y.g AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, common, a.n AS n_a, b.n AS n_b,
      |       common * 10000 // (a.n + b.n - common) AS jaccard_bp
      |FROM pairs
      |JOIN sizes a ON pairs.src_a = a.source
      |JOIN sizes b ON pairs.src_b = b.source""".stripMargin,

    "text_main_content" -> s"""WITH raw AS (
      |  SELECT doc_id,
      |         '<html><body><div class="nav"><a href="/">Home</a> ' ||
      |         '<a href="/about">About</a> <a href="/contact">Contact</a></div><p>' ||
      |         text || ' see <a href="/more">more details here</a></p>' ||
      |         CASE WHEN doc_id % 3 = 0
      |              THEN '<ul><li><a href="/t">Terms</a></li>' ||
      |                   '<li><a href="/p">Privacy</a></li></ul>'
      |              ELSE '' END ||
      |         '</body></html>' AS html
      |  FROM documents),
      |seg AS (
      |  SELECT doc_id, html, string_split(
      |    regexp_replace(
      |      regexp_replace(html,
      |        '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
      |      '(?i)</(p|div|h[1-6]|li|tr|ul|ol|table)>|<br[^>]*>', chr(10), 'g'),
      |    chr(10)) AS lines
      |  FROM raw)
      |SELECT doc_id,
      |       array_to_string(
      |         list_transform(
      |           list_filter(
      |             list_transform(lines, l -> {
      |               'v': ${sqlVisible("l")},
      |               'a': ${sqlVisible(
                 "array_to_string(regexp_extract_all(l, '(?is)<a[^>]*>(.*?)</a>', 1), ' ')")}}),
      |             s -> length(s['v']) > 0 AND
      |                  length(s['a']) * 10000 <= length(s['v']) * 6600),
      |           s -> s['v']),
      |         chr(10)) AS text_main,
      |       CAST(length(html) AS INT) AS n_raw
      |FROM seg""".stripMargin,

    "url_dedup" -> """WITH raw AS (
      |  SELECT doc_id,
      |         'HTTPS://WWW.' || source || '.Example.COM' ||
      |         CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
      |         '/docs/page' || (doc_id % 5) ||
      |         CASE WHEN doc_id % 2 = 0
      |              THEN '?utm_source=feed&utm_medium=rss&ref=home'
      |              ELSE '?ref=home' END ||
      |         CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END AS url
      |  FROM documents),
      |n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM raw),
      |n2 AS (SELECT doc_id, regexp_replace(u,
      |         '([?&])(utm_[^&=#]*|fbclid|gclid)=[^&#]*&', '\1', 'g') AS u FROM n1),
      |n3 AS (SELECT doc_id, regexp_replace(u,
      |         '([?&])(utm_[^&=#]*|fbclid|gclid)=[^&#]*&', '\1', 'g') AS u FROM n2),
      |n4 AS (SELECT doc_id, regexp_replace(u,
      |         '([?&])(utm_[^&=#]*|fbclid|gclid)=[^&#]*$', '', 'g') AS u FROM n3),
      |n5 AS (SELECT doc_id, regexp_replace(u, '[?&]$', '', 'g') AS u FROM n4),
      |n6 AS (SELECT doc_id,
      |         regexp_replace(
      |           regexp_replace(u, '(?i)^(http://[^/:?#]+):80([/?#]|$)', '\1\2', 'g'),
      |           '(?i)^(https://[^/:?#]+):443([/?#]|$)', '\1\2', 'g') AS u FROM n5),
      |n7 AS (SELECT doc_id,
      |         lower(regexp_extract(u, '(?i)^(https?://[^/?#]*)', 1)) ||
      |         substr(u, length(regexp_extract(u, '(?i)^(https?://[^/?#]*)', 1)) + 1)
      |           AS url_norm FROM n6)
      |SELECT url_norm, CAST(min(doc_id) AS BIGINT) AS doc_id,
      |       CAST(count(*) AS BIGINT) AS n_variants
      |FROM n7 GROUP BY 1""".stripMargin,

    // C77: ppm-space chi-square form; `//` and Spark's `div` agree on
    // the non-negative operands here (squares and floored ppm).
    "source_drift" -> """
      |WITH b AS (
      |  SELECT source, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS len_bucket,
      |         CAST(count(*) AS BIGINT) AS c_s
      |  FROM (SELECT source,
      |               greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1)
      |                 AS n_tok
      |        FROM documents)
      |  GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM b GROUP BY 1),
      |rf AS (SELECT len_bucket, CAST(sum(c_s) AS BIGINT) AS c_r FROM b GROUP BY 1),
      |tt AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM rf),
      |g AS (SELECT st.source, st.n_s,
      |             coalesce(b.c_s, 0) * 1000000 // st.n_s AS p_s,
      |             rf.c_r * 1000000 // (SELECT n_r FROM tt) AS p_r
      |      FROM st CROSS JOIN rf
      |      LEFT JOIN b ON b.source = st.source AND b.len_bucket = rf.len_bucket)
      |SELECT source, CAST(min(n_s) AS BIGINT) AS n_docs,
      |       CAST(sum(((p_s - p_r) * (p_s - p_r)) // greatest(p_r, 1)) AS BIGINT)
      |         AS drift_score
      |FROM g GROUP BY 1""".stripMargin,

    // C79: the oracle owes only the exact side plus the literal
    // guarantee booleans — the sketch contract says they are TRUE for
    // every above-threshold item under any merge order, so a sketch
    // bug surfaces as a value mismatch on the engine's rows.
    "heavy_hitters" -> """
      |WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |stream AS (
      |  SELECT CASE WHEN doc_id % 4 = 0
      |              THEN 'hot' || CAST((doc_id // 4) % 3 AS VARCHAR)
      |              ELSE term END AS term
      |  FROM tok WHERE length(term) > 0),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM stream),
      |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM stream GROUP BY 1)
      |SELECT term, cnt, TRUE AS captured, TRUE AS underest_ok,
      |       TRUE AS bound_ok
      |FROM c CROSS JOIN n WHERE cnt * 17 > n.n""".stripMargin,

    // C81: NOT EXISTS per FK edge — the anti-join definition itself.
    "ri_audit" -> Seq(
      riSql("lineitem.l_orderkey->orders.o_orderkey",
        "lineitem", "l_orderkey", "orders", "o_orderkey"),
      riSql("lineitem.l_partkey->part.p_partkey",
        "lineitem", "l_partkey", "part", "p_partkey"),
      riSql("orders.o_custkey->customer.c_custkey",
        "orders", "o_custkey", "customer", "c_custkey"),
      riSql("customer.c_nationkey->nation.n_nationkey",
        "customer", "c_nationkey", "nation", "n_nationkey"),
      riSql("supplier.s_nationkey->nation.n_nationkey",
        "supplier", "s_nationkey", "nation", "n_nationkey"),
      riSql("nation.n_regionkey->region.r_regionkey",
        "nation", "n_regionkey", "region", "r_regionkey"),
      riSql("events.user_id->customer.c_custkey",
        "events", "user_id", "customer", "c_custkey"))
      .mkString("\n", "\nUNION ALL\n", ""),

    // C82: same integer-string digit bin and pinned ppm constants.
    "benford_audit" -> s"""
      |WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
      |           1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE CAST(floor(o_totalprice) AS BIGINT) >= 1),
      |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM digits GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
      |SELECT digit, cnt, cnt * 1000000 // n AS obs_ppm,
      |       $BenfordCase AS benford_ppm,
      |       abs(cnt * 1000000 // n - $BenfordCase) AS dev_ppm
      |FROM c CROSS JOIN t""".stripMargin,

    // C95: same two-level aggregation per candidate FD.
    "fd_audit" -> Seq(
      fdSql("lineitem", "l_orderkey", "l_returnflag"),
      fdSql("lineitem", "l_partkey", "l_suppkey"),
      fdSql("orders", "o_custkey", "o_orderpriority"))
      .mkString("\n", "\nUNION ALL\n", ""),

    // C101: same synthesized-loss corpus, generate_series spine,
    // identical block arithmetic.
    "seq_gap_audit" -> """
      |WITH RECURSIVE ev AS (SELECT event_id FROM events
      |            WHERE event_id % 1000 NOT IN (7, 113)
      |              AND event_id // 1000 <> 5),
      |bounds AS (SELECT min(event_id) AS gmin, max(event_id) AS gmax FROM ev),
      |blocks(block_id) AS (
      |  SELECT gmin // 1000 FROM bounds
      |  UNION ALL
      |  SELECT block_id + 1 FROM blocks
      |  WHERE block_id < (SELECT gmax // 1000 FROM bounds)),
      |agg AS (SELECT event_id // 1000 AS block_id, count(*) AS n_present
      |        FROM ev GROUP BY 1),
      |spine AS (SELECT block_id, gmin, gmax FROM blocks, bounds),
      |j AS (SELECT s.block_id,
      |             CAST(coalesce(n_present, 0) AS BIGINT) AS n_present,
      |             least(s.block_id * 1000 + 999, gmax)
      |               - greatest(s.block_id * 1000, gmin) + 1
      |               - coalesce(n_present, 0) AS n_missing
      |      FROM spine s LEFT JOIN agg USING (block_id))
      |SELECT block_id, n_present, CAST(n_missing AS BIGINT) AS n_missing
      |FROM j WHERE n_missing > 0""".stripMargin)

  /** One candidate-FD block of the C95 oracle. */
  private def fdSql(table: String, x: String, y: String): String =
    s"""SELECT '$x->$y' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(sum(CASE WHEN dv > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS violating_keys,
       |  CAST(sum(CASE WHEN dv > 1 THEN n ELSE 0 END) AS BIGINT)
       |    AS violating_rows,
       |  CAST(sum(n) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN dv > 1 THEN n ELSE 0 END) AS BIGINT) * 10000 //
       |    CAST(sum(n) AS BIGINT) AS violation_bp
       |FROM (SELECT $x, CAST(count(DISTINCT $y) AS BIGINT) AS dv,
       |        CAST(count(*) AS BIGINT) AS n
       |      FROM $table GROUP BY 1)""".stripMargin
}
