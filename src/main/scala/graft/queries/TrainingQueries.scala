package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ckpt, Clustering, TextAnalysis}
import graft.sources.Tables

/** C32–C38 — training-set assembly on top of the curation stack:
  * sequence packing into fixed token-capacity chunks, tokenizer-vocab
  * coverage, embedding k-means, SemDeDup semantic dedup, one-pass
  * table profiling, sliding-window document chunking, and
  * temperature-weighted source mixing.
  */
object TrainingQueries {

  import QueryMath.{cosSql, dotSql}

  /** Tokens per packed training chunk (a context-window stand-in). */
  private val PackCapacity = 2048.0

  /** Packing shards per source — the unit of pack-order locality. */
  private val Shards = 32L

  /** [[PackCapacity]] as the integer the C80 audit divides by. */
  private val PackCapInt = 2048L

  /** The C32 pack assignment (doc → source/shard/chunk with token
    * count) — shared by `seq_pack` and the C80 efficiency audit. */
  private def packAssign(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        ((col("doc_id") * lit(2654435761L)) % lit(1000000007L) % lit(Shards))
          .as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")).cast("double") / lit(PackCapacity))
          .cast("long").as("chunk_id"))
  }

  /** Cumulative-coverage vocab cutoff, as a rational (19/20 = 95%). */
  private val CovNum = 19L
  private val CovDen = 20L

  private val K = 8
  private val Passes = 2
  private val Tau = 0.98

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C32 — sequence packing: assemble documents into fixed
    // token-capacity training chunks (capacity 2048), the standard
    // pre-training assembly step. Docs are packed in doc_id order
    // WITHIN (source, shard) — shard is a multiplicative hash of the
    // id — and a doc whose cumulative start crosses a capacity
    // boundary opens the next chunk (spillover packing: chunks may
    // overflow by at most one doc, none start above the boundary).
    // SCALE FORM: packing is shard-local, so the only window sort is
    // per (source, shard) — corpus-size / (sources × 32) rows each,
    // embarrassingly parallel, no global sort. Real pipelines pack
    // within shards for exactly this reason (pack order across shards
    // carries no signal). Integer/IEEE-exact throughout.
    "seq_pack" -> { (s, d) => packAssign(s, d) },

    // C80 — PACKING-EFFICIENCY audit of the C32 assignment: chunks
    // histogrammed by fill decile with token mass and padding waste —
    // the number a training run reads before committing a pack
    // capacity (median fill too low → tokens burned as padding; mass
    // in the over-full bucket → capacity splits mid-document). Two
    // bounded aggregations over the assignment frame: (source, shard,
    // chunk) sums, then an ≤11-key decile rollup — nothing beyond
    // C32's own shuffles.
    "pack_efficiency" -> { (s, d) =>
      packAssign(s, d)
        .groupBy(col("source"), col("shard"), col("chunk_id"))
        .agg(sum(col("n_tokens")).as("tokens"))
        .select(expr(s"least(tokens * 10 div $PackCapInt, CAST(10 AS BIGINT))")
          .as("fill_decile"), col("tokens"))
        .groupBy(col("fill_decile"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("tokens")).as("total_tokens"),
          sum(expr(s"greatest($PackCapInt - tokens, CAST(0 AS BIGINT))"))
            .as("total_waste"))
    },

    // C33 — tokenizer-vocab construction: the smallest
    // frequency-ranked word vocabulary whose cumulative share of
    // token occurrences reaches 95% (the crossing word is included);
    // TextAnalysis.vocabCoverage, integer-exact keep test. At
    // open-web scale pass minCount > 1: only the head of the vocab
    // enters the rank window (input bounded by tokens/minCount) while
    // the total still counts every occurrence.
    "vocab_coverage" -> { (s, d) =>
      TextAnalysis.vocabCoverage(Tables.fanOut(Tables.documents(s, d)),
        "text", CovNum, CovDen)
    },

    // C34 — Lloyd's k-means over the embedding table (k=8, two
    // assignment passes, deterministic seeds): per-vector final
    // cluster and distance. Engine-exact by the Clustering.scala
    // contract (sequential-fold distances, integer-micro centroid
    // update), so the oracle replays both passes value-for-value.
    "kmeans_embed" -> { (s, d) =>
      Clustering.kmeans(Tables.embeddings(s, d), "vec_id", "embedding",
          k = K, passes = Passes)
        .select(col("vec_id"), col("cluster"),
          floor(sqrt(col("d")) * lit(10000.0)).cast("long").as("dist_bp"))
    },

    // C119 — CLUSTER PURITY vs the labeled ground truth: per C34
    // k-means cluster, the majority label and its share — the "did
    // unsupervised structure recover the known classes" scorecard
    // that decides whether cluster-balanced sampling is safe to use
    // as a label proxy (NMI needs logs; purity is the integer-exact
    // member of the family). Assignment replayed deterministically
    // (same seeded init + fixed passes as C34), one (cluster, label)
    // aggregation, majority pick by row_number with min-label
    // tie-break.
    "cluster_purity" -> { (s, d) =>
      val asg = Clustering.kmeans(Tables.embeddings(s, d), "vec_id",
        "embedding", k = K, passes = Passes)
      val lab = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val g = asg.join(lab, "vec_id")
        .groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).as("n"))
      val wRank = Window.partitionBy(col("cluster"))
        .orderBy(col("n").desc, col("label").asc)
      g.withColumn("rk", row_number().over(wRank))
        .withColumn("n_members",
          sum(col("n")).over(Window.partitionBy(col("cluster"))))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("n_members"),
          col("label").as("top_label"), col("n").as("top_label_n"),
          expr("n * 10000 div n_members").as("purity_bp"))
    },

    // C36 — one-pass table profiling (the data-quality preflight):
    // per-column null and exact-distinct counts plus the row count,
    // one aggregation over one scan. Exact count_distinct costs one
    // Expand (row ×ncols before the shuffle) — the price of an
    // oracle-checkable profile; at 100 TB swap in
    // approx_count_distinct and the Expand disappears (same plan
    // shape, sketch merge instead).
    "table_profile" -> { (s, d) =>
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val aggs = cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__distinct"))) :+
        count(lit(1)).as("n_rows")
      Tables.documents(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"),
            col(s"${c}__nulls").as("n_nulls"),
            col(s"${c}__distinct").as("n_distinct"),
            col("n_rows").as("n_rows"))): _*)).as("p"))
        .select(col("p.col_name"), col("p.n_nulls"),
          col("p.n_distinct"), col("p.n_rows"))
    },

    // C37 — sliding-window document chunking (window 48 tokens,
    // stride 32 → 16-token overlap; sized to the synthetic docs so
    // multi-chunk splits actually occur): the context-length splitting
    // step for embedding/indexing pipelines. Chunk count is a pure
    // integer formula, so the explode is sequence(0, n_chunks-1) —
    // scan-speed fan-out, no shuffle at all; token offsets, not
    // substrings, so the output stays narrow (the consumer slices).
    "doc_chunk" -> { (s, d) =>
      val w = 48L
      val st = 32L
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("n_chunks",
          when(col("n_tokens") <= w, lit(1L))
            .otherwise(ceil((col("n_tokens") - lit(w)).cast("double") / lit(st.toDouble))
              .cast("long") + lit(1L)))
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * st).as("start_tok"),
          least(col("chunk_idx") * st + w, col("n_tokens")).as("end_tok"))
    },

    // C38 — temperature-weighted source mixing (T=2): rebalance the
    // source mix toward rare sources by sampling source i with
    // keep-fraction ∝ sqrt(n_i)/n_i against a target budget — the
    // standard multinomial-mixing step before training. Portable
    // determinism: weights are integer-floored sqrt micro-units, the
    // grand total is a window over the SOURCE table (sources ≪
    // corpus; no second corpus scan), membership is the
    // multiplicative-hash threshold — no RNG, any engine reproduces
    // the sample row-for-row. Thresholds broadcast; one corpus scan.
    // C93 — WATER-FILLING budget allocator: distribute a doc budget
    // across sources, no source above its cap, surplus split evenly
    // among the uncapped (the max-min fair quota C38's temperature
    // sampling doesn't give: temperature shapes PROPORTIONS, water-
    // filling enforces a hard budget with caps). The textbook
    // iterative algorithm in CLOSED FORM: sort caps ascending; k* =
    // the FIRST k where cap_k exceeds the per-remaining-source level
    // (budget − cum_before) div (n−k+1); sources before k* are
    // binding (take their cap), the rest take the level at k* — the
    // k*-first contract makes integer floors engine-exact, and the
    // division dust (≤ n−k* docs) stays unallocated, documented. All
    // windows run over the ≤|sources| cap frame (vocab-window
    // contract); the corpus is touched once for the counts.
    "water_fill_alloc" -> { (s, d) =>
      // allocate across LANGUAGES (genuinely asymmetric caps — en
      // dominates): small languages bind at their size, the dominant
      // one takes the remaining level; budget = 80% of the corpus so
      // both branches exercise
      val caps = Ckpt(Tables.documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("cap")))
      val tot = caps.agg(sum(col("cap")).as("total"), count(lit(1)).as("n"))
      val byCap = Window.orderBy(col("cap").asc, col("lang").asc)
      val cum = Ckpt(caps.crossJoin(broadcast(tot))
        .withColumn("budget", expr("total * 4 div 5"))
        .withColumn("k", row_number().over(byCap).cast("long"))
        .withColumn("cum_before", coalesce(
          sum(col("cap")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("level_k", expr("(budget - cum_before) div (n - k + 1)"))
        .withColumn("fail", col("cap") > col("level_k")))
      val ks = cum.agg(min(when(col("fail"), col("k"))).as("kstar"))
      val cum2 = cum.crossJoin(broadcast(ks))
      val lvl = cum2
        .agg(max(when(col("k") === col("kstar"), col("level_k"))).as("level"))
      cum2.crossJoin(broadcast(lvl))
        .withColumn("binding", col("kstar").isNull || col("k") < col("kstar"))
        .withColumn("alloc",
          when(col("binding"), col("cap")).otherwise(col("level")))
        .select(col("lang"), col("cap"), col("k"), col("budget"),
          col("binding"), col("alloc"))
    },

    "mix_temperature" -> { (s, d) =>
      val target = 200.0
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val thr = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
        .withColumn("w",
          floor(sqrt(col("n_src").cast("double")) * lit(1000000.0)).cast("long"))
        .withColumn("w_tot", sum(col("w")).over(Window.partitionBy()))
        .select(col("source"),
          floor(least(lit(1.0),
            lit(target) * col("w").cast("double") / col("w_tot").cast("double")
              / col("n_src").cast("double")) * lit(1000000.0))
            .cast("long").as("thr"))
      docs.join(broadcast(thr), "source")
        .filter((col("doc_id") * lit(2654435761L)) % lit(1000000007L)
          % lit(1000000L) < col("thr"))
        .select(col("doc_id"), col("source"))
    },

    // C66 — token-budget epoch allocator: the decision table pinned
    // BEFORE a training run — per source, how many (milli-)epochs at
    // a fixed token budget under temperature-weighted shares (τ = 0.5
    // via the same sqrt fixed-point idiom as C38), with an epoch cap
    // so tiny sources can't be over-sampled into memorization. C38
    // samples docs to a mix; this prices the mix in epochs and
    // allocated tokens — what the run config actually records.
    // The w_tot window frame is the post-aggregation SOURCE table (a
    // handful of rows) — bounded by construction.
    "epoch_alloc" -> { (s, d) =>
      val targetTokens = 50000.0
      val capMilli = 3000L
      val src = Tables.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy(col("source")).agg(sum(col("n_tok")).as("src_tokens"))
      src
        .withColumn("weight_ppm",
          floor(sqrt(col("src_tokens").cast("double")) * lit(1000000.0))
            .cast("long"))
        .withColumn("w_tot", sum(col("weight_ppm")).over(Window.partitionBy()))
        .withColumn("epochs_milli",
          least(lit(capMilli),
            floor(lit(1000.0) * lit(targetTokens)
              * col("weight_ppm").cast("double")
              / col("w_tot").cast("double")
              / col("src_tokens").cast("double")).cast("long")))
        .select(col("source"), col("src_tokens"), col("weight_ppm"),
          col("epochs_milli"),
          expr("src_tokens * epochs_milli div 1000").as("alloc_tokens"),
          (col("epochs_milli") === lit(capMilli)).as("capped"))
    },

    // C68 — sequence-length histogram: per (source, log2-token-length
    // bucket) doc counts and token mass — the length profile that
    // sizes C32's pack capacity and C37's chunking stride before a
    // run. The bucket is integer-exact (the bit-length of n_tokens,
    // never floating log2, so 2^k lands in bucket k in every engine).
    // SCALE: one scan, one map-side-combined aggregation onto a
    // (sources × ~20)-key space — the cheapest possible profile.
    "doclen_histogram" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          greatest(size(split(col("text"), " ")).cast("long"), lit(1L))
            .as("n_tok"))
        .select(col("source"),
          (length(bin(col("n_tok"))) - 1).cast("long").as("len_bucket"),
          col("n_tok"))
        .groupBy(col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    },

    // C69 — tokenizer-fitting first-merge ranking: top-20 adjacent
    // character pairs by weighted word-internal frequency — the
    // statistic BPE's merge loop ranks every round. Zipf form: pairs
    // expand from the DISTINCT vocabulary weighted by token count
    // (corpus-tokens of work collapses to vocab × word length), per
    // the TextAnalysis.bpeMergeRank contract.
    "bpe_merge_rank" -> { (s, d) =>
      TextAnalysis.bpeMergeRank(Tables.fanOut(Tables.documents(s, d)),
        "text", k = 20)
    },

    // C35 — SemDeDup: semantic near-dup removal blocked by k-means
    // clusters — within-cluster pairs with cosine >= 0.98 drop the
    // larger vec_id. The embedding-space twin of dedup_minhash_lsh
    // with k-means (not LSH) as the blocker, per the SemDeDup paper.
    // Near-dups provably exist via the same deterministic
    // perturbation as dedup_embed_cosine (first 8 dims +0.01 →
    // cos ≈ 0.9996, and the copy lands in its original's cluster).
    "semdedup" -> { (s, d) =>
      Clustering.semDedup(semCorpus(s, d), "vec_id", "embedding",
        k = K, passes = Passes, tau = Tau)
    })

  /** Base slice ∪ perturbed copies (the dedup_embed_cosine corpus). */
  private def semCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    val pert = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "IF(i < 8, CAST(CAST(x AS DOUBLE) + 0.01D AS FLOAT), x))").as("embedding"))
    base.unionByName(pert)
  }

  /** DuckDB twin of [[Clustering.distSq]]: per-element squared
    * difference (REAL widens to DOUBLE exactly), sequential left fold
    * — bit-identical doubles (same convention as dotSql). */
  private def distSqSql(v: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($v)+1), i -> " +
      s"(CAST($v[CAST(i AS INT)] AS DOUBLE) - $c[CAST(i AS INT)]) * " +
      s"(CAST($v[CAST(i AS INT)] AS DOUBLE) - $c[CAST(i AS INT)]))), " +
      s"(acc, x) -> acc + x)"

  /** One k-means assignment pass as SQL: nearest `cents` centroid per
    * vector, ties to the lowest cluster id. */
  private def assignSql(src: String, cents: String): String =
    s"""(SELECT vec_id, embedding, cluster, d FROM (
       |  SELECT vec_id, embedding, cluster, d,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, c.cluster,
       |               ${distSqSql("e.embedding", "c.centroid")} AS d
       |        FROM $src e CROSS JOIN $cents c))
       | WHERE rn = 1)""".stripMargin

  /** CTE chain replaying [[Clustering.kmeans]] (k=8, passes=2) over
    * `src`: seed → assign → integer-micro centroid update → assign. */
  private def kmeansBody(src: String): String =
    s"""init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT $K)),
       |a1 AS ${assignSql(src, "init")},
       |u1 AS (
       |  SELECT cluster, list(CAST(sm AS DOUBLE) / (1000000.0 * n) ORDER BY pos) AS centroid
       |  FROM (
       |    SELECT cluster, CAST(u['pos'] AS BIGINT) AS pos,
       |           CAST(sum(CAST(floor(CAST(u['val'] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
       |           count(*) AS n
       |    FROM (SELECT cluster, unnest(list_transform(range(0, len(embedding)),
       |                  i -> {'pos': i, 'val': embedding[CAST(i+1 AS INT)]})) AS u
       |          FROM a1)
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |cents1 AS (
       |  SELECT i.cluster, coalesce(u.centroid, i.centroid) AS centroid
       |  FROM init i LEFT JOIN u1 u ON i.cluster = u.cluster),
       |a2 AS ${assignSql(src, "cents1")}""".stripMargin

  val oracles: Map[String, String] = Map(

    "seq_pack" -> """
      |SELECT doc_id, source, shard, n_tokens,
      |       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2048.0) AS BIGINT) AS chunk_id
      |FROM (
      |  SELECT doc_id, source, shard, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (SELECT doc_id, source,
      |               (doc_id * 2654435761) % 1000000007 % 32 AS shard,
      |               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |        FROM documents))""".stripMargin,

    // C80: the C32 assignment replayed, rolled up to chunk sums and
    // the capped fill-decile histogram.
    "pack_efficiency" -> """
      |WITH a AS (
      |  SELECT doc_id, source, shard, n_tokens,
      |         CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2048.0) AS BIGINT)
      |           AS chunk_id
      |  FROM (
      |    SELECT doc_id, source, shard, n_tokens,
      |           sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM (SELECT doc_id, source,
      |                 (doc_id * 2654435761) % 1000000007 % 32 AS shard,
      |                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |          FROM documents))),
      |ch AS (SELECT source, shard, chunk_id,
      |              CAST(sum(n_tokens) AS BIGINT) AS tokens
      |       FROM a GROUP BY 1, 2, 3)
      |SELECT least(tokens * 10 // 2048, 10) AS fill_decile,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(tokens) AS BIGINT) AS total_tokens,
      |       CAST(sum(greatest(2048 - tokens, 0)) AS BIGINT) AS total_waste
      |FROM ch GROUP BY 1""".stripMargin,

    "vocab_coverage" -> """
      |WITH counts AS (
      |  SELECT word, count(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0
      |  GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
      |r AS (
      |  SELECT word, n,
      |         row_number() OVER (ORDER BY n DESC, word) AS rank,
      |         sum(n) OVER (ORDER BY n DESC, word
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM counts)
      |SELECT word, n, rank FROM r, t
      |WHERE (cum - n) * 20 < total * 19""".stripMargin,

    "table_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(count(*) AS BIGINT) AS n_rows
           |FROM documents""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", ""),

    "doc_chunk" -> """
      |SELECT doc_id, chunk_idx, chunk_idx * 32 AS start_tok,
      |       least(chunk_idx * 32 + 48, n_tokens) AS end_tok
      |FROM (
      |  SELECT doc_id, n_tokens, unnest(range(0, n_chunks)) AS chunk_idx
      |  FROM (
      |    SELECT doc_id, n_tokens,
      |           CASE WHEN n_tokens <= 48 THEN 1
      |                ELSE CAST(ceil(CAST(n_tokens - 48 AS DOUBLE) / 32.0) AS BIGINT) + 1
      |           END AS n_chunks
      |    FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |          FROM documents)))""".stripMargin,

    // C93: same closed form; level_k never reaches the output where
    // floors could differ on negatives (binding rows take cap, the
    // rest take the level at k*, which is ≥ 0 by construction).
    "water_fill_alloc" -> """
      WITH caps AS (SELECT lang, CAST(count(*) AS BIGINT) AS cap
                    FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(cap) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n FROM caps),
      c AS (
        SELECT lang, cap, total * 4 // 5 AS budget, n,
               CAST(row_number() OVER ord AS BIGINT) AS k,
               CAST(coalesce(sum(cap) OVER (ord ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM caps CROSS JOIN t
        WINDOW ord AS (ORDER BY cap, lang)),
      f AS (SELECT *, (budget - cum_before) // (n - k + 1) AS level_k,
                   cap > (budget - cum_before) // (n - k + 1) AS fail
            FROM c),
      ks AS (SELECT min(CASE WHEN fail THEN k END) AS kstar FROM f),
      lv AS (SELECT max(CASE WHEN f.k = ks.kstar THEN level_k END) AS level
             FROM f CROSS JOIN ks)
      SELECT lang, cap, k, budget,
             (ks.kstar IS NULL OR k < ks.kstar) AS binding,
             CASE WHEN ks.kstar IS NULL OR k < ks.kstar
                  THEN cap ELSE lv.level END AS alloc
      FROM f CROSS JOIN ks CROSS JOIN lv""",

    "mix_temperature" -> """
      |WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
      |w AS (SELECT source, n_src,
      |             CAST(floor(sqrt(CAST(n_src AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
      |      FROM c),
      |t AS (SELECT source, n_src, w, sum(w) OVER () AS w_tot FROM w),
      |thr AS (SELECT source,
      |               CAST(floor(least(1.0,
      |                 200.0 * CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE)
      |                   / CAST(n_src AS DOUBLE)) * 1000000.0) AS BIGINT) AS thr
      |        FROM t)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN thr ON d.source = thr.source
      |WHERE (d.doc_id * 2654435761) % 1000000007 % 1000000 < thr.thr""".stripMargin,

    // Double arithmetic mirrors the engine exactly: sqrt is IEEE
    // correctly-rounded, products/divisions associate left in both,
    // floor before the BIGINT cast — the C38 convention.
    "epoch_alloc" -> """
      |WITH src AS (
      |  SELECT source,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, src_tokens,
      |         CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
      |           AS weight_ppm
      |  FROM src),
      |t AS (SELECT source, src_tokens, weight_ppm,
      |             CAST(sum(weight_ppm) OVER () AS BIGINT) AS w_tot FROM w),
      |e AS (
      |  SELECT source, src_tokens, weight_ppm,
      |         least(3000, CAST(floor(1000.0 * 50000.0
      |           * CAST(weight_ppm AS DOUBLE)
      |           / CAST(w_tot AS DOUBLE)
      |           / CAST(src_tokens AS DOUBLE)) AS BIGINT)) AS epochs_milli
      |  FROM t)
      |SELECT source, src_tokens, weight_ppm, epochs_milli,
      |       src_tokens * epochs_milli // 1000 AS alloc_tokens,
      |       epochs_milli = 3000 AS capped
      |FROM e""".stripMargin,

    // bin() renders the same minimal binary string in both engines,
    // so length(bin(n)) - 1 is floor(log2 n) with zero float risk.
    "doclen_histogram" -> """
      |SELECT source, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS len_bucket,
      |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
      |FROM (SELECT source,
      |             greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1)
      |               AS n_tok
      |      FROM documents)
      |GROUP BY 1, 2""".stripMargin,

    "bpe_merge_rank" -> """
      |WITH w AS (
      |  SELECT word, count(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY 1),
      |p AS (
      |  SELECT unnest(list_transform(range(1, length(word)),
      |           i -> substr(word, CAST(i AS INT), 2))) AS pair, n
      |  FROM w WHERE length(word) >= 2),
      |a AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n FROM p GROUP BY 1)
      |SELECT pair, n, rank FROM (
      |  SELECT pair, n,
      |         CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
      |  FROM a)
      |WHERE rank <= 20""".stripMargin,

    "kmeans_embed" -> s"""
      |WITH ${kmeansBody("embeddings")}
      |SELECT vec_id, cluster,
      |       CAST(floor(sqrt(d) * 10000.0) AS BIGINT) AS dist_bp
      |FROM a2""".stripMargin,

    // C119: the same k-means replay, one (cluster, label) agg, the
    // same min-label majority pick.
    "cluster_purity" -> s"""
      |WITH ${kmeansBody("embeddings")},
      |g AS (
      |  SELECT a2.cluster, CAST(e.label AS BIGINT) AS label,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM a2 JOIN embeddings e ON a2.vec_id = e.vec_id
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT cluster, label, n,
      |         row_number() OVER (PARTITION BY cluster
      |           ORDER BY n DESC, label) AS rk,
      |         CAST(sum(n) OVER (PARTITION BY cluster) AS BIGINT)
      |           AS n_members
      |  FROM g)
      |SELECT cluster, n_members, label AS top_label, n AS top_label_n,
      |       n * 10000 // n_members AS purity_bp
      |FROM w WHERE rk = 1""".stripMargin,

    // Same corpus CTEs as dedup_embed_cosine's oracle (base slice +
    // bit-exact float perturbation), then the k-means replay over it.
    "semdedup" -> s"""
      |WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
      |pert AS (
      |  SELECT vec_id + 10000 AS vec_id,
      |         list_transform(range(1, len(embedding) + 1),
      |           i -> CASE WHEN i <= 8
      |                     THEN CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) + 0.01 AS REAL)
      |                     ELSE embedding[CAST(i AS INT)] END) AS embedding
      |  FROM base WHERE vec_id % 10 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
      |${kmeansBody("u")}
      |SELECT DISTINCT y.vec_id, y.cluster
      |FROM a2 x JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      |WHERE ${cosSql("x.embedding", "y.embedding")} >= $Tau""".stripMargin)
}
