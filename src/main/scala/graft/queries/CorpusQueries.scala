package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** §2.C39–C44 — corpus indexing and assembly-order operators on top
  * of the curation stack: span-level duplication measurement and the
  * trimming intervals it feeds, TF-IDF keyword extraction,
  * inverted-index posting statistics, unigram rarity scoring, and
  * the deterministic pre-training shuffle.
  */
object CorpusQueries {

  import PipelineQueries.{CorpusCte, corpus}

  /** Training-shuffle shard count. The parallelism/file-size knob: at
    * 100 TB this is "output files" (millions, each ~1 GB), so every
    * shard-local rank window sorts one file's worth of rows — here 16
    * so each shard has enough rows to make the permutation visible. */
  private val Shards = 16L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C88 — TOKENIZER FERTILITY profile per (source, lang): tokens /
    // chars ratios (whitespace tokens, the C9 convention) — the
    // per-language cost sheet a token-budgeted mix allocator reads
    // (a language whose chars-per-token runs high pays more compute
    // per character of coverage). Pure scan-local projections into a
    // map-side-combined ≤ sources×langs aggregation; integer ratios.
    "token_fertility" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"),
          expr("CAST(size(filter(split(text, ' '), t -> length(t) > 0)) AS BIGINT)")
            .as("toks"),
          length(col("text")).cast("long").as("chars"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"),
          sum(col("chars")).as("n_chars"))
        .withColumn("tokens_per_kchar", expr("tokens * 1000 div n_chars"))
        .withColumn("chars_per_token_milli", expr("n_chars * 1000 div tokens"))
    },

    // C116 — χ²-DISCRIMINATIVE TERMS per language: which tokens are
    // OVER-represented in each language vs the rest of the corpus,
    // ranked by the 2×2 χ² statistic — supervised feature selection
    // for the C7 language detector (C7 APPLIES a fixed marker list;
    // this LEARNS the markers from labeled data). One token scan
    // feeds all four margins; the 2×2 cells derive from (lang,token)
    // counts + broadcast lang totals + one vocab-keyed join for token
    // totals. (ad−bc) is exact BIGINT; χ² itself is ONE identical
    // DOUBLE expression tree both engines (bit-identical), ranked
    // desc with the token as tie-break, top 10 per language over the
    // ≤ langs×vocab frame.
    "lang_discrim_terms" -> { (s, d) =>
      val tl = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val a = tl.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("a"))
      val tw = tl.groupBy(col("w")).agg(count(lit(1)).as("tw"))
      val lt = tl.groupBy(col("lang")).agg(count(lit(1)).as("tl"))
      val g = tl.agg(count(lit(1)).as("n"))
      val j = a.join(tw, "w").join(broadcast(lt), "lang")
        .crossJoin(broadcast(g))
        .filter(col("a") >= 5 &&
          col("a") * (col("n") - col("tl")) >
            (col("tw") - col("a")) * col("tl"))
        .select(col("lang"), col("w"), col("a"),
          (col("tw") - col("a")).as("b"), (col("tl") - col("a")).as("c"),
          (col("n") - col("tw") - col("tl") + col("a")).as("dd"), col("n"))
      val scored = j
        .withColumn("diff", col("a") * col("dd") - col("b") * col("c"))
        .withColumn("chi2",
          expr("CAST(n AS DOUBLE) * CAST(diff AS DOUBLE)" +
            " * CAST(diff AS DOUBLE)" +
            " / (CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)" +
            " * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE))"))
      val wr = Window.partitionBy(col("lang"))
        .orderBy(col("chi2").desc, col("w").asc)
      scored.withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("lang"), col("rank"), col("w").as("term"),
          col("a").as("n_in_lang"), col("b").as("n_out"), col("chi2"))
    },

    // C121 — DUP-SPAN POSITION PROFILE: where duplicated spans sit
    // WITHIN documents (head / body / tail thirds by span midpoint
    // over the doc's token length) — the boilerplate locator: shared
    // headers/footers concentrate in the edge thirds, plagiarized
    // body text does not, and the answer decides whether C59's trim
    // or a header/footer strip is the right tool. C43's merged
    // intervals joined to a corpus-sized token-length dim, one
    // ≤ 3-row fold with span/token mass and share.
    "span_position_profile" -> { (s, d) =>
      val c = corpus(s, d)
      val spans = Dedup.dupSpanIntervals(c, "text", "doc_id", n = 6)
      val dl = c.select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks"))
      val tot = spans.agg(count(lit(1)).as("n_total"))
      spans.join(dl, "doc_id")
        .select(expr(
          "CASE least(2L, ((span_start + span_end) div 2) * 3 div n_toks)" +
            " WHEN 0 THEN 'head' WHEN 1 THEN 'body' ELSE 'tail' END")
          .as("position"), col("span_tokens"))
        .groupBy(col("position"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_tokens")).as("span_tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("n_spans * 10000 div n_total"))
        .drop("n_total")
    },

    // C114 — HAPAX/TAIL SHARE (Zipf-tail accounting): how many word
    // types occur once (hapax legomena) or twice, and what share of
    // TYPES and of TOKEN MASS they carry — the tail report behind
    // every vocab-size / min-count decision (a fat hapax share means
    // a bigger vocab buys almost no coverage; C33 measures coverage
    // of a GIVEN vocab, this explains why). One token scan into a
    // vocab-keyed count, folded to a single row of integers.
    "hapax_share" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_types"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis_types"))
        .select(col("n_types"), col("n_tokens"), col("hapax_types"),
          col("dis_types"),
          expr("hapax_types * 10000 div n_types").as("hapax_type_bp"),
          expr("hapax_types * 10000 div n_tokens").as("hapax_token_bp"),
          expr("dis_types * 2 * 10000 div n_tokens").as("dis_token_bp"))
    },

    // C115 — VOCAB GROWTH CURVE (Heaps'-law checkpoints): distinct
    // word types after 25/50/75/100% of the corpus (by doc-id order)
    // — the empirical types-vs-tokens curve that prices "how much new
    // vocabulary does the next crawl buy" (C114 explains the tail,
    // this measures its GROWTH). Prefix bounds are two control-plane
    // longs (the seq_gap convention); each checkpoint is one
    // token-scan distinct count — four scans, each fully distributed,
    // no expand blow-up of the token stream.
    "vocab_growth" -> { (s, d) =>
      val bounds = Tables.documents(s, d)
        .agg(max(col("doc_id")).as("mx")).collect()(0).getLong(0) + 1
      Seq(25L, 50L, 75L, 100L).map { pct =>
        Tables.documents(s, d)
          .filter(col("doc_id") * 100 < lit(bounds * pct))
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_types"))
          .select(lit(pct).as("prefix_pct"), col("n_tokens"), col("n_types"))
      }.reduce(_ unionByName _)
    },

    // C39 — duplicated-span measurement (Lee et al. 2022): per doc,
    // the fraction of its distinct word-6-grams shared with any OTHER
    // doc, in basis points. Runs over the perturbed near-dup corpus
    // (same construction as the dedup family) so duplicated spans
    // provably exist: a truncated copy shares every 6-gram with its
    // original except the trailing ones.
    "dup_spans" -> { (s, d) =>
      Dedup.dupGramStats(corpus(s, d), "text", "doc_id", n = 6)
    },

    // C40 — per-doc top-5 keyword extraction by integer-exact TF-IDF
    // (score = tf·10⁶·N div df, ties by term) — the doc-side term
    // weighting step for retrieval/clustering features.
    "tfidf_topk" -> { (s, d) =>
      TextAnalysis.tfIdfTopK(
        Tables.fanOut(Tables.documents(s, d)), "text", "doc_id", k = 5)
    },

    // C41 — inverted-index posting statistics: per token with df ≥ 10,
    // the document frequency, total term frequency, and posting span.
    // The profile pass before materializing token-bucketed posting
    // lists.
    "inverted_index" -> { (s, d) =>
      TextAnalysis.invertedIndex(
        Tables.fanOut(Tables.documents(s, d)), "text", "doc_id", minDf = 10L)
    },

    // C43 — duplicated-span INTERVALS (the action half of C39): per
    // doc, the merged token ranges covered by cross-doc duplicated
    // 6-grams — what span-level trimming actually removes. Offsets,
    // not substrings.
    "dup_span_intervals" -> { (s, d) =>
      Dedup.dupSpanIntervals(corpus(s, d), "text", "doc_id", n = 6)
    },

    // C59 — the trimming ACTION applied: C43's merged intervals fed
    // through `Dedup.trimSpans` — every token inside a duplicated
    // span dropped, remainder reassembled, drop count carried. The
    // output corpus is what actually ships to packing; value-level
    // verified end-to-end (the oracle replays interval construction
    // AND the positional token filter).
    "trim_spans" -> { (s, d) =>
      val c = corpus(s, d)
      Dedup.trimSpans(c,
        Dedup.dupSpanIntervals(c, "text", "doc_id", n = 6), "text", "doc_id")
    },

    // C64 — SURGICAL decontamination: benchmark-leaked spans trimmed
    // OUT of corpus documents instead of dropping the documents (C21
    // drops; this scrubs — the mode for contamination inside otherwise
    // valuable docs). Leakage is planted deterministically: every
    // doc_id % 7 == 3 doc gets the first 12 tokens of the lowest-id
    // probe doc appended, so trimming provably restores those docs;
    // probe docs inside the corpus slice self-cover and trim to ''.
    "decontam_spans" -> { (s, d) =>
      val (corpus, probe) = leakedCorpus(s, d)
      Dedup.trimSpans(corpus,
        Dedup.contamSpanIntervals(corpus, probe, "text", "doc_id", n = 8),
        "text", "doc_id")
    },

    // C65 — the same surgical scrub as ONE shuffle-free projection
    // (`Dedup.trimContamProjectionExact`): per-token coverage decided
    // from the doc's own gram-hit bitmap against the bloom-prefiltered
    // exact fingerprint set — the scan-speed / streaming-legal
    // production regime, under the SAME value oracle as C64 (identical
    // output by construction; the two keys pin both formulations).
    "decontam_scrub" -> { (s, d) =>
      val (corpus, probe) = leakedCorpus(s, d)
      Dedup.trimContamProjectionExact(corpus,
        Dedup.probeGramHashes(probe, "text", "doc_id", n = 8),
        "text", "doc_id", n = 8)
    },

    // C75 — sparse TF-IDF similarity retrieval: per probe doc
    // (every %37th), the top-3 other docs by integer sparse dot over
    // shared word-3-gram terms — the term-overlap twin of the
    // embedding ANN family (no embedding model needed). df∈[2, 100]
    // pruning is the scale contract: no term fans the postings join
    // out by more than maxDf (TextAnalysis.sparseSimTopK).
    "sparse_sim_topk" -> { (s, d) =>
      TextAnalysis.sparseSimTopK(Tables.fanOut(Tables.documents(s, d)),
        "text", "doc_id", probeFilter = col("id") % 37 === 0, k = 3)
    },

    // C44 — unigram rarity score: integer-exact surrogate of the
    // unigram-perplexity quality proxy (mean corpus-frequency rank of
    // the doc's tokens, milli-units) — rank is monotone in −log p(w),
    // so the filtering order matches perplexity with zero floats.
    // The STANDING entry runs the open-web form (minCount floor): only
    // the vocabulary head (corpus count >= 3) enters the unpartitioned
    // rank window, so its input is bounded by corpus_tokens/3 at any
    // corpus size — the 100× plan, not just the sf0.1 one. The
    // minCount=1 curated-corpus form stays available on the operator.
    "rarity_score" -> { (s, d) =>
      TextAnalysis.rarityScore(
        Tables.fanOut(Tables.documents(s, d)), "text", "doc_id",
        minCount = 3L)
    },

    // C50 — bigram rarity: the 2-gram form of C44 (mean corpus
    // frequency rank of the doc's word BIGRAMS) — the transition-level
    // surprisal proxy that separates fluent-but-incoherent text
    // (common words, rare transitions) from real prose. Standing entry
    // on the minCount floor like C44 — the bigram vocabulary grows
    // ~linearly with an open-web corpus, so the head floor matters
    // here even more than for words.
    "bigram_rarity" -> { (s, d) =>
      TextAnalysis.rarityScore(
        Tables.fanOut(Tables.documents(s, d)), "text", "doc_id", n = 2,
        minCount = 3L)
    },

    // C55 — top-50 collocations by fixed-point PMI (count-floored, so
    // hapax pairs can't saturate the list): the phrase-mining /
    // tokenizer-vocabulary signal — which adjacent word pairs behave
    // as units. Integer-exact, log-free; the unigram counts are
    // computed once and broadcast-reused across both join sides.
    "pmi_topk" -> { (s, d) =>
      TextAnalysis.pmiTopK(
        Tables.fanOut(Tables.documents(s, d)), "text", k = 50, minCount = 5L)
    },

    // C42 — deterministic pre-training shuffle: every doc gets a
    // multiplicative-hash ordering key; shard = key mod 16, position =
    // rank within the shard by (key, doc_id). RNG-free, so any engine
    // (and any re-run) reproduces the exact training order — the
    // property epoch-resumable data loaders need. SCALE FORM: the only
    // sort is per shard, and shard count is the file-size knob (a
    // 100 TB run uses ~1 GB shards → millions of independent
    // file-sized sorts, no global order anywhere).
    "train_shuffle" -> { (s, d) =>
      val h = (col("doc_id") * lit(2654435761L)) % lit(1000000007L)
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), (h % lit(Shards)).as("shard"), h.as("h"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    })

  /** The C64/C65 planted-leak corpus: the %97 probe slice is the
    * benchmark suite; every doc_id % 7 == 3 corpus doc gets the first
    * 12 tokens of the lowest-id probe doc appended. Shared by both
    * decontamination keys so the two formulations see one input. */
  private def leakedCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val probe = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text"))
    val frag = probe.orderBy(col("doc_id")).limit(1)
      .select(expr("concat_ws(' ', slice(split(text, ' '), 1, 12))").as("frag"))
    val corpus = docs.filter(col("doc_id") < 200)
      .crossJoin(broadcast(frag))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" "), col("frag")))
          .otherwise(col("text")).as("text"))
    (corpus, probe)
  }

  private val DecontamSpansSql: String = """
      |WITH probe AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      |frag AS (
      |  SELECT array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS frag
      |  FROM probe ORDER BY doc_id LIMIT 1),
      |corpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 3 THEN text || ' ' || frag ELSE text END AS text
      |  FROM documents CROSS JOIN frag WHERE doc_id < 200),
      |pg AS (SELECT DISTINCT g FROM (
      |  SELECT unnest(list_transform(range(0, greatest(len(w) - 7, 0)),
      |    i -> array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                    CAST(i + 8 AS INT)), ' '))) AS g
      |  FROM (SELECT string_split(text, ' ') AS w FROM probe))),
      |gpos AS (
      |  SELECT doc_id, CAST(u['pos'] AS BIGINT) AS pos, u['g'] AS g FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(0, greatest(len(w) - 7, 0)),
      |             i -> {'pos': i,
      |                   'g': array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                                   CAST(i + 8 AS INT)), ' ')})) AS u
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus))),
      |iv AS (
      |  SELECT doc_id, pos AS s, pos + 7 AS e
      |  FROM gpos WHERE g IN (SELECT g FROM pg)),
      |m AS (
      |  SELECT doc_id, s, e,
      |         max(e) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |grp AS (
      |  SELECT doc_id, s, e,
      |         CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY s
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gid
      |  FROM m),
      |spans AS (
      |  SELECT doc_id, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, gid),
      |tok AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, len(w)),
      |           i -> {'i': i, 't': w[CAST(i + 1 AS INT)]})) AS u
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)),
      |keep AS (
      |  SELECT t.doc_id, CAST(t.u['i'] AS BIGINT) AS i, t.u['t'] AS t
      |  FROM tok t
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |                    WHERE sp.doc_id = t.doc_id
      |                      AND CAST(t.u['i'] AS BIGINT) BETWEEN sp.s AND sp.e)),
      |drops AS (
      |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_dropped_tokens
      |  FROM spans GROUP BY 1)
      |SELECT c.doc_id,
      |       coalesce(k.text, '') AS text,
      |       coalesce(d.n_dropped_tokens, 0) AS n_dropped_tokens
      |FROM corpus c
      |LEFT JOIN (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text
      |           FROM keep GROUP BY 1) k USING (doc_id)
      |LEFT JOIN drops d USING (doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(

    // C116: same margins, exact BIGINT (ad−bc), the identical DOUBLE
    // χ² tree, row_number ranked desc with token tie-break.
    "lang_discrim_terms" -> """
      WITH tl0 AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      tl AS (SELECT lang, w FROM tl0 WHERE w <> ''),
      a AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS a
            FROM tl GROUP BY 1, 2),
      tw AS (SELECT w, CAST(count(*) AS BIGINT) AS tw FROM tl GROUP BY 1),
      lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS tl FROM tl GROUP BY 1),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tl),
      j AS (
        SELECT a.lang, a.w, a.a, tw.tw - a.a AS b, lt.tl - a.a AS c,
               g.n - tw.tw - lt.tl + a.a AS dd, g.n
        FROM a JOIN tw USING (w) JOIN lt USING (lang) CROSS JOIN g
        WHERE a.a >= 5
          AND a.a * (g.n - lt.tl) > (tw.tw - a.a) * lt.tl),
      s AS (
        SELECT lang, w, a, b,
               a * dd - b * c AS diff,
               CAST(n AS DOUBLE) * CAST(a * dd - b * c AS DOUBLE)
                 * CAST(a * dd - b * c AS DOUBLE)
                 / (CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)
                 * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE)) AS chi2
        FROM j),
      r AS (
        SELECT lang, w, a, b, chi2,
               row_number() OVER (PARTITION BY lang
                 ORDER BY chi2 DESC, w) AS rank
        FROM s)
      SELECT lang, CAST(rank AS BIGINT) AS rank, w AS term,
             a AS n_in_lang, b AS n_out, chi2
      FROM r WHERE rank <= 10""",

    // C121: the C43 interval chain verbatim, a token-length dim, the
    // same midpoint-third classification.
    "span_position_profile" -> s"""$CorpusCte,
      |gpos AS (
      |  SELECT doc_id, CAST(u['pos'] AS BIGINT) AS pos, u['g'] AS g FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(0, greatest(len(w) - 5, 0)),
      |             i -> {'pos': i,
      |                   'g': array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                                   CAST(i + 6 AS INT)), ' ')})) AS u
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus))),
      |freq AS (
      |  SELECT g, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, g FROM gpos) GROUP BY 1),
      |iv AS (
      |  SELECT doc_id, pos AS s, pos + 5 AS e
      |  FROM gpos JOIN freq USING (g) WHERE df >= 2),
      |m AS (
      |  SELECT doc_id, s, e,
      |         max(e) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |grp AS (
      |  SELECT doc_id, s, e,
      |         CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY s
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gid
      |  FROM m),
      |spans AS (
      |  SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
      |         max(e) - min(s) + 1 AS span_tokens
      |  FROM grp GROUP BY doc_id, gid),
      |dl AS (SELECT doc_id,
      |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |       FROM corpus),
      |cls AS (
      |  SELECT CASE least(2, ((span_start + span_end) // 2) * 3 // n_toks)
      |           WHEN 0 THEN 'head' WHEN 1 THEN 'body' ELSE 'tail' END
      |           AS position,
      |         span_tokens
      |  FROM spans JOIN dl USING (doc_id)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cls)
      |SELECT position, CAST(count(*) AS BIGINT) AS n_spans,
      |       CAST(sum(span_tokens) AS BIGINT) AS span_tokens,
      |       CAST(count(*) * 10000 // max(n_total) AS BIGINT) AS share_bp
      |FROM cls CROSS JOIN tot
      |GROUP BY 1""".stripMargin,

    // C114: one vocab count, integer tail folds.
    "hapax_share" -> """
      WITH v AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS hapax_types,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS dis_types
            FROM v)
      SELECT n_types, n_tokens, hapax_types, dis_types,
             hapax_types * 10000 // n_types AS hapax_type_bp,
             hapax_types * 10000 // n_tokens AS hapax_token_bp,
             dis_types * 2 * 10000 // n_tokens AS dis_token_bp
      FROM m""",

    // C115: same prefix bounds (doc_id·100 < (max+1)·pct).
    "vocab_growth" -> """
      WITH mx AS (SELECT max(doc_id) + 1 AS b FROM documents),
      pcts AS (SELECT unnest([25, 50, 75, 100]) AS pct)
      SELECT CAST(pct AS BIGINT) AS prefix_pct,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT w) AS BIGINT) AS n_types
      FROM pcts, mx,
           (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) t
      WHERE t.w <> '' AND t.doc_id * 100 < mx.b * pct
      GROUP BY 1""",

    // C88: same whitespace-token and strlen conventions.
    "token_fertility" -> """
      WITH t AS (
        SELECT source, lang,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> length(x) > 0)) AS BIGINT) AS toks,
               CAST(strlen(text) AS BIGINT) AS chars
        FROM documents)
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS tokens,
             CAST(sum(chars) AS BIGINT) AS n_chars,
             CAST(sum(toks) AS BIGINT) * 1000 //
               CAST(sum(chars) AS BIGINT) AS tokens_per_kchar,
             CAST(sum(chars) AS BIGINT) * 1000 //
               CAST(sum(toks) AS BIGINT) AS chars_per_token_milli
      FROM t GROUP BY 1, 2""",

    // The oracle groups grams as STRINGS where the engine groups
    // 64-bit fingerprints — identical up to a ~1e-9 hash collision,
    // the same convention as the dedup family's oracles.
    "dup_spans" -> s"""$CorpusCte,
      |g AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(0, greatest(len(w) - 5, 0)),
      |             i -> array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                             CAST(i + 6 AS INT)), ' '))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus))),
      |freq AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 10000
      |            // count(*) AS BIGINT) AS dup_bp
      |FROM g JOIN freq USING (g)
      |GROUP BY 1""".stripMargin,

    "dup_span_intervals" -> s"""$CorpusCte,
      |gpos AS (
      |  SELECT doc_id, CAST(u['pos'] AS BIGINT) AS pos, u['g'] AS g FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(0, greatest(len(w) - 5, 0)),
      |             i -> {'pos': i,
      |                   'g': array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                                   CAST(i + 6 AS INT)), ' ')})) AS u
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus))),
      |freq AS (
      |  SELECT g, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, g FROM gpos) GROUP BY 1),
      |iv AS (
      |  SELECT doc_id, pos AS s, pos + 5 AS e
      |  FROM gpos JOIN freq USING (g) WHERE df >= 2),
      |m AS (
      |  SELECT doc_id, s, e,
      |         max(e) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |grp AS (
      |  SELECT doc_id, s, e,
      |         CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY s
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gid
      |  FROM m)
      |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
      |       max(e) - min(s) + 1 AS span_tokens
      |FROM grp GROUP BY doc_id, gid""".stripMargin,

    // Replays the full interval chain, then the positional token
    // filter: tokens indexed via range() (0-based, matching the
    // engine's filter-lambda index), kept iff no merged span covers
    // the index, reassembled in position order. string_agg keeps
    // empty tokens exactly like Spark's concat_ws, so double spaces
    // survive identically on both sides.
    "trim_spans" -> s"""$CorpusCte,
      |gpos AS (
      |  SELECT doc_id, CAST(u['pos'] AS BIGINT) AS pos, u['g'] AS g FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(0, greatest(len(w) - 5, 0)),
      |             i -> {'pos': i,
      |                   'g': array_to_string(list_slice(w, CAST(i + 1 AS INT),
      |                                                   CAST(i + 6 AS INT)), ' ')})) AS u
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus))),
      |freq AS (
      |  SELECT g, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, g FROM gpos) GROUP BY 1),
      |iv AS (
      |  SELECT doc_id, pos AS s, pos + 5 AS e
      |  FROM gpos JOIN freq USING (g) WHERE df >= 2),
      |m AS (
      |  SELECT doc_id, s, e,
      |         max(e) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |grp AS (
      |  SELECT doc_id, s, e,
      |         CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY s
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gid
      |  FROM m),
      |spans AS (
      |  SELECT doc_id, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, gid),
      |tok AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, len(w)),
      |           i -> {'i': i, 't': w[CAST(i + 1 AS INT)]})) AS u
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)),
      |keep AS (
      |  SELECT t.doc_id, CAST(t.u['i'] AS BIGINT) AS i, t.u['t'] AS t
      |  FROM tok t
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |                    WHERE sp.doc_id = t.doc_id
      |                      AND CAST(t.u['i'] AS BIGINT) BETWEEN sp.s AND sp.e)),
      |drops AS (
      |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_dropped_tokens
      |  FROM spans GROUP BY 1)
      |SELECT c.doc_id,
      |       coalesce(k.text, '') AS text,
      |       coalesce(d.n_dropped_tokens, 0) AS n_dropped_tokens
      |FROM corpus c
      |LEFT JOIN (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text
      |           FROM keep GROUP BY 1) k USING (doc_id)
      |LEFT JOIN drops d USING (doc_id)""".stripMargin,

    // Replays the planted-leak construction, probe 8-gram membership
    // (plain gram strings — equivalent to the engine's fingerprint
    // semi-join, same no-collision contract as the span family), the
    // interval merge, and the positional token filter. The SAME SQL
    // adjudicates both formulations: the interval path (C64) and the
    // shuffle-free projection (C65) must produce identical values.
    "decontam_spans" -> DecontamSpansSql,
    "decontam_scrub" -> DecontamSpansSql,

    "sparse_sim_topk" -> """
      |WITH ws AS (
      |  SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
      |tk AS (
      |  SELECT id, unnest(list_transform(range(1, len(ws) - 1),
      |    i -> array_to_string(list_slice(ws, CAST(i AS INT),
      |                                    CAST(i + 2 AS INT)), ' '))) AS t
      |  FROM ws WHERE len(ws) >= 3),
      |tf AS (SELECT id, t, CAST(count(*) AS BIGINT) AS tf
      |       FROM tk GROUP BY 1, 2),
      |dfc AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |w AS (SELECT id, tf.t, tf.tf * (1000000 // df) AS w
      |      FROM tf JOIN dfc ON tf.t = dfc.t WHERE df BETWEEN 2 AND 100),
      |p AS (SELECT id AS probe_id, t, w AS wp FROM w WHERE id % 37 = 0),
      |c AS (SELECT id AS cand_id, t, w AS wc FROM w),
      |sc AS (SELECT probe_id, cand_id, CAST(sum(wp * wc) AS BIGINT) AS score
      |       FROM p JOIN c ON p.t = c.t WHERE probe_id != cand_id
      |       GROUP BY 1, 2)
      |SELECT probe_id, cand_id, score, rank FROM (
      |  SELECT probe_id, cand_id, score,
      |         CAST(row_number() OVER (PARTITION BY probe_id
      |           ORDER BY score DESC, cand_id) AS BIGINT) AS rank
      |  FROM sc)
      |WHERE rank <= 3""".stripMargin,

    "tfidf_topk" -> """
      |WITH tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  WHERE length(term) > 0
      |  GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |         CAST(tf.tf * 1000000 * n.n_docs // df.df AS BIGINT) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, score,
      |         CAST(row_number() OVER (PARTITION BY doc_id
      |           ORDER BY score DESC, term) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT doc_id, term, tf, score, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "inverted_index" -> """
      |SELECT token,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
      |       CAST(count(*) AS BIGINT) AS tf,
      |       min(doc_id) AS first_doc,
      |       max(doc_id) AS last_doc
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |      FROM documents)
      |WHERE length(token) > 0
      |GROUP BY 1
      |HAVING count(DISTINCT doc_id) >= 10""".stripMargin,

    "rarity_score" -> """
      |WITH words AS (
      |  SELECT doc_id, word
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE length(word) > 0),
      |vocab AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY word),
      |head AS (
      |  SELECT word,
      |         CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rank
      |  FROM vocab WHERE n >= 3),
      |dflt AS (
      |  SELECT CAST(coalesce(max(rank), 0) + 1 AS BIGINT) AS default_rank
      |  FROM head)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(coalesce(rank, default_rank)) * 1000 // count(*)
      |         AS BIGINT) AS mean_rank_milli
      |FROM words LEFT JOIN head USING (word) CROSS JOIN dflt
      |GROUP BY 1""".stripMargin,

    "bigram_rarity" -> """
      |WITH f AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, ' '), t -> length(t) > 0) AS f
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, greatest(len(f) - 1, 0)),
      |           i -> array_to_string(list_slice(f, CAST(i + 1 AS INT),
      |                                           CAST(i + 2 AS INT)), ' '))) AS word
      |  FROM f),
      |vocab AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY word),
      |head AS (
      |  SELECT word,
      |         CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rank
      |  FROM vocab WHERE n >= 3),
      |dflt AS (
      |  SELECT CAST(coalesce(max(rank), 0) + 1 AS BIGINT) AS default_rank
      |  FROM head)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(coalesce(rank, default_rank)) * 1000 // count(*)
      |         AS BIGINT) AS mean_rank_milli
      |FROM grams LEFT JOIN head USING (word) CROSS JOIN dflt
      |GROUP BY 1""".stripMargin,

    "pmi_topk" -> """
      |WITH f AS (
      |  SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS f
      |  FROM documents),
      |words AS (SELECT unnest(f) AS word FROM f),
      |uni AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY 1),
      |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM uni),
      |bi AS (
      |  SELECT u['w1'] AS w1, u['w2'] AS w2, CAST(count(*) AS BIGINT) AS cnt_ab
      |  FROM (
      |    SELECT unnest(list_transform(range(0, greatest(len(f) - 1, 0)),
      |      i -> {'w1': f[CAST(i + 1 AS INT)], 'w2': f[CAST(i + 2 AS INT)]})) AS u
      |    FROM f)
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 5),
      |scored AS (
      |  SELECT w1, w2, cnt_ab, a.cnt AS cnt_a, b.cnt AS cnt_b,
      |         CAST((cnt_ab * n_tokens // a.cnt) * 1000000 // b.cnt AS BIGINT) AS pmi_micro
      |  FROM bi JOIN uni a ON bi.w1 = a.word
      |          JOIN uni b ON bi.w2 = b.word
      |          CROSS JOIN total),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (
      |    ORDER BY pmi_micro DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT w1, w2, cnt_ab, cnt_a, cnt_b, pmi_micro, rank
      |FROM ranked WHERE rank <= 50""".stripMargin,

    "train_shuffle" -> """
      |SELECT doc_id, shard,
      |       CAST(row_number() OVER (PARTITION BY shard
      |         ORDER BY h, doc_id) AS BIGINT) AS pos
      |FROM (SELECT doc_id,
      |             (doc_id * 2654435761) % 1000000007 % 16 AS shard,
      |             (doc_id * 2654435761) % 1000000007 AS h
      |      FROM documents)""".stripMargin)
}
