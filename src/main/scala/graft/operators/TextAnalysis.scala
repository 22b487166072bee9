package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Text analysis for corpus curation: language ID, quality scoring,
  * token counting. All builtin-function compositions (codegen'd); all
  * integer-or-decimal outputs so results are engine-exact.
  */
object TextAnalysis {

  /** Marker-token sets per language for the heuristic classifier.
    * A real deployment swaps these for per-language stopword tables;
    * the mechanism (count markers per language, argmax with a fixed
    * priority tie-break) is the operator under test. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("scan", "window", "stream"),
    "es" -> Seq("query", "filter", "row"),
    "fr" -> Seq("merge", "sort", "order"),
    "zh" -> Seq("spark", "batch", "vector"))

  /** Language-ID heuristic: marker-count argmax, ties resolved by
    * list order (en > de > es > fr > zh). Emits the per-language
    * scores so downstream filters can threshold on confidence. */
  def langId(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val scored = Markers.foldLeft(docs.select(col(idCol), col(textCol))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang", TextFunctions.markerCount(textCol, markers))
    }
    // Cascading argmax: the first language (in priority order) whose
    // score is positive and >= every LATER language's score. If case
    // i fails because some later score is larger, a later case with
    // the running max fires — so the winner is the true max, with
    // ties broken by list order.
    val langs = Markers.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), els) =>
      val geLater = langs.drop(i + 1)
        .map(o => col(s"score_$lang") >= col(s"score_$o"))
        .foldLeft(col(s"score_$lang") > 0)(_ && _)
      when(geLater, lit(lang)).otherwise(els)
    }
    scored.withColumn("pred_lang", pred).drop(textCol)
  }

  /** The stopword list for quality's stopword ratio: the union of the
    * language marker sets (a deployment swaps in real per-language
    * stopword tables; the ratio mechanism is what's under test). */
  val Stopwords: Seq[String] = Markers.flatMap(_._2).distinct

  /** Quality metrics: char/word counts, punct/digit/upper counts,
    * stopword share, and basis-point ratios computed with
    * integer-exact arithmetic. A low stopword ratio flags
    * non-linguistic content (code, tables, boilerplate) — a standard
    * C4/Gopher-style filter signal. */
  def quality(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      length(t).as("n_chars_m"),
      size(split(t, " ")).as("n_words"),
      (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).as("n_punct"),
      (length(t) - length(regexp_replace(t, "[0-9]", ""))).as("n_digits"),
      (length(t) - length(regexp_replace(t, "[A-Z]", ""))).as("n_upper"),
      TextFunctions.markerCount(textCol, Stopwords).as("n_stopwords"))
      .withColumn("word_len_bp",
        floor(lit(10000.0) * (col("n_chars_m") - col("n_words") + 1) / col("n_words"))
          .cast("long"))
      .withColumn("punct_bp",
        floor(lit(10000.0) * col("n_punct") / col("n_chars_m")).cast("long"))
      .withColumn("stopword_bp",
        floor(lit(10000.0) * col("n_stopwords") / col("n_words")).cast("long"))
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / single non-alnum). */
  def tokenCount(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(split(col(textCol), " ")).as("ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).as("re_tokens"))

  /** Within-document repetition score (a Gopher/C4-style quality
    * signal): the share of duplicate word-`n`-grams, in basis points.
    * Heavily templated or crawler-looped text scores high and gets
    * filtered before training. Pure builtin HOFs (one pass, codegen'd,
    * no shuffle — per-row work only), integer-exact output. */
  def repetition(docs: DataFrame, textCol: String, idCol: String,
                 n: Int = 3): DataFrame = {
    docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), TextFunctions.wordGrams("toks", n).as("grams"))
      .select(col(idCol),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_distinct"))
      .withColumn("dup_bp",
        when(col("n_grams") > 0,
          floor(lit(10000.0) * (col("n_grams") - col("n_distinct")) / col("n_grams"))
            .cast("long"))
          .otherwise(lit(0L)))
  }

  /** Composite C4/Gopher-style document filter: the end-of-pipeline
    * keep/drop decision with a named reject reason. Rules in priority
    * order (the FIRST failing rule names the reason):
    *   too_short      n_words < minWords
    *   too_long       n_words > maxWords
    *   word_length    mean word length outside [minWordLenBp,
    *                  maxWordLenBp] (basis points of chars/word —
    *                  gibberish or char-soup both fail this)
    *   low_stopword   stopword share < minStopwordBp (non-linguistic
    *                  content: code, tables, boilerplate)
    *   repetitive     duplicate word-3-gram share > maxDupBp
    *
    * One pass, one projection, zero joins/shuffles: every signal is
    * computed from a single `toks` split per row (all codegen'd
    * builtins), so at 100 TB this is scan-speed — the filter decision
    * costs no more than reading the corpus. Integer-exact outputs. */
  def qualityFilter(docs: DataFrame, textCol: String, idCol: String,
                    minWords: Int = 20, maxWords: Int = 1000000,
                    minWordLenBp: Int = 30000, maxWordLenBp: Int = 60000,
                    minStopwordBp: Int = 2000, maxDupBp: Int = 500): DataFrame =
    withQualityFlag(docs, textCol, idCol, minWords, maxWords,
      minWordLenBp, maxWordLenBp, minStopwordBp, maxDupBp)
      .select(col(idCol), col("n_words"), col("word_len_bp"),
        col("stopword_bp"), col("dup_bp"), col("reason"), col("keep"))

  /** [[qualityFilter]]'s compose-friendly form: the SAME signals and
    * keep/reason decision appended to the input's own columns (text
    * included), so the filter chains inside a pipeline — batch or
    * streaming (it is a pure projection, legal on a `readStream`
    * frame) — without a join back for the document body. */
  def withQualityFlag(docs: DataFrame, textCol: String, idCol: String,
                      minWords: Int = 20, maxWords: Int = 1000000,
                      minWordLenBp: Int = 30000, maxWordLenBp: Int = 60000,
                      minStopwordBp: Int = 2000, maxDupBp: Int = 500): DataFrame = {
    val stopSet = Stopwords.map(w => s"'$w'").mkString(", ")
    val reason =
      when(col("n_words") < minWords, lit("too_short"))
        .when(col("n_words") > maxWords, lit("too_long"))
        .when(col("word_len_bp") < minWordLenBp ||
          col("word_len_bp") > maxWordLenBp, lit("word_length"))
        .when(col("stopword_bp") < minStopwordBp, lit("low_stopword"))
        .when(col("dup_bp") > maxDupBp, lit("repetitive"))
        .otherwise(lit(null).cast("string"))
    docs
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("n_words", size(col("__toks")))
      .withColumn("word_len_bp",
        floor(lit(10000.0) * (length(col(textCol)) - col("n_words") + 1)
          / col("n_words")).cast("long"))
      .withColumn("stopword_bp",
        floor(lit(10000.0) * expr(s"size(filter(__toks, t -> t IN ($stopSet)))")
          / col("n_words")).cast("long"))
      .withColumn("__grams", TextFunctions.wordGrams("__toks", 3))
      .withColumn("dup_bp",
        when(size(col("__grams")) > 0,
          floor(lit(10000.0)
            * (size(col("__grams")) - size(array_distinct(col("__grams"))))
            / size(col("__grams"))).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("reason", reason)
      .withColumn("keep", col("reason").isNull)
      .drop("__toks", "__grams")
  }

  /** Inverted-index posting statistics: per token, the document
    * frequency (distinct docs containing it), total term frequency,
    * and the posting span (min/max doc id), for tokens with
    * `df >= minDf`. The index-construction profile a retrieval or
    * dedup pipeline builds before materializing posting lists — and
    * the `df` side of TF-IDF.
    *
    * Scale posture: one corpus scan → explode → ONE aggregation
    * shuffle keyed by token, with partial (map-side) aggregation of
    * all four measures; `count_distinct(id)` runs as Spark's two-phase
    * distinct aggregation, so the shuffle carries (token, id) pairs
    * once, not text. Materializing the full posting LISTS is the same
    * plan with `sort_array(collect_set(id))` in place of the counters
    * — kept out of the default because posting payloads belong in the
    * sink (bucketed by token), not the driver. */
  def invertedIndex(docs: DataFrame, textCol: String, idCol: String,
                    minDf: Long = 2L): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count_distinct(col("id")).as("df"),
        count(lit(1)).as("tf"),
        min(col("id")).as("first_doc"),
        max(col("id")).as("last_doc"))
      .filter(col("df") >= minDf)

  /** Per-document unigram RARITY score — the integer-exact surrogate
    * of the CCNet/KenLM unigram-perplexity quality proxy: each token
    * scores its corpus frequency RANK (1 = most common), a document
    * scores the mean rank of its tokens in milli-units
    * (`sum(rank)·1000 div n_tokens`). Rank is monotone in −log p(w),
    * so the ordering matches the perplexity signal without a single
    * float: high mean rank = rare vocabulary (gibberish, boilerplate
    * IDs), low = stopword soup — both tails are what quality filters
    * cut. Ties rank by word text; unseen words cannot occur (the
    * vocabulary IS the corpus).
    *
    * Scale posture: BOTH branches grow from the (doc, word) tf
    * aggregation, so AQE's exchange-stage reuse runs the
    * scan+explode+tf subtree ONCE (asserted in PlanSpec): corpus
    * frequency is `sum(tf)` re-aggregated by word (map-side partial,
    * vocab-sized shuffle), ranked by a vocab-sized window, and the
    * doc rollup is `sum(tf·rank)` after joining the BROADCAST rank
    * table back onto tf. At open-web scale set `minCount` > 1: only
    * the vocabulary HEAD (corpus count >= minCount) enters the rank
    * window and broadcasts — input bounded by tokens/minCount no
    * matter how many hapax/garbage tokens the crawl holds — and every
    * tail word shares the default rank head_size + 1 (rank resolution
    * in the tail carries no filtering signal; the default keeps
    * mean_rank monotone). */
  def rarityScore(docs: DataFrame, textCol: String, idCol: String,
                  minCount: Long = 1L, n: Int = 1): DataFrame = {
    require(n >= 1, s"n ($n) must be >= 1")
    // n > 1: the unit is the word n-GRAM (2 ≈ the KenLM-bigram
    // surprisal proxy — sharper than unigram rarity on fluent-but-
    // incoherent text, where every word is common but transitions are
    // not). Grams stay STRINGS (the rank tie-break is by unit text,
    // the contract any engine reproduces); at open-web scale the gram
    // vocabulary needs the minCount floor even more than words do.
    val units =
      if (n == 1)
        docs.select(col(idCol).as("id"),
            explode(split(col(textCol), " ")).as("word"))
          .filter(length(col("word")) > 0)
      else
        docs.select(col(idCol).as("id"),
            expr(s"filter(split($textCol, ' '), t -> length(t) > 0)").as("f"))
          .select(col("id"), explode(TextFunctions.wordGrams("f", n)).as("word"))
    val tf = units.groupBy(col("id"), col("word")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("word")).agg(sum(col("tf")).as("n"))
    // Deliberately unpartitioned rank window: its input is the
    // VOCABULARY (post-agg distinct units), never the corpus — and
    // with minCount > 1 it is further bounded by corpus_tokens /
    // minCount. The minCount=1 form is for curated corpora whose
    // vocabulary fits one task; open-web callers must pass the floor.
    val byFreq = Window.orderBy(col("n").desc, col("word").asc)
    if (minCount <= 1L) {
      val ranked = vocab
        .withColumn("rank", row_number().over(byFreq).cast("long"))
        .select("word", "rank")
      tf.join(broadcast(ranked), "word")
        .groupBy(col("id").as(idCol))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("rank")).as("rank_sum"))
        .withColumn("mean_rank_milli", expr("rank_sum * 1000 div n_tokens"))
        .drop("rank_sum")
    } else {
      // Open-web form: only the HEAD of the vocabulary (corpus count
      // >= minCount) enters the rank window — the window input is
      // bounded by corpus_tokens/minCount regardless of how many
      // hapax/garbage tokens the crawl holds. Every tail word shares
      // the single default rank head_size + 1: rank resolution in the
      // tail carries no filtering signal (all tails read "rare"), and
      // the default keeps mean_rank monotone — a doc of tail tokens
      // still outranks any head-vocabulary doc.
      val head = vocab.filter(col("n") >= minCount)
        .withColumn("rank", row_number().over(byFreq).cast("long"))
        .select("word", "rank")
      val defaultRank = head.agg(
        (coalesce(max(col("rank")), lit(0L)) + lit(1L)).as("default_rank"))
      tf.join(broadcast(head), Seq("word"), "left")
        .crossJoin(broadcast(defaultRank))
        .withColumn("rank", coalesce(col("rank"), col("default_rank")))
        .groupBy(col("id").as(idCol))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("rank")).as("rank_sum"))
        .withColumn("mean_rank_milli", expr("rank_sum * 1000 div n_tokens"))
        .drop("rank_sum")
    }
  }

  /** Tokenizer-vocabulary coverage: the smallest frequency-ranked word
    * vocabulary whose cumulative share of token occurrences reaches
    * `covNum/covDen` (the crossing word included) — the keep test is
    * pure integer arithmetic:
    * coverage-before-this-word < covNum/covDen ⇔
    * (cum − n)·covDen < total·covNum.
    *
    * Scale posture: the corpus-sized work is the word count (partial
    * agg, one shuffle keyed by word) and the corpus is scanned ONCE.
    * At `minCount` = 1 the grand total is a second frame over the same
    * rank window (no separate aggregation branch); with a floor, only
    * the head (count >= minCount) enters the rank window — input
    * bounded by corpus_tokens/minCount — while the grand total still
    * counts EVERY occurrence (coverage is of the corpus, not the
    * head) via a broadcast single-row re-aggregation of the same
    * word-count frame (AQE reuses the count exchange across the
    * branches). If the floored head cannot reach the target share,
    * the whole head is returned — the signal a caller needs to lower
    * the floor. */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    covNum: Long, covDen: Long,
                    minCount: Long = 1L): DataFrame = {
    require(covNum >= 0 && covDen > 0 && covNum <= covDen,
      s"coverage target $covNum/$covDen must be a fraction in [0, 1]")
    val counts = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // Deliberately unpartitioned rank/cumsum window over the
    // VOCABULARY frame (post-agg distinct words, not the corpus);
    // with minCount > 1 the input is bounded by corpus_tokens /
    // minCount. The minCount=1 form is for curated corpora whose
    // vocabulary fits one task; open-web callers must pass the floor.
    // PlanSpec asserts the window input is the collapsed count frame.
    val byFreq = Window.orderBy(col("n").desc, col("word").asc)
    if (minCount <= 1L) {
      counts
        .withColumn("rank", row_number().over(byFreq).cast("long"))
        .withColumn("cum", sum(col("n"))
          .over(byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("n"))
          .over(byFreq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter((col("cum") - col("n")) * lit(covDen) < col("total") * lit(covNum))
        .select(col("word"), col("n"), col("rank"))
    } else {
      val total = counts.agg(sum(col("n")).as("total"))
      counts.filter(col("n") >= minCount)
        .withColumn("rank", row_number().over(byFreq).cast("long"))
        .withColumn("cum", sum(col("n"))
          .over(byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .filter((col("cum") - col("n")) * lit(covDen) < col("total") * lit(covNum))
        .select(col("word"), col("n"), col("rank"))
    }
  }

  /** Merge posting-stat deltas — outputs of [[invertedIndex]]
    * (minDf = 1) over DISJOINT document batches — into corpus-level
    * stats. An append-only document stream never repeats a
    * (doc, token) pair across micro-batches, so `df` and `tf` are
    * additive and the posting span is min/max: the merge is exact,
    * not approximate. This is the streaming/incremental form of
    * index maintenance: `foreachBatch` writes
    * `invertedIndex(batch, minDf = 1)` as a delta partition, and
    * compaction (or query time) applies this merge — one vocab-keyed
    * aggregation over delta rows, never a re-scan of the corpus.
    * Apply any `minDf` threshold AFTER merging (a token can cross
    * the threshold only in aggregate). StreamingSpec asserts the
    * streamed merge equals the batch index. */
  def mergePostingStats(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("token"))
      .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))

  /** Per-document top-`k` keyword extraction by a TF-IDF-style score,
    * kept integer-exact so any engine reproduces it bit-for-bit:
    * `score = (tf · 10⁶ · n_docs) div df` — the rational surrogate of
    * tf·(N/df), monotone in the real TF-IDF ordering for fixed tf
    * scaling. Ties break by term text, so top-k is total-ordered.
    * Headroom: tf·10⁶·N stays under 2⁶³ up to ~10⁹ docs × tf 9000;
    * beyond that drop the 10⁶ micro-scale (documented contract).
    *
    * Scale posture: `df` is a term-keyed re-aggregation OF the tf
    * table — partial-agg'd map-side, so the term shuffle moves at
    * most (distinct terms per partition) counters — then joins back
    * BROADCAST (vocab ≪ corpus), so the tf side is never reshuffled
    * by term. Deliberately NOT a `count().over(partitionBy(term))`
    * window: that formulation saves re-reading the tf subtree but
    * sorts the whole tf table partitioned by TERM, and term
    * frequencies are Zipf — the hottest term's partition is a single
    * task holding ~df("the") rows, a parallelism collapse at corpus
    * scale. AQE's exchange-stage reuse serves the tf shuffle to both
    * branches, so the scan+explode runs once anyway (asserted in
    * PlanSpec). The corpus row count joins in as a broadcast
    * single-row frame (no driver collect; parquet count is
    * metadata-cheap). The rank window partitions by DOC and Spark
    * pushes `rank <= k` down as WindowGroupLimit, so the per-doc sort
    * is top-k, embarrassingly parallel at any corpus size.
    *
    * `broadcastDf = false` for open-web vocabularies: a df frame with
    * billions of distinct terms exceeds any broadcast budget, so the
    * join runs shuffled on the term key instead — AQE's skew-join
    * split absorbs the Zipf head there (a JOIN has skew mitigation;
    * the rejected term-partitioned WINDOW does not, which is why df
    * is a join in the first place). */
  def tfIdfTopK(docs: DataFrame, textCol: String, idCol: String,
                k: Int = 5, broadcastDf: Boolean = true): DataFrame = {
    val tf = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(if (broadcastDf) broadcast(df) else df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr("tf * 1000000 * n_docs div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"),
        col("score"), col("rank"))
  }

  /** Top-`k` documents for a query term set by an integer-exact BM25
    * surrogate — the retrieval-side rank the inverted index feeds.
    * Per matched (doc, term):
    * `tfc_milli = tf·2 200 000 div (tf·1000 + 300 + 900·dl_milli div 1000)`
    * — exactly BM25's saturating tf component
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) at the standard k1 = 1.2,
    * b = 0.75, in MILLI-units (numerator 2 200 000 over a ·1000
    * denominator → quotient ≤ ~2 200), every division integral — and
    * `idf_micro = (N − df + 1)·10⁶ div (df + 1)`, the rational
    * (log-free: libm differs across engines) Robertson idf surrogate,
    * monotone in the true idf so per-term orderings agree. Doc score
    * = Σ tfc·idf div 10⁶; ties break by doc id. Headroom:
    * idf_micro ≤ 10⁶·N and tfc_milli ≤ 2 200, so the per-term product
    * stays under 2⁶³ to ~4×10⁹ docs.
    *
    * Scale posture: the query-term filter lands INSIDE the token
    * explode (only matching tokens survive the scan), so the tf
    * aggregation shuffles query-matched (doc, term) counters only;
    * df re-aggregates the tf frame (broadcast back — bounded by the
    * query vocabulary); doc length and the corpus totals ride the
    * full token count — one map-side-combined shuffle of per-doc
    * counters plus a broadcast single-row frame. The final top-k
    * window is global but its input is the MATCHED-doc score frame,
    * with rank <= k pushed as WindowGroupLimit. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty && k >= 1, "need at least one query term and k >= 1")
    // r19 (guide §2.3 — don't shuffle what a row can count): doc
    // length is a PER-ROW scalar (non-empty tokens in the split
    // array), yet the old form derived it by exploding every token
    // and shuffling the whole token stream into a per-doc count — a
    // full corpus-token exchange spent on a value the scan already
    // holds. size(filter(...)) computes it in-scan, zero exchanges;
    // the explode now exists only on the query-term-matched tf path.
    // Parity: the old explode path dropped zero-token docs (nothing
    // to explode) and NULL texts (explode(NULL) = no rows) from dl —
    // filter(dl > 0) reproduces both (size(split(NULL)) is -1 under
    // the default spark.sql.legacy.sizeOfNull=true, NULL under
    // ANSI/sizeOfNull=false — never > 0 either way), so
    // n_docs/n_tokens and the dl join are identical.
    val dl = docs.select(col(idCol).as("id"),
        expr(s"size(filter(split($textCol, ' '), t -> length(t) > 0))")
          .cast("long").as("dl"))
      .filter(col("dl") > 0)
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    val tf = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0 && col("term").isin(terms.distinct: _*))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "id")
      .crossJoin(broadcast(totals))
      .withColumn("dl_milli", expr("dl * 1000000 div (n_tokens * 1000 div n_docs)"))
      .withColumn("tfc_milli",
        expr("tf * 2200000 div (tf * 1000 + 300 + (900 * dl_milli) div 1000)"))
      .withColumn("idf_micro", expr("(n_docs - df + 1) * 1000000 div (df + 1)"))
      .groupBy(col("id").as(idCol))
      .agg(sum(expr("tfc_milli * idf_micro div 1000000")).as("score"),
        count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Semi-structured ingest profiling: per JSON key across a corpus
    * of JSON objects — presence count/share and a shape census
    * (numeric / boolean / string) of the VALUE RENDERINGS. The
    * schema-discovery pass run before wiring typed extraction over a
    * raw event feed (which keys exist? how sparse? can this column be
    * numeric?).
    *
    * Values classify on their string rendering (`from_json` to
    * map<string,string> — one codegen'd parse per row, keys exploded
    * from the map, one counter shuffle keyed by JSON key). A
    * string-typed lookalike (`"42"`, `"true"`) therefore counts with
    * its shape class, not as a string — at profiling level that IS
    * the question being asked ("is this key numeric-shaped"), and it
    * is the documented contract the oracle mirrors via `json_type`.
    * Nested objects/arrays render as JSON text → string class. */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame = {
    val total = df.agg(count(lit(1)).as("n_rows"))
    df.select(explode(expr(s"from_json($jsonCol, 'map<string,string>')")))
      .toDF("key", "v")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_present"),
        sum(when(col("v").isin("true", "false"), 1L).otherwise(0L)).as("n_bool"),
        sum(when(!col("v").isin("true", "false") &&
          col("v").rlike("^-?[0-9]+(\\.[0-9]+)?$"), 1L).otherwise(0L))
          .as("n_numeric"))
      .crossJoin(broadcast(total))
      .withColumn("present_bp", expr("n_present * 10000 div n_rows"))
      .withColumn("n_string",
        col("n_present") - col("n_numeric") - col("n_bool"))
      .select(col("key"), col("n_present"), col("present_bp"),
        col("n_numeric"), col("n_bool"), col("n_string"))
  }

  /** Top-`k` collocations by fixed-point PMI: word bigrams ranked by
    * `pmi_micro = ((cnt_ab · n_tokens) div cnt_a) · 10⁶ div cnt_b` —
    * a DETERMINISTIC integer surrogate of the true pointwise mutual
    * information log(p(a,b) / (p(a)·p(b))) (log-free: libm differs
    * across engines), approximately monotone: flooring the cnt_ab ·
    * n_tokens div cnt_a quotient before the ·10⁶ scaling loses up to
    * one part of that quotient, so two bigrams whose true PMIs differ
    * by less than one quotient unit can rank in either order (both
    * engines floor identically, so the ORACLE ordering still matches
    * bit-for-bit). A `minCount` floor keeps hapax pairs from
    * saturating the top of the list. Ties break by bigram text. Headroom:
    * cnt_ab·n_tokens stays under 2⁶³ to ~10⁹ occurrences of a pair in
    * a ~10⁹-token corpus; shard the corpus before profiling past that.
    *
    * Scale posture: the corpus is scanned twice (unigram and bigram
    * token explodes — scan-bound passes, cheaper than materializing
    * the token stream at corpus scale), but the unigram COUNTS are
    * computed once: one broadcast serves both join sides (the second
    * is a ReusedExchange) and the corpus total re-aggregates the same
    * unigram exchange (the tfIdfTopK pattern; all three asserted in
    * PlanSpec). The bigram table is `minCount`-floored BEFORE joining
    * the unigram counts, the joins run on term keys (a JOIN gets AQE
    * skew-split on the Zipf head; a term-partitioned window would
    * not — same rationale as tfIdfTopK's df branch), and the rank
    * filter rewrites to TakeOrderedAndProject — per-partition top-k
    * then merge, no global sort. `broadcastUni = false` for open-web
    * vocabularies (the unigram frame outgrows any broadcast budget;
    * the shuffled join is the fallback, same knob as tfIdfTopK). */
  def pmiTopK(docs: DataFrame, textCol: String, k: Int = 50,
              minCount: Long = 5L, broadcastUni: Boolean = true): DataFrame = {
    val toks = docs.select(
      expr(s"filter(split($textCol, ' '), t -> length(t) > 0)").as("f"))
    val words = toks.select(explode(col("f")).as("word"))
    val uni = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val total = uni.agg(sum(col("cnt")).as("n_tokens"))
    val bi = toks.select(explode(TextFunctions.tokenWindows("f", 2,
        "struct(f[i] AS w1, f[i + 1] AS w2)")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt_ab"))
      .filter(col("cnt_ab") >= minCount)
    val u1 = uni.select(col("word").as("w1"), col("cnt").as("cnt_a"))
    val u2 = uni.select(col("word").as("w2"), col("cnt").as("cnt_b"))
    val byPmi = Window.orderBy(
      col("pmi_micro").desc, col("w1").asc, col("w2").asc)
    bi.join(if (broadcastUni) broadcast(u1) else u1, "w1")
      .join(if (broadcastUni) broadcast(u2) else u2, "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi_micro",
        expr("(cnt_ab * n_tokens div cnt_a) * 1000000 div cnt_b"))
      .withColumn("rank", row_number().over(byPmi).cast("long"))
      .filter(col("rank") <= k)
      .select(col("w1"), col("w2"), col("cnt_ab"), col("cnt_a"),
        col("cnt_b"), col("pmi_micro"), col("rank"))
  }

  /** URL canonicalization for crawl dedup — the normalization set
    * (documented contract, applied in this order):
    *  1. fragment dropped (`#…`);
    *  2. tracking params removed (`utm_*`, `fbclid`, `gclid`) —
    *     mid-query (with their trailing `&`, two passes so adjacent
    *     tracking params both go) and tail (with their leading
    *     `?`/`&`);
    *  3. a dangling `?`/`&` left by removal dropped;
    *  4. default ports stripped (`:80` for http, `:443` for https);
    *  5. scheme+host lowercased (path and query stay case-sensitive).
    * Pure regex-subset projection — scan-speed, engine-portable, the
    * key `url_dedup` groups on. A DOM/IDN-aware canonicalizer is the
    * richer upstream; this is the zero-dependency form. */
  def normalizeUrl(url: Column): Column = {
    val Track = "(utm_[^&=#]*|fbclid|gclid)"
    val noFrag = regexp_replace(url, "#.*$", "")
    val mid1 = regexp_replace(noFrag, s"([?&])$Track=[^&#]*&", "$1")
    val mid2 = regexp_replace(mid1, s"([?&])$Track=[^&#]*&", "$1")
    val tail = regexp_replace(mid2, s"([?&])$Track=[^&#]*$$", "")
    val clean = regexp_replace(tail, "[?&]$", "")
    val port = regexp_replace(
      regexp_replace(clean, "(?i)^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
      "(?i)^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
    val prefix = regexp_extract(port, "(?i)^(https?://[^/?#]*)", 1)
    concat(lower(prefix), port.substr(length(prefix) + 1, length(port)))
  }

  /** Whitespace normalization: collapse runs, trim. */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(text, " +", " "))

  /** PII scrub: redact email addresses and long digit runs (phone/id
    * numbers). Patterns stay in the portable regex subset so any
    * engine applies the identical policy. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
      "[0-9]{7,}", "<NUM>")

  /** HTML → text extraction: drop script/style blocks WITH their
    * contents, turn block-level boundaries (`</p> </div> </h1> </li>
    * </tr> <br>` …) into NEWLINES so the page's line structure
    * survives extraction (what [[graft.operators.Dedup.stripCommonLines]]
    * consumes to scrub shared chrome), strip remaining tags, decode
    * the common entities, collapse whitespace within lines. The
    * raw-crawl → clean-text front of a curation pipeline;
    * regex-subset only (no DOM) so it is scan-speed and
    * engine-portable — a structure-aware extractor (readability
    * scoring, link-density pruning) would slot in at the same column
    * position. `(?s)` lets `.` span newlines inside script/style
    * blocks. */
  /** Visible text of one HTML fragment: tags → spaces, the six core
    * entities decoded (amp last), whitespace collapsed, trimmed. The
    * per-line worker for [[extractMainContent]]. */
  private def visibleText(l: Column): Column = {
    val noTags = regexp_replace(l, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => regexp_replace(c, e, v) }
    trim(regexp_replace(decoded, "[ \t]+", " "))
  }

  /** Main-content extraction by LINK DENSITY — the readability/
    * boilerpipe heuristic in the engine-portable regex subset, the
    * production front-end between raw crawl HTML and every text
    * operator downstream. The page is segmented into lines at
    * block-level tag boundaries (script/style dropped whole, as
    * [[stripHtml]]); each line keeps a line iff its anchor-text share
    * of the visible text is at most `maxLinkBp` basis points — a nav
    * bar or footer menu is ~100% anchor text and drops, a paragraph
    * with an inline link keeps. Returns the kept lines' visible text
    * joined with newlines (empty lines never count).
    *
    * Contract bounds (documented, spec-pinned): tag/entity handling
    * is the same regex subset as [[stripHtml]]; density is measured
    * in characters after entity decode; a DOM-aware extractor with
    * text-block fusion is the richer upstream — this is the
    * scan-speed, zero-dependency form, and it is one codegen'd
    * projection per document (no shuffle, no UDF). */
  def extractMainContent(html: Column, maxLinkBp: Int = 6600): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val blockBreaks = regexp_replace(noBlocks,
      "(?i)</(p|div|h[1-6]|li|tr|ul|ol|table)>|<br[^>]*>", "\n")
    val assessed = transform(split(blockBreaks, "\n"), l =>
      struct(visibleText(l).as("v"),
        visibleText(array_join(
          regexp_extract_all(l, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "))
          .as("a")))
    val kept = filter(assessed, s =>
      length(s.getField("v")) > 0 &&
        length(s.getField("a")) * lit(10000) <=
          length(s.getField("v")) * lit(maxLinkBp))
    array_join(transform(kept, _.getField("v")), "\n")
  }

  /** Tokenizer-fitting first-merge signal: the top-`k` adjacent
    * character pairs by weighted frequency over word-internal
    * positions — exactly the statistic BPE's first merge round ranks
    * (and re-ranks after each merge; this is the dominant cost of
    * every round, so its scale shape IS tokenizer fitting's scale
    * shape).
    *
    * ZIPF FORM: pairs are NEVER expanded from the corpus. The corpus
    * is token-counted once (the same word-count shuffle every other
    * text operator pays), then pair expansion runs over the DISTINCT
    * vocabulary weighted by count — corpus_tokens of work collapses
    * to vocab_size × avg_word_len, orders of magnitude smaller on
    * Zipf-distributed text. The final aggregation's key space is the
    * character-pair alphabet (≤ |charset|²), and the rank window over
    * it is alphabet-bounded by construction (same contract as the
    * vocab-sized windows — see vocabCoverage).
    *
    * Ties rank by pair text; `minCount` floors hapax pairs out of the
    * window input (open-web charsets are long-tailed in exotic
    * codepoints). Integer-exact throughout. */
  def bpeMergeRank(docs: DataFrame, textCol: String,
                   k: Int = 20, minCount: Long = 1L): DataFrame = {
    val words = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val pairs = words.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, char_length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("n"))
      .filter(col("n") >= minCount)
    // alphabet²-bounded rank window (post-agg distinct pairs)
    val byFreq = Window.orderBy(col("n").desc, col("pair").asc)
    pairs.withColumn("rank", row_number().over(byFreq).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Sparse TF-IDF similarity retrieval: for each PROBE document, the
    * top-`k` other documents by integer sparse dot product of TF-IDF
    * weights over shared terms — the term-overlap twin of the
    * embedding ANN family (works with no embedding model at all;
    * near-dup triage, related-document linking, probe-vs-corpus
    * contamination candidates). The term unit is the word `n`-gram
    * (default 3): unigrams over a closed vocabulary saturate (every
    * token in most docs), n-grams are the discriminative unit sparse
    * retrieval actually indexes.
    *
    * Integer weights: `w(d,t) = tf · (10⁶ div df)` — IDF as a floored
    * fixed-point reciprocal, so scores are exact 64-bit sums in any
    * engine. Terms with `df < 2` can't co-occur and are dropped;
    * terms with `df > maxDf` are dropped as stop-terms — the
    * standard sparse-retrieval pruning, and the SCALE CONTRACT: the
    * postings join fans out per term at most df_probe · df ≤
    * probe_slice · maxDf pairs, so no term can detonate the join
    * (exactly why production sparse retrieval caps posting lengths).
    * One term-keyed postings join + one (probe, cand) map-side
    * combined aggregation; the rank window is per-probe
    * candidate-bounded. Ties: score desc, then candidate id.
    *
    * PLAN SHAPE (r16, SPARSEPROBE r15→r16 adjudication): the pre-r15
    * form consumed the weighted-postings chain twice (probe +
    * candidate side) with the df-filter chain inside each — FOUR full
    * tokenize scans per run (SPARSEPROBE_r15: reusedExchange=0, the classic
    * multi-consumer non-reuse). r15 eagerly localCheckpoint'd the df
    * table, which cut isolated scans 4 → 2 but (a) ran a full
    * tokenize+agg Spark job at PLAN-BUILD time as a side effect,
    * (b) pinned non-recomputable blocks until GC — under the 269-key
    * suite's block-manager pressure the committed 10× suite row got
    * WORSE (3.84 → 4.11 s) while the isolated probe read 1.95 s, and
    * (c) would fail the query outright on executor loss on a real
    * cluster (checkpoint truncates lineage).
    *
    * Now the SHARED subtree — `allToks`, the (id, term, tf) postings,
    * the most expensive thing in the operator — is persisted LAZILY
    * (MEMORY_AND_DISK): the df count, the candidate side, and the
    * probe side all read ONE materialization, so exactly one tokenize
    * scan runs per action (down from two), nothing executes at plan
    * build, and eviction is safe (lineage retained → recompute, never
    * failure). The probe side filters the CACHED postings on
    * the id column (`probeFilter` must be expressible on the id
    * column alone — every caller's is), so it pays no re-tokenize.
    * At 100 TB the postings cache spills to local disk — one
    * write+read of the postings vs re-tokenizing the corpus per
    * consumer, the right trade at every scale. PlanSpec pins the
    * single-scan shape.
    *
    * CACHE LIFETIME (r17, advisor correction): `Dataset.persist`
    * registers the plan in the session's CacheManager, which holds a
    * STRONG reference to the InMemoryRelation — ContextCleaner never
    * frees these blocks when the returned DataFrame is dropped (it
    * only collects weakly-reachable broadcast/RDD state). Each
    * distinct (docs, params) invocation therefore pins one postings
    * cache until `spark.catalog.clearCache()` (or a targeted
    * `cacheManager.uncacheQuery`) or session end. Single-action
    * callers in long-lived sessions should clearCache after
    * consuming the result; the bench harness clears between every
    * timed pass for exactly this reason. CacheManager DEDUPES by
    * canonicalized plan, so re-invoking with identical inputs reuses
    * (not re-adds) the entry — the leak is per distinct plan, not
    * per call. */
  def sparseSimTopK(docs: DataFrame, textCol: String, idCol: String,
                    probeFilter: Column, k: Int = 3,
                    maxDf: Long = 100L, n: Int = 3): DataFrame = {
    val allToks = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"), explode(TextFunctions.wordGrams("ws", n)).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df counts come from the FULL corpus; read from the postings
    // cache — NOT broadcast-hinted: the [2, maxDf] band is the Zipf
    // bulk of the distinct-gram space on an open corpus (AQE may
    // still broadcast it when it measures small, as at bench scales)
    val dfs = allToks.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val pw = allToks.filter(probeFilter).join(dfs, "t")
      .select(col("id").as("probe_id"), col("t"),
        expr("tf * (1000000 div df)").as("wp"))
    val cand = allToks.join(dfs, "t")
      .select(col("id").as("cand_id"), col("t"),
        expr("tf * (1000000 div df)").as("wc"))
    val scored = pw.join(cand, "t")
      .filter(col("probe_id") =!= col("cand_id"))
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(sum(col("wp") * col("wc")).as("score"))
    val win = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
  }

  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val blockBreaks = regexp_replace(noBlocks,
      "(?i)</(p|div|h[1-6]|li|tr|ul|ol|table)>|<br[^>]*>", "\n")
    val noTags = regexp_replace(blockBreaks, "<[^>]*>", " ")
    // &amp; decodes LAST, else "&amp;lt;" would double-decode to "<"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => regexp_replace(c, e, v) }
    // collapse spaces within lines, then line-break runs, then edges
    val sp = regexp_replace(decoded, "[ \t]+", " ")
    val nl = regexp_replace(regexp_replace(sp, " ?\n ?", "\n"), "\n+", "\n")
    regexp_replace(nl, "^[\n ]+|[\n ]+$", "")
  }
}
