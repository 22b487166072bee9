package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** CorpusQueries (C39–C42) against plain-Scala naive references:
  * span-duplication counts, TF-IDF top-k, inverted-index postings,
  * and the deterministic training-shuffle permutation. */
class CorpusQueriesSpec extends SparkTestBase {

  private def docs() = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  private def collectDocs(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("dupGramStats matches naive per-doc duplicated-gram counts") {
    val base = collectDocs(docs().filter(col("doc_id") < 200))
    val corpus = base ++ base.filter(_._1 % 10 == 0)
      .map { case (id, t) => (id + 1000000L, t.dropRight(7)) }

    val grams: Map[Long, Set[String]] = corpus.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(6).filter(_.length == 6)
        .map(_.mkString(" ")).toSet
    }.toMap
    val dfCount: Map[String, Int] = grams.values.flatten.toSeq
      .groupBy(identity).map { case (g, occ) => g -> occ.size }
    val expected = grams.collect { case (id, gs) if gs.nonEmpty =>
      val nDup = gs.count(dfCount(_) >= 2)
      id -> (gs.size.toLong, nDup.toLong, nDup.toLong * 10000 / gs.size)
    }

    val sparkDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val got = Dedup.dupGramStats(sparkDf, "text", "doc_id", n = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected)
    // the construction provably exercises the path: copies share
    // nearly all grams with their originals
    val copyBp = got.collect { case (id, (_, _, bp)) if id >= 1000000L => bp }
    assert(copyBp.nonEmpty && copyBp.forall(_ >= 5000L))
  }

  test("dupSpanIntervals matches naive interval union; copies are one full-cover span") {
    val base = collectDocs(docs().filter(col("doc_id") < 200))
    val corpus = base ++ base.filter(_._1 % 10 == 0)
      .map { case (id, t) => (id + 1000000L, t.dropRight(7)) }
    val n = 6

    val gramPos: Map[Long, Seq[(Int, String)]] = corpus.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> (if (w.length < n) Seq.empty
             else (0 to w.length - n).map(i => i -> w.slice(i, i + n).mkString(" ")))
    }.toMap
    val docsPerGram = gramPos.toSeq
      .flatMap { case (id, ps) => ps.map(_._2).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, o) => g -> o.size }
    val expected = gramPos.toSeq.flatMap { case (id, ps) =>
      val ivs = ps.collect { case (p, g) if docsPerGram(g) >= 2 =>
        (p.toLong, (p + n - 1).toLong) }.sortBy(_._1)
      val merged = ivs.foldLeft(List.empty[(Long, Long)]) {
        case (acc, (s, e)) => acc match {
          case (ms, me) :: rest if s <= me + 1 => (ms, math.max(me, e)) :: rest
          case _ => (s, e) :: acc
        }
      }
      merged.map { case (s, e) => (id, s, e, e - s + 1) }
    }.toSet

    val sparkDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val got = Dedup.dupSpanIntervals(sparkDf, "text", "doc_id", n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    // a truncated copy's duplicated coverage is one maximal span from
    // token 0 (it shares every gram with its original up to the tail)
    val copyIds = corpus.map(_._1).filter(_ >= 1000000L).toSet
    val byDoc = got.groupBy(_._1)
    assert(copyIds.forall(id => byDoc(id).exists(_._2 == 0L)))
  }

  test("trimSpans drops exactly the interval-covered tokens; span-free docs pass verbatim") {
    val base = collectDocs(docs().filter(col("doc_id") < 200))
    val corpus = base ++ base.filter(_._1 % 10 == 0)
      .map { case (id, t) => (id + 1000000L, t.dropRight(7)) }
    val sparkDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val intervals = Dedup.dupSpanIntervals(sparkDf, "text", "doc_id", n = 6)
    val spans: Map[Long, Seq[(Long, Long)]] = intervals.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(r => (r._2, r._3)).toSeq }

    val expected = corpus.map { case (id, t) =>
      val sp = spans.getOrElse(id, Seq.empty)
      val kept = t.split(" ", -1).zipWithIndex.collect {
        case (tok, i) if !sp.exists(s => i >= s._1 && i <= s._2) => tok
      }
      (id, kept.mkString(" "), sp.map(s => s._2 - s._1 + 1).sum)
    }.toSet

    val got = Dedup.trimSpans(sparkDf, intervals, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    // docs without any duplicated span came through byte-identical
    val untouched = corpus.filter { case (id, _) => !spans.contains(id) }
    assert(untouched.nonEmpty)
    val gotMap = got.map(r => r._1 -> r._2).toMap
    assert(untouched.forall { case (id, t) => gotMap(id) == t })
  }

  test("contamSpanIntervals: exactly the planted benchmark span, surgical trim restores the doc") {
    import spark.implicits._
    val probeText = (1 to 10).map(i => s"p$i").mkString(" ")
    val cleanText = (1 to 9).map(i => s"c$i").mkString(" ")
    // doc 1 quotes the whole probe mid-document; doc 2 is clean
    val leakedText = ((1 to 5).map(i => s"a$i") ++ (1 to 10).map(i => s"p$i") ++
      (1 to 3).map(i => s"b$i")).mkString(" ")
    val corpus = Seq((1L, leakedText), (2L, cleanText)).toDF("doc_id", "text")
    val probe = Seq((100L, probeText)).toDF("doc_id", "text")
    val iv = Dedup.contamSpanIntervals(corpus, probe, "text", "doc_id", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // probe 8-grams sit at doc-1 positions 5..7; merged cover = tokens
    // 5..14, i.e. the quoted probe and nothing else; clean doc emits
    // no interval (junction grams mix a/p tokens and never match)
    assert(iv.toSeq == Seq((1L, 5L, 14L, 10L)), s"intervals: ${iv.toSeq}")
    val trimmed = Dedup.trimSpans(corpus, Dedup.contamSpanIntervals(
      corpus, probe, "text", "doc_id", n = 8), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val restored = ((1 to 5).map(i => s"a$i") ++ (1 to 3).map(i => s"b$i")).mkString(" ")
    assert(trimmed == Set((1L, restored, 10L), (2L, cleanText, 0L)))
  }

  test("trimContamProjection equals the composed interval path and plans zero exchanges") {
    import spark.implicits._
    // real docs as corpus, the %97 slice as the benchmark, plus one
    // planted mid-document quote so a partial-trim case is guaranteed
    val base = collectDocs(docs().filter(col("doc_id") < 150))
    val probeRows = collectDocs(docs()
      .filter(col("doc_id") % 97 === 0 && col("doc_id") < 400))
    val fragment = probeRows.head._2.split(" ").take(10).mkString(" ")
    val corpus = base.map { case (id, t) =>
      if (id % 11 == 4) (id, s"$t $fragment") else (id, t)
    }
    val corpusDf = corpus.toDF("doc_id", "text")
    val probeDf = probeRows.toDF("doc_id", "text")
    val composed = Dedup.trimSpans(corpusDf,
      Dedup.contamSpanIntervals(corpusDf, probeDf, "text", "doc_id", n = 8),
      "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // EXACT form: value-identical to the composed interval path
    val hashes = Dedup.probeGramHashes(probeDf, "text", "doc_id", n = 8)
    val projected = Dedup.trimContamProjectionExact(corpusDf, hashes,
      "text", "doc_id", n = 8)
    val got = projected
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == composed)
    // something actually trimmed, and untouched docs pass verbatim
    assert(got.exists(_._3 > 0L))
    assert(got.exists(_._3 === 0L))
    // the projection form is shuffle-free — legal on a streaming frame
    val plan = projected.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection path shuffled:\n$plan")
    // BLOOM form: per-doc superset of the exact trim (over-trim only —
    // Spark's sketch double-hashing floors real fp ~1e-4 regardless of
    // requested fpp, so exact equality is NOT the bloom contract)
    val bloom = Dedup.buildGramBloom(probeDf, "text", "doc_id", n = 8)
    val viaBloom = Dedup.trimContamProjection(corpusDf, bloom,
      "text", "doc_id", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val exactDrops = got.map(r => r._1 -> r._3).toMap
    assert(exactDrops.forall { case (id, d) => viaBloom(id) >= d },
      "bloom form under-trimmed somewhere")
  }

  test("probe-literal cap: join regime above ProbeLiteralMax, identical output " +
      "(r12 verdict item 4)") {
    import spark.implicits._
    val base = collectDocs(docs().filter(col("doc_id") < 150))
    val probeRows = collectDocs(docs()
      .filter(col("doc_id") % 97 === 0 && col("doc_id") < 400))
    val fragment = probeRows.head._2.split(" ").take(10).mkString(" ")
    val corpus = base.map { case (id, t) =>
      if (id % 11 == 4) (id, s"$t $fragment") else (id, t)
    }
    val corpusDf = corpus.toDF("doc_id", "text")
    val probeDf = probeRows.toDF("doc_id", "text")
    val hashes = Dedup.probeGramHashes(probeDf, "text", "doc_id", n = 8)
    assert(Dedup.ProbeLiteralMax == 4096)
    // literal regime (cap far above the suite) vs FORCED join regime
    // (cap 0): value-identical trims — the cap changes plan shape only
    val literal = Dedup.trimContamProjectionExact(corpusDf, hashes,
      "text", "doc_id", n = 8, probeLiteralMax = Int.MaxValue)
    val joined = Dedup.trimContamProjectionExact(corpusDf, hashes,
      "text", "doc_id", n = 8, probeLiteralMax = 0)
    val litSet = literal
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val joinSet = joined
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(litSet == joinSet && litSet.exists(_._3 > 0L))
    // the join regime's plan must carry NO array_contains literal —
    // the probe set rides a broadcast relation, not every task binary
    val joinPlan = joined.queryExecution.optimizedPlan.toString
    assert(!joinPlan.contains("array_contains"), joinPlan.take(2000))
    assert(joinPlan.contains("LeftSemi"), joinPlan.take(2000))
  }

  test("tfIdfTopK matches naive integer TF-IDF ranking") {
    val all = collectDocs(docs())
    val n = all.size.toLong
    val tf: Map[(Long, String), Long] = all
      .flatMap { case (id, t) => t.split(" ", -1).filter(_.nonEmpty).map(id -> _) }
      .groupBy(identity).map { case (k, occ) => k -> occ.size.toLong }
    val dfm: Map[String, Long] = tf.keys.toSeq.groupBy(_._2)
      .map { case (term, ks) => term -> ks.size.toLong }
    val expected = tf.toSeq
      .map { case ((id, term), f) => (id, term, f, f * 1000000L * n / dfm(term)) }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy { case (_, term, _, score) => (-score, term) }
          .zipWithIndex.take(5)
          .map { case ((id, term, f, score), i) => (id, term, f, score, i + 1L) }
      }.toSet

    val got = TextAnalysis.tfIdfTopK(docs(), "text", "doc_id", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
  }

  test("pmiTopK matches naive fixed-point PMI ranking") {
    val all = collectDocs(docs())
    val toks = all.map { case (_, t) => t.split(" ", -1).filter(_.nonEmpty).toSeq }
    val uni: Map[String, Long] = toks.flatten
      .groupBy(identity).map { case (w, occ) => w -> occ.size.toLong }
    val nTokens = toks.map(_.size.toLong).sum
    val bi: Map[(String, String), Long] = toks
      .flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).map { case (p, occ) => p -> occ.size.toLong }
    val expected = bi.toSeq
      .filter { case (_, c) => c >= 5L }
      .map { case ((a, b), c) =>
        (a, b, c, uni(a), uni(b), c * nTokens / uni(a) * 1000000L / uni(b))
      }
      .sortBy { case (a, b, _, _, _, p) => (-p, a, b) }
      .zipWithIndex.take(50)
      .map { case ((a, b, c, ca, cb, p), i) => (a, b, c, ca, cb, p, i + 1L) }
      .toSet

    val got = TextAnalysis.pmiTopK(docs(), "text", k = 50, minCount = 5L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(got == expected)
  }

  test("sparseSimTopK matches a naive tf·(1e6 div df) dot-product ranking") {
    val rnd = new scala.util.Random(23)
    // a 3-word vocabulary so word-3-grams recur across docs; "" tokens
    // (double spaces) and docs shorter than n ride along
    val corpus = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(14))(Seq("a", "b", "c", "")(rnd.nextInt(4))).mkString(" "))
    }
    val (n, k, maxDf) = (3, 3, 8L)
    val tf: Map[(Long, String), Long] = corpus.flatMap { case (id, t) =>
      t.split(" ", -1).sliding(n).filter(_.length == n).map(w => id -> w.mkString(" "))
    }.groupBy(identity).map { case (key, occ) => key -> occ.size.toLong }
    val dfm: Map[String, Long] = tf.keys.toSeq.groupBy(_._2)
      .map { case (g, ks) => g -> ks.size.toLong }
      .filter { case (_, d) => d >= 2 && d <= maxDf }
    val postings = tf.toSeq.collect { case ((id, g), f) if dfm.contains(g) =>
      (g, id, f * (1000000L / dfm(g)))
    }.groupBy(_._1).values.toSeq
    val scores = (for {
      rows <- postings
      (_, p, wp) <- rows if p % 3 == 0
      (_, c, wc) <- rows if c != p
    } yield (p, c) -> wp * wc).groupBy(_._1).map { case (pc, xs) => pc -> xs.map(_._2).sum }
    val expected = scores.toSeq.groupBy(_._1._1).flatMap { case (_, rows) =>
      rows.sortBy { case ((_, c), s) => (-s, c) }.take(k).zipWithIndex
        .map { case (((p, c), s), i) => (p, c, s, i + 1L) }
    }.toSet

    val got = TextAnalysis.sparseSimTopK(spark.createDataFrame(corpus).toDF("doc_id", "text"),
        "text", "doc_id", probeFilter = col("id") % 3 === 0, k = k, maxDf = maxDf, n = n)
      .select("probe_id", "cand_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.size >= 20 && got == expected)
  }

  test("rarityScore matches the naive mean-frequency-rank computation") {
    val all = collectDocs(docs())
    val tokens = all.flatMap { case (id, t) =>
      t.split(" ", -1).filter(_.nonEmpty).map(id -> _) }
    val rank: Map[String, Long] = tokens.map(_._2)
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (w, n) => (-n, w) }
      .zipWithIndex.map { case ((w, _), i) => w -> (i + 1L) }.toMap
    val expected = tokens.groupBy(_._1).map { case (id, ts) =>
      val n = ts.size.toLong
      val s = ts.map(t => rank(t._2)).sum
      id -> (n, s * 1000 / n)
    }
    val got = TextAnalysis.rarityScore(docs(), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("rarityScore minCount floor: head ranked, tail shares the default rank") {
    val all = collectDocs(docs())
    val tokens = all.flatMap { case (id, t) =>
      t.split(" ", -1).filter(_.nonEmpty).map(id -> _) }
    val counts = tokens.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    // split the vocabulary mid-range so both head and tail are nonempty
    val minCount = (counts.values.min + counts.values.max + 1) / 2
    val head = counts.toSeq.filter(_._2 >= minCount)
      .sortBy { case (w, n) => (-n, w) }
      .zipWithIndex.map { case ((w, _), i) => w -> (i + 1L) }.toMap
    val default = head.size + 1L
    assert(head.nonEmpty && head.size < counts.size,
      "corpus must have both head and tail words for this test to bite")
    val expected = tokens.groupBy(_._1).map { case (id, ts) =>
      val n = ts.size.toLong
      val s = ts.map(t => head.getOrElse(t._2, default)).sum
      id -> (n, s * 1000 / n)
    }
    val got = TextAnalysis.rarityScore(docs(), "text", "doc_id", minCount = minCount)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("vocabCoverage minCount floor: rank window sees only the head, total the corpus") {
    val all = collectDocs(docs())
    val counts = all.flatMap(_._2.split(" ", -1).filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = counts.values.sum
    def expectAt(minCount: Long): Set[(String, Long, Long)] = {
      val ranked = counts.toSeq.filter(_._2 >= minCount)
        .sortBy { case (w, n) => (-n, w) }
        .zipWithIndex.map { case ((w, n), i) => (w, n, i + 1L) }
      var cum = 0L
      ranked.takeWhile { case (_, n, _) =>
        val before = cum; cum += n; before * 20L < total * 19L
      }.toSet
    }
    // floored: the 95% target is measured against the FULL corpus
    // total, so the floored output is a prefix decided by true shares
    val mc = (counts.values.min + counts.values.max + 1) / 2
    val gotFloor = TextAnalysis.vocabCoverage(docs(), "text", 19L, 20L, minCount = mc)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotFloor == expectAt(mc))
    // default equals the unfloored window form already pinned by the
    // vocab_coverage oracle; cross-check against the naive model too
    val gotDefault = TextAnalysis.vocabCoverage(docs(), "text", 19L, 20L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotDefault == expectAt(1L))
  }

  test("bm25TopK matches the naive integer BM25 computation") {
    val all = collectDocs(docs())
    val terms = Seq("join", "vector", "hash", "spark")
    val toks = all.map { case (id, t) => id -> t.split(" ", -1).filter(_.nonEmpty) }
    val dl = toks.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val nDocs = dl.size.toLong
    val avg = dl.values.sum * 1000 / nDocs
    val tf = toks.flatMap { case (id, ts) =>
      ts.filter(terms.contains).map(t => (id, t)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.toSeq.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val scored = tf.groupBy(_._1._1).map { case (id, m) =>
      val s = m.map { case ((_, term), f) =>
        val dlMilli = dl(id) * 1000000 / avg
        val tfc = f * 2200000 / (f * 1000 + 300 + (900 * dlMilli) / 1000)
        val idf = (nDocs - df(term) + 1) * 1000000 / (df(term) + 1)
        tfc * idf / 1000000
      }.sum
      (id, s, m.size.toLong)
    }
    val expect = scored.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s, n), i) => (id, s, n, i + 1L) }.toSet
    val got = TextAnalysis.bm25TopK(docs(), "text", "doc_id", terms, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("bm25TopK in-scan dl: NULL/empty/whitespace docs drop from n_docs like the exploded form") {
    import spark.implicits._
    // r19 optimization pin: dl moved from explode+groupBy (a full
    // token shuffle) to an in-scan size(filter(split…)) projection.
    // The exploded form silently EXCLUDED docs contributing no
    // non-empty token (NULL text -> explode(NULL) = no rows; "" and
    // whitespace-only -> every token filtered) from dl, n_docs and
    // avgdl; the in-scan form must reproduce that via filter(dl > 0).
    // This corpus makes the distinction load-bearing: with the three
    // degenerate docs wrongly counted, n_docs would be 5, avgdl would
    // shrink, and every score would shift.
    val docs = Seq(
      (1L, "spark join hash join"),
      (2L, "vector hash spark"),
      (3L, null.asInstanceOf[String]),
      (4L, ""),
      (5L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, "text", "doc_id",
        Seq("join", "vector", "hash", "spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // naive oracle over the TOKEN-BEARING docs only (the old contract)
    val toks = Map(1L -> Seq("spark", "join", "hash", "join"),
      2L -> Seq("vector", "hash", "spark"))
    val nDocs = 2L
    val avg = toks.values.map(_.size).sum * 1000L / nDocs
    val tf = toks.toSeq.flatMap { case (id, ts) => ts.map(t => (id, t)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.toSeq.map(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val expect = tf.groupBy(_._1._1).map { case (id, m) =>
      val s = m.map { case ((_, term), f) =>
        val dlMilli = toks(id).size * 1000000L / avg
        val tfc = f * 2200000L / (f * 1000L + 300L + (900L * dlMilli) / 1000L)
        val idf = (nDocs - df(term) + 1) * 1000000L / (df(term) + 1)
        tfc * idf / 1000000L
      }.sum
      (id, s, m.size.toLong)
    }.toSet
    assert(got == expect && got.size == 2)
  }

  test("sourceOverlap matches naive per-source gram Jaccard") {
    val rows = Tables.documents(spark, sfDir).select("source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val grams: Map[String, Set[String]] = rows.groupBy(_._1).view.mapValues(_
      .flatMap { case (_, t) =>
        val w = t.split(" ", -1)
        if (w.length < 3) Seq.empty[String]
        else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" "))
      }.toSet).toMap
    val srcs = grams.keys.toSeq.sorted
    val expect = (for {
      a <- srcs; b <- srcs if a < b
      common = (grams(a) & grams(b)).size.toLong if common > 0
    } yield {
      val (na, nb) = (grams(a).size.toLong, grams(b).size.toLong)
      (a, b, common, na, nb, common * 10000 / (na + nb - common))
    }).toSet
    val got = Dedup.sourceOverlap(Tables.documents(spark, sfDir), "text", "source", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("normalizeUrl: each normalization rule fires; clean URLs pass unchanged") {
    import spark.implicits._
    val cases = Seq(
      // fragment + adjacent utm params + default https port + case
      "HTTPS://WWW.Ex.COM:443/A/b?utm_source=x&utm_medium=y&ref=h#frag" ->
        "https://www.ex.com/A/b?ref=h",
      // tail tracking param leaves no dangling '?'
      "http://ex.com/p?utm_campaign=z" -> "http://ex.com/p",
      // gclid mid-query; http default port; path case preserved
      "HTTP://Ex.Com:80/Path?gclid=1&q=2" -> "http://ex.com/Path?q=2",
      // non-default port kept; non-tracking params kept in order
      "https://ex.com:8443/p?b=2&a=1" -> "https://ex.com:8443/p?b=2&a=1",
      // already clean → identity
      "https://ex.com/docs" -> "https://ex.com/docs")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"),
        graft.operators.TextAnalysis.normalizeUrl(col("url")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((in, want) <- cases)
      assert(got(in) == want, s"$in -> ${got(in)} (wanted $want)")
  }

  test("invertedIndex matches naive posting statistics") {
    val all = collectDocs(docs())
    val postings = all
      .flatMap { case (id, t) => t.split(" ", -1).filter(_.nonEmpty).map(_ -> id) }
    val expected = postings.groupBy(_._1).collect {
      case (tok, occ) if occ.map(_._2).distinct.size >= 10 =>
        val ids = occ.map(_._2)
        (tok, ids.distinct.size.toLong, ids.size.toLong, ids.min, ids.max)
    }.toSet

    val got = TextAnalysis.invertedIndex(docs(), "text", "doc_id", minDf = 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
  }

  test("train_shuffle is the deterministic per-shard hash permutation") {
    val ids = docs().select("doc_id").collect().map(_.getLong(0)).toSeq
    val expected = ids
      .map(id => (id, id * 2654435761L % 1000000007L))
      .groupBy { case (_, h) => h % 16 }
      .flatMap { case (shard, rows) =>
        rows.sortBy { case (id, h) => (h, id) }.zipWithIndex
          .map { case ((id, _), i) => (id, shard, i + 1L) }
      }.toSet

    val q = SparkEntry.queries("train_shuffle")
    val got = q(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // a permutation: every doc appears exactly once
    assert(got.map(_._1) == ids.toSet && got.size == ids.size)
    // re-running reproduces the identical order (RNG-free contract)
    val again = q(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == got)
  }
}
