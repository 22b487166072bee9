package graft

import org.apache.spark.sql.functions._

/** Native expressions vs independent reimplementations. */
class ExpressionSpec extends SparkTestBase {

  test("pure-SQL surface: every graft function resolves and computes") {
    // the session is built withExtensions(new GraftExtensions) — all
    // five native functions must be callable from SQL alone, including
    // the two TypedImperativeAggregates
    val r = spark.sql(
      """SELECT top_k(id, 3) AS t, reservoir_sample(id, 5) AS s,
        |       max(fingerprint64(CAST(id AS STRING))) AS fp
        |FROM range(10)""".stripMargin).collect()(0)
    assert(r.getSeq[Long](0) == Seq(9L, 8L, 7L))
    val sample = r.getSeq[Long](1)
    assert(sample.size == 5 && sample.toSet.subsetOf((0L until 10L).toSet))
    val sig = spark.sql(
      "SELECT minhash_sig(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)), 8) AS m")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 8)
    // the vector folds resolve from SQL too (same extension hook)
    val v = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       vec_dist_sq(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                   array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS q"""
        .stripMargin).collect()(0)
    assert(v.getDouble(0) == 11.0 && v.getDouble(1) == 8.0)
  }

  test("every function register installs also resolves through the " +
       "session extensions alone") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    def names(s: org.apache.spark.sql.SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    // a new session's registry holds the built-ins plus what the
    // session's extensions inject — nothing register() added elsewhere
    val viaExtensions = spark.newSession()
    val viaRegister = spark.newSession()
    GraftFunctions.register(viaRegister)
    val registered = names(viaRegister) --
      FunctionRegistry.builtin.listFunction().map(_.funcName)
    assert(registered.contains("simhash_sig") && registered.size >= 11,
      registered)
    val missing = registered.filterNot(n => viaExtensions.sessionState
      .functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
  }

  private def parse(s: String): java.sql.Timestamp =
    spark.sql(s"SELECT parse_sqdata_ts('$s') AS t").collect()(0)
      .getTimestamp(0)

  test("parse_sqdata_ts matches java.time for whole seconds") {
    import java.time._
    val cases = Seq("19700101000000", "20240229235959", "19991231235959",
      "20000301000000", "21001231120000", "19000228010203")
    for (c <- cases) {
      val expect = LocalDateTime.parse(c,
        format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss"))
        .toInstant(ZoneOffset.UTC)
      assert(parse(c).toInstant == expect, s"for $c")
    }
  }

  test("parse_sqdata_ts fraction digits: pad, truncate") {
    assert(parse("202401011230455").toInstant.getNano == 500000000) // ".5"
    assert(parse("20240101123045123").toInstant.getNano == 123000000)
    assert(parse("20240101123045123456").toInstant.getNano == 123456000)
    assert(parse("202401011230451234567").toInstant.getNano == 123456000) // >6 truncated
  }

  test("parse_sqdata_ts null propagates, short input errors") {
    val r = spark.sql("SELECT parse_sqdata_ts(CAST(NULL AS STRING))").collect()
    assert(r(0).isNullAt(0))
    intercept[Exception] { spark.sql("SELECT parse_sqdata_ts('2024')").collect() }
  }

  test("fingerprint64 matches an independent FNV-1a") {
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      for (b <- s.getBytes("UTF-8")) { h ^= (b & 0xffL); h *= 0x100000001b3L }
      h
    }
    val cases = Seq("", "a", "hello", "the quick brown fox", "héllo wörld", "数据")
    val rows = spark.createDataFrame(cases.map(Tuple1(_))).toDF("s")
      .select(col("s"), GraftFunctions.fingerprint64(col("s")).as("fp"))
      .collect()
    for (r <- rows) assert(r.getLong(1) == fnv(r.getString(0)), s"for '${r.getString(0)}'")
  }

  test("minhash_sig equals per-permutation scalar minima") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(7L, 42L, 99L, -3L)), Tuple1(Seq(1L)))
      .toDF("hs")
      .select(col("hs"), GraftFunctions.minhash_sig(col("hs"), 16).as("sig"))
    for (r <- df.collect()) {
      val hs = r.getSeq[Long](0)
      val sig = r.getSeq[Long](1)
      assert(sig.length == 16)
      // independent recomputation via the same public mix contract:
      // sig[p] = min over h of splitmix64(h ^ seed_p)
      def mix(x0: Long): Long = {
        var z = x0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val seeds = Array.tabulate(16)(p => mix(0x5851f42d4c957f2dL * p))
      for (p <- 0 until 16)
        assert(sig(p) == hs.map(h => mix(h ^ seeds(p))).min, s"perm $p")
    }
    // identical sets → identical signatures regardless of order
    val a = Seq(Tuple1(Seq(5L, 6L, 7L))).toDF("hs")
      .select(GraftFunctions.minhash_sig(col("hs"), 64)).collect()(0).getSeq[Long](0)
    val b = Seq(Tuple1(Seq(7L, 5L, 6L))).toDF("hs")
      .select(GraftFunctions.minhash_sig(col("hs"), 64)).collect()(0).getSeq[Long](0)
    assert(a == b)
  }

  test("vec_dot / vec_dist_sq equal the HOF formulations bit-exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val base = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("a", "b")
      .withColumn("bd", transform(col("b"), _.cast("double")))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val hofDist =
      aggregate(zip_with(col("a"), col("bd"),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0d), (acc, v) => acc + v)
    val df = base.select(
      GraftFunctions.vec_dot(col("a"), col("b")).as("n_ff"),
      hofDot(col("a"), col("b")).as("h_ff"),
      GraftFunctions.vec_dot(col("a"), col("bd")).as("n_fd"),
      hofDot(col("a"), col("bd")).as("h_fd"),
      GraftFunctions.vec_dist_sq(col("a"), col("bd")).as("n_ds"),
      hofDist.as("h_ds"))
    def check(rows: Array[org.apache.spark.sql.Row]): Unit = rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // float·float: exact bits
      assert(r.getDouble(2) == r.getDouble(3)) // float·double
      assert(r.getDouble(4) == r.getDouble(5)) // distSq
    }
    check(df.collect())
    // and the interpreted eval path produces the same bits
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try check(df.collect())
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_dot null-element and length-mismatch semantics match the HOFs") {
    import spark.implicits._
    val df = Seq(
      (Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f), Some(4f))),
      (Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(3f), Some(4f))),
      (Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f))),
      (Seq[Option[Float]](), Seq[Option[Float]]()))
      .toDF("a", "b")
    val rows = df.select(
      GraftFunctions.vec_dot(col("a"), col("b")).as("n"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v).as("h")).collect()
    rows.foreach(r => assert(r.isNullAt(0) === r.isNullAt(1), r.toString))
    assert(rows.map(_.isNullAt(0)).toSeq === Seq(false, true, true, false))
    assert(rows(0).getDouble(0) === (1f * 3f + 2f * 4f).toDouble)
    assert(rows(3).getDouble(0) === 0.0)
  }

  test("gram_matrix equals dense brute force across partition merges; PCA consumer") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    // a planted dominant direction: heavy mass on dim 0, noise elsewhere
    val vecs = Seq.tabulate(200)(r => Seq.tabulate(dim)(i =>
      (if (i == 0) 1000L + rnd.nextInt(200) else rnd.nextInt(60).toLong)))
    // 8 partitions so the merge path (partial triangles) is exercised
    val got = vecs.toDF("qv").repartition(8)
      .agg(GraftFunctions.gram_matrix(col("qv")).as("gm"))
      .select(explode(col("gm")).as("e"))
      .select(col("e.i"), col("e.j"), col("e.g"))
      .as[(Long, Long, Long)].collect()
      .map { case (i, j, g) => (i, j) -> g }.toMap
    val want = (for {
      i <- 0 until dim; j <- i until dim
    } yield (i.toLong, j.toLong) ->
      vecs.map(v => v(i) * v(j)).sum).toMap
    assert(got == want, "triangle mismatch vs dense brute force")
    // the driver-side PCA consumer: symmetrize, power-iterate — the
    // bounded dim×dim control-plane step the aggregate feeds; the
    // planted direction must dominate the principal component
    val m = Array.tabulate(dim, dim)((i, j) =>
      got(math.min(i, j).toLong, math.max(i, j).toLong).toDouble)
    var v = Array.fill(dim)(1.0)
    for (_ <- 1 to 50) {
      val nv = Array.tabulate(dim)(i => m(i).zip(v).map(p => p._1 * p._2).sum)
      val n = math.sqrt(nv.map(x => x * x).sum)
      v = nv.map(_ / n)
    }
    assert(math.abs(v(0)) > 0.95, s"principal component not on planted dim: ${v(0)}")
    // SQL surface + empty-frame eval: zero rows → empty triangle
    val empty = spark.sql(
      "SELECT gram_matrix(array(CAST(1 AS BIGINT))) AS g FROM range(0)")
      .collect()(0).getSeq[Any](0)
    assert(empty.isEmpty)
  }

  test("mg_sketch update-path buffer is bounded by k (no vocabulary blow-up)") {
    // Drive update() directly with a stream whose distinct-item count far
    // exceeds k and assert the per-task buffer NEVER exceeds k entries —
    // this is the bounded-memory contract ("partitions x k pairs cross the
    // wire"); a broken absence test (e.g. LongMap.getOrNull boxing 0L)
    // inserts every distinct item and only merge() would prune it back.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val k = 8
    val mg = graft.functions.MisraGries(BoundReference(0, LongType, nullable = true), k)
    val buf = mg.createAggregationBuffer()
    val rnd = new scala.util.Random(7)
    var i = 0
    while (i < 20000) {
      mg.update(buf, InternalRow(rnd.nextInt(5000).toLong))
      assert(buf.size <= k, s"update-path buffer grew to ${buf.size} > k=$k at row $i")
      i += 1
    }
    // repeated items still count up (the hit branch is live too)
    val hot = mg.createAggregationBuffer()
    (1 to 100).foreach(_ => mg.update(hot, InternalRow(42L)))
    assert(hot(42L) == 100L)
  }

  test("mg_sketch guarantee holds across adversarial partitionings") {
    import spark.implicits._
    // Zipf-ish stream: item i appears 2000/i times for i in 1..40 plus
    // a long uniform tail — heavy head, sub-threshold bulk
    val stream = ((1 to 40).flatMap(i => Seq.fill(2000 / i)(i.toLong)) ++
      (1L to 3000L).map(i => 100L + (i % 500))).toVector
    val n = stream.size.toLong
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val k = 12
    for (parts <- Seq(1, 4, 17)) {
      val got = stream.toDF("item").repartition(parts)
        .agg(GraftFunctions.mg_sketch(col("item"), k).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.item"), col("e.est"))
        .as[(Long, Long)].collect().toMap
      assert(got.size <= k, s"summary exceeded k: ${got.size}")
      // est never exceeds truth; gap bounded by n/(k+1)
      got.foreach { case (item, est) =>
        assert(est <= truth(item), s"overestimate at $item: $est > ${truth(item)}")
      }
      truth.foreach { case (item, cnt) =>
        val est = got.getOrElse(item, 0L)
        assert((cnt - est) * (k + 1) <= n,
          s"gap bound broken at $item ($parts parts): cnt=$cnt est=$est")
        if (cnt * (k + 1) > n)
          assert(got.contains(item),
            s"guaranteed-heavy item $item missing at $parts partitions")
      }
    }
    // empty stream → empty summary
    val empty = spark.sql(
      "SELECT mg_sketch(CAST(id AS BIGINT), 4) AS s FROM range(0)")
      .collect()(0).getSeq[Any](0)
    assert(empty.isEmpty)
  }

  test("expressions agree between codegen and interpreted eval") {
    val df = sources.Tables.documents(spark, sfDir).limit(50)
      .select(GraftFunctions.fingerprint64(col("text")).as("fp"))
    val withCodegen = df.collect().map(_.getLong(0)).toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.collect().map(_.getLong(0)).toSeq
      assert(withCodegen == interpreted)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
