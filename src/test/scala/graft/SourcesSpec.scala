package graft

import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/** §2.D — source/sink coverage: CSV/JSON round-trips, partitioned
  * writes with pruning, bucketed co-located joins. */
class SourcesSpec extends SparkTestBase {

  test("CSV round-trip preserves values under an explicit schema") {
    val nation = Tables.nation(spark, sfDir)
    withTempDir { dir =>
      val path = s"$dir/out"
      Sinks.writeCsv(nation, path)
      val back = Sinks.readCsv(spark, path, nation.schema)
      assert(back.orderBy("n_nationkey").collect().toSeq ==
        nation.orderBy("n_nationkey").collect().toSeq)
    }
  }

  test("JSON round-trip preserves values under an explicit schema") {
    val region = Tables.region(spark, sfDir)
    withTempDir { dir =>
      val path = s"$dir/out"
      Sinks.writeJson(region, path)
      val back = Sinks.readJson(spark, path, region.schema)
      assert(back.orderBy("r_regionkey").collect().toSeq ==
        region.orderBy("r_regionkey").collect().toSeq)
    }
  }

  test("ORC round-trip preserves values; filter pushes into the ORC scan") {
    val orders = Tables.orders(spark, sfDir)
    withTempDir { dir =>
      val path = s"$dir/out"
      Sinks.writeOrc(orders, path)
      val back = Sinks.readOrc(spark, path)
      assert(back.orderBy("o_orderkey").collect().toSeq ==
        orders.orderBy("o_orderkey").collect().toSeq)
      val plan = back.filter(col("o_orderstatus") === "F")
        .select("o_orderkey").queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus)"), plan)
    }
  }

  test("text round-trip: one row per line") {
    import spark.implicits._
    withTempDir { dir =>
      val path = s"$dir/out"
      val lines = Seq("first line", "second line", "third").toDF("value")
      Sinks.writeText(lines, path)
      assert(Sinks.readText(spark, path).as[String].collect().toSet ==
        Set("first line", "second line", "third"))
    }
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    import spark.implicits._
    withTempDir { dir =>
      val path = s"$dir/out"
      // batch 1 writes (id, a); a later ingest adds column b
      Seq((1L, "x")).toDF("id", "a").write.parquet(path + "/p=1")
      Seq((2L, "y", 10L)).toDF("id", "a", "b").write.parquet(path + "/p=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(path)
      assert(merged.columns.toSet == Set("id", "a", "b", "p"))
      val rows = merged.select("id", "b").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      // old files surface the new column as null, not an error
      assert(rows == Map(1L -> None, 2L -> Some(10L)))
    }
  }

  test("malformed CSV rows route to the corrupt-record column, not a crash") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    withTempDir { dir =>
      val path = s"$dir/out" // raw lines, written as text
      Seq("1,alpha", "2,beta", "not-a-number,gamma").toDF("value")
        .coalesce(1).write.text(path)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("_corrupt_record", StringType)))
      val read = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path).cache()
      // a CDC/crawl ingest cannot die on one bad row: good rows parse,
      // the bad one lands intact in the corrupt column for the DLQ
      assert(read.filter(col("_corrupt_record").isNull).count() == 2)
      val bad = read.filter(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").as[String].collect()
      assert(bad.toSeq == Seq("not-a-number,gamma"))
      read.unpersist()
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    withTempDir { dir =>
      val path = s"$dir/out"
      Sinks.writePartitioned(
        Tables.orders(spark, sfDir).withColumn("status", col("o_orderstatus")),
        path, "status")
      val pruned = spark.read.parquet(path).filter(col("status") === "F")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(status"), plan)
      val full = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F").count()
      assert(pruned.count() == full)
    }
  }

  test("bucketed tables sort-merge-join with zero exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sinks.writeBucketed(Tables.orders(spark, sfDir), "orders_b", "o_orderkey", 8)
      Sinks.writeBucketed(
        Tables.lineitem(spark, sfDir)
          .groupBy("l_orderkey").agg(sum("l_quantity").as("qty")),
        "lineitem_b", "l_orderkey", 8)
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("writeClustered: range-sorted layout with disjoint per-file key ranges") {
    withTempDir { dir =>
      val docs = sources.Tables.documents(spark, sfDir).select("doc_id", "text")
      sources.Sinks.writeClustered(docs, dir, "doc_id", numRanges = 4)
      val back = spark.read.parquet(dir)
      assert(back.count() == docs.count())
      // each data file covers a disjoint doc_id range → row-group/file
      // stats prune point and slice probes on the key
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length > 1, s"expected multiple range files, got ${files.length}")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col("doc_id")), max(col("doc_id"))).collect().head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping ranges: ${ranges.toSeq}")
        case _ =>
      }
      // a bounded probe reads back exactly the slice
      assert(back.filter(col("doc_id") < 200).count()
        == docs.filter(col("doc_id") < 200).count())
    }
  }

  test("writeZOrdered: files cover 2-D rectangles — both keys prune; 1-D clustering prunes one") {
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("value"))
    withTempDir { dir =>
      val (zdir, cdir) = (s"$dir/z", s"$dir/c")
      sources.Sinks.writeZOrdered(ev, zdir, "user_id", "value", numRanges = 16)
      sources.Sinks.writeClustered(ev, cdir, "user_id", numRanges = 16)

      def fileSpans(dir: String): Seq[((Long, Long), (Double, Double))] =
        new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
          .map { f =>
            val r = spark.read.parquet(f.getPath)
              .agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
            ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))
          }
      val zs = fileSpans(zdir)
      val cs = fileSpans(cdir)
      assert(zs.size >= 8 && cs.size >= 8, s"${zs.size} z / ${cs.size} c files")
      // a narrow slice in each dimension (middle ~12% of each range)
      val b = ev.agg(min("user_id"), max("user_id"),
        min("value"), max("value")).head()
      val (uLo0, uHi0) = (b.getLong(0), b.getLong(1))
      val uLo = uLo0 + (0.44 * (uHi0 - uLo0)).toLong
      val uHi = uLo0 + (0.56 * (uHi0 - uLo0)).toLong
      val (vLo0, vHi0) = (b.getDouble(2), b.getDouble(3))
      val (vLo, vHi) = (vLo0 + 0.44 * (vHi0 - vLo0), vLo0 + 0.56 * (vHi0 - vLo0))
      def overlapU(s: Seq[((Long, Long), (Double, Double))]) =
        s.count { case ((lo, hi), _) => hi >= uLo && lo <= uHi }
      def overlapV(s: Seq[((Long, Long), (Double, Double))]) =
        s.count { case (_, (lo, hi)) => hi >= vLo && lo <= vHi }
      // z-order: BOTH dimensions prune to a strict subset of files
      assert(overlapU(zs) < zs.size, s"z user overlap ${overlapU(zs)}/${zs.size}")
      assert(overlapV(zs) < zs.size, s"z value overlap ${overlapV(zs)}/${zs.size}")
      // 1-D clustering: its own key prunes hard, the other key cannot
      // (every file spans nearly the whole value range on this data)
      assert(overlapU(cs) <= cs.size / 4, s"clustered user overlap ${overlapU(cs)}/${cs.size}")
      assert(overlapV(cs) == cs.size, s"clustered value overlap ${overlapV(cs)}/${cs.size}")
      // and z-order's foreign-dimension pruning beats 1-D's
      assert(overlapV(zs) < overlapV(cs))
    }
  }

  test("writeTrainShards: in-file order IS the training order, rerun-identical") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    withTempDir { base =>
      val (dir, dir2) = (s"$base/a", s"$base/b")
      sources.Sinks.writeTrainShards(docs, dir, "doc_id", shards = 4)
      // every shard directory exists and its file order matches the
      // deterministic (h, id) permutation computed independently
      val expected = docs.collect().map(_.getLong(0))
        .map(id => (id * 2654435761L % 1000000007L, id))
        .groupBy { case (h, _) => h % 4 }
      for (s <- 0 until 4) {
        val got = spark.read.parquet(s"$dir/shard=$s")
          .collect().map(_.getLong(0)).toSeq
        val want = expected(s.toLong).sortBy { case (h, id) => (h, id) }
          .map(_._2).toSeq
        assert(got == want, s"shard $s order mismatch")
      }
      // rerun → identical permutation (no RNG anywhere)
      sources.Sinks.writeTrainShards(docs, dir2, "doc_id", shards = 4)
      for (s <- 0 until 4)
        assert(spark.read.parquet(s"$dir2/shard=$s").collect().map(_.getLong(0)).toSeq ==
          spark.read.parquet(s"$dir/shard=$s").collect().map(_.getLong(0)).toSeq)
    }
  }

  /** The same three events rows in every physical `ts` shape the
    * testdata generator has written, as `$base/{ltz,ntz,nanos}/events.parquet`:
    * TIMESTAMP(MICROS) with and without isAdjustedToUTC, and
    * TIMESTAMP(NANOS). */
  private def writeEventShapes(base: String): Unit = {
    import spark.implicits._
    val micros = Seq(
      (1L, 1700000000000000L, 10L, "view", 1.5, """{"k":1}"""),
      (2L, 1700000001500000L, 11L, "click", 2.5, """{"k":2}"""),
      (3L, 1700003600000000L, 10L, "view", 3.0, """{"k":3}"""))
    val df = micros.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

    // LTZ micros (isAdjustedToUTC=true)
    val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      df.withColumn("ts", expr("timestamp_micros(us)"))
        .select(cols.map(col): _*).coalesce(1).write.parquet(s"$base/ltz/events.parquet")
      // NTZ micros (isAdjustedToUTC=false) — the current testdata shape
      df.withColumn("ts", expr("timestamp_micros(us)").cast("timestamp_ntz"))
        .select(cols.map(col): _*).coalesce(1).write.parquet(s"$base/ntz/events.parquet")
    } finally prevOut match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }

    // TIMESTAMP(NANOS) — Spark cannot write it; use parquet-java direct
    locally {
      import org.apache.hadoop.conf.Configuration
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val msg = Types.buildMessage()
        .addField(Types.required(INT64).named("event_id"))
        .addField(Types.required(INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
          .named("ts"))
        .addField(Types.required(INT64).named("user_id"))
        .addField(Types.required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type"))
        .addField(Types.required(DOUBLE).named("value"))
        .addField(Types.required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props"))
        .named("spark_schema")
      val w = ExampleParquetWriter.builder(new Path(s"$base/nanos/events.parquet"))
        .withConf(new Configuration()).withType(msg).build()
      val gf = new SimpleGroupFactory(msg)
      for ((id, us, uid, et, v, p) <- micros) {
        val g = gf.newGroup()
        g.add("event_id", id); g.add("ts", us * 1000L); g.add("user_id", uid)
        g.add("event_type", et); g.add("value", v); g.add("props", p)
        w.write(g)
      }
      w.close()
    }
  }

  test("events loader: identical output across NANOS / NTZ / LTZ physical ts shapes") {
    // The r9 bench lost 23/128 queries when the testdata's events.ts
    // switched parquet physical type (TIMESTAMP(NANOS)→µs/NTZ)
    // underneath the loader. This spec writes the SAME logical rows in
    // all three shapes the driver has ever generated and pins
    // Tables.events to one canonical output — and asserts the legacy
    // nanosAsLong conf is flipped only when the footer's ts is
    // TIMESTAMP(NANOS).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.TimestampType
    import spark.implicits._

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    withTempDir { base =>
      writeEventShapes(base)

      // µs shapes load WITHOUT touching the legacy conf…
      val ltz = Tables.events(spark, s"$base/ltz")
      val ntz = Tables.events(spark, s"$base/ntz")
      assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ == "false"),
        "loading µs-shaped events must not mutate session conf")
      // …a footer ts of TIMESTAMP(NANOS) flips it, scoped
      val nanos = Tables.events(spark, s"$base/nanos")
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")

      for (d <- Seq(ltz, ntz, nanos))
        assert(d.schema("ts").dataType == TimestampType, d.schema.treeString)
      val expect = ltz.orderBy("event_id").collect().toSeq
      assert(expect.size == 3)
      assert(ntz.orderBy("event_id").collect().toSeq == expect)
      assert(nanos.orderBy("event_id").collect().toSeq == expect)

      // a tumble-agg-shaped query (the family the r9 bench lost) agrees
      def tumble(d: DataFrame) =
        d.groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
          .select(col("window.start").cast("long").as("ws"), col("n"), col("sv"))
          .orderBy("ws").collect().toSeq
      val t = tumble(ltz)
      assert(t.size == 2 && tumble(ntz) == t && tumble(nanos) == t)
    }
  }

  test("table loads declare the footer schema: no job, the schema Spark infers") {
    import org.apache.spark.sql.DataFrame
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    // the load launches no job and declares the schema inference gives
    def check(what: String, load: => DataFrame, path: String): Unit = {
      var df: DataFrame = null
      assert(jobsOf { df = load } == 0, s"$what: the load launched a job")
      val inferred = spark.read.parquet(path).schema
      assert(df.schema == inferred, s"$what:\n${df.schema.treeString}\n${inferred.treeString}")
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      check(t, Tables.load(spark, sfDir, t), s"$sfDir/$t.parquet")

    val prevNanos = spark.conf.getOption(nanosAsLong)
    spark.conf.unset(nanosAsLong)
    try withTempDir { base =>
      writeEventShapes(base)
      for (shape <- Seq("ltz", "ntz", "nanos")) {
        val path = s"$base/$shape/events.parquet"
        // the NANOS footer sets the conf inference needs to read it
        assert(jobsOf(Tables.events(spark, s"$base/$shape")) == 0, shape)
        check(shape, Tables.parquet(spark, path), path)
      }
      // a Spark-written directory: several part files, a _SUCCESS
      // marker and .crc sidecars, and a timestamp_ntz column
      val dir = s"$base/multi"
      spark.range(0, 64, 1, 4)
        .select(col("id"), (col("id") * 1.5).as("x"),
          expr("timestamp_micros(1700000000000000 + id)").cast("timestamp_ntz").as("t"))
        .write.parquet(dir)
      val names = new java.io.File(dir).list().toSet
      assert(names("_SUCCESS") && names.count(_.endsWith(".parquet")) > 1, names)
      check("multi-file", Tables.parquet(spark, dir), dir)
    } finally prevNanos match {
      case Some(v) => spark.conf.set(nanosAsLong, v)
      case None => spark.conf.unset(nanosAsLong)
    }
  }

  test("rate stream source feeds a windowed count") {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
      .groupBy(window(col("timestamp"), "1 second"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("rate_counts")
      .outputMode("complete").trigger(Trigger.ProcessingTime(200)).start()
    try {
      q.processAllAvailable()
      Thread.sleep(1500)
      q.processAllAvailable()
      assert(spark.table("rate_counts").count() >= 1)
    } finally q.stop()
  }
}
