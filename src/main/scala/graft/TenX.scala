package graft

import org.apache.spark.sql.functions._

/** Dev-only builder for the FULL-SUITE 10× benchmark layout (not part
  * of the library surface): duplicates every sf0.1 table 10× into
  * `/tmp/bench10x` with consistent key shifts, so every SparkEntry
  * query — joins included — runs unchanged against a 10×-scaled
  * dataset via `SPARK_GRAFT_SF_DIR=/tmp/bench10x runMain graft.Bench`.
  *
  * Shift rules:
  *  - every per-copy id shifts by `i × 5e6` — fact/dim joins
  *    (orders⋈customer, lineitem⋈part/supplier) stay 1:1 within a
  *    copy, so join fan-outs grow 10×, not 100×;
  *  - nation/region stay UNCHANGED — 10× more data does not mean more
  *    countries; grouped aggregates over them get 10× rows per group,
  *    the realistic growth axis;
  *  - events shift user_id too: 10× users at the same events-per-user;
  *  - customer names get a per-copy 3-letter tag (edit distance 3
  *    between copies > fuzzy_match's threshold 2), so fuzzy matching
  *    grows 10×, not by the duplication artifact.
  */
object TenX {
  val OutDir = "/tmp/bench10x"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = 5000000L
    def tenx(table: String, shifted: Seq[String], extra: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame = (d, _) => d): Unit = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      (0 until 10).map { i =>
        val sh = shifted.foldLeft(src)((d, c) => d.withColumn(c, col(c) + lit(i * n)))
        extra(sh, i)
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$OutDir/$table.parquet")
    }
    new java.io.File(OutDir).mkdirs()
    tenx("customer", Seq("c_custkey"), (d, i) => {
      val tag = ("" + ('A' + i).toChar) * 3
      d.withColumn("c_name", concat(col("c_name"), lit(" " + tag)))
    })
    tenx("orders", Seq("o_orderkey", "o_custkey"))
    tenx("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    tenx("part", Seq("p_partkey"))
    tenx("supplier", Seq("s_suppkey"))
    tenx("events", Seq("event_id", "user_id"))
    tenx("documents", Seq("doc_id"))
    tenx("embeddings", Seq("vec_id"))
    for (t <- Seq("nation", "region"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$OutDir/$t.parquet")
    println(s"built $OutDir from $base")
    spark.stop()
  }
}
