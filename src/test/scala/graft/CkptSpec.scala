package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ckpt, Dedup, Graph}

/** Pin for the session-conf-driven lineage-truncation helper: every
  * query-builder and operator checkpoint goes through `Ckpt`, so all
  * honor `graft.reliableCheckpoint`, switching to cluster-durable
  * `checkpoint()` with identical output. */
class CkptSpec extends SparkTestBase {
  import spark.implicits._

  test("Ckpt: default localCheckpoint and reliable checkpoint are " +
       "output-identical; reliable mode writes to the checkpoint dir") {
    val df = spark.range(50).select(col("id"), (col("id") % 5).as("m"))
    val local = Ckpt(df).collect().map(_.toSeq).toSet
    val reliable = withReliable { dir =>
      val out = Ckpt(df)
      // a reliable checkpoint writes RDD block files under the
      // session checkpoint dir — the durable-vs-local distinction
      def files(f: java.io.File): Int =
        Option(f.listFiles()).toSeq.flatten
          .map(c => if (c.isDirectory) files(c) else 1).sum
      assert(files(new java.io.File(dir)) > 0,
        "reliable Ckpt wrote nothing to the checkpoint dir")
      out.collect().map(_.toSeq).toSet
    }
    assert(local == reliable && local.size == 50)
  }

  test("reliable mode with no checkpoint dir fails fast, naming the " +
       "setting and the fix") {
    val df = spark.range(5).toDF("id")
    def check(e: IllegalStateException): Unit =
      Seq("graft.reliableCheckpoint", "reliableCheckpoint = true",
        "setCheckpointDir").foreach(w => assert(e.getMessage.contains(w), e))
    // kcore's first act is a checkpoint, so its failure caches nothing
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    withoutCheckpointDir {
      check(intercept[IllegalStateException](reliableConf(Ckpt(df))))
      check(intercept[IllegalStateException](
        reliableConf(Graph.kcore(edges, "src", "dst"))))
    }
  }

  test("reliable mode: bestRepresentative and the mmr/abc/peak keys " +
       "are value-identical to the default") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 7L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val want = rows(Dedup.bestRepresentative(docs, pairs, "doc_id", "score"))
    val got = withReliable { _ =>
      rows(Dedup.bestRepresentative(docs, pairs, "doc_id", "score"))
    }
    assert(got == want && want.nonEmpty)
    // full query-builder paths through the helper: peak_concurrency,
    // and two keys whose builders checkpointed locally before routing
    // through Ckpt (a near-dup pair frame, an event-series frame)
    for (name <- Seq("peak_concurrency", "cluster_density_audit", "max_drawdown")) {
      val key = SparkEntry.queries(name)
      val w0 = rows(key(spark, sfDir))
      val w1 = withReliable { _ => rows(key(spark, sfDir)) }
      assert(w0 == w1 && w0.nonEmpty, name)
    }
  }
}
