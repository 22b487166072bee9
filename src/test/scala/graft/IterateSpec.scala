package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Dedup, Graph, Similarity}

/** The iterative operators' shared round loop, pinned from outside:
  * what a call leaves registered once it returns, and how many jobs
  * each round launches. */
class IterateSpec extends SparkTestBase {
  import spark.implicits._

  // the OperatorSpec graphs: a chain with a shortcut and a detached
  // pair (BFS), a triangle with a 4-link leaf chain (k-core), and two
  // bridged triangles plus a weighted tail (pageRank / hits / labels)
  private def chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 2L),
    (7L, 8L)).toDF("src", "dst")
  private def leafChain = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
    (4L, 5L), (5L, 6L)).toDF("src", "dst")
  private def weighted = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 5L, 1L),
    (5L, 6L, 4L), (6L, 7L, 1L), (7L, 5L, 2L), (7L, 9L, 1L), (9L, 10L, 1L))
    .toDF("src", "dst", "w")
  private def seeds = Seq(0L).toDF("node")

  /** Ids of the persisted RDDs `call` leaves registered that none of
    * its returned frames reads. */
  private def retained(call: => Seq[DataFrame]): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = call
    val read = out.flatMap(_.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id
    }).toSet
    sc.getPersistentRDDs.keySet.toSet -- before -- read
  }

  test("iterative operators leave registered only the RDDs their result reads") {
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val emb = sources.Tables.embeddings(spark, sfDir)
    val calls = Seq[(String, () => Seq[DataFrame])](
      "pageRank" -> (() => Seq(Graph.pageRank(weighted, "src", "dst", "w"))),
      "hits" -> (() => Seq(Graph.hits(weighted, "src", "dst", "w"))),
      "hopDistance" -> (() =>
        Seq(Graph.hopDistance(chain, "src", "dst", seeds, maxHops = 10))),
      "kcore" -> (() => Seq(Graph.kcore(leafChain, "src", "dst", k = 2, rounds = 10))),
      "labelProp" -> (() => Seq(Graph.labelProp(weighted, "src", "dst", iters = 3))),
      "labelPropTrace" -> (() => Graph.labelPropTrace(weighted, "src", "dst", 3)),
      "clusterPairs" -> (() =>
        Seq(Dedup.clusterPairs(path, "doc_a", "doc_b", maxIter = 60))),
      "mmrTopK" -> (() => Seq(Similarity.mmrTopK(emb,
        emb.filter($"vec_id" < 8), "vec_id", "embedding"))))
    val left = calls.map { case (name, call) => name -> retained(call()) }
      .filter(_._2.nonEmpty)
    assert(left.isEmpty, s"RDDs left registered, by operator: $left")
  }

  test("kcore and hopDistance rounds launch only their checkpoint's jobs") {
    // budgets below convergence, so every budgeted round runs. A round
    // is its checkpoint's shuffle map stages plus the checkpoint itself
    // (AQE submits each stage as a job): 3 jobs per kcore round, 4 per
    // BFS round. A separate count() per round — its own map-stage job
    // and result job — would add 2 per round and 2 for the seed frame.
    val kcore = (1 to 3).map(r =>
      jobsOf(Graph.kcore(leafChain, "src", "dst", k = 2, rounds = r)))
    assert(kcore == Seq(5, 8, 11), s"kcore jobs per budget: $kcore")
    val bfs = (1 to 3).map(h =>
      jobsOf(Graph.hopDistance(chain, "src", "dst", seeds, maxHops = h)))
    assert(bfs == Seq(7, 11, 15), s"hopDistance jobs per budget: $bfs")
  }
}
