package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The batch-synchronous parallel bootstrap ([[GraphAnn
  * .buildGraphParallel]]): build-for-build determinism (thread
  * scheduling cannot reach the output), a measured recall floor on the
  * real fixture (the doubling-generation schedule must not cost
  * meaningful quality), and the speedup vs the sequential build at 10^5
  * vectors — the number that justifies the operator — measured on counted
  * distance evaluations. */
class GraphParallelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.01"
  private def emb = Tables.embeddings(spark, dir)
  private val qids = Seq(40L, 100L, 200L, 300L, 400L, 499L)
  private def queries = emb.filter(col("vec_id").isin(qids: _*))

  test("parallel build is deterministic: identical adjacency across " +
    "builds, identical search results") {
    val g1 = GraphAnn.buildGraphParallel(emb, "vec_id", "embedding", 16, 64)
    val g2 = GraphAnn.buildGraphParallel(emb, "vec_id", "embedding", 16, 64)
    assert(g1.ids.toSeq == g2.ids.toSeq)
    assert(g1.nbrs.map(_.toSeq).toSeq == g2.nbrs.map(_.toSeq).toSeq,
      "two parallel builds over the same rows must be structurally identical")
    def run(g: GraphAnn.Graph) =
      GraphAnn.graphTopKBatch(queries, "vec_id", "embedding", g, 10, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(run(g1) == run(g2), "search results diverged across builds")
  }

  test("recall floor on the real fixture: the doubling-generation " +
    "schedule holds the graph tier's quality") {
    val g = GraphAnn.buildGraphParallel(emb, "vec_id", "embedding", 16, 64)
    val truth = Similarity.knnJoin(emb, queries, "vec_id", "embedding", 10)
      .select(col("qid"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
    val got = GraphAnn.graphTopKBatch(queries, "vec_id", "embedding", g, 10, 64)
      .select(col("qid"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
    val (h, p) = qids.foldLeft((0, 0)) { case ((h, p), q) =>
      (h + got.getOrElse(q, Set.empty).intersect(truth.getOrElse(q, Set.empty)).size,
        p + truth.getOrElse(q, Set.empty).size)
    }
    val recall = h.toDouble / p
    info(f"parallel-build graph recall@10 (m=16, ef=64): $recall%.3f ($h/$p)")
    assert(recall >= 0.85, f"parallel build degraded recall: $recall%.3f")
  }

  test("measured speedup at 10^5 vectors: parallel build <= 1/4 of the " +
    "sequential build") {
    // deterministic synthetic directions at the deployment dim (64):
    // the distance work the parallel phase divides must dominate, as it
    // does in the regime the operator exists for
    val n = 100000
    val rows = (0 until n).map { id =>
      (id.toLong, Seq.tabulate(64)(d =>
        ((((id.toLong * (d * 2 + 3) + d * 17) % 97) - 48) + 0.5)))
    }
    // the claim is that the parallel schedule divides the distance work by
    // the core count. Wall clock cannot show that on a host with few cores
    // (4 cores cap any speedup at 4x, and host load moves the rest), so it
    // is pinned on counted evaluations, which no host can move: each batch
    // of concurrent tasks finishes on p cores within total / p + its
    // largest task (Brent), and the largest tasks, summed, are the
    // schedule's serial part
    val seq = new GraphAnn.BuildWork
    GraphAnn.buildGraphFromRows(rows, 16, 64, seq)
    val par = new GraphAnn.BuildWork
    val gp = GraphAnn.buildGraphParallelFromRows(rows, 16, 64, par)
    assert(gp.size == n)
    val bound4 = par.boundAt(4)
    info(f"sequential ${seq.evaluations}%d evaluations; parallel " +
      f"${par.evaluations}%d, serial part ${par.span}%d; 4-core bound " +
      f"$bound4%.0f (${seq.evaluations / bound4}%.1fx) at $n vectors")
    // the 1/4 ratio on the smallest host the suite runs on...
    assert(bound4 <= seq.evaluations / 4.0,
      f"parallel build's 4-core bound $bound4%.0f evaluations not <= 1/4 " +
        f"of the sequential build's ${seq.evaluations}%d")
    // ...and the division itself: a serial part of at most 1/64 of the
    // work keeps the bound within 2x of work / p up to 64 cores
    assert(par.span * 64 <= par.evaluations,
      s"serial part ${par.span} exceeds 1/64 of ${par.evaluations} evaluations")
  }
}
