package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Ckpt, GraphOps}

/** `engine.Superstep`: every migrated fixed-count power iteration cuts
  * its lineage at Superstep's cadence, and the PageRank invariant its
  * comments state is checked on the full rank table. */
class SuperstepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  /** The `superstep|…` checkpoint tags one registered query records
    * while its body is built (checkpoints are eager). */
  private def superstepTags(query: String): Seq[String] =
    Ckpt.record(SparkEntry.queries(query)(spark, sf0001))._2
      .map(_._1).filter(_.startsWith("superstep|"))

  private def tags(op: String, steps: Int*): Seq[String] =
    steps.map(i => s"superstep|$op|$i")

  test("every migrated power iteration cuts at its pinned steps") {
    val pinned = Seq(
      "q_graph_pagerank" -> Seq(2, 4, 6, 8, 10),
      "q_graph_pagerank_w" -> Seq(2, 4, 6, 8, 10),
      "q_text_textrank" -> Seq(2, 4, 6, 8, 10),
      "q_graph_ppr" -> Seq(2, 4, 6, 8),
      "q_graph_ppr_w" -> Seq(2, 4, 6, 8),
      "q_graph_hits" -> (1 to 10))
    pinned.foreach { case (q, steps) =>
      assert(superstepTags(q) == tags(q, steps: _*), q)
    }
    // the two SCC sweeps run on separate threads, so their cuts
    // interleave; each sweep's own sequence is fixed
    val scc = superstepTags("q_graph_scc_colors")
    for (sweep <- Seq("f", "b")) {
      val op = s"q_graph_scc_colors.$sweep"
      assert(scc.filter(_.startsWith(s"superstep|$op|")) == tags(op, 2, 3), op)
    }
    assert(scc.size == 4, scc)
  }

  test("pagerank conserves Σr = |V| within the per-term rounding bound") {
    // Undirected, every node has an out-arc, so one exact step maps
    // Σr = |V| to 0.15·|V| + 0.85·Σr = |V|. Each step rounds every arc's
    // term to a multiple of 1e-9 (error ≤ 0.5e-9, plus the ulps of the
    // double product: under 1e-9 per term); the 0.85 damping only
    // shrinks error carried from earlier steps. So after PagerankIters
    // steps |Σr − |V|| ≤ PagerankIters · |arcs| · 1e-9.
    val nV = GraphOps.undDegrees(spark, sf0001).count()
    val cases = Seq(
      ("q_graph_pagerank", GraphOps.pagerankRanks(spark, sf0001),
        GraphOps.undWeighted(spark, sf0001).count()),
      ("q_graph_pagerank_w", GraphOps.pagerankWRanks(spark, sf0001),
        GraphOps.undWeightedArcs(spark, sf0001).count()))
    cases.foreach { case (q, ranks, nArcs) =>
      val bound = GraphOps.PagerankIters * nArcs * 1e-9
      val row = ranks.agg(count(lit(1)), sum(col("r"))).head()
      assert(row.getLong(0) == nV, s"$q: every node keeps a rank")
      val drift = math.abs(row.getDouble(1) - nV)
      assert(drift <= bound, s"$q: |Σr − |V|| = $drift exceeds $bound")
    }
  }
}
