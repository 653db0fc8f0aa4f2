package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equality pins for the r18 optimization rewrites: every rewrite that
  * restructured an operator's internals must return byte-identical
  * rows to its pre-rewrite shape (the oracle re-checks against DuckDB;
  * these tests pin Spark-vs-Spark equality so a drift is caught at
  * `sbt test` speed, without DuckDB).
  */
class OptimizationR18Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.{sf0001, sf001}

  /** UNFUSED spec twin of q_graph_hits (the pre-r18 shape: normalize
    * into an intermediate hub/auth projection per leg, then matvec the
    * normalized table) — the equality pin for the max-norm fusion. */
  private def hitsUnfusedTwin(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import engine.{Dsl, GraphOps}
    import engine.GraphOps.{edges, freshStats, iterWidth, stateHint}
    import engine.Ckpt.CkptOps
    val e = edges(s, dir).coalesce(iterWidth(s, dir))
    var auth = e.select(col("dst").as("node")).distinct()
      .select(col("node"), lit(1.0).as("a"))
    for (_ <- 1 to GraphOps.HitsIters) {
      // round-9 scores summed as 1e9-scaled BIGINTs (exact, order-blind,
      // long-fast — the q_gnn_gin/adamic-adar integer device; scores are
      // ≤ 1 post-max-norm so overflow needs ~9e9 neighbors, DECIMAL
      // being the swap there) — the round-6 double-SUM retirement sweep.
      // hRaw/aRaw each feed TWO branches (the max-norm broadcast and the
      // main chain); WITHOUT a cut, each downstream broadcast build
      // re-executes the |E|-scan join+agg, ~6 edge scans per iteration
      // (the r06 job-count indictment: ~25 jobs / 8.7 s for 5
      // iterations). localCheckpoint materializes the 15k-row aggregate
      // ONCE per leg — 2 edge scans per iteration, every max-norm /
      // broadcast consumer reads the materialized blocks. (Plain
      // .persist was A/B-measured ~2.5 s SLOWER here — columnar
      // InMemoryRelation build + codegen-pipeline break — but it also
      // never cut the recompute chain for the broadcast subqueries;
      // the checkpoint does both.)
      val hRaw = e.join(stateHint(s, dir, auth.select(col("node").as("an"), col("a")), "an"),
          col("dst") === col("an"))
        .groupBy(col("src"))
        .agg((sum(Dsl.rlong(col("a") * 1e9)).cast("double") / 1e9).as("h"))
        .ckpt()
      val hRawF = freshStats(s, hRaw)
      val hub = hRawF.crossJoin(broadcast(hRawF.agg(max(col("h")).as("hm"))))
        .select(col("src"), (col("h") / col("hm")).as("h"))
      val aRaw = e.join(stateHint(s, dir, hub.select(col("src").as("hn"), col("h")), "hn"),
          col("src") === col("hn"))
        .groupBy(col("dst"))
        .agg((sum(Dsl.rlong(col("h") * 1e9)).cast("double") / 1e9).as("ar"))
        .ckpt()
      val aRawF = freshStats(s, aRaw)
      auth = aRawF.crossJoin(broadcast(aRawF.agg(max(col("ar")).as("am"))))
        .select(col("dst").as("node"), (col("ar") / col("am")).as("a"))
    }
    auth.select(col("node").as("part_key"), round(col("a"), 6).as("authority"))
      .orderBy(col("authority").desc, col("part_key").asc)
      .limit(20)
  }

  test("hits max-norm fusion returns rows identical to the unfused twin") {
    val fused = engine.GraphOps.q_graph_hits(spark, sf001).collect().toSeq
    val twin = hitsUnfusedTwin(spark, sf001).collect().toSeq
    assert(fused == twin)
  }

  test("rfm parallel axes == sequential ntile fold (exact grid)") {
    import engine.{Dist, Dsl, Tables}
    val out = engine.Relational.q_agg_rfm(spark, sf001).collect().toSeq
    // sequential-fold twin: the pre-r18 shape (axis k ntiles the output
    // of axis k-1; extra columns never enter the order, so buckets are
    // the same — this asserts it)
    val per = Tables.orders(spark, sf001)
      .groupBy(col("o_custkey"))
      .agg(max(datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
          .as("last_days"),
        count(lit(1)).as("freq"),
        sum((Dsl.dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
      .localCheckpoint()
    val withQ = Seq(
      (Seq(col("last_days"), col("o_custkey")), "r_q"),
      (Seq(col("freq"), col("o_custkey")), "f_q"),
      (Seq(col("cents"), col("o_custkey")), "m_q"))
      .foldLeft(per) { case (df, (ord, n)) => Dist.ntile(df, 5, ord, n) }
    val twin = withQ
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("cents")).cast("double") / 100.0).as("monetary_sum"))
      .orderBy("r_q", "f_q", "m_q")
      .collect().toSeq
    assert(out == twin)
  }

  test("Par.run preserves order, propagates failures, and keeps Ckpt capture") {
    import engine.{Ckpt, Par}
    import engine.Ckpt.CkptOps
    // order
    assert(Par.run(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    // failure propagation
    val boom = intercept[RuntimeException] {
      Par.run[Int](Seq(() => 1, () => throw new RuntimeException("leg failed")))
    }
    assert(boom.getMessage == "leg failed")
    // a worker-thread ckpt must stay visible to the plan-audit capture
    // (the r17 blocker for overlapping the RFM axes)
    val (_, recorded) = Ckpt.record {
      Par.run(Seq(() => {
        import spark.implicits._
        Seq(1, 2).toDF("x").ckpt("par-worker-leg").count()
      }))
    }
    assert(recorded.exists(_._1 == "par-worker-leg"),
      s"worker ckpt not captured: ${recorded.map(_._1)}")
  }

  test("eigenvector max-norm fusion == unfused twin") {
    import engine.{Dsl, GraphOps}
    val out = GraphOps.q_graph_eigenvector(spark, sf001).collect().toSeq
    // unfused twin: the pre-r18 shape (normalize into an intermediate
    // projection per step, matvec the normalized table)
    val ue = GraphOps.undProj(spark, sf001, GraphOps.TriangleMinCooccur)
    var x = ue.select(col("a").as("node")).distinct()
      .select(col("node"), lit(1.0).as("x"))
    for (_ <- 1 to GraphOps.EigIters) {
      val raw = ue
        .join(broadcast(x.select(col("node").as("xn"), col("x"))),
          col("b") === col("xn"))
        .groupBy(col("a"))
        .agg((sum(Dsl.rlong(col("x") * 1e9)).cast("double") / 1e9).as("xr"))
        .localCheckpoint()
      x = raw.crossJoin(broadcast(raw.agg(max(col("xr")).as("xm"))))
        .select(col("a").as("node"), (col("xr") / col("xm")).as("x"))
    }
    val twin = x.select(col("node").as("part_key"), round(col("x"), 6).as("eigen"))
      .orderBy(col("eigen").desc, col("part_key").asc)
      .limit(20)
      .collect().toSeq
    assert(out == twin)
  }

  test("scc parallel sweeps return the sequential census (fixture pin)") {
    // pure-orchestration change (two independent sweeps overlapped):
    // pin the census against the committed sf0.001 expectation by
    // recomputing both sweep label tables sequentially from the MV
    import engine.GraphOps
    val out = GraphOps.q_graph_scc_colors(spark, sf0001).collect().toSeq
    val t = GraphOps.transEdges(spark, sf0001)
    val nodes = t.select(col("src").as("v"))
      .union(t.select(col("dst").as("v"))).distinct().localCheckpoint()
    def sweep(srcCol: String, dstCol: String, lbl: String) = {
      var x = nodes.select(col("v"), col("v").as(lbl)).localCheckpoint()
      for (_ <- 1 to GraphOps.SccHops) {
        val prop = t.join(x, col(srcCol) === col("v"))
          .select(col(dstCol).as("v"), col(lbl))
        x = x.union(prop).groupBy(col("v")).agg(min(col(lbl)).as(lbl))
          .localCheckpoint()
      }
      x
    }
    val twin = sweep("src", "dst", "f").join(sweep("dst", "src", "b"), Seq("v"))
      .groupBy(col("f").as("f_label"), col("b").as("b_label"))
      .agg(count(lit(1)).as("class_size"))
      .orderBy(col("class_size").desc, col("f_label").asc, col("b_label").asc)
      .limit(10)
      .collect().toSeq
    assert(out == twin)
  }
}
