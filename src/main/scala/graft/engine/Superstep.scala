package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import Ckpt.CkptOps

/** The superstep loop of the iterative tier — the relational form of
  * Flink's bulk `iterate` (the paper's host) and of GraphX Pregel: a
  * fixed number of steps, each a plan over the previous step's |V|-sized
  * state table (typically one state join + one keyed aggregation).
  *
  * `run` owns the loop and its one lineage-cut policy. A cut is
  * `freshStats(s, x.ckpt(tag))`: the checkpoint bounds plan depth
  * (planning + codegen of a deep broadcast chain costs more than a few
  * short jobs), and freshStats drops the size estimate a checkpoint leaf
  * inherits, which otherwise compounds across steps (the MST finding).
  * A cut happens after every `every`-th step and after the last one, so
  * the returned table is always materialized. Each cut is tagged
  * `superstep|<op>|<i>`, which attributes it to its operator and step
  * index under `Ckpt.record`. */
object Superstep {
  def run(s: SparkSession, op: String, init: DataFrame, steps: Int, every: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to steps).foldLeft(init) { (x, i) =>
      val next = step(x, i)
      if (i % every == 0 || i == steps)
        GraphOps.freshStats(s, next.ckpt(s"superstep|$op|$i"))
      else next
    }
}
