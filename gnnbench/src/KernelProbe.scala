package gnnbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Dsl
import graft.functions.{BitmapAndCount, FloatVecDot, MinHashSig, SimHash64, VecMeanAgg}

/** Rows per second of each `functions/` expression and `Dsl` kernel, in
  * isolation: the kernel runs over a cached generated column and its
  * output goes to the noop sink, so nothing is pruned. */
object KernelProbe {
  val Rows = 200000
  val Reps = 3

  def run(b: Bench): Unit = {
    val spark = b.spark
    def register(name: String, f: Seq[Expression] => Expression): String = {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, f, "built-in")
      name
    }
    val vecDot = register("gnnbench_vec_dot", e => FloatVecDot(e(0), e(1)))
    val bitmapAnd = register("gnnbench_bitmap_and", e => BitmapAndCount(e(0), e(1)))
    val minhash = register("gnnbench_minhash", e => MinHashSig(e.head, 8))
    val simhash = register("gnnbench_simhash", e => SimHash64(e.head))
    val vecMean = udaf(VecMeanAgg)

    val input = spark.range(Rows).select(
      col("id"),
      expr("transform(sequence(0, 63), j -> cast(((id * 31 + j * 7) % 1000) / 1000.0 as float))").as("va"),
      expr("transform(sequence(0, 63), j -> cast(((id * 17 + j * 11) % 1000) / 1000.0 as float))").as("vb"),
      expr("transform(sequence(0, 31), j -> xxhash64(id, j))").as("ba"),
      expr("transform(sequence(0, 31), j -> xxhash64(id + 1, j))").as("bb"),
      expr("transform(sequence(0, 19), j -> concat('w', cast((id * 13 + j * 7) % 500 as string)))").as("toks"),
      (col("id") * 0.37 - 1000.5).as("y"),
      concat(lit("doc"), col("id").cast("string")).as("s")
    ).persist(StorageLevel.MEMORY_ONLY)
    BatchMix.noop(input)

    val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
      "FloatVecDot" -> (_.select(call_function(vecDot, col("va"), col("vb")))),
      "BitmapAndCount" -> (_.select(call_function(bitmapAnd, col("ba"), col("bb")))),
      "MinHashSig" -> (_.select(call_function(minhash, col("toks")))),
      "SimHash64" -> (_.select(call_function(simhash, col("toks")))),
      "VecMeanAgg" -> (_.groupBy(col("id") % 64).agg(vecMean(col("va")))),
      "rlong" -> (_.select(Dsl.rlong(col("y")))),
      "md5Hash60" -> (_.select(Dsl.md5Hash60(col("s")))))
    kernels.foreach { case (name, k) =>
      val df = k(input)
      BatchMix.noop(df)
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        b.trace.span("kernel", name)(BatchMix.noop(df))
        (System.nanoTime() - t0) / 1e9
      }
      b.layer(s"kernel.$name.rows_per_s", "rows/s", Rows / Stats.median(times))
    }
    input.unpersist(blocking = true)
  }
}
