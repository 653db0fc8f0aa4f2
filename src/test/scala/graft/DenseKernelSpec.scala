package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The native dense-row kernel (`graft_dense_dot`, graft.functions.DenseDot)
  * against the `lit(w0) * element_at(x, 1) + … + b` column fold it replaced
  * in the GNN dense layers: bit for bit (raw IEEE bits, so -0.0 counts;
  * a NaN result must be NaN on both sides), on seeded random float and double vectors with the
  * hard classes mixed in, with the same null and short-array behaviour,
  * under both the generated and the interpreted expression paths. */
class DenseKernelSpec extends AnyFunSuite {
  import TestSpark._

  private val N = 64

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def kernel(x: Column, w: Array[Double], b: Double): Column =
    call_function("graft_dense_dot", x, typedLit(w), lit(b))

  private def fold(x: Column, w: Array[Double], b: Double): Column =
    (2 to w.length).foldLeft(lit(w(0)) * element_at(x, 1).cast("double"))(
      (acc, j) => acc + lit(w(j - 1)) * element_at(x, j).cast("double")) + lit(b)

  /** Rows through an RDD: over a local relation the optimizer would
    * evaluate the projection itself at planning time, in neither mode. */
  private def vectors(elem: DataType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (v, i) => Row(i, v) }, 3),
      StructType(Seq(StructField("id", IntegerType), StructField("x", ArrayType(elem)))))

  /** Raw IEEE bits, except that every NaN compares as NaN: the JVM leaves
    * the sign and payload of a NaN result unspecified, and the fold itself
    * gives 0x7ff8… from generated code and 0xfff8… interpreted for the same
    * inf + -inf row. */
  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None
    else if (r.getDouble(i).isNaN) Some(java.lang.Double.doubleToRawLongBits(Double.NaN))
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  /** Kernel and fold agree bit for bit in every mode, and the kernel
    * gives the same bits in both modes. */
  private def assertSame(df: DataFrame, w: Array[Double], b: Double): Unit = {
    val byMode = modes.map { case (name, conf) =>
      withConf(conf: _*) {
        val rows = df.select(col("id"), kernel(col("x"), w, b), fold(col("x"), w, b))
          .collect().sortBy(_.getInt(0))
        val bad = rows.filter(r => bits(r, 1) != bits(r, 2))
        assert(bad.isEmpty, s"$name: kernel != fold on rows " +
          bad.take(5).map(r => s"${r.getInt(0)}: ${r.get(1)} vs ${r.get(2)}").mkString("; "))
        rows.map(bits(_, 1)).toSeq
      }
    }
    assert(byMode.head == byMode.last, "generated and interpreted kernels differ")
  }

  private val rnd = new scala.util.Random(20261017)

  private def weights(): Array[Double] = Array.tabulate(N) { j =>
    (j % 8) match {
      case 0 => -0.0
      case 1 => java.lang.Double.MIN_VALUE * (1 + rnd.nextInt(1000))
      case 2 => rnd.nextGaussian() * 1e300
      case _ => rnd.nextGaussian()
    }
  }

  private def floatVec(kind: Int): Seq[Any] = Seq.tabulate(N) { j =>
    kind match {
      case 0 => rnd.nextGaussian().toFloat
      case 1 => java.lang.Float.intBitsToFloat(rnd.nextInt()) // NaN, ±inf, subnormals
      case 2 => if (j % 2 == 0) -0.0f else 0.0f
      case 3 => java.lang.Float.MIN_VALUE * (1 + rnd.nextInt(100))
      case 4 => Float.MaxValue * (if (rnd.nextBoolean()) 1 else -1)
      case _ => if (j == 7) Float.NaN else rnd.nextFloat()
    }
  }

  private def doubleVec(kind: Int): Seq[Any] = Seq.tabulate(N) { j =>
    kind match {
      case 0 => rnd.nextGaussian()
      case 1 => java.lang.Double.longBitsToDouble(rnd.nextLong())
      case 2 => if (j % 2 == 0) -0.0 else 0.0
      case 3 => java.lang.Double.MIN_VALUE * (1 + rnd.nextInt(100))
      case 4 => Double.MaxValue * (if (rnd.nextBoolean()) 1 else -1)
      case _ => if (j == 7) Double.NaN else rnd.nextDouble() * 1e10
    }
  }

  test("array<float>: kernel equals the fold bit for bit in both codegen modes") {
    val rows = (0 until 600).map(i => floatVec(i % 6))
    Seq.fill(3)((weights(), rnd.nextGaussian())).foreach { case (w, b) =>
      assertSame(vectors(FloatType, rows), w, b)
    }
  }

  test("array<double>: kernel equals the fold bit for bit in both codegen modes") {
    val rows = (0 until 600).map(i => doubleVec(i % 6))
    Seq.fill(3)((weights(), rnd.nextGaussian())).foreach { case (w, b) =>
      assertSame(vectors(DoubleType, rows), w, b)
    }
    assertSame(vectors(DoubleType, rows), weights(), -0.0)
  }

  test("null vector and null elements give null, as the fold does") {
    val w = weights()
    val full = floatVec(0)
    val rows = Seq(
      null,
      full.updated(0, null),
      full.updated(N - 1, null),
      // a null before the end of a short vector: the fold stops at the
      // null term before it reaches the missing index, so null, no error
      full.take(10).updated(3, null),
      full ++ Seq(null)) // past the weights, never read
    val df = vectors(FloatType, rows)
    assertSame(df, w, 0.5)
    modes.foreach { case (name, conf) =>
      withConf(conf: _*) {
        val got = df.select(kernel(col("x"), w, 0.5)).collect().map(_.get(0)).toSeq
        assert(got.take(4).forall(_ == null), s"$name: expected nulls, got $got")
        assert(got(4) != null, s"$name: an element past the weights must not matter")
      }
    }
  }

  test("a vector shorter than the weights fails as element_at does") {
    val w = weights()
    val df = vectors(FloatType, Seq(floatVec(0), floatVec(0).take(N - 1)))
    def failure(c: Column): String = {
      val e = intercept[Exception](df.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    }
    modes.foreach { case (name, conf) =>
      withConf(conf: _*) {
        val k = failure(kernel(col("x"), w, 0.0))
        val f = failure(fold(col("x"), w, 0.0))
        Seq(k, f).foreach { m =>
          assert(m.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"), s"$name: $m")
          assert(m.contains(s"The index $N is out of bounds. The array has ${N - 1} elements"),
            s"$name: $m")
        }
      }
    }
  }
}
