package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extensions route: TestSpark builds its session with
  * spark.sql.extensions=graft.GraftExtensions, so the native expressions
  * must resolve as plain SQL functions with no manual registration. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("graft_vec_dot is available via spark.sql.extensions") {
    val r = spark.sql(
      "SELECT graft_vec_dot(array(cast(1.5 as float), cast(2.0 as float))," +
        " array(cast(2.0 as float), cast(3.0 as float))) AS d").collect()
    assert(r(0).getDouble(0) == 1.5 * 2.0 + 2.0 * 3.0)
  }

  test("graft_simhash64 is available and type-checked via extensions") {
    val r = spark.sql("SELECT graft_simhash64(array('a','b','c')) AS h").collect()
    val again = spark.sql("SELECT graft_simhash64(array('a','b','c')) AS h").collect()
    assert(r(0).getLong(0) == again(0).getLong(0))
    // analysis-time rejection of wrong input types
    val err = intercept[Exception] {
      spark.sql("SELECT graft_simhash64(array(1, 2))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<string>") ||
      err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("graft_vec_dot rejects non-float arrays at analysis time") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_vec_dot(array(1.0, 2.0), array(3.0, 4.0))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>") ||
      err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("graft_dense_dot is available via spark.sql.extensions") {
    val r = spark.sql(
      "SELECT graft_dense_dot(array(cast(1.5 as float), cast(2.0 as float))," +
        " array(2.0D, 3.0D), 0.25D) AS d," +
        " graft_dense_dot(array(1.5D, 2D), array(0.5, 1), 1) AS i").collect()
    assert(r(0).getDouble(0) == 1.5 * 2.0 + 2.0 * 3.0 + 0.25)
    // decimal weights and an integer bias widen to double
    assert(r(0).getDouble(1) == 1.5 * 0.5 + 2.0 * 1.0 + 1.0)
  }

  test("graft_dense_dot rejects non-numeric vectors at analysis time") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dense_dot(array('a', 'b'), array(1D, 2D), 0D)")
    }
    assert(err.getMessage.contains("array<float> or array<double>"), err.getMessage)
    val ints = intercept[Exception] {
      spark.sql("SELECT graft_dense_dot(array(1, 2), array(1D, 2D), 0D)")
    }
    assert(ints.getMessage.contains("array<float> or array<double>"), ints.getMessage)
    val scalar = intercept[Exception] {
      spark.sql("SELECT graft_dense_dot(1D, array(1D), 0D)")
    }
    assert(scalar.getMessage.contains("array<float> or array<double>"), scalar.getMessage)
    val w = intercept[Exception] {
      spark.sql("SELECT graft_dense_dot(array(1D, 2D), array('a', 'b'), 0D)")
    }
    assert(w.getMessage.contains("numeric weights"), w.getMessage)
  }

  test("graft_dense_dot rejects non-constant weights and bias at analysis time") {
    val t = "FROM VALUES (array(1D, 2D), array(3D, 4D), 5D) AS t(v, w, b)"
    val w = intercept[Exception](spark.sql(s"SELECT graft_dense_dot(v, w, 0D) $t"))
    assert(w.getMessage.contains("constant weights"), w.getMessage)
    val b = intercept[Exception](spark.sql(s"SELECT graft_dense_dot(v, array(1D, 2D), b) $t"))
    assert(b.getMessage.contains("constant bias"), b.getMessage)
  }
}
