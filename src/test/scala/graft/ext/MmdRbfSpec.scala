package graft.ext

import graft.SparkSpec

/** Mathematical properties of the RBF MMD statistic q_mmd_rbf computes,
  * complementing its fixed-point oracle gate (which hash-checks values but
  * not the statistic's semantics): the biased estimator over
  * [[MmdRbf.kernelSumScaled]], the kernel the query runs, on grid vectors.
  */
class MmdRbfSpec extends SparkSpec {

  /** n 8-dim Gaussian vectors (mean `shift`) on the 1e7 fixed-point grid. */
  private def vecs(seed: Int, n: Int, shift: Double): Array[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(8)(math.round((rnd.nextGaussian() + shift) * 1e7)))
  }

  /** The query's estimator: sxx/n² + syy/m² − 2·sxy/(n·m), in 1e-9 units. */
  private def mmd2(a: Array[Array[Long]], b: Array[Array[Long]]): Double = {
    val (n, m) = (a.length.toLong, b.length.toLong)
    MmdRbf.kernelSumScaled(a, a).toDouble / (n * n) +
      MmdRbf.kernelSumScaled(b, b).toDouble / (m * m) -
      2 * MmdRbf.kernelSumScaled(a, b).toDouble / (n * m)
  }

  test("identical samples give (near) zero; separated samples give more") {
    val a = vecs(1, 40, 0.0)
    val b = vecs(2, 40, 0.0)   // same distribution, different draw
    val c = vecs(3, 40, 3.0)   // shifted distribution
    assert(mmd2(a, a) == 0.0)
    val near = mmd2(a, b)
    val far = mmd2(a, c)
    assert(near > 0 && near < far, s"near $near, far $far")
  }

  test("estimator is symmetric in its arguments") {
    val a = vecs(4, 30, 0.0)
    val b = vecs(5, 25, 1.0)
    assert(MmdRbf.kernelSumScaled(a, b) == MmdRbf.kernelSumScaled(b, a))
    assert(mmd2(a, b) == mmd2(b, a))
  }

  test("query emits one row per unordered label pair incl. self") {
    import org.apache.spark.sql.functions.{col, size}
    val rows = graft.SparkEntry.defs("q_mmd_rbf").build(spark, sf()).collect()
    // labels present in the query's deterministic minibatch (every label
    // with at least one non-empty embedding contributes a batch)
    val labels = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(size(col("embedding")) > 0)
      .select("label").distinct().count().toInt
    assert(rows.length == labels * (labels + 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getInt(0), r.getInt(1))
      val v = r.getDouble(2)
      assert(a <= b)
      if (a == b) assert(math.abs(v) < 1e-9) else assert(v >= 0)
    }
  }
}
