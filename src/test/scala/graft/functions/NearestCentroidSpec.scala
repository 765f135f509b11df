package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Lsh.nearestCentroidGated — the margin-gated quantizer (r18): the gated
  * assignment must be BIT-IDENTICAL to the exact-decimal argmin on natural
  * vectors, on zero vectors, and on planted exact ties (which force the
  * rescore branch and its (score, cid) tiebreak). nearestCentroids (the
  * probe-selection prefix) must replay the exact (score, cid) order.
  */
class NearestCentroidSpec extends SparkSuite {
  import spark.implicits._

  private def randVec(r: scala.util.Random, d: Int): Array[Float] =
    Array.fill(d)((r.nextGaussian() * 2).toFloat)

  /** Driver-side replica of the exact score arithmetic the expressions
    * use: ‖c‖² from the sqrt-then-square decimal norm, minus 2·decimal
    * dot — the column formula, operation for operation. */
  private def exactScore(v: Array[Float], c: Array[Float]): Double = {
    val nrm = math.sqrt(ExprKernels.decimalDot(
      ArrayData.toArrayData(c), ArrayData.toArrayData(c)))
    nrm * nrm - 2.0 * ExprKernels.decimalDot(
      ArrayData.toArrayData(v), ArrayData.toArrayData(c))
  }

  test("gated ≡ exact on 500 random vectors × 16 centroids (incl. a zero vector)") {
    val r = new scala.util.Random(7)
    val cents = (0 until 16).map(i => (100L + i, randVec(r, 64))).toSeq
    val vecs = (0L until 499L).map(i => (i, randVec(r, 64))) :+
      (999L, Array.fill(64)(0f)) // zero vector: all double scores exact
    val bad = vecs.toDF("vec_id", "embedding")
      .withColumn("exact", Lsh.nearestCentroid($"embedding", cents))
      .withColumn("gated", Lsh.nearestCentroidGated($"embedding", cents))
      .filter($"exact" =!= $"gated")
    assert(bad.count() == 0L)
  }

  test("planted exact tie forces the rescore branch and breaks on cid") {
    val r = new scala.util.Random(11)
    val shared = randVec(r, 8)
    val far = shared.map(x => -x) // opposite direction: never the argmin here
    // duplicated centroid embedding → exact score tie for every vector
    // whose argmin is the pair → double gap 0 ≤ eps → rescore → min cid
    val cents = Seq((5L, shared), (3L, shared), (9L, far))
    val vecs = (0 until 50).map(i => (i.toLong, shared.map(x => (x + r.nextFloat() * 0.01f))))
    val rows = vecs.toDF("vec_id", "embedding")
      .withColumn("exact", Lsh.nearestCentroid($"embedding", cents))
      .withColumn("gated", Lsh.nearestCentroidGated($"embedding", cents))
      .collect()
    assert(rows.forall(r => r.getLong(3) == r.getLong(2))) // gated == exact
    // the tied pair must resolve to the SMALLER cid whenever it wins
    assert(rows.forall(r => r.getLong(3) != 5L))
    assert(rows.exists(_.getLong(3) == 3L))
  }

  test("a NULL embedding gives NULL on every path, 1 centroid or many") {
    val r = new scala.util.Random(31)
    val cents = (0 until 4).map(i => (100L + i, randVec(r, 8))).toSeq
    val df = Seq((1L, Some(randVec(r, 8))), (2L, None: Option[Array[Float]]))
      .toDF("vec_id", "embedding")
    for (cs <- Seq(cents, cents.take(1))) {
      val rows = df.select($"vec_id",
          Lsh.nearestCentroid($"embedding", cs).as("exact"),
          Lsh.nearestCentroidGated($"embedding", cs).as("gated"),
          Lsh.nearestCentroids($"embedding", cs, 2).as("probes"))
        .collect().map(row => row.getLong(0) -> row).toMap
      assert((1 to 3).forall(rows(2L).isNullAt), s"${cs.size} centroid(s): ${rows(2L)}")
      assert((1 to 3).forall(!rows(1L).isNullAt(_)), s"${cs.size} centroid(s): ${rows(1L)}")
      assert(rows(1L).getLong(1) == rows(1L).getLong(2))
    }
  }

  test("nearestCentroids returns the exact (score, cid)-ordered prefix") {
    val r = new scala.util.Random(23)
    val cents = (0 until 16).map(i => (100L + i, randVec(r, 32))).toSeq
    val vecs = (0L until 64L).map(i => (i, randVec(r, 32)))
    val got = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", Lsh.nearestCentroids($"embedding", cents, 3).as("cids"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1).toSeq).toMap
    vecs.foreach { case (id, v) =>
      val want = cents.map { case (cid, c) => (exactScore(v, c), cid) }
        .sorted.take(3).map(_._2)
      assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
    }
  }
}
