package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r13 zero-shuffle centroid expressions bit-for-bit against
  * the r12 relational formulations they replaced (broadcast join +
  * per-id `row_number()` window). The formulations here are verbatim
  * copies of the old kmeansAssign / probe-selection / pqEncode shapes:
  * if the expression and the window ever disagree on ANY row —
  * distance bits, tie-break, rank order — these fail.
  */
class CentroidExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val dot = graft.plans.DotProduct.dot _

  // deterministic pseudo-random corpus with engineered ties: vectors
  // 0/1 are exact duplicates (equal distance to every centroid) and
  // centroid pairs (2,3) are identical (distance tie -> cid tie-break)
  private def corpus(n: Int, dim: Int, float: Boolean): DataFrame = {
    val rng = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      val base = if (i == 1) 0 else i // row 1 duplicates row 0
      val r2 = new scala.util.Random(base * 7919 + 13)
      i.toLong -> Seq.fill(dim)(r2.nextDouble() * 2 - 1)
    }
    if (float)
      rows.map { case (id, v) => (id, v.map(_.toFloat)) }.toDF("id", "vec")
    else rows.toDF("id", "vec")
  }

  private def centroids(k: Int, dim: Int): Seq[(Int, Seq[Double])] = {
    val rng = new scala.util.Random(7)
    val base = (0 until k).map(c => c -> Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    // force a distance tie: centroid 3 := centroid 2
    base.map { case (c, v) => if (c == 3 && k > 3) c -> base(2)._2 else c -> v }
  }

  /** The r12 kmeansAssign: broadcast join + per-id window rank 1. */
  private def assignWindow(df: DataFrame, vecCol: String,
                           cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val cdf = cents.toDF("cid", "centroid")
    val joined = df
      .withColumn("__vv", dot(col(vecCol), col(vecCol)))
      .crossJoin(broadcast(
        cdf.withColumn("__cc", dot(col("centroid"), col("centroid")))))
      .withColumn("__dist",
        col("__vv") - lit(2.0) * dot(col(vecCol), col("centroid")) + col("__cc"))
    val w = Window.partitionBy(col("id")).orderBy(col("__dist").asc, col("cid").asc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__dist", "centroid", "__vv", "__cc")
  }

  /** The r12 probe selection: window rank <= nprobe, rank order kept. */
  private def probesWindow(df: DataFrame, vecCol: String,
                           cents: Seq[(Int, Seq[Double])],
                           nprobe: Int): DataFrame = {
    val cdf = cents.toDF("cid", "centroid")
    val joined = df
      .withColumn("__vv", dot(col(vecCol), col(vecCol)))
      .crossJoin(broadcast(
        cdf.withColumn("__cc", dot(col("centroid"), col("centroid")))))
      .withColumn("__dist",
        col("__vv") - lit(2.0) * dot(col(vecCol), col("centroid")) + col("__cc"))
    val w = Window.partitionBy(col("id")).orderBy(col("__dist").asc, col("cid").asc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col("id"), col("__rn"), col("cid"))
  }

  test("NearestCellExpr == broadcast-join + window argmin (incl. ties, float)") {
    for (float <- Seq(false, true)) {
      val df = corpus(200, 8, float)
      val cs = centroids(6, 8)
      val expected = assignWindow(df, "vec", cs)
        .select("id", "cid").as[(Long, Int)].collect().toMap
      val got = df.select(col("id"),
          CentroidOps.nearestCell(col("vec"), cs).as("cid"))
        .as[(Long, Int)].collect().toMap
      assert(got == expected, s"float=$float")
      // the engineered duplicate-centroid tie must break to the lower cid
      assert(!got.values.toSet.contains(3),
        "tie (centroid 3 == centroid 2) must resolve to cid 2")
    }
  }

  test("NearestCellsExpr == window rank<=nprobe, in rank order") {
    val df = corpus(120, 8, float = false)
    val cs = centroids(6, 8)
    for (nprobe <- Seq(1, 2, 5)) {
      val expected = probesWindow(df, "vec", cs, nprobe)
        .select("id", "__rn", "cid").as[(Long, Int, Int)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.sortBy(_._2).map(_._3).toSeq }
      val got = df.select(col("id"),
          CentroidOps.nearestCells(col("vec"), cs, nprobe).as("cids"))
        .as[(Long, Seq[Int])].collect().toMap
      expected.foreach { case (id, cids) =>
        assert(got(id) == cids, s"id=$id nprobe=$nprobe") }
    }
  }

  test("nearestCells handles non-dense cid sets (sorted-cid tie order)") {
    val cs = Seq(9 -> Seq(1.0, 0.0), 4 -> Seq(1.0, 0.0), 7 -> Seq(0.0, 1.0))
    val got = Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec")
      .select(CentroidOps.nearestCells(col("vec"), cs, 3))
      .as[Seq[Int]].collect()(0)
    // 4 and 9 tie at distance 0 (cid asc), 7 is farther
    assert(got == Seq(4, 9, 7))
  }

  test("PqCodesExpr == pqEncode (join+window) packed, incl. float input") {
    for (float <- Seq(false, true)) {
      val df = corpus(150, 12, float)
      // train real codebooks so codes are non-trivial
      val books = graft.functions.VectorFunctions.pqCodebooks(
        corpus(150, 12, float = false), "id", "vec",
        m = 3, dim = 12, ksub = 4, iters = 2)
      val expected = CentroidExpressionsSpec
        .pqEncode(df, "id", "vec", books, m = 3, dim = 12)
        .groupBy(col("id"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          s => s.getField("code")).as("codes"))
        .as[(Long, Seq[Int])].collect().toMap
      val got = graft.functions.VectorFunctions
        .pqEncodePacked(df, "id", "vec", books, m = 3, dim = 12)
        .as[(Long, Seq[Int])].collect().toMap
      assert(got == expected, s"float=$float")
    }
  }

  test("expressions survive codegen and interpreted paths identically") {
    val cs = centroids(5, 8)
    val df = corpus(40, 8, float = false)
    val viaCodegen = df.select(col("id"), col("vec"),
      CentroidOps.nearestCell(col("vec"), cs).as("cid"))
    // filter forces a second evaluation context; equality of the two
    // projections exercises eval() vs doGenCode consistency enough for
    // a unit gate (full coverage rides the oracle suite)
    val recheck = viaCodegen.withColumn("cid2",
      CentroidOps.nearestCell(col("vec"), cs))
    assert(recheck.filter(col("cid") =!= col("cid2")).count() == 0)
  }
}

object CentroidExpressionsSpec {

  /** The r12 join+window PQ encode that [[graft.plans.PqCodesExpr]]
    * replaced, kept as the reference the specs compare against: each
    * vector's m subspaces explode, broadcast-join the codebooks, and a
    * per-(id, sub) `row_number()` picks the nearest centroid. Distance =
    * ||v||²−2v·c+||c||² with sequential folds; ties break on cid. One
    * row per (id, sub) with the code.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val subs = df.select(col(idCol), posexplode(array((0 until m).map(sub =>
      slice(col(vecCol).cast("array<double>"), sub * (dim / m) + 1, dim / m)): _*))
      .as(Seq("sub", "__sv")))
    val joined = subs.join(broadcast(codebooks), Seq("sub"))
      .withColumn("__dist",
        dot(col("__sv"), col("__sv")) - lit(2.0) * dot(col("__sv"), col("centroid")) +
          dot(col("centroid"), col("centroid")))
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("__dist").asc, col("cid").asc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("sub"), col("cid").as("code"))
  }
}
