package graft.ops

import graft.SparkFixture
import graft.functions.{TopCellsExpr, VectorFunctions}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Pins that `Similarity.lloydMeans` merges partition partials as they
  * arrive yet adds them in partition-index order, so its totals — and the
  * codebooks trained from them — are bit-identical to collecting every
  * partial first and merging in index order.
  */
class LloydMergeSpec extends AnyFunSuite with SparkFixture {

  private type Partial = (Array[Long], Array[Array[Double]])

  private def bits(sums: Array[Array[Double]]): Seq[Seq[Long]] =
    sums.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def inOrder(partials: Seq[Partial], groups: Int, width: Int): Partial = {
    val counts = new Array[Long](groups)
    val sums = Array.ofDim[Double](groups, width)
    partials.foreach { case (c, ss) =>
      for (g <- 0 until groups) {
        counts(g) += c(g)
        for (i <- 0 until width) sums(g)(i) += ss(g)(i)
      }
    }
    (counts, sums)
  }

  test("partials merged in shuffled arrival order equal the in-order merge bit for bit") {
    val (groups, width, parts) = (5, 7, 24)
    val rnd = new Random(11)
    // magnitudes spread over many decades, so a different addition order
    // would change the low bits
    val partials: Seq[Partial] = Seq.fill(parts) {
      (Array.fill(groups)(rnd.nextInt(50).toLong),
        Array.fill(groups, width)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 6)))
    }
    val (wantCounts, wantSums) = inOrder(partials, groups, width)
    val reversed = inOrder(partials.reverse, groups, width)._2
    assert(bits(reversed) != bits(wantSums), "fixture too weak to see an order change")
    for (seed <- 1 to 20) {
      val merge = new OrderedMerge(Similarity.lloydZero(groups, width), Similarity.lloydAdd)
      new Random(seed).shuffle(partials.indices.toList).foreach(p => merge.add(p, partials(p)))
      val (counts, sums) = merge.result(parts)
      assert(counts.toSeq == wantCounts.toSeq, s"seed=$seed")
      assert(bits(sums) == bits(wantSums), s"seed=$seed")
    }
    val partial = new OrderedMerge(Similarity.lloydZero(groups, width), Similarity.lloydAdd)
    partial.add(1, partials(1))
    intercept[IllegalArgumentException](partial.result(parts))
  }

  /** Test-local copy of `trainCodebook` with the collect-then-merge pass
    * `lloydMeans` used before it merged in the result handler.
    */
  private def collectThenMergeCodebook(
      vectors: DataFrame, dim: Int, numCells: Int, iterations: Int, seed: Long): Array[Array[Float]] = {
    def normalized(c: Array[Float]): Array[Float] = {
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      if (n > 0) c.map(x => (x / n).toFloat) else c
    }
    val base = Parallelism.widen(vectors).select(col("embedding").as("v"))
    var centroids = base
      .where(VectorFunctions.dot(col("v"), col("v")) > lit(0.0))
      .withColumn("__h", xxhash64(to_json(struct(col("v"))), lit(seed)))
      .orderBy("__h", "v").limit(numCells)
      .collect().map(r => normalized(r.getSeq[Float](0).toArray))
    assert(centroids.length == numCells)
    for (_ <- 0 until iterations) {
      val assign = GraftSqlShims.column(TopCellsExpr(
        GraftSqlShims.expression(col("v")), centroids, centroids.indices.toArray, 1)).getItem(0)
      val assigned = base.withColumn("cell", assign).select(col("cell"), col("v"))
      val perPart = spark.sparkContext.runJob(
        assigned.queryExecution.toRdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          val counts = new Array[Long](numCells)
          val sums = Array.ofDim[Double](numCells, dim)
          while (it.hasNext) {
            val r = it.next()
            val arr = r.getArray(1)
            val s = sums(r.getInt(0))
            var i = 0
            while (i < dim) { s(i) += arr.getFloat(i); i += 1 }
            counts(r.getInt(0)) += 1L
          }
          (counts, sums)
        })
      val (counts, sums) = inOrder(perPart.toSeq, numCells, dim)
      centroids = centroids.indices.map { cell =>
        if (counts(cell) == 0L) centroids(cell)
        else {
          val u = normalized(Array.tabulate(dim)(i => (sums(cell)(i) / counts(cell)).toFloat))
          if (u.exists(_ != 0f)) u else centroids(cell)
        }
      }.toArray
    }
    centroids
  }

  test("trainCodebook on 20 partitions equals the collect-then-merge codebook bit for bit") {
    val dim = 16
    val rnd = new Random(5)
    val rows = (0 until 3000).map { i =>
      Row(i.toLong, Array.fill(dim)((rnd.nextGaussian() + (i % 7) * 0.3).toFloat).toSeq)
    }
    val vectors = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 20),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(vectors.rdd.getNumPartitions >= 16)
    val got = Similarity.trainCodebook(vectors, dim = dim, numCells = 24)
    val want = collectThenMergeCodebook(vectors, dim, numCells = 24, iterations = 3, seed = 42L)
    assert(got.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq ==
      want.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq)
  }
}
