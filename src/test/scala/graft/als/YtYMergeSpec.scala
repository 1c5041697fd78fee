package graft.als

import graft.SparkFixture
import graft.ops.OrderedMerge
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Pins that the implicit path's YᵀY is merged in block order: per-block
  * Gramian partials arriving in any order give the in-order total bit for
  * bit, and `computeYtY` over several blocks returns exactly that total,
  * run after run.
  */
class YtYMergeSpec extends AnyFunSuite with SparkFixture {

  private val rank = 12
  private val numBlocks = 5

  // magnitudes spread over many decades, so a different addition order
  // changes the low bits
  private val blocks: Seq[Array[Array[Float]]] = {
    val rnd = new Random(17)
    Seq.fill(numBlocks)(Array.fill(3 + rnd.nextInt(20))(
      Array.fill(rank)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(8) - 4)).toFloat)))
  }

  private def partial(factors: Array[Array[Float]]): NormalEquation = {
    val ne = new NormalEquation(rank)
    factors.foreach(ne.add(_, 0.0))
    ne
  }

  private def inOrder(partials: Seq[NormalEquation]): NormalEquation =
    partials.foldLeft(new NormalEquation(rank))((a, b) => a.merge(b))

  private def bits(ne: NormalEquation): Seq[Long] =
    (ne.ata ++ ne.atb).map(java.lang.Double.doubleToRawLongBits).toSeq

  test("YtY partials merged in shuffled arrival order equal the in-order merge bit for bit") {
    val partials = blocks.map(partial)
    val want = bits(inOrder(partials))
    assert(bits(inOrder(partials.reverse)) != want, "fixture too weak to see an order change")
    for (seed <- 1 to 20) {
      val merge = new OrderedMerge[NormalEquation](new NormalEquation(rank), (a, b) => a.merge(b))
      new Random(seed).shuffle(partials.indices.toList).foreach(p => merge.add(p, partials(p)))
      assert(bits(merge.result(numBlocks)) == want, s"seed=$seed")
    }
  }

  test("computeYtY over several blocks is the block-ordered merge, on every run") {
    val factorBlocks = spark.sparkContext.parallelize(blocks.zipWithIndex.map(_.swap), numBlocks)
    assert(factorBlocks.getNumPartitions == numBlocks)
    val want = bits(inOrder(blocks.map(partial)))
    for (_ <- 1 to 3) assert(bits(BlockedALS.computeYtY(factorBlocks, rank)) == want)
  }
}
