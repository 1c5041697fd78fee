package graft.ops

import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** Folds per-partition partials into `zero` in partition-index order,
  * whatever order they arrive in: partial `p` is combined once every
  * partial before it has been, and only partials that arrive early are
  * held until then. The combines are therefore the same, in the same
  * order, as a collect-then-merge — so a floating-point total is
  * bit-identical from run to run, which a merge in task-completion order
  * (`treeAggregate`, `fold`) does not promise.
  */
private[graft] final class OrderedMerge[U](zero: U, combOp: (U, U) => U) {
  private val early = scala.collection.mutable.HashMap.empty[Int, U]
  private var acc = zero
  private var next = 0

  def add(p: Int, partial: U): Unit = synchronized {
    early(p) = partial
    while (early.contains(next)) {
      acc = combOp(acc, early.remove(next).get)
      next += 1
    }
  }

  /** The total, once partials `0 until numPartitions` have all arrived. */
  def result(numPartitions: Int): U = synchronized {
    require(next == numPartitions && early.isEmpty,
      s"merged $next of $numPartitions partitions, ${early.size} held")
    acc
  }
}

private[graft] object OrderedMerge {

  /** One job over `rdd`: task `p` reduces its partition with `partial`, and
    * the driver folds the partials into `zero` in partition order as they
    * arrive (see [[OrderedMerge]]). `combOp` may update its left argument
    * in place and return it.
    */
  def aggregate[T, U: ClassTag](rdd: RDD[T], zero: U)(
      partial: Iterator[T] => U, combOp: (U, U) => U): U = {
    val merge = new OrderedMerge(zero, combOp)
    rdd.sparkContext.runJob(rdd, partial, merge.add _)
    merge.result(rdd.getNumPartitions)
  }
}
