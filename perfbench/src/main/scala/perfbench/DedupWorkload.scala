package perfbench

import scala.collection.mutable

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `dedup_docs`: one op is a full near-dedup pass over a seeded corpus with
  * planted near-duplicate clusters — `minhashNearDups`,
  * `connectedComponents` over its pairs, `nearDedupKeepers` and
  * `ngramJaccardPairs`. It runs no ALS code, so every ALS change should
  * leave it unchanged.
  */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import Workload.{mb, median}

  private val docs = Gen.Docs(nDocs = 4000, nClusters = 150, clusterSize = 3, vocab = 1000, edits = 1)
  private val dir = s"${ctx.workDir}/dedup"
  private def corpus: DataFrame = ctx.spark.read.parquet(s"$dir/documents")

  /** Planted clusters; a cluster's first member is the base text, so the
    * planted pairs are (base, variant), each at Jaccard ≥ 0.9.
    */
  private val clusters = Gen.clusters(ctx.seed, docs)
  private val planted: Set[(Long, Long)] = clusters.iterator.flatMap { c =>
    c.iterator.drop(1).map(v => (math.min(c(0), v), math.max(c(0), v)))
  }.toSet
  private val clusterOf: Map[Long, Int] =
    clusters.zipWithIndex.flatMap { case (c, k) => c.map(_ -> k) }.toMap

  private case class Out(
      pairs: Array[(Long, Long, Double)],
      components: Array[(Long, Long)],
      keepers: Long,
      ngram: Array[(Long, Long)])
  private val outs = mutable.Map.empty[Int, Out]
  private var persisted: Option[DataFrame] = None
  private val pairCounts = mutable.ArrayBuffer.empty[Double]
  private var recallSum = 0.0
  private var recallCount = 0

  def setup(rep: Int): Long = Gen.writeDocs(ctx.spark, ctx.seed, docs, dir)

  /** Two passes: the first compiles the plans, the second lets the JIT
    * catch up with Spark's per-job and per-task paths, which most of a
    * pass's time goes to at this size.
    */
  def warmUp(): Unit = for (_ <- 0 until 2) {
    pass(corpus)
    releaseOut()
  }

  def op(i: Int): Unit = outs(i) = pass(corpus)

  private def pass(documents: DataFrame): Out = {
    val tr = ctx.tracer
    val pairs = tr.span("dedup.minhash_near_dups") {
      val p = Dedup.minhashNearDups(documents)
      persisted = Some(p)
      p
    }
    val pairRows = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val components = tr.span("dedup.connected_components") {
      Dedup.connectedComponents(pairs)
        .select(col("id").cast("long"), col("cluster_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val keepers = tr.span("dedup.keepers") { Dedup.nearDedupKeepers(documents, pairs).count() }
    val ngram = tr.span("dedup.ngram_jaccard_pairs") {
      Dedup.ngramJaccardPairs(documents)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    Out(pairRows, components, keepers, ngram)
  }

  private def releaseOut(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted = None
  }

  def release(i: Int): Unit = {
    outs.remove(i)
    releaseOut()
  }

  def check(i: Int): Seq[String] = {
    val out = outs(i)
    val fails = mutable.ArrayBuffer.empty[String]
    pairCounts += out.pairs.length.toDouble
    val found = out.pairs.map(p => (p._1, p._2)).toSet
    if (out.pairs.exists(p => !(p._1 < p._2) || !(p._3 >= 0.7)))
      fails += "minhash: a pair is not ordered or below the 0.7 threshold"
    val sameCluster = (p: (Long, Long)) =>
      clusterOf.get(p._1).exists(c => clusterOf.get(p._2).contains(c))
    val spurious = found.count(p => !sameCluster(p))
    if (spurious > 0) fails += s"minhash: $spurious pairs outside the planted clusters"
    val recall = planted.count(found.contains).toDouble / planted.size
    recallSum += recall
    recallCount += 1
    if (recall < 0.99) fails += f"minhash: planted pair recall $recall%.4f below 0.99"

    // components: exactly the planted clusters, labelled by their min id
    val comps = out.components.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val expected = clusters.map(_.toSet).toSet
    if (comps != expected)
      fails += s"connected components: ${comps.size} components, expected the ${expected.size} planted clusters"
    if (out.components.exists { case (id, c) => c != clusters(clusterOf(id)).min })
      fails += "connected components: a cluster id is not its minimum member"

    // keepers: every doc except those with a near-dup of smaller id
    val dropped = out.pairs.map(_._2).distinct.length
    if (out.keepers != docs.nDocs - dropped)
      fails += s"keepers: ${out.keepers}, expected ${docs.nDocs - dropped}"

    // n-gram pairs: inside the planted clusters, and every minhash pair at
    // Jaccard >= 0.8 (the n-gram threshold) among them
    val ngram = out.ngram.toSet
    if (ngram.exists(p => !sameCluster(p))) fails += "n-gram: pairs outside the planted clusters"
    val missed = out.pairs.count(p => p._3 >= 0.8 + 1e-9 && !ngram.contains((p._1, p._2)))
    if (missed > 0) fails += s"n-gram: $missed minhash pairs at Jaccard >= 0.8 missing"
    fails.toSeq
  }

  def quality: Double = if (recallCount == 0) 0.0 else recallSum / recallCount

  def report: Seq[(String, Double)] = Seq(
    "docs" -> docs.nDocs.toDouble,
    "planted_pairs" -> planted.size.toDouble,
    "dup_pair_recall" -> quality)

  def layerMetrics(opSeconds: Double): Map[String, Double] = {
    val tr = ctx.tracer
    tr.drain()
    def med(name: String, f: Span => Double) = median(tr.named(name).filter(_.op >= 0).map(f))
    def counts(name: String, f: Counts => Long) = med(name, s => f(tr.inclusive(s)).toDouble)
    Map(
      "dedup.minhash_near_dups.share" -> med("dedup.minhash_near_dups", _.seconds) / opSeconds,
      "dedup.minhash_near_dups.shuffle_mb" -> mb(counts("dedup.minhash_near_dups", _.shuffleWrite)),
      "dedup.minhash_near_dups.jobs" -> counts("dedup.minhash_near_dups", _.jobs),
      "dedup.minhash_near_dups.pairs" -> median(pairCounts.toSeq),
      "dedup.connected_components.share" -> med("dedup.connected_components", _.seconds) / opSeconds,
      "dedup.connected_components.jobs" -> counts("dedup.connected_components", _.jobs),
      "dedup.connected_components.stages" -> counts("dedup.connected_components", _.stages),
      "dedup.ngram_jaccard_pairs.share" -> med("dedup.ngram_jaccard_pairs", _.seconds) / opSeconds,
      "dedup.ngram_jaccard_pairs.shuffle_mb" -> mb(counts("dedup.ngram_jaccard_pairs", _.shuffleWrite)),
      "dedup.ngram_jaccard_pairs.spill_mb" -> mb(counts("dedup.ngram_jaccard_pairs", _.spill)),
      "dedup.keepers.share" -> med("dedup.keepers", _.seconds) / opSeconds)
  }
}
