package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-scope fixture helper: the ×`factor` ratings frame derived
  * DIRECTLY from the source tier's ratings, skipping the full [[ScaleUp]]
  * fixture. Under ScaleUp's key-shifted replication the
  * lineitem⋈orders→groupBy derivation commutes with replication: replica
  * `i` of the fixture yields exactly the source ratings with
  * `user_id + i·custStride` / `item_id + i·partStride` (join matches and
  * groupBy cells never cross replicas because key ranges are disjoint).
  * So replicating the derived ratings with the SAME strides — max+1 over
  * the source customer/part key domains, as in `ScaleUp.stride` — gives a
  * row set bit-identical to deriving from a ScaleUp ×factor tier, at the
  * cost of scanning ~600k rows instead of joining 600M
  * ([[RatingsReplicationEquivalenceSpec]] pins this).
  *
  * The ×1000 ALS wall-crossing run (SCALING §12.7 wall 3) wrote its
  * ratings this way, to avoid spending 13 GB of scratch disk on fixture
  * tables ALS never reads.
  */
object RatingsTierFixture {

  /** The ×factor ratings frame, derived as documented above. */
  def scaledRatings(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    def stride(table: String, key: String): Long =
      Tables.load(spark, srcDir, table)
        .agg(max(col(key).cast("long"))).head().getLong(0) + 1L
    val custS = stride("customer", "c_custkey")
    val partS = stride("part", "p_partkey")
    val base = graft.sources.RatingsSource.fromLineitem(spark, srcDir)
    val reps = spark.range(factor).select(col("id").as("__rep"))
    base.crossJoin(reps)
      .select(
        (col("user_id") + col("__rep") * custS).as("user_id"),
        (col("item_id") + col("__rep") * partS).as("item_id"),
        col("rating"))
  }
}
