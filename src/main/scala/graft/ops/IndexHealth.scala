package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Index-quality rules shared by the ANN and dedup recall meters: the
  * fixed recall-anchor set their truth tiers are computed on, and the
  * drift meter's retrain decision.
  */
object IndexHealth {

  /** Recall budget for the drift meter's (`sim_drift_recall`)
    * `retrain_recommended` flag: a retrain is recommended when retraining the codebook on base ∪ appended
    * mass would recover MORE than this much recall@5 (`fresh − stale >
    * margin`). 0.02 ≈ the measurement's own sampling CI at the fixture
    * tiers, so the flag trips only on decay distinguishable from noise —
    * below it, the stale index is within measurement error of retrained.
    * Public so `DriftThresholdSpec` pins the decision rule.
    */
  val retrainGainMargin: Double = 0.02

  /** The drift meter's decision rule, shared by the query body and pinned
    * by `DriftThresholdSpec`: STRICT inequality — a gain equal to the
    * noise budget is not evidence of decay. The DuckDB oracle re-derives
    * the identical comparison over the same doubles.
    */
  def retrainDecision(gain: Double): Boolean = gain > retrainGainMargin

  /** FIXED anchor budget of the recall meters: the truth tier is exact
    * top-k for exactly this many deterministically-chosen anchor queries,
    * so its cost is O(anchors × corpus) — flat per corpus SCAN at any
    * scale — where the earlier fixed-RATE sample made it O(corpus²/rate)
    * and priced the meter out at ×100 (241.9 s measured in round 11). At
    * 256 anchors × k=5 the estimate rests on 1,280 truth pairs: ±0.014
    * std at the recall levels the tiers run, ample for a 3-tier quality
    * meter (RecallAnchorSpec pins the anchored estimate against full
    * truth at sf0.1). A compile-time constant (no type ascription): the
    * recall meters' oracle strings interpolate it while their query
    * objects initialize, and a constant is inlined, so no object
    * initialization order can see it unassigned.
    */
  final val recallAnchorBudget = 256

  /** The deterministic anchor set: the `recallAnchorBudget` ids smallest
    * by (portable md5 hash, id) — a fixed-size, order-independent choice
    * both engines reproduce (the oracle replays it as ORDER BY hash, id
    * LIMIT n). Collected to the driver: bounded at the budget.
    */
  def recallAnchorIds(ids: DataFrame, idCol: String): Array[Long] =
    ids.select(col(idCol))
      .orderBy(TextOps.portableHash56(col(idCol).cast("string")), col(idCol))
      .limit(recallAnchorBudget)
      .collect().map(_.getLong(0))
}
