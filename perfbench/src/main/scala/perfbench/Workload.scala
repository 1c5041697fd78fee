package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the tracer, the seed and the
  * directory its inputs are written to.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, workDir: String) {
  def sc = spark.sparkContext
}

/** One benchmark workload. The runner calls [[setup]] several times (each
  * call regenerates the inputs from the seed), [[warmUp]] once, then [[op]]
  * in a closed loop with one client, with [[check]] and [[release]] after
  * each op outside its timing.
  */
trait Workload {
  /** Generates and writes this workload's inputs and builds what the ops
    * serve from; returns the checksum of the generated inputs.
    */
  def setup(rep: Int): Long

  /** Runs the op's code paths once so the JIT and Spark's code generation
    * are warm before timing starts.
    */
  def warmUp(): Unit

  /** One timed operation; spans inside it go through `ctx.tracer.span`. */
  def op(i: Int): Unit

  /** Correctness checks of op `i`'s outputs; returns one message per failure. */
  def check(i: Int): Seq[String]

  /** Unpersists what op `i` returned. */
  def release(i: Int): Unit

  /** Persisted RDDs that are deliberate session state (a served model). */
  def pinnedRdds: Set[Int] = Set.empty

  /** The workload's quality figure in (0, 1], higher is better. */
  def quality: Double

  /** Layer metrics of the traced run that only this workload produces. */
  def layerMetrics(opSeconds: Double): Map[String, Double]

  /** Human-readable figures printed before the result line. */
  def report: Seq[(String, Double)]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "als_fit_implicit_r64" => new FitWorkload(ctx)
    case "als_serve" => new ServeWorkload(ctx)
    case "dedup_docs" => new DedupWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("als_fit_implicit_r64", "als_serve", "dedup_docs")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)
}
