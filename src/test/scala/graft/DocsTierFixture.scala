package graft

import org.apache.spark.sql.SparkSession

/** THROWAWAY fixture tool (test scope): writes ONLY the synthesized
  * documents table of a scale tier (ScaleData.writeDocs at count×factor —
  * the same generator ScaleUp uses), so docs-only probes (the incremental
  * minhash tiers, `tools/inc_minhash_r18.sh`) don't pay the full tier's
  * ~13 GB of relational tables they never read.
  *
  * Usage: runMain graft.DocsTierFixture <outDir> [srcDir] [factor]
  */
object DocsTierFixture {
  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("/tmp/graft_docs_x1000")
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(2).map(_.toInt).getOrElse(1000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = Tables.load(spark, src, "documents").count() * factor
    ScaleData.writeDocs(spark, out, n)
    println(s"[fixture] wrote x$factor documents tier ($n docs) -> $out")
    spark.stop()
  }
}
