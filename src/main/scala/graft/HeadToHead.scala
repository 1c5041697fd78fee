package graft

import org.apache.spark.sql.SparkSession

/** Standalone ALS head-to-head (BASELINE.md protocol rows 2 and 3), run in
  * its OWN JVM so the timings are free of accumulated session state.
  *
  * Round-5 verdict: the in-suite head-to-head recorded `als_transform_graft`
  * at 85s vs MLlib's 10.8s purely because it ran as the last thing after 102
  * queries + two trainings in one JVM (codegen cache pressure + uncollected
  * broadcast/shuffle state); the same code in a fresh JVM measures ~1.0x.
  * `Bench` forks this main as a child process and merges the four rows into
  * its JSON, so the official record now measures the protocol, not JVM decay.
  *
  * Usage: graft.HeadToHead <outFile> [side] — writes one JSON object
  * {"als_train_graft":sec,...,"blas":"<impl>"} to outFile.
  *
  * `side` (round-10, verdict #2): `all` (default) runs the original
  * 4-row sequence; `graft` / `mllib` runs ONLY that engine's train +
  * transform, so the repeat mode can give both engines an IDENTICAL JVM
  * history (warmup → train → settle → transform, each side in its own
  * fresh fork). The round-9 ×100 transform reading (1.72×) rode a fixed
  * fork order where graft's transform ran third and MLlib's fourth in one
  * JVM — per-side isolation removes that asymmetry instead of arguing
  * about it.
  *
  * Usage: graft.HeadToHead repeats <outFile> [rounds=3] — the
  * order-symmetric protocol ([[repeats]]).
  */
object HeadToHead {
  /** JDK17 module opens Spark needs when launched outside spark-submit.
    * Mirrors build.sbt / org.apache.spark.launcher.JavaModuleOptions.
    */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Which BLAS backend dev.ludovic.netlib actually loaded (native JNI vs
    * pure-Java fallback). Surfaced in bench output so a deployment knows
    * which path the solvers took (BASELINE.md "BLAS note"). Reflective so a
    * classpath without netlib degrades to "unavailable" instead of failing.
    */
  def blasImpl(): String =
    try {
      val cls = Class.forName("dev.ludovic.netlib.blas.BLAS")
      cls.getMethod("getInstance").invoke(null).getClass.getSimpleName
    } catch { case _: Throwable => "unavailable" }

  /** Forks `graft.HeadToHead` in a fresh JVM (optionally one `side`:
    * "graft" | "mllib") and returns its parsed numeric rows plus the BLAS
    * impl it reported. The ONE place the fork command line and output
    * parsing live — shared by [[Bench]]'s in-suite fork and
    * [[repeats]]' per-side alternation, so the two protocols
    * cannot silently diverge on JVM flags or format.
    */
  def forkAndParse(
      sfDir: String,
      cpus: String,
      xmx: String = "8g",
      side: Option[String] = None,
      rank: Int = 8): (Map[String, Double], Option[String]) = {
    val out = java.nio.file.Files.createTempFile(
      s"graft_h2h${side.fold("")("_" + _)}", ".json")
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cmd: Seq[String] =
      Seq(javaBin) ++ jdk17AddOpens ++ Seq(
        s"-Xmx$xmx", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        "graft.HeadToHead", out.toString) ++ side.toSeq
    val pb = new ProcessBuilder(cmd: _*).inheritIO()
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.environment().put("SPARK_GRAFT_H2H_RANK", rank.toString)
    val exit = pb.start().waitFor()
    val text = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    try java.nio.file.Files.deleteIfExists(out) catch { case _: Throwable => () }
    if (exit != 0 || text.isEmpty)
      sys.error(s"head-to-head fork${side.fold("")(" (" + _ + ")")} " +
        s"exited $exit with ${text.length}B output")
    val num = """"(\w+)":([0-9.eE+-]+)""".r
    val rows = num.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val blas = """"blas":"(\w+)"""".r.findFirstMatchIn(text).map(_.group(1))
    (rows, blas)
  }

  /** The protocol rows on `spark`: graft and/or MLlib (`side` = "all" |
    * "graft" | "mllib") train at `rank` on the dir's ratings, then
    * transform them, each timed alone with a cache clear + GC between
    * timed rows. Returns the row timings in seconds, in run order. Runs in
    * this JVM: [[main]] calls it in a fresh fork, Bench in-process when
    * the fork cannot start.
    */
  def protocol(
      spark: SparkSession,
      sfDir: String,
      side: String = "all",
      rank: Int = 8): scala.collection.mutable.LinkedHashMap[String, Double] = {
    require(Set("all", "graft", "mllib")(side), s"side must be all|graft|mllib, got $side")
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      timings(name) = (System.nanoTime() - t0) / 1e9
    }
    def settle(): Unit = { spark.catalog.clearCache(); System.gc() }

    val ratings = graft.queries.Queries.ratingsDF(spark, sfDir)

    var graftModel: graft.als.GraftALSModel = null
    if (side != "mllib") timed("als_train_graft") {
      graftModel = graft.als.GraftALS(
        rank = rank, maxIter = 5, regParam = 0.1,
        numUserBlocks = 8, numItemBlocks = 8,
        userCol = "user_id", itemCol = "item_id", ratingCol = "rating",
        seed = 7L)
        .fit(ratings)
      graftModel.userFactors.write.format("noop").mode("overwrite").save()
    }
    if (side != "mllib") settle()
    var mllibModel: org.apache.spark.ml.recommendation.ALSModel = null
    if (side != "graft") timed("als_train_mllib") {
      import org.apache.spark.ml.recommendation.ALS
      mllibModel = new ALS()
        .setRank(rank).setMaxIter(5).setRegParam(0.1)
        .setNumUserBlocks(8).setNumItemBlocks(8)
        .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
        .setSeed(7L)
        .fit(ratings)
      mllibModel.userFactors.write.format("noop").mode("overwrite").save()
    }
    if (side != "graft") settle()
    if (side != "mllib") timed("als_transform_graft") {
      graftModel.transform(ratings)
        .write.format("noop").mode("overwrite").save()
    }
    if (side == "all") settle()
    if (side != "graft") timed("als_transform_mllib") {
      mllibModel.transform(ratings)
        .write.format("noop").mode("overwrite").save()
    }
    timings
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("repeats")) {
      repeats(args.lift(1).getOrElse("/tmp/graft_h2h_repeats.json"),
        args.lift(2).map(_.toInt).getOrElse(3))
      return
    }
    val outFile = args.headOption.getOrElse("/tmp/graft_headtohead.json")
    val side = args.lift(1).getOrElse("all")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Rank axis (round-15 verdict #2): the rank-64 solver-scratch
    // regression was invisible to a protocol that only ever ran rank 8.
    // SPARK_GRAFT_H2H_RANK lets the repeat mode carry a second tier.
    val rank = sys.env.getOrElse("SPARK_GRAFT_H2H_RANK", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warmup (same as Bench): codegen compiler + noop sink + parquet
    // reader init are one-time JVM state that would otherwise bill to the
    // first timed row.
    Tables.load(spark, sfDir, "region").write.format("noop").mode("overwrite").save()
    spark.range(1 << 14).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()

    val timings = protocol(spark, sfDir, side, rank)
    val body = timings.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val line = s"""{$body,"blas":"${blasImpl()}"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }

  /** Order-symmetric head-to-head: forks this main once PER SIDE per round
    * (graft fork, then MLlib fork, alternating), `rounds` rounds per rank
    * tier, and writes per-row samples and medians plus the train/transform
    * ratios of medians to `outFile`.
    *
    * Why (round-10 verdict #2): the single-fork protocol ran the four rows
    * in one fixed order inside one JVM, so the ×100 transform comparison
    * (graft third, MLlib fourth) embedded a warmup asymmetry that could
    * only be argued about. Here each side's fork performs the IDENTICAL
    * sequence — session warmup → train → settle → transform — in a fresh
    * JVM, and the alternation means neither side systematically benefits
    * from page cache warmed by the other. Median-of-n matches the sf0.1
    * N=5 repeat discipline (`bench_artifacts/headtohead_repeats_r09.json`).
    *
    * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_H2H_XMX (default
    * 8g — raise for scale tiers), SPARK_GRAFT_H2H_RANKS.
    */
  def repeats(outFile: String, rounds: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val xmx = sys.env.getOrElse("SPARK_GRAFT_H2H_XMX", "8g")

    // Rank tiers (round-15 verdict #2): the rank-64 solver-scratch
    // regression hid behind a rank-8-only protocol, so the artifact
    // carries ratios at rank 8 AND rank 32 (override/extend via
    // SPARK_GRAFT_H2H_RANKS, comma-separated).
    val ranks = sys.env.getOrElse("SPARK_GRAFT_H2H_RANKS", "8,32")
      .split(',').map(_.trim.toInt).toSeq

    val samples = scala.collection.mutable.LinkedHashMap
      .empty[(Int, String), scala.collection.mutable.ArrayBuffer[Double]]
    var blas = "unavailable"

    def fork(side: String, rank: Int): Unit = {
      val (rows, b) = forkAndParse(sfDir, cpus, xmx, Some(side), rank)
      rows.foreach { case (k, v) =>
        samples.getOrElseUpdate((rank, k), scala.collection.mutable.ArrayBuffer.empty)
          .append(v)
      }
      b.foreach(blas = _)
    }

    ranks.foreach { rank =>
      (0 until rounds).foreach { r =>
        println(s"[h2h-repeats] rank $rank round ${r + 1}/$rounds")
        fork("graft", rank)
        fork("mllib", rank)
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val rows = Seq("als_train_graft", "als_train_mllib",
      "als_transform_graft", "als_transform_mllib")

    // Locale.ROOT: f"" uses the JVM default locale, which can render
    // 1.234 as "1,234" and corrupt the JSON artifact
    def num(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ",", "]")

    def tierBody(rank: Int): String = {
      val med = rows.map(r => r -> median(samples((rank, r)).toSeq)).toMap
      val body = rows.map(r =>
        s""""$r":{"samples":${arr(samples((rank, r)).toSeq)},"median":${num(med(r))}}""")
        .mkString(",")
      s"""$body,"ratio_train":${num(med("als_train_graft") / med("als_train_mllib"))},""" +
        s""""ratio_transform":${num(med("als_transform_graft") / med("als_transform_mllib"))}"""
    }

    // rank-8 rows stay top-level (artifact shape compatible with r9-r15
    // readers); additional tiers nest under "rank<k>"
    val extraTiers = ranks.filter(_ != 8)
      .map(k => s""""rank$k":{${tierBody(k)}}""")
    val tiers = (if (ranks.contains(8)) Seq(tierBody(8)) else Seq.empty) ++ extraTiers
    val line = s"""{"sf_dir":"$sfDir","rounds":$rounds,"ranks":${ranks.mkString("[", ",", "]")},"protocol":"per-side fresh-JVM forks, alternating graft/mllib","""+
      tiers.mkString(",") + s""","blas":"$blas"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), (line + "\n").getBytes("UTF-8"))
    println(line)
  }
}
