package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one client thread.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Sets the workload up three times (each set-up regenerates the inputs
  * from the seed, so the three input checksums must agree), warms it up
  * once, then runs its op in a closed loop for `--seconds`, checking and
  * releasing each op outside its timing. The last stdout line is the result JSON:
  * the end-to-end metrics, or with `--trace 1` the per-layer metrics of a
  * traced run (which also writes its spans as JSON lines).
  */
object Main {
  import Workload.{mb, median}

  val SetupReps = 3
  val MinOps = 5

  /** End-to-end metrics: name -> unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_s_p50" -> "s",
    "shuffle_mb" -> "MB",
    "quality" -> "ratio")

  /** Per-layer metrics: name -> unit. A layer the workload does not call
    * reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.spill_mb" -> "MB",
    "jvm.gc.share" -> "ratio",
    "jvm.peak_rss_mb" -> "MB",
    "trace.overhead.share" -> "ratio",
    "als.blockify.share" -> "ratio",
    "als.blockify.shuffle_mb" -> "MB",
    "als.blockify.tasks" -> "count",
    "als.make_blocks.user.share" -> "ratio",
    "als.make_blocks.item.share" -> "ratio",
    "als.make_blocks.shuffle_mb" -> "MB",
    "als.make_blocks.spill_mb" -> "MB",
    "als.in_blocks_mb" -> "MB",
    "als.half_step.share" -> "ratio",
    "als.half_step.shuffle_mb" -> "MB",
    "als.half_step.jobs" -> "count",
    "als.half_step.gc.share" -> "ratio",
    "als.yty.share" -> "ratio",
    "als.checkpoint.share" -> "ratio",
    "als.fit.unattributed.share" -> "ratio",
    "als.solver.ne_add_per_s" -> "1/s",
    "als.solver.cholesky_per_s" -> "1/s",
    "model.index_build.share" -> "ratio",
    "model.recommend_approx.share" -> "ratio",
    "model.recommend_approx.jobs" -> "count",
    "model.recommend_approx.stages" -> "count",
    "model.recommend_approx.tasks" -> "count",
    "model.foldin.share" -> "ratio",
    "model.foldin.jobs" -> "count",
    "model.foldin.shuffle_mb" -> "MB",
    "model.transform.share" -> "ratio",
    "model.transform.shuffle_mb" -> "MB",
    "model.transform.rows_per_s" -> "1/s",
    "dedup.minhash_near_dups.share" -> "ratio",
    "dedup.minhash_near_dups.shuffle_mb" -> "MB",
    "dedup.minhash_near_dups.jobs" -> "count",
    "dedup.minhash_near_dups.pairs" -> "count",
    "dedup.connected_components.share" -> "ratio",
    "dedup.connected_components.jobs" -> "count",
    "dedup.connected_components.stages" -> "count",
    "dedup.ngram_jaccard_pairs.share" -> "ratio",
    "dedup.ngram_jaccard_pairs.shuffle_mb" -> "MB",
    "dedup.ngram_jaccard_pairs.spill_mb" -> "MB",
    "dedup.keepers.share" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
    require(Workload.names.contains(a.workload), s"unknown workload '${a.workload}'")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args, cores)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, cores: Int): Unit = {
    val sc = spark.sparkContext
    // wall-clock marks of the run's phases, for the timeline line
    val marks = mutable.ArrayBuffer(
      "session" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    def mark(phase: String): Unit = marks += phase -> System.currentTimeMillis()
    mark("setup")
    val tracer = new Tracer(sc, detailed = false)
    val ctx = Ctx(spark, tracer, args.seed, s"${args.work}/inputs")
    val w = Workload(args.workload, ctx)

    println("stamp " + Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "nproc" -> cores, "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION, "blas" -> graft.HeadToHead.blasImpl(),
      "java" -> System.getProperty("java.version")))

    // set-up: several times, each regenerating the same seeded inputs
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    val checksums = mutable.ArrayBuffer.empty[Long]
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      checksums += w.setup(rep)
      isolate(spark, w.pinnedRdds)
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    mark("warmup")
    val tWarm = System.nanoTime()
    w.warmUp()
    isolate(spark, w.pinnedRdds)
    val warmSeconds = (System.nanoTime() - tWarm) / 1e9
    val setupOk = checksums.distinct.size == 1
    println(f"input_checksum ${checksums.head}%016x" + (if (setupOk) "" else " MISMATCH " + checksums.mkString(",")))
    println(s"setup_s_each ${setupSeconds.map(s => f"$s%.3f").mkString(" ")} warmup_s ${f"$warmSeconds%.3f"}")

    // timed ops: closed loop, one client; in a traced run the ops record
    // layer spans in the order untraced, traced, traced, untraced, ... so
    // traced and untraced ops can be compared without a warm-up bias
    val opSeconds = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var failed = 0
    var i = 0
    mark("ops")
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (i < MinOps || elapsed < args.seconds) {
      tracer.detailed = args.trace && (i % 4 == 1 || i % 4 == 2)
      val t0 = System.nanoTime()
      val problems = mutable.ArrayBuffer.empty[String]
      try tracer.op("op", i) { w.op(i) }
      catch { case e: Exception => problems += s"op threw $e" }
      opSeconds += (((System.nanoTime() - t0) / 1e9, tracer.detailed))
      tracer.detailed = false
      if (problems.isEmpty) problems ++= w.check(i)
      w.release(i)
      val leaked = isolate(spark, w.pinnedRdds)
      if (leaked.nonEmpty) problems += s"persisted RDD(s) left behind: ${leaked.mkString("; ")}"
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => println(s"FAILED op $i: $p"))
      }
      i += 1
    }
    mark("report")
    tracer.drain()
    val opSpans = tracer.named("op")
    val shuffle = median(opSpans.map(s => mb(tracer.inclusive(s).shuffleWrite.toDouble)))
    val p50 = median(opSeconds.map(_._1).toSeq)
    w.report.foreach { case (k, v) => println(f"$k $v%.6f") }
    println(s"ops $i op_s ${opSeconds.map(o => f"${o._1}%.3f").mkString(" ")}")

    val metrics: Seq[(String, Double)] =
      if (!args.trace) Seq(
        "setup_s" -> median(setupSeconds.toSeq),
        "op_s_p50" -> p50,
        "shuffle_mb" -> shuffle,
        "quality" -> w.quality)
      else {
        val traced = opSpans.filter(s => opSeconds(s.op)._2)
        val untracedS = median(opSeconds.filterNot(_._2).map(_._1).toSeq)
        val tracedS = median(traced.map(_.seconds))
        val common = Map(
          "spark.jobs" -> median(opSpans.map(s => tracer.inclusive(s).jobs.toDouble)),
          "spark.stages" -> median(opSpans.map(s => tracer.inclusive(s).stages.toDouble)),
          "spark.tasks" -> median(opSpans.map(s => tracer.inclusive(s).tasks.toDouble)),
          "spark.spill_mb" -> median(opSpans.map(s => mb(tracer.inclusive(s).spill.toDouble))),
          "jvm.gc.share" -> median(opSpans.map(s => s.gcMs / 1e3 / s.seconds)),
          "jvm.peak_rss_mb" -> peakRssMb,
          "trace.overhead.share" -> (tracedS - untracedS) / untracedS)
        tracer.detailed = true
        val layers = common ++ w.layerMetrics(tracedS)
        val path = s"${args.work}/../traces/${args.workload}-seed${args.seed}.jsonl"
        new java.io.File(path).getParentFile.mkdirs()
        tracer.writeJsonl(path)
        println(s"trace_spans ${new java.io.File(path).getCanonicalPath}")
        println(f"traced_op_s $tracedS%.4f untraced_op_s $untracedS%.4f")
        perLayer.map { case (k, _) => k -> layers.getOrElse(k, 0.0) }
      }
    val units = (endToEnd ++ perLayer).toMap
    val metricJson = metrics.map { case (k, v) =>
      s"${Json.str(k)}:${Json.obj("value" -> v, "unit" -> units(k))}"
    }.mkString("{", ",", "}")
    mark("end")
    println("timeline_s " + marks.zip(marks.tail).map { case ((phase, from), (_, to)) =>
      f"$phase ${(to - from) / 1e3}%.1f"
    }.mkString(" "))
    println(Json.obj(
      "correct" -> (setupOk && failed == 0),
      "attempted" -> i,
      "failed" -> failed,
      "metrics" -> Json.Raw(metricJson)))
  }

  /** Drops every cached Dataset and every persisted RDD that is not
    * deliberate session state; returns the RDDs that were left behind.
    * Runs a full GC first: Spark tracks persisted RDDs weakly, so a frame
    * the caller no longer references (a local checkpoint the library
    * returned) is collected, and only RDDs something still holds count.
    */
  private def isolate(spark: SparkSession, pinned: Set[Int]): Seq[String] = {
    spark.catalog.clearCache()
    System.gc()
    val leaked = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !pinned.contains(id) }
    leaked.values.foreach(_.unpersist(blocking = true))
    leaked.values.map(_.toString).toSeq
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
