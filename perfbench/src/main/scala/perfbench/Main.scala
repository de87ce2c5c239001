package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.queries.Queries

/** Benchmark driver: one workload, one process, local[nproc].
  *
  * Closed loop with one client: runs go back to back. Set-up (session start,
  * one input generation from the seed and the workload's warm-up runs) is
  * timed on its own. Runs then repeat until `--seconds` have passed:
  * untraced with `--trace 0`, traced with `--trace 1` (run.py pairs a traced
  * invocation with an untraced twin JVM).
  * Every run's outputs are checked after its metrics are read, and
  * everything a run pinned is freed before the next one starts.
  *
  * Prints one `name value unit` line per metric, then a JSON result as the
  * last line of stdout. Exits 1 when any output check failed.
  */
object Main {

  val SettleS = 5.0

  /** Input sizes: small enough that one invocation (JVM start, set-up, one
    * measured run) takes about 55 s (images) or 60 s (suite) on 4 vCPU. At these sizes runs are bound by job count and driver latency.
    */
  val MixedFamilies = 4000
  val DocsSize = Inputs.DocsSize(documents = 1000, embeddings = 600, customers = 1000,
    orders = 8000, linesPerOrder = 4, events = 5000)

  final case class RunRec(wallS: Double, shuffleMb: Double, peakMb: Double,
                          tasks: Seq[Meter.Task], jobs: Int, fromMs: Long, toMs: Long,
                          leakedMb: Double)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", (4 * nproc).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    val meter = new Meter(sc)
    val tracer = new Tracer(sc)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val expected = new java.util.Properties()
    val expFile = new java.io.File("perfbench/expected.properties")
    if (expFile.exists()) {
      val in = new java.io.FileInputStream(expFile)
      try expected.load(in) finally in.close()
    }
    val ctx = Ctx(spark, meter, tracer, seed, s"$work/data", expected)
    val wl: Workload = workload match {
      case "images_mixed" => new Images(ctx, MixedFamilies)
      case "docs_suite" => new Docs(ctx, DocsSize)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer.empty[String]
    def account(o: Outcome): Unit = {
      attempted += o.attempted
      if (o.failures.nonEmpty) failed += math.max(1, math.min(o.attempted, o.failures.size))
      failures ++= o.failures
    }

    val (_, genS) = timed(wl.generate())
    val pinned = sc.getPersistentRDDs.keySet.toSet
    var heldAfter = cleanup(spark, meter, pinned, work, settleTo = Long.MaxValue)

    // Leak guard: held storage may not grow from one run to the next.
    def guard(held: Long): Unit = {
      if (held > heldAfter) {
        val rdds = meter.heldRdds.map { case (id, b) => f"rdd $id ${b / Meter.MB}%.3f MB" }.mkString(", ")
        failures += f"leak: ${held / Meter.MB}%.3f MB held after cleanup, was ${heldAfter / Meter.MB}%.3f MB ($rdds)"
        failed += 1
      }
      heldAfter = math.max(held, heldAfter)
    }

    // Warm-up runs are part of set-up; their outputs are checked all the same.
    val (_, warmS) = timed((1 to wl.warmUps).foreach { _ =>
      val ran = wl.run()
      account(Outcome(ran.wallS, ran.attempted, ran.check()))
      guard(cleanup(spark, meter, pinned, work, heldAfter))
    })
    val setupS = sessionS + genS + warmS

    // Untraced runs (--trace 0) or traced runs (--trace 1), never both: a
    // traced invocation's untraced twin is a separate, equally cold JVM
    // (run.py starts both and reports the difference as tracing overhead).
    val untraced = ArrayBuffer.empty[RunRec]
    val traced = ArrayBuffer.empty[(Double, Map[String, Double])]
    val t1 = System.nanoTime()
    def elapsed = (System.nanoTime() - t1) / 1e9
    while ((untraced.isEmpty && traced.isEmpty) || elapsed < seconds) {
      if (!trace) {
        val mark = meter.mark()
        meter.resetPeak()
        val from = System.currentTimeMillis()
        val ran = wl.run()
        val to = System.currentTimeMillis()
        val tasks = meter.tasksSince(mark)
        val peak = meter.peakBytes
        val jobs = meter.jobsSince(mark).size
        account(Outcome(ran.wallS, ran.attempted, ran.check()))
        val held = cleanup(spark, meter, pinned, work, heldAfter)
        guard(held)
        untraced += RunRec(ran.wallS, Meter.shuffleMb(tasks), peak / Meter.MB, tasks, jobs,
          from, to, held / Meter.MB)
      } else {
        tracer.runId += 1
        val (o, m) = tracer("trace")(wl.tracedRun())
        account(o)
        guard(cleanup(spark, meter, pinned, work, heldAfter))
        traced += ((o.wallS, m))
      }
    }

    val lines = ArrayBuffer.empty[(String, Double, String)]
    if (!trace) {
      val runS = median(untraced.map(_.wallS).toSeq)
      lines += (("run_s", runS, "s"))
      lines += (("images_per_s", wl.inputRows / runS, "rows/s"))
      lines += (("shuffle_mb", median(untraced.map(_.shuffleMb).toSeq), "MB"))
      lines += (("peak_storage_mb", median(untraced.map(_.peakMb).toSeq), "MB"))
      lines += (("setup_s", setupS, "s"))
      // per-layer metrics of the untraced runs, for run.py's traced report
      Metrics.perLayer.filter(k => Metrics.untraced(k._1)).foreach { case (k, u) =>
        println(s"untraced: $k ${median(untraced.map(r => runtimeMetric(k, r, nproc)).toSeq)} $u")
      }
    } else {
      val layerKeys = traced.flatMap(_._2.keys).toSet
      lines ++= Metrics.perLayer.map { case (k, unit) =>
        (k, if (layerKeys(k)) median(traced.map(_._2.getOrElse(k, 0.0)).toSeq) else 0.0, unit)
      }
      lines += (("trace.run_s", median(traced.map(_._1).toSeq), "s"))
      tracer.writeJsonLines(s"${opts("out")}/spans-$workload-seed$seed.jsonl")
    }

    println(s"env: nproc=$nproc mem_total_kb=${memTotalKb()} heap=${opts("heap")} " +
      s"spark=${spark.version} workload=$workload seed=$seed trace=${if (trace) 1 else 0}")
    println(f"runs: untraced=${untraced.size} traced=${traced.size} " +
      f"input_rows=${wl.inputRows} setup: session_s=$sessionS%.4f " +
      f"generate_s=$genS%.4f warmup_s=$warmS%.4f run_walls_s=" +
      (untraced.map(_.wallS) ++ traced.map(_._1)).map(x => f"$x%.3f").mkString(","))
    println(f"error_rate ${failed.toDouble / math.max(1, attempted)}%.6f fraction " +
      s"($failed failed of $attempted attempted)")
    failures.distinct.foreach(f => println(s"FAILED: $f"))
    lines.foreach { case (k, v, u) => println(s"$k $v $u") }
    val metricsJson = lines.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$metricsJson}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def runtimeMetric(k: String, r: RunRec, nproc: Int): Double = {
    val ts = r.tasks
    k match {
      case "runtime.jobs" => r.jobs.toDouble
      case "runtime.tasks" => ts.size.toDouble
      case "runtime.task_s" => Meter.taskS(ts)
      case "runtime.cpu_s" => Meter.cpuS(ts)
      case "runtime.gc_s" => Meter.gcS(ts)
      case "runtime.spill_mb" => Meter.spillMb(ts)
      case "runtime.serial_s" => Meter.idleS(ts, r.fromMs, r.toMs)
      case "runtime.core_util" => Meter.taskS(ts) / (r.wallS * nproc)
      case "runtime.leaked_mb" => r.leakedMb
      case "undecomposed.fingerprints_task_s" => Meter.taskS(ts.filter(_.desc == "graft: stage fingerprints"))
      case "undecomposed.edges_task_s" => Meter.taskS(ts.filter(_.desc == "graft: stage edges"))
      case "undecomposed.clusters_task_s" => Meter.taskS(ts.filter(_.desc == "graft: stage clusters"))
      case "undecomposed.unlabelled_task_s" => Meter.taskS(ts.filter(t => !t.desc.startsWith("graft: stage ")))
    }
  }

  /** Free everything a run pinned, through public API only, and return the
    * RDD-block bytes still held afterwards. getPersistentRDDs holds RDDs
    * weakly: one the run dropped without unpersisting is missing from it,
    * and Spark's ContextCleaner frees its blocks once the object is
    * collected. So a collection is forced and the cleaner gets up to
    * [[SettleS]] to bring held storage down to `settleTo`.
    */
  private def cleanup(spark: SparkSession, meter: Meter, pinned: Set[Int], work: String,
                      settleTo: Long): Long = {
    Queries.freeSharedCaches()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned(id)) rdd.unpersist(blocking = true)
    }
    spark.sql("SHOW VIEWS IN global_temp").collect().foreach { r =>
      if (r.getString(0) == "global_temp") spark.catalog.dropGlobalTempView(r.getString(1))
    }
    deleteTree(new java.io.File(s"$work/data/audit"))
    System.gc()
    val deadline = System.nanoTime() + (SettleS * 1e9).toLong
    while (meter.heldBytes > settleTo && System.nanoTime() < deadline) Thread.sleep(100)
    meter.heldBytes
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def memTotalKb(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }.getOrElse(0L)
}

/** The per-layer metrics a traced run reports, with their units. */
object Metrics {
  private def layer(n: String) = Seq(s"$n.self_s" -> "s", s"$n.task_s" -> "s", s"$n.shuffle_mb" -> "MB")

  val perLayer: Seq[(String, String)] =
    Seq("ingest.self_s" -> "s", "ingest.rows" -> "count", "ingest.read_mb" -> "MB") ++
    Seq("fingerprints.self_s" -> "s", "fingerprints.task_s" -> "s",
      "fingerprints.rows_out" -> "count", "fingerprints.gate_ratio" -> "fraction") ++
    layer("simhash") ++ Seq("simhash.candidates" -> "count", "simhash.pairs" -> "count",
      "simhash.verify_ratio" -> "fraction") ++
    layer("bands") ++ Seq("bands.reps" -> "count", "bands.candidates" -> "count",
      "bands.pairs" -> "count", "bands.verify_ratio" -> "fraction",
      "bands.max_bucket" -> "count", "bands.hot_keys" -> "count") ++
    layer("substring") ++ Seq("substring.candidates" -> "count", "substring.pairs" -> "count",
      "substring.verify_ratio" -> "fraction") ++
    Seq("edges.self_s" -> "s", "edges.pairs" -> "count") ++
    layer("cc") ++ Seq("cc.rounds" -> "count", "cc.jobs" -> "count", "cc.serial_s" -> "s",
      "cc.converged" -> "flag", "stats.self_s" -> "s") ++
    Seq("audit.write_s" -> "s", "audit.write_mb" -> "MB", "audit.stages" -> "count") ++
    Seq("undecomposed.fingerprints_task_s" -> "s", "undecomposed.edges_task_s" -> "s",
      "undecomposed.clusters_task_s" -> "s", "undecomposed.unlabelled_task_s" -> "s") ++
    (Seq("shared_audited", "shared_tiered", "shared_jpairs") ++ Queries.queries.keys.toSeq.sorted)
      .map(q => s"query.${q}_s" -> "s") ++
    Seq("runtime.jobs" -> "count", "runtime.tasks" -> "count", "runtime.task_s" -> "s",
      "runtime.cpu_s" -> "s", "runtime.gc_s" -> "s", "runtime.spill_mb" -> "MB",
      "runtime.serial_s" -> "s", "runtime.core_util" -> "fraction", "runtime.leaked_mb" -> "MB",
      "trace.overhead_s" -> "s")

  /** Metrics taken from the untraced runs rather than the traced ones. */
  def untraced(k: String): Boolean = k.startsWith("runtime.") || k.startsWith("undecomposed.")
}
