package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftConfig, MinHashCore}
import graft.fixtures.SyntheticImages
import graft.model.FingerprintRow
import graft.pipeline.{Audit, Candidates, Clustering, DedupPipeline, Fingerprints, Substring}
import graft.queries.Queries
import graft.sources.ParquetTableIO

import Main.timed

/** What a workload needs from Main: the session, the listener, the
  * span recorder, the seed, a scratch directory inside the checkout and the
  * recorded expected outputs.
  */
final case class Ctx(spark: SparkSession, meter: Meter, tracer: Tracer, seed: Long,
                     dir: String, expected: java.util.Properties) {
  def expect(key: String): Option[String] = Option(expected.getProperty(key))
}

/** One run's result: wall seconds of the timed part, operations attempted,
  * and one message per failed output check.
  */
final case class Outcome(wallS: Double, attempted: Int, failures: Seq[String])

/** The timed part of one untraced run. `check` runs its output checks; it is
  * called after the run's metrics are read, so they exclude the checks.
  */
final case class Ran(wallS: Double, attempted: Int, check: () => Seq[String])

abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark

  /** Input rows of one run (images, or documents for the query suite). */
  def inputRows: Long

  /** Write the run's input from the seed. */
  def generate(): Unit

  /** Untimed runs before the measured ones, counted in set-up. */
  def warmUps: Int

  /** One untraced run, timed from reading the input to counting the last
    * result.
    */
  def run(): Ran

  /** One traced run: spans around each layer call and materialized layer
    * outputs; returns the outcome and this run's per-layer metrics.
    */
  def tracedRun(): (Outcome, Map[String, Double])

  /** xor of xxhash64(id, cluster_id) over every row: order-free digest. */
  protected def clusterDigest(clusters: DataFrame, idCol: String): Long =
    clusters.agg(bit_xor(xxhash64(col(idCol), col("cluster_id")))).head().getLong(0)

  private var firstDigest: Option[Long] = None

  /** The digest must be identical across the runs of one invocation and,
    * where one is recorded for this seed, equal to the recorded value.
    */
  protected def checkDigest(key: String, d: Long, failures: ArrayBuffer[String]): Unit = {
    firstDigest match {
      case Some(f) if f != d => failures += s"$key digest $d differs from first run's $f"
      case None => firstDigest = Some(d)
      case _ =>
    }
    ctx.expect(s"$key.digest").map(_.toLong).filter(_ != d).foreach { e =>
      failures += s"$key digest $d != recorded $e"
    }
  }

  /** Task-side metrics of the jobs a span submitted, plus its self time. */
  protected def layer(run: Int, span: String, tasks: Seq[Meter.Task],
                      jobs: Seq[String]): Map[String, Double] = {
    val ts = tasks.filter(_.span == span)
    val serial = ctx.tracer.windows(run, span).map { case (a, b) => Meter.idleS(tasks, a, b) }.sum
    Map(
      s"$span.self_s" -> ctx.tracer.selfS(run, span),
      s"$span.task_s" -> Meter.taskS(ts),
      s"$span.shuffle_mb" -> Meter.shuffleMb(ts),
      s"$span.jobs" -> jobs.count(_ == span).toDouble,
      s"$span.serial_s" -> serial)
  }
}

/** `images_mixed`: the fixture's image+caption table through the
  * production path: ingest from parquet through TableIO, then the pipeline
  * with an Audit committing each stage into a fresh work root.
  */
final class Images(ctx: Ctx, families: Int) extends Workload(ctx) {
  private val cfg = GraftConfig()
  private val inputRoot = s"${ctx.dir}/input"
  private var runNo = 0
  // image_id -> (family id, kind), from the fixture's truth table
  private var truth: Map[String, (Long, String)] = Map.empty

  def inputRows: Long = truth.size.toLong

  // The first run in a JVM is still compiling: it runs 40-70% longer than
  // the next and varies more with the host's load.
  def warmUps: Int = 1

  def generate(): Unit = {
    val (_, t) = SyntheticImages.materialize(spark, inputRoot, families.toLong, ctx.seed)
    truth = t.select("image_id", "family_id", "kind").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
  }

  private def ingest(): DataFrame = DedupPipeline.ingest(new ParquetTableIO(spark, inputRoot), "images")

  private def newAudit(): Audit = {
    runNo += 1
    new Audit(spark, s"${ctx.dir}/audit/run$runNo", s"bench$runNo")
  }

  /** Count the results the way DedupJob reports them. */
  private def countResults(clusters: DataFrame, stats: DataFrame): Unit = {
    clusters.count()
    stats.count()
    DedupPipeline.dupClusters(clusters).select("cluster_id").distinct().count()
  }

  def run(): Ran = {
    val audit = newAudit()
    val (res, wall) = timed {
      val r = DedupPipeline.run(ingest(), cfg, Some(audit))
      countResults(r.clusters, r.stats)
      r
    }
    Ran(wall, 1, () => check(res.clusters, res.edges))
  }

  private def check(clusters: DataFrame, edges: DataFrame): Seq[String] = {
    val failures = ArrayBuffer.empty[String]
    checkDigest(s"images_mixed.seed${ctx.seed}", clusterDigest(clusters, "image_id"), failures)
    val labels = clusters.select("image_id", "cluster_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    if (labels.size != truth.size)
      failures += s"images_mixed: ${labels.size} labelled rows, expected ${truth.size}"
    checkComponents(labels, edges, failures)
    checkTruth(labels, failures)
    failures.toSeq
  }

  /** Exact and substring families co-cluster, distinct rows never merge
    * across families, every multi-member cluster is drawn from one family
    * (precision 1), and the share of planted families found whole is at
    * least [[Images.DetectionFloor]]; where values are recorded for this
    * seed, detection and precision equal them.
    */
  private def checkTruth(labels: Map[String, String], failures: ArrayBuffer[String]): Unit = {
    val byFamily = truth.groupBy(_._2._1)
    var planted = 0
    var detected = 0
    byFamily.foreach { case (fam, members) =>
      val kind = members.head._2._2
      val ids = members.keys.toSeq
      val together = ids.map(labels.get).distinct.size == 1 && ids.forall(labels.contains)
      if (Set("exact", "near_caption", "near_image", "substring")(kind)) {
        planted += 1
        if (together) detected += 1
      }
      if ((kind == "exact" || kind == "substring") && !together)
        failures += s"images_mixed: $kind family $fam split across clusters"
    }
    val clusters = labels.groupBy(_._2).values.map(_.keys.toSeq)
    // hot_key families share one caption by design: one family for precision
    def famOf(id: String): String = truth(id) match {
      case (_, "hot_key") => "hot"
      case (f, _) => f.toString
    }
    clusters.foreach { ids =>
      if (ids.exists(id => truth(id)._2 == "distinct") && ids.map(famOf).distinct.size > 1)
        failures += s"images_mixed: a distinct row merged across families (${ids.take(4).mkString(",")})"
    }
    val multi = clusters.filter(_.size > 1)
    val pure = multi.count(ids => ids.map(famOf).distinct.size == 1)
    val detection = detected.toDouble / math.max(1, planted)
    val precision = pure.toDouble / math.max(1, multi.size)
    println(s"truth: detection=$detection precision=$precision")
    if (precision != 1.0) failures += s"images_mixed: precision $precision, expected 1.0"
    if (detection < Images.DetectionFloor)
      failures += s"images_mixed: detection $detection below ${Images.DetectionFloor}"
    Seq("detection" -> detection, "precision" -> precision).foreach { case (k, v) =>
      ctx.expect(s"images_mixed.seed${ctx.seed}.$k").map(_.toDouble).filter(_ != v).foreach { e =>
        failures += s"images_mixed: $k $v != recorded $e"
      }
    }
  }

  /** Every cluster_id is the minimum member id of its connected component
    * over the emitted edges (driver-side union-find).
    */
  private def checkComponents(labels: Map[String, String], edges: DataFrame,
                              failures: ArrayBuffer[String]): Unit = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (parent.getOrElse(y, y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.select("a", "b").collect().foreach { e =>
      val (ra, rb) = (find(e.getString(0)), find(e.getString(1)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val bad = labels.count { case (id, cid) => find(id) != cid }
    if (bad > 0) failures += s"images_mixed: $bad rows whose cluster_id is not their component's min id"
  }

  // ---------------------------------------------------------------- traced

  /** Materialize a layer output in memory; the frame keeps its executed plan. */
  private def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def tracedRun(): (Outcome, Map[String, Double]) = {
    val tr = ctx.tracer
    val run = tr.runId
    val mark = ctx.meter.mark()
    val audit = newAudit()
    val m = mutable.Map.empty[String, Double]
    // stage output committed through the Audit, in its own span
    def stage(name: String, df: DataFrame): DataFrame = tr("audit")(audit.stage(name)(df))
    val (res, wall) = timed {
      tr("run") {
        val images = tr("ingest") {
          val df = ingest()
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val fpsDf = stage("fingerprints",
          tr("fingerprints")(mat(Fingerprints.compute(images, cfg).toDF())))
        val fps = fpsDf.as[FingerprintRow](org.apache.spark.sql.Encoders.product[FingerprintRow])
        val sim = tr("simhash")(mat(Candidates.simhashPairs(fps, cfg, cfg.sigmaHigh)
          .withColumn("source", lit("simhash"))))
        val band = tr("bands")(mat(Candidates.bandPairs(fps, cfg, minhashDerived = true)
          .withColumn("source", lit("minhash_band"))))
        val sub = tr("substring")(mat(Substring.substringPairs(
          fpsDf.select(col("image_id"), col("caption_norm"), col("span")), cfg)
          .withColumn("source", lit("substring"))))
        // the edge union exactly as DedupPipeline.run builds it
        val edges = stage("edges", tr("edges")(mat(
          sim.unionByName(band).groupBy("a", "b").agg(min("source").as("source"))
            .unionByName(sub).groupBy("a", "b").agg(min("source").as("source")))))
        val cc = tr("cc")(Clustering.connectedComponents(fps.toDF().select("image_id"), edges))
        val clusters = stage("clusters", tr("cc")(mat(cc.labels)))
        val stats = stage("cluster_stats", tr("stats")(mat(Clustering.clusterStats(clusters, fpsDf))))
        countResults(clusters, stats)
        (clusters, edges, fpsDf, sim, band, sub, cc)
      }
    }
    val (clusters, edges, fpsDf, sim, band, sub, cc) = res
    val fps = fpsDf.as[FingerprintRow](org.apache.spark.sql.Encoders.product[FingerprintRow])
    m("ingest.rows") = inputRows.toDouble
    m("fingerprints.rows_out") = fpsDf.count().toDouble
    m("simhash.pairs") = sim.count().toDouble
    m("bands.pairs") = band.count().toDouble
    m("substring.pairs") = sub.count().toDouble
    m("edges.pairs") = edges.count().toDouble
    m("cc.rounds") = cc.iterations.toDouble
    m("cc.converged") = if (cc.converged) 1.0 else 0.0
    val failures = check(clusters, edges)
    // Bucket sizes and candidate counts, re-derived outside the timed spans
    // from the engine's public bucket functions on the same fingerprints.
    tr("derive")(derive(fps, m))
    val tasks = ctx.meter.tasksSince(mark)
    val jobs = ctx.meter.jobsSince(mark)
    Seq("ingest", "fingerprints", "simhash", "bands", "substring", "edges", "cc", "stats")
      .foreach(s => m ++= layer(run, s, tasks, jobs))
    m("ingest.read_mb") = Meter.readMb(tasks.filter(_.span == "ingest"))
    m("fingerprints.gate_ratio") = m("fingerprints.rows_out") / math.max(1.0, inputRows.toDouble)
    m("simhash.verify_ratio") = m("simhash.rep_pairs") / math.max(1.0, m("simhash.candidates"))
    m("bands.verify_ratio") = m("bands.rep_pairs") / math.max(1.0, m("bands.candidates"))
    m("substring.verify_ratio") = m("substring.pairs") / math.max(1.0, m("substring.candidates"))
    m("audit.write_s") = tr.wallS(run, "audit")
    m("audit.write_mb") = Meter.writeMb(tasks.filter(_.span == "audit"))
    m("audit.stages") = tr.ofRun(run).count(_.name == "audit").toDouble
    (Outcome(wall, 1, failures), m.toMap)
  }

  /** Candidate counts before verification, bucket sizes and hot keys, from
    * the engine's public collapse, MinHash and bucket self-join functions.
    */
  private def derive(fps: org.apache.spark.sql.Dataset[FingerprintRow],
                     m: mutable.Map[String, Double]): Unit = {
    val sp = spark
    import sp.implicits._
    val cap = cfg.hotBucketCap
    // simhash: the pass's collapse, its block keys, the bucket self-join
    val narrow = fps.toDF().select(col("image_id"), col("simhash"), col("simhash_lo"),
      col("span"), col("group"))
    val (simReps, simStar) = Candidates.collapseExact(narrow,
      Seq("simhash", "simhash_lo", "span", "group"))
    val blocks = (0 until cfg.nBlocks).map { i =>
      val lo = (i * 64) / cfg.nBlocks
      val width = ((i + 1) * 64) / cfg.nBlocks - lo
      struct(lit(i).as("blockIdx"),
        shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1L)).as("blockVal"))
    }
    val simKeyed = simReps.select(col("image_id"), explode(array(blocks: _*)).as("k"))
      .select(col("image_id"), col("k.blockIdx"), col("k.blockVal"))
    m("simhash.candidates") =
      Candidates.bucketSelfJoin(simKeyed, Seq("blockIdx", "blockVal"), cap).count().toDouble
    m("simhash.rep_pairs") = m("simhash.pairs") - simStar.count()
    // bands: identical gram sets collapse, then band keys per representative
    val (reps, star) = Candidates.collapseExact(fps.toDF().select("image_id", "grams"), Seq("grams"))
    val (k, rpb, seed) = (cfg.minhashK, cfg.rowsPerBand, cfg.seed)
    val bandKeyed = reps.select(col("image_id"), col("grams")).as[(String, Array[Long])]
      .mapPartitions { it =>
        val perms = MinHashCore.permutations(k, seed)
        it.map { case (id, g) =>
          (id, MinHashCore.bandHashes(MinHashCore.signature(g, 0, g.length, perms), rpb))
        }
      }.toDF("image_id", "bandhashes")
      .select(col("image_id"), posexplode(col("bandhashes")).as(Seq("bandIdx", "bandKey")))
      .localCheckpoint(true)
    m("bands.reps") = reps.count().toDouble
    m("bands.candidates") =
      Candidates.bucketSelfJoin(bandKeyed, Seq("bandIdx", "bandKey"), cap).count().toDouble
    m("bands.rep_pairs") = m("bands.pairs") - star.count()
    val sizes = bandKeyed.groupBy("bandIdx", "bandKey").count()
      .agg(max("count"), sum(when(col("count") > cap, 1).otherwise(0))).head()
    m("bands.max_bucket") = sizes.getLong(0).toDouble
    m("bands.hot_keys") = sizes.getLong(1).toDouble
    // substring: anchor-gram join before the containment verify
    val kk = cfg.shingleK
    val rows = fps.toDF().select(col("image_id"), col("caption_norm"), col("span"))
    val widthMask = rows.filter(col("span") > cfg.minSpan)
      .select(least(lit(kk), size(split(col("caption_norm"), " "))).as("w")).distinct()
      .collect().map(_.getInt(0)).foldLeft(0)((acc, w) => acc | (1 << (w - 1)))
    val anchors = rows.filter(col("span") > cfg.minSpan).select(
      graft.functions.GraftExpressions.leadingGramKey(spark, col("caption_norm"), kk).as("gram_key"))
    val hay = rows.select(explode(graft.functions.GraftExpressions
      .wordGramKeys(spark, col("caption_norm"), kk, widthMask)).as("gram_key"))
    m("substring.candidates") =
      if (widthMask == 0) 0.0 else anchors.join(hay, "gram_key").count().toDouble
  }
}

object Images {
  /** Least share of planted near-duplicate families found whole, on any seed. */
  val DetectionFloor = 0.95
}

/** `docs_suite`: every query of the suite, one pass per run, on tables the
  * benchmark writes once. The shared frames are built first, each timed on
  * its own; the seed sets the order of the queries after them.
  */
final class Docs(ctx: Ctx, size: Inputs.DocsSize) extends Workload(ctx) {
  private val tables = s"${ctx.dir}/docs"
  private var pass = 0
  private val shared = Seq(
    "query.shared_audited" -> "dedup_clusters",
    "query.shared_tiered" -> "dedup_clusters_tiered",
    "query.shared_jpairs" -> "dedup_ngram_jaccard")

  def inputRows: Long = size.documents.toLong

  // A pass takes about 45 s; a second one per invocation does not fit the
  // benchmark's time budget, so the measured pass is the JVM's first.
  def warmUps: Int = 0

  def generate(): Unit = Inputs.writeDocsTables(spark, tables, size)

  /** Row count. The order-free hash over every column is computed with it
    * so that every output column of the query is evaluated.
    */
  private def evaluate(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)

  private def order(): Seq[String] = {
    pass += 1
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Queries.queries.keys.toSeq.sorted)
  }

  /** One timed pass; returns its wall time and the checks of its outputs. */
  private def onePass(span: String => (=> Any) => Any): Ran = {
    val names = order()
    val counts = mutable.Map.empty[String, Long]
    var clusters: DataFrame = null
    val (_, wall) = timed {
      shared.foreach { case (s, q) => span(s)(Queries.queries(q)(spark, tables)) }
      names.foreach { q =>
        span(s"query.$q") {
          val df = Queries.queries(q)(spark, tables)
          if (q == "dedup_clusters") clusters = df
          counts(q) = evaluate(df)
        }
      }
    }
    Ran(wall, Queries.queries.size, () => {
      val failures = ArrayBuffer.empty[String]
      names.foreach { q =>
        ctx.expect(s"docs_suite.rows.$q").map(_.toLong).filter(_ != counts(q)).foreach { e =>
          failures += s"docs_suite: $q returned ${counts(q)} rows, recorded $e"
        }
      }
      checkDigest("docs_suite", clusterDigest(clusters, "doc_id"), failures)
      failures.toSeq
    })
  }

  def run(): Ran = onePass(_ => f => f)

  def tracedRun(): (Outcome, Map[String, Double]) = {
    val tr = ctx.tracer
    val run = tr.runId
    val mark = ctx.meter.mark()
    val ran = tr("run")(onePass(s => f => tr(s)(f)))
    val tasks = ctx.meter.tasksSince(mark)
    val m = mutable.Map.empty[String, Double]
    (shared.map(_._1) ++ Queries.queries.keys.map("query." + _)).foreach { s =>
      m(s + "_s") = tr.wallS(run, s)
    }
    val auditTasks = tasks.filter(_.span == "query.shared_audited")
    m("audit.write_mb") = Meter.writeMb(auditTasks)
    (Outcome(ran.wallS, ran.attempted, ran.check()), m.toMap)
  }
}
