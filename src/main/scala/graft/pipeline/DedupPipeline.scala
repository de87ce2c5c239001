package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftConfig
import graft.model.FingerprintRow

/** End-to-end near-duplicate detection + clustering job (SURVEY.md §3.4):
  *
  *   read → validate/normalize → per-row fingerprint (narrow)
  *        → candidate self-joins (simhash bit-blocks ∪ minhash bands)
  *        → verify (Hamming / Jaccard) → union+dedup
  *        → connected components → cluster stats → sinks + audit.
  *
  * Every stage is DataFrame/Dataset algebra (no RDDs); the only driver-side
  * loop is the CC iteration barrier. Input contract is BASELINE.json
  * `input_hint`'s image table; `run` also accepts any table exposing
  * (image_id, caption, phash) — e.g. the documents corpus with a derived
  * phash — because the pipeline never touches pixel bytes after validation.
  */
object DedupPipeline {

  /** Ingest + validity filter (SURVEY.md §2.2 F1): non-null id/caption and,
    * when a bytes column exists, non-null payload. Column pruning: callers
    * select only what they need downstream; the fingerprint stage reads
    * (image_id, caption, phash) and never `bytes`.
    */
  def ingest(spark: SparkSession, path: String): DataFrame = valid(spark.read.parquet(path))

  /** Seam-routed ingest: same validity filter, table resolved through
    * [[graft.sources.TableIO]] (Iceberg-shaped at scale, parquet here).
    */
  def ingest(io: graft.sources.TableIO, table: String): DataFrame = valid(io.read(table))

  private def valid(df: DataFrame): DataFrame = {
    val withBytes =
      if (df.columns.contains("bytes")) df.filter(col("bytes").isNotNull) else df
    withBytes.filter(col("image_id").isNotNull && col("caption").isNotNull)
  }

  /** Row-level resume filter (SURVEY.md §2.2 F2): drop rows whose ids are
    * already in the committed output — the analogue of the reference's
    * file-mask skip (/root/reference/Main.cpp:199-204). Left-anti join; at
    * scale Catalyst plans it as a broadcast or shuffled anti join depending
    * on the committed side's size.
    */
  def resumeFilter(images: DataFrame, doneIds: DataFrame): DataFrame =
    images.join(doneIds.select(col("image_id")).distinct(), Seq("image_id"), "left_anti")

  final case class Result(
      fingerprints: Dataset[FingerprintRow],
      edges: DataFrame,     // (a, b, source)
      clusters: DataFrame,  // (image_id, cluster_id) — every fingerprinted row
      stats: DataFrame,     // per-cluster stats
      ccIterations: Int
  )

  /** Run on an already-loaded image frame. When `audit` is given, every
    * stage is checkpointed + resumable.
    */
  def run(images: DataFrame, cfg: GraftConfig, audit: Option[Audit] = None,
          groupCol: Option[String] = None): Result = {
    val spark = images.sparkSession
    import spark.implicits._

    // Stage materialization: with an Audit, stages write to parquet (the
    // resumable checkpoint — which also truncates lineage; THE production
    // default at scale). Without one, stages are materialized eagerly: this
    // both pins the data (no recompute across downstream actions) and
    // REPLACES the logical plan with a scan of the materialized RDD —
    // essential, because the candidate generators reference each stage
    // several times (cold/hot branches, collapse star, two LSH paths) and
    // nesting the full upstream DAG into every branch makes Catalyst
    // analysis time explode. Failure-recovery semantics of the no-audit
    // path: with sparkContext.setCheckpointDir configured, stages go to the
    // RELIABLE checkpoint store and survive executor loss; bare local mode
    // falls back to localCheckpoint (executor-resident blocks — fine in a
    // single-JVM sandbox, NOT the cluster default).
    def staged(name: String)(f: => DataFrame): DataFrame = {
      // job labels (guide §1.5) — make the UI/event log attributable; the
      // caller's own label comes back even when the stage throws
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graft: stage $name")
      try audit.map(_.stage(name)(f)).getOrElse(Blocks.materialize(f)._1)
      finally sc.setJobDescription(outer)
    }

    val fpsDf = staged("fingerprints") {
      Fingerprints.compute(images, cfg, groupCol).toDF()
    }
    val fps = fpsDf.as[FingerprintRow]

    val edges = staged("edges") {
      val base = Candidates.allCandidates(fps, cfg)
      if (cfg.substringPass) {
        // J5: exact word-aligned caption-substring pairs (anchor-gram join),
        // fed from the fingerprint stage's carried caption_norm — ONE
        // normalization pass and no second scan of the raw captions (the
        // stage checkpoint is the substring pass's input). Feeding gated
        // rows is lossless: an emitted pair needs a_span > minSpan (anchor
        // gate) and a_span < b_span, so both endpoints pass the stage gate.
        val rows = fpsDf.select(col("image_id"), col("caption_norm"), col("span"))
        base
          .unionByName(Substring.substringPairs(rows, cfg)
            .withColumn("source", lit("substring")))
          .groupBy("a", "b").agg(min("source").as("source"))
      } else base
    }

    // the CC labels are lazy over CC's own blocks: freed once the stage has
    // materialized them (or failed). Non-convergence is logged, then fails
    // the stage: labels cut off at maxIter may split a component.
    var ccIters = -1
    var ccBlocks = Set.empty[Int]
    val clusters = try staged("clusters") {
      val cc = Clustering.connectedComponents(fps.toDF().select("image_id"), edges)
      ccIters = cc.iterations
      ccBlocks = cc.blocks
      audit.foreach(_.log("cc_iterations", cc.iterations.toLong, 0L, committed = false,
        detail = s"label propagation ${if (cc.converged) "converged" else "DID NOT CONVERGE"}" +
          s" in ${cc.iterations} rounds"))
      Clustering.requireConverged(cc, "DedupPipeline")
      cc.labels
    } finally Blocks.free(spark, ccBlocks)

    // Terminal aggregation over two already-materialized scans: staging it
    // would add a whole extra job to every run for no reuse benefit — with
    // an Audit it still commits (resume contract); otherwise it stays lazy
    // and computes on first access.
    val stats = audit.map(a => a.stage("cluster_stats") {
      Clustering.clusterStats(clusters, fpsDf)
    }).getOrElse(Clustering.clusterStats(clusters, fpsDf))

    // S5 debug dump sinks (flag-gated; reference fingerprints.txt /
    // cset_info.txt analogues, /root/reference/EigenWord.cpp:47-69,
    // CloneSet.cpp:174-177): queryable tables through the TableIO seam
    // instead of driver-local text files — per-row fingerprint listing and
    // per-member clone-set listing (multi-member sets only, like the
    // reference which never prints singletons). Flat rows, no collect —
    // scales like any other stage output.
    if (cfg.debugDump) audit.foreach { a =>
      // 128-bit mode: full 32-char fingerprint (hi ++ lo) — hexing only the
      // hi word would make the dump lossy vs the reference's fingerprints.txt
      val hexHi = lpad(hex(col("simhash")), 16, "0")
      val hexFp = (if (cfg.bits == 128)
        concat(hexHi, lpad(hex(col("simhash_lo")), 16, "0"))
      else hexHi).as("simhash_hex")
      a.stage("debug_fingerprints") {
        fpsDf.select(col("image_id"), hexFp, col("span"),
          size(col("grams")).as("n_grams"), col("group"))
      }
      a.stage("debug_cluster_info") {
        dupClusters(clusters)
          .join(fpsDf.select(col("image_id"), hexFp, col("span")), "image_id")
          .select("cluster_id", "cluster_size", "image_id", "simhash_hex", "span")
      }
    }

    val iters =
      if (ccIters >= 0) ccIters
      else audit.flatMap { a => // resumed run: closure skipped, read the ledger
        scala.util.Try(a.auditRows().filter(col("stage") === "cc_iterations")
          .agg(max("rows_out")).head().getLong(0).toInt).toOption
      }.getOrElse(-1)

    Result(fps, edges, clusters, stats, iters)
  }

  /** Multi-member duplicate clusters only (the reference reports clone SETS,
    * /root/reference/CloneSet.cpp:170-328; singletons are not clones).
    */
  def dupClusters(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes.filter(col("cluster_size") > 1), "cluster_id")
      .select("image_id", "cluster_id", "cluster_size")
  }
}
