package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftFrames}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Iterative Dataset-based connected components (hash-partitioned min-label
  * propagation) — the scalable replacement for the reference's in-memory
  * disjoint set (/root/reference/CloneSet.cpp:22-84; SURVEY.md §7.1.3).
  *
  * Correctness argument for recall (SURVEY.md §7.1.3): the reference only
  * unions verified pairs, so every reference co-cluster pair is connected by
  * verified edges; CC over the full verified-edge set therefore reproduces
  * every reference co-cluster relation → dup-pair recall 1.0 by construction.
  *
  * Labels are the STRING image_id itself (component label = lexicographic
  * min member id). Identity is collision-free by construction — no 64-bit
  * hash stands in for a 10^12-row key space, where the birthday bound gives
  * tens of thousands of colliding pairs, each a silent cluster merge.
  *
  * Algorithm: each round (1) propagates the min label across edges in both
  * directions, then (2) path-compresses: since every label IS a vertex id,
  * a vertex can jump to its current label's label — convergence in
  * O(log diameter) rounds instead of O(diameter). Each batch of rounds is
  * one materialization whose changed-label count is observed by that same
  * job; all data stays distributed.
  */
object Clustering {

  /** @param labels    (image_id, cluster_id: string = min member image_id);
    *                  lazy — its plan reads the `blocks` below
    * @param iterations rounds run
    * @param converged  false iff maxIter was hit with labels still changing —
    *                   the component partition may then be SPLIT (never
    *                   over-merged); callers must surface this
    *                   ([[requireConverged]]).
    * @param blocks     persisted-RDD ids backing `labels` (the id dictionary
    *                   and the final label batch): the caller frees them with
    *                   [[Blocks.free]] once it has materialized the labels
    */
  final case class CCResult(labels: DataFrame, iterations: Int, converged: Boolean,
                            blocks: Set[Int])

  /** Throws unless `cc` converged: a component cut off at maxIter may be
    * returned split, which loses recall without any other visible sign.
    */
  def requireConverged(cc: CCResult, what: String): Unit =
    if (!cc.converged)
      throw new IllegalStateException(s"$what: connected components did NOT converge " +
        s"in ${cc.iterations} rounds — components may be returned split")

  /** Observation names: rows of the symmetric edge set, and the batch
    * probe's changed-label count.
    */
  private val SymRows = "graft_cc_sym_rows"
  private val ProbeChanged = "graft_cc_probe_changed"

  /** @param edges  (a, b) string-id pairs, each pair once in either order
    * @param vertices single-column "image_id" frame of ALL rows to label
    *                 (singletons keep their own label)
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 30): CCResult = {
    requireStringIds(vertices, "vertex", "image_id")
    requireStringIds(edges, "edge", "a", "b")
    val spark = edges.sparkSession
    // blocks made here: `kept` backs the returned labels (dict + the current
    // batch), `symIds` only the loop. Superseded batches are freed as the
    // loop goes; on failure `kept` is freed too.
    var kept = Set.empty[Int]
    var symIds = Set.empty[Int]
    try {
      // Dense-long label space (round-6; round-5 JFR named UTF8String
      // materialization in these joins as the top remaining allocation site,
      // and allocation churn is the box's measured multi-thread contention
      // driver — BENCH.md §hardware). Edge-incident ids are dictionary-encoded
      // ONCE into longs; every per-round join/aggregation then moves
      // (bigint, bigint) rows instead of string pairs.
      //
      // The rid preserves string order: after a range-partitioned sort every
      // key of partition i sorts below every key of partition i+1, and
      // `monotonically_increasing_id` is (partition index << 33) + row index.
      // The ids are computed once, by the materialization below, so every
      // later reader sees the same assignment. ORDER-PRESERVING encoding is
      // load-bearing twice over: (1) min-rid ≡ min-string-id, so decoded
      // labels are bit-identical to the string implementation
      // (CCConvergenceSpec pins cluster_id = min member id); (2) the loop's
      // state trajectory is comparison-only, so an order-preserving encoding
      // makes every batch isomorphic to the string run — same batch count,
      // same probe behavior. (A scrambled assignment was measured to break
      // the pointer-jump acceleration on long chains: a 300-vertex path
      // needed O(diameter) batches instead of O(log), and each batch's
      // checkpoint inherits the plan's estimated size, so the estimates
      // compound per batch into BigInts that stall the optimizer.)
      val dict = {
        val (d, ids) = Blocks.materialize(edges.select(col("a").as("id"))
          .unionByName(edges.select(col("b").as("id")))
          .distinct()
          .orderBy("id")
          .withColumn("rid", monotonically_increasing_id()))
        kept = ids
        d
      }

      // `sym` is re-read by every propagate of every batch, so it is
      // materialized once; the same job observes its row count, which
      // decides the empty-edge exit below without a job of its own.
      val longEdges = edges
        .join(dict.select(col("id").as("a"), col("rid").as("ra")), Seq("a"))
        .join(dict.select(col("id").as("b"), col("rid").as("rb")), Seq("b"))
        .select(col("ra"), col("rb"))
      val symPlan = longEdges.select(col("ra").as("src"), col("rb").as("dst"))
        .unionByName(longEdges.select(col("rb").as("src"), col("ra").as("dst")))
        .repartition(col("src"))
        .observe(SymRows, count(lit(1)))
      val sym = {
        val (d, ids) = Blocks.materialize(symPlan)
        symIds = ids
        d
      }

      // Round-6 floor cut: with AQE on, EVERY exchange in a batch is its own
      // query-stage job with driver/replan turnaround — ~15 stage-jobs per
      // batch of tiny checkpoint-backed CC frames, pure serial-floor latency
      // that does not shrink with cores. The loop therefore runs in a CHILD
      // session (same SparkContext, own SQLConf — no conf set/restore races
      // with concurrently-running tier CCs) with AQE off, so one batch is ONE
      // job with all its stages pipelined by the DAG scheduler. What AQE was
      // providing the loop is replaced explicitly: (a) runtime partition
      // coalescing → a static shuffle width derived from the materialized
      // sym's OWN partition count (AQE already coalesced that exchange to a
      // data-proportional width; floored for multi-core parallelism) —
      // scale-adaptive, not a tuned constant; (b) dynamic broadcast — not
      // applicable: the loop's joins are label-frame ⋈ label-frame/sym, both
      // sides checkpoint-backed with only product-inflated inherited size
      // estimates, so AQE never broadcast them here anyway (and at scale they
      // are not broadcastable). The candidate generators and everything else
      // keep AQE (fully off was measured 3x worse in round 5 — dynamic
      // broadcasts there are load-bearing).
      val loopSession = spark.newSession()
      loopSession.conf.set("spark.sql.adaptive.enabled", "false")
      loopSession.conf.set("spark.sql.shuffle.partitions", math.max(
        sym.rdd.getNumPartitions,
        math.min(16, spark.sparkContext.defaultParallelism)).toString)
      // sym's own plan in the loop session: same checkpoint blocks, no data
      // conversion, nothing registered that a failure could leak
      val symLoop = GraftFrames.inSession(sym, loopSession)

      // Only vertices incident to an edge participate in propagation; the
      // (overwhelmingly more numerous, at production dup rates) singletons
      // keep their own label and never enter the loop. Every dict id labels
      // itself to start: one scan of the checkpointed dict (bridged into the
      // loop session like sym), which backs the returned labels anyway.
      var labels = GraftFrames.inSession(dict, loopSession)
        .select(col("rid").as("vid"), col("rid").as("label"))

      var iter = 0
      // Empty edge set → nothing propagates: no batch runs. Not just a test
      // nicety — the tiered surface runs one CC per tier and the reference
      // ships sigma_normal = -1 (an ALWAYS-empty normal tier).
      var converged = observed(symPlan, SymRows) == 0
      // blocks of the superseded batch — freed as soon as the next batch is
      // materialized (the next batch's plan scans its OWN checkpoint, so the
      // previous blocks are unreferenced from that point on). The FINAL
      // batch's blocks back the returned labels and stay in `kept`.
      var prevIds = Set.empty[Int]
      while (!converged && iter < maxIter) {
        val plan = batch(symLoop, labels)
        val (next, nextIds) = Blocks.materialize(plan)
        kept ++= nextIds
        Blocks.free(spark, prevIds)
        kept --= prevIds
        prevIds = nextIds
        labels = next.select("vid", "label")
        converged = observed(plan, ProbeChanged) == 0
        iter += 3 // two full rounds + the probe propagate per batch
      }
      // sym is only referenced inside the loop rounds (freed on return); the
      // returned plan bottoms out at `kept` (the final batch's checkpoint and
      // the dict the decode joins below read) + the caller's vertices.
      // Decode + re-attach: rids back to ids with two dict joins — the label
      // rid IS the min member's rid, so its decoded id IS the min member id
      // (order-preserving encoding) — and every non-edge input vertex labels
      // itself (singleton clusters).
      val mapped = labels
        .join(dict.select(col("rid").as("vid"), col("id").as("image_id")), Seq("vid"))
        .join(dict.select(col("rid").as("label"), col("id").as("cluster_id")), Seq("label"))
        .select("image_id", "cluster_id")
      val out = vertices
        .select(col("image_id"))
        .join(mapped, Seq("image_id"), "left")
        .select(col("image_id"), coalesce(col("cluster_id"), col("image_id")).as("cluster_id"))
      CCResult(out, iter, converged, kept)
    } catch {
      case e: Throwable => Blocks.free(spark, kept); throw e
    } finally Blocks.free(spark, symIds)
  }

  /** One BATCH over `sym` (src, dst; both directions) and `labels`
    * (vid, label): two full rounds of (propagate, jump, jump) plus a final
    * convergence-probe propagate, as (vid, prev, label) — `prev` is the
    * label the probe started from. The probe's changed-label count is
    * observed by the job that materializes the frame.
    *
    * Rationale: every driver barrier is fixed latency that does not shrink
    * with cores; labels shrink ~16x in distance per batch (2 rounds x jump
    * x2), so almost all corpora converge in one batch — and the in-batch
    * probe PROVES it without a second full batch.
    *
    * Probe soundness (why propagate-stability == full convergence): labels
    * only ever decrease, stay within the vertex's own component, and
    * label(v) <= v, so the component min m always keeps label(m) = m. If a
    * propagate changes nothing, then nmin(v) >= label(v) for every v;
    * walking any path m = x0 - x1 - ... - xk: nmin(x1) <= label(m) = m and
    * label(x1) <= nmin(x1) give label(x1) = m, and inductively every label
    * in the component equals m. Uniform root labels also make both jumps
    * no-ops — nothing in a further batch could change any label. The loop
    * tests only changed == 0: a retried task re-adds only its own count, so
    * a non-zero total never becomes zero.
    *
    * Plan size (the plan-explosion gotcha): the logical plan is built,
    * analyzed and optimized on the driver before the batch job can start,
    * so its size is driver time no task overlaps. `propagate` reads its
    * input ONCE — each joined (src, dst, label) row contributes (dst, label)
    * to its neighbour and (src, label) to itself, then one min-fold per
    * vertex — and only `jump`'s self-join reads its input twice, so the
    * plan grows linearly in the batch's operations instead of doubling per
    * operation (CCConvergenceSpec bounds its node count). The `sym` and
    * label scans are checkpoints, so the plan stays this size in every
    * batch.
    */
  private[graft] def batch(sym: DataFrame, labels: DataFrame): DataFrame = {
    def contributions(d: DataFrame): DataFrame = sym
      .join(d.select(col("vid").as("src"), col("label")), "src")
      .select(explode(array(
        struct(col("dst").as("vid"), col("label"), lit(false).as("self")),
        struct(col("src").as("vid"), col("label"), lit(true).as("self")))).as("c"))
      .select("c.*")
    def propagate(d: DataFrame): DataFrame =
      contributions(d).groupBy("vid").agg(min("label").as("label"))
    // the probe's own min-fold is still applied — probe work is never thrown
    // away; `prev` is the vertex's own contribution, i.e. its incoming label
    def propagateProbe(d: DataFrame): DataFrame =
      contributions(d).groupBy("vid")
        .agg(min(when(col("self"), col("label"))).as("prev"), min("label").as("label"))
    def jump(d: DataFrame): DataFrame = d
      .join(d.select(col("vid").as("label"), col("label").as("ll")), Seq("label"), "left")
      .select(col("vid"), least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
    def round(d: DataFrame): DataFrame = jump(jump(propagate(d)))
    propagateProbe(round(round(labels)))
      .observe(ProbeChanged, count_if(col("label") =!= col("prev")))
  }

  /** The count `name` observed by the job that materialized `df`. A missing
    * observation throws: read as 0 it would declare the loop converged.
    */
  private def observed(df: DataFrame, name: String): Long =
    df.queryExecution.observedMetrics.get(name) match {
      case Some(row) => row.getLong(0)
      case None => throw new IllegalStateException(
        s"connectedComponents: the materializing job reported no '$name' observation")
    }

  private def requireStringIds(df: DataFrame, what: String, cols: String*): Unit =
    cols.foreach { c =>
      val t = df.schema(c).dataType
      require(t == StringType, s"connectedComponents: $what id column '$c' is " +
        s"${t.simpleString}; ids must be strings (cast them first)")
    }

  /** Cluster statistics (SURVEY.md §2.5 A2): per-cluster member count and
    * span stats — analogue of CloneSetSInfo min/max/avg/total
    * (/root/reference/CloneSet.cpp:292-322).
    */
  def clusterStats(clusters: DataFrame, fps: DataFrame): DataFrame =
    clusters.join(fps.select("image_id", "span"), "image_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min("span").as("min_span"), max("span").as("max_span"),
        avg("span").as("avg_span"), sum("span").as("total_span"))

  /** Cluster-size histogram (A3): size → number of clusters, analogue of
    * nblockAmountMap/hblockAmountMap (/root/reference/CloneSet.cpp:172-231).
    */
  def sizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** Two-tier clustering surface (reference high-sim vs normal-sim clone-set
    * lists, /root/reference/CloneSet.cpp:86-165, CloneSet.h:59-92): one
    * component run per (tier, edge set), stacked with a `tier` column. The
    * shipped reference config has sigma_normal = -1 (normal tier matches
    * nothing — dif_config.txt:3); callers pass a positive sigma to light the
    * tier up. Tier-split size histogram = groupBy(tier, size) downstream.
    *
    * Returns the stacked labels MATERIALIZED: the frame reads only its own
    * checkpoint, and every tier's CC blocks are freed before returning.
    *
    * Tiers run CONCURRENTLY from driver threads (guide §2.6): each tier's
    * CC is an independent chain of small jobs whose cost is dominated by
    * driver/AQE barrier latency, not task work (round-6 probe: ~36 jobs and
    * ~3-10 task-core-s per tier at sf0.1) — overlapping them hides one
    * tier's barriers behind the other's, and the later tier's tasks
    * back-fill the earlier tier's idle cores. Safe because [[Blocks]]
    * attributes checkpoint blocks from the frame's own plan
    * (thread-confined), and Spark's scheduler handles concurrent actions
    * from one driver natively. Every tier finishes before anything is freed
    * or rethrown, so a failing tier cannot strand the other tier's blocks.
    */
  def tieredClusters(vertices: DataFrame, edgesByTier: Seq[(String, DataFrame)]): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(edgesByTier.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val runs = try {
      edgesByTier.map { case (tier, edges) => Future(tier -> connectedComponents(vertices, edges)) }
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    } finally pool.shutdown()
    try {
      val stacked = runs.map(_.get).map { case (tier, cc) =>
        requireConverged(cc, s"tieredClusters: tier '$tier'")
        cc.labels.withColumn("tier", lit(tier))
      }.reduce(_.unionByName(_))
      Blocks.materialize(stacked)._1
    } finally Blocks.free(vertices.sparkSession, runs.flatMap(_.toOption).flatMap(_._2.blocks))
  }
}
