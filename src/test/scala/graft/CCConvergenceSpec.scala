package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Blocks, Clustering}

/** Convergence semantics of the in-batch probe (Clustering.scala): a batch's
  * final propagate-probe declares convergence iff no label moved — sound
  * because propagate-stability implies fully-uniform component labels (see
  * the proof in the scaladoc). These tests pin the endpoint label = MIN
  * member id on shapes that stress the probe:
  *  - a deep path graph (diameter >> one batch's compression reach, so
  *    multiple batches must run and the probe must NOT fire early);
  *  - a star + disjoint families (converges in one batch — the probe saves
  *    the old confirmation batch);
  *  - empty edges (zero-batch exit);
  *  - a deep path cut off at maxIter (the probe must report labels still
  *    moving, and the convergence check must fail).
  */
class CCConvergenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ids(n: Int): Seq[String] = (0 until n).map(i => f"v$i%04d")

  private def runCC(vertexIds: Seq[String], edgePairs: Seq[(String, String)],
                    maxIter: Int = 30) = {
    import spark.implicits._
    val verts = vertexIds.toDF("image_id")
    val edges = edgePairs.toDF("a", "b")
    Clustering.connectedComponents(verts, edges, maxIter)
  }

  private def path(vs: Seq[String]) = vs.sliding(2).map(s => (s(0), s(1))).toSeq

  test("deep 300-vertex path: multiple batches, labels = global min") {
    val vs = ids(300)
    val cc = runCC(vs, path(vs))
    assert(cc.converged, "path graph must converge before maxIter")
    val labels = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
    assert(labels.length === 300)
    assert(labels.forall(_._2 == "v0000"),
      s"non-min labels: ${labels.filter(_._2 != "v0000").take(5).toSeq}")
    assert(cc.iterations > 3, "a 300-path cannot converge in a single batch")
  }

  test("deep 300-vertex path cut off at maxIter: not converged, and the check throws") {
    val vs = ids(300)
    val cc = runCC(vs, path(vs), maxIter = 3)
    try {
      assert(cc.iterations === 3)
      assert(!cc.converged, "one batch cannot settle a 300-path: the probe must see labels move")
      val e = intercept[IllegalStateException](Clustering.requireConverged(cc, "path"))
      assert(e.getMessage.contains("path") && e.getMessage.contains("3 rounds"), e.getMessage)
    } finally Blocks.free(spark, cc.blocks)
  }

  test("one batch's analyzed plan stays small (no per-operation doubling)") {
    import spark.implicits._
    val sym = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val labels = Seq((0L, 0L), (1L, 1L)).toDF("vid", "label")
    val plan = Clustering.batch(sym, labels).queryExecution.analyzed
    val nodes = plan.collect { case n => n }.size
    // linear in the batch's operations: only jump's self-join reads its
    // input twice; a propagate that re-read its input would double it per operation
    assert(nodes <= 400, s"batch plan has $nodes logical nodes")
  }

  test("star + disjoint pairs: one batch + in-batch probe confirms") {
    val vs = ids(40)
    val star = (1 until 20).map(i => (vs(0), vs(i)))
    val pairs = (20 until 40 by 2).map(i => (vs(i), vs(i + 1)))
    val cc = runCC(vs, star ++ pairs)
    assert(cc.converged)
    // one batch = 2 rounds + probe
    assert(cc.iterations === 3,
      s"star/pair graph should converge in one batch, took ${cc.iterations} rounds")
    val byLabel = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byLabel(vs(0)) === (0 until 20).map(vs).toSet)
    (20 until 40 by 2).foreach { i =>
      assert(byLabel(vs(i)) === Set(vs(i), vs(i + 1)))
    }
  }

  test("no edges: zero batches, every vertex labels itself") {
    val vs = ids(10)
    val cc = runCC(vs, Seq.empty)
    assert(cc.converged)
    assert(cc.iterations === 0)
    val labels = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
    assert(labels.forall { case (v, l) => v == l })
  }

  test("two components sharing no vertices keep distinct min labels") {
    val vs = ids(8)
    val cc = runCC(vs, Seq((vs(0), vs(3)), (vs(3), vs(1)), (vs(5), vs(7)), (vs(6), vs(7))))
    assert(cc.converged)
    val m = cc.labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq(0, 1, 3).forall(i => m(vs(i)) == vs(0)))
    assert(Seq(5, 6, 7).forall(i => m(vs(i)) == vs(5)))
    assert(m(vs(2)) == vs(2) && m(vs(4)) == vs(4))
  }

  test("non-string id columns are rejected before any job, naming column and type") {
    import spark.implicits._
    // evaluating these edges throws, so a job that ran before the type check
    // would surface "edges were scanned" instead of the type error
    val longEdges = spark.range(4).select(
      when(col("id") >= 0, raise_error(lit("edges were scanned"))).otherwise(col("id")).as("a"),
      (col("id") + 1).as("b"))
    val e = intercept[IllegalArgumentException](
      Clustering.connectedComponents(ids(5).toDF("image_id"), longEdges))
    assert(e.getMessage.contains("'a'") && e.getMessage.contains("bigint"), e.getMessage)

    val v = intercept[IllegalArgumentException](
      Clustering.connectedComponents(spark.range(3).toDF("image_id"), Seq(("v0", "v1")).toDF("a", "b")))
    assert(v.getMessage.contains("'image_id'") && v.getMessage.contains("bigint"), v.getMessage)
  }
}
