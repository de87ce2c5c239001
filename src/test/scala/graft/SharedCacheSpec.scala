package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Blocks, Clustering}
import graft.queries.Queries

/** Block ownership of the query suite's shared frames (tiered clusters,
  * gram pairs, the audited pipeline run): each frame holds exactly the
  * blocks it reads, `Queries.freeSharedCaches()` returns the session to its
  * pre-cache storage footprint (round-3 VERDICT #5), and a tier that fails
  * mid-CC leaks nothing.
  */
class SharedCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def auditTmpDirs(): Set[String] = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = java.nio.file.Files.list(root)
    try s.filter(p => p.getFileName.toString.startsWith("graft-audit-q"))
      .map[String](_.toString).toArray.map(_.toString).toSet
    finally s.close()
  }

  test("freeSharedCaches unpersists cached blocks and deletes audit temp dirs") {
    val sc = spark.sparkContext
    Queries.freeSharedCaches() // clean slate (other suites may have populated)
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val dirsBefore = auditTmpDirs()

    val frames = Seq("dedup_tier_hist", "dedup_ngram_jaccard", "dedup_clusters")
      .map(q => Queries.queries(q)(spark, dir))
    frames.foreach(_.count())
    val read = frames.flatMap(Blocks.ids).toSet
    assert(sc.getPersistentRDDs.keySet.toSet -- rddsBefore === read,
      "shared frames may hold only the blocks they read")
    assert(read.size === 2,
      "the tiered and gram-pair frames read one block each; the audited run reads parquet")
    assert(auditTmpDirs().size === dirsBefore.size + 1,
      "the audited run is expected to own one temp dir while cached")

    Queries.freeSharedCaches()
    assert((sc.getPersistentRDDs.keySet.toSet -- rddsBefore).isEmpty,
      "storage footprint must be flat after eviction — no leaked blocks")
    assert(auditTmpDirs() === dirsBefore,
      "the audited run's temp tables must be deleted on eviction")

    // the caches must repopulate transparently after a free
    assert(Queries.queries("dedup_tier_hist")(spark, dir).count() > 0)
    Queries.freeSharedCaches()
  }

  test("a tier failing mid-CC leaves no blocks, no global temp view, and the job label") {
    import spark.implicits._
    val sc = spark.sparkContext
    val vertices = (0 until 12).map(i => f"v$i%02d").toDF("image_id")
    val good = Seq(("v00", "v01"), ("v01", "v02")).toDF("a", "b")
    // CC reads the edges once for its id dictionary (its first
    // materialization) and again for the symmetric edge set: fail there
    val secondPass = udf((id: String) => FailOnSecondPass(id)).asNondeterministic()
    // (an RDD source: a local relation would be folded on the driver)
    val bad = sc.parallelize(Seq(("v05", "v06"), ("v06", "v07")), 2).toDF("a", "b")
      .withColumn("a", secondPass(col("a")))
    val before = sc.getPersistentRDDs.keySet.toSet
    sc.setJobDescription("outer")
    try {
      val e = intercept[Exception](
        Clustering.tieredClusters(vertices, Seq("good" -> good, "bad" -> bad)))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(messages.contains(FailOnSecondPass.Message), messages)
      assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        "neither the failed tier's nor the finished tier's blocks may stay")
      assert(spark.catalog.listTables("global_temp").count() === 0)
      assert(sc.getLocalProperty("spark.job.description") === "outer")
    } finally sc.setJobDescription(null)
  }
}

/** Identity on ids in the first stage that evaluates it; any later stage
  * (a second pass over the same rows) throws.
  */
object FailOnSecondPass {
  val Message = "second pass over the edges"
  private val firstStage = new AtomicInteger(-1)

  def apply(id: String): String = {
    val ctx = org.apache.spark.TaskContext.get()
    if (ctx != null) {
      firstStage.compareAndSet(-1, ctx.stageId())
      if (ctx.stageId() != firstStage.get()) throw new IllegalStateException(Message)
    }
    id
  }
}
