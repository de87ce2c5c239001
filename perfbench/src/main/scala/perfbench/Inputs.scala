package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Murmur3x64.splitmix64

/** The tables `docs_suite` reads, generated by the benchmark itself; the
  * same seed gives the same bytes.
  */
object Inputs {

  private def rnd(seed: Long, a: Long, b: Long): Long =
    splitmix64(seed ^ (a * 0x9e3779b97f4a7c15L) ^ (b * 0xc2b2ae3d27d4eb4fL))

  private def pick(seed: Long, a: Long, b: Long, n: Int): Int =
    ((rnd(seed, a, b) >>> 1) % n).toInt

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                         o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
                            l_discount: Double, l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: java.sql.Timestamp)
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
                            n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  final case class DocsSize(documents: Int, embeddings: Int, customers: Int,
                            orders: Int, linesPerOrder: Int, events: Int)

  private val DocVocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def cents(x: Long): Double = x / 100.0

  /** The tables the query suite reads (TPC-H-style star schema, an event
    * stream, a document corpus with planted duplicates and an embedding
    * table with label clusters), written as parquet under `dir`. Fixed
    * seed: the suite's tables never change, only the query order does.
    */
  def writeDocsTables(spark: SparkSession, dir: String, size: DocsSize): Unit = {
    import spark.implicits._
    val seed = 42L
    def write[T](df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    val t0 = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
    val day = 86400000L

    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Region(i, n) }.toDF(), "region")
    write((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDF(), "nation")
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write((0 until size.customers).map { i =>
      Customer(i, f"Customer#$i%09d", pick(seed, 1, i, 25),
        cents(pick(seed, 2, i, 1100000) - 100000L), segs(pick(seed, 3, i, 5)))
    }.toDF(), "customer")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Array("F", "O", "P")
    // customers with index % 3 == 0 place no orders (semi/anti join split)
    val buyers = (0 until size.customers).filter(_ % 3 != 0)
    write((0 until size.orders).map { i =>
      Order(i, buyers(pick(seed, 4, i, buyers.length)), status(pick(seed, 5, i, 3)),
        cents(100000L + pick(seed, 6, i, 40000000)),
        new java.sql.Timestamp(t0 + day * pick(seed, 7, i, 2400)), prios(pick(seed, 8, i, 5)))
    }.toDF(), "orders")
    val flags = Array("A", "N", "R")
    val discounts = Array(0.0, 0.01, 0.02, 0.03, 0.04, 0.05, 0.06, 0.07, 0.08, 0.09, 0.1)
    write((0 until size.orders).flatMap { o =>
      (1 to size.linesPerOrder).map { ln =>
        val k = o.toLong * 16 + ln
        LineItem(o, pick(seed, 9, k, 2000), pick(seed, 10, k, 100), ln,
          1 + pick(seed, 11, k, 50), cents(90000L + pick(seed, 12, k, 10000000)),
          discounts(pick(seed, 13, k, discounts.length)), discounts(pick(seed, 14, k, 9)),
          flags(pick(seed, 15, k, 3)), if (pick(seed, 16, k, 2) == 0) "F" else "O",
          new java.sql.Timestamp(t0 + day * pick(seed, 17, k, 2400)))
      }
    }.toDF(), "lineitem")
    val types = Array("click", "error", "purchase", "signup", "view")
    val e0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    write((0 until size.events).map { i =>
      Event(i, new java.sql.Timestamp(e0 + pick(seed, 18, i, 30 * 86400) * 1000L +
          pick(seed, 19, i, 1000)), pick(seed, 20, i, 1000), types(pick(seed, 21, i, 5)),
        cents(pick(seed, 22, i, 10000)), s"""{"k": ${pick(seed, 23, i, 100)}}""")
    }.toDF(), "events")

    // Documents: random word sequences over a small vocabulary, with planted
    // exact copies, one-word edits and word-aligned substrings of earlier
    // documents, so every dedup query has work and output.
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](size.documents)
    (0 until size.documents).foreach { i =>
      val kind = pick(seed, 30, i, 100)
      val src = if (i > 0) pick(seed, 31, i, i) else 0
      texts(i) =
        if (i > 0 && kind < 2) texts(src)
        else if (i > 0 && kind < 8) {
          val w = texts(src).split(' ')
          w(pick(seed, 32, i, w.length)) = "dup"
          w.mkString(" ")
        } else if (i > 0 && kind < 11 && texts(src).split(' ').length > 8)
          texts(src).split(' ').drop(1 + pick(seed, 33, i, 3)).mkString(" ")
        else
          Array.tabulate(10 + pick(seed, 34, i, 91))(j =>
            DocVocab(pick(seed, 35, i * 128L + j, DocVocab.length))).mkString(" ")
    }
    write(texts.indices.map { i =>
      Document(i, texts(i), langs(pick(seed, 36, i, langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }.toDF(), "documents")

    // Embeddings: 64-dim, ten label centres plus per-vector noise.
    val dim = 64
    def gauss(a: Long, b: Long): Double = {
      val u1 = ((rnd(seed, a, b) >>> 11) + 1).toDouble / (1L << 53)
      val u2 = (rnd(seed, a + 7, b) >>> 11).toDouble / (1L << 53)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.tabulate(10, dim)((c, d) => gauss(40, c * 64L + d))
    write((0 until size.embeddings).map { i =>
      val label = pick(seed, 41, i, 10)
      Embedding(i, Array.tabulate(dim)(d =>
        (0.1 * (centres(label)(d) + 1.1 * gauss(42, i * 64L + d))).toFloat), label)
    }.toDF(), "embeddings")
  }
}
