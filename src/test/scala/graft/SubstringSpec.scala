package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.functions.GraftExpressions
import graft.pipeline.{DedupPipeline, Substring}

class SubstringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val cfg = GraftConfig()

  private def rows(caps: (String, String)*) =
    caps.toDF("image_id", "caption_norm")
      .withColumn("span", length(col("caption_norm")))

  test("word-aligned substring pairs: prefix, infix, suffix positions") {
    val r = rows(
      "short" -> "alpha beta gamma delta",
      "pre" -> "alpha beta gamma delta and more words here",
      "inf" -> "lead in words alpha beta gamma delta tail words",
      "suf" -> "some leading words alpha beta gamma delta",
      "other" -> "totally unrelated caption about nothing at all")
    val pairs = Substring.substringPairs(r, cfg)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(pairs === Set(("short", "pre"), ("short", "inf"), ("short", "suf")))
  }

  test("non-word-aligned containment is NOT a match") {
    val r = rows(
      "a" -> "eta beta gamma",
      "b" -> "zeta beta gamma delta") // 'eta beta gamma' is a char substring, not word-aligned
    assert(Substring.substringPairs(r, cfg).count() === 0)
  }

  test("min-span gate applies to the shorter side") {
    val r = rows(
      "tiny" -> "ab cd", // span 5 <= 12: gated
      "big" -> "ab cd plus many other following words")
    assert(Substring.substringPairs(r, cfg).count() === 0)
  }

  test("anchor shorter than k words still matches (short-anchor gap fix)") {
    // k=3 (docCfg): a 2-word 13+-char caption contained in a longer one had
    // no width-3 anchor gram and was silently missed before round 2.
    val k3 = GraftConfig(shingleK = 3)
    val r = rows(
      "two" -> "extraordinary hippopotamus",
      "host" -> "we saw an extraordinary hippopotamus at the river today",
      "one" -> "antidisestablishmentarianism",
      "onehost" -> "the word antidisestablishmentarianism is famously long")
    val pairs = Substring.substringPairs(r, k3)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(pairs === Set(("two", "host"), ("one", "onehost")))
  }

  test("short anchor must still be word-aligned and verbatim") {
    val k3 = GraftConfig(shingleK = 3)
    val r = rows(
      "two" -> "ordinary hippopotamus",
      "host" -> "we saw an extraordinary hippopotamus at the river") // char substring only
    assert(Substring.substringPairs(r, k3).count() === 0)
  }

  test("pipeline catches a substring pair invisible to SimHash and MinHash") {
    val noise1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val noise2 = (31 to 60).map(i => s"w$i").mkString(" ")
    val img = Seq(
      ("needle", "alpha beta gamma delta epsilon", 1L),
      ("haystack", s"$noise1 alpha beta gamma delta epsilon $noise2", 2L),
      ("bystander", "completely different text with its own words", 3L)
    ).toDF("image_id", "caption", "phash")
    val res = DedupPipeline.run(img, cfg.copy(weights = cfg.weights + ("PHASH" -> 0)))
    val labels = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // Jaccard(needle, haystack) = 4/65 << tau and Hamming is far: only J5 links them
    assert(labels("needle") === labels("haystack"))
    assert(labels("bystander") !== labels("needle"))
    assert(res.edges.filter(col("source") === "substring").count() >= 1)
  }

  // --- width census vs tokenizer parity, over irregular whitespace ---------

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
  private val sep = Gen.frequency(4 -> " ", 1 -> "  ", 1 -> "   ")
  private def phrase(minWords: Int, maxWords: Int): Gen[String] = for {
    n <- Gen.choose(minWords, maxWords)
    ws <- Gen.listOfN(n, word)
    ss <- Gen.listOfN(n, sep)
  } yield if (ws.isEmpty) "" else ws.head + ss.zip(ws.tail).map { case (s, w) => s + w }.mkString
  private val edgeSpace = Gen.frequency(3 -> "", 1 -> " ", 1 -> "  ")
  private val needle: Gen[String] = for {
    lead <- edgeSpace; p <- phrase(1, 4); trail <- edgeSpace
  } yield lead + p + trail
  /** Captions, some of which embed others at a word boundary. */
  private val corpus: Gen[Seq[String]] = for {
    needles <- Gen.listOfN(5, needle)
    hosts <- Gen.listOfN(8, for {
      n <- Gen.oneOf(needles); pre <- phrase(0, 3); post <- phrase(0, 3)
      s1 <- sep; s2 <- sep; lead <- edgeSpace; trail <- edgeSpace
    } yield lead + pre + s1 + n + s2 + post + trail)
  } yield needles ++ hosts

  private def wordAligned(a: String, b: String): Boolean =
    b.startsWith(a + " ") || b.contains(" " + a + " ") || b.endsWith(" " + a)

  test("width census matches the tokenizer: mask-on keys and pairs equal brute force") {
    Seq(GraftConfig(), GraftConfig(shingleK = 3)).foreach { c =>
      val k = c.shingleK
      val prop = Prop.forAll(corpus) { caps =>
        val ids = caps.indices.map(i => f"c$i%02d")
        val r = rows(ids.zip(caps): _*)
        val got = Substring.substringPairs(r, c)
          .collect().map(x => (x.getString(0), x.getString(1))).toSet
        val want = (for {
          (a, ta) <- ids.zip(caps); (b, tb) <- ids.zip(caps)
          if a != b && ta.length > c.minSpan && ta.length < tb.length && wordAligned(ta, tb)
        } yield (a, b)).toSet

        val mask = Substring.anchorWidthMask(r, c)
        val keys = r.select(col("span"),
          GraftExpressions.leadingGramKey(spark, col("caption_norm"), k).as("anchor"),
          GraftExpressions.wordGramKeys(spark, col("caption_norm"), k, mask).as("masked"),
          GraftExpressions.wordGramKeys(spark, col("caption_norm"), k, -1).as("all"))
          .collect()
        val anchors = keys.filter(_.getInt(0) > c.minSpan).map(_.getLong(1)).toSet
        val keysAgree = keys.forall { x =>
          x.getSeq[Long](2).toSet.intersect(anchors) == x.getSeq[Long](3).toSet.intersect(anchors)
        }
        (got == want) :| s"pairs: got $got, brute force $want" &&
          keysAgree :| s"mask $mask drops an anchor width"
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
      assert(res.passed, s"k=$k: ${res.status}")
    }
  }
}
