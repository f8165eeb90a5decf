package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Winnowing fingerprint selection (Schleimer et al. 2003). */
class WinnowSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("the winnowing guarantee: any copied span of >= w+k-1 tokens shares a fingerprint") {
    val span = (1 to 8).map(i => s"copied$i").mkString(" ") // 8 tokens = w + k - 1 at k=5, w=4
    val a = s"alpha beta gamma delta $span epsilon zeta"
    val b = s"one two three four five six seven $span eight nine ten eleven twelve"
    val fps = TextAnalysis.winnowFingerprints(docs(1L -> a, 2L -> b), "doc_id", "text")
      .select("doc_id", "fp").as[(Long, Long)].collect()
    val shared = fps.filter(_._1 == 1L).map(_._2).toSet
      .intersect(fps.filter(_._1 == 2L).map(_._2).toSet)
    assert(shared.nonEmpty,
      "an 8-token copied span at different offsets must share at least one fingerprint")
  }

  test("fingerprints are normalization-robust and deterministic") {
    val base = "The quick Brown fox, jumps over the LAZY dog; again and again and again!"
    val mangled = "the  quick brown fox jumps\tover the lazy dog again and  again and again"
    val fps = TextAnalysis.winnowFingerprints(docs(1L -> base, 2L -> mangled), "doc_id", "text")
      .select("doc_id", "pos", "fp").as[(Long, Long, Long)].collect()
    assert(fps.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet ==
      fps.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet,
      "case/punctuation/whitespace variants must fingerprint identically")
    // partitioning invariance (map-only kernel)
    val big = docs((1L to 40L).map(i => i -> s"doc $i body ${"token " * 30} tail $i"): _*)
    val one = TextAnalysis.winnowFingerprints(big, "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    val many = TextAnalysis.winnowFingerprints(big.repartition(7), "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    assert(one == many)
  }

  test("density lands near the 2/(w+1) expectation; short docs yield one whole-text fingerprint") {
    val n = 2000
    val text = (1 to n).map(i => s"w${(i * 2654435761L) % 100000}").mkString(" ")
    val out = TextAnalysis.winnowFingerprints(docs(1L -> text), "doc_id", "text", k = 5, w = 4)
    val m = (n - 5 + 1).toDouble // gram count
    val density = out.count() / m
    assert(math.abs(density - 2.0 / 5.0) < 0.08,
      f"selected density $density%.3f should be near 2/(w+1) = 0.4")
    // fewer than k tokens: exactly one fingerprint at pos 0
    val short = TextAnalysis.winnowFingerprints(docs(9L -> "just three tokens"), "doc_id", "text")
      .select("pos").as[Long].collect().toSeq
    assert(short == Seq(0L), s"short doc must emit one whole-text fingerprint: $short")
  }

  test("winnowMatches finds a planted near-dup pair and the hot-fp guard drops boilerplate") {
    val shared = (1 to 30).map(i => s"plagiarized$i").mkString(" ")
    val boiler = "subscribe to our newsletter for updates"
    val base = (1L to 20L).map(i =>
      i -> s"unique lead $i ${"filler" + i + " body text number " + i} $boiler tail $i")
    val pair = Seq(100L -> s"intro one $shared outro one $boiler",
      101L -> s"different beginning $shared other ending $boiler")
    val m = TextAnalysis.winnowMatches(docs((base ++ pair): _*), "doc_id", "text",
        minShared = 2, maxDocFreq = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(m.contains((100L, 101L)), s"planted pair must match: $m")
    assert(m.forall { case (x, y) => Set(x, y).subsetOf(Set(100L, 101L)) },
      s"boilerplate-only overlap must not create pairs (hot-fp guard): $m")
  }

  test("kernel equals a transparent reference implementation on 300 random inputs") {
    // independent re-derivation of the algorithm: gram hashes by the
    // documented mod-prime fold, every window scanned with an
    // explicit rightmost-min, picks deduped by position change
    def reference(tokens: Seq[String], k: Int, w: Int): Seq[Long] = {
      val s = tokens.mkString(" ")
      val grams: Seq[String] =
        if (tokens.size >= k) (0 to tokens.size - k).map(j => tokens.slice(j, j + k).mkString(" "))
        else Seq(s)
      val fps = grams.map(g => g.foldLeft(0L)((a, c) => (a * 131 + c.toInt) % 1000000007L))
      val picks = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (j <- 0 until math.max(1, fps.size - w + 1)) {
        val win = fps.slice(j, j + w)
        val best = win.min
        val pos = j + win.lastIndexOf(best)
        val packed = (pos.toLong << 32) | best
        if (picks.isEmpty || (picks.last >>> 32) != pos) picks += packed
      }
      picks.toSeq
    }
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 300) {
      val n = 1 + rnd.nextInt(60)
      val vocab = 1 + rnd.nextInt(8) // small vocab -> frequent hash ties
      val toks = Seq.fill(n)(s"w${rnd.nextInt(vocab)}")
      val k = 1 + rnd.nextInt(6)
      val w = 1 + rnd.nextInt(6)
      val got = graft.functions.TextKernels
        .winnow(org.apache.spark.unsafe.types.UTF8String.fromString(toks.mkString(" ")), k, w)
        .toLongArray().toSeq
      val want = reference(toks, k, w)
      assert(got == want,
        s"trial $trial (n=$n k=$k w=$w vocab=$vocab): kernel $got != reference $want")
    }
  }

  test("geometry guards fail loudly") {
    assert(intercept[IllegalArgumentException](
      TextAnalysis.winnowFingerprints(docs(1L -> "x"), "doc_id", "text", k = 0))
      .getMessage.contains("[1, 64]"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.winnowFingerprints(docs(1L -> "x"), "doc_id", "text", w = 65))
      .getMessage.contains("[1, 64]"))
  }

  test("winnowMatches: equi-join on fp, never a cartesian/broadcast-nested-loop") {
    val m = graft.operators.TextAnalysis.winnowMatches(
      spark.read.parquet(sf("sf0.001") + "/documents.parquet"), "doc_id", "text")
    val plan = m.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the match join must stay a banded equi-join:\n$plan")
  }
}
