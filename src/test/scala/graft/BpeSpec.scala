package graft

import graft.operators.{Bpe, DriverLocal}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  test("train learns the hand-computed merge sequence on the classic corpus") {
    // low x3, lower x1, lowest x1 — worked by hand:
    //   pair counts: (l,o)=5 (o,w)=5 (w,e)=2 (e,r)=1 (e,s)=1 (s,t)=1
    //   tie (l,o)/(o,w) at 5 -> lexicographic: (l,o) first
    //   then (lo,w)=5; then (low,e)=2; then all-1 tie -> (lowe,r)
    val docs = Seq("low low low", "lower lowest").toDF("text")
    val merges = Bpe.train(docs, "text", nMerges = 4)
    assert(merges.map(m => (m.left, m.right)) ==
      Seq(("l", "o"), ("lo", "w"), ("low", "e"), ("lowe", "r")))
    // encode with the learned merges reproduces training's final state
    assert(Bpe.encodeWord("low", merges).toSeq == Seq("low"))
    assert(Bpe.encodeWord("lower", merges).toSeq == Seq("lower"))
    assert(Bpe.encodeWord("lowest", merges).toSeq == Seq("lowe", "s", "t"))
    // an unseen word decomposes by the same merges
    assert(Bpe.encodeWord("slow", merges).toSeq == Seq("s", "low"))
  }

  test("training is deterministic and partitioning-invariant") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(regexp_replace(lower(col("text")), "[^a-z]+", " ").as("clean"))
    val m1 = Bpe.train(docs, "clean", nMerges = 5, maxWordLen = 12)
    val m2 = Bpe.train(docs.repartition(7), "clean", nMerges = 5, maxWordLen = 12)
    assert(m1 == m2, "merge sequence must not depend on partitioning")
  }

  test("driver-side merge replay matches the distributed loop exactly") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(regexp_replace(lower(col("text")), "[^a-z]+", " ").as("clean"))
    val local = Bpe.train(docs, "clean", nMerges = 6, maxWordLen = 12)
    val dist = Bpe.train(docs, "clean", nMerges = 6, maxWordLen = 12, localMaxWords = 0)
    assert(local == dist, "local replay must reproduce the distributed merges")
  }

  test("parity property: merge replay equals cutover 0 at 1 and 4 partitions") {
    // fixed seed, bounded sample count: generated word lists over a
    // three-letter alphabet (many frequency ties, repeated symbols)
    // must learn the same merges on both paths and partitionings
    val word = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val doc = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpora = Iterator.iterate(Seed(20261018L))(_.next).take(5)
      .map(seed => Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, doc))
        .pureApply(Gen.Parameters.default, seed)).toSeq
    corpora.foreach { texts =>
      val runs = for { parts <- Seq(1, 4); m <- Seq(DriverLocal.maxWords, 0L) } yield
        (parts, m) -> Bpe.train(texts.toDF("text").repartition(parts), "text", nMerges = 4,
          localMaxWords = m)
      runs.foreach { case (how, merges) =>
        assert(merges == runs.head._2, s"$texts: $how learned $merges, ${runs.head._1} ${runs.head._2}")
      }
    }
  }

  test("encode: more merges never increases a document's token count; NULL text counts 0") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), regexp_replace(lower(col("text")), "[^a-z]+", " ").as("clean"))
    val merges = Bpe.train(docs, "clean", nMerges = 6, maxWordLen = 12)
    def counts(ms: Seq[Bpe.Merge]): Map[Long, Long] =
      Bpe.encodeCounts(docs, "doc_id", "clean", ms, maxWordLen = 12)
        .as[(Long, Long)].collect().toMap
    val c3 = counts(merges.take(3)); val c6 = counts(merges)
    assert(c3.keySet == c6.keySet)
    c6.foreach { case (id, n) => assert(n <= c3(id), s"doc $id grew: ${c3(id)} -> $n") }
    // NULL text -> 0 tokens
    val z = Bpe.encodeCounts(Seq((9L, null: String)).toDF("doc_id", "clean"),
      "doc_id", "clean", merges).as[(Long, Long)].collect().head
    assert(z == ((9L, 0L)))
    // overlong words encode as one opaque token
    val one = Bpe.encodeCounts(Seq((1L, "supercalifragilistic")).toDF("doc_id", "clean"),
      "doc_id", "clean", merges, maxWordLen = 12).as[(Long, Long)].collect().head
    assert(one == ((1L, 1L)))
  }

  test("applyMerge is the left-to-right non-overlapping scan") {
    assert(Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
    assert(Bpe.applyMerge(Array("a", "a", "a", "a"), "a", "a").toSeq == Seq("aa", "aa"))
    assert(Bpe.applyMerge(Array("a", "b", "a", "b"), "a", "b").toSeq == Seq("ab", "ab"))
    assert(Bpe.applyMerge(Array("x"), "a", "b").toSeq == Seq("x"))
  }
}
