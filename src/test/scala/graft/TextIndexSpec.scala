package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpecBase {
  import spark.implicits._

  test("inverted index: numeric posting order, hapax pruning, stop-list NULLs") {
    val docs = Seq(
      (2L, "alpha beta"), (10L, "alpha gamma"), (30L, "alpha beta beta"),
      (4L, "delta")).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text", minDf = 2, maxDf = 2)
      .orderBy("term").collect()
    assert(idx.map(_.getString(0)).toSeq == Seq("alpha", "beta"), "hapax terms pruned")
    val alpha = idx(0)
    assert(alpha.getLong(1) == 3 && alpha.isNullAt(2),
      "df > maxDf keeps the df row but NULLs the posting list (stop-list + skew guard)")
    val beta = idx(1)
    // 2 < 10 < 30 numerically — a lexicographic sort would give "10,2,30"...
    assert(beta.getString(2) == "2,30", s"postings sorted by doc id: ${beta.getString(2)}")
    assert(beta.getLong(1) == 2, "df counts documents, not occurrences")
  }

  test("bm25TopK matches hand-computed Okapi scores on a toy corpus") {
    // N=4 (d4 has no query term but IS corpus), avgdl=12/4=3;
    // idf(apple)=idf(cherry)=ln(1+(4-2+0.5)/2.5)=ln(2);
    // per-term: idf * tf*2.2 / (tf + 1.2*(0.25 + 0.75*dl/3))
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry durian"),
      (4L, "banana banana banana")). // counts toward N/avgdl, never scored
      toDF("doc_id", "text")
    val res = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("apple", "cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(res.map(_._1).toSeq == Seq(3L, 1L, 2L), "rank: both terms > tf=2 single > tf=1")
    val byDoc = res.toMap
    assert(byDoc(1L) == 0.953077 && byDoc(2L) == 0.802591 && byDoc(3L) == 1.481355,
      s"hand-computed scores, 6 dp: $byDoc")
  }

  test("bm25TopK plans a TakeOrdered top-k, not a global sort") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val plan = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("dup", "spark"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered top-k:\n$plan")
  }

  test("edit-distance pairs: scores, block isolation, ASCII projection") {
    val docs = Seq(
      (1L, "kitten in the yard", "en"),
      (2L, "sitting in the yard", "en"),
      (3L, "kitten in the yard", "de"), // other block: never compared with 1
      (4L, "something entirely different and long", "en")).toDF("doc_id", "text", "lang")
    val pairs = TextAnalysis.editDistancePairs(docs, "doc_id", "text",
      blockCols = Seq("lang"), maxDist = 5).orderBy("id_a", "id_b").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 3L)), "kitten->sitting = 3 edits; cross-block and distant pairs excluded")
    // non-ASCII characters are projected out before scoring
    val uni = Seq((1L, "café au lait", "fr"), (2L, "caf au lait", "fr"))
      .toDF("doc_id", "text", "lang")
    val d = TextAnalysis.editDistancePairs(uni, "doc_id", "text", Seq("lang"), maxDist = 5)
      .select("dist").as[Long].head()
    assert(d == 0, "é is stripped on both sides, so the projected prefixes are equal")
  }

  test("edit-distance grid self-join: pair set invariant across bucket counts") {
    // enough near-dup structure that many pairs survive, spread over
    // buckets so diagonal AND off-diagonal cells are exercised
    val docs = (0L until 40L).map { i =>
      val base = s"shared prefix text block number ${i % 4} with tail"
      (i, if (i % 3 == 0) base else base + s" variant $i", if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    def pairs(buckets: Int) = TextAnalysis.editDistancePairs(
        docs, "doc_id", "text", blockCols = Seq("lang"), maxDist = 12, gridBuckets = buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val serial = pairs(1)
    assert(serial.nonEmpty, "test corpus must produce pairs")
    assert(serial.forall { case (a, b, _) => a < b }, "ids normalized ascending")
    assert(pairs(8) == serial, "8-bucket grid emits exactly the serial pair set")
    assert(pairs(3) == serial, "3-bucket grid emits exactly the serial pair set")
  }

  test("edit-distance refuses unblocked corpora") {
    val docs = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.editDistancePairs(docs, "doc_id", "text", Seq.empty, 5))
    assert(e.getMessage.contains("block"))
  }

  test("sourceDrift: identical distributions score zero; a skewed source scores positive") {
    val docs = Seq(
      (1L, "s1", "aa bb cc dd"), (2L, "s1", "aa bb cc dd"),
      (3L, "s2", "aa bb cc dd"), (4L, "s2", "aa bb cc dd"),
      (5L, "s3", "aa aa aa aa")).toDF("doc_id", "source", "text")
    val rows = TextAnalysis.sourceDrift(docs, "source", "text")
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    // s1 and s2 match each other but NOT the corpus (s3 skews the mix),
    // so only compare them to each other and check the ordering signal
    assert(rows("s1") == rows("s2"), "same distribution, same divergence")
    assert(rows("s3")._1 > rows("s1")._1 && rows("s3")._2 > rows("s1")._2,
      s"the skewed source must out-diverge the balanced ones: $rows")
    val uniform = TextAnalysis.sourceDrift(docs.filter(col("source") =!= "s3"), "source", "text")
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(uniform.forall(r => r._1 == 0.0 && r._2 == 0.0),
      s"group == corpus -> KL = JSD = 0 exactly: ${uniform.toSeq}")
  }
}
