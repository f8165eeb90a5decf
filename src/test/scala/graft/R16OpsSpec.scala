package graft

import graft.operators.{Merge, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-10 additions: delete-aware CDC changelog apply,
  * trigram-index substring search. */
class R16OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("hpix_transients: every emitted row satisfies the exact flag rule; zero-years flaggable") {
    val rows = QueryRegistry.all.toMap.apply("hpix_transients").run(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty, "sf0.001 should surface at least one flagged (pixel, year)")
    rows.foreach { r =>
      val (cnt, total) = (r.getLong(2), r.getLong(3))
      val dev = 7L * cnt - total
      assert(dev * dev > 63L * total, s"flag rule violated: $r")
    }
    // a pixel whose history is concentrated in few years flags its
    // ZERO years too once total > 9*T (dev = -total, total^2 > 63*total)
    val zeroFlagged = rows.filter(_.getLong(2) == 0L)
    assert(zeroFlagged.forall(_.getLong(3) > 63L), "zero-year flags need total > 9T")
  }

  // ------------------------------------------------------------- CDC

  test("applyChangelog: last op wins, deletes drop, inserts/updates/kept classified") {
    val base = Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("key", "cents")
    val log = Seq(
      (2L, 1L, "upsert", 777L),  // update key 2
      (2L, 2L, "delete", 0L),    // ... then delete it — delete wins (later)
      (3L, 1L, "delete", 0L),    // delete key 3 ...
      (3L, 2L, "upsert", 999L),  // ... then re-insert — upsert wins
      (9L, 1L, "upsert", 555L),  // brand-new key
      (8L, 1L, "delete", 0L)     // delete of a key that never existed
    ).toDF("key", "seq", "op", "cents")
    val out = Merge.applyChangelog(base, log, "key", "cents",
        opCol = "op", deleteOp = "delete", orderCols = Seq("seq"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    assert(out == Map(
      1L -> ((100L, "kept", 0L)),
      3L -> ((999L, "updated", 2L)),
      9L -> ((555L, "inserted", 1L))), s"got $out")
  }

  test("applyChangelog collapses the log with an aggregate, not a window sort") {
    val base = Seq((1L, 100L)).toDF("key", "cents")
    val log = Seq((1L, 1L, "upsert", 1L)).toDF("key", "seq", "op", "cents")
    val plan = Merge.applyChangelog(base, log, "key", "cents", "op", "delete", Seq("seq"))
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      s"log collapse must be a struct-max aggregate, never a window:\n$plan")
  }

  test("weightedTopK: exactly k per group, partitioning-invariant, weight-monotone bias") {
    import graft.operators.Sampling
    val rows = (1L to 600L).map { k =>
      // two groups; weights 1 for even ids, 100 for ids % 10 == 1
      (k, if (k % 2 == 0) "a" else "b", if (k % 10 == 1) 100L else 1L)
    }.toDF("id", "grp", "w")
    val kept = Sampling.weightedTopK(rows, "id", "grp", "w", k = 10)
    val perGroup = kept.groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup == Map("a" -> 10L, "b" -> 10L), s"exactly k per group: $perGroup")
    // identical kept set under a different partitioning
    val kept2 = Sampling.weightedTopK(rows.repartition(13), "id", "grp", "w", k = 10)
    assert(kept.select("id").collect().map(_.getLong(0)).toSet ==
      kept2.select("id").collect().map(_.getLong(0)).toSet, "kept set must be partitioning-invariant")
    // group b: 60 ids carry weight 100 vs 240 with weight 1 — the
    // heavy rows must dominate the sample (ES inclusion ∝ weight)
    val heavy = kept.filter(col("grp") === "b" && col("w") === 100L).count()
    assert(heavy >= 7, s"weight-100 rows must dominate the k=10 sample, got $heavy")
  }

  // ------------------------------------------- trigram substring search

  test("trigramSearch finds exact positions and prunes gram-anagram false candidates") {
    val docs = Seq(
      (1L, "the merge batch runs nightly"),           // contains at pos 5
      (2L, "batch merge the nightly runs"),           // all grams of "merge batch"? no: 'e b' missing
      (3L, "MERGE, BATCH!? the merge batch again"),   // normalization finds it
      (4L, "no relevant content here"),
      // all trigrams present but never contiguous: "merge batch" grams
      // are {mer,erg,rge,ge ,e b, ba,bat,atc,tch}; craft "merge bxtch merge batch"-free
      (5L, "xmerge bzz ge batch yy e b")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.trigramSearch(docs, "doc_id", "text", "Merge; BATCH")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // normalized query = "merge batch"
    assert(got(1L) == 5L, s"1-based pos in normalized text: $got")
    // doc 3 normalizes to "merge batch the merge batch again" — FIRST hit is pos 1
    assert(got(3L) == 1L, s"got $got")
    assert(!got.contains(2L) && !got.contains(4L), s"got $got")
    assert(!got.contains(5L), "gram-complete but non-contiguous doc must fail the verify")
  }

  test("text_hybrid: ranks live in [1, k+1], fused is their exact sum, output ascending") {
    val rows = QueryRegistry.all.toMap.apply("text_hybrid").run(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val (rs, rd, f) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(rs >= 1 && rs <= 31 && rd >= 1 && rd <= 31, s"rank domain: $r")
      assert(f == rs + rd, s"fused must be the exact rank sum: $r")
      assert(rs <= 30 || rd <= 30, "a fused row must appear in at least one tower")
    }
    val fused = rows.map(_.getLong(3))
    assert(fused.sameElements(fused.sorted), "output must ascend by fused rank")
  }

  test("trigramProbe over stored postings returns exactly trigramSearch's results") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val postings = TextAnalysis.trigramPostings(docs, "doc_id", "text")
    val q = "table value part"
    val viaIndex = TextAnalysis.trigramProbe(postings, docs, "doc_id", "text", q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaScan = TextAnalysis.trigramSearch(docs, "doc_id", "text", q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == viaScan, s"index and scan paths must agree " +
      s"(index-only ${viaIndex -- viaScan}, scan-only ${viaScan -- viaIndex})")
    // the scan path is one map-only pass: no shuffle of any kind
    val plan = TextAnalysis.trigramSearch(docs, "doc_id", "text", q)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scan search must not shuffle:\n$plan")
  }

  test("trigramSearch guards degenerate queries and short docs") {
    val docs = Seq((1L, "ab"), (2L, "abc")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.trigramSearch(docs, "doc_id", "text", "ab")
    }
    val got = TextAnalysis.trigramSearch(docs, "doc_id", "text", "abc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 1L), s"short docs index no grams, exact-length doc matches: $got")
  }
}
