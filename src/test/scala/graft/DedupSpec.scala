package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsWithPlants = {
    val base = spark.read.parquet(sf("sf0.001") + "/documents.parquet").select("doc_id", "text")
    val dups = Seq(
      (100001L, "the quick brown fox jumps over the lazy dog again and again and again"),
      (100002L, "the quick brown fox jumps over the lazy dog again and again and again"), // exact dup of 100001
      (100003L, "the quick brown fox jumps over the lazy dog again and again once more"), // near dup
      (100004L, "completely different content about spark query engines and healpix pixels")
    ).toDF("doc_id", "text")
    base.union(dups)
  }

  private def q(name: String) = QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))

  test("exactDedup collapses exact duplicates, keeps min id") {
    val res = Dedup.exactDedup(docsWithPlants, "doc_id", "text")
    val planted = res.filter(col("keep_id") >= 100001L).collect()
    assert(res.filter(col("n_copies") === 2).count() == 1)
    assert(planted.map(_.getLong(0)).toSet == Set(100001L, 100003L, 100004L))
  }

  test("minhashPairs finds planted near-dup and exact-dup pairs") {
    val pairs = Dedup.minhashPairs(docsWithPlants, "doc_id", "text", minEstSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100001L, 100002L)), "exact dup must be a candidate pair")
    assert(pairs.contains((100001L, 100003L)) || pairs.contains((100002L, 100003L)),
      "near dup should share a band")
  }

  test("minhashCalibration leaves no persisted plan behind (no signature-cache leak)") {
    spark.sharedState.cacheManager.clearCache()
    val cal = Dedup.minhashCalibration(docsWithPlants, "doc_id", "text", minEstSim = 0.5)
      .collect()
    assert(cal.nonEmpty, "planted dups must produce at least one calibration bucket")
    assert(spark.sharedState.cacheManager.isEmpty,
      "calibration must not persist anything it cannot unpersist")
  }

  test("minhashPairs caches its signatures outside the CacheManager") {
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val pairs = Dedup.minhashPairs(docsWithPlants, "doc_id", "text", minEstSim = 0.5)
    assert(pairs.count() > 0)
    assert((spark.sparkContext.getPersistentRDDs.keysIterator.toSet -- before).nonEmpty,
      "signatures should be cached while the result is live")
    assert(spark.sharedState.cacheManager.isEmpty, "the signature cache must not need a release")
    java.lang.ref.Reference.reachabilityFence(pairs)
  }

  test("minhashPairs emits each pair exactly once (min-band dedup, no distinct shuffle)") {
    val pairs = Dedup.minhashPairs(docsWithPlants, "doc_id", "text", minEstSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.toSet.size, "pairs must be unique without a distinct()")
    val plan = Dedup.minhashPairs(docsWithPlants, "doc_id", "text", minEstSim = 0.5)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Deduplicate"), s"no distinct node expected:\n$plan")
  }

  test("nearDuplicates (LSH candidates + exact verify) equals brute-force Jaccard") {
    val docs = docsWithPlants
    val got = Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // driver-side brute force on string shingle sets
    def norm(s: String) = s.toLowerCase.replaceAll("[.,!?;:'\"]", "").replaceAll("\\s+", " ").trim
    def sh(s: String): Set[String] = {
      val t = norm(s).split(" ")
      if (t.length < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = docs.collect().map(r => (r.getLong(0), sh(r.getString(1))))
    val want = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.5
    } yield ((ia, ib), j)).toMap
    assert(got.keySet == want.keySet, s"pair sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12, s"jaccard mismatch at $k") }
  }

  test("simhashPairs: exact dup has hamming 0") {
    val pairs = Dedup.simhashPairs(docsWithPlants, "doc_id", "text", maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((100001L, 100002L)).contains(0))
  }

  test("simhashPairsFromSigs finds ALL pairs at Hamming 4..7 and emits each exactly once") {
    // planted signatures at known Hamming distances from a fixed base —
    // including distances 4..7, the range the old 4x16-bit chunking
    // silently missed. 8x8-bit chunks guarantee recall to Hamming 7.
    val base = 0x0123456789abcdefL
    def flip(x: Long, bits: Seq[Int]): Long = bits.foldLeft(x)((v, b) => v ^ (1L << b))
    val rows = Seq(
      (0L, base),
      (1L, flip(base, Seq(0, 9, 18, 27))),          // hamming 4, spread over 4 chunks
      (2L, flip(base, Seq(63, 55, 47, 39, 31))),    // hamming 5, high chunks
      (3L, flip(base, Seq(1, 2, 3, 4, 5, 6))),      // hamming 6, concentrated
      (4L, flip(base, Seq(0, 8, 16, 24, 32, 40, 48))), // hamming 7, 7 distinct chunks
      (5L, flip(base, Seq(0, 1, 8, 9, 16, 17, 24, 25))) // hamming 8: must NOT pair with base
    )
    val sigs = spark.createDataFrame(rows).toDF("doc_id", "simhash")
    val got = Dedup.simhashPairsFromSigs(sigs, "doc_id", maxHamming = 7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    assert(got.length == got.toSet.size, "each pair exactly once without a distinct()")
    val gotMap = got.toMap
    assert(gotMap.get((0L, 1L)).contains(4))
    assert(gotMap.get((0L, 2L)).contains(5))
    assert(gotMap.get((0L, 3L)).contains(6))
    assert(gotMap.get((0L, 4L)).contains(7))
    assert(!gotMap.contains((0L, 5L)), "hamming 8 exceeds maxHamming")
    // same planted distances under the default radius (7 chunks of 9-10 bits)
    val got6 = Dedup.simhashPairsFromSigs(sigs, "doc_id", maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got6.get((0L, 1L)).contains(4) && got6.get((0L, 2L)).contains(5) && got6.get((0L, 3L)).contains(6))
    assert(!got6.contains((0L, 4L)), "hamming 7 exceeds maxHamming 6")
    // recall is structural, not incidental: no Deduplicate node in the plan
    val plan = Dedup.simhashPairsFromSigs(sigs, "doc_id").queryExecution.optimizedPlan.toString
    assert(!plan.contains("Deduplicate"), s"no distinct node expected:\n$plan")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsFromSigs(sigs, "doc_id", maxHamming = 16)
    }
  }

  test("jaccardPairs exact on planted texts") {
    val df = docsWithPlants.withColumn("blk", lit(1))
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", Seq("blk"), n = 3, minJaccard = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((100001L, 100002L)) == 1.0)
    assert(pairs.contains((100001L, 100003L)))
  }

  test("block-cardinality guard rejects a quadratic-blowup blocking key") {
    val df = docsWithPlants.withColumn("blk", lit(1)) // every row in one block
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(df, "doc_id", "text", Seq("blk"), maxBlockRows = 100)
    }
    assert(e.getMessage.contains("nearDuplicates"))
    // explicit opt-up still works
    assert(Dedup.jaccardPairs(df, "doc_id", "text", Seq("blk"), minJaccard = 0.9,
      maxBlockRows = 10000).count() >= 1)
  }

  test("cosine of identical unit vectors is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.cosinePairs(df, "vec_id", "embedding", "label", -2.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    assert(math.abs(pairs((1L, 3L))) < 1e-12)
  }

  test("fingerprint is order-sensitive") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "alpha beta gamma"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("fingerprint code-point iteration matches DuckDB on astral + combining chars") {
    // DuckDB's length()/slice/unicode() iterate CODE POINTS, same as
    // the kernel's codePointAt/charCount walk — pinned here with
    // golden values computed by DuckDB itself on strings containing
    // an astral-plane char (U+1D11E), an emoji (U+1F600), combining
    // accents (e/i + U+0301/U+0308) and CJK. A desync in either
    // engine's iteration unit breaks the equality.
    val golden = Seq(
      ("a\uD834\uDD1E clef, we\u0301ird: \u4F60\u597D!", 297562335549899824L),
      ("nai\u0308ve \uD83D\uDE00 mix", 672476911841815817L))
    val df = golden.map(_._1).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    golden.zipWithIndex.foreach { case ((_, want), i) =>
      assert(df(i.toLong) == want, s"fingerprint mismatch vs DuckDB golden for row $i")
    }
  }

  test("ANN approximations keep usable recall vs the brute-force baseline") {
    import graft.operators.Ann
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Ann.bruteForceTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 5))
    val lsh = pairs(Ann.lshTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 5, dim = 64))
    val ivf = pairs(Ann.ivfTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 5))
    val lshRecall = (truth & lsh).size.toDouble / truth.size
    val ivfRecall = (truth & ivf).size.toDouble / truth.size
    // approximations: self-match (cos=1) is always found; demand a
    // meaningful fraction of the rest on these random embeddings
    assert(lshRecall >= 0.3, s"LSH recall too low: $lshRecall")
    assert(ivfRecall >= 0.3, s"IVF recall too low: $ivfRecall")
    info(f"recall@5: lsh=$lshRecall%.2f ivf=$ivfRecall%.2f (vs exact)")
  }

  test("lshTopK dedups candidates per-row: no Exchange carries an embedding column") {
    import graft.operators.Ann
    import org.apache.spark.sql.execution.exchange.Exchange
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // AQE off so Exchange nodes sit directly in the tree (not inside query stages)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val res = Ann.lshTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 5, dim = 64)
      // broadcasting the (small) query side WITH its vectors is the
      // design; what must not happen is a shuffle carrying either
      // embedding column (the r2 distinct() did exactly that)
      val exchanges = res.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected the top-k window Exchange")
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.exists(n => n == "embedding" || n == "q_vec"),
          s"Exchange must not shuffle vectors, but outputs $names")
      }
      assert(res.queryExecution.optimizedPlan.collect {
        case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d }.isEmpty,
        "candidate dedup must be the per-row band predicate, not distinct()")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("IVF cell assignment is map-only (no Exchange) and picks the true nearest centroid") {
    import graft.operators.Ann
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", nCells = 16)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"IVF corpus assignment must not shuffle:\n$plan")

    // driver-side truth: same hash-sampled codebook, argmax by (round(cos,9) desc, cid asc)
    val cents = emb
      .withColumn("__h", (col("vec_id") * lit(2654435761L)) % lit(4294967296L))
      .orderBy(col("__h"), col("vec_id")).limit(16)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r9(x: Double): Double = BigDecimal.decimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = assigned.select("vec_id", "embedding", "__cid").collect()
    got.take(100).foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val want = cents.map { case (cid, cv) => (-r9(cos(v, cv)), cid) }.min._2
      assert(r.getLong(2) == want, s"wrong cell for vec ${r.getLong(0)}")
    }
  }

  test("incrementalDedup: drops re-ingested content, keeps novel docs, survives normalization variants") {
    import spark.implicits._
    val history = Seq(
      (1L, "the quick brown fox"), (2L, "pack my box with jugs"), (3L, "sphinx of black quartz"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox"),        // exact re-ingest -> dropped
      (11L, "The  quick BROWN fox!"),      // normalization variant of history -> dropped
      (12L, "a genuinely new document"),   // novel -> kept
      (13L, "pack my box with jugs"),      // re-ingest -> dropped
      (14L, "another new one"))            // novel -> kept
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, history, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 14L))
    // idempotence: deduping the survivors against history again changes nothing
    val again = Dedup.incrementalDedup(
        batch.filter(col("doc_id").isin(12L, 14L)), history, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(again == Set(12L, 14L))
  }

  test("incrementalNearDedup: drops near-dups of history, keeps fresh + NULL docs, idempotent, state-reusable") {
    import spark.implicits._
    val history = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    // batch: exact re-crawls (J=1), light edits (J ~ 0.95), fresh docs, a NULL
    val recrawl = history.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    // edits only on LONG docs: appending 3 tokens to a T-token doc
    // keeps J ~ (T-2)/(T+2), which clears 0.8 only for T >~ 20
    val edited = history.filter(col("doc_id") % 3 === 1)
      .filter(size(split(col("text"), "\\s+")) >= 40)
      .select((col("doc_id") + 20000L).as("doc_id"),
        concat(col("text"), lit(" tiny appended tail")).as("text"))
    val fresh = Seq((30001L, "an entirely unrelated fresh document about nothing in history"),
      (30002L, null: String)).toDF("doc_id", "text")
    val batch = recrawl.unionByName(edited).unionByName(fresh)
    val kept = Dedup.incrementalNearDedup(batch, history, "doc_id", "text", minJaccard = 0.8)
      .select("doc_id").as[Long].collect().toSet
    // every exact re-crawl dropped; fresh + NULL kept
    assert(recrawl.select("doc_id").as[Long].collect().forall(id => !kept.contains(id)),
      "exact re-crawls must be dropped")
    assert(kept.contains(30001L) && kept.contains(30002L), s"fresh/NULL docs must survive: $kept")
    // the edits are near-dups of long docs -> dropped (J >> 0.8)
    val editedIds = edited.select("doc_id").as[Long].collect().toSet
    assert(editedIds.forall(id => !kept.contains(id)), "lightly-edited re-crawls must be dropped")
    // idempotence: survivors re-deduped against the same history all survive again
    val again = Dedup.incrementalNearDedup(
        batch.filter(col("doc_id").isin(kept.toSeq: _*)), history, "doc_id", "text", minJaccard = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept)
    // the stored-state path (parquet round trip) gives identical results
    val stDir = java.nio.file.Files.createTempDirectory("graft_ndstate").toString
    Dedup.nearDupState(history, "doc_id", "text").write.mode("overwrite").parquet(stDir)
    val viaState = Dedup.incrementalNearDedupWithState(
        batch, spark.read.parquet(stDir), "doc_id", "text", minJaccard = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(viaState == kept, "pre-built state must reproduce the inline result")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stDir))
  }

  test("keepFirst keeps exactly one row per key, the earliest") {
    val df = Seq((1L, "a", 3L), (1L, "a", 1L), (1L, "b", 2L), (2L, "a", 9L))
      .toDF("uid", "etype", "ord")
    val res = Dedup.keepFirst(df, Seq("uid", "etype"), Seq(col("ord").asc))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(res == Map((1L, "a") -> 1L, (1L, "b") -> 2L, (2L, "a") -> 9L))
  }

  test("segmentDedup drops shared windows, keeps order, leaves within-doc repeats") {
    // w=3 windows; docs 1+2 share "shared boilerplate header"; doc 3 repeats
    // its own window twice (within-doc repeat must survive: count is per
    // DISTINCT doc); doc 4 is empty text
    val df = Seq(
      (1L, "shared boilerplate header alpha beta gamma"),
      (2L, "shared boilerplate header delta epsilon zeta"),
      (3L, "eta theta iota eta theta iota"),
      (4L, "")
    ).toDF("doc_id", "text")
    val res = Dedup.segmentDedup(df, "doc_id", "text", segmentWords = 3, maxDocs = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(res(1L) == ((2L, 1L, "alpha beta gamma")))
    assert(res(2L) == ((2L, 1L, "delta epsilon zeta")))
    assert(res(3L) == ((2L, 0L, "eta theta iota eta theta iota")))
    assert(res(4L) == ((1L, 0L, "")), "empty text = one empty segment, kept")
  }

  test("segmentDedup reassembly preserves original segment order") {
    // 9 windows of 2 words; none duplicated across docs -> clean_text == normalized input
    val text = (1 to 18).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val r = Dedup.segmentDedup(df, "doc_id", "text", segmentWords = 2).collect().head
    assert(r.getLong(1) == 9L && r.getLong(2) == 0L && r.getString(3) == text)
  }

  test("substringDupStats merges overlapping spans and counts islands exactly") {
    // w=3. doc1/doc2 share "p q r" and "q r s"; doc3 shares "p q r" and
    // "s t u" with doc1 at DISJOINT offsets (two islands); doc6 has no
    // shared shingle at all.
    val df = Seq(
      (1L, "p q r s t u"),
      (2L, "z p q r s w"),
      (3L, "p q r k k k s t u"),
      (6L, "unique words only here nothing shared")
    ).toDF("doc_id", "text")
    val res = Dedup.substringDupStats(df, "doc_id", "text", windowWords = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // doc1: dup shingles at pos 0,1,3 -> [0,3)+[1,4)+[3,6) merge to [0,6)
    assert(res(1L) == ((6, 4L, 3L, 6L, 1.0)))
    // doc2: dup at pos 1,2 -> [1,4)+[2,5) merge to [1,5) = 4 of 6 tokens
    assert(res(2L) == ((6, 4L, 2L, 4L, 0.666667)))
    // doc3: dup at pos 0 and 6 -> two islands of 3 tokens each
    assert(res(3L) == ((9, 7L, 2L, 6L, 0.666667)))
    // doc6: nothing duplicated
    assert(res(6L) == ((6, 4L, 0L, 0L, 0.0)))
  }

  test("substringDupStats short-doc whole-text shingle still dedups") {
    val df = Seq((1L, "hi there"), (2L, "hi there"), (3L, "different")).toDF("doc_id", "text")
    val res = Dedup.substringDupStats(df, "doc_id", "text", windowWords = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // 2 tokens < w: one whole-text shingle, span end clamps to ntok
    assert(res(1L) == ((2, 1L, 1L, 2L, 1.0)))
    assert(res(2L) == ((2, 1L, 1L, 2L, 1.0)))
    assert(res(3L) == ((1, 1L, 0L, 0L, 0.0)))
  }

  test("segmentDedup is idempotent on its own output") {
    val df = Seq(
      (1L, "shared boilerplate header alpha beta gamma"),
      (2L, "shared boilerplate header delta epsilon zeta")
    ).toDF("doc_id", "text")
    val once = Dedup.segmentDedup(df, "doc_id", "text", segmentWords = 3)
      .select(col("doc_id"), col("clean_text").as("text"))
    val twice = Dedup.segmentDedup(once, "doc_id", "text", segmentWords = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(twice == Map(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta"))
  }

  test("containment catches a whole-quoted short doc that symmetric jaccard misses") {
    val short = (1 to 40).map(i => s"quoted$i").mkString(" ")
    val long = (1 to 400).map(i => s"body$i").mkString(" ") + " " + short
    val other = (1 to 300).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, short, "en", "s"), (2L, long, "en", "s"), (3L, other, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang", "source"),
        minContainment = 0.9)
      .select("id_a", "id_b", "cont_a", "cont_b")
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)), s"only the quoted pair: ${cont.toSeq}")
    val (_, _, ca, cb) = cont.head
    assert(ca == 1.0, s"the short doc is FULLY contained: cont_a = $ca")
    assert(cb < 0.2, s"the long doc is mostly novel: cont_b = $cb")
    // the same pair is invisible to symmetric jaccard at any useful threshold
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", Seq("lang", "source"), minJaccard = 0.5)
    assert(j.count() == 0, "symmetric jaccard must miss the quotation pair (the operator's point)")
  }

  test("sortedNeighborhood finds prefix-sorted copies, misses prefix-divergent ones, bounds candidates") {
    val body = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = (
      Seq((1L, s"$body ending one"), (2L, s"$body ending two")) ++      // shared prefix near-dups
      Seq((3L, s"zz prefix differs $body"), (4L, s"aa other start $body")) ++ // same tail, divergent prefix
      (10L to 60L).map(i => i -> (1 to 50).map(j => s"u${i}w$j").mkString(" ")) // unrelated filler
    ).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhood(docs, "doc_id", "text",
        window = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"adjacent-in-sort copies must be found: $pairs")
    assert(!pairs.contains((3L, 4L)),
      "prefix-divergent near-dups sort apart — the documented trade (band families catch them)")
    // invariance across input partitionings
    val again = Dedup.sortedNeighborhood(docs.repartition(7), "doc_id", "text",
        window = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again == pairs)
    assert(intercept[IllegalArgumentException](
      Dedup.sortedNeighborhood(docs, "doc_id", "text", window = 1))
      .getMessage.contains("window must be >= 2"))
  }

  test("incrementalNearDedup refuses a batch above maxBatchRows loudly") {
    val history = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val batch = (10L to 19L).map(i => (i, s"doc number $i words here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDedup(batch, history, "doc_id", "text", maxBatchRows = 5L)
    }
    assert(e.getMessage.contains("maxBatchRows") || e.getMessage.contains("batch rows"),
      s"guard must name the contract: ${e.getMessage}")
    // at/below the bound the operator still works
    val kept = Dedup.incrementalNearDedup(batch, history, "doc_id", "text", maxBatchRows = 10L)
    assert(kept.count() == 10L, "non-duplicate batch survives under the bound")
  }

  test("exactDupSpans recovers a planted sub-10-token overlap with exact offsets") {
    // 6-token copied span ("one two three four five six") planted at
    // token 3 of doc 1 and token 2 of doc 2, inside otherwise-unique noise
    val docs = Seq(
      (1L, "aa bb cc one two three four five six dd ee"),
      (2L, "ff gg one two three four five six hh"),
      (3L, "ii jj kk ll mm nn oo pp qq rr")).toDF("doc_id", "text")
    val got = Dedup.exactDupSpans(docs, "doc_id", "text", minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(5))).sorted
    assert(got.toSeq == Seq(
      (1L, 3L, 9L, "one two three four five six"),
      (2L, 2L, 8L, "one two three four five six")),
      s"maximal spans must carry exact [start, end) offsets and the copied text: ${got.toSeq}")
  }

  test("exactDupSpans: overlaps shorter than minTokens stay invisible; whole-doc short dups surface") {
    val docs = Seq(
      (1L, "pp qq rr ss zz yy xx"), // 4-token overlap pp..ss with doc 2
      (2L, "pp qq rr ss aa bb cc"),
      (3L, "tiny doc"), // exact whole-text dup with doc 4 (< minTokens)
      (4L, "tiny doc")).toDF("doc_id", "text")
    val got = Dedup.exactDupSpans(docs, "doc_id", "text", minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(!got.exists(g => g._1 == 1L || g._1 == 2L),
      s"a 4-token overlap must not survive minTokens=5: ${got.toSeq}")
    assert(got.toSet == Set((3L, 0L, 2L), (4L, 0L, 2L)),
      s"short whole-doc copies ride the single whole-text window: ${got.toSeq}")
  }

  test("exactDupSpans merges adjacent duplicated windows into ONE maximal span") {
    // a 9-token copied run = 5 overlapping 5-windows -> exactly one island
    val run = "k1 k2 k3 k4 k5 k6 k7 k8 k9"
    val docs = Seq(
      (1L, s"u1 u2 $run u3 u4"),
      (2L, s"v1 $run v2 v3 v4")).toDF("doc_id", "text")
    val got = Dedup.exactDupSpans(docs, "doc_id", "text", minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(got.length == 2 && got.forall(_._4 == 5L),
      s"each doc gets one island of 5 windows: ${got.toSeq}")
    assert(got.toSet == Set((1L, 2L, 11L, 5L), (2L, 1L, 10L, 5L)), got.toSeq.toString)
  }

  test("exactDupSpans plan: no cartesian/nested-loop anywhere in the span pipeline") {
    val docs = Seq((1L, "aa bb cc dd ee ff"), (2L, "aa bb cc dd ee gg")).toDF("doc_id", "text")
    val plan = Dedup.exactDupSpans(docs, "doc_id", "text", minTokens = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span extraction must stay equi-join only:\n$plan")
  }

  test("dedup_ppjoin: prefix join is an equi-join with no cartesian product and no corpus-wide window") {
    val plan = q("dedup_ppjoin").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no all-pairs stage:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no stage may collapse to a single partition:\n$plan")
  }

  test("pipeline_er: entity partition is consistent (sizes sum to corpus, one canonical each)") {
    val out = q("pipeline_er").cache()
    try {
      val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet").count()
      assert(out.count() == docs, "every document gets exactly one entity row")
      // csize really is the entity's row count
      val bad = out.groupBy("entity_id").agg(count(lit(1)).as("n"), first("csize").as("c"),
          sum(when(col("is_canonical"), 1).otherwise(0)).as("canon"))
        .filter(col("n") =!= col("c") || col("canon") =!= 1).count()
      assert(bad == 0, "each entity: csize == member count and exactly one canonical")
      // canonical representative is the smallest member id
      val badCanon = out.groupBy("entity_id").agg(min("doc_id").as("lo"))
        .filter(col("entity_id") =!= col("lo")).count()
      assert(badCanon == 0, "entity_id must be the component minimum")
    } finally out.unpersist()
  }

  test("dedup_keepbest: exactly one keep per cluster and it is the longest member") {
    val out = q("dedup_keepbest").cache()
    try {
      val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet").count()
      assert(out.count() == docs, "every document gets exactly one row")
      val badKeep = out.groupBy("cluster_id")
        .agg(sum(when(col("keep"), 1).otherwise(0)).as("keeps"))
        .filter(col("keeps") =!= 1).count()
      assert(badKeep == 0, "each cluster keeps exactly one member")
      // the kept member attains the cluster's (max len, min doc_id at that len)
      val best = out.groupBy("cluster_id").agg(max(struct(col("len"),
        (-col("doc_id")).as("negid"))).as("b"))
      val bad = out.filter(col("keep"))
        .join(best, "cluster_id")
        .filter(col("len") =!= col("b.len") || col("doc_id") =!= -col("b.negid"))
        .count()
      assert(bad == 0, "survivor must be longest, tie -> smallest id")
    } finally out.unpersist()
  }

  test("keep rule prefers content length over id accident (seeded cluster)") {
    import spark.implicits._
    // three near-identical docs; the LONGEST has the LARGEST id, so the
    // id-minimum rule and the C4 rule disagree — the query must keep 93.
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    val seeded = Seq(
      (91L, common),
      (92L, common + "lambda"),
      (93L, common + "lambda mu nu"),
      (94L, "entirely different text about bucketed joins and shuffle-free plans")
    ).toDF("doc_id", "text")
    val cl = graft.operators.Graph.dedupClusters(seeded, "doc_id", "text", minJaccard = 0.8)
      .select("doc_id", "cluster_id")
    val len = seeded.select(col("doc_id"),
      length(graft.operators.Dedup.normalizeText(col("text"))).cast("long").as("len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("len").desc, col("doc_id"))
    val kept = cl.join(len, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(93L), s"C4 rule keeps the longest member, got $kept")
    assert(kept.contains(94L), "singleton is its own survivor")
    assert(kept.size == 2, s"one survivor per cluster, got $kept")
  }
}
