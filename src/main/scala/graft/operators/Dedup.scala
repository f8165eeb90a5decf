package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines.
 * All composed from built-in (codegen'd) functions — no UDFs — and
 * all shuffle-bounded: near-dup candidate generation is an equi-join
 * on (band, signature) buckets, never an O(n^2) comparison.
 *
 * Scale notes (SURVEY.md §4): exact dedup is one hash aggregate with
 * map-side combine; minhash/simhash signatures are per-row codegen
 * kernels (map-only — no explode, no signature shuffle); banding
 * keeps the candidate self-join bounded by bucket size.
 */
object Dedup {

  /** Lowercase, collapse whitespace, strip basic punctuation. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[.,!?;:'\"]", ""), "\\s+", " "))

  /** SQL twin of normalizeText for DuckDB oracles. */
  def normalizeTextSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[.,!?;:''\"]', '', 'g'), '\\s+', ' ', 'g'))"

  /**
   * Exact dedup: one surviving row id per distinct (normalized)
   * text, plus the duplicate count. At scale: group on a 256-bit
   * content hash, not the text itself (shuffle keys stay small).
   */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__norm", normalizeText(col(textCol)))
      .groupBy(sha2(col("__norm"), 256).as("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Keep-first dedup by key(s), ordered by `orderCols` (earliest wins). */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Distinct word n-gram shingles of a text column — codegen kernel
   * (graft.functions.WordShinglesExpr); the equivalent higher-order-
   * function pipeline (transform+slice+array_join) runs interpreted
   * and profiled ~8x slower at sf0.1.
   */
  def shingles(text: Column, n: Int): Column =
    graft.functions.native.wordShingles(normalizeText(text), lit(n))

  /**
   * MinHash signature: one base hash per shingle, `numPerms` seeded
   * universal-hash mixes, element-wise min — all inside a single
   * per-row codegen kernel (graft.functions.MinHashSigExpr).
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, numPerms: Int, shingleN: Int = 3): DataFrame = {
    // per-row kernel: signature generation is map-only (no explode /
    // groupBy shuffle) — see graft.functions.SigKernels
    df.select(col(idCol),
      graft.functions.native.minhashSig(shingles(col(textCol), shingleN), lit(numPerms)).as("sig"))
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs: band the signature,
   * bucket-join on (band index, band hash), keep pairs whose
   * estimated Jaccard (fraction of matching signature components)
   * reaches `minEstSim`. Bounded equi-join — the 100 TB scale path.
   */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numPerms: Int = 64, bands: Int = 16, minEstSim: Double = 0.5,
                   shingleN: Int = 3): DataFrame = {
    // signatures are tiny relative to the corpus (numPerms longs per
    // doc); cache so the banded self-join doesn't recompute the
    // shingle scan twice
    val sigs = CacheUtil.cached(minhashSignatures(df, idCol, textCol, numPerms, shingleN))
    estimatedPairs(sigs, idCol, numPerms, bands, minEstSim)
  }

  /** Banded candidate pairs with their signature-estimated Jaccard,
   *  from an (id, sig) frame — the cache-free core shared by
   *  [[minhashPairs]] and [[minhashCalibration]] (which re-scans the
   *  corpus for exact shingle sets anyway, so caching signatures buys
   *  nothing there). */
  private def estimatedPairs(sigs: DataFrame, idCol: String, numPerms: Int,
                             bands: Int, minEstSim: Double): DataFrame = {
    val rowsPerBand = bandLayout(numPerms, bands)
    bandedCandidates(sigs, idCol, bands, rowsPerBand)
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .withColumn("est_sim",
        graft.functions.native.matchCount(col("sig_a"), col("sig_b")).cast("double") / numPerms)
      .filter(col("est_sim") >= minEstSim)
      .select("id_a", "id_b", "est_sim")
  }

  /** Validated band geometry. A zero-width band would hash an empty
   *  slice to a CONSTANT key and turn the band self-join into a full
   *  cross product — the exact blowup the banding exists to prevent —
   *  and a non-divisible remainder would silently ignore the trailing
   *  signature components. */
  private def bandLayout(numPerms: Int, bands: Int): Int = {
    require(bands >= 1 && numPerms % bands == 0 && numPerms / bands >= 1,
      s"numPerms must be a positive multiple of bands: numPerms=$numPerms bands=$bands")
    numPerms / bands
  }

  /** Banded LSH candidate pairs over a (id, sig) frame: per-band
   *  xxhash64 bucket keys, bounded self-join, ordered-pair filter,
   *  exactly-once emission at the first truly-matching band (no
   *  distinct shuffle). Shared by [[minhashPairs]] and
   *  [[nearDuplicates]]. */
  /** The band bucket keys of a signature column — ONE definition of
   *  the banding geometry shared by the self-join path and the
   *  incremental batch-vs-history path (a drift between the two would
   *  silently lose candidates). */
  private def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(sig, lit(b * rowsPerBand + 1), lit(rowsPerBand)))): _*)

  private def bandedCandidates(sigs: DataFrame, idCol: String,
                               bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = sigs.select(col(idCol), col("sig"),
      posexplode(bandHashes(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
    banded.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("band"), col("bandhash"))
      .join(banded.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("band"), col("bandhash")),
        Seq("band", "bandhash"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("band") === firstMatchingBand(col("sig_a"), col("sig_b"), bands, rowsPerBand))
  }

  /**
   * Index of the first band whose signature slices truly agree (null
   * if none — i.e. the band join matched only via an xxhash64
   * collision). Lets band-join outputs dedup per-row instead of with
   * a full shuffle of all candidate pairs.
   */
  private def firstMatchingBand(sigA: Column, sigB: Column, bands: Int, rowsPerBand: Int): Column =
    coalesce((0 until bands).map { b =>
      when(slice(sigA, b * rowsPerBand + 1, rowsPerBand) === slice(sigB, b * rowsPerBand + 1, rowsPerBand),
        lit(b))
    }: _*)

  /**
   * The recommended near-duplicate pipeline at corpus scale:
   * MinHash-LSH candidate generation (bounded band equi-join) feeding
   * EXACT n-gram Jaccard verification (sorted-hash merge kernel).
   * Unlike [[jaccardPairs]] with coarse blocking keys, candidates are
   * bounded by the banding — never quadratic within a block — so this
   * is the 100 TB path; jaccardPairs remains for small-domain keys.
   *
   * Recall: with the default 32 bands x 4 rows, a pair at the 0.8
   * threshold is missed with probability (1 - 0.8^4)^32 ~ 5e-8, so
   * the output matches brute force (the registry query's DuckDB
   * oracle IS brute force over all pairs).
   */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double = 0.8, numPerms: Int = 128, bands: Int = 32,
                     shingleN: Int = 3): DataFrame = {
    val rowsPerBand = bandLayout(numPerms, bands)
    // one shingle scan: signature (for candidates) + sorted hashes
    // (for exact verification) computed side by side, then cached —
    // both the band self-join and the two verification joins reuse it
    val base = CacheUtil.cached(df.select(col(idCol), shingles(col(textCol), shingleN).as("__shg"))
      .select(col(idCol),
        graft.functions.native.minhashSig(col("__shg"), lit(numPerms)).as("sig"),
        graft.functions.native.sortedHashes(col("__shg")).as("sh"))
      .withColumn("sz", size(col("sh"))))
    // slim candidate pairs (ids only — the heavy shingle-hash arrays
    // do NOT ride through the band join's row multiplication)
    val cand = bandedCandidates(base.select(col(idCol), col("sig")), idCol, bands, rowsPerBand)
      .select("id_a", "id_b")
    cand
      .join(base.select(col(idCol).as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), "id_b")
      // size bound: J <= min/max, prune before the merge
      .filter(least(col("sz_a"), col("sz_b")) >= lit(minJaccard) * greatest(col("sz_a"), col("sz_b")))
      .withColumn("inter", graft.functions.native.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Benchmark decontamination: per document, how many of its distinct
   * n-gram shingles appear in a benchmark/eval corpus. The benchmark's
   * distinct shingle hashes are collected driver-side (bounded — eval
   * suites are orders of magnitude smaller than the training corpus)
   * and inlined as a sorted literal array, so the corpus pass is
   * MAP-ONLY: per-row sorted-merge intersect (the jaccardPairs
   * kernel), no join, no shuffle — the shape that holds at 100 TB.
   * Returns (id, n_shingles, n_matched); thresholding is the
   * caller's policy. NOTE: a ratio policy like
   * `n_matched * 2 >= n_shingles` flags zero-shingle docs
   * (empty/short/null text — 0 >= 0) as contaminated; guard it with
   * `n_shingles > 0`. Null text yields n_shingles = 0, not null.
   */
  def contaminationCheck(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         shingleN: Int = 3): DataFrame = {
    val bench = benchmark
      .select(explode(graft.functions.native.sortedHashes(shingles(col(benchTextCol), shingleN))).as("h"))
      .distinct().orderBy("h").collect().map(_.getLong(0))
    // broadcast, NOT a typedLit literal: a 10M-hash eval suite as a
    // Literal would ride inside the expression tree (re-serialized per
    // task binding, walked by canonicalization/codegen); the broadcast
    // ships once per executor
    val bc = docs.sparkSession.sparkContext.broadcast(bench)
    docs.select(col(idCol),
        coalesce(graft.functions.native.sortedHashes(shingles(col(textCol), shingleN)),
          array().cast("array<bigint>")).as("__sh"))
      .withColumn("n_shingles", size(col("__sh")).cast("long"))
      .withColumn("n_matched",
        graft.functions.native.intersectCountBc(col("__sh"), bc).cast("long"))
      .drop("__sh")
  }

  /** 64-bit SimHash from token hashes (sign of per-bit weighted sums) — per-row kernel, map-only. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol),
      graft.functions.native.simhash(split(normalizeText(col(textCol)), " ")).as("simhash"))
  }

  /** SimHash candidate chunking, adaptive to the requested radius: the
   *  64 signature bits split into (maxHamming + 1) contiguous chunks.
   *  By pigeonhole any pair at Hamming <= maxHamming leaves at least
   *  one chunk untouched, so the chunk equi-join is LOSSLESS — and
   *  using exactly maxHamming + 1 chunks keeps each chunk as wide
   *  (and buckets as sparse) as the guarantee allows: e.g. the
   *  default Hamming <= 6 gets 7 chunks of 9-10 bits, not 8 of 8.
   *  Returns (shift, width) per chunk. */
  private def simhashChunkLayout(maxHamming: Int): Seq[(Int, Int)] = {
    val n = maxHamming + 1
    val widths = Seq.tabulate(n)(i => 64 / n + (if (i < 64 % n) 1 else 0))
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }

  private def simhashChunk(sig: Column, shift: Int, width: Int): Column =
    if (width >= 64) sig
    else shiftrightunsigned(sig, shift).bitwiseAND((1L << width) - 1)

  /** Index of the first chunk where the two signatures agree (never
   *  null for joined rows — the join key IS the chunk value). The
   *  per-row predicate that makes multi-chunk matches emit exactly
   *  once without a distinct shuffle (same trick as
   *  [[firstMatchingBand]]). */
  private def firstMatchingChunk(a: Column, b: Column, layout: Seq[(Int, Int)]): Column =
    coalesce(layout.zipWithIndex.map { case ((shift, width), k) =>
      when(simhashChunk(a, shift, width) === simhashChunk(b, shift, width), lit(k))
    }: _*)

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming,
   * candidate-generated by joining on (maxHamming + 1) signature
   * chunks. The chunking is exhaustive up to maxHamming by
   * pigeonhole, so the output is EXACTLY all pairs at Hamming <=
   * maxHamming — no recall loss (property-tested at Hamming 4..7,
   * and the registry oracle brute-forces all pairs).
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 6): DataFrame =
    // the signature scan feeds both sides of the chunk self-join, so
    // caching it halves the text-kernel work
    simhashPairsFromSigs(CacheUtil.cached(simhashSignatures(df, idCol, textCol)), idCol, maxHamming)

  /** Pair generation over a precomputed (id, simhash) frame — the
   *  persistable-signature entry point (and the oracle/property-test
   *  seam). No distinct: a pair matching several chunks survives only
   *  at its first matching chunk. */
  def simhashPairsFromSigs(sigs: DataFrame, idCol: String, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (chunks need >= 4 bits to bucket usefully); got $maxHamming")
    val layout = simhashChunkLayout(maxHamming)
    val chunked = sigs.select(col(idCol), col("simhash"),
      posexplode(array(layout.map { case (shift, width) =>
        simhashChunk(col("simhash"), shift, width) }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkval")
    val a = chunked.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("chunk"), col("chunkval"))
    val b = chunked.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("chunk"), col("chunkval"))
    a.join(b, Seq("chunk", "chunkval"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("chunk") === firstMatchingChunk(col("sh_a"), col("sh_b"), layout))
      .select(col("id_a"), col("id_b"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * MinHash estimator CALIBRATION — the "measure, don't guess" table
   * for the banding family: every banded candidate pair gets its
   * EXACT shingle Jaccard (the sorted-hash linear-merge kernel)
   * joined next to the signature estimate, bucketed by estimated
   * matches (est64 = est_sim x numPerms, an exact integer). The
   * output is the estimator's error envelope per bucket
   * (n / min / max / truncated mean of exact Jaccard x 1e4) — what
   * you read before trusting a threshold at 100 TB. No brute force
   * anywhere: BOTH sides run only over banding survivors, so the
   * whole evaluation scales exactly like the dedup it audits.
   */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         numPerms: Int = 64, bands: Int = 16, minEstSim: Double = 0.5,
                         shingleN: Int = 3): DataFrame = {
    // NO signature cache here: calibration re-reads the corpus for
    // exact shingle sets regardless, so the cache would buy nothing
    val sigs = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    val pairs = estimatedPairs(sigs, idCol, numPerms, bands, minEstSim)
    val sh = df.select(col(idCol).as("__cid"),
        graft.functions.native.sortedHashes(shingles(col(textCol), shingleN)).as("__csh"))
      .withColumn("__csz", size(col("__csh")))
    val a = sh.select(col("__cid").as("id_a"), col("__csh").as("sh_a"), col("__csz").as("sz_a"))
    val b = sh.select(col("__cid").as("id_b"), col("__csh").as("sh_b"), col("__csz").as("sz_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", graft.functions.native.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("exact_e4", expr("(inter * 10000) div (sz_a + sz_b - inter)"))
      .withColumn("est64", round(col("est_sim") * numPerms).cast("long"))
      .groupBy("est64")
      .agg(count(lit(1)).as("n_pairs"), min("exact_e4").as("min_e4"),
        max("exact_e4").as("max_e4"), sum("exact_e4").as("__sum_e4"))
      .withColumn("mean_e4", expr("__sum_e4 div n_pairs"))
      .drop("__sum_e4")
  }

  /**
   * Cross-corpus simhash candidate pairs: every (a, b) with Hamming
   * distance <= maxHamming BETWEEN two frames (batch vs stored state
   * — the incremental-ingest shape), sharing the self-join's chunk
   * layout, first-matching-chunk exactly-once emission and bit_count
   * verify. Both frames carry a 64-bit `simhash` column; output:
   * (<aId>, <bId>, hamming). Like the self-join, candidates are
   * bounded by chunk-bucket products, never |a| x |b|.
   */
  def simhashCrossPairs(a: DataFrame, aId: String, b: DataFrame, bId: String,
                        maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (chunks need >= 4 bits to bucket usefully); got $maxHamming")
    require(aId != bId, s"simhashCrossPairs: id columns must have distinct names (both '$aId')")
    val layout = simhashChunkLayout(maxHamming)
    def chunked(df: DataFrame, id: String, sigAs: String) =
      df.select(col(id), col("simhash").as(sigAs),
        posexplode(array(layout.map { case (shift, width) =>
          simhashChunk(col("simhash"), shift, width) }: _*)))
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkval")
    chunked(a, aId, "sh_a").join(chunked(b, bId, "sh_b"), Seq("chunk", "chunkval"))
      .filter(col("chunk") === firstMatchingChunk(col("sh_a"), col("sh_b"), layout))
      .select(col(aId), col(bId), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Word-ngram Jaccard similarity for pairs within a blocking key
   * (at 100 TB you never all-pairs; block, then set-compare).
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], n: Int = 3, minJaccard: Double = 0.5,
                   maxBlockRows: Long = 1000000L): DataFrame = {
    // quadratic-within-block: a coarse blocking key at corpus scale
    // quietly explodes (10^8-row block = 10^16 comparisons). The guard
    // costs one cheap 2-column aggregate; at real scale that is noise
    // next to the join it prevents. Route big corpora to nearDuplicates.
    guardBlockCardinality(df, blockCols, maxBlockRows, "jaccardPairs")
    // each doc's shingle set becomes a sorted array of 64-bit hashes
    // once; per-pair intersection is then a linear long-merge kernel
    // instead of a per-pair string hash set (profiled ~5x faster)
    // both join sides share one shingle scan
    val sh = CacheUtil.cached(df.select((blockCols :+ idCol).map(col) :+
        graft.functions.native.sortedHashes(shingles(col(textCol), n)).as("sh"): _*)
      .withColumn("sz", size(col("sh"))))
    val a = sh.select(blockCols.map(col) :+ col(idCol).as("id_a") :+ col("sh").as("sh_a") :+ col("sz").as("sz_a"): _*)
    val b = sh.select(blockCols.map(col) :+ col(idCol).as("id_b") :+ col("sh").as("sh_b") :+ col("sz").as("sz_b"): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      // size bound: J <= min/max, so prune before the set intersection
      .filter(least(col("sz_a"), col("sz_b")) >= lit(minJaccard) * greatest(col("sz_a"), col("sz_b")))
      .withColumn("inter", graft.functions.native.intersectCount(col("sh_a"), col("sh_b")))
      // |a ∪ b| = |a| + |b| - |a ∩ b| (shingle arrays are distinct)
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Sorted-neighborhood near-dup blocking (Hernandez & Stolfo 1996's
   * merge/purge method): rank the corpus by a CONTENT sort key (the
   * prefix of the normalized text, id tie-broken) and compare each
   * row only against the `window - 1` rows following it in that
   * order. A different blocking family from hashes/bands: candidate
   * count is bounded at n x (window-1) BY CONSTRUCTION whatever the
   * data distribution (hash blocks can explode on hot keys), and
   * prefix-sorted neighbors catch the copies-with-divergent-tails
   * case cheaply. The trade: near-dups whose PREFIXES differ sort
   * apart — route those to the minhash/simhash band families; SNM is
   * the cheap first pass, not the recall guarantee.
   *
   * Scale shape: [[graft.operators.Rank.globalRowNumber]]'s range
   * exchange (full-parallel sort, no single-task window), then a
   * map-side offset explode equi-joined back on rank — never a
   * theta/range join. Exact sorted-hash Jaccard verifies every
   * candidate (the jaccardPairs kernel), so false candidates cost a
   * linear merge, never a wrong drop.
   */
  def sortedNeighborhood(df: DataFrame, idCol: String, textCol: String,
                         window: Int = 4, n: Int = 3, minJaccard: Double = 0.5,
                         keyLen: Int = 24): DataFrame = {
    require(window >= 2, s"sortedNeighborhood: window must be >= 2, got $window")
    require(keyLen >= 1, s"sortedNeighborhood: keyLen must be >= 1, got $keyLen")
    val sh = df.select(col(idCol),
        substring(normalizeText(col(textCol)), 1, keyLen).as("__snkey"),
        graft.functions.native.sortedHashes(shingles(col(textCol), n)).as("sh"))
      .withColumn("sz", size(col("sh")))
    val ranked = CacheUtil.cached(graft.operators.Rank
      .globalRowNumber(sh, Seq(col("__snkey"), col(idCol))))
    val a = ranked.select(col(idCol).as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a"), col("rank"),
        explode(sequence(lit(1), lit(window - 1))).as("__off"))
      .withColumn("rank", col("rank") + col("__off")).drop("__off")
    val b = ranked.select(col(idCol).as("id_b"), col("sh").as("sh_b"),
      col("sz").as("sz_b"), col("rank"))
    a.join(b, "rank")
      .filter(least(col("sz_a"), col("sz_b")) >= lit(minJaccard) * greatest(col("sz_a"), col("sz_b")))
      .withColumn("inter", graft.functions.native.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      // canonical undirected pair order (the rank order is a sort-key
      // artifact; ids are the stable identity)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /**
   * Asymmetric shingle CONTAINMENT (Broder 1997's second resemblance
   * measure): c(A in B) = |A ∩ B| / |A|. The dedup case symmetric
   * Jaccard structurally misses: a short document quoted whole
   * inside a much longer one has J ≈ |A|/|B| (arbitrarily small)
   * but containment 1.0 — superset/quotation duplicates. Emits one
   * row per blocked pair with BOTH directed containments
   * (cont_a = containment of a in b, cont_b vice versa), filtered
   * on the larger of the two; no size-ratio prune exists here (any
   * size gap can still contain), which is exactly why the measure
   * sees what the Jaccard size bound prunes away. Same
   * blocked-quadratic shape and cardinality guard as
   * [[jaccardPairs]] — route unblocked corpora to the banded paths.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], n: Int = 3, minContainment: Double = 0.8,
                       maxBlockRows: Long = 1000000L): DataFrame = {
    guardBlockCardinality(df, blockCols, maxBlockRows, "containmentPairs")
    val sh = CacheUtil.cached(df.select((blockCols :+ idCol).map(col) :+
        graft.functions.native.sortedHashes(shingles(col(textCol), n)).as("sh"): _*)
      .withColumn("sz", size(col("sh"))))
    val a = sh.select(blockCols.map(col) :+ col(idCol).as("id_a") :+ col("sh").as("sh_a") :+ col("sz").as("sz_a"): _*)
    val b = sh.select(blockCols.map(col) :+ col(idCol).as("id_b") :+ col("sh").as("sh_b") :+ col("sz").as("sz_b"): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", graft.functions.native.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("cont_a", col("inter").cast("double") / col("sz_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("sz_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  /**
   * Cosine similarity of two float-vector columns: single-pass
   * codegen kernel with double accumulation (sequential element
   * order — matches the DuckDB oracle's explicit fold).
   */
  def cosine(a: Column, b: Column): Column = graft.functions.native.cosineSim(a, b)

  /** Largest block size must stay under the quadratic-blowup bound —
   *  see [[jaccardPairs]]. One aggregate over the block columns only
   *  (column-pruned scan). */
  private def guardBlockCardinality(df: DataFrame, blockCols: Seq[String],
                                    maxBlockRows: Long, op: String): Unit = {
    val worst = df.groupBy(blockCols.map(col): _*).count()
      .agg(max("count")).collect()(0)
    if (!worst.isNullAt(0)) {
      val m = worst.getLong(0)
      require(m <= maxBlockRows,
        s"$op: largest block has $m rows (> $maxBlockRows) — quadratic comparison would explode; " +
          "use a finer blocking key, raise maxBlockRows explicitly, or use nearDuplicates (LSH) instead")
    }
  }

  /**
   * Incremental exact dedup: drop new-batch documents whose content
   * already exists in a (much larger) historical corpus — the
   * recurring-ingest dedup every growing training corpus runs, where
   * re-deduplicating history from scratch is off the table. The
   * dedup key is the portable content fingerprint
   * ([[TextAnalysis.fingerprint]] over normalized text), so the
   * decision is engine-replayable.
   *
   * The 100 TB shape is a Bloom prefilter at its real use site: one
   * bounded aggregation over history builds the filter
   * ([[Sketch.bloomBuild]]); the batch pass is then MAP-ONLY for
   * every bloom-negative row (provably novel — no false negatives),
   * and only the positive sliver (true duplicates + the documented
   * FP rate) rides an anti-join against history's slim fingerprint
   * column. History itself is never joined full-width and never
   * shuffled with text aboard.
   *
   * NULL-text rows are dropped (their fingerprint is NULL, which
   * fails both filter branches) — filter them out or assign content
   * upstream if they must survive.
   */
  def incrementalDedup(newBatch: DataFrame, history: DataFrame,
                       textCol: String,
                       logM: Int = 16, k: Int = 4): DataFrame = {
    import graft.operators.{Sketch, TextAnalysis}
    // history's slim fingerprint column, cached: the Bloom build
    // materializes it, and the verify anti-join then reads the cache
    // instead of RE-FINGERPRINTING the entire history text
    val hist = CacheUtil.cached(history
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      // NULL fp (NULL text) can match nothing on either branch; dropping it keeps the cache slim
      .filter(col("__fp").isNotNull))
    val words = Sketch.bloomBuild(hist, "__fp", logM, k) // materializes (and caches) the fingerprints
    val batch = newBatch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val hit = Sketch.bloomProbe(col("__fp"), words, logM, k)
    val novel = batch.filter(!hit) // map-only: no false negatives => provably not in history
    val survivors = batch.filter(hit) // bounded sliver: dups + FPs
      .join(hist, Seq("__fp"), "left_anti")
    novel.unionByName(survivors).drop("__fp")
  }

  /**
   * Near-dup summary state of a corpus: one row per document with its
   * MinHash signature, sorted shingle hashes, and shingle count —
   * ONE shingle scan. This is what recurring ingest PERSISTS (write
   * it to parquet next to the corpus, refresh it as batches land) so
   * history text is never re-shingled: [[incrementalNearDedup]] needs
   * only this slim state, not the history text. NULL-text rows are
   * excluded (no shingles → can never match; keeping them would also
   * give every one the same degenerate band key).
   */
  def nearDupState(df: DataFrame, idCol: String, textCol: String,
                   numPerms: Int = 128, shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("__hist_id"), shingles(col(textCol), shingleN).as("__shg"))
      .select(col("__hist_id"),
        graft.functions.native.minhashSig(col("__shg"), lit(numPerms)).as("sig"),
        graft.functions.native.sortedHashes(col("__shg")).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)

  /**
   * Incremental NEAR-duplicate dedup: drop new-batch documents whose
   * exact n-gram Jaccard with ANY historical document reaches
   * `minJaccard` — the recurring-ingest shape of [[nearDuplicates]],
   * where re-deduplicating history against itself is off the table.
   *
   * The 100 TB shape: history participates ONLY through its slim
   * [[nearDupState]] (signatures + sorted shingle hashes — stored
   * once, reused every ingest; text never re-shingled). Candidates
   * come from a bounded band equi-join of the (small) batch's band
   * keys against history's; each candidate pair is verified with the
   * exact sorted-hash merge before it can drop a batch row, so false
   * band collisions never delete data. Batch rows with NULL/shingle-
   * free text survive (no positive Jaccard is definable for them).
   *
   * Recall is the banding curve: with the default 128 perms x 32
   * bands a true pair at J >= 0.8 is missed with p ~ 5e-8 (see
   * [[nearDuplicates]]); at lower thresholds widen bands accordingly.
   *
   * Batch-size limit: `maxBatchRows` defaults to 100000. A batch with
   * more rows throws `IllegalArgumentException` (checked by a bounded
   * row-count job before any broadcast is built) instead of building
   * a driver-OOM-sized broadcast; callers with larger batches and a
   * driver sized for them raise `maxBatchRows` explicitly.
   */
  def incrementalNearDedup(newBatch: DataFrame, history: DataFrame,
                           idCol: String, textCol: String,
                           minJaccard: Double = 0.8, numPerms: Int = 128,
                           bands: Int = 32, shingleN: Int = 3,
                           maxBatchRows: Long = 100000L): DataFrame =
    // the state is consumed twice (band join + verify join); the cache
    // is owned by the result, so a throwing batch guard leaves nothing
    // behind either. Recurring-ingest callers that keep the state
    // across batches use [[incrementalNearDedupWithState]].
    incrementalNearDedupWithState(newBatch,
      CacheUtil.cached(nearDupState(history, idCol, textCol, numPerms, shingleN)),
      idCol, textCol, minJaccard, numPerms, bands, shingleN, maxBatchRows)

  /** As [[incrementalNearDedup]] against a PRE-BUILT (and ideally
   *  persisted/stored) [[nearDupState]] — the entry point for real
   *  recurring ingest. `state` is consumed twice (band join + exact
   *  verify); materialize it or the state recomputes per consumer.
   *  Same batch-size limit: `maxBatchRows` defaults to 100000, and a
   *  larger batch throws `IllegalArgumentException`. */
  def incrementalNearDedupWithState(newBatch: DataFrame, state: DataFrame,
                                    idCol: String, textCol: String,
                                    minJaccard: Double = 0.8, numPerms: Int = 128,
                                    bands: Int = 32, shingleN: Int = 3,
                                    maxBatchRows: Long = 100000L): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0, s"minJaccard must be in (0, 1]: $minJaccard")
    val rowsPerBand = bandLayout(numPerms, bands)
    Sampling.requireIntegralId(newBatch, idCol, "incrementalNearDedup")
    // the small-batch broadcast contract, ENFORCED (the hardNegatives
    // maxAnchors discipline): every batch-derived frame below is
    // broadcast — the banded keys blow up to batch x bands rows each
    // carrying the full signature array, so a corpus-sized "batch"
    // would build a driver-OOM-shaped plan instead of a degraded but
    // working one. Row-count-only probe (`limit(max + 1).count`, a
    // bounded job that reads no text); raise maxBatchRows explicitly
    // if your ingest batches are genuinely larger and your driver is
    // sized for ~batch x bands x (numPerms x 4 B) of broadcast.
    val nBatch = newBatch.select(lit(1)).limit(
      (maxBatchRows + 1).min(Int.MaxValue.toLong).toInt).count()
    require(nBatch <= maxBatchRows,
      s"incrementalNearDedup: > $maxBatchRows batch rows — the operator broadcasts " +
        "batch-derived band keys and signatures by contract (history streams); " +
        "for corpus-sized re-dedup use nearDuplicates/minhashPairs, or raise " +
        "maxBatchRows explicitly")
    // batch state is consumed twice as well; cached like the state
    val batchBase = CacheUtil.cached(newBatch
      .select(col(idCol).as("__bid"), shingles(col(textCol), shingleN).as("__shg"))
      .select(col("__bid"),
        graft.functions.native.minhashSig(col("__shg"), lit(numPerms)).as("bsig"),
        graft.functions.native.sortedHashes(col("__shg")).as("bsh"))
      .withColumn("bsz", size(col("bsh")))
      .filter(col("bsz") > 0))
    val bBand = batchBase.select(col("__bid"), col("bsig"),
        posexplode(bandHashes(col("bsig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
    val hBand = state.select(col("__hist_id"), col("sig"),
        posexplode(bandHashes(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
    // exactly-once candidate emission per (batch, hist) pair — the
    // first truly-matching band, not a distinct shuffle of all pairs.
    // The batch-derived frames (band keys, verify payloads, candidate
    // ids, dup ids) are BROADCAST by the operator's own contract —
    // ingest batches are small relative to history, and a caller's
    // state frame may carry no size statistics, so without the hints
    // every join here can plan sort-merge and shuffle the corpus-sized
    // history state per ingest (measured on statistics-free caches:
    // 33 SMJs, zero broadcasts at sf0.1). History always streams.
    val cand = broadcast(bBand).join(hBand, Seq("band", "bandhash"))
      .filter(col("band") === firstMatchingBand(col("bsig"), col("sig"), bands, rowsPerBand))
      .select("__bid", "__hist_id")
    val dupIds = broadcast(cand
        .join(broadcast(batchBase.select(col("__bid"), col("bsh"), col("bsz"))), "__bid"))
      .join(state.select(col("__hist_id"), col("sh"), col("sz")), "__hist_id")
      .filter(least(col("bsz"), col("sz")) >= lit(minJaccard) * greatest(col("bsz"), col("sz")))
      .withColumn("inter", graft.functions.native.intersectCount(col("bsh"), col("sh")))
      .filter(col("inter").cast("double") / (col("bsz") + col("sz") - col("inter")) >= minJaccard)
      .select(col("__bid").as(idCol))
    newBatch.join(broadcast(dupIds), Seq(idCol), "left_anti")
  }

  /**
   * Segment-level exact dedup (the C4 / RefinedWeb line-dedup family,
   * reference has no analog — LLM-pipeline surface): split every
   * document into fixed word-window segments, drop each segment whose
   * normalized content occurs in more than `maxDocs` DISTINCT
   * documents (boilerplate, license headers, navigation chrome), and
   * reassemble the surviving text in original order. Returns one row
   * per input doc: (idCol, n_segs, n_dropped, clean_text).
   *
   * Real corpora would segment on newlines/sentence breaks; a fixed
   * `segmentWords` window is used so single-line documents still dedup
   * at sub-document granularity, and windowing keeps every segment's
   * size (and thus the group-key cardinality) bounded by construction.
   *
   * Scale shape: segments shuffle ONCE, keyed by a 256-bit content
   * hash (never the text — same convention as [[exactDedup]], so
   * collision risk is negligible and shuffle keys stay fixed-width).
   * The dup-segment side of the back-join is output of a HAVING
   * count-distinct — tiny relative to the corpus by construction, so
   * AQE converts the join to broadcast at runtime; the final per-doc
   * reassembly is the same single groupBy the explode already paid
   * for. Within-doc repeats are NOT dropped (count is per distinct
   * doc) — repetition inside one doc is [[TextAnalysis.withRepetitionStats]]'s
   * job, not dedup's.
   */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segmentWords: Int = 20, maxDocs: Int = 1): DataFrame = {
    require(segmentWords >= 1, s"segmentWords must be >= 1 (got $segmentWords)")
    require(maxDocs >= 1, s"maxDocs must be >= 1 (got $maxDocs)")
    val toks = split(normalizeText(coalesce(col(textCol), lit(""))), " ")
    // ceil(nToks / W) windows, at least one (empty text = one "" segment,
    // mirroring the single-empty-token split semantics on both engines)
    val nSeg = greatest(ceil(size(toks).cast("double") / segmentWords).cast("int"), lit(1))
    val segsArr = transform(sequence(lit(0), nSeg - 1),
      i => array_join(slice(toks, i * segmentWords + 1, lit(segmentWords)), " "))
    val segs = df.select(col(idCol), posexplode(segsArr).as(Seq("__idx", "__seg")))
      .withColumn("__h", sha2(col("__seg"), 256))
    val dup = segs.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("__h"), lit(1).as("__dup"))
    segs.join(dup, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segs"),
        count(col("__dup")).as("n_dropped"),
        // collect only survivors (when() yields null for dropped rows and
        // collect_list skips nulls); __idx is unique per doc, so the
        // struct sort is a total order and reassembly is deterministic
        array_join(transform(
          array_sort(collect_list(when(col("__dup").isNull, struct(col("__idx"), col("__seg"))))),
          s => s.getField("__seg")), " ").as("clean_text"))
  }

  /**
   * Substring-level duplication coverage (the "deduplicating training
   * data" exact-substring family; reference has no analog —
   * LLM-pipeline surface): slide a `windowWords`-word shingle at
   * stride 1 over every document, mark each shingle whose normalized
   * content occurs in more than `maxDocs` DISTINCT documents, merge
   * the overlapping duplicated shingle spans per document
   * (gaps-and-islands), and report exact duplicated-token coverage:
   * (idCol, n_tokens, n_shingles, n_dup_shingles, dup_tokens,
   * dup_fraction). Unlike [[segmentDedup]]'s fixed windows, stride-1
   * shingles catch a copied span at ANY token offset — the signal
   * behind "drop or trim documents that are mostly boilerplate".
   *
   * Scale shape: shingles shuffle ONCE keyed by a 256-bit content
   * hash (fixed-width keys, never the text). The dup-shingle side of
   * the back-join is a HAVING-filtered aggregate — small by
   * construction, AQE broadcasts it. The interval merge is a window
   * PARTITIONED BY DOCUMENT over only that doc's duplicated shingle
   * positions — bounded by document length, never corpus-sized. A
   * document shorter than the window contributes one whole-text
   * shingle (the [[shingles]] kernel's convention), so short dups
   * still count.
   */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
                        windowWords: Int = 10, maxDocs: Int = 1): DataFrame = {
    require(windowWords >= 1, s"windowWords must be >= 1 (got $windowWords)")
    require(maxDocs >= 1, s"maxDocs must be >= 1 (got $maxDocs)")
    val w = windowWords
    val toks = split(normalizeText(coalesce(col(textCol), lit(""))), " ")
    val base = df.select(col(idCol), toks.as("__tk")).withColumn("__ntok", size(col("__tk")))
    // stride-1 positions 0 .. ntok-w (short docs: the single position 0)
    val posArr = when(col("__ntok") < w, array(lit(0)))
      .otherwise(sequence(lit(0), col("__ntok") - w))
    val sh = base.select(col(idCol), col("__ntok"),
        explode(posArr).as("__pos"),
        col("__tk"))
      .withColumn("__sg", array_join(slice(col("__tk"), col("__pos") + 1, lit(w)), " "))
      .withColumn("__h", sha2(col("__sg"), 256))
      .drop("__tk", "__sg")
    val dup = sh.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("__h"), lit(1).as("__dup"))
    val flagged = sh.join(dup, Seq("__h"), "left")
    val stats = flagged.groupBy(col(idCol))
      .agg(first(col("__ntok")).as("n_tokens"),
        count(lit(1)).as("n_shingles"),
        count(col("__dup")).as("n_dup_shingles"))
    // merge overlapping [pos, pos+len) spans per doc: island starts where
    // pos exceeds the running max end of all earlier spans; union length
    // of an island is max(end) - min(pos) (contiguous by construction)
    val dupSpans = flagged.filter(col("__dup").isNotNull)
      .withColumn("__e", col("__pos") + least(lit(w), col("__ntok")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val prevMax = max(col("__e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dupSpans
      .withColumn("__ni", when(prevMax.isNull || col("__pos") > prevMax, 1).otherwise(0))
      .withColumn("__isl", sum(col("__ni")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg((max(col("__e")) - min(col("__pos"))).as("__covered"))
      .groupBy(col(idCol))
      .agg(sum(col("__covered")).as("dup_tokens"))
    stats.join(islands, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_fraction",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
  }

  /**
   * Token-exact duplicated-span extraction (the Lee et al. 2021
   * "Deduplicating Training Data" exact-substring family): emit every
   * MAXIMAL token span covered by duplicated `minTokens`-word windows,
   * with exact [start, end) token offsets and the span text itself.
   * A window is duplicated when its normalized content occurs in more
   * than `maxDocs` DISTINCT documents. Any cross-document copied span
   * of >= minTokens tokens is exactly the union of its stride-1
   * duplicated windows, so the merged islands recover the copied
   * span's precise token boundaries — including overlaps shorter than
   * [[substringDupStats]]'s default window when `minTokens` is
   * smaller. Docs shorter than `minTokens` contribute one whole-text
   * window, so short whole-doc copies still surface.
   *
   * Output: one row per maximal span — (idCol, span_start, span_end,
   * span_tokens, n_windows, span_text); span_start 0-based,
   * span_end exclusive.
   *
   * Scale shape: identical to [[substringDupStats]] — one corpus
   * shuffle keyed by a fixed-width 256-bit content hash (never the
   * text), a HAVING-filtered dup-hash aggregate AQE broadcasts back,
   * a per-document island-merge window bounded by document length,
   * and one doc-keyed equi-join to slice span text back out of the
   * token arrays. A suffix array finds the same spans in one pass on
   * one machine; the stride-1 window relation is the shuffle-friendly
   * equivalent, linear in corpus tokens — the shape that holds at
   * 100 TB. The token arrays and the shingle table are each
   * referenced twice in the plan (base: shingling + the final text
   * slice; sh: the dup-hash aggregate + the back-join probe), so
   * both are cached MEMORY_AND_DISK — the r11 uncached shape
   * re-tokenized the corpus three times and re-hashed every window
   * twice (3.3x idle ratio). Both caches are owned by the result.
   */
  def exactDupSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 5, maxDocs: Int = 1): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1 (got $minTokens)")
    require(maxDocs >= 1, s"maxDocs must be >= 1 (got $maxDocs)")
    val w = minTokens
    val toks = split(normalizeText(coalesce(col(textCol), lit(""))), " ")
    val base = CacheUtil.cached(
      df.select(col(idCol), toks.as("__tk")).withColumn("__ntok", size(col("__tk"))))
    val posArr = when(col("__ntok") < w, array(lit(0)))
      .otherwise(sequence(lit(0), col("__ntok") - w))
    val sh = CacheUtil.cached(
      base.select(col(idCol), col("__ntok"), explode(posArr).as("__pos"), col("__tk"))
        .withColumn("__h", sha2(array_join(slice(col("__tk"), col("__pos") + 1, lit(w)), " "), 256))
        .drop("__tk"))
    val dup = sh.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("__h"), lit(1).as("__dup"))
    val spans = sh.join(dup, Seq("__h"), "left")
      .filter(col("__dup").isNotNull)
      .withColumn("__e", col("__pos") + least(lit(w), col("__ntok")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val prevMax = max(col("__e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = spans
      .withColumn("__ni", when(prevMax.isNull || col("__pos") > prevMax, 1).otherwise(0))
      .withColumn("__isl", sum(col("__ni")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        max(col("__e")).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
    islands.join(base.select(col(idCol), col("__tk")), Seq(idCol))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"),
        array_join(slice(col("__tk"), (col("span_start") + 1).cast("int"),
          (col("span_end") - col("span_start")).cast("int")), " ").as("span_text"))
  }

  /**
   * EXACT set-similarity self-join by prefix filtering (the
   * AllPairs/PPJoin family — Bayardo et al. 2007, Xiao et al. 2008):
   * every pair of documents whose distinct-word-set Jaccard meets
   * `t100`/100, with NO false negatives — the exact counterpart to
   * the probabilistic minhash/simhash band families (which trade
   * recall for cheaper candidate generation).
   *
   * How the candidate space stays bounded without hashing:
   *  - order each doc's distinct tokens RARE-FIRST by global
   *    (frequency, token) — a total order both engines replay;
   *  - only each doc's PREFIX (the first `sz - ceil(t*sz) + 1`
   *    tokens) is emitted into the join. Completeness: the first
   *    shared token of any qualifying pair sits inside BOTH
   *    prefixes (all `o >= ceil(t*sz)` shared tokens lie at or
   *    after it, so its position is `<= sz - o`);
   *  - per-token filters prune before any pair materializes: the
   *    LENGTH filter (`J <= min/max` so `100*min >= t100*max`) and
   *    the POSITIONAL filter (tokens at/after position p number
   *    `sz - p`, an upper bound on the overlap, which must reach
   *    `alpha = ceil(t100*(sz_a+sz_b)/(100+t100))` — the integer
   *    form of `J >= t  <=>  inter >= t/(1+t)*(sz_a+sz_b)`).
   * Rare-first ordering is also the hot-key defence: stopwords land
   * at the END of every doc's ordering and never enter a prefix
   * unless the threshold demands nearly the whole set.
   *
   * Exact verification then runs ONLY on surviving candidates
   * (`array_intersect` of the bounded token arrays); all decisions
   * are integer cross-multiplications — no IEEE division anywhere,
   * so the DuckDB oracle replays the operator bit-for-bit.
   *
   * Scale shape: one vocabulary-sized aggregate (map-side combined),
   * one corpus shuffle keyed by doc to assemble ordered token sets,
   * a prefix-only equi-join on (rare) tokens, and a candidate-bounded
   * verify join. No all-pairs stage at any cardinality.
   */
  def prefixFilterJoin(df: DataFrame, idCol: String, textCol: String,
                       t100: Int = 60): DataFrame = {
    require(t100 >= 1 && t100 <= 100, s"prefixFilterJoin: t100 must be in [1,100], got $t100")
    // distinct (doc, token) pairs; blank tokens (empty docs) dropped
    val flat = df.select(col(idCol).as("id"),
        explode(split(normalizeText(coalesce(col(textCol), lit(""))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val freq = flat.groupBy("tok").agg(count(lit(1)).as("f"))
    // rare-first total order (f, tok) realized per doc via array_sort
    // on (f, tok) structs — no corpus-wide window needed
    // the cached frame feeds the prefix explode AND both sides of the
    // exact-verify join; its size statistics let the verify joins
    // broadcast at moderate corpus sizes
    val ordered = CacheUtil.cached(flat.join(freq, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("f"), col("tok")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), x => x("tok")).as("toks"),
        size(col("ord")).cast("long").as("sz")))
    val pre = ordered
      .withColumn("p", col("sz") - expr(s"(sz * $t100 + 99) div 100") + 1)
      .select(col("id"), col("sz"),
        posexplode(slice(col("toks"), lit(1), col("p").cast("int"))).as(Seq("pos", "tok")))
    val a = pre.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"), col("pos").as("pos_a"))
    val b = pre.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"), col("pos").as("pos_b"))
    val cand = a.join(b, "tok")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) * 100 >= greatest(col("sz_a"), col("sz_b")) * t100)
      .filter(least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >=
        expr(s"($t100 * (sz_a + sz_b) + ${100 + t100 - 1}) div ${100 + t100}"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("__shared_prefix"))
    cand
      .join(ordered.select(col("id").as("id_a"), col("toks").as("__ta")), "id_a")
      .join(ordered.select(col("id").as("id_b"), col("toks").as("__tb")), "id_b")
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .filter(col("inter") * 100 >= (col("sz_a") + col("sz_b") - col("inter")) * t100)
      .select(col("id_a"), col("id_b"), col("inter"),
        expr("(inter * 10000) div (sz_a + sz_b - inter)").as("jaccard_e4"))
  }

  /** Embedding near-dup pairs within a blocking column (e.g. cluster label). */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  blockCol: String, minCos: Double,
                  maxBlockRows: Long = 1000000L): DataFrame = {
    guardBlockCardinality(df, Seq(blockCol), maxBlockRows, "cosinePairs")
    val a = df.select(col(blockCol), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(blockCol), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, blockCol)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") > minCos)
      .select("id_a", "id_b", "cos")
  }
}
