package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over embedding columns.
 *
 *  - bruteForceTopK: exact cosine top-k — the correctness baseline.
 *    Queries are broadcast (small side), so the scan of the corpus
 *    is a single pass with no corpus shuffle; ranking is a window
 *    keyed by query id.
 *  - lshTopK: the 100 TB scale path — random-hyperplane signatures
 *    (seeded, deterministic) bucket the corpus; candidates come from
 *    an equi-join on the signature, top-k ranked within candidates.
 */
object Ann {

  /** Exact top-k by cosine for each query vector (queries must be small/broadcastable).
   *
   *  The scoring pass is map-only (corpus scan x broadcast queries);
   *  selection runs the shared two-phase shape: a per-partition
   *  bounded-heap combiner ([[TopK.partitionTopK]]) pre-filters to k
   *  candidates per query per partition — lossless, same
   *  (round(cos, 9) desc, id) ordering — so the exact ranking window
   *  receives at most partitions x k rows per query instead of
   *  |corpus|. Without the combiner the window is a one-task,
   *  corpus-sized sort per query — the part that dies at 10^9 rows. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     corpusId: String, corpusVec: String,
                     queryId: String, queryVec: String, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cos", Dedup.cosine(col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cos"))
    val pre = TopK.maybePartitionTopK(scored, queryId, corpusId, "cos", k, ascending = false)
    val w = Window.partitionBy(col(queryId)).orderBy(round(col("cos"), 9).desc, col(corpusId).asc)
    pre.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(queryId), col(corpusId), col("cos"), col("rn"))
  }

  /**
   * Hard-negative mining — the contrastive-training data-prep stage
   * (DPR / SimCSE recipe): per anchor, the top-k most-similar corpus
   * vectors inside a similarity band [loCos, hiCos) — similar enough
   * to be INFORMATIVE negatives, below the near-duplicate ceiling
   * that would make them false negatives. The anchor itself and its
   * exact duplicates score cos ≈ 1 ≥ hiCos and drop. Band decisions
   * compare round(cos, 9) so both engines cut identically at the
   * boundary.
   *
   * Scale shape: identical to [[bruteForceTopK]] (map-only scoring
   * scan x broadcast anchors); the band filter prunes BEFORE the
   * bounded-heap combiner, so the ranking window sees only in-band
   * candidates. The anchor side MUST be bounded — broadcasting a
   * corpus-sized `queries` would OOM the driver and every executor —
   * so `maxAnchors` is enforced loudly with a row-count-only probe
   * (`limit(max + 1).count`, a bounded job that reads no vectors,
   * the [[mmrSelect]] precedent). For corpus-scale anchor sets use
   * [[hardNegativesIvf]], which prunes the scoring scan to nprobe
   * cells per anchor instead of broadcasting everything.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    corpusId: String, corpusVec: String,
                    queryId: String, queryVec: String,
                    k: Int, loCos: Double, hiCos: Double,
                    maxAnchors: Int = 65536): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1 (got $k)")
    require(loCos < hiCos, s"hardNegatives: need loCos < hiCos (got [$loCos, $hiCos))")
    val nAnchors = queries.select(lit(1)).limit(maxAnchors + 1).count()
    require(nAnchors <= maxAnchors,
      s"hardNegatives: > $maxAnchors anchor rows — the brute path broadcasts every anchor " +
        "vector to every corpus task; for corpus-scale anchor sets use hardNegativesIvf " +
        "(IVF-pruned candidates), or raise maxAnchors explicitly")
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cos", Dedup.cosine(col(corpusVec), col(queryVec)))
      .filter(round(col("cos"), 9) >= loCos && round(col("cos"), 9) < hiCos)
      .select(col(queryId), col(corpusId), col("cos"))
    val pre = TopK.maybePartitionTopK(scored, queryId, corpusId, "cos", k, ascending = false)
    val w = Window.partitionBy(col(queryId)).orderBy(round(col("cos"), 9).desc, col(corpusId).asc)
    pre.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(queryId), col(corpusId), col("cos"), col("rn"))
  }

  /**
   * Corpus-scale hard-negative mining — [[hardNegatives]] semantics
   * with IVF candidate pruning instead of the brute broadcast-anchor
   * scan: corpus rows are cell-assigned map-only against the inlined
   * codebook ([[ivfAssignWith]]), each anchor probes its `nprobe`
   * nearest cells, and only the probed cells' rows are cosine-scored
   * and band-filtered ([loCos, hiCos), round-9 cut — identical to the
   * brute path). With nprobe = nCells every cell is probed and the
   * result is EXACTLY [[hardNegatives]] (the parity spec); with
   * nprobe < nCells the scoring scan per anchor touches ~nprobe/nCells
   * of the corpus — the multiplicative saving that makes corpus-scale
   * anchor sets feasible.
   *
   * Scale shape: the corpus never shuffles (cell assignment is a
   * per-row argmax over inlined centroids; candidates come from a
   * broadcast hash join on the cell id), the band filter prunes
   * BEFORE the bounded-heap combiner, and the only Exchange carries
   * (queryId, corpusId, cos) into the top-k window — no vector rides
   * a shuffle (plan-asserted). Anchor sets past broadcast size:
   * persist the probed-anchor frame and drop the broadcast hint —
   * the equi-join on `__cid` stays an equi-join — or shard the
   * anchors and union the bounded calls.
   */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
                       corpusId: String, corpusVec: String,
                       queryId: String, queryVec: String,
                       k: Int, loCos: Double, hiCos: Double,
                       nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    require(k >= 1, s"hardNegativesIvf: k must be >= 1 (got $k)")
    require(loCos < hiCos, s"hardNegativesIvf: need loCos < hiCos (got [$loCos, $hiCos))")
    require(nprobe >= 1 && nprobe <= nCells,
      s"hardNegativesIvf: need 1 <= nprobe <= nCells (got nprobe=$nprobe nCells=$nCells)")
    val cb = collectCodebook(corpus, corpusId, corpusVec, nCells)
    val assigned = ivfAssignWith(corpus, corpusVec, cb)
      .select(col("__cid"), col(corpusId), col(corpusVec))
    val probed = queries
      .withColumn("__cell", explode(slice(nearestCellStructs(col(queryVec), cb), 1, nprobe)))
      .select(col("__cell.cid").as("__cid"), col(queryId), col(queryVec))
    // a corpus row lives in exactly one cell and an anchor probes
    // distinct cells, so each (anchor, row) pair scores at most once
    val cand = assigned.join(broadcast(probed), "__cid")
      .withColumn("cos", Dedup.cosine(col(corpusVec), col(queryVec)))
      .filter(round(col("cos"), 9) >= loCos && round(col("cos"), 9) < hiCos)
      .select(col(queryId), col(corpusId), col("cos"))
    val pre = TopK.maybePartitionTopK(cand, queryId, corpusId, "cos", k, ascending = false)
    val w = Window.partitionBy(col(queryId)).orderBy(round(col("cos"), 9).desc, col(corpusId).asc)
    pre.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(queryId), col(corpusId), col("cos"), col("rn"))
  }

  /**
   * Deterministic pseudo-random hyperplanes as literal float arrays:
   * dyadic uniform values in [-1, 1] derived from a Knuth
   * multiplicative hash of the (plane, component) index. Dyadic
   * (k/1024) so float and double representations are EXACT, and
   * integer-hash-derived so plain SQL regenerates them bit-for-bit —
   * which makes the LSH result oracle-checkable (a seeded Gaussian
   * stream isn't). Uniform vs Gaussian direction bias is irrelevant
   * for sign-random-projection quality at these dims (recall floor
   * asserted in ScalaTest).
   */
  private def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Column] = {
    (0 until numPlanes).map { j =>
      typedLit((0 until dim).map { i =>
        val h = ((j.toLong * dim + i + seed) * 2654435761L) % 4294967296L
        ((h % 2049L) - 1024L).toFloat / 1024f
      }.toArray)
    }
  }

  /** SQL twin of [[hyperplanes]] for DuckDB oracles (j = plane index column). */
  def hyperplanesSql(dim: Int, seed: Long): String =
    s"list_transform(range(0, $dim), i -> " +
      s"((((j * $dim + i + $seed) * 2654435761) % 4294967296) % 2049 - 1024) / 1024.0)"

  /** Random-hyperplane signature (one bit per plane) of a vector column — codegen dot kernel. */
  def lshSignature(vec: Column, numPlanes: Int, dim: Int, seed: Long = 42L): Column =
    hyperplanes(numPlanes, dim, seed).zipWithIndex.map { case (plane, j) =>
      when(graft.functions.native.dot(vec, plane) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * The IVF codebook: a deterministic hash-sample of corpus vectors,
   * collected driver-side. Bounded by construction (nCells rows —
   * same class of bounded collect as the partition-map walk), so the
   * centroids can be INLINED as literals and the corpus-side cell
   * assignment becomes a per-row argmax with no shuffle at all.
   */
  private[operators] def collectCodebook(corpus: DataFrame, corpusId: String, corpusVec: String,
                              nCells: Int): Seq[(Column, Seq[Float])] = {
    val cidType = corpus.schema(corpusId).dataType
    sampleCodebookValues(corpus, corpusId, corpusVec, nCells).map { case (v, vec) =>
      (cidLit(v, cidType), vec)
    }
  }

  private def cidLit(v: Any, dt: org.apache.spark.sql.types.DataType): Column =
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt))

  /** The raw (cid value, vector) rows of the codebook hash-sample —
   *  shared by the inline-literal path and k-means init. */
  private def sampleCodebookValues(corpus: DataFrame, corpusId: String, corpusVec: String,
                                   nCells: Int): Seq[(Any, Seq[Float])] = {
    Sampling.requireIntegralId(corpus, corpusId, "ivf codebook sample")
    // Knuth multiplicative hash (not xxhash64) so the DuckDB oracle can
    // reproduce the sample with plain integer arithmetic — the shared
    // overflow-safe 16-bit-split form (see Sampling.knuthHash/knuthHashSql)
    corpus
      .withColumn("__h", Sampling.knuthHash(col(corpusId)))
      .orderBy(col("__h"), col(corpusId)).limit(nCells)
      .select(col(corpusId), col(corpusVec))
      .collect()
      .map(r => (r.get(0), r.getSeq[Float](1)))
      .toSeq
  }

  /**
   * Distributed Lloyd k-means over an embedding column — the trained
   * upgrade of the hash-sample IVF codebook (the sample is the init;
   * re-expresses the codebook-training step the reference's IVF-style
   * partitioning presumes). Each iteration is ONE corpus pass: a
   * map-only nearest-centroid assignment against centroids inlined as
   * literals (cosine similarity, the ivfAssign kernel — the corpus is
   * never shuffled), then an element-wise mean whose shuffle carries
   * only nCells x dim partial aggregates, independent of corpus size.
   * Driver state is bounded at nCells x dim values per iteration —
   * the same bounded-collect class as the partition-map walk.
   *
   * Centroid means use fixed-point e6 accumulation — per-element
   * floor(x * 1e6) BIGINT sums, then floor(sum / n) — so the trained
   * codebook is EXACT, independent of aggregation order across
   * partitions/executors, and replayable in plain SQL (the registry
   * oracle recomputes init + every iteration from scratch in DuckDB).
   * Float accumulation would make the result nondeterministic across
   * partitionings; the e6 truncation costs < 1e-6 per component and
   * buys bit-stable training. Cells that lose every member keep their
   * previous centroid.
   *
   * Returns the post-training per-cell stats in long format:
   * (cid, i, v_e6, n) — cell id (the id of the init-sample row that
   * seeded it), 1-based component index, fixed-point e6 centroid
   * component, member count. Cells with no members after the final
   * assignment are omitted. Use [[kmeansCentroids]] for the codebook
   * as float vectors (e.g. to feed a persisted `__cid` bucketing
   * column via [[ivfAssign]]'s shape).
   *
   * At 100 TB: train on a [[Sampling.deterministicSample]] of the
   * corpus (k-means quality saturates far below full-corpus n), then
   * apply the frozen codebook map-only to everything.
   */
  def kmeansCodebook(corpus: DataFrame, corpusId: String, corpusVec: String,
                     nCells: Int = 8, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val cidType = corpus.schema(corpusId).dataType
    var cb = sampleCodebookValues(corpus, corpusId, corpusVec, nCells)
    require(cb.nonEmpty, "kmeansCodebook: empty corpus")
    // one Lloyd pass: assign to nearest inlined centroid, fixed-point
    // element-wise sums — (cid, i, sfix, n), nCells x dim rows
    def passStats(centroids: Seq[(Any, Seq[Float])]): DataFrame =
      ivfAssignWith(corpus, corpusVec,
          centroids.map { case (v, vec) => (cidLit(v, cidType), vec) })
        .select(col("__cid").as("cid"), posexplode(col(corpusVec)))
        .groupBy(col("cid"), (col("pos") + 1).cast("long").as("i"))
        .agg(sum(floor(col("col").cast("double") * 1e6)).cast("long").as("sfix"),
          count(lit(1)).as("n"))
    for (_ <- 1 until iters) {
      val byCid = passStats(cb).collect().groupBy(_.get(0))
      cb = cb.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val arr = old.toArray.clone()
            rows.foreach { r =>
              arr(r.getLong(1).toInt - 1) =
                (math.floor(r.getLong(2).toDouble / r.getLong(3)) / 1e6).toFloat
            }
            (cid, arr.toSeq)
          case None => (cid, old) // empty cell: carry the previous centroid
        }
      }
    }
    passStats(cb).select(col("cid"), col("i"),
      floor(col("sfix").cast("double") / col("n")).cast("long").as("v_e6"), col("n"))
  }

  /** The trained codebook of [[kmeansCodebook]] as (cid, centroid)
   *  float vectors — collect of an nCells x dim frame. */
  def kmeansCentroids(corpus: DataFrame, corpusId: String, corpusVec: String,
                      nCells: Int = 8, iters: Int = 2): Seq[(Any, Seq[Float])] =
    kmeansCodebook(corpus, corpusId, corpusVec, nCells, iters)
      .orderBy("cid", "i").collect()
      .groupBy(_.get(0)).toSeq.sortBy(_._1.toString)
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_.getLong(1)).map(r => (r.getLong(2) / 1e6).toFloat).toSeq)
      }

  /**
   * Per-row (negated-sim, cid) structs against every inlined
   * centroid, sorted ascending = best cell first. Tie-break matches
   * the r1 window ordering: (round(cos, 9) desc, cid asc); the
   * `lit(0.0) - x` negation normalizes -0.0 so a zero-similarity tie
   * orders identically. Map-only: no Exchange anywhere.
   */
  private[operators] def nearestCellStructs(vec: Column, codebook: Seq[(Column, Seq[Float])]): Column =
    array_sort(array(codebook.map { case (cid, cvec) =>
      struct((lit(0.0) - round(Dedup.cosine(vec, typedLit(cvec)), 9)).as("negsim"), cid.as("cid"))
    }: _*))

  /**
   * IVF (inverted-file) ANN: a deterministic sample of corpus
   * vectors acts as the centroid codebook; every corpus vector is
   * assigned to its nearest centroid (per-row argmax over the
   * inlined codebook — map-only, the corpus is never shuffled),
   * queries probe the `nprobe` nearest cells and rank candidates by
   * exact cosine. The 100 TB shape: the corpus is scanned once to
   * build the cell assignment (which can be persisted alongside the
   * data as a bucketing column via [[ivfAssign]]), and each query
   * touches only nprobe/nCells of the data.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, corpusVec: String,
              queryId: String, queryVec: String,
              k: Int, nCells: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame = {
    val cb = collectCodebook(corpus, corpusId, corpusVec, nCells)

    val assigned = ivfAssignWith(corpus, corpusVec, cb)
    val probed = queries // nprobe cells per query: sorted slice + explode, still map-only
      .withColumn("__cell", explode(slice(nearestCellStructs(col(queryVec), cb), 1, nprobe)))
      .withColumn("__cid", col("__cell.cid"))
      .select(col("__cid"), col(queryId), col(queryVec))

    val cand = assigned.join(broadcast(probed), "__cid")
      .withColumn("cos", Dedup.cosine(col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cos"))
    // bounded selection: cell candidate lists are corpus-fraction-sized,
    // not k-sized — same combiner-then-window shape as bruteForceTopK
    val pre = TopK.maybePartitionTopK(cand, queryId, corpusId, "cos", k, ascending = false)
    val w = Window.partitionBy(col(queryId)).orderBy(round(col("cos"), 9).desc, col(corpusId).asc)
    pre.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(queryId), col(corpusId), col("cos"), col("rn"))
  }

  /**
   * Standalone map-only IVF cell assignment: adds `__cid` (nearest
   * centroid id) to every corpus row without any shuffle — suitable
   * for persisting as a partition/bucketing column next to the data.
   */
  def ivfAssign(corpus: DataFrame, corpusId: String, corpusVec: String,
                nCells: Int = 16): DataFrame =
    ivfAssignWith(corpus, corpusVec, collectCodebook(corpus, corpusId, corpusVec, nCells))

  private[operators] def ivfAssignWith(corpus: DataFrame, corpusVec: String,
                            codebook: Seq[(Column, Seq[Float])]): DataFrame =
    corpus.withColumn("__cid",
      array_min(array(codebook.map { case (cid, cvec) =>
        struct((lit(0.0) - round(Dedup.cosine(col(corpusVec), typedLit(cvec)), 9)).as("negsim"), cid.as("cid"))
      }: _*)).getField("cid"))

  /**
   * LSH-bucketed ANN: candidates share the full signature bucket
   * (optionally banded for higher recall), ranked by exact cosine.
   *
   * A (query, corpus) pair bucketed together in several bands is kept
   * only at its FIRST matching band — a per-row predicate over the two
   * carried signatures (the band join key is the band value itself, so
   * every joined row is a true band match). No distinct: nothing after
   * the broadcast join shuffles the embedding vectors; the only
   * Exchange is the top-k window's, and it carries (qid, cid, cos).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, corpusVec: String,
              queryId: String, queryVec: String,
              k: Int, dim: Int, numPlanes: Int = 12, bands: Int = 3, seed: Long = 42L): DataFrame = {
    // a zero-width band would make every band value 0 and the band
    // join a full cross product — the exact blowup LSH exists to avoid
    require(bands >= 1 && numPlanes % bands == 0 && numPlanes / bands >= 1 && numPlanes / bands <= 63,
      s"numPlanes must be a positive multiple of bands with <= 63 planes per band: numPlanes=$numPlanes bands=$bands")
    val planesPerBand = numPlanes / bands
    val mask = (1L << planesPerBand) - 1
    def bandOf(sig: Column, b: Int): Column =
      shiftrightunsigned(sig, b * planesPerBand).bitwiseAND(mask)
    def banded(df: DataFrame, vecCol: String): DataFrame = {
      val sig = lshSignature(col(vecCol), numPlanes, dim, seed)
      df.withColumn("__sig", sig)
        .select(col("*"), posexplode(array((0 until bands).map(b => bandOf(col("__sig"), b)): _*)))
        .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bsig")
    }
    val c = banded(corpus, corpusVec)
    val q = banded(queries, queryVec)
      .select(col("__band"), col("__bsig"), col("__sig").as("__qsig"), col(queryId), col(queryVec))
    val firstBand = coalesce((0 until bands).map { b =>
      when(bandOf(col("__sig"), b) === bandOf(col("__qsig"), b), lit(b))
    }: _*)
    val cand = c.join(broadcast(q), Seq("__band", "__bsig"))
      .filter(col("__band") === firstBand)
      .withColumn("cos", Dedup.cosine(col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cos"))
    // bounded selection: a hot bucket can hold a corpus-scale slice —
    // same combiner-then-window shape as bruteForceTopK
    val pre = TopK.maybePartitionTopK(cand, queryId, corpusId, "cos", k, ascending = false)
    val w = Window.partitionBy(col(queryId)).orderBy(round(col("cos"), 9).desc, col(corpusId).asc)
    pre.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(queryId), col(corpusId), col("cos"), col("rn"))
  }

  /**
   * Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
   * greedily pick k rows maximizing
   * `lambda * relevance - (1 - lambda) * max cosine to already-picked`
   * — the standard diversity re-rank between retrieval and use
   * (diverse few-shot pools, dedup'd top-k, coverage sampling).
   *
   * Candidates MUST be a bounded retrieval result (top-N of an ANN
   * query), never a corpus: the recurrence is inherently sequential
   * in k, so each of the k steps is one tiny argmax job over the
   * candidate frame with the newest pick's vector inlined — k
   * driver round-trips of one row each, nothing corpus-sized ever
   * moves. `maxCandidates` enforces the contract loudly.
   *
   * Ties break by (round(score, 9) desc, id asc) — deterministic and
   * SQL-replayable. Pass `lambda` as an exactly-representable double
   * (0.5, 0.25, ...) so `1 - lambda` is exact on both engines.
   * Returns (idCol, rel, rank) in pick order.
   */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String, relCol: String,
                k: Int, lambda: Double = 0.5, maxCandidates: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1] (got $lambda)")
    val n = candidates.count()
    require(n <= maxCandidates,
      s"mmrSelect: $n candidates (> $maxCandidates) — MMR is a re-rank of a bounded " +
        "retrieval result; run an ANN top-N first, or raise maxCandidates explicitly")
    val spark = candidates.sparkSession
    import spark.implicits._
    var cur = CacheUtil.cached(candidates.select(col(idCol),
        col(vecCol).cast("array<float>").as("__v"), col(relCol).cast("double").as("__rel"))
      .withColumn("__ms", lit(0.0)))
    // each step's argmax materializes `cur`; only then is its
    // predecessor dead (scanning a released cache would rebuild it)
    var prev: Option[DataFrame] = None
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Any, Double)]
    for (_ <- 1 to math.min(k, n).toInt) {
      val best = cur
        .withColumn("__score", lit(lambda) * col("__rel") - lit(1.0 - lambda) * col("__ms"))
        .orderBy(round(col("__score"), 9).desc, col(idCol).asc)
        .limit(1).select(col(idCol), col("__rel"), col("__v")).collect()(0)
      prev.foreach(CacheUtil.release)
      picked += ((best.get(0), best.getDouble(1)))
      val bvec = best.getSeq[Float](2)
      prev = Some(cur)
      cur = CacheUtil.cached(cur.filter(col(idCol) =!= lit(best.get(0)))
        .withColumn("__ms", greatest(col("__ms"), Dedup.cosine(col("__v"), typedLit(bvec)))))
    }
    prev.foreach(CacheUtil.release)
    CacheUtil.release(cur)
    // build typed Rows so the picked ids keep their NATIVE value and
    // DataType — a toString round-trip would corrupt non-parseable id
    // types (binary ids stringify as "[B@..." and cast back to null)
    val idType = candidates.schema(idCol).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol, idType),
      org.apache.spark.sql.types.StructField("rel", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType)))
    val rows = picked.toSeq.zipWithIndex.map { case ((id, rel), i) =>
      org.apache.spark.sql.Row(id, rel, (i + 1).toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)
  }
}
