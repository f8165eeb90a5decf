package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Word-bigram language model for perplexity-based quality filtering —
 * the CCNet-style pipeline stage: train counts on a trusted reference
 * slice, score every candidate document's per-word cross-entropy, and
 * let the caller threshold/bucket on the score (low = reference-like,
 * high = noise). lsd2 has no LM stage; this is part of the
 * training-data surface this engine adds on top of reference parity.
 *
 * Model: add-one-smoothed bigram conditional
 * `p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)` where `c(w1)` is the
 * bigram-context count (`sum_w2 c(w1,w2)`, so the conditional
 * normalizes exactly) and `V` the prediction vocabulary
 * (`count(distinct w2)` in training). Unseen contexts and pairs fall
 * back to `1 / (0 + V)` — every score is finite, no special cases.
 *
 * Scale shape: the model is bounded by the REFERENCE slice's observed
 * bigrams (the caller picks the slice; keep it bounded — a model from
 * a 100 TB corpus belongs in a feature store, not a broadcast), so
 * both model joins BROADCAST; the corpus pass is a map-side bigram
 * explode plus ONE partially-aggregated groupBy(doc) — nothing
 * corpus-sized shuffles. Cross-entropy is rounded to 6 dp on both
 * engines (the collocations convention) so summation-order ulp drift
 * cannot flip a hash.
 */
object Lm {

  final case class BigramLm(bi: DataFrame, ctx: DataFrame, vocab: DataFrame)

  /** Adjacent-token bigrams of normalized text: one row per (id, w1,
   *  w2). Same tokenization as collocations ([[TextAnalysis.tokens]],
   *  empties dropped). */
  private def bigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksNE = filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)
    df.select(col(idCol), toksNE.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(0), size(col("__tk")) - 2),
        i => struct(element_at(col("__tk"), i + 1).as("w1"),
          element_at(col("__tk"), i + 2).as("w2")))).as("p"))
      .select(col(idCol), col("p.w1"), col("p.w2"))
  }

  /** Train on a reference slice: bigram counts, context counts
   *  (`sum_w2` of the bigram table, so the smoothed conditional
   *  normalizes), and the prediction vocabulary as a 1-row frame
   *  (kept declarative — no driver action at train time). The bigram
   *  table is cached lazily ([[CacheUtil.cached]]): all three model
   *  faces derive from it, and scoring broadcasts each face
   *  separately — without the cache the reference-slice
   *  explode+aggregate would re-run per broadcast (3x per model). The
   *  cache is owned by the model and goes once the caller drops it. */
  def trainBigram(ref: DataFrame, idCol: String, textCol: String): BigramLm = {
    val bg = bigrams(ref, idCol, textCol)
    val bi = CacheUtil.cached(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val ctx = bi.groupBy("w1").agg(sum("c12").cast("long").as("c1"))
    val vocab = bi.agg(countDistinct("w2").as("v"))
    BigramLm(bi, ctx, vocab)
  }

  /** Per-document cross-entropy under the model:
   *  `-avg(ln p(w2|w1))` over the doc's bigrams, rounded to 6 dp.
   *  Documents with fewer than two tokens produce no row (no bigrams
   *  to score — pinned on both engines). */
  def crossEntropy(docs: DataFrame, idCol: String, textCol: String, lm: BigramLm): DataFrame = {
    val sbg = bigrams(docs, idCol, textCol)
    sbg.join(broadcast(lm.bi), Seq("w1", "w2"), "left")
      .join(broadcast(lm.ctx), Seq("w1"), "left")
      .crossJoin(broadcast(lm.vocab))
      // a degenerate reference slice (no >= 2-token docs) gives v=0,
      // which would make every score log(x/0) = Infinity SILENTLY;
      // fail loudly instead (declarative guard — training stays
      // action-free, the error fires on first scoring evaluation)
      .withColumn("__v", when(col("v") > 0, col("v")).otherwise(raise_error(lit(
        "Lm.crossEntropy: reference slice produced no bigrams (vocab v=0) — " +
          "train on a slice with at least one document of >= 2 tokens"))))
      .withColumn("__lp", log(
        (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("__v")).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(col("__lp")), 6).as("cross_entropy"))
  }

  /** Kneser-Ney model faces — all bounded by the reference slice's
   *  observed bigrams: `bi` (w1, w2, c12), `ctx` (w1, c1 = sum c12,
   *  n1f = distinct continuations of w1), `bwd` (w2, n1b = distinct
   *  left-contexts of w2), `stats` (nall = distinct bigram types,
   *  v = prediction vocab). */
  final case class KneserNeyLm(bi: DataFrame, ctx: DataFrame, bwd: DataFrame, stats: DataFrame)

  /** Train an interpolated Kneser-Ney bigram model (Kneser & Ney
   *  1995; Chen & Goodman 1999's interpolated form — the smoothing
   *  CCNet's KenLM models actually use, vs [[trainBigram]]'s add-one):
   *  same single reference-slice aggregate as trainBigram plus the
   *  continuation-count faces. Same bounded-model contract. */
  def trainKneserNey(ref: DataFrame, idCol: String, textCol: String): KneserNeyLm = {
    val bi = CacheUtil.cached(
      bigrams(ref, idCol, textCol).groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val ctx = bi.groupBy("w1").agg(sum("c12").cast("long").as("c1"), count(lit(1)).as("n1f"))
    val bwd = bi.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val stats = bi.agg(count(lit(1)).as("nall"), countDistinct("w2").as("v"))
    KneserNeyLm(bi, ctx, bwd, stats)
  }

  /**
   * Per-document cross-entropy under interpolated Kneser-Ney with
   * fixed discount `d`:
   *
   *   p_cont(w2)  = (N1+(·,w2) + 1) / (N1+(··) + V + 1)
   *   p(w2|w1)    = (max(c12 - d, 0) + d · N1+(w1,·) · p_cont(w2)) / c1   (seen w1)
   *               = p_cont(w2)                                            (unseen w1)
   *
   * The +1/+V+1 add-one on the continuation distribution keeps every
   * score finite for out-of-vocabulary predictions (standard KenLM
   * behavior routes OOV through a unigram floor; this is the
   * replayable integer-count analog). Lower cross-entropy than the
   * add-one model on reference-like text, much sharper tail
   * separation — the reason CCNet buckets on KN perplexity. Same
   * scale shape as [[crossEntropy]]: map-side bigram explode, THREE
   * broadcast model joins, one combinable groupBy(doc); 6-dp rounding
   * absorbs summation-order ulp drift. Docs with < 2 tokens produce
   * no row.
   */
  def crossEntropyKn(docs: DataFrame, idCol: String, textCol: String, lm: KneserNeyLm,
                     d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"crossEntropyKn: discount d must be in (0, 1), got $d")
    val sbg = bigrams(docs, idCol, textCol)
    sbg.join(broadcast(lm.bi), Seq("w1", "w2"), "left")
      .join(broadcast(lm.ctx), Seq("w1"), "left")
      .join(broadcast(lm.bwd), Seq("w2"), "left")
      .crossJoin(broadcast(lm.stats))
      .withColumn("__v", when(col("v") > 0, col("v")).otherwise(raise_error(lit(
        "Lm.crossEntropyKn: reference slice produced no bigrams (vocab v=0) — " +
          "train on a slice with at least one document of >= 2 tokens"))))
      .withColumn("__pc",
        (coalesce(col("n1b"), lit(0L)) + 1).cast("double") /
          (col("nall") + col("__v") + 1).cast("double"))
      .withColumn("__p", when(col("c1").isNotNull,
          (greatest(coalesce(col("c12"), lit(0L)).cast("double") - d, lit(0.0)) +
            lit(d) * col("n1f").cast("double") * col("__pc")) / col("c1").cast("double"))
        .otherwise(col("__pc")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(log(col("__p"))), 6).as("cross_entropy"))
  }

  /** SQL twin of [[trainKneserNey]] + [[crossEntropyKn]] for the
   *  DuckDB oracle — same CTE scaffolding as [[perplexitySql]] with
   *  the KN faces and formula. */
  def kneserNeySql(table: String, idCol: String, textCol: String, trainFilter: String,
                   d: Double = 0.75): String = {
    val norm = Dedup.normalizeTextSql(textCol)
    s"""WITH ttoks AS (
      SELECT list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk
      FROM $table WHERE $trainFilter),
    tidx AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM ttoks WHERE len(tk) >= 2),
    bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c12 FROM tidx GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f FROM bi GROUP BY 1),
    bwd AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
    st AS (SELECT count(*) AS nall, count(DISTINCT w2) AS v FROM bi),
    stoks AS (
      SELECT $idCol, list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk
      FROM $table),
    sidx AS (SELECT $idCol, tk, unnest(range(1, len(tk))) AS i FROM stoks WHERE len(tk) >= 2),
    sbg AS (SELECT $idCol, tk[i] AS w1, tk[i+1] AS w2 FROM sidx),
    scored AS (
      SELECT s.$idCol,
        CASE WHEN c.c1 IS NOT NULL THEN
          (greatest(coalesce(b.c12, 0)::DOUBLE - $d, 0.0)
            + $d * c.n1f::DOUBLE * ((coalesce(w.n1b, 0) + 1)::DOUBLE / (t.nall + t.v + 1)::DOUBLE))
          / c.c1::DOUBLE
        ELSE (coalesce(w.n1b, 0) + 1)::DOUBLE / (t.nall + t.v + 1)::DOUBLE END AS p
      FROM sbg s
      LEFT JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
      LEFT JOIN ctx c ON s.w1 = c.w1
      LEFT JOIN bwd w ON s.w2 = w.w2, st t)
    SELECT $idCol, CAST(count(*) AS BIGINT) AS n_bigrams,
      round(-avg(ln(p)), 6) AS cross_entropy
    FROM scored GROUP BY $idCol"""
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling", simplified to
   * bigram LMs): weight = min(1, p_target(doc) / p_source(doc)) with
   * both likelihoods under add-one-smoothed bigram models. Since
   * cross-entropy is -avg(ln p), the log ratio is
   * `n_bigrams * (ce_source - ce_target)` — documents that look more
   * like the target slice than the raw corpus get weight near 1.
   * Weight is rounded to 6 dp (the cross-engine float convention).
   *
   * FUSED scoring: the corpus is scanned and bigram-exploded ONCE,
   * with BOTH broadcast models joined onto the same bigram stream and
   * both cross-entropies computed in one groupBy(doc) — instead of
   * two full explode+score passes plus a doc_id join of their
   * outputs. Same arithmetic per model (left joins, add-one smoothing,
   * round-6), so the result is value-identical to scoring each model
   * separately; the per-model 6-dp rounding absorbs summation-order
   * ulp drift exactly as in [[crossEntropy]]. Compose with
   * [[Sampling.weightedSample]] (deterministic, monotone in the
   * weight) for the actual resampling — see [[importanceSample]].
   */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        target: BigramLm, source: BigramLm): DataFrame = {
    def lp(c12: Column, c1: Column, v: Column): Column =
      log((coalesce(c12, lit(0L)) + 1).cast("double") / (coalesce(c1, lit(0L)) + v).cast("double"))
    def guarded(v: Column, which: String): Column =
      when(v > 0, v).otherwise(raise_error(lit(
        s"Lm.importanceWeights: $which reference slice produced no bigrams (vocab v=0) — " +
          "train on a slice with at least one document of >= 2 tokens")))
    bigrams(docs, idCol, textCol)
      .join(broadcast(target.bi.withColumnRenamed("c12", "__c12_t")), Seq("w1", "w2"), "left")
      .join(broadcast(target.ctx.withColumnRenamed("c1", "__c1_t")), Seq("w1"), "left")
      .join(broadcast(source.bi.withColumnRenamed("c12", "__c12_s")), Seq("w1", "w2"), "left")
      .join(broadcast(source.ctx.withColumnRenamed("c1", "__c1_s")), Seq("w1"), "left")
      .crossJoin(broadcast(target.vocab.select(col("v").as("__v_t"))))
      .crossJoin(broadcast(source.vocab.select(col("v").as("__v_s"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(lp(col("__c12_t"), col("__c1_t"), guarded(col("__v_t"), "target"))), 6)
          .as("ce_target"),
        round(-avg(lp(col("__c12_s"), col("__c1_s"), guarded(col("__v_s"), "source"))), 6)
          .as("ce_source"))
      .withColumn("weight", round(
        least(lit(1.0), exp(col("n_bigrams") * (col("ce_source") - col("ce_target")))), 6))
  }

  /** DSIR resampling: keep each document with probability equal to
   *  its importance weight, deterministically in doc id. */
  def importanceSample(docs: DataFrame, idCol: String, textCol: String,
                       target: BigramLm, source: BigramLm): DataFrame =
    Sampling.weightedSample(importanceWeights(docs, idCol, textCol, target, source),
      idCol, "weight")

  /**
   * DSIR importance weights under interpolated KNESER-NEY models —
   * the cited recipe's actual practice (Xie et al. 2023 weight with
   * KenLM-style models, which are KN-smoothed, not add-one; see
   * [[crossEntropyKn]]): weight = min(1, p_target/p_source) with both
   * likelihoods under [[KneserNeyLm]] faces. Same FUSED scoring shape
   * as [[importanceWeights]] — the corpus bigram-explodes ONCE with
   * both models' three faces broadcast onto the same stream, one
   * combinable groupBy(doc) emits both cross-entropies; per-model
   * 6-dp rounding keeps the arithmetic value-identical to scoring
   * each model separately.
   */
  def importanceWeightsKn(docs: DataFrame, idCol: String, textCol: String,
                          target: KneserNeyLm, source: KneserNeyLm,
                          d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"importanceWeightsKn: discount d must be in (0, 1), got $d")
    def faces(lm: KneserNeyLm, sfx: String) = Seq(
      lm.bi.withColumnRenamed("c12", s"__c12$sfx"),
      lm.ctx.withColumnRenamed("c1", s"__c1$sfx").withColumnRenamed("n1f", s"__n1f$sfx"),
      lm.bwd.withColumnRenamed("n1b", s"__n1b$sfx"),
      lm.stats.select(col("nall").as(s"__nall$sfx"), col("v").as(s"__v$sfx")))
    def p(sfx: String, which: String): Column = {
      val v = when(col(s"__v$sfx") > 0, col(s"__v$sfx")).otherwise(raise_error(lit(
        s"Lm.importanceWeightsKn: $which reference slice produced no bigrams (vocab v=0) — " +
          "train on a slice with at least one document of >= 2 tokens")))
      val pc = (coalesce(col(s"__n1b$sfx"), lit(0L)) + 1).cast("double") /
        (col(s"__nall$sfx") + v + 1).cast("double")
      when(col(s"__c1$sfx").isNotNull,
        (greatest(coalesce(col(s"__c12$sfx"), lit(0L)).cast("double") - d, lit(0.0)) +
          lit(d) * col(s"__n1f$sfx").cast("double") * pc) / col(s"__c1$sfx").cast("double"))
        .otherwise(pc)
    }
    val Seq(tb, tc, tw, ts) = faces(target, "_t")
    val Seq(sb, sc, sw, ss) = faces(source, "_s")
    bigrams(docs, idCol, textCol)
      .join(broadcast(tb), Seq("w1", "w2"), "left")
      .join(broadcast(tc), Seq("w1"), "left")
      .join(broadcast(tw), Seq("w2"), "left")
      .crossJoin(broadcast(ts))
      .join(broadcast(sb), Seq("w1", "w2"), "left")
      .join(broadcast(sc), Seq("w1"), "left")
      .join(broadcast(sw), Seq("w2"), "left")
      .crossJoin(broadcast(ss))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(p("_t", "target"))), 6).as("ce_target"),
        round(-avg(log(p("_s", "source"))), 6).as("ce_source"))
      .withColumn("weight", round(
        least(lit(1.0), exp(col("n_bigrams") * (col("ce_source") - col("ce_target")))), 6))
  }

  /** KN-model DSIR resampling: keep each document with probability
   *  equal to its [[importanceWeightsKn]] weight, deterministically
   *  in doc id (the [[importanceSample]] contract with the
   *  Kneser-Ney faces swapped in). */
  def importanceSampleKn(docs: DataFrame, idCol: String, textCol: String,
                         target: KneserNeyLm, source: KneserNeyLm): DataFrame =
    Sampling.weightedSample(importanceWeightsKn(docs, idCol, textCol, target, source),
      idCol, "weight")

  /** SQL twin of [[importanceWeightsKn]] (+ the weightedSample
   *  predicate when `sampled`): the full two-KN-model replay via
   *  [[kneserNeySql]] subqueries. */
  def importanceKnSql(table: String, idCol: String, textCol: String,
                      targetFilter: String, sourceFilter: String,
                      sampled: Boolean, d: Double = 0.75): String = {
    val keep =
      if (sampled) " WHERE " + Sampling.weightedSampleSql(idCol, "weight") else ""
    s"""WITH dtgt AS (SELECT * FROM (${kneserNeySql(table, idCol, textCol, targetFilter, d)})),
    dsrc AS (SELECT * FROM (${kneserNeySql(table, idCol, textCol, sourceFilter, d)})),
    dw AS (
      SELECT t.$idCol, t.n_bigrams, t.cross_entropy AS ce_target, s.cross_entropy AS ce_source,
        round(least(1.0, exp(t.n_bigrams * (s.cross_entropy - t.cross_entropy))), 6) AS weight
      FROM dtgt t JOIN dsrc s USING ($idCol))
    SELECT * FROM dw$keep"""
  }

  /** SQL twin of [[importanceWeights]] (+ the weightedSample
   *  predicate when `sampled`) over `table`, with the two models
   *  trained in-query on `targetFilter` / `sourceFilter` slices. */
  def importanceSql(table: String, idCol: String, textCol: String,
                    targetFilter: String, sourceFilter: String,
                    sampled: Boolean): String = {
    val keep =
      if (sampled) " WHERE " + Sampling.weightedSampleSql(idCol, "weight") else ""
    s"""WITH dtgt AS (SELECT * FROM (${perplexitySql(table, idCol, textCol, targetFilter)})),
    dsrc AS (SELECT * FROM (${perplexitySql(table, idCol, textCol, sourceFilter)})),
    dw AS (
      SELECT t.$idCol, t.n_bigrams, t.cross_entropy AS ce_target, s.cross_entropy AS ce_source,
        round(least(1.0, exp(t.n_bigrams * (s.cross_entropy - t.cross_entropy))), 6) AS weight
      FROM dtgt t JOIN dsrc s USING ($idCol))
    SELECT * FROM dw$keep"""
  }

  /** SQL twin of train + score for the DuckDB oracle: `trainFilter`
   *  picks the reference slice, `cleanSql` must match the Spark-side
   *  normalization ([[Dedup.normalizeTextSql]] when the Spark side
   *  used [[TextAnalysis.tokens]]). */
  def perplexitySql(table: String, idCol: String, textCol: String, trainFilter: String): String = {
    val norm = Dedup.normalizeTextSql(textCol)
    s"""WITH ttoks AS (
      SELECT list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk
      FROM $table WHERE $trainFilter),
    tidx AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM ttoks WHERE len(tk) >= 2),
    bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c12 FROM tidx GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1),
    voc AS (SELECT count(DISTINCT w2) AS v FROM bi),
    stoks AS (
      SELECT $idCol, list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk
      FROM $table),
    sidx AS (SELECT $idCol, tk, unnest(range(1, len(tk))) AS i FROM stoks WHERE len(tk) >= 2),
    sbg AS (SELECT $idCol, tk[i] AS w1, tk[i+1] AS w2 FROM sidx),
    scored AS (
      SELECT s.$idCol,
        ln((coalesce(b.c12, 0) + 1)::DOUBLE / (coalesce(c.c1, 0) + v.v)::DOUBLE) AS lp
      FROM sbg s
      LEFT JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
      LEFT JOIN ctx c ON s.w1 = c.w1, voc v)
    SELECT $idCol, CAST(count(*) AS BIGINT) AS n_bigrams,
      round(-avg(lp), 6) AS cross_entropy
    FROM scored GROUP BY $idCol"""
  }
}
