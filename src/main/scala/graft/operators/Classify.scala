package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Multinomial Naive Bayes document classifier — the linear
 * classifier stage of a pretraining-data pipeline (domain/source/
 * quality classification a la the GPT-3 quality filter or CCNet's
 * domain buckets), trained and applied entirely inside Spark.
 * lsd2 has no classifier stage; this is part of the training-data
 * surface this engine adds on top of reference parity.
 *
 * Model: add-one-smoothed multinomial NB.
 *   score(d, l) = ln(n_l / N) + sum_{t in d} ln((c_lt + 1) / (c_l + V))
 * where n_l = training docs with label l, N = total training docs,
 * c_lt = count of term t under label l, c_l = total term count under
 * l, V = training vocabulary size. Unseen (l, t) falls back to
 * 1 / (c_l + V) — every score finite, no special cases.
 *
 * Scale shape: the model is bounded by (labels x vocab) — counting
 * is two map-side-combined aggregates over the TRAINING slice (the
 * caller keeps the slice bounded, same contract as [[Lm]]); scoring
 * broadcasts the per-term label-count map and the per-label totals
 * and is a map-only pass over the corpus token stream followed by
 * ONE partially-aggregated groupBy(doc, label) and a groupBy(doc)
 * argmax — nothing corpus-sized shuffles on a wide key. Scores are
 * rounded to 6 dp BEFORE the argmax on both engines (the
 * collocations convention) so summation-order ulp drift can neither
 * flip a hash nor flip a prediction.
 */
object Classify {

  /** Trained NB model faces (all bounded by labels x vocab):
   *  `termMap` is term -> map(label -> c_lt); `classes` is one row
   *  per label with (c_l, n_l); `stats` is a 1-row frame with
   *  (vocabulary size v, total training docs n). All declarative —
   *  no driver action at train time. The three faces share one
   *  (label, term) count cache ([[CacheUtil.cached]]), owned by the
   *  model: its blocks go once the caller drops the model and every
   *  frame scored with it. */
  final case class NbModel(termMap: DataFrame, classes: DataFrame, stats: DataFrame)

  /** Normalized non-empty tokens, one row per (id, term) — the
   *  [[TextAnalysis.tokens]] tokenization shared with the LM/TF-IDF
   *  family. */
  private def tokenStream(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)).as("__term"))

  /** Train on a labeled slice. The per-(label, term) count table is
   *  folded into a term -> map(label, count) frame (one row per
   *  vocabulary term — the broadcast face), cached lazily since
   *  scoring broadcasts it and the class/stat faces both derive from
   *  the same counts. */
  def trainNb(labeled: DataFrame, labelCol: String, idCol: String, textCol: String): NbModel = {
    val toks = tokenStream(labeled, idCol, textCol)
      .join(labeled.select(col(idCol), col(labelCol).cast("string").as("__label")), idCol)
    val lt = CacheUtil.cached(toks.groupBy("__label", "__term").agg(count(lit(1)).as("__c_lt")))
    val termMap = lt.groupBy("__term")
      .agg(map_from_entries(collect_list(struct(col("__label"), col("__c_lt")))).as("__lmap"))
    val classes = lt.groupBy("__label").agg(sum("__c_lt").cast("long").as("__c_l"))
      .join(labeled.groupBy(col(labelCol).cast("string").as("__label"))
        .agg(count(lit(1)).as("__n_l")), "__label")
    val stats = lt.agg(countDistinct("__term").as("__v"))
      .crossJoin(labeled.agg(count(lit(1)).as("__n")))
    NbModel(termMap, classes, stats)
  }

  /**
   * Score and classify: per-document argmax label with its (6 dp)
   * log-score. One corpus token pass and ONE map-side-combined
   * groupBy(doc) with a score column per label — the class face is
   * bounded by |labels| so it collects to driver literals (the
   * [[centroidWeights]] precedent), which deletes the r11 shape's
   * classes cross-join (x|labels| row inflation into the big
   * exchange) and its second (doc) aggregate. Same arithmetic per
   * label (left termMap join, add-one smoothing, round-6), so
   * predictions are value-identical. Documents with no tokens
   * produce no row (nothing to score — pinned on both engines).
   * Ties at 6 dp break to the LARGEST label string (max over
   * (score, label) structs, replayed in the oracle's ORDER BY
   * score DESC, label DESC).
   */
  def classifyNb(docs: DataFrame, idCol: String, textCol: String, model: NbModel): DataFrame = {
    // resolve the bounded model faces eagerly (stats: 2 longs,
    // classes: |labels| rows): an empty training slice must fail
    // LOUDLY here — left declarative, an empty class set would
    // silently erase the whole corpus from the output instead
    val st = model.stats.first()
    val (v, n) = (st.getLong(0), st.getLong(1))
    require(v > 0,
      "Classify.classifyNb: training slice produced no tokens (vocab v=0) — " +
        "train on a slice with at least one non-empty document")
    val cls = model.classes.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) // (label, c_l, n_l)
      .sortBy(_._1)
    val scoreAggs = cls.zipWithIndex.map { case ((l, cl, nl), i) =>
      val lp = log((coalesce(element_at(col("__lmap"), lit(l)), lit(0L)) + 1).cast("double") /
        lit((cl + v).toDouble))
      // StrictMath.log is what Spark's own `log` evaluates, so the
      // literal prior is bit-identical to the r11 in-plan expression
      round(lit(StrictMath.log(nl.toDouble / n.toDouble)) + sum(lp), 6).as(s"__s$i")
    }
    val best = array_max(array(cls.zipWithIndex.map { case ((l, _, _), i) =>
      struct(col(s"__s$i").as("__score"), lit(l).as("__label"))
    }: _*))
    val aggs = count(lit(1)).as("n_terms") +: scoreAggs
    tokenStream(docs, idCol, textCol)
      .join(broadcast(model.termMap), Seq("__term"), "left")
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), best.getField("__label").as("pred_label"),
        best.getField("__score").as("score"), col("n_terms"))
  }

  /** Trained nearest-centroid model faces: `mu` is one row per
   *  OBSERVED feature bucket with both classes' e6-scaled centroid
   *  coordinates (bounded by `dim` rows — the broadcast face);
   *  `consts` is a 1-row frame with the squared centroid norms
   *  (m1, m0). Buckets no training token hashed into are absent —
   *  their centroid coordinate is exactly 0 in both classes, so they
   *  contribute nothing to either norm or any cross term. */
  final case class CentroidModel(mu: DataFrame, consts: DataFrame)

  /**
   * Nearest-centroid (Rocchio) binary classifier over hashed
   * bag-of-token features — the ONE-PASS linear-classifier trainer
   * (vs [[trainNb]]'s probabilistic counts): class centroids are
   * plain feature means, so training is a single map-side-combined
   * aggregate over the training slice and the model is bounded by
   * `dim` rows no matter the corpus size. Chosen over iterative SGD
   * precisely for the 100 TB shape: no multi-round gradient shuffles,
   * no learning-rate tuning, and EXACT integer arithmetic end to end
   * (bit-identical cross-engine replay).
   *
   * Arithmetic: features are per-doc token counts hashed into `dim`
   * buckets (the [[TextAnalysis.fingerprint]] trick — no vocabulary
   * state). Centroid coordinates are e6-scaled integer floor
   * divisions mu_c[b] = (scale * sum_c[b]) div n_c (operands
   * non-negative, so Spark `div` and DuckDB `//` agree). Classifying
   * doc x compares squared Euclidean distances to the two centroids;
   * the per-doc ||x||^2 term cancels, leaving the integer decision
   * value  delta = 2*scale*sum_b x_b*(mu1[b]-mu0[b]) - (||mu1||^2 -
   * ||mu0||^2),  predict positive iff delta > 0 (tie -> negative).
   * Magnitude bound (documented, not checked per row): delta stays
   * inside int64 while L * max_b mu ≲ 4.6e12 with L the doc token
   * count — mu is scale * a per-doc AVERAGE bucket count, so the
   * bound is corpus-size-independent (~6e9 slack at L=1000,
   * mu=6e6 observed here).
   *
   * `labelCol` must be a boolean column on `labeled`. Training docs
   * with zero tokens still count in n_c (they are examples at the
   * origin). Fails loudly if either class has no training docs.
   */
  def trainCentroid(labeled: DataFrame, labelCol: String, idCol: String, textCol: String,
                    dim: Int = 64, scale: Long = 1000000L): CentroidModel = {
    // bounded driver action (2 longs), same precedent as classifyNb's stats face
    val counts = labeled.agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("n1"),
      sum(when(!col(labelCol), 1L).otherwise(0L)).as("n0")).first()
    val (n1, n0) = (counts.getLong(0), counts.getLong(1))
    require(n1 > 0 && n0 > 0,
      s"Classify.trainCentroid: both classes need training docs (got pos=$n1, neg=$n0)")
    val sums = tokenStream(labeled, idCol, textCol)
      .withColumn("__b", pmod(graft.functions.native.fingerprint64(col("__term")), lit(dim.toLong)))
      .join(labeled.select(col(idCol), col(labelCol).as("__y")), idCol)
      .groupBy("__b")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__s1"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__s0"))
    val mu = sums.select(col("__b"),
      expr(s"(__s1 * $scale) div $n1").as("__mu1"),
      expr(s"(__s0 * $scale) div $n0").as("__mu0"))
    val consts = mu.agg(sum(col("__mu1") * col("__mu1")).as("__m1"),
      sum(col("__mu0") * col("__mu0")).as("__m0"))
    CentroidModel(mu, consts)
  }

  /** Apply a [[CentroidModel]]: per-doc integer decision value and
   *  prediction. One corpus token pass, a broadcast join on the
   *  dim-bounded centroid table, one groupBy(doc) — map-only plus a
   *  single combinable shuffle. Docs with no tokens produce no row
   *  (the [[classifyNb]] convention). */
  def classifyCentroid(docs: DataFrame, idCol: String, textCol: String,
                       model: CentroidModel, dim: Int = 64, scale: Long = 1000000L): DataFrame =
    tokenStream(docs, idCol, textCol)
      .withColumn("__b", pmod(graft.functions.native.fingerprint64(col("__term")), lit(dim.toLong)))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__x"))
      .join(broadcast(model.mu), Seq("__b"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__x") * (coalesce(col("__mu1"), lit(0L)) - coalesce(col("__mu0"), lit(0L))))
        .as("__xd"))
      .crossJoin(broadcast(model.consts))
      .select(col(idCol),
        (lit(2L * scale) * col("__xd") - (col("__m1") - col("__m0"))).as("delta"),
        when(lit(2L * scale) * col("__xd") - (col("__m1") - col("__m0")) > 0, "pos")
          .otherwise("neg").as("pred_label"))

  /** The [[CentroidModel]] collected to driver literals (bounded by
   *  construction: <= dim rows of three longs). `w` maps bucket ->
   *  (mu1 - mu0); `mDiff` = ||mu1||^2 - ||mu0||^2. */
  final case class CentroidWeights(w: Map[Long, Long], mDiff: Long, scale: Long)

  /** Collect a [[CentroidModel]] into [[CentroidWeights]] — one tiny
   *  driver action over the dim-bounded model faces. */
  def centroidWeights(model: CentroidModel, scale: Long = 1000000L): CentroidWeights = {
    val w = model.mu.collect()
      .map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(2))).toMap
    val c = model.consts.first()
    CentroidWeights(w, c.getLong(0) - c.getLong(1), scale)
  }

  /**
   * SHUFFLE-FREE centroid scoring: since features are token counts,
   * the dot product sum_b x_b * (mu1[b] - mu0[b]) is just
   * sum_tokens w(bucket(token)) — one map-only projection per row,
   * no explode, no groupBy, no join. Same delta/pred_label contract
   * as [[classifyCentroid]] with two deliberate differences: rows
   * are preserved 1:1 (a no-token doc scores the empty sum, delta =
   * -mDiff, rather than dropping), and the plan has NO Exchange at
   * all — which also makes it directly usable on a STREAMING
   * DataFrame (stateless projection; the model is a frozen literal
   * map, the [[graft.streaming.Curation]] pattern).
   */
  def scoreCentroidInline(docs: DataFrame, idCol: String, textCol: String,
                          cw: CentroidWeights, dim: Int = 64): DataFrame = {
    val wmap = map(cw.w.toSeq.sortBy(_._1)
      .flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*)
    val toks = filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)
    val xd = aggregate(toks, lit(0L), (acc, t) =>
      acc + coalesce(element_at(wmap,
        pmod(graft.functions.native.fingerprint64(t), lit(dim.toLong))), lit(0L)))
    val delta = lit(2L * cw.scale) * xd - lit(cw.mDiff)
    docs.select(col(idCol), delta.as("delta"),
      when(delta > 0, "pos").otherwise("neg").as("pred_label"))
  }

  /**
   * Exact ROC curve + AUC from integer classifier scores — the
   * threshold-free member of the eval family (ann_recall /
   * dedup_calibration / text_nb_eval judge ONE operating point; the
   * ROC judges them all). One row per distinct score (descending =
   * the threshold sweep) with cumulative tp/fp and 6-dp tpr/fpr,
   * plus the exact AUC on every row.
   *
   * Arithmetic is exact end to end: per-score (pos, neg) counts, the
   * cumulative walk via [[Rank.prefixSums]] (range exchange + offset
   * walk — never a single-task window), and the tie-aware
   * Mann-Whitney identity  auc2 = sum_g pos_g * (2*(n0 - fp_g) +
   * neg_g)  (ties count half), all BIGINT; AUC = auc2 / (2*n1*n0)
   * rounded at 6 dp identically on both engines. auc2 stays inside
   * int64 while n1*n0 < 4.6e18 (two billion-row classes) — document
   * at the call site past that.
   *
   * `labelCol` must be boolean, `scoreCol` integral (LONG). Fails
   * loudly unless both classes are present. The AUC total is taken as
   * ONE bounded driver scalar (a single long) rather than persisting
   * the curve frame into the returned lineage — across a 200-query
   * bench run the un-unpersisted MEMORY_AND_DISK frames were
   * accumulating in executor storage until the ContextCleaner got to
   * them; the curve's range-exchange shuffle files are reused between
   * the scalar pass and the caller's action, so the corpus is still
   * aggregated once.
   */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val tot = scored.agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("n1"),
      sum(when(!col(labelCol), 1L).otherwise(0L)).as("n0")).first()
    val (n1, n0) = (tot.getLong(0), tot.getLong(1))
    require(n1 > 0 && n0 > 0,
      s"Classify.rocAuc: both classes must appear among scored rows (got pos=$n1, neg=$n0)")
    val g = scored.groupBy(col(scoreCol).cast("long").as("score"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("pos"),
        sum(when(!col(labelCol), 1L).otherwise(0L)).as("neg"))
    val cum = Rank.prefixSums(g, Seq(col("score").desc), Seq("pos", "neg"))
      .withColumnRenamed("cum_pos", "tp").withColumnRenamed("cum_neg", "fp")
    val auc2 = cum.agg(
      sum(col("pos") * (lit(2L) * (lit(n0) - col("fp")) + col("neg"))).cast("long"))
      .first().getLong(0)
    cum.select(col("score"), col("pos"), col("neg"), col("tp"), col("fp"),
      round(col("tp").cast("double") / lit(n1.toDouble), 6).as("tpr"),
      round(col("fp").cast("double") / lit(n0.toDouble), 6).as("fpr"),
      lit(auc2).as("auc2"),
      round(lit(auc2).cast("double") / lit(2.0 * n1 * n0), 6).as("auc"))
  }

  /**
   * K-fold cross-validated centroid-classifier evaluation — the
   * hygiene step a one-split eval can't give (is the held-out
   * accuracy a lucky split?): fold f = id mod k; each fold is scored
   * by a model trained on the OTHER k-1 folds, and the per-fold
   * confusion integers (tp/fp/tn/fn + 6-dp accuracy) come back as
   * one k-row frame.
   *
   * Cost shape (the r14 verdict's text_cv item — the old k×(train +
   * score) chain paid ~k job floors): THREE bounded jobs total, none
   * fold-sequential. (1) ONE doc pass collects per-fold class counts
   * (k rows); (2) ONE map-side-combined token pass collects
   * per-(bucket, fold) label-weighted counts (≤ dim·k rows) — every
   * fold's training sums are the COMPLEMENT of its own fold's sums
   * against the totals, exact in integers, so all k models fall out
   * of one aggregate; (3) the k models become one fold-indexed
   * literal weight map and ONE map-only corpus pass scores every
   * fold ([[scoreCentroidInline]]'s shape), straight into the
   * confusion rollup. Deltas are bit-identical to per-fold
   * [[trainCentroid]]+[[classifyCentroid]] (asserted in ScalaTest);
   * token-less docs drop on both engines. `labelExpr` must be a
   * boolean Column evaluable on a `docs` row.
   */
  def cvCentroid(docs: DataFrame, labelExpr: Column, idCol: String, textCol: String,
                 k: Int = 5, dim: Int = 64, scale: Long = 1000000L): DataFrame = {
    require(k >= 2, s"Classify.cvCentroid needs k >= 2 folds, got $k")
    require(dim.toLong * k <= (1L << 16),
      s"Classify.cvCentroid: dim*k = ${dim.toLong * k} literal weight entries — too large " +
        "for the fold-indexed inline model; lower dim or k")
    // null ids have no fold (pmod(null, k) is null) — the per-fold
    // chain dropped them from both training and scoring; keep that
    val lab = docs.filter(col(idCol).isNotNull).select(col(idCol),
      pmod(col(idCol), lit(k.toLong)).cast("int").as("__f"),
      labelExpr.as("__y"), col(textCol))
    // (1) per-fold class counts — one aggregate, k rows to the driver
    val posF = Array.fill(k)(0L)
    val negF = Array.fill(k)(0L)
    lab.groupBy("__f").agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("n"))
      .collect().foreach { r =>
        posF(r.getInt(0)) = r.getLong(1); negF(r.getInt(0)) = r.getLong(2)
      }
    val totPos = posF.sum
    val totNeg = negF.sum
    // (2) per-(bucket, fold) token sums — one map-side-combined
    // aggregate, <= dim*k rows to the driver
    val s1 = Array.ofDim[Long](k, dim)
    val s0 = Array.ofDim[Long](k, dim)
    lab.select(col("__f"), col("__y"),
        explode(filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)).as("__term"))
      .withColumn("__b", pmod(graft.functions.native.fingerprint64(col("__term")), lit(dim.toLong)))
      .groupBy("__b", "__f")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("c0"))
      .collect().foreach { r =>
        val b = r.getLong(0).toInt; val f = r.getInt(1)
        s1(f)(b) = r.getLong(2); s0(f)(b) = r.getLong(3)
      }
    // driver-side per-fold models via complement sums — the same
    // floor-div integer arithmetic as trainCentroid
    val wEntries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val mDiff = Array.fill(k)(0L)
    for (f <- 0 until k) {
      val n1 = totPos - posF(f)
      val n0 = totNeg - negF(f)
      require(n1 > 0 && n0 > 0,
        s"Classify.cvCentroid: fold $f's training slice needs both classes (pos=$n1, neg=$n0)")
      var b = 0
      while (b < dim) {
        var t1 = 0L; var t0 = 0L
        var g = 0
        while (g < k) { if (g != f) { t1 += s1(g)(b); t0 += s0(g)(b) }; g += 1 }
        val mu1 = (t1 * scale) / n1 // operands non-negative: / == div
        val mu0 = (t0 * scale) / n0
        if (mu1 != mu0) wEntries += ((f.toLong * dim + b, mu1 - mu0))
        mDiff(f) += mu1 * mu1 - mu0 * mu0
        b += 1
      }
    }
    // (3) ONE map-only scoring pass over the whole corpus with the
    // fold-indexed weight map (scoreCentroidInline's aggregate shape)
    val wmap =
      if (wEntries.isEmpty) map_from_arrays(array().cast("array<bigint>"), array().cast("array<bigint>"))
      else map(wEntries.sortBy(_._1).flatMap { case (kk, v) => Seq(lit(kk), lit(v)) }.toSeq: _*)
    val mdArr = array(mDiff.map(lit(_)).toSeq: _*)
    val toks = filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)
    val xd = aggregate(toks, lit(0L), (acc, tk) =>
      acc + coalesce(element_at(wmap, col("__f").cast("long") * dim +
        pmod(graft.functions.native.fingerprint64(tk), lit(dim.toLong))), lit(0L)))
    val delta = lit(2L * scale) * xd - element_at(mdArr, col("__f") + 1)
    lab.filter(size(toks) > 0) // token-less docs produce no prediction row
      .select(col("__f").cast("long").as("fold"), (delta > 0).as("__p"), col("__y").as("__actual"))
      .groupBy("fold")
      .agg(sum(when(col("__p") && col("__actual"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("__p") && !col("__actual"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("__p") && !col("__actual"), 1L).otherwise(0L)).as("tn"),
        sum(when(!col("__p") && col("__actual"), 1L).otherwise(0L)).as("fn"))
      .withColumn("acc", round((col("tp") + col("tn")).cast("double") /
        (col("tp") + col("fp") + col("tn") + col("fn")).cast("double"), 6))
  }

  /** SQL twin of [[cvCentroid]]: k replays of [[centroidSql]] with
   *  complementary mod-k filters, UNION ALL, one confusion rollup.
   *  Docs with no tokens produce no prediction row on either engine
   *  (the [[classifyNb]] convention), so they drop from the fold's
   *  denominator identically. */
  def cvCentroidSql(table: String, labelExpr: String, idCol: String, textCol: String,
                    k: Int = 5, dim: Int = 64, scale: Long = 1000000L): String = {
    val perFold = (0 until k).map { f =>
      s"""SELECT CAST($f AS BIGINT) AS fold, p.$idCol, p.pred_label = 'pos' AS p,
        ($labelExpr) AS actual
      FROM (${centroidSql(table, labelExpr, idCol, textCol,
          trainFilter = s"$idCol % $k <> $f", scoreFilter = s"$idCol % $k = $f",
          dim, scale)}) p JOIN $table USING ($idCol)"""
    }.mkString("\nUNION ALL\n")
    s"""WITH scored AS ($perFold)
    SELECT fold,
      CAST(sum(CASE WHEN p AND actual THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(sum(CASE WHEN p AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(sum(CASE WHEN NOT p AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      CAST(sum(CASE WHEN NOT p AND actual THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      round((sum(CASE WHEN p = actual THEN 1 ELSE 0 END))::DOUBLE / count(*), 6) AS acc
    FROM scored GROUP BY fold"""
  }

  /** SQL twin of [[rocAuc]] for the DuckDB oracle: `scoredSql` must
   *  yield (score BIGINT, y BOOLEAN) rows. DuckDB's RANGE-framed
   *  cumulative window is safe here because scores are pre-grouped
   *  (no peers). */
  def rocAucSql(scoredSql: String): String =
    s"""WITH j AS ($scoredSql),
    g AS (SELECT score, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                 CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          FROM j GROUP BY score),
    c AS (SELECT score, pos, neg,
                 CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
                 CAST(sum(neg) OVER (ORDER BY score DESC) AS BIGINT) AS fp
          FROM g),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n1, CAST(sum(neg) AS BIGINT) AS n0 FROM g),
    a AS (SELECT CAST(sum(pos * (2 * (n0 - fp) + neg)) AS BIGINT) AS auc2 FROM c, tot)
    SELECT score, pos, neg, tp, fp,
      round(tp::DOUBLE / n1, 6) AS tpr, round(fp::DOUBLE / n0, 6) AS fpr,
      auc2, round(auc2::DOUBLE / (2.0 * n1 * n0), 6) AS auc
    FROM c, tot, a"""

  /** SQL twin of train + classify for the DuckDB oracle:
   *  `labelExpr` is a boolean SQL expression over a `documents` row,
   *  `trainFilter`/`scoreFilter` pick the slices. DuckDB's integer
   *  sums widen to HUGEINT, so every aggregate is cast back to
   *  BIGINT at the point Spark's long arithmetic would sit. */
  def centroidSql(table: String, labelExpr: String, idCol: String, textCol: String,
                  trainFilter: String, scoreFilter: String,
                  dim: Int = 64, scale: Long = 1000000L): String = {
    val norm = Dedup.normalizeTextSql(textCol)
    val fp = TextAnalysis.fingerprintSql("term")
    s"""WITH lab AS (SELECT $idCol, ($labelExpr) AS y FROM $table),
    cls AS (SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM $table t JOIN lab USING ($idCol) WHERE ($trainFilter) AND y) AS n1,
      (SELECT CAST(count(*) AS BIGINT) FROM $table t JOIN lab USING ($idCol) WHERE ($trainFilter) AND NOT y) AS n0),
    ttoks AS (
      SELECT t.$idCol, unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term
      FROM $table t WHERE $trainFilter),
    tfeat AS (
      SELECT $idCol, (($fp % $dim) + $dim) % $dim AS b, CAST(count(*) AS BIGINT) AS x
      FROM ttoks GROUP BY 1, 2),
    sums AS (
      SELECT b, CAST(sum(CASE WHEN y THEN x ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN NOT y THEN x ELSE 0 END) AS BIGINT) AS s0
      FROM tfeat JOIN lab USING ($idCol) GROUP BY b),
    mu AS (
      SELECT b, CAST((s1 * $scale) // n1 AS BIGINT) AS mu1,
             CAST((s0 * $scale) // n0 AS BIGINT) AS mu0
      FROM sums, cls),
    consts AS (SELECT CAST(sum(mu1 * mu1) AS BIGINT) AS m1,
                      CAST(sum(mu0 * mu0) AS BIGINT) AS m0 FROM mu),
    stoks AS (
      SELECT t.$idCol, unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term
      FROM $table t WHERE $scoreFilter),
    sfeat AS (
      SELECT $idCol, (($fp % $dim) + $dim) % $dim AS b, CAST(count(*) AS BIGINT) AS x
      FROM stoks GROUP BY 1, 2),
    xdot AS (
      SELECT $idCol, CAST(sum(x * (coalesce(mu1, 0) - coalesce(mu0, 0))) AS BIGINT) AS xd
      FROM sfeat LEFT JOIN mu USING (b) GROUP BY 1)
    SELECT $idCol, CAST(2 * $scale * xd - (m1 - m0) AS BIGINT) AS delta,
      CASE WHEN 2 * $scale * xd - (m1 - m0) > 0 THEN 'pos' ELSE 'neg' END AS pred_label
    FROM xdot, consts"""
  }

  /** SQL twin of train + classify for the DuckDB oracle:
   *  `trainFilter` picks the labeled slice; tokenization and the
   *  6 dp round-before-argmax match the Spark side exactly. */
  def classifySql(table: String, labelCol: String, idCol: String, textCol: String,
                  trainFilter: String): String = {
    val norm = Dedup.normalizeTextSql(textCol)
    s"""WITH ttoks AS (
      SELECT $idCol, CAST($labelCol AS VARCHAR) AS label,
        unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term
      FROM $table WHERE $trainFilter),
    lt AS (SELECT label, term, count(*) AS c_lt FROM ttoks GROUP BY 1, 2),
    cls AS (
      SELECT lt.label, CAST(sum(c_lt) AS BIGINT) AS c_l, nl.n_l
      FROM lt JOIN (
        SELECT CAST($labelCol AS VARCHAR) AS label, count(*) AS n_l
        FROM $table WHERE $trainFilter GROUP BY 1) nl USING (label)
      GROUP BY lt.label, nl.n_l),
    stats AS (
      SELECT (SELECT count(DISTINCT term) FROM lt) AS v,
        (SELECT count(*) FROM $table WHERE $trainFilter) AS n),
    stoks AS (
      SELECT $idCol, unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term
      FROM $table),
    scored AS (
      SELECT s.$idCol, c.label, count(*) AS n_terms,
        round(ln(any_value(c.n_l)::DOUBLE / any_value(st.n)::DOUBLE) +
          sum(ln((coalesce(lt.c_lt, 0) + 1)::DOUBLE /
            (c.c_l + st.v)::DOUBLE)), 6) AS score
      FROM stoks s
      CROSS JOIN cls c
      CROSS JOIN stats st
      LEFT JOIN lt ON lt.label = c.label AND lt.term = s.term
      GROUP BY s.$idCol, c.label, c.c_l),
    ranked AS (
      SELECT $idCol, label AS pred_label, score, n_terms,
        row_number() OVER (PARTITION BY $idCol ORDER BY score DESC, label DESC) AS rk
      FROM scored)
    SELECT $idCol, pred_label, score, n_terms FROM ranked WHERE rk = 1"""
  }
}
