package graft

import graft.operators.Classify
import org.apache.spark.sql.functions._

class ClassifySpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spam", "buy cheap pills buy now cheap"),
    (2L, "spam", "cheap pills now buy cheap cheap"),
    (3L, "ham", "meeting notes agenda for the review"),
    (4L, "ham", "review notes for the agenda meeting"),
    (5L, "spam", "now now buy pills"),
    (6L, "ham", "the meeting review agenda")
  ).toDF("id", "label", "text")

  test("nb recovers separable labels and held-out docs follow the vocabulary") {
    val m = Classify.trainNb(corpus, "label", "id", "text")
    val preds = Classify.classifyNb(corpus, "id", "text", m)
      .select("id", "pred_label").as[(Long, String)].collect().toMap
    assert(preds == Map(1L -> "spam", 2L -> "spam", 3L -> "ham",
      4L -> "ham", 5L -> "spam", 6L -> "ham"))
    val held = Seq((10L, "cheap pills"), (11L, "agenda review")).toDF("id", "text")
    val hp = Classify.classifyNb(held, "id", "text", m)
      .select("id", "pred_label").as[(Long, String)].collect().toMap
    assert(hp == Map(10L -> "spam", 11L -> "ham"))
  }

  test("nb scores are partitioning-invariant and empty docs produce no row") {
    val m = Classify.trainNb(corpus, "label", "id", "text")
    val docs = corpus.select("id", "text")
      .union(Seq((99L, "")).toDF("id", "text"))
    val a = Classify.classifyNb(docs, "id", "text", m)
      .orderBy("id").collect().toSeq
    val b = Classify.classifyNb(docs.repartition(7), "id", "text", m)
      .orderBy("id").collect().toSeq
    assert(a == b, "scores must be identical across partitionings")
    assert(!a.exists(_.getLong(0) == 99L), "an empty doc has nothing to score")
  }

  test("nb: empty training slice fails loudly; 6-dp ties break to the largest label") {
    val m = Classify.trainNb(corpus.filter($"id" < 0), "label", "id", "text")
    val e = intercept[Exception] {
      Classify.classifyNb(corpus, "id", "text", m).collect()
    }
    assert(e.getMessage.contains("vocab v=0"), e.getMessage)
    // two labels with IDENTICAL training text -> identical scores for
    // any doc; argmax must deterministically pick the larger label
    val sym = Seq((1L, "b2", "x y z"), (2L, "a1", "x y z")).toDF("id", "label", "text")
    val ms = Classify.trainNb(sym, "label", "id", "text")
    val p = Classify.classifyNb(Seq((7L, "x y")).toDF("id", "text"), "id", "text", ms)
      .select("pred_label").as[String].head()
    assert(p == "b2", s"tie must break to the largest label, got $p")
  }

  // ---------------------------------------------- nearest-centroid

  private def labeled = corpus.withColumn("__y", $"label" === "spam")

  test("centroid separates disjoint-vocabulary classes, in and out of sample") {
    val m = Classify.trainCentroid(labeled, "__y", "id", "text")
    val preds = Classify.classifyCentroid(corpus, "id", "text", m)
      .select("id", "pred_label").as[(Long, String)].collect().toMap
    assert(preds == Map(1L -> "pos", 2L -> "pos", 3L -> "neg",
      4L -> "neg", 5L -> "pos", 6L -> "neg"), preds.toString)
    val held = Seq((10L, "cheap pills"), (11L, "agenda review")).toDF("id", "text")
    val hp = Classify.classifyCentroid(held, "id", "text", m)
      .select("id", "pred_label").as[(Long, String)].collect().toMap
    assert(hp == Map(10L -> "pos", 11L -> "neg"), hp.toString)
  }

  test("centroid decision values are integer-exact: label swap negates delta exactly") {
    val m = Classify.trainCentroid(labeled, "__y", "id", "text")
    val swapped = Classify.trainCentroid(
      labeled.withColumn("__y", !$"__y"), "__y", "id", "text")
    val d = Classify.classifyCentroid(corpus, "id", "text", m)
      .select("id", "delta").as[(Long, Long)].collect().toMap
    val ds = Classify.classifyCentroid(corpus, "id", "text", swapped)
      .select("id", "delta").as[(Long, Long)].collect().toMap
    assert(d.keySet == ds.keySet)
    d.foreach { case (id, v) =>
      assert(ds(id) == -v, s"doc $id: swap must negate exactly (${ds(id)} vs ${-v})") }
    // and partitioning cannot perturb integer sums
    val d7 = Classify.classifyCentroid(corpus.repartition(7), "id", "text", m)
      .select("id", "delta").as[(Long, Long)].collect().toMap
    assert(d7 == d, "deltas must be identical across partitionings")
  }

  test("centroid: single-class training fails loudly; model join broadcasts") {
    val e = intercept[IllegalArgumentException] {
      Classify.trainCentroid(labeled.filter($"__y"), "__y", "id", "text")
    }
    assert(e.getMessage.contains("both classes"), e.getMessage)
    val m = Classify.trainCentroid(labeled, "__y", "id", "text")
    val plan = Classify.classifyCentroid(corpus, "id", "text", m)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim-bounded model must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-sized shuffle join:\n$plan")
  }

  test("cvCentroid: every fold evaluated exactly once, confusion sums to the corpus") {
    // widen the corpus so each of 3 folds trains with both classes
    val wide = (1L to 30L).map { i =>
      if (i % 2 == 0) (i, "spam", "buy cheap pills now") else (i, "ham", "meeting agenda review notes")
    }.toDF("id", "label", "text")
    val cv = graft.operators.Classify.cvCentroid(wide, $"label" === "spam", "id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(cv.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L), "one row per fold")
    assert(cv.map(r => r._2 + r._3 + r._4 + r._5).sum == 30L,
      "every doc scored in exactly one fold")
    // disjoint vocabularies: every fold separates perfectly
    assert(cv.forall(r => r._3 == 0 && r._5 == 0), s"fp/fn must be 0: ${cv.toSeq}")
    assert(intercept[IllegalArgumentException](
      graft.operators.Classify.cvCentroid(wide, lit(true), "id", "text", k = 1))
      .getMessage.contains("k >= 2"))
  }

  test("cvCentroid fused one-pass scoring equals the per-fold train+classify chain") {
    // overlapping vocabulary + seeded noise so predictions are
    // nontrivial (some misclassifications) and every bucket matters
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "spam", "ham", "offer", "report")
    val msgs = (1L to 60L).map { i =>
      val y = i % 3 == 0
      val base = if (y) Seq("spam", "offer") else Seq("ham", "report")
      val noise = Seq.fill(4)(words(rnd.nextInt(words.length)))
      (i, y, (base ++ noise).mkString(" "))
    }.toDF("id", "y", "text")
    val k = 4
    val fused = Classify.cvCentroid(msgs, $"y", "id", "text", k = k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // oracle: the old shape — k separate trainings + scorings
    val naive = (0 until k).map { f =>
      val train = msgs.filter(pmod($"id", lit(k)) =!= f).withColumn("__y", $"y")
      val m = Classify.trainCentroid(train, "__y", "id", "text")
      val scored = Classify.classifyCentroid(msgs.filter(pmod($"id", lit(k)) === f), "id", "text", m)
        .join(msgs.select($"id", $"y"), "id")
        .select(($"pred_label" === "pos").as("p"), $"y")
        .collect()
      f.toLong -> ((scored.count(r => r.getBoolean(0) && r.getBoolean(1)).toLong,
        scored.count(r => r.getBoolean(0) && !r.getBoolean(1)).toLong,
        scored.count(r => !r.getBoolean(0) && !r.getBoolean(1)).toLong,
        scored.count(r => !r.getBoolean(0) && r.getBoolean(1)).toLong))
    }.toMap
    assert(fused == naive, s"fused=$fused naive=$naive")
  }

  test("scoreCentroidInline: delta-identical to the shuffle path, zero Exchanges, keeps empty docs") {
    val m = Classify.trainCentroid(labeled, "__y", "id", "text")
    val cw = Classify.centroidWeights(m)
    val docs = corpus.select("id", "text").union(Seq((99L, "")).toDF("id", "text"))
    val inline = Classify.scoreCentroidInline(docs, "id", "text", cw)
    val byId = inline.select("id", "delta").as[(Long, Long)].collect().toMap
    val shuffled = Classify.classifyCentroid(docs, "id", "text", m)
      .select("id", "delta").as[(Long, Long)].collect().toMap
    shuffled.foreach { case (id, d) => assert(byId(id) == d, s"doc $id: $d vs ${byId(id)}") }
    assert(byId(99L) == -(cw.mDiff), "empty doc scores the empty sum, not a dropped row")
    val plan = inline.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"inline scoring must be map-only:\n$plan")
  }

  // ---------------------------------------------- ROC / AUC

  test("rocAuc matches a hand-computed tie-aware curve and Mann-Whitney AUC") {
    // pos scores {3,3,2}, neg {3,1}: pairwise wins 4 of 6 (one tie
    // pair counts 1/2 twice) -> AUC = 2/3, auc2 = 2*3*2*(2/3) = 8
    val scored = Seq((3L, true), (3L, true), (2L, true), (3L, false), (1L, false))
      .toDF("delta", "__y")
    val rows = Classify.rocAuc(scored, "delta", "__y")
      .select("score", "pos", "neg", "tp", "fp", "auc2", "auc")
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().sortBy(-_._1)
    assert(rows.toSeq == Seq(
      (3L, 2L, 1L, 2L, 1L, 8L, 0.666667),
      (2L, 1L, 0L, 3L, 1L, 8L, 0.666667),
      (1L, 0L, 1L, 3L, 2L, 8L, 0.666667)), rows.toSeq.toString)
  }

  test("rocAuc: perfect separation gives AUC 1, reversed gives 0; one-class fails loudly") {
    val perfect = Seq((9L, true), (8L, true), (2L, false)).toDF("delta", "__y")
    assert(Classify.rocAuc(perfect, "delta", "__y").select("auc").as[Double].head() == 1.0)
    val reversed = Seq((1L, true), (8L, false)).toDF("delta", "__y")
    assert(Classify.rocAuc(reversed, "delta", "__y").select("auc").as[Double].head() == 0.0)
    val e = intercept[IllegalArgumentException] {
      Classify.rocAuc(perfect.filter($"__y"), "delta", "__y")
    }
    assert(e.getMessage.contains("both classes"), e.getMessage)
  }

  private def planOf(name: String): String =
    QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("text_nb: model faces ride broadcasts; corpus scoring has exactly one aggregate shuffle pair") {
    val plan = planOf("text_nb")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"model joins must broadcast, never shuffle the token stream:\n$plan")
  }
}
