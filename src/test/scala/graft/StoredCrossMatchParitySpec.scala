package graft

import graft.catalog.Catalog
import graft.healpix.Healpix
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Seeded generated skies against brute force: the stored
 * `Catalog.crossMatch(other, k)` for k = 1, 2, 3 returns exactly the
 * k nearest right rows within the threshold of every left row, ranked
 * by (distance rounded to 1e-9 deg, right id), when the right catalog
 * was imported with a margin of the threshold, superset or exact.
 * The skies are [[SkyGen]]'s (poles, the RA seam, clusters on tile
 * vertices, a dense cluster, duplicated positions); the left rows are
 * right rows displaced by up to 1.3 thresholds plus rows of their own,
 * so matches straddle tile borders and the threshold's edge. The
 * thresholds split the dense cluster into finer tiles, so every map
 * has several orders.
 */
class StoredCrossMatchParitySpec extends SparkSpecBase {
  import SkyGen._
  import spark.implicits._

  private final case class Skies(right: Seq[(Double, Double)], left: Seq[(Double, Double)],
                                 orderK: Int, threshold: Long, dthresh: Double)

  private val skies: Gen[Skies] = for {
    n <- Gen.choose(250, 400)
    right <- Gen.listOfN(n, position)
    dups <- Gen.listOfN(15, Gen.choose(0, n - 1))
    dthresh <- Gen.oneOf(0.3, 1.0, 2.0)
    moved <- Gen.listOfN(n / 2,
      for (i <- Gen.choose(0, n - 1); d <- Gen.choose(0.0, 1.3); b <- Gen.choose(0.0, 360.0)) yield (i, d, b))
    own <- Gen.listOfN(n / 4, position)
    orderK <- Gen.choose(4, 6)
    threshold <- Gen.choose(15L, 40L)
  } yield Skies(right ++ dups.map(right), moved.map { case (i, d, b) =>
    offset(right(i)._1, right(i)._2, d * dthresh, b)
  } ++ own, orderK, threshold, dthresh)

  private def rounded(d: Double): Double = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (left id, right id, rank) of the k nearest right rows within
   *  `dthresh` of every left row, computed in this JVM. */
  private def brute(left: Seq[(Long, Double, Double)], right: Seq[(Long, Double, Double)],
                    dthresh: Double, k: Int): Set[(Long, Long, Int)] =
    left.flatMap { case (lid, lra, ldec) =>
      right.map { case (rid, rra, rdec) => (rounded(Healpix.gcDistDeg(lra, ldec, rra, rdec)), rid) }
        .filter(_._1 < dthresh).sorted.take(k).zipWithIndex
        .map { case ((_, rid), i) => (lid, rid, i + 1) }
    }.toSet

  test("stored crossMatch for k = 1, 2, 3 equals brute-force kNN within the threshold, superset and exact margins") {
    val generated = Iterator.iterate(Seed(20261020L))(_.next).take(2)
      .map(seed => skies.pureApply(Gen.Parameters.default, seed)).toSeq
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val out = java.nio.file.Files.createTempDirectory("graft_xmparity").toString
    try for (parts <- Seq(1, 4); (s, i) <- generated.zipWithIndex) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val right = s.right.zipWithIndex.map { case ((ra, dec), id) => (id.toLong, ra, dec) }
      val left = s.left.zipWithIndex.map { case ((ra, dec), id) => (100000L + id, ra, dec) }
      val lcat = Catalog.importFrom(left.toDF("lid", "lra", "ldec"), out, s"l${i}_p$parts",
        "lra", "ldec", "lid", orderK = s.orderK, threshold = s.threshold, marginDeg = s.dthresh)
      for (exact <- Seq(false, true)) {
        val name = s"r${i}_p${parts}_${if (exact) "exact" else "superset"}"
        val rcat = Catalog.importFrom(right.toDF("rid", "rra", "rdec"), out, name, "rra", "rdec", "rid",
          orderK = s.orderK, threshold = s.threshold, marginDeg = s.dthresh, exactMargin = exact)
        val orders = rcat.load().select("Norder").distinct().count()
        assert(orders >= 2, s"$name: the partition map must span several orders, got $orders")
        for (k <- 1 to 3) {
          val got = lcat.crossMatch(rcat, k, s.dthresh)
            .select(s"`${lcat.catname}.lid`", s"`$name.rid`", "_RANK").as[(Long, Long, Int)].collect()
          val want = brute(left, right, s.dthresh, k)
          assert(got.length == got.toSet.size, s"$name k=$k: a pair was emitted twice")
          assert(got.toSet == want, s"$name k=$k, ${parts} partitions: missing ${(want -- got).take(5)}, " +
            s"extra ${(got.toSet -- want).take(5)}")
          // the skies must hold ranked neighbours, not only single matches
          if (k == 3) assert(want.count(_._3 == 3) >= 10, s"$name: too few left rows with 3 neighbours")
        }
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("the stored crossMatch's one candidate join is keyed by (tile, fine pixel)") {
    val out = java.nio.file.Files.createTempDirectory("graft_xmplan").toString
    try {
      val rows = (0 until 400).map(i => (i.toLong, (i * 37.3) % 360.0, (i * 11.7) % 170.0 - 85.0))
      val l = Catalog.importFrom(rows.toDF("lid", "lra", "ldec"), out, "l", "lra", "ldec", "lid",
        orderK = 4, threshold = 40, marginDeg = 2.0)
      val r = Catalog.importFrom(rows.map { case (id, ra, dec) => (id, wrap(ra + 0.5), dec) }.toDF("rid", "rra", "rdec"),
        out, "r", "rra", "rdec", "rid", orderK = 4, threshold = 40, marginDeg = 2.0)
      for (k <- Seq(1, 2)) {
        val df = l.crossMatch(r, k, 2.0)
        assert(df.collect().nonEmpty)
        val joins = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
          case j: BaseJoinExec => j.leftKeys.map(_.references.map(_.name).mkString).toSet
        }
        assert(joins == Seq(Set("__pix", "__jpix")), s"k=$k: joins on $joins\n${df.queryExecution.executedPlan}")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
