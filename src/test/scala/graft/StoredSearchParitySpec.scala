package graft

import graft.catalog.Catalog
import graft.healpix.Healpix
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.math.{cos, sin, toRadians}

/**
 * Seeded generated skies against brute force: the stored cone, box
 * and polygon searches of one reused handle, before and after another
 * handle appends to the catalog, return exactly the source rows a
 * driver-side great-circle / range / half-space filter keeps. The
 * skies hold both poles, the RA 0/360 seam, clusters on HEALPix
 * vertices (so they straddle tile borders at every order), a dense
 * cluster inside one base pixel and duplicated positions; the
 * thresholds split the dense cluster into finer tiles than the open
 * sky, so every map has several orders.
 */
class StoredSearchParitySpec extends SparkSpecBase {
  import SkyGen._
  import spark.implicits._

  private def unit(ra: Double, dec: Double): (Double, Double, Double) = {
    val (r, d) = (toRadians(ra), toRadians(dec))
    (cos(d) * cos(r), cos(d) * sin(r), sin(d))
  }

  private sealed trait Query
  private final case class Cone(ra: Double, dec: Double, r: Double) extends Query
  private final case class Box(raLo: Double, raHi: Double, decLo: Double, decHi: Double) extends Query
  private final case class Polygon(vs: Seq[(Double, Double)]) extends Query

  private final case class Sky(rows: Seq[(Double, Double)], orderK: Int, threshold: Long, queries: Seq[Query])

  private val query: Gen[Query] = {
    val centre = Gen.frequency(4 -> position, 1 -> Gen.oneOf(vertices))
    val cone = for {
      (ra, dec) <- centre
      r <- Gen.frequency(3 -> Gen.choose(0.2, 5.0), 1 -> Gen.choose(20.0, 70.0))
    } yield Cone(ra, dec, r)
    val box = for {
      raLo <- Gen.frequency(3 -> Gen.choose(0.0, 359.9), 1 -> Gen.choose(355.0, 359.9))
      width <- Gen.choose(0.5, 40.0)
      decLo <- Gen.choose(-90.0, 85.0)
      height <- Gen.choose(0.5, 30.0)
    } yield Box(raLo, wrap(raLo + width), decLo, math.min(90.0, decLo + height))
    val band = for (decLo <- Gen.choose(-90.0, 80.0); h <- Gen.choose(2.0, 10.0))
      yield Box(0.0, 360.0, decLo, math.min(90.0, decLo + h))
    // a jittered regular polygon: convex, never degenerate; its centre
    // stays off the exact poles, where a bearing means nothing
    val polygon = for {
      (ra, dec) <- centre
      r <- Gen.choose(1.0, 15.0)
      n <- Gen.choose(3, 6)
      start <- Gen.choose(0.0, 360.0)
      jitter <- Gen.listOfN(n, Gen.choose(-15.0, 15.0))
    } yield Polygon(jitter.zipWithIndex.map { case (j, i) =>
      offset(ra, math.max(-89.0, math.min(89.0, dec)), r, start + i * 360.0 / n + j)
    })
    Gen.frequency(3 -> cone, 2 -> box, 1 -> band, 2 -> polygon)
  }

  private val sky: Gen[Sky] = for {
    n <- Gen.choose(300, 500)
    pts <- Gen.listOfN(n, position)
    dups <- Gen.listOfN(20, Gen.choose(0, n - 1))
    orderK <- Gen.choose(4, 6)
    threshold <- Gen.choose(15L, 40L)
    queries <- Gen.listOfN(8, query)
  } yield Sky(pts ++ dups.map(pts), orderK, threshold, queries)

  /** The ids of `rows` inside `q`, filtered on the driver. */
  private def brute(rows: Seq[(Long, Double, Double)], q: Query): Seq[Long] = {
    val inside: ((Double, Double)) => Boolean = q match {
      case Cone(ra, dec, r) => { case (pra, pdec) => Healpix.gcDistDeg(ra, dec, pra, pdec) < r }
      case Box(raLo, raHi, decLo, decHi) => { case (pra, pdec) =>
        pdec >= decLo && pdec <= decHi &&
          (if (raLo <= raHi) pra >= raLo && pra <= raHi else pra >= raLo || pra <= raHi)
      }
      case Polygon(vs) =>
        // the interior of a convex spherical polygon is the
        // intersection of its edges' half-spaces holding the centroid
        val (cra, cdec) = graft.operators.Spatial.polygonCentroid(vs)
        val c = unit(cra, cdec)
        val normals = vs.indices.map { i =>
          val (a, b) = (unit(vs(i)._1, vs(i)._2), unit(vs((i + 1) % vs.length)._1, vs((i + 1) % vs.length)._2))
          val nrm = (a._2 * b._3 - a._3 * b._2, a._3 * b._1 - a._1 * b._3, a._1 * b._2 - a._2 * b._1)
          val side = math.signum(nrm._1 * c._1 + nrm._2 * c._2 + nrm._3 * c._3)
          (nrm._1 * side, nrm._2 * side, nrm._3 * side)
        }
        val within: ((Double, Double)) => Boolean = { case (pra, pdec) =>
          val p = unit(pra, pdec)
          normals.forall(m => m._1 * p._1 + m._2 * p._2 + m._3 * p._3 >= 0)
        }
        within
    }
    rows.collect { case (id, ra, dec) if inside((ra, dec)) => id }.sorted
  }

  private def stored(cat: Catalog, q: Query): Seq[Long] = {
    val df: DataFrame = q match {
      case Cone(ra, dec, r) => cat.coneSearch(ra, dec, r)
      case Box(raLo, raHi, decLo, decHi) => cat.boxSearch(raLo, raHi, decLo, decHi)
      case Polygon(vs) => cat.polygonSearch(vs)
    }
    df.select("id").as[Long].collect().toSeq.sorted
  }

  test("stored cone/box/polygon searches on one reused handle equal brute force, before and after an append") {
    val skies = Iterator.iterate(Seed(20261019L))(_.next).take(3)
      .map(seed => sky.pureApply(Gen.Parameters.default, seed)).toSeq
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val out = java.nio.file.Files.createTempDirectory("graft_skyparity").toString
    try for (parts <- Seq(1, 4); (s, i) <- skies.zipWithIndex) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val rows = s.rows.zipWithIndex.map { case ((ra, dec), id) => (id.toLong, ra, dec) }
      // every third row arrives later, through another handle
      val (late, early) = rows.partition(_._1 % 3 == 0)
      val name = s"sky${i}_p$parts"
      val cat = Catalog.importFrom(early.toDF("id", "ra", "dec"), out, name, "ra", "dec", "id",
        orderK = s.orderK, threshold = s.threshold, marginDeg = 0.1)
      val orders = cat.load().select("Norder").distinct().count()
      assert(orders >= 2, s"$name: the partition map must span several orders, got $orders")
      def check(expected: Seq[(Long, Double, Double)], phase: String): Unit =
        s.queries.foreach(q => assert(stored(cat, q) == brute(expected, q), s"$name $phase: $q"))
      check(early, "before the append")
      Catalog(spark, out, name).append(late.toDF("id", "ra", "dec"))
      check(rows, "after the append")
      // the generated queries must select rows, not only empty sets
      assert(s.queries.count(q => brute(rows, q).nonEmpty) >= 4, s"$name: too few non-empty queries")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}
