package graft

import org.scalacheck.Gen

import scala.math.{asin, atan2, cos, sin, toDegrees, toRadians}

/** Sky geometry for the seeded stored-catalog properties: positions
 *  that hit both poles, the RA 0/360 seam, HEALPix base-pixel
 *  vertices (tile vertices at every order) and one dense cluster. */
object SkyGen {

  def wrap(ra: Double): Double = (ra % 360.0 + 360.0) % 360.0

  /** The point `distDeg` from (ra, dec) along `bearingDeg`. */
  def offset(ra: Double, dec: Double, distDeg: Double, bearingDeg: Double): (Double, Double) = {
    val (d, b, p1) = (toRadians(distDeg), toRadians(bearingDeg), toRadians(dec))
    val p2 = asin(math.max(-1.0, math.min(1.0, sin(p1) * cos(d) + cos(p1) * sin(d) * cos(b))))
    val dl = atan2(sin(b) * sin(d) * cos(p1), cos(d) - sin(p1) * sin(p2))
    (wrap(ra + toDegrees(dl)), toDegrees(p2))
  }

  /** Base-pixel corners and a base-pixel centre: each is a tile
   *  vertex at every order; (0, 41.8) also sits on the RA seam. */
  val vertices: Seq[(Double, Double)] = Seq((45.0, 0.0), (0.0, 41.8103149), (180.0, -41.8103149), (270.0, 0.0))

  val position: Gen[(Double, Double)] = Gen.frequency(
    3 -> (for (ra <- Gen.choose(0.0, 359.999); z <- Gen.choose(-1.0, 1.0)) yield (ra, toDegrees(asin(z)))),
    2 -> (for (ra <- Gen.choose(0.0, 359.999); dec <- Gen.choose(86.0, 90.0); s <- Gen.oneOf(1.0, -1.0))
      yield (ra, s * dec)),
    1 -> Gen.oneOf((0.0, 90.0), (123.4, -90.0)),
    2 -> (for (ra <- Gen.choose(-0.8, 0.8); dec <- Gen.choose(-60.0, 60.0)) yield (wrap(ra), dec)),
    4 -> (for (v <- Gen.oneOf(vertices); d <- Gen.choose(0.0, 2.5); b <- Gen.choose(0.0, 360.0))
      yield offset(v._1, v._2, d, b)),
    4 -> (for (d <- Gen.choose(0.0, 0.5); b <- Gen.choose(0.0, 360.0)) yield offset(100.0, 20.0, d, b)))
}
