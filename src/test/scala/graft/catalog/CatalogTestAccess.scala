package graft.catalog

import org.apache.spark.sql.SparkSession

/** Test-only bridge into the catalog layout's driver-side file steps. */
object CatalogTestAccess {
  def writeHist(spark: SparkSession, path: String, pix: Array[Long], cnt: Array[Long]): Unit =
    CatalogLayout.writeHist(spark, path, pix, cnt)
  def readHist(spark: SparkSession, paths: String*): (Array[Long], Array[Long]) =
    CatalogLayout.readHist(spark, paths: _*)
  def finishTrees(spark: SparkSession, location: String, catname: String): Unit =
    CatalogLayout(location, catname).finishTrees(spark)
}
