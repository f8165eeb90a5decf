package graft

import org.apache.spark.SparkConf

class GraftSessionSpec extends SparkSpecBase {

  test("the spec session is the factory's: UTC zone, scan split, partitions, graft extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes").toLong == GraftSession.maxPartitionBytes)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.catalog.functionExists("hpix"), "GraftExtensions must register the hpix function")
  }

  test("a configured master wins over local[cores]") {
    assert(GraftSession.master(new SparkConf(false), 8) == "local[8]")
    assert(GraftSession.master(new SparkConf(false).setMaster("spark://h:7077"), 8) == "spark://h:7077")
  }
}
