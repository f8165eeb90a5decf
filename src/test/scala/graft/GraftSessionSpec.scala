package graft

import org.apache.spark.SparkConf

class GraftSessionSpec extends SparkSpecBase {

  test("the spec session is the factory's: UTC zone, scan split, partitions, graft extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes").toLong == GraftSession.maxPartitionBytes)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.catalog.functionExists("hpix"), "GraftExtensions must register the hpix function")
    assert(spark.sparkContext.getConf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true",
      "result-owned reliable checkpoints must be deleted when their RDD is collected")
  }

  test("a configured master wins over local[cores]") {
    assert(GraftSession.master(new SparkConf(false), 8) == "local[8]")
    assert(GraftSession.master(new SparkConf(false).setMaster("spark://h:7077"), 8) == "spark://h:7077")
  }

  test("no main source reads a spark.graft.* session conf key") {
    // operators pick their path from explicit arguments, never from
    // shared session conf
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("\"spark.graft.") => s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
