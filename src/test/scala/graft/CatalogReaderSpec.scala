package graft

import graft.sources.CatalogReader
import graft.sources.CatalogReader.CatalogSpec
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

class CatalogReaderSpec extends SparkSpecBase {

  private def writeTemp(name: String, content: String, gzip: Boolean = false): String = {
    val dir = Files.createTempDirectory("graft_src")
    val p = dir.resolve(name)
    if (gzip) {
      val out = new GZIPOutputStream(Files.newOutputStream(p))
      out.write(content.getBytes("UTF-8")); out.close()
    } else Files.writeString(p, content)
    p.toString
  }

  test("csv ingest with keyword renames and dtype overrides") {
    val p = writeTemp("cat.csv",
      "RAJ2000,DEJ2000,objid,mag\n10.5,-20.25,7,15.2\n180.0,45.0,9,12.1\n")
    val df = CatalogReader.read(spark, Seq(p),
      CatalogSpec(fmt = "csv", raKw = "RAJ2000", decKw = "DEJ2000", idKw = "objid",
        dtypes = Map("mag" -> "double")))
    val rows = df.select("ra", "dec", "id").collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted
    assert(rows.toSeq == Seq((10.5, -20.25), (180.0, 45.0)))
    assert(df.schema("mag").dataType.typeName == "double")
  }

  test("csv.gz ingest, headerless positional columns, skiprows") {
    val p = writeTemp("cat2.csv.gz",
      "# comment line to skip\n11.0,22.0,1\n33.0,44.0,2\n", gzip = true)
    val df = CatalogReader.read(spark, Seq(p),
      CatalogSpec(fmt = "csv.gz", header = false, raIdx = 0, decIdx = 1, idIdx = 2,
        raKw = "_no", decKw = "_no", idKw = "_no", skipRows = 1))
    val rows = df.select("ra", "dec").collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted
    assert(rows.toSeq == Seq((11.0, 22.0), (33.0, 44.0)))
  }

  test("skiprows is exact on a SPLITTABLE csv read as many partitions") {
    // a plain csv well over maxPartitionBytes splits into many file
    // splits whose partitions Spark may bin-pack out of file order —
    // the per-file line index must still drop exactly the first N
    // lines (ordering key: block byte offset, then reader order)
    val n = 20000
    val content = "# meta line 1\n# meta line 2\n" +
      (1 to n).map(i => s"$i.5,${-i}.25,$i").mkString("\n") + "\n"
    val p = writeTemp("big.csv", content)
    val split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384") // ~25 splits
    try {
      val df = CatalogReader.read(spark, Seq(p),
        CatalogSpec(fmt = "csv", header = false, raIdx = 0, decIdx = 1, idIdx = 2,
          raKw = "_no", decKw = "_no", idKw = "_no", skipRows = 2))
      assert(df.count() == n)
      val ids = df.select("id").collect().map(_.getInt(0)).sorted
      assert(ids.head == 1 && ids.last == n && ids.length == n,
        "exactly the two meta lines must be dropped, nothing else")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", split)
  }

  test("parquet ingest keeps native columns") {
    val df = CatalogReader.read(spark, Seq(sf("sf0.001") + "/customer.parquet"),
      CatalogSpec(fmt = "parquet", raKw = "c_acctbal", decKw = "c_acctbal", idKw = "c_custkey"))
    assert(df.count() == 150)
    assert(df.columns.contains("ra") && df.columns.contains("id"))
  }

  test("parseCatalogLinks extracts matching hrefs from an HTML listing") {
    val html = """<html><body>
      <a href="GaiaSource_000.csv.gz">a</a>
      <a href='GaiaSource_001.csv.gz'>b</a>
      <a href="readme.txt">c</a>
      <a href="http://cdn.example/abs_002.csv.gz">d</a>
      </body></html>"""
    val urls = CatalogReader.parseCatalogLinks(html, "http://cdn.example/gaia/", ".csv.gz")
    assert(urls == Seq(
      "http://cdn.example/gaia/GaiaSource_000.csv.gz",
      "http://cdn.example/gaia/GaiaSource_001.csv.gz",
      "http://cdn.example/abs_002.csv.gz"))
  }

  test("unknown format rejected with a clear message") {
    assertThrows[IllegalArgumentException] {
      CatalogReader.read(spark, Seq("/tmp/x.avro"), CatalogSpec(fmt = "avro"))
    }
  }

  test("getCatUrls fetches a LIVE directory listing over HTTP (loopback) and resolves links") {
    val html = """<html><body>
      <a href="cat_0.csv.gz">a</a>
      <a href="cat_1.csv.gz">b</a>
      <a href="http://cdn.example/abs/cat_2.csv.gz">abs</a>
      <a href="readme.txt">skip</a></body></html>"""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = html.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/data/"
      val got = CatalogReader.getCatUrls(url, ".csv.gz")
      assert(got == Seq(s"${url}cat_0.csv.gz", s"${url}cat_1.csv.gz",
        "http://cdn.example/abs/cat_2.csv.gz"), got.toString)
    } finally server.stop(0)
  }

  test("getCatUrls surfaces HTTP failures loudly (404 listing)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    try assertThrows[IllegalArgumentException] {
      CatalogReader.getCatUrls(
        s"http://127.0.0.1:${server.getAddress.getPort}/missing/", ".csv.gz")
    } finally server.stop(0)
  }
}
