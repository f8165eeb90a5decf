package graft

/**
 * Multi-row-group bench fixture generator (r14 verdict item 10): the
 * driver's sf0.1 testdata is ONE file with ONE ~600k-row row group per
 * table, and a parquet row group is Spark's indivisible parallel unit
 * — so every scan of the stock files is single-threaded no matter the
 * split size, while DuckDB parallelizes WITHIN a row group. This main
 * rewrites each table byte-faithfully (same rows, same order, same
 * logical types — a plain read+coalesce(1)+write, no shuffle) with a
 * small `parquet.block.size` so each file holds many row groups, i.e.
 * the layout any real 100 TB dataset already has. Benching the SAME
 * code against both dirs isolates the decode confound from every
 * class-A ratio at once (tools/bench_fixture_sf0.1.json +
 * BASELINE.md's fixture column).
 *
 * Usage: runMain graft.FixtureGen <srcSfDir> <dstDir> [blockBytes]
 */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.FixtureGen <srcSfDir> <dstDir> [blockBytes]")
    val (src, dst) = (args(0), args(1))
    val blockBytes = if (args.length > 2) args(2).toLong else 2L * 1024 * 1024
    val spark = GraftSession()
    // write timestamps as-is: events.ts is TIMESTAMP_NTZ/micros since
    // r7 and INT96 coercion would change the physical type
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")) {
      val in = s"$src/$t.parquet"
      if (new java.io.File(in).exists()) {
        val df = spark.read.parquet(in)
        // coalesce(1): preserve row order (no shuffle) and keep the
        // one-file-per-table layout — the parallelism comes from the
        // many row groups inside it
        df.coalesce(1)
          .write.mode("overwrite")
          .option("parquet.block.size", blockBytes)
          .parquet(s"$dst/$t.parquet")
        val n = spark.read.parquet(s"$dst/$t.parquet").count()
        val orig = df.count()
        require(n == orig, s"$t: fixture row count $n != source $orig")
        println(s"[fixture] $t: $n rows")
      }
    }
    spark.stop()
  }
}
