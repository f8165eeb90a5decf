package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/**
 * Minimal command-line entry point — the reference ships a vestigial
 * `__main__.py` (it raises NotImplementedError); this one wires the
 * library's real surfaces so a catalog can be imported, searched,
 * queried and visualized without writing Scala:
 *
 * {{{
 * graft.Cli import <src.parquet> <location> <catname> <raCol> <decCol> <idCol> [orderK] [threshold]
 * graft.Cli cone <location> <catname> <ra> <dec> <radiusDeg>
 * graft.Cli box <location> <catname> <raLo> <raHi> <decLo> <decHi>
 * graft.Cli polygon <location> <catname> <ra1> <dec1> <ra2> <dec2> <ra3> <dec3> [...]
 * graft.Cli xmatch <location> <cat1> <cat2> [k] [dthreshDeg]
 * graft.Cli query <name> <sfDir>       // any SparkEntry.queries entry
 * graft.Cli plan <query[,query...]> <sfDir> <outDir> <suffix>
 * graft.Cli list                       // query names
 * graft.Cli profile <table.parquet> <col1,col2,...>
 * graft.Cli validate <table.parquet> <not_null:c,range:c:0:10,fk:c:ref.parquet:rc,...>
 * graft.Cli viz sources|partitions <location> <catname> <out.png>
 * graft.Cli viz cone <location> <catname> <out.png> <ra> <dec> <radiusDeg>
 * graft.Cli viz xmatch <location> <cat1> <cat2> <out.png> [k] [dthreshDeg]
 * }}}
 *
 * `plan` writes `<outDir>/<query>_<suffix>.txt` per query: the
 * formatted initial plan (scans, exchanges, join strategies, pushed
 * filters) and the executed plan after an action (AQE's final shape)
 * — the committed plan evidence under `plans/`.
 *
 * The session is [[GraftSession]]'s, as in Verify and Bench:
 * `SPARK_GRAFT_CPUS` sizes local parallelism. Run through
 * spark-submit, the submitted master is kept instead of `local[n]`.
 */
object Cli {

  private val usage: String =
    """usage:
      |  import <src.parquet> <location> <catname> <raCol> <decCol> <idCol> [orderK] [threshold]
      |  cone <location> <catname> <ra> <dec> <radiusDeg>
      |  box <location> <catname> <raLo> <raHi> <decLo> <decHi>
      |  polygon <location> <catname> <ra1> <dec1> <ra2> <dec2> <ra3> <dec3> [...]
      |  xmatch <location> <cat1> <cat2> [k] [dthreshDeg]
      |  query <name> <sfDir>
      |  plan <query[,query...]> <sfDir> <outDir> <suffix>
      |  list
      |  compact <dir> [targetFileMB]
      |  profile <table.parquet> <col1,col2,...>
      |  validate <table.parquet> <check1,check2,...>
      |    checks: not_null:<col> | range:<col>:<lo>:<hi> | accepted:<col>:<v1|v2|...>
      |            matches:<col>:<regex> | unique:<col> | fk:<col>:<ref.parquet>:<refCol>
      |  viz sources|partitions <location> <catname> <out.png>
      |  viz cone <location> <catname> <out.png> <ra> <dec> <radiusDeg>
      |  viz xmatch <location> <cat1> <cat2> <out.png> [k] [dthreshDeg]""".stripMargin

  /** Pure dispatch (unit-testable): returns the action to run, or an
   *  error message when the arguments don't parse. */
  private[graft] def parse(args: Array[String]): Either[String, SparkSession => Unit] =
    try parseImpl(args)
    catch { case _: NumberFormatException => Left(usage) }

  private def parseImpl(args: Array[String]): Either[String, SparkSession => Unit] =
    args.toList match {
      case "import" :: src :: loc :: cat :: ra :: dec :: id :: rest if rest.length <= 2 =>
        val orderK = rest.headOption.map(_.toInt).getOrElse(6)
        val threshold = rest.lift(1).map(_.toLong).getOrElse(1000000L)
        Right { spark =>
          val c = graft.catalog.Catalog.importFrom(
            spark.read.parquet(src), loc, cat, ra, dec, id, orderK, threshold)
          println(s"imported $cat at $loc (order_k=${c.orderK})")
        }
      case "cone" :: loc :: cat :: ra :: dec :: r :: Nil =>
        val (raD, decD, rD) = (ra.toDouble, dec.toDouble, r.toDouble) // eager: bad numbers -> usage
        Right { spark =>
          val res = graft.catalog.Catalog.open(spark, loc, cat).coneSearch(raD, decD, rD)
          res.show(20, truncate = false)
          println(s"${res.count()} rows")
        }
      case "box" :: loc :: cat :: raLo :: raHi :: decLo :: decHi :: Nil =>
        val (a, b, c, d) = (raLo.toDouble, raHi.toDouble, decLo.toDouble, decHi.toDouble)
        Right { spark =>
          val res = graft.catalog.Catalog.open(spark, loc, cat).boxSearch(a, b, c, d)
          res.show(20, truncate = false)
          println(s"${res.count()} rows")
        }
      case "polygon" :: loc :: cat :: rest if rest.length >= 6 && rest.length % 2 == 0 =>
        val vs = rest.map(_.toDouble).grouped(2).map(p => (p(0), p(1))).toSeq
        Right { spark =>
          val res = graft.catalog.Catalog.open(spark, loc, cat).polygonSearch(vs)
          res.show(20, truncate = false)
          println(s"${res.count()} rows")
        }
      case "xmatch" :: loc :: cat1 :: cat2 :: rest if rest.length <= 2 =>
        val k = rest.headOption.map(_.toInt).getOrElse(1)
        val dthresh = rest.lift(1).map(_.toDouble).getOrElse(0.01)
        Right { spark =>
          val c1 = graft.catalog.Catalog.open(spark, loc, cat1)
          val c2 = graft.catalog.Catalog.open(spark, loc, cat2)
          val res = c1.crossMatch(c2, nNeighbors = k, dthreshDeg = dthresh)
          res.show(20, truncate = false)
          println(s"${res.count()} rows")
        }
      case "query" :: name :: sfDir :: Nil =>
        SparkEntry.queries.get(name) match {
          case None => Left(s"unknown query '$name' — see `list`")
          case Some(fn) => Right { spark =>
            val res = fn(spark, sfDir)
            res.show(20, truncate = false)
            println(s"${res.count()} rows")
          }
        }
      case "plan" :: names :: sfDir :: outDir :: suffix :: Nil =>
        val (qs, all) = (names.split(",").toSeq.map(_.trim), SparkEntry.queries)
        qs.find(n => !all.contains(n)) match {
          case Some(n) => Left(s"unknown query '$n' — see `list`")
          case None => Right { spark =>
            val out = Files.createDirectories(Paths.get(outDir))
            qs.foreach { n =>
              val df = all(n)(spark, sfDir)
              val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
              // collect runs the frame's OWN QueryExecution, so its
              // executedPlan ends final (a write plans a separate one)
              df.collect()
              val file = out.resolve(s"${n}_$suffix.txt")
              Files.writeString(file, s"===== $n (explain formatted) =====\n$formatted\n" +
                s"===== $n (executed plan after action, AQE final) =====\n" +
                s"${df.queryExecution.executedPlan}\n")
              println(s"wrote $file")
            }
          }
        }
      case "list" :: Nil =>
        Right(_ => SparkEntry.queries.keys.toSeq.sorted.foreach(println))
      case "compact" :: dir :: rest if rest.length <= 1 =>
        val targetMb = rest.headOption.map(_.toLong).getOrElse(128L) // eager: bad number -> usage
        Right { spark =>
          val (before, after) = graft.operators.Layout.compact(
            spark, dir, targetMb * 1024L * 1024L)
          println(s"$dir: $before -> $after files")
        }
      case "profile" :: src :: cols :: Nil if cols.nonEmpty =>
        Right { spark =>
          graft.operators.Validate.profile(
            spark.read.parquet(src), cols.split(",").toSeq.map(_.trim))
            .show(1000, truncate = false)
        }
      case "validate" :: src :: spec :: Nil if spec.nonEmpty =>
        // spec validated EAGERLY (parse time -> Left(usage)); fk refs
        // load lazily at run time from their own parquet paths
        import graft.operators.Validate._
        val parsed: Seq[Either[String, SparkSession => Check]] =
          spec.split(",").toSeq.map(_.trim.split(":", -1).toList).map {
            case "not_null" :: c :: Nil => Right(_ => NotNull(c))
            case "range" :: c :: lo :: hi :: Nil =>
              val (l, h) = (lo.toDouble, hi.toDouble) // eager: bad numbers -> usage
              Right(_ => InRange(c, l, h))
            case "accepted" :: c :: vs :: Nil if vs.nonEmpty =>
              Right(_ => Accepted(c, vs.split("\\|").toSeq))
            case "unique" :: c :: Nil => Right(_ => Unique(c))
            case "matches" :: c :: rest if rest.nonEmpty =>
              val re = rest.mkString(":") // regexes may contain ':'
              Right(s => Matches(c, re))
            case "fk" :: c :: ref :: refCol :: Nil =>
              Right(s => RefIntegrity(c, s.read.parquet(ref), refCol))
            case other => Left(s"bad check spec '${other.mkString(":")}'")
          }
        parsed.collectFirst { case Left(_) => () } match {
          case Some(_) => Left(usage)
          case None => Right { spark =>
            val checks = parsed.collect { case Right(f) => f(spark) }
            val rep = graft.operators.Validate.validate(spark.read.parquet(src), checks)
            rep.show(1000, truncate = false)
            val failed = rep.filter(org.apache.spark.sql.functions.col("pass") === 0).count()
            println(s"$failed failing check(s)")
          }
        }
      case "viz" :: "xmatch" :: loc :: cat1 :: cat2 :: out :: rest if rest.length <= 2 =>
        val k = rest.headOption.map(_.toInt).getOrElse(1)
        val dthresh = rest.lift(1).map(_.toDouble).getOrElse(0.01)
        Right { spark =>
          val c1 = graft.catalog.Catalog.open(spark, loc, cat1)
          val c2 = graft.catalog.Catalog.open(spark, loc, cat2)
          val img = c1.visualizeCrossMatch(c2, nNeighbors = k, dthreshDeg = dthresh)
          graft.viz.Mollweide.writePng(spark, img, out)
          println(s"wrote $out")
        }
      // kind != xmatch: a malformed `viz xmatch` must fall to usage,
      // not bind cat2 as this case's output path. Kind/arity/number
      // validation is EAGER (parse time -> Left(usage)), matching
      // every other subcommand — no runtime throw after the session
      // is already up
      case "viz" :: kind :: loc :: cat :: out :: rest if kind != "xmatch" =>
        val render: Option[graft.catalog.Catalog => java.awt.image.BufferedImage] =
          (kind, rest) match {
            case ("sources", Nil) => Some(_.visualizeSources())
            case ("partitions", Nil) => Some(_.visualizePartitions())
            case ("cone", ra :: dec :: r :: Nil) =>
              val (raD, decD, rD) = (ra.toDouble, dec.toDouble, r.toDouble) // eager: bad numbers -> usage
              Some(_.visualizeConeSearch(raD, decD, rD))
            case _ => None
          }
        render match {
          case None => Left(usage)
          case Some(f) => Right { spark =>
            val img = f(graft.catalog.Catalog.open(spark, loc, cat))
            graft.viz.Mollweide.writePng(spark, img, out)
            println(s"wrote $out")
          }
        }
      case _ => Left(usage)
    }

  def main(args: Array[String]): Unit =
    parse(args) match {
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
      case Right(action) =>
        val spark = GraftSession()
        try action(spark) finally spark.stop()
    }
}
