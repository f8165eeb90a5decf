package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/**
 * Byte-pair-encoding tokenizer: distributed training + map-only
 * encoding. Every real training pipeline budgets data in TOKENIZER
 * tokens, not whitespace words — this is the operator that closes
 * that gap (TextAnalysis.withTokenCounts's `bpe_pieces` is a regex
 * approximation; this trains real merges).
 *
 * Scale shape (the 100 TB story):
 *  - TRAIN touches the corpus exactly ONCE: a word-frequency
 *    aggregation (map-side combined). Every merge iteration then
 *    runs over the DISTINCT-WORD table — bounded by vocabulary
 *    (~10^6-10^7 rows at web scale), independent of corpus size.
 *    This is the classic Sennrich optimization re-expressed as a
 *    Spark aggregation + a driver-looped argmax, the same replay
 *    discipline as `Ann.kmeansCodebook`.
 *  - ENCODE is MAP-ONLY: the learned merge table (a few thousand
 *    string pairs) broadcasts to every executor; no shuffle touches
 *    the corpus.
 *
 * Determinism contract (what the DuckDB oracle replays): words are
 * whitespace-split from trimmed text; symbols start as single
 * characters; each iteration merges the pair with the highest
 * frequency, ties broken by (left, right) ascending binary order;
 * merge application is the standard left-to-right non-overlapping
 * scan. Words longer than `maxWordLen` are excluded from training
 * statistics and encode as ONE opaque token — the word-length cap
 * real tokenizers impose (via pre-tokenization) so a pathological
 * megabyte "word" can't blow up the merge scan.
 *
 * Applying merges strictly in rank order reproduces the reference
 * min-rank-first encode loop: once a merge is fully applied its pair
 * can never reappear (merges only combine symbols, so new
 * adjacencies always involve a strictly longer symbol), hence
 * rank-order folding and min-rank-first are the same function.
 */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String)

  /** Left-to-right non-overlapping merge of (l, r) -> l+r. */
  def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Unsigned UTF-8 byte order — the order Spark's UTF8String binary
   *  comparison (and DuckDB's binary collation) sorts strings in; the
   *  driver replay must break frequency ties in exactly this order,
   *  NOT Java String's UTF-16 code-unit order (they differ above the
   *  BMP). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /**
   * Train `nMerges` byte-pair merges over the text column. One
   * corpus pass builds the word-frequency table; vocabularies of at
   * most `localMaxWords` distinct words then replay the merge loop on
   * the driver (bit-identical: exact integer pair counts, UTF-8-binary
   * tie order), while larger ones run each iteration as one
   * aggregation over the distinct-word table (pair counts, map-side
   * combined) plus a bounded argmax collect. The default is
   * [[DriverLocal.maxWords]]; 0 forces the distributed loop. Stops
   * early if no pair remains.
   */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            maxWordLen: Int = 64, localMaxWords: Long = DriverLocal.maxWords): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1: $nMerges")
    require(maxWordLen >= 2, s"maxWordLen must be >= 2: $maxWordLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val words0: Dataset[(Array[String], Long)] = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) => (w.map(_.toString).toArray, f) }
    def cachedWords(ds: Dataset[(Array[String], Long)]) =
      CacheUtil.cached(ds.toDF).as[(Array[String], Long)]
    var words = cachedWords(words0)
    val nWords = words.count()
    if (localMaxWords > 0 && nWords <= localMaxWords) {
      val local = words.collect()
      CacheUtil.release(words.toDF)
      return trainLocal(local, nMerges)
    }
    val merges = new ArrayBuffer[Merge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val best = words.flatMap { case (syms, f) =>
        if (syms.length < 2) Iterator.empty
        else (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f))
      }.toDF("l", "r", "freq")
        .groupBy("l", "r").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(rank, l, r)
        val prev = words
        words = cachedWords(prev.map { case (syms, f) => (applyMerge(syms, l, r), f) })
        words.count() // materialize before freeing the parent
        CacheUtil.release(prev.toDF)
        rank += 1
      }
    }
    CacheUtil.release(words.toDF)
    merges.toSeq
  }

  /** Driver-side replay of the merge loop: same pair counting, same
   *  (count desc, left, right) selection under UTF-8 byte order, same
   *  left-to-right non-overlapping application. */
  private def trainLocal(words0: Array[(Array[String], Long)], nMerges: Int): Seq[Merge] = {
    var words = words0
    val merges = new ArrayBuffer[Merge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val cnt = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          cnt.merge((syms(i), syms(i + 1)), f, _ + _)
          i += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = -1L
        cnt.forEach { (p, c) =>
          if (c > bc ||
            (c == bc && (utf8Lt(p._1, bl) ||
              (p._1 == bl && utf8Lt(p._2, br))))) { bc = c; bl = p._1; br = p._2 }
        }
        merges += Merge(rank, bl, br)
        words = words.map { case (syms, f) => (applyMerge(syms, bl, br), f) }
        rank += 1
      }
    }
    merges.toSeq
  }

  /**
   * Per-document BPE token counts: map-only, merge table broadcast.
   * NULL text counts 0 tokens; words over `maxWordLen` count 1 (the
   * opaque-token cap — see the object doc).
   */
  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[Merge], maxWordLen: Int = 64): DataFrame = {
    Sampling.requireIntegralId(docs, idCol, "Bpe.encodeCounts")
    val spark = docs.sparkSession
    import spark.implicits._
    val table = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val bc = spark.sparkContext.broadcast(table)
    docs.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val ms = bc.value
        var n = 0L
        for (w <- text.trim.split("\\s+") if w.nonEmpty) {
          if (w.length > maxWordLen) n += 1
          else {
            var syms = w.map(_.toString).toArray
            var i = 0
            while (i < ms.length) { syms = applyMerge(syms, ms(i)._1, ms(i)._2); i += 1 }
            n += syms.length
          }
        }
        (id, n)
      }.toDF(idCol, "n_bpe")
  }

  /** Tokenize one word with a trained merge list (encode semantics —
   *  rank-order fold). Exposed for tests and spot inspection. */
  def encodeWord(w: String, merges: Seq[Merge]): Array[String] = {
    var syms = w.map(_.toString).toArray
    merges.sortBy(_.rank).foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }

  // ------------------------------------------------------------ SQL twin

  /**
   * DuckDB replay of train + encode over the `documents` table,
   * iterations UNROLLED (the `vec_kmeans` discipline). Words are
   * delimiter-joined symbol strings (`|h|e|l|l|o|`); one merge
   * application is `replace` iterated `maxWordLen/2` times — plain
   * string replace misses back-to-back occurrences (the shared
   * delimiter), and each extra pass merges at least one remaining
   * occurrence, so occurrence-count-many passes reach the same
   * fixpoint as the left-to-right symbol scan (which leaves no
   * occurrence behind by construction). Callers must pre-clean the
   * text so it cannot contain the `|` delimiter (the graft-side
   * query lowercases to [a-z ]). Assumes the corpus is rich enough
   * to produce all `nMerges` merges (the Spark side stops early on
   * exhaustion; an empty argmax here would empty the chained CTEs).
   */
  def trainEncodeSql(cleanSql: String, trainFilter: String,
                     nMerges: Int, maxWordLen: Int): String = {
    val passes = math.max(1, maxWordLen / 2)
    // one merge application: fixpoint replace of |l|r| -> |lr| using b$i's pair
    def applySql(seqExpr: String, i: Int): String =
      (1 to passes).foldLeft(seqExpr)((e, _) =>
        s"replace($e, '|' || b$i.l || '|' || b$i.r || '|', '|' || b$i.l || b$i.r || '|')")
    val iters = (1 to nMerges).map { i =>
      s"""p$i AS (
        SELECT s.parts[j] AS l, s.parts[j + 1] AS r, CAST(SUM(s.freq) AS BIGINT) AS cnt
        FROM (SELECT string_split(trim(seq, '|'), '|') AS parts, freq FROM seq${i - 1}) s
        JOIN generate_series(1, ${maxWordLen - 1}) t(j) ON t.j <= len(s.parts) - 1
        GROUP BY 1, 2),
      b$i AS (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
      seq$i AS (SELECT ${applySql("q.seq", i)} AS seq, q.freq FROM seq${i - 1} q, b$i)"""
    }.mkString(",\n")
    val encApply = (1 to nMerges).foldLeft("e.seq")((expr, i) => applySql(expr, i))
    val bs = (1 to nMerges).map(i => s"b$i").mkString(", ")
    s"""WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, $cleanSql AS clean FROM documents),
    trainw AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(trim(clean), '\\s+')) AS w
        FROM docs WHERE $trainFilter) t
      WHERE length(w) BETWEEN 1 AND $maxWordLen GROUP BY w),
    seq0 AS (SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS seq, freq FROM trainw),
    $iters,
    encw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(clean), '\\s+')) AS w FROM docs) t
      WHERE length(w) >= 1),
    shortw AS (SELECT DISTINCT w FROM encw WHERE length(w) <= $maxWordLen),
    enctok AS (
      SELECT e.w, CAST(len(string_split(trim($encApply, '|'), '|')) AS BIGINT) AS n
      FROM (SELECT w, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS seq FROM shortw) e, $bs)
    SELECT d.doc_id,
      CAST(COALESCE(SUM(CASE WHEN length(e.w) > $maxWordLen THEN 1 ELSE t.n END), 0) AS BIGINT) AS n_bpe
    FROM docs d
    LEFT JOIN encw e USING (doc_id)
    LEFT JOIN enctok t ON t.w = e.w
    GROUP BY d.doc_id ORDER BY d.doc_id"""
  }
}
