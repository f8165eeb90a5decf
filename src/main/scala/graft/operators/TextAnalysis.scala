package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: language ID,
 * quality scoring, token counting, document fingerprinting. All
 * built-in-function compositions (codegen'd, UDF-free).
 */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "en"))

  def tokens(text: Column): Column = split(Dedup.normalizeText(text), " ")

  /**
   * Heuristic language ID as a `pred_lang` column: CJK character
   * presence -> zh, otherwise argmax of stopword-hit counts
   * (largest lang code wins ties, matching the SQL oracle's CASE
   * ladder), "und" when nothing matches.
   */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(toks, array(words.map(lit): _*))).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    df.withColumn("pred_lang",
      when(cjk > 0, lit("zh"))
        .otherwise(when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))))
  }

  /**
   * Quality signals: token count, mean token length, punctuation
   * ratio, stopword ratio (en), and a blended 0-1 quality score.
   * Every component is SQL-expressible for the DuckDB oracle.
   */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val punct = length(t) - length(regexp_replace(t, "[.,!?;:'\"]", ""))
    val stopHits = size(filter(toks, x => x.isin(stopwords("en"): _*)))
    // ratios are emitted as floor(x * 1e4) integers: floor of the
    // identically-computed double is engine-policy-free, unlike
    // round() (Spark rounds the decimal rendering HALF_UP, DuckDB
    // rounds the binary value — they disagree on exact .xxxx5 cases)
    df.withColumn("n_tokens", nTok.cast("long"))
      .withColumn("avg_token_len_e4",
        floor(length(array_join(toks, "")).cast("double") / nTok * 10000).cast("long"))
      .withColumn("punct_ratio_e4", floor(punct.cast("double") / length(t) * 10000).cast("long"))
      .withColumn("stopword_ratio_e4", floor(stopHits.cast("double") / nTok * 10000).cast("long"))
      .withColumn("quality_score_e4", floor((
        least(lit(1.0), nTok.cast("double") / 100) * 0.5 +
          least(lit(1.0), stopHits.cast("double") / nTok * 5) * 0.3 +
          (lit(1.0) - least(lit(1.0), punct.cast("double") / length(t) * 10)) * 0.2) * 10000).cast("long"))
  }

  /** SQL twins of withQuality's columns (text expr `t`, DuckDB dialect). */
  def qualitySql(t: String): String = {
    val norm = Dedup.normalizeTextSql(t)
    val toks = s"string_split($norm, ' ')"
    val nTok = s"len($toks)"
    val punct = s"(length($t) - length(regexp_replace($t, '[.,!?;:''\"]', '', 'g')))"
    val stop = s"len(list_filter($toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))"
    s"""CAST($nTok AS BIGINT) AS n_tokens,
       CAST(floor(length(array_to_string($toks, ''))::DOUBLE / $nTok * 10000) AS BIGINT) AS avg_token_len_e4,
       CAST(floor($punct::DOUBLE / length($t) * 10000) AS BIGINT) AS punct_ratio_e4,
       CAST(floor($stop::DOUBLE / $nTok * 10000) AS BIGINT) AS stopword_ratio_e4,
       CAST(floor((least(1.0, $nTok::DOUBLE / 100) * 0.5
           + least(1.0, $stop::DOUBLE / $nTok * 5) * 0.3
           + (1.0 - least(1.0, $punct::DOUBLE / length($t) * 10)) * 0.2) * 10000) AS BIGINT) AS quality_score_e4"""
  }

  /** Whitespace tokens + BPE-ish regex piece count (letters runs / digit runs / other). */
  /** The pinned whitespace tokenization (engine-portable: DuckDB twin
    * is `regexp_split_to_array(trim(x), '\s+')`). Every operator that
    * tokenizes by whitespace — token counts, chunking, packing — must
    * route through this one definition so the Spark side can't drift
    * from the committed oracles. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count with the [[wsTokens]] semantics (an empty
    * document counts one empty token, matching the SQL twin). */
  def wsTokenCount(text: Column): Column = size(wsTokens(text)).cast("long")

  def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", wsTokenCount(col(textCol)))
      .withColumn("bpe_pieces", regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long"))

  /**
   * Per-document token-distribution signals — the gibberish/
   * keyword-stuffing detectors a quality pipeline runs next to the
   * Gopher repetition rules: Shannon entropy of the unigram
   * distribution (low = few tokens dominate; high = diverse) and the
   * type-token ratio. Entropy uses the exact identity
   * `H = ln n - sum(c ln c)/n` so ONE aggregate over (doc, term)
   * counts suffices (no per-doc second pass for n); the (doc, term)
   * aggregate is map-side combined — the text_tfidf shuffle shape,
   * linear in corpus tokens. 6-dp rounding pins the float hash
   * cross-engine; TTR is an exact integer div. Empty documents
   * produce no row (nothing to score — pinned on both engines).
   */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("__t"))
    toks.groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum("__c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__sclnc"))
      .withColumn("entropy", round(
        log(col("n_tokens").cast("double")) - col("__sclnc") / col("n_tokens"), 6))
      .withColumn("ttr_e4", expr("n_types * 10000 div n_tokens"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("entropy"), col("ttr_e4"))
  }

  /**
   * Corpus drift screen: for each group (a source, shard, or time
   * slice), the KL and Jensen-Shannon divergence between the group's
   * token distribution and the WHOLE corpus's — the cheap "did this
   * source drift from the training mix" data-quality gate run before
   * expensive mixture re-weighting. KL(group ‖ corpus) is always
   * finite (group terms are corpus terms); JSD additionally charges
   * the group for corpus mass it lacks (0.5·q·ln2 per absent term),
   * so a narrow source scores high on both.
   *
   * Output per group: (groupCol, n_tokens, n_types, kl, jsd) with the
   * divergences rounded to 6 dp (nats).
   *
   * Scale shape: one map-side-combined (group, term) aggregate; the
   * vocab table and per-group totals derive from it (no second corpus
   * scan). The absent-term JSD mass is computed ANALYTICALLY instead
   * of materializing the dense groups x vocab grid: since the corpus
   * distribution sums to 1,  sum_absent q·ln2 = (1 - sum_present q)
   * ·ln2,  so  jsd = 0.5·(ln2 + sum_present[p·ln(2p/(p+q)) +
   * q·ln(2q/(p+q)) - q·ln2])  — the plan touches only GROUP-PRESENT
   * (group, term) rows (bounded by the gt aggregate itself, group-
   * cardinality-independent); the r14 grid shape paid a groups x
   * vocab cross join. The corpus-total scalar rides a broadcast
   * 1-row cross join. The term table is cached for its three
   * derived faces and released EAGERLY by materializing the
   * group-bounded result; the group-cardinality contract (groupCol
   * is a source/shard/slice) is enforced AT that collect via a limit
   * probe — at most 4097 rows come back — instead of a separate
   * up-front distinct-count job (safe now that no grid can explode
   * on a high-cardinality groupCol first).
   */
  def sourceDrift(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("__grp"),
      explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("__t"))
    val gt = CacheUtil.cached(tok.groupBy("__grp", "__t").agg(count(lit(1)).as("__c")))
    val vocab = gt.groupBy("__t").agg(sum("__c").as("__ct"))
    val gTot = gt.groupBy("__grp").agg(sum("__c").as("__n"), count(lit(1)).as("n_types"))
    val nTot = vocab.agg(sum("__ct").as("__nn"))
    val ln2 = lit(math.log(2.0))
    val term2 = lit(2.0)
    val pres = gt.join(vocab, "__t").join(gTot, "__grp").crossJoin(broadcast(nTot))
      .withColumn("__p", col("__c").cast("double") / col("__n"))
      .withColumn("__q", col("__ct").cast("double") / col("__nn"))
    val out = pres.groupBy(col("__grp"))
      .agg(first(col("__n")).cast("long").as("n_tokens"),
        first(col("n_types")).as("n_types"),
        round(sum(col("__p") * log(col("__p") / col("__q"))), 6).as("kl"),
        round((ln2 + sum(
          col("__p") * log(term2 * col("__p") / (col("__p") + col("__q"))) +
          col("__q") * log(term2 * col("__q") / (col("__p") + col("__q"))) -
          col("__q") * ln2)) * 0.5, 6).as("jsd"))
      .withColumnRenamed("__grp", groupCol)
    val rows = out.limit(4097).collect()
    CacheUtil.release(gt)
    require(rows.length <= 4096,
      s"sourceDrift: groupCol '$groupCol' has over 4096 distinct groups; " +
        "the per-group result is materialized on the driver, so the group " +
        "count must stay bounded — pre-bucket the column first")
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /**
   * Order-sensitive document fingerprint: rolling polynomial hash of
   * the normalized text's code points (two texts with the same token
   * multiset but different order fingerprint differently). A codegen
   * kernel with mod-prime bounded arithmetic — engine-portable, so
   * the DuckDB oracle recomputes it exactly ([[fingerprintSql]]);
   * the r1 xxhash64 rolling hash was not SQL-expressible.
   */
  def fingerprint(text: Column): Column =
    graft.functions.native.fingerprint64(Dedup.normalizeText(text))

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
   * MOSS local selection): per document, the rightmost-minimum gram
   * hash of every w-gram window over k-token grams, as (id, pos, fp)
   * rows. The winnowing theorem guarantees any copied span of
   * >= w + k - 1 tokens shares at least one fingerprint while
   * retaining only ~2/(w+1) of the gram hashes — position-robust
   * near-dup/plagiarism evidence that fixed segmentation misses and
   * full shingle indexes pay (w+1)/2 x the storage for.
   *
   * Scale shape: the corpus pass is MAP-ONLY (one codegen kernel call
   * per document, no explode-then-window); the output is the compact
   * fingerprint index you equi-join on ([[winnowMatches]]).
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && k <= 64, s"winnow: k must be in [1, 64] (got $k)")
    require(w >= 1 && w <= 64, s"winnow: w must be in [1, 64] (got $w)")
    df.select(col(idCol),
        explode(graft.functions.native.winnow(Dedup.normalizeText(col(textCol)), k, w)).as("__p"))
      .select(col(idCol), shiftright(col("__p"), 32).as("pos"),
        col("__p").bitwiseAND(lit(0xffffffffL)).as("fp"))
  }

  /**
   * MOSS-style match ranking: document pairs sharing winnowed
   * fingerprints, by shared count. Banded equi-join on fp (bounded
   * candidates, no all-pairs); fingerprints appearing in more than
   * `maxDocFreq` documents are dropped first — boilerplate phrases
   * otherwise create quadratic hot-key blowup, the same stop-key
   * guard the minhash band join uses.
   */
  def winnowMatches(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4, minShared: Int = 2,
                    maxDocFreq: Int = 50): DataFrame = {
    // the distinct fingerprint table feeds the doc-frequency aggregate
    // AND both sides of the self-join — without the cache the
    // per-document winnow kernel pass would re-run up to 4x
    val fps = CacheUtil.cached(winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp")).distinct())
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("fp")
    val pruned = fps.join(rare, "fp")
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** DuckDB twin of the whole [[winnowFingerprints]] pipeline: gram
   *  hashes via the same mod-prime fold, the w-window minimum as a
   *  ROWS frame computed over ALL grams (filtering to window starts
   *  only afterwards — a WHERE before the window would change the
   *  frames), rightmost tie pick as max(pos) at the minimum, and
   *  DISTINCT (pos, fp) — equal to the kernel's consecutive-change
   *  dedup because sliding-window rightmost-min picks are monotone
   *  in pos. */
  def winnowSql(table: String, idCol: String, textCol: String, k: Int, w: Int): String = {
    val norm = Dedup.normalizeTextSql(textCol)
    s"""WITH toks AS (
      SELECT $idCol, list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk FROM $table),
    dims AS (
      SELECT $idCol, tk, CASE WHEN len(tk) >= $k THEN len(tk) - $k + 1 ELSE 1 END AS m FROM toks),
    grams AS (
      SELECT $idCol, m, CAST(gg.j AS BIGINT) - 1 AS pos,
        CASE WHEN len(tk) >= $k THEN array_to_string(tk[gg.j:gg.j+${k - 1}], ' ')
             ELSE array_to_string(tk, ' ') END AS gram
      FROM dims, unnest(range(1, m + 1)) AS gg(j)),
    fps AS (
      SELECT $idCol, m, pos,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(gram) + 1), i -> CAST(unicode(gram[i:i]) AS BIGINT))),
          (a, c) -> (a * 131 + c) % 1000000007) AS fp
      FROM grams),
    winall AS (
      SELECT $idCol, m, pos AS j, min(fp) OVER (
        PARTITION BY $idCol ORDER BY pos ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mn
      FROM fps),
    wins AS (SELECT * FROM winall WHERE j <= m - $w OR j = 0),
    picks AS (
      SELECT w.$idCol, w.j, max(f.pos) AS pos, w.mn AS fp
      FROM wins w JOIN fps f ON f.$idCol = w.$idCol
        AND f.pos BETWEEN w.j AND w.j + ${w - 1} AND f.fp = w.mn
      GROUP BY w.$idCol, w.j, w.mn)
    SELECT DISTINCT $idCol, CAST(pos AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp FROM picks"""
  }

  /**
   * Content-defined chunking (the Rabin/CDC family, token
   * granularity): a chunk boundary falls AFTER token i whenever the
   * fingerprint of the trailing `g`-token gram is ≡ 0 mod
   * `targetTok` — boundaries are functions of local CONTENT, so
   * inserting or deleting text resynchronizes within ~g tokens and
   * every downstream chunk fingerprint is UNCHANGED. Fixed windows
   * ([[graft.operators.Packing.chunkTokens]]) shift every window
   * after an edit; CDC is what makes chunk-level dedup storage
   * incremental under edits. Expected chunk length = targetTok
   * tokens (geometric; no min/max clamps — the clamped variant
   * needs a sequential scan that neither engine can express
   * relationally, and the unclamped boundary rule is what the
   * oracle replays exactly).
   *
   * Returns (id, chunk_seq, first_pos, n_tok, chunk_fp) — the
   * chunk-hash index you dedup/join on. Scale shape: map-only gram
   * hashing (the token array rides alongside its posexplode), one
   * per-DOC window (bounded by document length, the
   * substringDupStats precedent) and one aggregation; nothing
   * corpus-sized sorts on a single task.
   */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                g: Int = 4, targetTok: Int = 32): DataFrame = {
    require(g >= 1 && g <= 16, s"cdc: g must be in [1, 16] (got $g)")
    require(targetTok >= 2 && targetTok <= 4096,
      s"cdc: targetTok must be in [2, 4096] (got $targetTok)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val toksNE = filter(tokens(col(textCol)), t => length(t) > 0)
    df.select(col(idCol), toksNE.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col(idCol), posexplode(col("tk")).as(Seq("pos", "tok")))
      .withColumn("gram", concat_ws(" ",
        expr(s"slice(collect_list(tok) OVER (PARTITION BY $idCol ORDER BY pos " +
          s"ROWS BETWEEN ${g - 1} PRECEDING AND CURRENT ROW), 1, $g)")))
      .withColumn("b",
        (pmod(graft.functions.native.fingerprint64(col("gram")), lit(targetTok.toLong)) === 0)
          .cast("long"))
      .withColumn("chunk_seq", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_seq"))
      .agg(min(col("pos")).as("first_pos"), count(lit(1)).as("n_tok"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("__chunk"))
      .withColumn("chunk_fp", graft.functions.native.fingerprint64(col("__chunk")))
      .select(col(idCol), col("chunk_seq"), col("first_pos"), col("n_tok"), col("chunk_fp"))
  }

  /** DuckDB twin of the whole [[cdcChunks]] pipeline. */
  def cdcChunksSql(table: String, idCol: String, textCol: String,
                   g: Int, targetTok: Int): String = {
    val norm = Dedup.normalizeTextSql(textCol)
    s"""WITH toks AS (
      SELECT $idCol, list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk
      FROM $table),
    pos AS (
      SELECT $idCol, tk, CAST(pp.j AS BIGINT) - 1 AS pos, tk[pp.j] AS tok
      FROM toks, unnest(range(1, len(tk) + 1)) AS pp(j) WHERE len(tk) > 0),
    grams AS (
      SELECT $idCol, pos, tok,
        array_to_string(tk[greatest(1, pos + 2 - $g):pos + 1], ' ') AS gram
      FROM pos),
    bs AS (
      SELECT $idCol, pos, tok,
        CASE WHEN (${fingerprintSql("gram")}) % $targetTok = 0 THEN 1 ELSE 0 END AS b
      FROM grams),
    seqd AS (
      SELECT $idCol, pos, tok, COALESCE(sum(b) OVER (
        PARTITION BY $idCol ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_seq
      FROM bs),
    chunks AS (
      SELECT $idCol, chunk_seq, min(pos) AS first_pos, count(*) AS n_tok,
        string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM seqd GROUP BY $idCol, chunk_seq)
    SELECT $idCol, CAST(chunk_seq AS BIGINT) AS chunk_seq,
      CAST(first_pos AS BIGINT) AS first_pos, CAST(n_tok AS BIGINT) AS n_tok,
      CAST((${fingerprintSql("chunk")}) AS BIGINT) AS chunk_fp
    FROM chunks"""
  }

  /** DuckDB twin of [[fingerprint]] (identical bounded BIGINT arithmetic). */
  def fingerprintSql(t: String): String = {
    val norm = Dedup.normalizeTextSql(t)
    val cps = s"list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($norm) + 1), i -> CAST(unicode($norm[i:i]) AS BIGINT)))"
    s"(list_reduce($cps, (a, c) -> (a * 131 + c) % 1000000007) * 2147483648" +
      s" + list_reduce($cps, (a, c) -> (a * 257 + c) % 998244353))"
  }

  /**
   * Repetition signals (the Gopher/MassiveText quality-rule family):
   * duplicate-token fraction and most-common-bigram fraction. A
   * single-pass per-row codegen kernel — MAP-ONLY, unlike the
   * explode + per-(doc, bigram) aggregate formulation, which
   * shuffles every bigram occurrence (the shape the oracle replays).
   * Ratios are floor(x * 1e4) integers (engine-policy-free rounding,
   * same convention as [[withQuality]]).
   */
  def withRepetitionStats(df: DataFrame, textCol: String): DataFrame = {
    val rs = graft.functions.native.repetitionStats(tokens(col(textCol)))
    df.withColumn("__rs", rs)
      .withColumn("n_tokens", col("__rs").getItem(0))
      .withColumn("dup_token_ratio_e4",
        when(col("__rs").getItem(0) > 0,
          floor((lit(1.0) - col("__rs").getItem(1).cast("double") / col("__rs").getItem(0)) * 10000))
          .otherwise(0).cast("long"))
      .withColumn("top_bigram_ratio_e4",
        when(col("__rs").getItem(2) > 0,
          floor(col("__rs").getItem(3).cast("double") / col("__rs").getItem(2) * 10000))
          .otherwise(0).cast("long"))
      .drop("__rs")
  }

  // PII patterns restricted to the regex subset Java and RE2 (DuckDB)
  // interpret identically — no backrefs, no lookaround, no \d classes
  private[operators] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val phoneRe = "\\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{1,4}[ -][0-9]{4}"
  private[operators] val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /**
   * PII redaction for training corpora: counts and masks emails,
   * international-format phone numbers and IPv4 addresses. Counts are
   * taken on the ORIGINAL text; replacement is ordered email → phone
   * → ip so an address inside an email is consumed by the email mask
   * (the same fixed order the SQL twin replays). Map-only — a single
   * codegen'd projection, the 100 TB shape.
   */
  def redactPii(df: DataFrame, textCol: String, outCol: String = "redacted"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(emailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(phoneRe)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(ipRe)).cast("long"))
      .withColumn(outCol,
        regexp_replace(regexp_replace(regexp_replace(t, emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]"), ipRe, "[IP]"))
  }

  /** SQL twins of [[redactPii]]'s columns (text expr `t`, DuckDB
   *  dialect — the patterns contain no quotes, so plain single-quote
   *  wrapping is safe; RE2 and Java agree on this regex subset). */
  def redactPiiSql(t: String): String = {
    def q(re: String) = "'" + re + "'"
    val (e, p, i) = (q(emailRe), q(phoneRe), q(ipRe))
    s"""CAST(len(regexp_extract_all($t, $e)) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all($t, $p)) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all($t, $i)) AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace($t, $e, '[EMAIL]', 'g'),
         $p, '[PHONE]', 'g'), $i, '[IP]', 'g') AS redacted"""
  }

  /**
   * Corpus TF-IDF: top-k terms per group (e.g. language), each group
   * treated as its own corpus. tf = term occurrences in the group,
   * df = documents in the group containing the term, idf =
   * ln((N+1)/(df+1)) + 1 (smoothed). At scale: one explode feeding
   * a hash aggregate with map-side combine — only (group, term)
   * pairs shuffle, never documents; the per-group doc counts are a
   * tiny broadcast side; top-k is a bounded window per group.
   */
  def tfidfTopTerms(df: DataFrame, groupCol: String, idCol: String, textCol: String,
                    k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(groupCol).as("grp"), col(idCol).as("__doc"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      // NULL doc ids don't count as a document (countDistinct semantics
      // — the pre-aggregate below would otherwise count them as one)
      .filter(col("__doc").isNotNull)
    // two-level aggregate instead of count + countDistinct in one agg:
    // the latter plans through an Expand (doubles every exploded row
    // before the shuffle); per-doc partial counts first keeps the big
    // shuffle map-side-combined and Expand-free
    val stats = toks.groupBy("grp", "term", "__doc").agg(count(lit(1)).as("__tfd"))
      .groupBy("grp", "term")
      .agg(sum("__tfd").as("tf"), count(lit(1)).as("df"))
    val nDocs = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = stats.join(broadcast(nDocs), "grp")
      .withColumn("tfidf",
        col("tf") * (log((col("n_docs").cast("double") + 1) / (col("df").cast("double") + 1)) + 1))
    val w = Window.partitionBy("grp").orderBy(round(col("tfidf"), 6).desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rank"))
  }

  /**
   * Inverted index: per term, its document frequency and the sorted
   * posting list (as a comma-joined string — a stable scalar the
   * driver's hash compares across engines). The corpus-side shape is
   * ONE hash aggregate: explode to (term, doc), per-(term, doc)
   * partial counts combine map-side, then `collect_set` builds the
   * postings — only distinct (term, doc) pairs ride the shuffle,
   * never documents. `minDf` prunes the hapax tail (the vocabulary's
   * long tail is most of its rows and none of its retrieval value).
   *
   * At 100 TB: posting lists for stopword-grade terms are the skew
   * hazard (one term = billions of docs). The production layout
   * shards a hot term's postings across rows (term, shard) — here
   * `maxDf` drops such terms entirely (a stop list), which is both
   * the retrieval-quality and the skew answer; rows with df > maxDf
   * carry a NULL posting list rather than a multi-GB cell.
   */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1, maxDf: Long = Long.MaxValue): DataFrame = {
    val td = df.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0 && col("doc").isNotNull)
      .groupBy("term", "doc").agg(count(lit(1)).as("__n")) // map-side combined dedup
    // stop-grade terms are identified by a df-only pre-pass BEFORE any
    // posting list is built: a `when(df <= maxDf, ...)` projection over
    // a collect_set aggregate would still materialize the full
    // multi-GB posting buffer for a billion-doc stopword in one task
    // and only then NULL it out. The stop list is small by
    // construction (terms above maxDf), so the anti-join broadcasts
    // under AQE; the df pre-pass is a plain count aggregate over the
    // same shuffle keys. Costs a second pass over the (term, doc)
    // pairs — boundedness at scale is worth the extra scan (persist
    // upstream of this call if the tokenize dominates).
    val stats = td.groupBy("term").agg(count(lit(1)).as("df")).filter(col("df") >= minDf)
    val stop = stats.filter(col("df") > maxDf)
    val posted = td.join(stop.select("term"), Seq("term"), "left_anti")
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sort_array(collect_set(col("doc"))).as("__p"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"),
        array_join(transform(col("__p"), _.cast("string")), ",").as("postings"))
    posted.unionByName(
      stop.select(col("term"), col("df"), lit(null).cast("string").as("postings")))
  }

  /** SQL twin of [[invertedIndex]] for DuckDB oracles. */
  def invertedIndexSql(table: String, idCol: String, textCol: String,
                       minDf: Long = 1, maxDf: Long = Long.MaxValue): String =
    s"""WITH td AS (
      SELECT DISTINCT tt.term AS term, $idCol AS doc
      FROM $table, unnest(string_split(${Dedup.normalizeTextSql(textCol)}, ' ')) tt(term)
      WHERE length(tt.term) > 0 AND $idCol IS NOT NULL),
    agg AS (
      SELECT term, count(*) AS df,
        string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings
      FROM td GROUP BY term)
    SELECT term, df,
      CASE WHEN df <= $maxDf THEN postings ELSE NULL END AS postings
    FROM agg WHERE df >= $minDf"""

  /**
   * BM25 top-k ranked retrieval (Robertson et al.'s Okapi weighting —
   * the retrieval face the inverted index of [[invertedIndex]] feeds;
   * an LLM-data pipeline uses it for hard-negative mining and dedup
   * triage). For a FIXED query-term list: ONE map-side-combinable
   * per-doc aggregate computes the doc length and every query term's
   * tf in a single corpus pass; the corpus stats (N, total tokens,
   * per-term df) reduce to ONE broadcast row; scoring is map-only and
   * the top-k is orderBy+limit → TakeOrderedAndProject (distributed
   * per-partition top-k, never a global sort). Only docs containing
   * at least one query term are scored. At 100 TB the per-doc length
   * would be a precomputed column; here it rides the same aggregate.
   *
   * Floats follow the repo's 6-dp convention: both engines build the
   * IDENTICAL expression tree (explicit casts + parenthesization, the
   * per-term sum in fixed term order), and ranking compares the
   * ROUNDED score with doc_id tiebreak, so the hash is pinned.
   */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String, queryTerms: Seq[String],
               k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val tfCols = queryTerms.zipWithIndex.map { case (term, i) =>
      sum(when(col("term") === term, 1L).otherwise(0L)).as(s"__tf_$i") }
    val perDocCols = Seq(count(lit(1)).as("__dl")) ++ tfCols
    val perDoc = toks.groupBy("doc_id").agg(perDocCols.head, perDocCols.tail: _*)
    val dfCols = queryTerms.indices.map(i =>
      sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val statCols = Seq(count(lit(1)).as("__n"), sum("__dl").as("__toktot")) ++ dfCols
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("__toktot").cast("double") / col("__n").cast("double")
    val lenNorm = lit(1.0) - lit(b) + lit(b) * (col("__dl").cast("double") / avgdl)
    val score = queryTerms.indices.map { i =>
      val tf = col(s"__tf_$i")
      val dfT = col(s"__df_$i")
      val idf = log(lit(1.0) +
        ((col("__n") - dfT).cast("double") + lit(0.5)) / (dfT.cast("double") + lit(0.5)))
      idf * (tf.cast("double") * lit(k1 + 1)) / (tf.cast("double") + lit(k1) * lenNorm)
    }.reduce(_ + _)
    perDoc.filter(queryTerms.indices.map(i => col(s"__tf_$i")).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"), col("__dl").as("dl"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** SQL twin of [[bm25TopK]] for DuckDB oracles — the same
   *  expression tree, casts and parenthesization, term order and
   *  rounded-rank semantics. */
  def bm25Sql(table: String, idCol: String, textCol: String, queryTerms: Seq[String],
              k: Int = 20, k1: Double = 1.2, b: Double = 0.75): String = {
    val tfSel = queryTerms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$i" }.mkString(", ")
    val dfSel = queryTerms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val lenNorm = s"(1.0 - $b + $b * (CAST(dl AS DOUBLE) / avgdl))"
    val score = queryTerms.indices.map { i =>
      s"ln(1.0 + (CAST(n - df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))" +
        s" * (CAST(tf_$i AS DOUBLE) * ${k1 + 1}) / (CAST(tf_$i AS DOUBLE) + $k1 * $lenNorm)"
    }.mkString(" + ")
    val anyTf = queryTerms.indices.map(i => s"tf_$i").mkString(" + ")
    s"""WITH toks AS (
      SELECT $idCol AS doc_id, tt.term
      FROM $table, unnest(string_split(${Dedup.normalizeTextSql(textCol)}, ' ')) tt(term)
      WHERE length(tt.term) > 0),
    perdoc AS (SELECT doc_id, count(*) AS dl, $tfSel FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, sum(dl) AS toktot, $dfSel FROM perdoc),
    scored AS (SELECT doc_id,
        round($score, 6) AS bm25, dl
      FROM (SELECT perdoc.*, n, df_${queryTerms.indices.mkString(", df_")},
              CAST(toktot AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
            FROM perdoc CROSS JOIN stats) j
      WHERE $anyTf > 0)
    SELECT doc_id, bm25, dl FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT $k"""
  }

  /** The driver-side twin of [[Dedup.normalizeText]] — a query
   *  literal must normalize exactly like the corpus it probes.
   *  Locale.ROOT pins the lowercase: Spark's `lower()` is
   *  locale-independent, so a default-locale toLowerCase (Turkish
   *  'I' -> dotless ı) would silently diverge driver-side literals
   *  from the corpus normalization (ADVICE r10 — same environment
   *  class as the US-ASCII-locale Bench bug). */
  private[graft] def normalizeLiteral(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[.,!?;:'\"]", "").replaceAll("\\s+", " ").trim

  /**
   * Substring search via a character-trigram index (the pg_trgm /
   * code-search shape — "grep at 100 TB" without a corpus scan): one
   * posting row per DISTINCT trigram of the normalized text; a query
   * literal prunes to docs containing ALL its trigrams (containment
   * is necessary — every substring's trigram set is a subset of its
   * host's), then an exact `instr` verify over the bounded candidate
   * set restores precision. In-query the postings build is one scan;
   * at corpus scale the posting table is written ONCE (bucketed by
   * gram via [[Layout.writeBucketed]]) and a probe touches |Q| gram
   * buckets + the candidates — never the corpus. Returns
   * (doc_id, pos) with `pos` the 1-based first occurrence in the
   * normalized text.
   */
  /** Distinct character trigrams of the normalized text, as an array
   *  column expression. A zero-width-lookahead regexp_extract_all
   *  (capture the next 3 chars at every position; positions with < 3
   *  left simply fail the group) rather than a
   *  transform(sequence)(substring) lambda: the lambda re-evaluates
   *  its free `norm` reference PER ELEMENT after Catalyst inlines the
   *  normalization chain into it (measured 10x slower on real docs),
   *  while the regex references the string exactly once. */
  private def trigramArray(norm: Column): Column =
    array_distinct(regexp_extract_all(norm, lit("(?=(...))"), lit(1)))

  /**
   * The stored trigram index: one (gram, doc_id) posting per DISTINCT
   * trigram of each doc's normalized text — what a corpus writes ONCE
   * (bucketed by gram via [[Layout.writeBucketed]]) so a probe reads
   * |Q| gram buckets instead of scanning the corpus. Map-only
   * (normalize → gram array → explode); no shuffle.
   */
  def trigramPostings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(trigramArray(Dedup.normalizeText(col(textCol)))).as("gram"))

  /**
   * Probe a stored [[trigramPostings]] index: candidates = docs
   * carrying ALL the query's trigrams (an |Q|-term IN filter on the
   * gram column — a bucket/partition prune on a gram-bucketed store —
   * then one count aggregate), verified exactly against the doc
   * table with `instr`. This is the 100 TB path: the corpus is
   * touched only to verify the (tiny) candidate set.
   */
  def trigramProbe(postings: DataFrame, docs: DataFrame,
                   idCol: String, textCol: String, query: String): DataFrame = {
    val qn = normalizeLiteral(query)
    require(qn.length >= 3, s"trigramProbe: query must normalize to >= 3 chars (got '$qn')")
    val grams = qn.sliding(3).toSeq.distinct
    val cand = postings.filter(col("gram").isin(grams: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("__ng"))
      .filter(col("__ng") === grams.size)
    docs.select(col(idCol).as("doc_id"), Dedup.normalizeText(col(textCol)).as("__norm"))
      .join(cand.select("doc_id"), "doc_id") // candidate set is small — broadcasts under AQE
      .select(col("doc_id"), instr(col("__norm"), qn).cast("long").as("pos"))
      .filter(col("pos") > 0)
  }

  /**
   * One-scan substring search with trigram-containment pruning (the
   * ad-hoc form of [[trigramProbe]] when no stored index exists): a
   * MAP-ONLY pass requires every query trigram to occur in the doc
   * (containment is necessary: a substring's gram set is a subset of
   * its host's) and verifies survivors with exact `instr`. Zero
   * shuffles, zero joins, one corpus scan; [[trigramProbe]] over
   * stored postings is the corpus-scale variant with identical
   * results (parity-tested).
   */
  def trigramSearch(df: DataFrame, idCol: String, textCol: String, query: String): DataFrame = {
    val qn = normalizeLiteral(query)
    require(qn.length >= 3, s"trigramSearch: query must normalize to >= 3 chars (got '$qn')")
    val grams = qn.sliding(3).toSeq.distinct
    // containment as an AND of |Q| instr probes, not a per-doc gram
    // ARRAY build: materializing ~|doc| grams per row costs 10-100x
    // the 9 substring scans (measured), and the candidate logic is
    // identical — doc passes iff it contains every query gram
    val containsAll = grams.map(g => instr(col("__norm"), g) > 0).reduce(_ && _)
    df.select(col(idCol).as("doc_id"), Dedup.normalizeText(col(textCol)).as("__norm"))
      .filter(containsAll)
      .select(col("doc_id"), instr(col("__norm"), qn).cast("long").as("pos"))
      .filter(col("pos") > 0)
  }

  /** SQL twin of [[trigramSearch]] for DuckDB oracles — same
   *  normalization, gram-containment prune and verify. */
  def trigramSearchSql(table: String, idCol: String, textCol: String, query: String): String = {
    val qn = normalizeLiteral(query)
    require(qn.length >= 3 && !qn.contains("'"), s"oracle literal must be quote-free: '$qn'")
    val grams = qn.sliding(3).toSeq.distinct
    s"""WITH docs AS (SELECT $idCol AS doc_id, ${Dedup.normalizeTextSql(textCol)} AS norm
        FROM $table),
      cand AS (SELECT doc_id, norm FROM docs
        WHERE ${grams.map(g => s"strpos(norm, '$g') > 0").mkString(" AND ")})
      SELECT doc_id, CAST(strpos(norm, '$qn') AS BIGINT) AS pos
      FROM cand WHERE strpos(norm, '$qn') > 0"""
  }

  /**
   * Edit-distance (Levenshtein) near-duplicate pairs within blocks —
   * the fuzzy-match complement to token-level Jaccard: catches
   * character-level mutations (typos, OCR noise) that reshuffle
   * shingles. Distance is computed over an ASCII projection of the
   * first `prefixLen` characters: the prefix bounds the O(len^2) DP
   * cost per pair, and the ASCII projection pins byte-vs-codepoint
   * semantics so any engine (the DuckDB oracle included) scores
   * identically. Same blocking contract as jaccardPairs: quadratic
   * WITHIN a block, so keys must keep blocks small — at corpus scale
   * route through [[Dedup.nearDuplicates]] banding instead and use
   * this as the verify kernel.
   */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], maxDist: Int, prefixLen: Int = 80,
                        gridBuckets: Int = 8): DataFrame = {
    require(blockCols.nonEmpty, "editDistancePairs: blocking keys required — unblocked is O(n^2) over the corpus")
    require(gridBuckets >= 1 && gridBuckets <= 64,
      s"gridBuckets must be in [1, 64] (got $gridBuckets): replication is ~gridBuckets copies of the slim rows")
    val prefix = substring(regexp_replace(col(textCol), "[^\\x20-\\x7e]", ""), 1, prefixLen)
    // A join keyed on blockCols alone re-hashes BOTH sides by the
    // block key, so a corpus with few distinct blocks runs its entire
    // quadratic DP in that many tasks — a handful of stragglers no
    // matter how wide the cluster. The triangle grid restores
    // parallelism WITHOUT changing the pair set: each row gets a
    // deterministic bucket b in [0, B); every unordered pair lands in
    // exactly one grid cell (min(b1,b2), max(b1,b2)); the join key is
    // (block, cell), so each block's DP fans out over B(B+1)/2 cells.
    // Replication is ~B copies of the SLIM projection (id + bounded
    // prefix + keys) — cheap to spread; the DP it fans out is not.
    val slim = df.select(col(idCol).as("id") +: prefix.as("pfx") +: blockCols.map(col): _*)
      .withColumn("__b", pmod(hash(col("id")), lit(gridBuckets)))
    // a-side of cell (i, j) holds the bucket-i rows; b-side the
    // bucket-j rows — so a cross-bucket pair materializes exactly
    // once, in its own (min, max) cell
    val a = slim.withColumn("__ci", col("__b"))
      .withColumn("__cj", explode(sequence(col("__b"), lit(gridBuckets - 1))))
      .drop("__b")
    val b = slim.withColumn("__cj", col("__b"))
      .withColumn("__ci", explode(sequence(lit(0), col("__b"))))
      .drop("__b")
    // co-partition BOTH sides by (block, cell): the join then runs one
    // cell per task slot whether Spark picks a shuffled or a broadcast
    // strategy (under broadcast, probe-side partitioning is the ONLY
    // source of parallelism — an unpartitioned probe would run every
    // cell's DP in one task, measured 10x slower at sf0.1)
    val par = math.max(df.sparkSession.sparkContext.defaultParallelism,
      gridBuckets * (gridBuckets + 1) / 2)
    val partKeys = (blockCols ++ Seq("__ci", "__cj")).map(col)
    val ar = a.toDF(a.columns.map(c => if (c == "id" || c == "pfx") s"${c}_a" else c): _*)
      .repartition(par, partKeys: _*)
    val br = b.toDF(b.columns.map(c => if (c == "id" || c == "pfx") s"${c}_b" else c): _*)
      .repartition(par, partKeys: _*)
    ar.join(br, blockCols ++ Seq("__ci", "__cj"))
      // diagonal cells pair a bucket with itself: keep one ordering.
      // Off-diagonal cells hold each pair once already (id order
      // arbitrary) — normalized below.
      .filter(col("__ci") < col("__cj") || col("id_a") < col("id_b"))
      // |len(a) - len(b)| lower-bounds the edit distance: a codegen'd
      // subtraction prunes pairs before any DP runs
      .filter(abs(length(col("pfx_a")) - length(col("pfx_b"))) <= maxDist)
      // thresholded levenshtein via the bit-parallel Myers kernel
      // (graft.functions.native.bitLevenshtein): O(len/64) words per
      // text char instead of the banded DP's O(min(len, 2k+1)) cells
      // — ~6x on these 80-char ASCII prefixes, bit-identical to
      // Spark's levenshtein(l, r, k) (-1 over the bound; ScalaTest
      // fuzz parity in TextExprsSpec)
      .withColumn("dist",
        graft.functions.native.bitLevenshtein(col("pfx_a"), col("pfx_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
  }

  /** SQL twin of [[editDistancePairs]]. */
  def editDistancePairsSql(table: String, idCol: String, textCol: String,
                           blockCols: Seq[String], maxDist: Int, prefixLen: Int = 80): String = {
    val bj = blockCols.map(c => s"a.$c = b.$c").mkString(" AND ")
    val pfx = s"substring(regexp_replace($textCol, '[^\\x20-\\x7e]', '', 'g'), 1, $prefixLen)"
    s"""WITH slim AS (SELECT $idCol AS id, $pfx AS pfx, ${blockCols.mkString(", ")} FROM $table)
    SELECT id_a, id_b, dist FROM (
      SELECT a.id AS id_a, b.id AS id_b, CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
      FROM slim a JOIN slim b ON $bj AND a.id < b.id
        AND abs(length(a.pfx) - length(b.pfx)) <= $maxDist)
    WHERE dist <= $maxDist"""
  }

  /**
   * Collocation mining: top-k adjacent word pairs by pointwise mutual
   * information, PMI = ln(n_ab * N / (n_a * n_b)), with a minimum
   * pair-count floor (hapax pairs have unboundedly inflated PMI — the
   * floor is the standard Church & Hanks guard). Corpus shape: one
   * map-side-combined bigram aggregate (the big shuffle), a unigram
   * aggregate bounded by vocabulary size and BROADCAST to both join
   * sides, and a final rank over the floor-filtered pair-stats table
   * — bounded by vocab^2 and in practice by the floor, so the
   * single-partition ranking window never sees corpus-sized data.
   */
  /** Fused per-row curation signals + thresholds — the signal stage
   *  of `pipeline_c4`: language ID, quality score, and repetition
   *  ratio composed into ONE scan (all per-row expressions, so this
   *  works UNCHANGED on a streaming DataFrame — see
   *  [[graft.streaming.Curation]]). */
  def signalFilter(docs: DataFrame, minQualityE4: Long, maxDupRatioE4: Long,
                   lang: String): DataFrame =
    withRepetitionStats(withQuality(withLangId(docs, "text"), "text"), "text")
      .select(col("doc_id"), col("pred_lang"), col("quality_score_e4"), col("dup_token_ratio_e4"))
      .filter(col("pred_lang") === lang && col("quality_score_e4") >= minQualityE4 &&
        col("dup_token_ratio_e4") <= maxDupRatioE4)

  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Int = 5, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1 && k >= 1, s"minCount and k must be >= 1: $minCount, $k")
    val toksNE = filter(tokens(col(textCol)), t => length(t) > 0)
    val base = df.select(toksNE.as("__tk")).filter(size(col("__tk")) >= 1)
    // ONE corpus token pass + ONE shuffle (r15: the old shape scanned
    // and aggregated the token stream twice — once for bigrams, once
    // for unigrams): every token emits (term, next-token-or-NULL), so
    // the (term_a, term_b) count table contains BOTH tables — bigrams
    // are the non-null-b rows, and a term's unigram count is the sum
    // of its row counts over all b (each occurrence appears exactly
    // once as a term_a). The bigram table is vocab-bounded, so its
    // three derived faces read a gcPersist pin, not the corpus —
    // WITHOUT the pin the broadcast-build jobs replicate the corpus
    // explode subtree (measured: 7 parquet scans in the executed
    // plan; ReuseExchange does not fire across the broadcast builds).
    val bg = CacheUtil.gcPersist(base
      .select(explode(transform(sequence(lit(0), size(col("__tk")) - 1),
        i => struct(element_at(col("__tk"), i + 1).as("term_a"),
          when(i + 2 <= size(col("__tk")), element_at(col("__tk"), i + 2)).as("term_b")))).as("p"))
      .select(col("p.term_a"), col("p.term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_ab")))
    val pairs = bg.filter(col("term_b").isNotNull)
    val uni = bg.groupBy(col("term_a").as("term")).agg(sum("n_ab").cast("long").as("n"))
    val total = uni.agg(sum("n").as("nn"))
    val scored = pairs.filter(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("term").as("term_a"), col("n").as("n_a"))), "term_a")
      .join(broadcast(uni.select(col("term").as("term_b"), col("n").as("n_b"))), "term_b")
      .crossJoin(broadcast(total))
      .withColumn("pmi", log((col("n_ab").cast("double") * col("nn").cast("double")) /
        (col("n_a").cast("double") * col("n_b").cast("double"))))
    val w = Window.orderBy(round(col("pmi"), 6).desc, col("term_a").asc, col("term_b").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("term_a"), col("term_b"), col("n_ab"),
        round(col("pmi"), 6).as("pmi"), col("rank"))
  }
}
