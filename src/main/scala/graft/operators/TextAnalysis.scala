package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All
  * expression-only (codegen'd); deterministic integer counts feed the
  * double arithmetic so results are engine-exact.
  */
object TextAnalysis {
  /** Tiny per-language stopword profiles for the n-gram/stopword langid
    * heuristic (public common-word lists).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "他"))

  private def toks(text: Column): Column =
    split(Dedup.normalized(text), " ")

  /** Stopword-overlap language ID: argmax over per-language hit ratios;
    * "und" (undetermined) when nothing matches.
    */
  def langId(df: DataFrame, textCol: String,
      outCol: String = "lang_pred"): DataFrame = {
    // BIND the token array (the Dedup.shingleArray rule): inlining
    // `toks(...)` into every per-language struct re-ran the
    // normalize-regex + split once PER LANGUAGE per row (5× here) —
    // with ≥2 references to a non-cheap column, CollapseProject keeps
    // the producing projection separate and the tokenize runs once
    val t = col("__lt")
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(array_intersect(t, array(words.map(lit): _*)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    // argmax by (hits, lang) struct ordering; ties → lexicographically
    // greatest lang among equals, deterministic
    val best = greatest(scored: _*)
    df.withColumn("__lt", toks(col(textCol)))
      .withColumn(outCol,
        when(best.getField("hits") > 0, best.getField("lang"))
          .otherwise("und"))
      .drop("__lt")
  }

  /** Quality metrics + a composite score in [0,1]. Integer counts ⇒
    * deterministic ratios across engines.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nAlpha = length(regexp_replace(t, "[^a-zA-Z]", ""))
    val nDigit = length(regexp_replace(t, "[^0-9]", ""))
    val nPunct = length(regexp_replace(t, "[^.,;:!?]", ""))
    val nTokens = size(split(trim(t), "\\s+"))
    val alphaRatio = nAlpha.cast(DoubleType) / greatest(nChars, lit(1)).cast(DoubleType)
    val digitRatio = nDigit.cast(DoubleType) / greatest(nChars, lit(1)).cast(DoubleType)
    val punctRatio = nPunct.cast(DoubleType) / greatest(nChars, lit(1)).cast(DoubleType)
    val avgTokLen = nChars.cast(DoubleType) / greatest(nTokens, lit(1)).cast(DoubleType)
    // length sweet spot: 1 inside [20, 20000] chars, 0 outside
    val lenOk = when(nChars.between(20, 20000), 1.0).otherwise(0.0)
    val avgOk = when(avgTokLen.between(2.0, 12.0), 1.0).otherwise(0.0)
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("alpha_ratio", alphaRatio)
      .withColumn("digit_ratio", digitRatio)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("avg_token_len", avgTokLen)
      .withColumn("quality_score",
        (alphaRatio * 0.5 + lenOk * 0.25 + avgOk * 0.25) *
          (lit(1.0) - digitRatio))
  }

  /** Token counts: whitespace tokens and a BPE-ish word/punct regex
    * (`\w+` runs or single non-space symbols).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_ws_tokens", size(split(trim(col(textCol)), "\\s+")))
      .withColumn("n_re_tokens",
        size(regexp_extract_all(col(textCol), lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"), lit(0))))

  /** BPE merge-candidate statistics: corpus-wide counts of ADJACENT
    * character pairs inside words — exactly the ranking the first
    * byte-pair-encoding merge step consumes (Sennrich et al. 2016,
    * public). Occurrences are counted per word INSTANCE (not per
    * distinct word), so frequent words weigh their pairs up, as BPE
    * training requires. Emits (pair, cnt).
    *
    * Scale shape: tokenize + per-word pair explosion are scan-local
    * expressions (the token array is bound once per row — the
    * [[Dedup.shingleArray]] discipline); the count is one map-side-
    * combined aggregation over a key space bounded by |alphabet|², so
    * the shuffle is tiny no matter the corpus size. A full BPE trainer
    * iterates this operator with a merge table; the per-iteration work
    * is this same shape.
    */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__toks", Dedup.tokens(col(textCol)))
      .select(explode(col("__toks")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))

  /** PII signals for training-data hygiene: counts of email / phone /
    * SSN-shaped / IPv4 patterns plus the text with emails redacted.
    * Deliberately simple, deterministic, RE2-compatible patterns so any
    * SQL engine (and the DuckDB oracle) replays them exactly; a
    * production pipeline swaps in curated pattern packs through the
    * same shape. Expression-only → whole-stage codegen.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiScan(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailRe), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0)))
        .as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(ssnRe), lit(0)))
        .as("n_ssns"),
      size(regexp_extract_all(col(textCol), lit(ipv4Re), lit(0)))
        .as("n_ipv4"),
      regexp_replace(col(textCol), emailRe, "<EMAIL>").as("redacted"))

  /** VOCABULARY COVERAGE per language slice — for each language, the
    * share of its whitespace tokens that land inside the
    * frequency-ranked top-`vocabSize` corpus vocabulary
    * ([[vocabEncode]]'s vocabulary): the multilingual-tokenizer audit
    * that shows which slices a corpus-majority vocabulary underserves
    * (high OOV ⇒ that language pays more unknown-token loss and more
    * bytes per effective token). Integer micro ratios end to end.
    *
    * Returns (lang, n_docs, n_toks, n_ids, coverage_micro, oov_micro).
    * Scale shape: [[vocabEncode]]'s bounded-vocab broadcast join plus
    * one map-side-combined rollup per language — nothing beyond the
    * vocab size after the scans.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      langCol: String, vocabSize: Int): DataFrame = {
    val enc = vocabEncode(df, idCol, textCol, vocabSize)
      .select(col(idCol), col("n_ids"))
    val base = df.select(col(idCol), col(langCol).as("lang"),
      size(toks(col(textCol))).cast("long").as("n_toks"))
    base.join(enc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_ids"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_toks"),
        sum("n_ids").as("n_ids"))
      .withColumn("coverage_micro",
        expr("n_ids * 1000000L div n_toks"))
      .withColumn("oov_micro",
        expr("(n_toks - n_ids) * 1000000L div n_toks"))
      .orderBy("lang")
  }

  /** CODE-LIKENESS detection — the "is this prose or source code"
    * separator a curation pipeline runs before routing documents to
    * text vs code sub-pipelines (mixing them poisons both: code spans
    * wreck prose quality scores, prose wrecks code dedup). Three
    * integer signals per row — symbol density (code punctuation per
    * char), indented-line share, and reserved-word hits per token —
    * each on the micro grid, averaged into one composite. All plain
    * regex counts: scan-local, zero shuffles, engine-exact.
    *
    * Returns (id, n_lines, n_sym, n_kw, sym_micro, indent_micro,
    * kw_micro, code_score_micro).
    */
  def codeLikeness(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t2 = col(textCol)
    val nChars = greatest(lit(1L), length(t2).cast("long"))
    val nSym = size(regexp_extract_all(t2,
      lit("[{}()\\[\\];=<>]"), lit(0))).cast("long")
    val nLines = (size(regexp_extract_all(t2, lit("\n"), lit(0)))
      + 1).cast("long")
    val nIndent = size(regexp_extract_all(t2,
      lit("(?m)^(?:  |\\t)"), lit(0))).cast("long")
    val nToks = greatest(lit(1L),
      size(toks(t2)).cast("long"))
    val nKw = size(regexp_extract_all(t2,
      lit("\\b(def|class|return|import|function|const|void|static)\\b"),
      lit(0))).cast("long")
    df.select(col(idCol), nLines.as("n_lines"), nSym.as("n_sym"),
        nKw.as("n_kw"), nChars.as("__chars"), nToks.as("__toks"),
        nIndent.as("__indent"))
      .withColumn("sym_micro", expr("n_sym * 1000000L div __chars"))
      .withColumn("indent_micro",
        expr("__indent * 1000000L div n_lines"))
      .withColumn("kw_micro",
        least(lit(1000000L), expr("n_kw * 1000000L div __toks")))
      .withColumn("code_score_micro",
        expr("(2L * sym_micro + indent_micro + kw_micro) div 4L"))
      .drop("__chars", "__toks", "__indent")
      .orderBy(col(idCol))
  }

  /** CONDITIONAL BIGRAM ENTROPY per source — H(next token | current
    * token) = H(bigram) − H(unigram), the sequence-level
    * templatedness signal ([[docEntropy]]'s corpus sibling): a source
    * whose next token is highly predictable from the current one is
    * boilerplate/template spam even when its unigram diversity looks
    * healthy. Both entropies use the [[docEntropy]] integer form
    * H·1e9 ≈ ⌊ln N·1e9⌋ − (Σ c·⌊ln c·1e9⌋) div N — exact int64
    * arithmetic, order-free sums, engine-replayable.
    *
    * Returns (source, n_uni, n_bi, h_uni_nano, h_bi_nano, cond_nano)
    * ordered by source. Scale shape: two map-side-combined count
    * aggregations (unigram, bigram) + per-source rollups — the
    * q_keyness shape; nothing beyond vocab²-bounded group counts.
    */
  def condBigramEntropy(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    def hTerms(counted: DataFrame): DataFrame =
      counted.groupBy("g")
        .agg(sum("c").as("n"),
          sum(col("c") *
            floor(log(col("c").cast("double")) * 1e9).cast("long"))
            .as("sclnc"))
        .withColumn("h_nano",
          floor(log(col("n").cast("double")) * 1e9).cast("long") -
            expr("sclnc div n"))
    val tk = df.select(col(groupCol).as("g"),
      filter(toks(col(textCol)), t => length(t) > 0).as("ts"))
    val uni = hTerms(tk
      .select(col("g"), explode(col("ts")).as("t"))
      .groupBy("g", "t").agg(count(lit(1)).as("c")))
      .select(col("g"), col("n").as("n_uni"),
        col("h_nano").as("h_uni_nano"))
    val bi = hTerms(tk
      .select(col("g"), explode(
        zip_with(
          slice(col("ts"), lit(1),
            greatest(lit(0), size(col("ts")) - 1)),
          slice(col("ts"), lit(2), size(col("ts"))),
          (a, b) => concat(a, lit(" "), b))).as("t"))
      .groupBy("g", "t").agg(count(lit(1)).as("c")))
      .select(col("g"), col("n").as("n_bi"),
        col("h_nano").as("h_bi_nano"))
    uni.join(bi, "g")
      .select(col("g").as("source"), col("n_uni"), col("n_bi"),
        col("h_uni_nano"), col("h_bi_nano"),
        (col("h_bi_nano") - col("h_uni_nano")).as("cond_nano"))
      .orderBy("source")
  }

  /** IBAN PII detection with the real MOD-97 checksum ([[luhnScan]]'s
    * sibling for bank-account numbers): candidates are word-bounded
    * `CC##…` runs of 15-34 chars, validated by ISO 13616 — move the
    * first four chars to the end, expand letters to two digits
    * (A=10…Z=35), and the resulting number must be ≡ 1 (mod 97). The
    * big-number mod runs as a per-char fold with the base derived
    * from the value (letters are always ≥ 10 and expand in base 100,
    * digits ≤ 9 in base 10), so the whole check is one expression
    * chain — scan-local, zero shuffles, exact integers. Emits (id,
    * n_candidates, n_valid, first_valid_masked) keeping country+check
    * and the last 4 — the audit-log convention.
    */
  def ibanScan(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val candRe = "\\\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\\\b"
    val valids =
      s"""filter(regexp_extract_all($textCol, '$candRe', 0), c ->
        aggregate(
          transform(sequence(1, length(c)),
            i -> CASE WHEN ascii(substring(
                concat(substring(c, 5), substring(c, 1, 4)), i, 1))
                BETWEEN 48 AND 57
              THEN CAST(ascii(substring(
                concat(substring(c, 5), substring(c, 1, 4)), i, 1))
                - 48 AS BIGINT)
              ELSE CAST(ascii(substring(
                concat(substring(c, 5), substring(c, 1, 4)), i, 1))
                - 55 AS BIGINT) END),
          0L, (acc, x) ->
            (acc * (CASE WHEN x > 9L THEN 100L ELSE 10L END) + x)
              % 97L) = 1)"""
    df.select(col(idCol),
        size(regexp_extract_all(col(textCol),
          lit("\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b"), lit(0)))
          .cast("long").as("n_candidates"),
        expr(valids).as("__valids"))
      .withColumn("n_valid", size(col("__valids")).cast("long"))
      .withColumn("first_valid_masked",
        when(col("n_valid") > 0L,
          concat(
            expr("substring(element_at(__valids, 1), 1, 4)"),
            expr("repeat('*', length(element_at(__valids, 1)) - 8)"),
            expr("substring(element_at(__valids, 1)," +
              " length(element_at(__valids, 1)) - 3, 4)")))
          .otherwise(lit("")))
      .drop("__valids")
      .orderBy(col(idCol))
  }

  /** UNIGRAM KL DIVERGENCE between two corpus slices — the
    * distribution-shift number a data-mixing pipeline reads before
    * blending sources (DSIR's importance weights are per-example;
    * this is the corpus-level "how far apart are these domains",
    * both directions since KL is asymmetric). Add-one smoothing over
    * the union vocabulary keeps every log finite.
    *
    * Exactness (the q_keyness micro-grid discipline): counts stay
    * integer through the full-outer vocab join; each term's two logs
    * — ln((c_p+1)(N_q+V)) and ln((c_q+1)(N_p+V)), pure-integer
    * arguments — floor onto the NANO grid BEFORE the weighted
    * order-free int64 sum, so S = Σ(c_p+1)·(lnA−lnB) is engine-exact;
    * kl_nano = ⌊S/(N_p+V)⌋ via one double floor-division (S can sit
    * a few grid ulps below 0 when the slices coincide, so explicit
    * IEEE floor, not truncating int div). Int64 headroom: |S| ≤
    * (N+V)·1e9·ln-range — fine through ~10⁸-token slices; past that
    * emit S and divide downstream.
    *
    * Returns one row: (n_a, n_b, vocab, kl_ab_nano, kl_ba_nano).
    * Scale shape: one token-count aggregation per slice (map-side
    * combined), a full-outer join on the vocab, one broadcast of the
    * 1-row totals, one moment aggregate — nothing beyond vocab size
    * after the scans.
    */
  def klUnigram(df: DataFrame, textCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    def lnGrid(x: Column): Column =
      floor(log(x.cast("double")) * 1e9).cast("long")
    val tk = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("g"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val ca = tk.filter(col("g") === a)
      .groupBy("tok").agg(count(lit(1)).as("ca"))
    val cb = tk.filter(col("g") === b)
      .groupBy("tok").agg(count(lit(1)).as("cb"))
    val j = ca.join(cb, Seq("tok"), "full")
      .na.fill(0L, Seq("ca", "cb"))
    val totals = j.agg(
      coalesce(sum("ca"), lit(0L)).as("na"),
      coalesce(sum("cb"), lit(0L)).as("nb"),
      count(lit(1)).as("v"))
    j.crossJoin(broadcast(totals))
      .withColumn("t_ab", (col("ca") + 1L) *
        (lnGrid((col("ca") + 1L) * (col("nb") + col("v"))) -
          lnGrid((col("cb") + 1L) * (col("na") + col("v")))))
      .withColumn("t_ba", (col("cb") + 1L) *
        (lnGrid((col("cb") + 1L) * (col("na") + col("v"))) -
          lnGrid((col("ca") + 1L) * (col("nb") + col("v")))))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        max("v").as("vocab"),
        sum("t_ab").as("s_ab"), sum("t_ba").as("s_ba"))
      .select(col("n_a"), col("n_b"), col("vocab"),
        floor(col("s_ab").cast("double") /
          (col("n_a") + col("vocab")).cast("double")).cast("long")
          .as("kl_ab_nano"),
        floor(col("s_ba").cast("double") /
          (col("n_b") + col("vocab")).cast("double")).cast("long")
          .as("kl_ba_nano"))
  }

  /** JENSEN–SHANNON DIVERGENCE between two sources' unigram
    * distributions — the SYMMETRIC, bounded (≤ ln 2) companion of
    * [[klUnigram]]'s two asymmetric lanes: the "how far apart are
    * these domains" number that can't blow up when one slice has mass
    * the other lacks, which makes it the one safe to threshold on in
    * a mix-planning loop. Same add-one smoothing over the union
    * vocabulary.
    *
    * Exactness: with p = a/A, q = b/B (a = c_p+1, A = N_p+V, b, B
    * likewise — all integers), the mixture ratio p/m = 2aB/(aB+bA)
    * has PURE-INTEGER numerator and denominator, so each term's two
    * logs floor onto the nano grid with integer arguments (the
    * [[klUnigram]] lnGrid discipline) before the order-free int64
    * weighted sum; JS = (S_p/A + S_q/B)/2 is one fixed-order double
    * floor at the very edge. Int64 headroom: |S| ≤ (N+V) · 1e9 ·
    * max|ln(p/q)| — fine through ~10⁷-token slices (past that, emit
    * S_p/S_q and divide downstream).
    *
    * Returns one row: (n_a, n_b, vocab, js_nano), 0 ≤ js_nano ≤
    * ⌊ln 2 · 1e9⌋. Scale shape: [[klUnigram]]'s exactly — one token
    * count per slice, a full-outer vocab join, a 1-row broadcast, one
    * moment aggregate.
    */
  def jsUnigram(df: DataFrame, textCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    def lnGrid(x: Column): Column =
      floor(log(x.cast("double")) * 1e9).cast("long")
    val tk = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("g"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val ca = tk.filter(col("g") === a)
      .groupBy("tok").agg(count(lit(1)).as("ca"))
    val cb = tk.filter(col("g") === b)
      .groupBy("tok").agg(count(lit(1)).as("cb"))
    val j = ca.join(cb, Seq("tok"), "full")
      .na.fill(0L, Seq("ca", "cb"))
    val totals = j.agg(
      coalesce(sum("ca"), lit(0L)).as("na"),
      coalesce(sum("cb"), lit(0L)).as("nb"),
      count(lit(1)).as("v"))
    val aa = col("ca") + 1L            // smoothed numerator, slice a
    val bb = col("cb") + 1L
    val bigA = col("na") + col("v")    // smoothed denominator, slice a
    val bigB = col("nb") + col("v")
    j.crossJoin(broadcast(totals))
      // p/m = 2aB/(aB+bA), q/m = 2bA/(aB+bA) — integer log args
      .withColumn("t_p", aa *
        (lnGrid(lit(2L) * aa * bigB) - lnGrid(aa * bigB + bb * bigA)))
      .withColumn("t_q", bb *
        (lnGrid(lit(2L) * bb * bigA) - lnGrid(aa * bigB + bb * bigA)))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        max("v").as("vocab"),
        sum("t_p").as("s_p"), sum("t_q").as("s_q"))
      .select(col("n_a"), col("n_b"), col("vocab"),
        floor((col("s_p").cast("double") /
            (col("n_a") + col("vocab")).cast("double") +
          col("s_q").cast("double") /
            (col("n_b") + col("vocab")).cast("double")) / 2.0)
          .cast("long").as("js_nano"))
  }

  /** PAYMENT-CARD PII detection with a real checksum: digit runs of
    * 13-19 are only flagged when they pass the Luhn check — the
    * validation step that separates card numbers from order ids and
    * timestamps, which plain `\d{16}` PII regexes cannot (a corpus
    * scrubbed on the raw regex deletes half its invoice numbers; one
    * scrubbed without the checksum leaks real cards). The whole check
    * is a per-row expression chain (regexp_extract_all → filter with
    * an aggregate-fold Luhn over the reversed digits) — scan-local,
    * zero shuffles, exact integers end to end. Emits (id,
    * n_digit_runs, n_luhn_valid, first_valid_masked) with the masked
    * form keeping first-4/last-4 — the audit-log convention.
    */
  def luhnScan(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val luhnValids =
      s"""filter(regexp_extract_all($textCol, '[0-9]{13,19}', 0), c ->
        aggregate(sequence(1, length(c)), 0L, (acc, i) ->
          acc + (CASE WHEN i % 2 = 1
            THEN CAST(substring(reverse(c), i, 1) AS BIGINT)
            ELSE CASE
              WHEN 2 * CAST(substring(reverse(c), i, 1) AS BIGINT) > 9
              THEN 2 * CAST(substring(reverse(c), i, 1) AS BIGINT) - 9
              ELSE 2 * CAST(substring(reverse(c), i, 1) AS BIGINT)
            END END)) % 10 = 0)"""
    df.select(col(idCol),
        size(regexp_extract_all(col(textCol), lit("[0-9]{13,19}"),
          lit(0))).cast("long").as("n_digit_runs"),
        expr(luhnValids).as("__valids"))
      .withColumn("n_luhn_valid", size(col("__valids")).cast("long"))
      .withColumn("first_valid_masked",
        when(col("n_luhn_valid") > 0L, {
          val c = element_at(col("__valids"), 1)
          concat(substring(c, 1, 4),
            expr("repeat('*', length(element_at(__valids, 1)) - 8)"),
            expr("substring(element_at(__valids, 1)," +
              " length(element_at(__valids, 1)) - 3, 4)"))
        }).otherwise(lit("")))
      .drop("__valids")
      .orderBy(col(idCol))
  }

  /** Repetition signals (the Gopher/C4-style repetitiousness filters):
    * duplicate-sentence counts and top-bigram concentration. Sentence
    * metrics are per-row array expressions; bigram concentration goes
    * through explode + two hash aggregations on the doc key (map-side
    * combined — the shape that holds when documents are book-length).
    * Docs with fewer than two tokens carry zeroed bigram stats.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df
      .withColumn("__toks", Dedup.tokens(col(textCol)))
      .withColumn("__sents", split(col(textCol), "\\. "))
    val sent = base.select(col(idCol),
      size(col("__sents")).as("n_sents"),
      size(array_distinct(col("__sents"))).as("n_distinct_sents"))
    val bigrams = base.select(col(idCol),
      explode(Dedup.shingleArray(col("__toks"), 2)).as("b"))
    val stats = bigrams.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_bigram_n"),
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    sent.join(stats, Seq(idCol), "left")
      .select(col(idCol), col("n_sents"), col("n_distinct_sents"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .withColumn("top_bigram_frac",
        col("top_bigram_n").cast(DoubleType) /
          greatest(col("n_bigrams"), lit(1L)).cast(DoubleType))
  }

  /** Corpus-relative unigram scoring — the cheap perplexity proxy
    * quality filters use. The corpus's own unigram counts over a
    * top-`vocabSize` vocabulary (ties broken by token asc,
    * deterministic) score each document:
    *
    *  - `sum_gcount` / `mean_rel_freq`: integer sum of the global
    *    corpus count of each doc token (out-of-vocab → 0), then ONE
    *    division by (doc tokens × corpus tokens) — exact integer
    *    arithmetic until a single IEEE divide, so any engine replays
    *    it bit-for-bit;
    *  - `mean_logprob`: add-one-smoothed mean ln P(token) (the actual
    *    log-prob; engine-local libm, so spec-gated rather than
    *    hash-compared).
    *
    * Scale shape: one shuffle for the global counts (map-side
    * combined), the vocab (≤ vocabSize rows) broadcasts back, one
    * per-doc aggregation. Low scores = improbable token soup.
    */
  def unigramScore(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 50000): DataFrame = {
    // the tokenize+explode is the dominant cost and feeds BOTH the
    // count aggregation and the scoring join — persist it for the eager
    // stats phase below, then UNPERSIST before returning (the returned
    // DataFrame's lifecycle is the caller's; leaving blocks cached would
    // leak per call in a long-lived session)
    val toksOf = df.select(col(idCol), explode(toks(col(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = toksOf.groupBy("tok").agg(count(lit(1)).as("gcount"))
    // distributed top-K (TakeOrderedAndProject), not a global window;
    // collected (bounded by vocabSize) so the scoring join below carries
    // no lineage back through the cached explode — the same bounded-
    // collect shape as the PQ/IVF codebook samples
    val vocab = counts.orderBy(col("gcount").desc, col("tok").asc)
      .limit(vocabSize)
    val vocabRows = vocab.collect()
    // corpus token count from the (much smaller) counts table, not a
    // third pass over the corpus; coalesce guards the empty corpus
    val total = counts.agg(coalesce(sum(col("gcount")), lit(0L)))
      .head().getLong(0)
    toksOf.unpersist()
    val spark = df.sparkSession
    val vocabDf = spark.createDataFrame(
      java.util.Arrays.asList(vocabRows: _*), vocab.schema)
    val scored = toksOf
      .join(broadcast(vocabDf), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        // decimal accumulator: a Long sum wraps once doc-tokens ×
        // corpus-count clears 2^63 (reachable at the 100 TB target);
        // the final double cast rounds the exact integer identically
        // in any engine
        sum(coalesce(col("gcount"), lit(0L)).cast(DecimalType(38, 0)))
          .cast(DoubleType).as("sum_gcount"),
        avg(log(
          (coalesce(col("gcount"), lit(0L)) + lit(1L)).cast(DoubleType) /
            lit((total + vocabSize).toDouble))).as("mean_logprob"))
    // double multiply, not Long: n_toks * total overflows Long at scale
    scored.withColumn("mean_rel_freq",
      col("sum_gcount") /
        (col("n_toks").cast(DoubleType) * lit(total.toDouble)))
  }

  /** Per-document key terms: the `k` RAREST distinct tokens by corpus
    * document frequency (ties by token text) — keyword extraction with
    * the idf ORDERING but none of idf's floating point, so every output
    * column (term, tf, df, rank) is integer/string and hash-exact in
    * any engine; a downstream scorer can apply its own weighting to
    * the (tf, df) pair.
    *
    * Scale shape: one shuffle for the per-(doc, token) counts, one
    * map-side-combined aggregation over its RESULT for document
    * frequencies (distinct docs per token = count of (doc, token)
    * rows), a token-keyed hash join back, and the rank window
    * partitioned by doc — nothing global, nothing collected.
    */
  def keyTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minTokenLen: Int = 3): DataFrame = {
    val tf = df
      .select(col(idCol), explode(toks(col(textCol))).as("term"))
      .filter(length(col("term")) >= minTokenLen)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Content fingerprints: md5 of normalized text (exact identity) and
    * a 64-bit rolling-window min-hash (winnowing-style robust id: the
    * minimum xxhash64 over all word 4-grams — stable under local edits
    * away from the minimizer).
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = Dedup.normalized(col(textCol))
    val grams = Dedup.shingleArray(col("__toks"), 4)
    df.withColumn("__toks", Dedup.tokens(col(textCol)))
      .select(col(idCol), md5(norm).as("md5_fp"),
        coalesce(array_min(transform(grams, g => xxhash64(g))),
          xxhash64(norm)).as("rolling_fp"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer used to mine domain-relevant training data
    * from a large corpus (rank the crawl against "what does a math
    * textbook look like" probes). Robertson/Okapi form with the Lucene
    * non-negative idf ln(1 + (N - df + 0.5)/(df + 0.5)) and WITHOUT the
    * rank-preserving (k1+1) numerator constant (the Lucene choice too;
    * it also keeps every constant in the formula exact in binary64 —
    * 1.2+1.0 is a round-to-even tie two engines can disagree on). Only
    * documents containing at least one query term score (BM25 of the
    * rest is exactly 0).
    *
    * Scale shape: tokens filter to the ≤|terms| query terms BEFORE any
    * aggregation (the explode feeding it is scan-local), doc lengths
    * are one map-side-combined agg, per-term document frequencies are
    * a tiny broadcast, and N/avgdl are two scalars off the doc-length
    * table — no full-vocabulary shuffle anywhere, so corpus size only
    * enters through the scan.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dl = df.select(col(idCol),
        size(toks(col(textCol))).cast("long").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Array(nDocs, sumDl) = dl
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val avgdl = if (nDocs == 0) 1.0 else sumDl.toDouble / nDocs
    val tf = df.select(col(idCol),
        explode(toks(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + 0.5) /
        (col("df").cast("double") + 0.5))
    val termScore = idf * col("tf") /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val out = tf
      .join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .groupBy(col(idCol))
      .agg(sum(termScore).as("bm25"), count(lit(1)).as("n_terms_hit"))
    dl.unpersist()
    out
  }

  /** Frequency-ranked vocabulary encoding: build the top-`vocabSize`
    * token vocabulary (ties by token text), assign ids 1..V in rank
    * order, and re-emit every document as its in-vocabulary token-id
    * sequence (OOV tokens drop) — the deterministic skeleton of
    * tokenizer application at corpus scale. Emits
    * (id, n_ids, ids) with `ids` a space-joined string: id sequences
    * are list-shaped, and every registry output must be hash-scalar.
    *
    * Scale shape: one map-side-combined count shuffle for frequencies,
    * a bounded driver collect of the vocabulary (≤ vocabSize rows, the
    * PQ/IVF-codebook pattern), a broadcast join to encode, and one
    * per-doc aggregation; the token order is restored from positions,
    * never from shuffle order.
    */
  def vocabEncode(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val toksOf = df.select(col(idCol),
      posexplode(toks(col(textCol))).as(Seq("pos", "tok")))
    val counts = toksOf.groupBy("tok").agg(count(lit(1)).as("freq"))
    // distributed top-K (TakeOrderedAndProject) + bounded collect; ids
    // assigned in rank order driver-side — no global window
    val vocabRows = counts
      .orderBy(col("freq").desc, col("tok").asc).limit(vocabSize)
      .collect()
    val spark = df.sparkSession
    import spark.implicits._
    val vocabDf = vocabRows.zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1L) }.toSeq
      .toDF("tok", "token_id")
    toksOf
      .join(broadcast(vocabDf), Seq("tok"), "inner") // OOV drops
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ids"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("token_id")))),
            s => s.getField("token_id").cast("string")), " ").as("ids"))
  }

  /** Corpus bigram language model (MLE): top-`topK` bigrams by count
    * with their conditional probability p(b|a) = c(ab)/c(a) — the
    * n-gram statistics quality filters and perplexity heuristics build
    * on. Counts are exact integers and the probability is one exact
    * integer ratio, so every cell is engine-identical with no rounding.
    *
    * Scale shape: two map-side-combined count shuffles (bigrams,
    * unigrams) and a token-keyed hash join between their RESULTS — both
    * orders of magnitude smaller than the corpus; the top-K is a
    * TakeOrdered, never a global sort.
    */
  def bigramLM(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 50): DataFrame = {
    val toksOf = df.withColumn("__toks", Dedup.tokens(col(textCol)))
    val bigrams = toksOf
      .select(explode(Dedup.shingleArray(col("__toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
    val unigrams = toksOf
      .select(explode(col("__toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_a"))
    bigrams
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(unigrams, "w1")
      .withColumn("p_cond", col("c_ab").cast(DoubleType) /
        col("c_a").cast(DoubleType))
      .orderBy(col("c_ab").desc, col("bigram").asc)
      .limit(topK)
      .select("bigram", "c_ab", "c_a", "p_cond")
  }

  /** Per-source boilerplate phrases: word `n`-gram shingles appearing
    * in at least `minDocs` distinct documents OF THE SAME SOURCE — the
    * template/navigation text a crawl pipeline strips before training.
    * Emits (source, shingle, n_docs); the caller picks a removal
    * threshold per source size.
    *
    * Scale shape: shingles are scan-local ([[Dedup.shingles]]'s explode
    * with per-doc distinct), the count is one map-side-combined shuffle
    * keyed (source, shingle) — the same cardinality profile as the
    * minhash banded-bucket build, with no pair join at all.
    */
  def boilerplate(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, n: Int = 5, minDocs: Long = 3): DataFrame =
    df.withColumn("__toks", Dedup.tokens(col(textCol)))
      .select(col(idCol), col(sourceCol).as("source"),
        explode(array_distinct(Dedup.shingleArray(col("__toks"), n)))
          .as("shingle"))
      .groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Corpus-wide line-level dedup (the CCNet/RefinedWeb boilerplate
    * pass): drop every line occurring in ≥ `minDocs` DISTINCT documents
    * (headers, footers, cookie banners), reassemble each document from
    * its surviving lines in original order. Emits
    * (id, n_lines, n_removed, clean_text).
    *
    * Scale shape: explode is scan-local; the common-line table is one
    * count-distinct aggregation keyed by line (map-side combined — line
    * cardinality, not row cardinality); marking is a hash join on the
    * line; reassembly is one aggregation back on the doc id whose
    * collect_list is bounded by the document's own line count. No
    * self-join, no window, nothing all-pairs.
    */
  /** Inverted-index build: one row per surviving term with its
    * document frequency, collection frequency, and the sorted posting
    * list "docId:tf docId:tf …" — the retrieval-side artifact BM25
    * scores against, built corpus-wide. A [minDf, maxDf] band drops
    * hapaxes and stopword rows (the standard Zipf guard: without
    * maxDf the most common term's posting row is corpus-sized).
    *
    * Scale shape: the explode is scan-local, (term, doc) term
    * frequencies are one map-side-combined aggregation, and the
    * posting row for a term is bounded by its own document frequency
    * ≤ maxDf — no unbounded collect_list. Postings are restored to
    * doc-id order inside the row, never from shuffle order.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 2, maxDf: Long = Long.MaxValue): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf, got [$minDf, $maxDf]")
    df.select(col(idCol).as("__id"),
        explode(toks(col(textCol))).as("term"))
      .groupBy(col("term"), col("__id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(transform(
          array_sort(collect_list(struct(col("__id"), col("tf")))),
          s => concat_ws(":", s.getField("__id"), s.getField("tf"))),
          " ").as("postings"))
      .filter(col("df").between(minDf, maxDf))
  }

  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 3): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val common = lines.groupBy("line")
      .agg(countDistinct(col("id")).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
      .select(col("line"), lit(true).as("__common"))
    lines.join(common, Seq("line"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__common"), 1L).otherwise(0L)).as("n_removed"),
        // collect_list skips nulls: only surviving lines are gathered,
        // then restored to document order by their position
        array_join(transform(array_sort(collect_list(
            when(col("__common").isNull,
              struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
  }

  /** Hashed-feature LINEAR classifier scoring — the fastText-style
    * quality-classifier pass every corpus pipeline runs (a trained
    * weight vector, hashed token features, one dot product per doc),
    * with the weight table derived deterministically from the portable
    * 52-bit token hash so any engine reproduces the model bit-exactly
    * (a real deployment broadcasts a trained weight table instead; the
    * query shape — hash, per-token weight lookup, per-doc accumulate —
    * is identical). w(tok) = (hex52(tok) mod 2001 − 1000)/1000 ∈
    * [−1, 1]; score(doc) = Σ tf·w / n_toks; label = score ≥ 0.
    *
    * Engine-exact: the accumulation runs on the INTEGER grid
    * (tf · (hv mod 2001 − 1000) summed as BIGINT — order-free), then
    * ONE fixed-order divide by 1000·n_toks. A double Σ tf·w here would
    * be summation-order-dependent and lose the cross-engine hash.
    *
    * Scale shape: one explode + one map-side-combined two-level
    * aggregation, all scan-local until the per-doc group-by; the
    * "weight table" costs nothing to ship because it is a pure
    * function of the hash.
    */
  def classifierScore(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // Σ tf·w ≡ Σ over token INSTANCES of w, so the whole model is one
    // per-row array fold — ZERO shuffles (no explode/groupBy), which is
    // the difference between a free filter pass and an extra exchange
    // over 100 TB of text; it also makes the operator stateless and
    // therefore directly usable on a stream (see Ingest.streamClassify)
    df.select(col(idCol).as("id"), toks(col(textCol)).as("__toks"))
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_toks"),
        aggregate(
          transform(col("__toks"), t =>
            pmod(graft.functions.Hex52(t), lit(2001L)) - lit(1000L)),
          lit(0L), (acc, x) => acc + x).as("sum_w1000"))
      .withColumn("score",
        col("sum_w1000").cast(DoubleType) /
          (lit(1000.0) * col("n_toks").cast(DoubleType)))
      .withColumn("label", (col("score") >= 0).cast("int"))

  /** Collocation mining by PMI over document co-occurrence: for pairs
    * of top-`vocabSize` tokens appearing in >= `minPairs` common docs,
    * the pointwise-mutual-information RATIO P(a,b)/(P(a)·P(b)) =
    * c_ab·N/(df_a·df_b) on the integer micro grid (×1e6, floor
    * division) — the log is monotone, so ranking/thresholding on the
    * exact integer ratio equals ranking on PMI with none of libm's
    * cross-engine drift.
    *
    * Scale shape: doc-distinct tokens (array_distinct before the
    * explode), document frequencies as one map-side-combined count,
    * the bounded vocab (≤ vocabSize rows) BROADCAST back, and the
    * pair join co-partitioned on doc_id — candidates are capped at
    * vocabSize²/2 per doc, never corpus × corpus.
    */
  def pmiCooccur(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 40, minPairs: Long = 3L): DataFrame = {
    val dt = df
      .withColumn("__toks", Dedup.tokens(col(textCol)))
      .select(col(idCol).as("doc"),
        explode(array_distinct(col("__toks"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("dfr"))
    val vocab = dfreq.orderBy(col("dfr").desc, col("tok").asc)
      .limit(vocabSize)
    val vt = dt.join(broadcast(vocab), "tok")
      .select(col("doc"), col("tok"), col("dfr"))
    val nDocs = broadcast(
      dt.agg(count_distinct(col("doc")).as("n_docs")))
    vt.as("a").join(vt.as("b"),
        col("a.doc") === col("b.doc") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
        col("a.dfr").as("df_a"), col("b.dfr").as("df_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairs)
      .crossJoin(nDocs)
      .withColumn("pmi_ratio_micro",
        expr("c_ab * n_docs * 1000000L div (df_a * df_b)"))
      .select("tok_a", "tok_b", "c_ab", "df_a", "df_b",
        "pmi_ratio_micro")
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): how target-like
    * is each raw document's hashed-unigram profile? Tokens hash into
    * `buckets` portable 52-bit md5-prefix cells (bounded model state
    * at ANY corpus size — the reason DSIR hashes at all); target
    * (rows where `isTarget`) and raw rates are add-one smoothed; the
    * per-doc importance is the token-sum of per-bucket rate
    * differences on the integer micro grid. Linear naive-Bayes
    * pooling instead of the paper's log-ratio sum keeps every
    * intermediate exact in 64-bit integers (log-free → no libm
    * cross-engine drift); the normalized `spt` (score per token) is
    * one correctly-rounded IEEE division at the edge.
    *
    * Scale shape: one aggregation builds the ≤`buckets`-row weight
    * table, which BROADCASTS back onto the token stream — the only
    * shuffle that grows with the corpus is the per-doc aggregation,
    * keyed on (`idCol`, carryCols).
    */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, carryCols: Seq[String] = Nil,
      buckets: Int = 4096): DataFrame = {
    val b = buckets.toLong
    val tk = df
      .withColumn("__toks", Dedup.tokens(col(textCol)))
      .select((col(idCol) +: isTarget.as("__tgt") +:
        carryCols.map(col)) :+ explode(col("__toks")).as("tok"): _*)
      .filter(length(col("tok")) > 0)
      .withColumn("bucket",
        pmod(graft.functions.Hex52(col("tok")), lit(b)))
    val bc = tk.groupBy("bucket")
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("cnt_t"),
        count(lit(1)).as("cnt_all"))
      .withColumn("cnt_r", col("cnt_all") - col("cnt_t"))
    val tot = bc.agg(sum(col("cnt_t")).as("n_t"),
      sum(col("cnt_r")).as("n_r"))
    // micro-grid bound: (cnt + 1) * 1e6 stays in Int64 while no single
    // hash bucket accumulates more than ~9.2e12 tokens (2^63 / 1e6).
    // With 4096 buckets that is a ~3.8e16-token corpus even if one
    // stopword bucket takes 1/4096 of the mass — two orders of
    // magnitude past a 100 TB text corpus (~2e13 tokens), but NOT
    // unreachable forever, so it is checked, not assumed: overflow
    // would corrupt weights identically on Spark yet differently from
    // an engine that widens the multiply.
    val wts = bc.crossJoin(broadcast(tot))
      .withColumn("w_micro",
        expr(s"((cnt_t + 1) * 1000000L div (n_t + $b)) - " +
          s"((cnt_r + 1) * 1000000L div (n_r + $b))"))
      .withColumn("w_micro",
        when(greatest(col("cnt_t"), col("cnt_r")) >=
            lit(Long.MaxValue / 1000000L),
          raise_error(lit("dsirScores: bucket count exceeds the " +
            "Int64 micro-grid bound (~9.2e12 tokens/bucket); widen " +
            "the grid or raise `buckets`")))
          .otherwise(col("w_micro")))
      .select("bucket", "w_micro")
    tk.join(broadcast(wts), "bucket")
      .groupBy(idCol, carryCols: _*)
      .agg(count(lit(1)).as("n_toks"),
        sum(col("w_micro")).as("score_micro"))
      .withColumn("spt", col("score_micro").cast("double") /
        col("n_toks").cast("double"))
  }

  /** Per-document CROSS-ENTROPY under the corpus's own unigram LM —
    * the CCNet-style perplexity filter: documents whose tokens are
    * improbable under the corpus distribution (gibberish, foreign
    * fragments, encoding damage) score high; boilerplate scores low.
    * H(d) = −(1/|d|) Σ_pos ln p(tok),  p(tok) = c_tok / N.
    *
    * Exactness discipline: each token TYPE's ln p floors onto the
    * integer nano grid once, then multiplies by the doc's integer
    * count of that type, so the per-doc sum is a sum of int64 terms —
    * order-free across engines — and the per-token mean is an integer
    * division on the same grid. MLE probabilities (no smoothing):
    * every token scored exists in the corpus by construction, so
    * p > 0 always.
    *
    * Scale shape: (doc, tok) counts are one map-side-combined
    * aggregation of the token scan; corpus counts aggregate THOSE
    * (never re-scanning tokens); the corpus total is a broadcast
    * 1-row scalar; the only join is (doc,tok) ⋈ tok — shuffle-partitioned
    * on the token, skew-bounded because the hot-token side is 1 row
    * per type.
    */
  def docCrossEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val dt = df
      .select(col(idCol).as("doc_id"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c_dw"))
    val cw = dt.groupBy("w").agg(sum(col("c_dw")).as("c_w"))
    val tot = cw.agg(sum(col("c_w")).as("n_corpus"))
    // broadcast SCALAR via an equi-join on a non-foldable constant key
    // (pmod(x,1) = 0 always) — the q_tpch_q11 discipline: a broadcast
    // cross join would plan as BroadcastNestedLoopJoin and pollute
    // every plan-shape diff even though the 1-row side is benign
    dt.join(cw, "w")
      .withColumn("__k", pmod(col("c_dw"), lit(1L)))
      .join(broadcast(tot.withColumn("__k",
        pmod(col("n_corpus"), lit(1L)))), "__k")
      .withColumn("lp_nano",
        floor(log(col("c_w").cast(DoubleType) /
          col("n_corpus").cast(DoubleType)) * 1e9).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("c_dw")).as("n_toks"),
        (-sum(col("c_dw") * col("lp_nano"))).as("ce_sum_nano"))
      .withColumn("ce_per_tok_nano",
        expr("ce_sum_nano div n_toks"))
  }

  /** Train a LINEAR quality probe by full-batch gradient descent on
    * squared loss — the training half of the fastText-style filter
    * ([[classifierScore]] is the scoring half): given integer
    * milli-grid features `featCol: array<long>` (1000 = 1.0) and a
    * 0/1 label, run `iters` rounds of w ← w − floor(Σ r·x / (2N·1e6))
    * with residual r = w·x − y on the nano grid, starting from w = 0.
    *
    * Exactness: features milli, weights micro, scores/residuals nano —
    * every per-doc term is int64, every round's gradient is ONE
    * order-free integer sum (≤2⁵³, so its double image is exact), and
    * the only division is a floor whose operands agree bit-for-bit
    * across engines. A DuckDB CTE chain replays all rounds exactly.
    *
    * Scale shape: each round is ONE scan-local residual expression + a
    * single map-side-combined aggregate collapsing to 1 row (dim
    * gradient sums + count) — a bounded driver-side collect. The
    * feature table is never shuffled; R rounds = R scans (cache the
    * input upstream if scans dominate).
    */
  /** Train BPE-style tokenizer MERGES in-engine: `merges` rounds of
    * (count all adjacent token pairs, pick the most frequent — ties
    * break (count desc, a asc, b asc) — and greedily merge its
    * non-overlapping occurrences left-to-right). Returns one row per
    * round: the chosen pair, its adjacent-pair count, and the corpus
    * token total AFTER the rewrite — the total moves by the number of
    * merges actually performed, which differs from the pair count
    * exactly on overlapping runs, so it pins the greedy resolution.
    *
    * Merged tokens join with '+' (original tokens are whitespace-split
    * words, so the joiner cannot collide with an unmerged token).
    *
    * Scale shape: per round, pair counts are ONE map-side-combined
    * aggregate over a scan-local pair zip (no explode of the corpus
    * into a shuffle — pairs group-reduce before the exchange), the
    * argmax is a TakeOrdered(1) driver collect, and the rewrite is a
    * scan-local `aggregate` fold over each token array (codegen, zero
    * shuffle). R rounds = R passes; the token lists never shuffle.
    */
  /** The greedy merge rounds shared by [[bpeTrain]] and
    * [[bpeEncode]]: returns (per-doc token lists after all rounds —
    * with the ORIGINAL token count carried as n0 — and the per-round
    * merge table).
    *
    * `trackTotals=false` ([[bpeEncode]]) skips the last round's
    * toks-after total — the encoder never reads it, and it is a full
    * extra scan of the round's token lists. The LAST
    * round's fold is returned LAZY (not stored) in both modes: its
    * single consumer (the trainer's final total, or the encoder's
    * final top-N) executes it exactly once on top of the previous
    * round, saving one full write+read of every token list (r12
    * optimization round, guide §1.2 "don't compute things you throw
    * away"). With `trackTotals` the token lists are freed before
    * returning: the trainer reads only the merge table.
    */
  private def bpeFit(df: DataFrame, idCol: String, textCol: String,
      merges: Int, trackTotals: Boolean = true)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    // each round runs TWO actions (argmax pair, token total) and the
    // next round's fold — over a LAZY chain those re-execute every
    // prior round's fold from the scan (round r costs r folds).
    // Materializing each round's token lists ([[IterState]]) makes
    // round cost constant; the trainer's own toks-after total is the
    // job that stores each round.
    val st = new IterState(df
      .select(col(idCol).as("id"), toks(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("n0", size(col("toks")).cast("long")))
    // round 1's argmax reads the token lists before any round is
    // materialized: store them first
    st.finish()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    def total(d: DataFrame): Long =
      d.agg(sum(size(col("toks")))).head().getLong(0)
    var last: DataFrame = st.frame
    for (r <- 1 to merges) {
      val cur = st.frame
      val n = size(col("toks"))
      val best = cur
        .filter(n >= 2)
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), n - 1).as("a"),
          slice(col("toks"), lit(2), n - 1).as("b"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).head()
      val (a, b, c) = (best.getString(0), best.getString(1),
        best.getLong(2))
      val m = a + "+" + b
      // greedy left-to-right merge as a fold: merge when the LAST
      // OUTPUT token equals `a` and the current token equals `b` (the
      // '+'-joined merge product can never equal `a` within a round,
      // so a just-merged pair never chains). The "" sentinel keeps
      // element_at in-bounds on the empty accumulator under ANSI.
      val folded = cur.select(col("id"), col("n0"), aggregate(col("toks"),
        array().cast("array<string>"),
        (acc, x) => when(
          element_at(concat(array(lit("")), acc), size(acc) + 1)
            === lit(a) && (x === lit(b)),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
          .otherwise(concat(acc, array(x)))).as("toks"))
      if (r < merges) {
        // later rounds take 2+ actions over this state (argmax, fold,
        // optional total) — materialize so each executes once; the
        // total is the materializing action
        val toksAfter = st.advanceWith(folded)(total)
        if (trackTotals) out += ((r, a, b, c, toksAfter))
        last = st.frame
      } else {
        // last round: exactly ONE downstream action consumes the fold
        // (the total below, or the encoder's top-N), so leave it lazy
        // over the previous round — one full token-list materialization
        // saved. That round's cache stays alive to back it (cleared per
        // query by bench/verify).
        last = folded
        if (trackTotals) out += ((r, a, b, c, total(folded)))
      }
    }
    if (trackTotals) st.release()
    (last, out.toSeq)
  }

  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
      merges: Int = 3): DataFrame = {
    val (_, out) = bpeFit(df, idCol, textCol, merges)
    import org.apache.spark.sql.types.{StructType, StructField,
      IntegerType, StringType, LongType}
    val rows: Seq[org.apache.spark.sql.Row] = out.map {
      case (r, a, b, c, t) => org.apache.spark.sql.Row(r, a, b, c, t)
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("tok_a", StringType, nullable = false),
        StructField("tok_b", StringType, nullable = false),
        StructField("pair_n", LongType, nullable = false),
        StructField("toks_after", LongType, nullable = false))))
  }

  /** Apply the trained merge table: TOKENIZE THE CORPUS with the
    * [[bpeTrain]] merges and report, per document, the token count
    * before/after and the compression in exact micro units — the
    * "which docs does my tokenizer compress best/worst" read (a doc
    * the merges barely compress is out-of-domain for the tokenizer;
    * one they compress hard is template-like). Deterministic
    * (after/before ratio desc, id) top-N — the most merge-resistant
    * docs surface first.
    *
    * Scale shape: identical to the trainer (each round one
    * map-side-combined pair count + one scan-local fold; token lists
    * never shuffle) plus a final TakeOrdered.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Int = 3, topN: Int = 50): DataFrame = {
    // trackTotals=false: the merge table's toks-after column is unused
    // here, and the last round's total is a full extra scan of the
    // token lists
    val (cur, _) = bpeFit(df, idCol, textCol, merges,
      trackTotals = false)
    cur.select(col("id").as(idCol), col("n0").as("toks_before"),
        size(col("toks")).cast("long").as("toks_after"))
      .withColumn("compression_micro",
        expr("toks_after * 1000000L div toks_before"))
      .orderBy(col("compression_micro").desc, col(idCol).asc)
      .limit(topN)
  }

  /** UNIGRAM-LM (SentencePiece-style) tokenizer training — the
    * tokenizer family peer of [[bpeTrain]] (Kudo 2018, "Subword
    * Regularization": pieces carry independent probabilities and a
    * word's tokenization is its best-scoring segmentation, where BPE
    * replays merge history). Hard-EM with `rounds` fixed Viterbi
    * rounds over the piece inventory of all length-1/length-2
    * substrings:
    *
    *  - seed counts = substring occurrence counts over the word
    *    histogram (the SentencePiece seed, restricted to the ≤2-char
    *    inventory so the segmentation lattice is the two-way DP
    *    below);
    *  - E-step: Viterbi-segment every DISTINCT word under integer
    *    piece costs cost(p) = ⌊ln(total)·1e9⌋ − ⌊ln(cnt_p)·1e9⌋ (two
    *    pure-integer-argument logs on the nano grid, the q_kl_sources
    *    lnGrid discipline — everything after the floors is exact
    *    int64, so the best path is engine-replayable);
    *  - M-step: re-count pieces over the best segmentations, word
    *    counts as weights; single-char pieces never die (count floor
    *    1, the SentencePiece keep-all-chars rule), 2-char pieces
    *    survive only while used.
    *
    * Ties between equal-cost segmentations break deterministically on
    * (cost, piece count, segmentation string) — a composite the DP
    * can carry because appending the same piece preserves each
    * component's order (two distinct segmentations of the same prefix
    * are never string-prefixes of each other: same characters, so one
    * being a prefix of the other forces equality). The oracle replays
    * the identical rule by enumerating all segmentations per word
    * (recursive CTE) and taking the same composite minimum.
    *
    * Returns the trained inventory: (piece, piece_len, cnt) — final
    * Viterbi usage counts — top `topK` by (cnt desc, piece asc).
    *
    * Scale shape: the corpus is scanned ONCE (word histogram,
    * map-side combined); every round after runs on the distinct-word
    * table — a scan-local codegen'd fold per word (the [[bpeFit]]
    * fold pattern; no join, no shuffle beyond the piece re-count,
    * which is |vocab|-sized and map-side combined). Piece costs
    * travel as a map LITERAL (≤ alphabet + alphabet² entries — the
    * bounded codebook collect, same bound as [[vocabEncode]]'s
    * vocabulary). Words longer than `maxWordLen` code points are
    * dropped (documented cap: the DP cost is linear in word length,
    * and 16+-char "words" in web text are URLs/hashes, not lexicon).
    */
  def unigramLmTrain(df: DataFrame, textCol: String, rounds: Int = 2,
      maxWordLen: Int = 16, topK: Int = 200): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val spark = df.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val words = df.select(explode(toks(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .persist(lvl)
    // seed counts: every len-1/len-2 substring occurrence, weighted by
    // the word's corpus count; bounded driver collect (≤ alphabet²)
    val subs = words.select(col("w"), col("wc"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("wc"),
        col("w").substr(col("i"), lit(1)).as("p1"),
        when(col("i") >= 2, col("w").substr(col("i") - 1, lit(2)))
          .as("p2"))
    val c0: Map[String, Long] = subs
      .select(col("wc"), col("p1").as("piece"))
      .unionAll(subs.filter(col("p2").isNotNull)
        .select(col("wc"), col("p2").as("piece")))
      .groupBy("piece").agg(sum("wc").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (c0.isEmpty) {
      words.unpersist()
      return spark.range(0).select(lit("").as("piece"),
        lit(0L).as("piece_len"), lit(0L).as("cnt"))
    }
    // code points, not UTF-16 units: substr counts characters in both
    // engines, so piece-length classification must too
    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    def lnGrid(x: Long): Long =
      math.floor(math.log(x.toDouble) * 1e9).toLong
    def costsOf(cnts: Map[String, Long]): Map[String, Long] = {
      val lt = lnGrid(cnts.valuesIterator.sum)
      cnts.map { case (p, c) => p -> (lt - lnGrid(c)) }
    }
    // Viterbi E-step + piece re-count M-step under the given costs:
    // one fold per word carrying (state at i-2, state at i-1), each
    // state = (cost, pieces, segmentation); candidate A consumes one
    // char, candidate B two (guarded: i ≥ 2 and the 2-char piece
    // still in the inventory — try_element_at null disables B via the
    // IS NOT NULL conjunct, FALSE-short-circuiting the comparison)
    def viterbiCounts(cost: Map[String, Long]): DataFrame = {
      val ca = "acc.c1 + try_element_at(__cm, substring(w, i, 1))"
      val na = "acc.n1 + CAST(1 AS BIGINT)"
      val ga = "CASE WHEN acc.g1 = '' THEN substring(w, i, 1) " +
        "ELSE concat(acc.g1, ' ', substring(w, i, 1)) END"
      val cb = "CASE WHEN i >= 2 THEN " +
        "acc.c2 + try_element_at(__cm, substring(w, i - 1, 2)) " +
        "ELSE CAST(NULL AS BIGINT) END"
      val nb = "acc.n2 + CAST(1 AS BIGINT)"
      val gb = "CASE WHEN acc.g2 = '' THEN substring(w, i - 1, 2) " +
        "ELSE concat(acc.g2, ' ', substring(w, i - 1, 2)) END"
      val useB = s"($cb) IS NOT NULL AND (($cb) < ($ca) OR " +
        s"(($cb) = ($ca) AND (($nb) < ($na) OR " +
        s"(($nb) = ($na) AND ($gb) < ($ga)))))"
      val fold =
        s"""aggregate(
           sequence(1, length(w)),
           named_struct(
             'c2', CAST(0 AS BIGINT), 'n2', CAST(0 AS BIGINT), 'g2', '',
             'c1', CAST(0 AS BIGINT), 'n1', CAST(0 AS BIGINT), 'g1', ''),
           (acc, i) -> named_struct(
             'c2', acc.c1, 'n2', acc.n1, 'g2', acc.g1,
             'c1', CASE WHEN $useB THEN $cb ELSE $ca END,
             'n1', CASE WHEN $useB THEN $nb ELSE $na END,
             'g1', CASE WHEN $useB THEN $gb ELSE $ga END),
           acc -> acc.g1)"""
      words.withColumn("__cm", typedLit(cost))
        .withColumn("__seg", expr(fold))
        .select(col("wc"), explode(split(col("__seg"), " ")).as("piece"))
        .groupBy("piece").agg(sum("wc").as("cnt"))
    }
    var cnts = c0
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val seg = viterbiCounts(costsOf(cnts))
      if (r < rounds) {
        val cr = seg.collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        cnts = c0.keysIterator.filter(cpLen(_) == 1)
          .map(p => p -> math.max(cr.getOrElse(p, 0L), 1L)).toMap ++
          cr.filter { case (p, _) => cpLen(p) == 2 }
      } else out = seg
    }
    val res = out.select(col("piece"),
        length(col("piece")).cast("long").as("piece_len"), col("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc).limit(topK)
    words.unpersist()
    res
  }

  /** Nano-grid probe score of feature array column `x` under literal
    * weights — expression-only, codegen'd (shared by the probe
    * trainer and the label-noise miner).
    */
  private def probeScoreNano(ws: Array[Long]): Column =
    aggregate(zip_with(col("x"),
        array(ws.map(lit).toIndexedSeq: _*), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)

  /** The full-batch GD rounds shared by [[linearProbeTrain]] and
    * [[labelNoise]]: `d` must carry x (array<long> milli features) and
    * y (long 0/1). Each round is one scan-local residual expression +
    * one 1-row aggregate; returns (weights_micro, n_docs).
    */
  private def probeFit(d: DataFrame, dim: Int,
      iters: Int): (Array[Long], Long) = {
    var w = Array.fill(dim)(0L)
    var nDocs = 0L
    for (_ <- 1 to iters) {
      val r = probeScoreNano(w) - col("y") * lit(1000000000L)
      val aggs = (0 until dim).map(j =>
        sum(element_at(col("x"), j + 1) * r).as(s"g$j")) :+
        count(lit(1)).as("n")
      val row = d.agg(aggs.head, aggs.tail: _*).head()
      nDocs = row.getLong(dim)
      w = Array.tabulate(dim)(j => w(j) -
        math.floor(row.getLong(j).toDouble / (nDocs * 2e6)).toLong)
    }
    (w, nDocs)
  }

  def linearProbeTrain(df: DataFrame, featCol: String, labelCol: String,
      featNames: Seq[String], iters: Int = 4): DataFrame = {
    val dim = featNames.length
    val d = df.select(col(featCol).as("x"),
      col(labelCol).cast("long").as("y"))
    val (w, nDocs) = probeFit(d, dim, iters)
    val nCorrect = d.select(sum(
      when((probeScoreNano(w) >= lit(500000000L)) === (col("y") === 1L),
        1L).otherwise(0L)).as("nc")).head().getLong(0)
    val rows: Seq[org.apache.spark.sql.Row] =
      featNames.zipWithIndex.map { case (f, j) =>
        org.apache.spark.sql.Row(f, w(j), nCorrect, nDocs)
      }
    import org.apache.spark.sql.types.{StructType, StructField,
      StringType, LongType}
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("feature", StringType, nullable = false),
        StructField("w_micro", LongType, nullable = false),
        StructField("n_correct", LongType, nullable = false),
        StructField("n_docs", LongType, nullable = false))))
  }

  /** Per-document token-type Shannon ENTROPY, lowest-N review queue —
    * the information-theoretic repetitiveness gate (a templated or
    * looping doc has low entropy even when q_repetition's fixed-n
    * n-gram counters miss the period): H = ln(n) − Σ c·ln(c)/n over
    * the doc's token-type counts. Kept engine-exact the q_keyness
    * way: each ln floors onto the nano grid BEFORE the (integer,
    * order-free) sums, the per-doc division is truncating integer
    * division over non-negatives, and the output cut is a
    * deterministic (entropy asc, id) TakeOrdered. Complements
    * [[docCrossEntropy]] (which scores docs against the CORPUS
    * distribution; this scores each doc against ITSELF).
    *
    * Scale shape: one explode + two map-side-combined aggregations +
    * a TakeOrdered(topN). Per-doc int64 bound: Σ c·ln(c)·1e9 ≤
    * n·ln(n)·1e9 — fine through billion-token documents.
    */
  def docEntropy(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 50): DataFrame = {
    val tk = df.select(col(idCol),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    tk.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("n_toks"), count(lit(1)).as("n_types"),
        sum(col("c") *
            floor(log(col("c").cast("double")) * 1e9).cast("long"))
          .as("sclnc"))
      .withColumn("entropy_nano",
        floor(log(col("n_toks").cast("double")) * 1e9).cast("long") -
          expr("sclnc div n_toks"))
      .select(col(idCol), col("n_toks"), col("n_types"),
        col("entropy_nano"))
      .orderBy(col("entropy_nano").asc, col(idCol).asc)
      .limit(topN)
  }

  /** FLESCH READING EASE on an integer-exact footing — the classic
    * readability prior a curation pipeline mixes into its quality
    * score (technical/boilerplate text reads low, conversational text
    * high). Counts are pure integer regex aggregates over the
    * lowercased text: words = letter runs, sentences = [.!?]+ runs
    * pinned ≥ 1 (headline-style fragments count as one sentence),
    * syllables = vowel-group runs pinned ≥ words (every word carries
    * at least one syllable, the standard Flesch floor). The score
    * derives from the three exact ints in ONE fixed-order double
    * expression, so both engines reproduce it bit-for-bit:
    * flesch_micro = ⌊(206.835 − 1.015·w/s − 84.6·sy/w)·1e6⌋, pinned 0
    * for empty text.
    *
    * Scale shape: scan-local per-row expressions, zero shuffles —
    * embarrassingly parallel at any corpus size.
    */
  def readability(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t2 = lower(trim(col(textCol)))
    val w = size(regexp_extract_all(t2, lit("[a-z]+"), lit(0)))
      .cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(t2, lit("[.!?]+"), lit(0))).cast("long"))
    val syRaw = size(regexp_extract_all(t2, lit("[aeiouy]+"), lit(0)))
      .cast("long")
    df.select(col(idCol), w.as("n_words"), s.as("n_sents"),
        greatest(w, syRaw).as("n_syllables"))
      .withColumn("flesch_micro",
        when(col("n_words") === 0L, 0L).otherwise(
          floor((lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
              / col("n_sents").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double")
              / col("n_words").cast("double"))) * 1e6).cast("long")))
      .orderBy(col(idCol))
  }

  /** LABEL-NOISE MINING (confident-learning-lite): train the
    * [[linearProbeTrain]] probe on the labels as given, then surface
    * the `topN` examples whose probe score most confidently DISAGREES
    * with their label — the review queue a labeling pipeline works
    * through first, since high-margin disagreements are
    * disproportionately annotation errors. Same integer grids as the
    * trainer (milli features, micro weights, nano scores), so the
    * whole thing — GD rounds included — replays bit-for-bit in any
    * engine; the output cut is a deterministic
    * (margin desc, id asc) top-N.
    *
    * Scale shape: the GD rounds are each one scan + a 1-row
    * aggregate; the mining pass is one more scan + a TakeOrdered(N).
    * Nothing is collected but the weight vector and the top-N.
    */
  def labelNoise(df: DataFrame, featCol: String, labelCol: String,
      idCol: String, dim: Int, iters: Int = 4,
      topN: Int = 50): DataFrame = {
    val d = df.select(col(idCol), col(featCol).as("x"),
      col(labelCol).cast("long").as("y"))
    val (w, _) = probeFit(d, dim, iters)
    d.select(col(idCol), col("y"),
        probeScoreNano(w).as("score_nano"))
      .filter((col("score_nano") >= lit(500000000L)) =!=
        (col("y") === 1L))
      .withColumn("margin_nano",
        abs(col("score_nano") - lit(500000000L)))
      .orderBy(col("margin_nano").desc, col(idCol).asc)
      .limit(topN)
  }

  /** HAPAX / lexical-richness profile per slice: vocabulary size,
    * token mass, hapax legomena (terms occurring exactly once in the
    * slice), hapax share of the vocabulary, and type–token ratio. A
    * high hapax share marks organic long-tail text; templated or
    * machine-generated slices collapse it — the cheap companion read
    * to [[docEntropy]]. All-integer (counts + two non-negative
    * truncating nano divisions, floor == div on this domain), so
    * engine-exact. Emits one row per slice, ordered.
    *
    * Scale shape: one token-count aggregation per (slice, term) —
    * map-side combined — then one per-slice rollup; nothing beyond
    * vocab size after the scan.
    */
  def hapaxStats(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("g")
      .agg(count(lit(1)).as("vocab"),
        sum("c").as("n_tokens"),
        coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("n_hapax"))
      .select(col("g").as(groupCol), col("vocab"), col("n_tokens"),
        col("n_hapax"),
        expr("n_hapax * 1000000000L div vocab").as("hapax_nano"),
        expr("vocab * 1000000000L div n_tokens").as("ttr_nano"))
      .orderBy(groupCol)
  }

  /** BURSTINESS of the corpus's head terms: variance-to-mean ratio of
    * the per-document count of each top-K token (zeros over absent
    * docs included). VMR ≈ 1 is Poisson scatter (function words);
    * VMR ≫ 1 marks topical/bursty terms — and, inverted, template
    * boilerplate whose head terms spread TOO evenly. Identity used:
    * VMR = Q/S − S/n (Q = Σc², S = Σc, n = total docs) — each ratio
    * floors onto the nano grid independently (the [[klUnigram]]
    * two-floor discipline; int64 inputs < 2⁵³, exact in double), so
    * vmr_nano = ⌊Q/S·1e9⌋ − ⌊S/n·1e9⌋ is engine-exact. Head-K cut is
    * deterministic by (S desc, token asc). Emits
    * (token, df_docs, s_count, q_count2, vmr_nano).
    *
    * Scale shape: one (doc, token) count aggregation (map-side
    * combined), one per-token rollup, one TakeOrdered(K); the
    * all-docs zero mass enters through the n scalar, never a densify
    * join.
    */
  def burstiness(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 20): DataFrame = {
    val nDocs = df.select(col(idCol)).count()
    val perDoc = df.select(col(idCol).as("id"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
    perDoc.groupBy("tok")
      .agg(count(lit(1)).as("df_docs"),
        sum("c").as("s_count"),
        sum(col("c") * col("c")).as("q_count2"))
      .select(col("tok").as("token"), col("df_docs"), col("s_count"),
        col("q_count2"),
        (floor(col("q_count2").cast("double") /
            col("s_count").cast("double") * lit(1e9)).cast("long") -
          floor(col("s_count").cast("double") /
            lit(nDocs.toDouble) * lit(1e9)).cast("long"))
          .as("vmr_nano"))
      .orderBy(col("s_count").desc, col("token").asc)
      .limit(topK)
  }

  /** Pairwise VOCABULARY JACCARD between slices — the symmetric
    * "how much do these domains share a lexicon" grid that the
    * asymmetric [[klUnigram]] divergence complements: for every
    * slice pair a < b, |Vₐ∩V_b| / |Vₐ∪V_b| over the distinct-token
    * vocabularies. Counts are exact int64; the ratio is one
    * non-negative truncating nano division (== floor). Emits
    * (src_a, src_b, v_a, v_b, n_inter, jaccard_nano), ordered.
    *
    * Scale shape: one distinct (slice, token) projection, a
    * self-join on the token restricted a < b for the intersection
    * counts, per-slice vocab sizes joined in — the pair grid is
    * |slices|² rows, never corpus-sized. Hot tokens fan out at most
    * |slices| ways, so no skew blowup.
    */
  def vocabJaccard(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val vt = df.select(col(groupCol).as("g"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val sizes = vt.groupBy("g").agg(count(lit(1)).as("v"))
    val inter = vt.select(col("g").as("ga"), col("tok"))
      .join(vt.select(col("g").as("gb"), col("tok")), "tok")
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col("g").as("ga"), col("v").as("v_a"))
      .join(sizes.select(col("g").as("gb"), col("v").as("v_b")),
        col("ga") < col("gb"))
      .join(inter, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("n_inter"))
    pairs.select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("v_a"), col("v_b"), col("n_inter"),
        expr("n_inter * 1000000000L div (v_a + v_b - n_inter)")
          .as("jaccard_nano"))
      .orderBy("src_a", "src_b")
  }

  /** VOCABULARY RICHNESS per group — Chao1 and Good–Turing from the
    * frequency-of-frequencies profile: f1 (singletons) and f2
    * (doubletons) are the sufficient statistics for "how much
    * vocabulary has this source NOT shown yet", the coverage question
    * behind corpus-size planning. Chao1's bias-corrected estimator
    * V + f1(f1−1)/(2(f2+1)) (defined even at f2 = 0) lower-bounds the
    * true vocabulary; Good–Turing's p0 = f1/N estimates the
    * probability the NEXT token is an unseen type. Both land as pure
    * integer truncating divisions on the milli/nano grids — no IEEE
    * anywhere, so the oracle is trivially exact.
    *
    * Scale shape, exactly [[hapaxStats]]: one (group, token)
    * map-side-combined histogram, one per-group fold — never a
    * vocabulary collect.
    */
  def vocabRichness(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("g")
      .agg(count(lit(1)).as("vocab"),
        sum("c").as("n_tokens"),
        coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("f1"),
        coalesce(sum(when(col("c") === 2L, 1L).otherwise(0L)), lit(0L))
          .as("f2"))
      .select(col("g").as(groupCol), col("vocab"), col("n_tokens"),
        col("f1"), col("f2"),
        expr("vocab * 1000L + (f1 * (f1 - 1) * 1000L)" +
          " div (2L * (f2 + 1L))").as("chao1_milli"),
        expr("f1 * 1000000000L div n_tokens").as("p0_nano"))
      .orderBy(groupCol)
  }

  /** BURROWS' DELTA between every pair of groups — the stylometric
    * distance over the corpus's top-`topK` terms (per-term z-scores
    * of relative frequency across groups, delta = mean |z_a − z_b|):
    * the "same register or different" read that vocabulary overlap
    * ([[vocabJaccard]]) misses because it ignores HOW OFTEN shared
    * words are used. Relative frequencies live on the integer MICRO
    * grid (c·10⁶ div n_tokens — exact both engines); the z-score
    * denominator uses the population-variance identity
    * D_t = S·Σrf² − (Σrf)², under which |z_a − z_b| =
    * S·|rf_a − rf_b| / √D_t (the means cancel — absent (group, term)
    * cells are plain rf = 0, no dense z materialization needed).
    * Each (pair, term) lands as ONE IEEE floor to nano before the
    * exact int sum over terms; delta divides by the literal `topK`.
    *
    * Scale shape: one exploded scan feeds the group sizes, the
    * global term counts, and the per-(group, term) counts; the
    * top-`topK` term list and the per-term D_t are BOUNDED driver
    * collects (≤ topK rows — the codebook pattern), re-entering the
    * plan as literals so the dense S×topK grid is an explode of a
    * literal array, never a data-derived cross join. The pair join
    * is S²·topK rows — bounded by the group-count dimension, the
    * same shape as the pairwise output itself. Returns
    * (src_a, src_b, n_terms, sum_dz_nano, delta_nano).
    */
  def burrowsDelta(df: DataFrame, textCol: String, groupCol: String,
      topK: Int = 30): DataFrame = {
    require(topK > 0 && topK <= 1000, s"topK $topK out of range")
    val tk = df.select(col(groupCol).as("g"),
        explode(toks(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val ns = tk.groupBy("g").agg(count(lit(1)).as("ntok"))
    val nGroups = ns.count()
    // top-topK corpus terms, (count desc, token asc) total order —
    // a bounded TakeOrderedAndProject, collected as the codebook
    val top = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(topK)
      .select("tok").collect().map(_.getString(0)).toSeq
    val rfv = tk.filter(col("tok").isin(top: _*))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
      .join(broadcast(ns), "g")
      .select(col("g"), col("tok"),
        expr("c * 1000000L div ntok").as("rf"))
    // per-term variance stat D_t = S·Σrf² − (Σrf)² — ≤ topK rows,
    // collected and re-broadcast as a literal map
    val dStat = rfv.groupBy("tok")
      .agg(sum("rf").as("s1"), sum(col("rf") * col("rf")).as("s2"))
      .select(col("tok"),
        (lit(nGroups) * col("s2") - col("s1") * col("s1")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val termArr = array(top.map(lit): _*)
    val dMap = if (top.isEmpty)
      expr("map()").cast("map<string,bigint>")
    else map(top.flatMap(t =>
      Seq(lit(t), lit(dStat.getOrElse(t, 0L)))): _*)
    val grid = ns.select(col("g"), explode(termArr).as("tok"))
      .join(rfv, Seq("g", "tok"), "left")
      .select(col("g"), col("tok"), coalesce(col("rf"), lit(0L))
        .as("rf"))
    val a = grid.select(col("g").as("src_a"), col("tok").as("toka"),
      col("rf").as("rfa"))
    val b = grid.select(col("g").as("src_b"), col("tok").as("tokb"),
      col("rf").as("rfb"))
    a.join(b, col("toka") === col("tokb") && col("src_a") < col("src_b"))
      .withColumn("dval", element_at(dMap, col("toka")))
      .withColumn("dterm", coalesce(when(col("dval") > 0L,
        floor((lit(nGroups) * abs(col("rfa") - col("rfb")))
          .cast("double") / sqrt(col("dval").cast("double")) *
          lit(1e9)).cast("long")), lit(0L)))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_terms"), sum("dterm").as("sum_dz_nano"))
      .select(col("src_a"), col("src_b"), col("n_terms"),
        col("sum_dz_nano"),
        expr(s"sum_dz_nano div ${topK}L").as("delta_nano"))
      .orderBy("src_a", "src_b")
  }
}
