package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.CrossHash

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting.
  *
  * All operators are pure per-row `Column` expressions (no UDFs, no
  * shuffles) — they stay inside whole-stage codegen and scale linearly
  * with input splits; at 100 TB they run map-side at scan speed.
  */
object TextOps {

  /** English stopword sample used for the stopword-ratio feature. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "in", "and", "is", "on", "for")

  /** Marker words per language for the n-gram-heuristic language ID.
    * Priority order (ties resolve to the earlier entry) is the Seq
    * order below. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "les", "des", "est", "et"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Whitespace tokenization (runs of spaces collapse). */
  def tokens(text: Column): Column = split(trim(text), " +")

  /** Canonical text form for normalization-robust dedup (the C4-style
    * rule): lowercase, non-alphanumerics to spaces, runs of spaces
    * collapsed, trimmed. Patterns sit in the RE2 ∩ Java-regex common
    * subset, so the DuckDB twin byte-matches. */
  def canonical(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Word n-gram shingles; empty array when the doc is shorter than n.
    * (Spark's `sequence(1, 0)` counts DOWN, so the short-doc case must
    * be guarded explicitly — the DuckDB twin's generate_series(1,0)
    * returns empty.) */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Per-document token/length statistics and a composite quality
    * score — the LLM-corpus analog of the reference's per-row DQ
    * checks (`project/validate_data.py:174-185`). */
  def textStats(df: DataFrame, textCol: String = "text"): DataFrame =
    // barrier: materialize toks once — otherwise CollapseProject
    // inlines the split() into every stat column (see Dist.materialize)
    textStatsPretok(
      Dist.materialize(df.withColumn("toks", tokens(col(textCol)))), textCol)

  /** [[textStats]] over a relation that ALREADY carries a `toks`
    * column behind a materialization barrier (shared-scan callers:
    * q148 tokenizes once and feeds both retrieval legs). */
  def textStatsPretok(df: DataFrame, textCol: String = "text"): DataFrame = {
    df
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chars_m", length(col(textCol)).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("sum_tok_len",
        aggregate(col("toks"), lit(0L), (s, t) => s + length(t)))
      .withColumn("n_stop", countIn(col("toks"), Stopwords).cast("long"))
      .withColumn("avg_token_len",
        ExactRound.ratioRound(col("sum_tok_len"), col("n_tokens"), 4))
      .withColumn("distinct_ratio",
        ExactRound.ratioRound(col("n_distinct"), col("n_tokens"), 4))
      .withColumn("stopword_ratio",
        ExactRound.ratioRound(col("n_stop"), col("n_tokens"), 4))
      // BPE-ish token estimate: ~4 chars/token floor, never below the
      // whitespace count.
      .withColumn("token_est",
        greatest(col("n_tokens"), ceil(col("n_chars_m").cast(DoubleType) / 4.0)).cast("long"))
      // quality = 0.4*min(1, n/100) + 0.4*d/n + 0.2*(1 - s/n), an
      // EXACT integer rational over denominator 500n:
      // (2*min(100,n)*n + 200*d + 100*(n-s)) / (500n) — class-4
      // discipline, never round() the composite double
      .withColumn("quality_score",
        ExactRound.ratioRound(
          lit(2L) * least(lit(100L), col("n_tokens")) * col("n_tokens") +
            lit(200L) * col("n_distinct") +
            lit(100L) * (col("n_tokens") - col("n_stop")),
          lit(500L) * col("n_tokens"), 4))
      .drop("toks")
  }

  /** Gopher stopword probe (Rae et al. 2021 §A1.1 use an 8-word list;
    * ours keeps the members that actually occur in the synthetic
    * vocabulary so the rule discriminates). */
  val GopherStops: Seq[String] = Seq("the", "a", "of", "to", "and")

  /** Gopher-style rule-based quality gate (Rae et al. 2021, Appendix
    * A1.1): per-document word-count bounds, mean-word-length band,
    * minimum alphabetic-word fraction, and a ≥2-distinct-stopwords
    * probe, plus the conjunction `pass_gopher`. Each rule emits its
    * own flag so downstream mixing can weight rather than drop.
    * Thresholds are parameters; the defaults are tuned to the
    * synthetic corpus bands (the paper's 50/100k word bounds would
    * pass or fail everything here and test nothing).
    *
    * Pure map-side over one tokenize pass (the [[textStats]] barrier
    * rule); no shuffle anywhere — at 100 TB this is a single scan. */
  def gopherRules(
      df: DataFrame,
      textCol: String = "text",
      minWords: Long = 20L,
      maxWords: Long = 80L,
      minWordLen: Double = 4.0,
      maxWordLen: Double = 5.0,
      minAlphaFrac: Double = 0.8,
      minStopKinds: Long = 2L): DataFrame = {
    val d = Dist.materialize(df.withColumn("toks", tokens(col(textCol))))
    d.withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("mean_wlen",
        ExactRound.ratioRound(
          aggregate(col("toks"), lit(0L), (s, t) => s + length(t)),
          col("n_words"), 4))
      .withColumn("alpha_frac",
        ExactRound.ratioRound(
          size(filter(col("toks"), t => t.rlike("[a-z]"))),
          col("n_words"), 4))
      .withColumn("n_stop_kinds",
        size(array_intersect(array_distinct(col("toks")),
          array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("word_count_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("word_len_ok",
        col("mean_wlen") >= minWordLen && col("mean_wlen") <= maxWordLen)
      .withColumn("alpha_ok", col("alpha_frac") >= minAlphaFrac)
      .withColumn("stop_ok", col("n_stop_kinds") >= minStopKinds)
      .withColumn("pass_gopher",
        col("word_count_ok") && col("word_len_ok") &&
          col("alpha_ok") && col("stop_ok"))
      .drop("toks")
  }

  /** Marker-word language scores + argmax classification with a fixed
    * priority tie-break. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tokenized = Dist.materialize(df.withColumn("toks", tokens(col(textCol))))
    val scored = LangMarkers.foldLeft(tokenized) {
      case (d, (lang, markers)) =>
        d.withColumn(s"s_$lang", countIn(col("toks"), markers).cast("long"))
    }
    val langs = LangMarkers.map(_._1)
    val pred = langs.foldRight(lit(langs.last): Column) { (lang, rest) =>
      val others = langs.filterNot(_ == lang).map(l => col(s"s_$l"))
      when(col(s"s_$lang") >= greatest(others: _*), lang).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred).drop("toks")
  }

  /** Gopher/RefinedWeb-style repetition signals over word bigrams:
    * per document, the share of the single most frequent bigram
    * (`top_share`) and the fraction of bigram occurrences beyond each
    * bigram's first (`dup_ratio`) — the standard boilerplate /
    * degenerate-repetition quality gates a pretraining corpus applies
    * before training.
    *
    * Plan: bigrams come from `zip_with` over two SLICES of the token
    * array — the lambda binds only its own variables, so CollapseProject
    * cannot re-inline the tokenize per element (no barrier needed,
    * unlike the element_at-indexed shingle form); then one explode and
    * two partial-aggregated groupBys on (doc, gram) / (doc). Map-side
    * combine absorbs hot bigrams; nothing is broadcast or collected. */
  def repetitionStats(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    df.filter(n >= 2)
      .select(col(idCol),
        explode(zip_with(
          slice(toks, lit(1), n - 1),
          slice(toks, lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b))).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        max(col("cnt")).as("top_cnt"))
      .withColumn("top_share",
        ExactRound.ratioRound(col("top_cnt"), col("n_bigrams"), 4))
      .withColumn("dup_ratio",
        ExactRound.ratioRound(col("n_bigrams") - col("distinct_bigrams"),
          col("n_bigrams"), 4))
  }

  /** Document fingerprints: an order-sensitive polynomial rolling hash
    * over token hashes, a winnowing-style min-shingle-hash, and the
    * full-text md5. */
  def fingerprints(df: DataFrame, textCol: String = "text"): DataFrame = {
    graft.functions.Hash32Array.register(df.sparkSession)
    Dist.materialize(df.withColumn("toks", tokens(col(textCol))))
      .withColumn("fp_roll",
        aggregate(graft.functions.Hash32Array.hash(col("toks")),
          lit(0L), (h, x) => (h * 31L + x) % 1000000007L))
      .withColumn("fp_minshingle",
        array_min(graft.functions.Hash32Array.hash(shingles(col("toks")))))
      .withColumn("fp_md5", md5(col(textCol)))
      .drop("toks")
  }

  /** Email-like spans, then digit runs. Kept in the RE2 ∩ Java-regex
    * common subset (char classes + bounded quantifiers only — no
    * backrefs, no lookaround) so other engines execute the IDENTICAL
    * pattern. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberPattern = "[0-9]+"

  /** PII-style redaction for training corpora: mask email addresses
    * and digit runs with typed placeholders and count each class of
    * replacement. Pure map-side — regexp_replace/regexp_extract_all
    * are codegen'd, no shuffle, no UDF.
    *
    * Emails are masked BEFORE digit runs (a digit pass first would
    * chew the local part out of every address). CollapseProject
    * inlines the email-masked intermediate into both consumers, so
    * the email regex evaluates twice per row — deliberate: one extra
    * linear regex pass is far cheaper than the Exchange a
    * Dist.materialize barrier would spend to avoid it (the PERF.md
    * rule cuts the other way here: no downstream lambda iterates the
    * inlined expression, so the blow-up is 2×, not O(n²)). */
  def redact(df: DataFrame, textCol: String = "text"): DataFrame =
    df
      .withColumn("__e1",
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"))
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
          .cast("long"))
      .withColumn("n_nums",
        size(regexp_extract_all(col("__e1"), lit(NumberPattern), lit(0)))
          .cast("long"))
      .withColumn("redacted",
        regexp_replace(col("__e1"), NumberPattern, "<NUM>"))
      .drop("__e1")

  /** Per-source character-encoding / script-mix audit: non-ASCII
    * share, mojibake markers (U+FFFD replacement chars — the
    * bytes-decoded-with-the-wrong-codec fingerprint), and stray
    * control characters — the curation screen that catches broken
    * ingestion BEFORE language-ID (q22) mislabels the noise. All
    * patterns sit in the RE2 ∩ Java-regex common subset (hex classes
    * only) so both engines count the identical character sets.
    *
    * Determinism: per-doc counts are exact integers; the per-doc
    * non-ASCII ratio ROUNDS HALF-UP at 6dp (floor(x·1e6 + 0.5)) and
    * is carried as its exact scaled long, so nothing double-folds
    * ACROSS rows — the only cross-row reduction is the long sum; the
    * per-source mean then divides that exact sum by n_docs in double
    * once and floor-form rounds 6dp, identically in both engines.
    * Pure map-side until one (source) rollup. */
  val NonAsciiPattern = "[^\\x00-\\x7F]"
  val ReplacementPattern = "\\x{FFFD}"
  val ControlPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"

  /** Sentence-segmentation profile per source: naive `[.!?]+`
    * sentence split, reporting docs, sentences per doc, mean sentence
    * length in whitespace tokens, and the share of LONG (>30-token)
    * sentences, plus the share of docs with NO sentence break at all
    * — the structural screen next to q157's syllable-level
    * readability and q21's token-level quality stats. On prose the
    * interesting numbers are the per-sentence ones; on token-stream /
    * list-like content `no_punct_share` fires instead (the driver
    * corpus is punctuation-free, so it reads 1.0 there — exactly the
    * non-prose flag this op exists to raise).
    *
    * Determinism: every per-doc quantity is an exact integer long;
    * the per-source reductions are long sums finished by floor-form
    * 4dp/6dp divisions.
    *
    * Scale: pure map-side per-doc work — one split + one counting
    * transform behind a materialize barrier (the q315 HOF rule: three
    * consumers read the derived array, and CollapseProject would
    * otherwise re-run the interpreted split per consumer) — into one
    * |sources| rollup. */
  def sentenceStats(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      longSentence: Int = 30): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val sl = graft.ops.Dist.materialize(docs.select(
      col(sourceCol).as("source"),
      transform(
        filter(split(col(textCol), "[.!?]+"), s => trim(s) =!= ""),
        s => size(tokens(s)).cast("long")).as("sl")))
    val perDoc = sl.select(col("source"),
      size(col("sl")).cast("long").as("n_sent"),
      aggregate(col("sl"), lit(0L), (acc, x) => acc + x).as("n_tok"),
      size(filter(col("sl"), x => x > longSentence)).cast("long")
        .as("n_long"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sent")).as("ts"),
        sum(col("n_tok")).as("tt"),
        sum(col("n_long")).as("tl"),
        sum(when(col("n_sent") <= 1, 1L).otherwise(0L)).as("np"))
      .select(col("source"), col("n_docs"),
        col("ts").as("n_sentences"),
        (floor(dbl(col("np")) / dbl(col("n_docs")) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("no_punct_share"),
        (floor(dbl(col("ts")) / dbl(col("n_docs")) * lit(1e4) + lit(0.5)) /
          lit(1e4)).as("sent_per_doc"),
        when(col("ts") > 0,
          floor(dbl(col("tt")) / dbl(col("ts")) * lit(1e4) + lit(0.5)) /
            lit(1e4)).as("toks_per_sent"),
        when(col("ts") > 0,
          floor(dbl(col("tl")) / dbl(col("ts")) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("share_long"))
  }

  def scriptAudit(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    def cnt(p: String) =
      size(regexp_extract_all(col(textCol), lit(p), lit(0))).cast("long")
    val per = docs
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_na", cnt(NonAsciiPattern))
      .withColumn("n_repl", cnt(ReplacementPattern))
      .withColumn("n_ctl", cnt(ControlPattern))
      .withColumn("r6",
        when(col("n_chars") > 0,
          floor(col("n_na").cast(DoubleType) /
            col("n_chars").cast(DoubleType) * lit(1e6) + lit(0.5))
            .cast("long"))
          .otherwise(lit(0L)))
    per.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_na") > 0, 1L).otherwise(0L)).as("docs_nonascii"),
        sum(col("n_repl")).as("n_replacement"),
        sum(col("n_ctl")).as("n_control"),
        sum(col("r6")).as("sr6"))
      .select(col("source"), col("n_docs"), col("docs_nonascii"),
        col("n_replacement"), col("n_control"),
        (floor(col("docs_nonascii").cast(DoubleType) /
          col("n_docs").cast(DoubleType) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("nonascii_doc_share"),
        (floor(col("sr6").cast(DoubleType) /
          col("n_docs").cast(DoubleType) + lit(0.5)) / lit(1e6))
          .as("avg_nonascii_ratio"))
  }

  /** Deterministic mojibake corpus for gating [[scriptAudit]] (q425):
    * the driver corpus is pure ASCII (every audit count degenerates to
    * zero there), so this derives a 32-char text per doc from
    * md5("scr:" + doc_id) — the q393/q405 synthetic-recompute trick,
    * text edition. Docs with `doc_id % 3 == 0` translate their hex
    * digest through a map whose targets include four non-ASCII
    * letters (hex a–d), one control char (hex e → U+0007) and the
    * U+FFFD replacement char (hex f — itself non-ASCII too, so five
    * hex digits count toward n_na); the rest translate to pure
    * ASCII. The REAL regex audit then runs on genuine mixed-script
    * text while the oracle recounts the same hex digits from the same
    * md5 string in SQL — no character-class regex has to agree across
    * engines, only md5 and per-char translate.
    *
    * Scale: map-side only (one md5 + one translate per row); at a
    * real lake the text arrives off parquet and [[scriptAudit]]
    * itself is the production path. */
  def syntheticMojibake(
      docs: DataFrame,
      idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val hexDigits = "0123456789abcdef"
    val asciiTargets = "abcdefghijklmnop"
    val mojiTargets =
      "abcdefghij" + "\u00e9\u00df\u03bb\u4e2d" + "\u0007" + "\ufffd"
    val h = md5(concat(lit("scr:"), col(idCol).cast("string")).cast("binary"))
    docs.select(col(idCol), col(sourceCol).as("source"))
      .withColumn("text",
        when(col(idCol) % 3 === 0, translate(h, hexDigits, mojiTargets))
          .otherwise(translate(h, hexDigits, asciiTargets)))
  }

  /** Flesch reading-ease per document, with syllables approximated as
    * vowel-group runs ([aeiouy]+ per lowercased word, min 1) and
    * sentences as terminator runs ([.!?]+, min 1) — the classic
    * readability gate corpus filters stack next to the Gopher rules
    * (q192); the vowel-run proxy is the standard dictionary-free
    * approximation.
    *
    * Determinism: words/sentences/syllables are exact integers (the
    * syllable fold is an integer `aggregate`), the Flesch polynomial
    * evaluates in ONE literal op order on identical double quotients,
    * and the score floors at 4dp. Pure map-side — no shuffle at all. */
  def readability(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    docs
      .withColumn("n_words", size(tokens(col(textCol))).cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))))
          .cast("long"))
      .withColumn("n_syllables",
        aggregate(
          transform(tokens(col(textCol)),
            w => greatest(lit(1),
              size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))
              .cast("long")),
          lit(0L), (a, x) => a + x))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (floor((lit(206.835) -
          lit(1.015) * (dbl(col("n_words")) / dbl(col("n_sentences"))) -
          lit(84.6) * (dbl(col("n_syllables")) / dbl(col("n_words")))) *
          lit(1e4) + lit(0.5)) / lit(1e4)).as("flesch"))
  }

  /** Code-vs-prose heuristic: symbol density ([{}()\[\];=<>] runs),
    * digit density, and an underscore_identifier count — the
    * mixed-corpus router that decides whether a document should flow
    * through the prose filters (q192, q234) or a code pipeline. A doc
    * flags as code when symbol density crosses `symbolAt` or it
    * carries snake_case identifiers with above-threshold symbols.
    *
    * Determinism: all three counts are exact regex-match integers
    * (RE2 ∩ Java character-class subset — the q112 rule), char counts
    * are exact, ratios divide once and round 6; the flag compares the
    * ROUNDED ratio (q95 fence rule). Pure map-side. */
  def codeDetect(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      symbolAt: Double = 0.05): DataFrame = {
    docs
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_sym",
        size(regexp_extract_all(col(textCol), lit("[{}()\\[\\];=<>]"), lit(0)))
          .cast("long"))
      .withColumn("n_digit",
        size(regexp_extract_all(col(textCol), lit("[0-9]"), lit(0)))
          .cast("long"))
      .withColumn("n_snake",
        size(regexp_extract_all(col(textCol),
          lit("[a-z0-9]+_[a-z0-9_]+"), lit(0))).cast("long"))
      .withColumn("sym_ratio",
        when(col("n_chars") > 0,
          ExactRound.ratioRound(col("n_sym"), col("n_chars"), 6))
          .otherwise(0.0))
      .withColumn("digit_ratio",
        when(col("n_chars") > 0,
          ExactRound.ratioRound(col("n_digit"), col("n_chars"), 6))
          .otherwise(0.0))
      .select(col(idCol), col("n_chars"), col("n_sym"), col("n_digit"),
        col("n_snake"), col("sym_ratio"), col("digit_ratio"),
        (col("sym_ratio") >= symbolAt ||
          (col("n_snake") >= 2 && col("sym_ratio") >= symbolAt / 2))
          .as("is_code"))
  }

  /** Tokenizer fertility per language: the ratio of an estimated
    * SUBWORD count (regex word split on non-alphanumerics, each word
    * contributing ceil(len/`subwordLen`) pieces — the BPE-ish "long
    * words fragment" proxy) to the whitespace token count. Fertility
    * ≫ 1 flags languages/sources whose text will cost
    * disproportionate sequence length after tokenization — the
    * budget-planning number next to q21's raw token counts and q170's
    * vocabulary coverage.
    *
    * Determinism: the split pattern sits in the RE2 ∩ Java common
    * subset ([[canonical]]'s rule); both counts are exact integer
    * sums; fertility is one rounded divide.
    *
    * Scale: map-only per doc (array fold, no explode), one rollup to
    * \|langs\| rows. */
  def tokenizerFertility(
      df: DataFrame,
      langCol: String = "lang",
      textCol: String = "text",
      subwordLen: Int = 4): DataFrame = {
    val words = filter(split(lower(col(textCol)), "[^a-z0-9]+"),
      w => length(w) > 0)
    val sub = aggregate(words, lit(0L),
      (acc, w) => acc + ((length(w) + subwordLen - 1) / subwordLen)
        .cast("long"))
    df
      .select(col(langCol).as("lang"),
        size(tokens(col(textCol))).cast("long").as("ws"),
        sub.as("sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("sub")).as("subword_est"))
      .withColumn("fertility",
        when(col("ws_tokens") > 0,
          ExactRound.ratioRound(col("subword_est"), col("ws_tokens"), 6)))
  }

  /** Document-START templating rate per source: share of docs whose
    * first `prefixTokens` tokens are shared verbatim with at least
    * one OTHER doc of the same source — the boilerplate/template
    * signature (scraped headers, form letters, generated intros) that
    * whole-doc dedup (q24) misses when bodies diverge and winnowing
    * (q315) only finds as generic span overlap. Docs shorter than the
    * prefix are excluded (no well-defined template head).
    *
    * Determinism: ALL-INTEGER — the prefix join key is the literal
    * token string, counts are exact, the rate finishes through
    * [[ExactRound]].
    *
    * Scale: one tokenize pass; the shuffle is (source, prefix)-keyed
    * with map-side combine — the prefix is ≤ a few dozen bytes, the
    * TEXT never moves (at lake scale key it by xxhash64(prefix)
    * instead; same plan); |sources| rows out. */
  def templatePrefixRate(
      docs: DataFrame, prefixTokens: Int = 8): DataFrame = {
    require(prefixTokens >= 1, s"prefixTokens must be >= 1")
    val toks = docs
      .select(col("doc_id"), col("source"),
        split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= prefixTokens)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", slice(col("toks"), 1, prefixTokens)).as("pref"))
    val groups = toks.groupBy(col("source"), col("pref"))
      .agg(count(lit(1)).as("c"))
    groups.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L))
          .as("n_templated"),
        sum(when(col("c") >= 2, 1L).otherwise(0L))
          .as("n_template_groups"),
        max(col("c")).as("max_group"))
      .select(col("source"), col("n_docs"), col("n_templated"),
        col("n_template_groups"), col("max_group"),
        ExactRound.ratioRound(col("n_templated"), col("n_docs"), 4)
          .as("template_rate"))
  }

  /** Cross-source syndication rate: share of each source's docs whose
    * `prefixTokens`-token head ALSO appears in at least one OTHER
    * source — syndicated/mirrored content (wire copy, shared
    * boilerplate) flowing across crawl sources, the cross-source face
    * of [[templatePrefixRate]] and the cheap precursor to q98's
    * near-dup-based leakage audit (which needs the full LSH pass this
    * one's exact head join skips).
    *
    * Determinism: ALL-INTEGER — exact counts, [[ExactRound]] rate.
    *
    * Scale: one tokenize pass, a (source, prefix) partial aggregate,
    * then ONE prefix-keyed join of two aggregate-sized relations (the
    * text never moves; key by xxhash64(prefix) at lake scale);
    * |sources| rows out. */
  def syndicationRate(
      docs: DataFrame, prefixTokens: Int = 8): DataFrame = {
    require(prefixTokens >= 1, s"prefixTokens must be >= 1")
    val pref = docs
      .select(col("doc_id"), col("source"),
        split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= prefixTokens)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", slice(col("toks"), 1, prefixTokens)).as("pref"))
    val perSrc = pref.groupBy(col("source"), col("pref"))
      .agg(count(lit(1)).as("cs"))
    val tot = perSrc.groupBy(col("pref"))
      .agg(sum(col("cs")).as("ct"))
    perSrc.join(tot, "pref")
      .groupBy(col("source"))
      .agg(sum(col("cs")).as("n_docs"),
        sum(when(col("ct") > col("cs"), col("cs")).otherwise(0L))
          .as("n_syndicated"),
        sum(when(col("ct") > col("cs"), 1L).otherwise(0L))
          .as("n_shared_heads"))
      .select(col("source"), col("n_docs"), col("n_syndicated"),
        col("n_shared_heads"),
        ExactRound.ratioRound(col("n_syndicated"), col("n_docs"), 4)
          .as("syndication_rate"))
  }

  /** ln 2 as a shared literal — runtime `ln(2.0)` could differ by an
    * ulp between libm builds; a literal cannot. */
  private val Ln2 = 0.6931471805599453

  /** Per-document character-bigram entropy as a COMPRESSIBILITY
    * proxy, rolled up per source: H_bits = (ln m − Σc·ln c / m)/ln 2
    * over the doc's overlapping char 2-grams (m = len−1) — templated
    * or repetitive text compresses well and scores LOW, the cheap
    * stand-in for the gzip-ratio quality filter the CCNet/Gopher
    * pipelines run (no codec needed at query time). Reports per
    * source: doc count, mean bits (exact-integer finish), and the
    * share of docs more than `lowMarginBits` BELOW the corpus-wide
    * mean (the would-be filter rate) — a RELATIVE gate, so the
    * metric stays exercised at any corpus entropy level (the q290
    * fixed-threshold lesson).
    *
    * Determinism: bigram counts are exact; c·ln c terms round 12dp
    * into DECIMAL folds; per-doc H snaps to a 6dp floor-form long;
    * the low-gate compares exact integers (h6·N < ΣH6 − margin·N —
    * no division); the source means/shares finish through
    * [[ExactRound]] (exact integer rationals — never round() on a
    * double quotient).
    *
    * Scale: ONE corpus-chars shuffle ((doc, bigram) partial-agg
    * with map-side combine), then doc- and source-keyed map-side
    * rollups; the corpus mean is a 1-row broadcast; |sources| rows
    * out. */
  def charCompressibility(
      docs: DataFrame,
      lowMarginBits: Double = 0.1): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val grams = docs
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, length(text) - 1)," +
            " i -> substring(text, i, 2))")).as("bg"))
    val perDoc = grams
      .groupBy(col("doc_id"), col("source"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("m"),
        sum(round(dbl(col("c")) * log(dbl(col("c"))), 12).cast(dec12))
          .as("s"))
      .withColumn("h_bits",
        (log(dbl(col("m"))) - dbl(col("s")) / dbl(col("m"))) / lit(Ln2))
      .withColumn("h6",
        floor(col("h_bits") * lit(1e6) + lit(0.5)).cast("long"))
    val global = perDoc.agg(sum(col("h6")).as("gs"),
      count(lit(1)).as("gn"))
    val margin = (lowMarginBits * 1e6).toLong
    perDoc.crossJoin(broadcast(global))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("h6")).as("sh6"),
        sum(when(col("h6").cast(dec) * col("gn").cast(dec) <
            col("gs").cast(dec) - lit(margin).cast(dec) * col("gn").cast(dec),
          1L).otherwise(0L)).as("n_low"))
      .select(col("source"), col("n_docs"),
        ExactRound.ratioRound(col("sh6"),
          col("n_docs").cast(dec) * lit(1000000L).cast(dec), 6)
          .as("mean_bits"),
        ExactRound.ratioRound(col("n_low"), col("n_docs"), 4)
          .as("low_entropy_share"))
  }
}
