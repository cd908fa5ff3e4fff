package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions, all codegen'd builtins (no UDFs), designed
  * to be expressible 1:1 in the DuckDB oracle.
  *
  * Covers SURVEY §2.10's scalar-function families plus the training-data
  * pipeline additions (token counting, fingerprinting, shingling, quality
  * features, stopword-based language ID).
  */
object TextOps {

  /** Lowercased alphanumeric tokens; empty tokens dropped so leading/trailing
    * separators don't produce phantom tokens (C1's whitespace-token semantic,
    * reference: backend/chunker.py:31 fallback `len(text.split())`).
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(Tokenize(org.apache.spark.sql.GraftBridge.expression(text)))

  /** The declarative form [[Tokenize]] replaces — kept as the parity
    * reference for the ScalaCheck equivalence property.
    */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token estimate: counts GPT-style lexer matches
    * (letter runs, single digits, punctuation) — the cheap pre-tokenizer
    * approximation of a real BPE vocabulary (which would need the merges
    * table; the reference's HF tokenizer plays that role,
    * backend/chunker.py:19-31). Deliberately lookahead-free so Java and
    * RE2-family regex engines agree.
    */
  def bpeTokenEstimate(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"))

  /** Word n-gram shingles over the token array (dedup/similarity input). */
  def wordShingles(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(WordShingles(org.apache.spark.sql.GraftBridge.expression(toks), n))

  /** Declarative form [[WordShingles]] replaces — parity-test reference. */
  private[graft] def wordShinglesHof(toks: Column, n: Int): Column =
    when(size(toks) < n, array())
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")
        )
      )

  /** Bag-of-words document fingerprint: md5 over the sorted distinct token
    * set — stable under token reordering; the cheap exact-near-dup key.
    */
  def bagOfWordsFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** PII/URL scrub patterns, public so oracle SQL can inline the IDENTICAL
    * regex: both stay inside the syntax subset Java regex and RE2 agree on
    * (no backrefs, no lookaround, literal char classes). The URL class is
    * `[^ ]` (not `\s`) so the two engines can't disagree about what counts
    * as whitespace.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlRe   = "https?://[^ ]+"

  /** NANP-shaped phone numbers with an optional +country prefix:
    * `(555) 123-4567`, `555-123-4567`, `+1 555 123 4567`. Deliberately
    * CONSERVATIVE (three-digit exchange groups, explicit `[ .-]`
    * separator classes, no lookaround) so arbitrary numeric prose doesn't
    * scrub and both regex engines agree token-for-token; 2-digit
    * international area forms are out of scope (documented).
    */
  val PhoneRe = "(\\+[0-9]{1,3}[ .-]?)?(\\([0-9]{3}\\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}"

  /** Dotted-quad IPv4 with strict 0-255 octets and ASCII word boundaries
    * (`\b` is RE2-portable).
    */
  val Ipv4Re = "\\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\\b"

  /** Text scrubbing for training corpora: URLs first (an email-shaped
    * userinfo inside a URL must scrub as part of the URL), then emails.
    * Pure codegen'd expressions — no shuffle, linear in bytes.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlRe, "<URL>"), EmailRe, "<EMAIL>")

  /** The full scrub battery: URL → email → IPv4 → phone, in that order
    * (URLs may CONTAIN email/IP shapes, so they go first; IPs before
    * phones so a dotted quad can't half-match as a phone fragment). Each
    * kind gets its own tag — span-level replacement, the redaction shape
    * release pipelines actually emit.
    */
  def scrubPiiAll(text: Column): Column =
    regexp_replace(
      regexp_replace(scrubPii(text), Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Fused counts + scrub in one native pass ([[PiiScan]]): struct
    * (n_urls, n_emails, n_ips, n_phones, scrubbed). Bit-identical to
    * composing [[piiCounts]] + [[scrubPiiAll]] (parity property), at a
    * quarter of the UTF8String round trips.
    */
  def piiScan(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      PiiScan(org.apache.spark.sql.GraftBridge.expression(text)))

  /** Per-kind PII hit counts over the RAW text (each pattern evaluated
    * independently — the audit view that decides whether a document is
    * scrub-and-keep or drop-entirely). Struct (n_urls, n_emails, n_ips,
    * n_phones). Declarative reference form — the hot path is [[piiScan]].
    */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(UrlRe)).cast("long").as("n_urls"),
    regexp_count(text, lit(EmailRe)).cast("long").as("n_emails"),
    regexp_count(text, lit(Ipv4Re)).cast("long").as("n_ips"),
    regexp_count(text, lit(PhoneRe)).cast("long").as("n_phones"),
  )

  /** Filename sanitization chain (reference: backend/ingestion.py:27-55):
    * basename → strip control chars → replace reserved chars with '_' →
    * cap at 200 chars → empty fallback "unnamed_file". Pure expressions.
    */
  def sanitizeFilename(name: Column): Column = {
    val base     = element_at(split(name, "[/\\\\]"), -1)
    val noCtrl   = regexp_replace(base, "[\\x00-\\x1f\\x7f]", "")
    val replaced = regexp_replace(noCtrl, "[<>:\"/\\\\|?*]", "_")
    val capped   = substring(trim(replaced), 1, 200)
    when(capped.isNull || capped === "", lit("unnamed_file")).otherwise(capped)
  }

  /** Unicode text normalization — the cleanup every web-corpus pipeline
    * runs BEFORE dedup/tokenization (CCNet/C4 lineage: the same document
    * fetched twice must hash identically even when one copy carries
    * zero-width joiners, NBSP or curly quotes). Fixed, documented rewrite
    * chain, applied in order:
    *
    *   1. zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) removed;
    *   2. control characters removed (except \n and \t);
    *   3. NBSP → space, tab → space;
    *   4. curly double/single quotes and low-9 quotes → straight;
    *   5. en/em dash → '-', ellipsis → '...';
    *   6. runs of spaces → one space, spaces hugging a newline dropped,
    *      3+ newlines → exactly 2 (paragraph break), outer trim.
    *
    * Every rewrite is an explicit character class — no locale tables, no
    * NFC/NFKC dependency — so a SQL engine replays the chain byte for
    * byte and the plan stays one codegen'd projection (regexp_replace
    * chain, no UDF).
    */
  /** The ordered (pattern -> replacement) chain behind [[normalizeText]],
    * public so the DuckDB oracle is built from the SAME strings -- every
    * pattern is valid and equivalent in both java.util.regex and RE2
    * (\\x{hhhh} escapes for invisibles, literal chars for the visible
    * typography, no lookaround, no locale classes).
    */
  val NormalizeChain: Seq[(String, String)] = Seq(
    "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]" -> "", // zero-width + BOM
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]" -> "", // control (keep \n \t)
    "[\\x{00A0}\t]" -> " ", // NBSP and tab to space
    "[\u201C\u201D\u201E]" -> "\"", // curly/low-9 double quotes
    "[\u2018\u2019\u201A]" -> "'", // curly/low-9 single quotes
    "[\u2013\u2014]" -> "-", // en/em dash
    "\u2026" -> "...", // ellipsis
    "  +" -> " ", // space runs
    " ?\n ?" -> "\n", // spaces hugging a newline
    "\n\n\n+" -> "\n\n", // 3+ newlines = one paragraph break
  )

  def normalizeText(text: Column): Column =
    trim(NormalizeChain.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) },
      " \n\t")

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small + fixed so the oracle can inline them.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una", "por", "con"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que", "pour", "sur"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "eine"),
  )

  /** Count of distinct tokens that appear in `words` (language-ID feature). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(array_intersect(toks, array(words.map(lit): _*)))

  /** Stopword-voting language ID: argmax over [[stopwords]] hit counts with a
    * deterministic tie-break (lexicographic language code); no hits → "und"
    * (undetermined), mirroring fasttext-style ID at heuristic fidelity.
    */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over pre-materialized tokens: `tokens()` is an interpreted
    * higher-order function with no CSE, and this expression references the
    * token array once per language — pass an attribute (a prior projection's
    * alias) so tokenization runs once per row, not |langs| times.
    */
  def langIdFromTokens(toks: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val hits  = langs.map(l => l -> stopwordHits(toks, stopwords(l)))
    val best  = greatest(hits.map(_._2): _*)
    val pick = hits.foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === best && h > 0, lit(l)).otherwise(acc)
    }
    // foldRight + when-chain picks the FIRST (lexicographically smallest)
    // language reaching the max, because earlier whens win.
    pick
  }

  /** Per-document code-switching profile — the multilingual-cleanup
    * signal language-ID alone misses: a document whose SENTENCES disagree
    * about their language (translations pasted together, boilerplate in
    * another tongue, scraped comment sections) pollutes per-language
    * corpora even when the doc-level majority vote looks clean. Composes
    * the [[graft.operators.Dedup.dedupSentences]] splitter with
    * per-sentence [[langIdFromTokens]]:
    *
    *  - `n_sents`: non-blank sentences;
    *  - `n_lang_sents`: sentences with a confident (non-'und') call;
    *  - `majority_lang`: the plurality language (ties → lexicographically
    *    smallest, the langId tie rule);
    *  - `switch_ratio`: fraction of confident sentences DISAGREEING with
    *    the majority — 0 = monolingual, NULL when nothing is confident.
    *
    * Plan: one narrow explode + per-sentence projection, then id-keyed
    * aggregates (the per-(id, lang) count table is ≤ |langs| rows per
    * doc); no window, no collect.
    */
  def codeSwitchStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val names = docs.columns.toSet
    Seq("n_sents", "n_lang_sents", "majority_lang", "switch_ratio")
      .foreach(c => require(!names.contains(c), s"input already has a '$c' column"))
    val sentinel = "\u0001"
    val sentsCol = split(
      regexp_replace(coalesce(col(textCol), lit("")), "([.!?])[ \t\r\n]+", "$1" + sentinel),
      sentinel)
    val langs = docs
      .select(col(idCol).as("__id"), explode(sentsCol).as("__sent"))
      .where(length(trim(col("__sent"))) > 0)
      .select(col("__id"), tokens(col("__sent")).as("__t"))
      .select(col("__id"), langIdFromTokens(col("__t")).as("__lang"))
    val tot = langs.groupBy(col("__id")).agg(count(lit(1)).as("n_sents"))
    val perLang = langs.where(col("__lang") =!= "und")
      .groupBy(col("__id"), col("__lang")).agg(count(lit(1)).as("__c"))
    val agg = perLang.groupBy(col("__id")).agg(
      sum(col("__c")).as("n_lang_sents"),
      min(struct((-col("__c")).as("n"), col("__lang").as("l"))).as("__m"))
    tot.join(agg, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        col("n_sents"),
        coalesce(col("n_lang_sents"), lit(0L)).as("n_lang_sents"),
        col("__m").getField("l").as("majority_lang"),
        when(col("n_lang_sents") > 0,
          lit(1.0) - (-col("__m").getField("n")).cast("double") / col("n_lang_sents"))
          .as("switch_ratio"))
  }

  /** Quality features in one struct: length, token stats, punctuation and
    * alpha ratios, plus a composite [0,1] score — the reference-free analog
    * of heuristic corpus-quality filters (Gopher/C4-style rules).
    */
  def qualityFeatures(text: Column): Column = qualityFeatures(text, tokens(text))

  /** Quality features over pre-materialized tokens (same no-CSE rationale as
    * [[langIdFromTokens]]: this struct references the token array three
    * times, so inlining `tokens()` would tokenize every row three times).
    */
  def qualityFeatures(text: Column, toks: Column): Column = {
    val nChars   = length(text)
    val nToks    = size(toks)
    // sum of token lengths = length of the separator-less join — codegen'd,
    // unlike an interpreted aggregate() lambda
    val avgLen   = when(nToks > 0, length(concat_ws("", toks)).cast("double") / nToks).otherwise(lit(0.0))
    val punct    = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
    val punctR   = when(nChars > 0, punct.cast("double") / nChars).otherwise(lit(0.0))
    val alpha    = length(regexp_replace(text, "[^A-Za-z]", ""))
    val alphaR   = when(nChars > 0, alpha.cast("double") / nChars).otherwise(lit(0.0))
    val allStops = stopwords.values.flatten.toSeq.distinct.sorted
    val stopR    = when(nToks > 0, stopwordHits(toks, allStops).cast("double") / nToks).otherwise(lit(0.0))
    val score =
      when(nToks === 0, lit(0.0)).otherwise(
        least(lit(1.0), nToks.cast("double") / 20) * lit(0.5)
          + least(lit(1.0), alphaR * lit(1.25)) * lit(0.3)
          + least(lit(1.0), stopR * lit(5.0)) * lit(0.2)
      )
    struct(
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      avgLen.as("avg_token_len"),
      punctR.as("punct_ratio"),
      alphaR.as("alpha_ratio"),
      stopR.as("stopword_ratio"),
      score.as("quality_score"),
    )
  }

  /** The Gopher rule battery (Rae et al. 2021, appendix A1.1) — the full
    * per-document heuristic filter most modern web-corpus pipelines start
    * from, complementing [[qualityFeatures]] (a soft score) with the
    * paper's hard gates:
    *  - 50 ≤ word count ≤ 100 000 (whitespace words, not alnum tokens);
    *  - 3 ≤ mean word length ≤ 10;
    *  - symbol-to-word ratio ≤ 0.1 (`#` and ellipsis);
    *  - < 90% of lines start with a bullet, < 30% end with an ellipsis;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≥ 2 distinct members of the 8-stopword probe set
    *    {the, be, to, of, and, that, have, with} appear as tokens.
    *
    * A pure per-row projection (three chained Projects, no shuffle) that
    * composes into the scan at any corpus size, 1:1 reproducible in DuckDB.
    * Appends `outCol` as a struct. Gate comparisons run on the RAW doubles
    * (IEEE division of identical operands is engine-portable); the emitted
    * ratio columns are for observability and should be rounded by the
    * caller if hashed. Empty documents fail the word-count gate and emit
    * zero ratios rather than nulls.
    */
  def withGopherQuality(df: DataFrame, textCol: String, outCol: String = "gopher"): DataFrame = {
    val names = df.columns.toSet
    val temps = Seq("__gq_w", "__gq_l", "__gq_nw", "__gq_nl", "__gq_len", "__gq_sym",
      "__gq_bul", "__gq_ell", "__gq_alpha", "__gq_stops",
      "__gq_mean", "__gq_symr", "__gq_bulr", "__gq_ellr", "__gq_alphar")
    (temps :+ outCol).foreach(c => require(!names.contains(c), s"input already has a '$c' column"))
    val text  = col(textCol)
    val probe = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // stage 1 — tokenizations run ONCE; higher-order filters over them and
    // every count are materialized here so later stages reference cheap
    // attributes. (Three Projects that Catalyst keeps separate: CollapseProject
    // refuses to inline a non-cheap alias referenced more than once — the same
    // no-CSE rationale as qualityFeatures' pre-materialized-tokens overload.
    // The single-Column formulation of this battery re-evaluated the splits
    // ~12× per row and was ~10× slower end-to-end.)
    val bases = df
      .withColumn("__gq_w", filter(split(text, "\\s+"), w => length(w) > 0))
      .withColumn("__gq_l", split(text, "\n"))
      .select(
        col("*"),
        size(col("__gq_w")).as("__gq_nw"),
        size(col("__gq_l")).as("__gq_nl"),
        length(concat_ws("", col("__gq_w"))).as("__gq_len"),
        regexp_count(text, lit("#|\\.\\.\\.|…")).as("__gq_sym"),
        size(filter(col("__gq_l"), l => substring(ltrim(l), 1, 1).isin("•", "‣", "▪", "-", "*"))).as("__gq_bul"),
        size(filter(col("__gq_l"), l => endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…")))).as("__gq_ell"),
        size(filter(col("__gq_w"), w => w.rlike("[a-zA-Z]"))).as("__gq_alpha"),
        size(array_intersect(array_distinct(tokens(text)), array(probe.map(lit): _*))).as("__gq_stops"),
      )
    // stage 2 — ratios from the counts (cheap arithmetic over attributes)
    val nW = col("__gq_nw")
    val nL = col("__gq_nl")
    val ratios = bases.select(
      col("*"),
      when(nW > 0, col("__gq_len").cast("double") / nW).otherwise(lit(0.0)).as("__gq_mean"),
      when(nW > 0, col("__gq_sym").cast("double") / nW).otherwise(lit(0.0)).as("__gq_symr"),
      when(nL > 0, col("__gq_bul").cast("double") / nL).otherwise(lit(0.0)).as("__gq_bulr"),
      when(nL > 0, col("__gq_ell").cast("double") / nL).otherwise(lit(0.0)).as("__gq_ellr"),
      when(nW > 0, col("__gq_alpha").cast("double") / nW).otherwise(lit(0.0)).as("__gq_alphar"),
    )
    // stage 3 — the combined gate over ratio attributes, struct assembly
    val pass = nW >= 50 && nW <= 100000 &&
      col("__gq_mean") >= 3.0 && col("__gq_mean") <= 10.0 &&
      col("__gq_symr") <= 0.1 && col("__gq_bulr") < 0.9 && col("__gq_ellr") < 0.3 &&
      col("__gq_alphar") >= 0.8 && col("__gq_stops") >= 2
    ratios
      .withColumn(outCol, struct(
        nW.as("n_words"),
        col("__gq_mean").as("mean_word_len"),
        col("__gq_symr").as("symbol_ratio"),
        col("__gq_bulr").as("bullet_line_ratio"),
        col("__gq_ellr").as("ellipsis_line_ratio"),
        col("__gq_alphar").as("alpha_word_ratio"),
        col("__gq_stops").as("n_stop_present"),
        pass.as("gopher_pass"),
      ))
      .drop(temps: _*)
  }

  /** Dedup-key normalization: lowercase, every run of characters that is
    * neither a Unicode letter nor a Unicode digit → one space, trim. The
    * standard MinHash/exact-dedup canonicalization (case, punctuation and
    * whitespace differences stop distinguishing copies); feed the result to
    * [[Dedup.exactKey]] or the shingle pipeline. Unicode-aware on purpose:
    * an ASCII-only class (`[^a-z0-9]`) would normalize every non-Latin
    * document (Chinese, Russian, Arabic, …) to the empty string, and an
    * exact-dedup pass over that key would collapse ALL such documents into
    * one "duplicate" group — a mass-delete of non-English content. Callers
    * keying on this should still guard `length(key) > 0` (emoji-only /
    * punctuation-only docs normalize to empty legitimately). Pure codegen'd
    * expressions, 1:1 expressible in the oracle — both Java regex and
    * DuckDB's RE2 accept `\p{L}` / `\p{N}`.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "))

  /** C4-style heuristic line cleaning (Raffel et al. 2020 §2.2, the
    * rules every web-corpus pipeline reuses): keep a line iff
    *  - it has ≥ `minWords` whitespace-separated words,
    *  - (optionally) it ends in terminal punctuation (`.!?"'`),
    *  - it contains no blocklisted phrase (case-insensitive) — the
    *    "javascript / lorem ipsum / cookie policy" rule,
    *  - it contains no `{` (C4 drops brace-bearing pages as code; applied
    *    per line here so one code block doesn't void a document).
    *
    * Entirely higher-order expressions over `split(text, '\n')` — a pure
    * per-row projection: no explode, no shuffle, linear in bytes at any
    * corpus size, and the filter composes into the scan's projection.
    *
    * Returns struct(cleaned, n_lines, n_kept); document-level gates (≥ k
    * surviving lines, kept ratio) compose downstream from the counts.
    */
  def c4LineClean(
      text: Column,
      minWords: Int = 3,
      badPhrases: Seq[String] = Seq("lorem ipsum", "javascript", "cookie policy", "terms of use"),
      requireTerminal: Boolean = false,
      dropBraces: Boolean = true,
  ): Column = {
    require(minWords >= 0, s"minWords must be nonnegative: $minWords")
    val lines = split(text, "\n")
    def keepLine(l: Column): Column = {
      val t = trim(l)
      // word count = number of maximal \S+ runs. NOT size(split(t,"\s+")):
      // trim strips only ' ' (a trailing \r from CRLF corpora or a leading
      // \t survives it) and split keeps the empty boundary tokens those
      // produce, inflating the count — the oracle counts non-empty tokens
      // only. regexp_count is exact under any whitespace AND allocates no
      // array (this runs per line inside an interpreted HOF lambda).
      val words  = regexp_count(t, lit("\\S+"))
      val low    = lower(t)
      val checks = Seq(words >= minWords) ++
        badPhrases.map(p => !low.contains(p.toLowerCase(java.util.Locale.ROOT))) ++
        (if (dropBraces) Seq(!t.contains("{")) else Nil) ++
        (if (requireTerminal) Seq(t.rlike("[.!?\"']$")) else Nil)
      checks.reduce(_ && _)
    }
    val kept = filter(lines, keepLine(_))
    struct(
      array_join(kept, "\n").as("cleaned"),
      size(lines).as("n_lines"),
      size(kept).as("n_kept"),
    )
  }

  /** Corpus-self-trained bigram LM surprisal — the CCNet/KenLM-style quality
    * signal: score(doc) = mean −ln P(w_i | w_{i−1}) under add-k-smoothed
    * bigram statistics of the corpus ITSELF. Boilerplate scores low
    * (predictable), gibberish and out-of-domain text score high; filtering
    * or curriculum-bucketing on this column is the classic web-corpus
    * cleanup step.
    *
    * Fully relational, nothing driver-side: tokens explode (position via
    * posexplode), the previous token comes from a per-DOC window (a window
    * partition never holds more than one document's tokens), bigram and
    * context counts are map-side-combined groupBys, and scoring joins the
    * pair stream to the two count tables — equi-joins that stay
    * co-partitioned by key at any corpus size. The distinct-vocabulary
    * scalar rides along as a broadcast one-row frame. Spark does not CSE
    * the pair subtree across the count leg and the scoring leg, so the
    * tokenize+explode evaluates twice; if that scan dominates at corpus
    * scale, materialize the tokenized pairs once (checkpoint or table) and
    * feed this the materialized frame.
    *
    * P(w|prev) = (c(prev,w) + k) / (c(prev) + k·(V+1)), c(prev) = unigram
    * count (standard backoff-free approximation), V = distinct corpus
    * token count, +1 = the OOV bucket. Docs with < 2 tokens have no bigram
    * and drop out.
    *
    * Output: (idCol, n_pairs, avg_nll).
    */
  /** Script/style/comment removal — the "noise" pass shared by
    * [[htmlText]] and [[htmlAnchorChars]] (anchor extraction must run on
    * the noise-free page or a script's synthetic `</a>` would truncate
    * real anchors).
    */
  private def htmlStripNoise(html: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " "),
        "(?is)<style\\b[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** The 5 named entities every real-world page uses (plus the numeric
    * apostrophe) — decoded AFTER tag stripping so text that spells out
    * markup (`&lt;div&gt;`) stays text. `&amp;` is last or it would
    * double-decode. Numeric character references beyond `&#39;` are left
    * as-is (declared: full NCR decode needs codepoint synthesis neither
    * engine's SQL surface expresses portably).
    */
  private def htmlDecodeEntities(c: Column): Column = {
    val steps = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
  }

  /** HTML → plain text (the trafilatura/jusText-shaped extraction step a
    * crawl pipeline runs between the WARC scan and quality filtering):
    * drop script/style/comments, turn block-level tags into newlines so
    * paragraph structure survives, strip remaining tags, decode the
    * common entities, and normalize whitespace (horizontal runs → one
    * space, blank-line runs → one newline). Pure codegen'd per-row
    * projection — no explode, no shuffle, linear in bytes; both Java
    * regex and DuckDB's RE2 accept every pattern used, so the whole
    * chain is replayable by the SQL oracle. Tags whose attributes contain
    * a raw `>` mis-split (declared — regex-level extraction; a
    * spec-conformant parser is the [[graft.sources.BinaryExtractors]]
    * territory, not a per-row Column).
    */
  def htmlText(html: Column): Column = {
    val blocks = regexp_replace(htmlStripNoise(html),
      "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|blockquote|pre|section|article|header|footer|nav|form)\\b[^>]*>", "\n")
    val noTags  = regexp_replace(blocks, "<[^>]+>", " ")
    val decoded = htmlDecodeEntities(noTags)
    val hws     = regexp_replace(decoded, "[ \\t\\r\\f]+", " ")
    val nl      = regexp_replace(hws, " *\\n *", "\n")
    // trim() strips only spaces in both engines — newline edges need the
    // explicit anchor pattern
    regexp_replace(trim(regexp_replace(nl, "\\n{2,}", "\n")), "^\\n+|\\n+$", "")
  }

  /** Characters of visible anchor text on the page — the numerator of the
    * link-density boilerplate signal (jusText's core feature: nav/footer
    * blocks are mostly links). Anchor inner HTML via regexp_extract_all
    * over the noise-free page, then the same strip/decode/collapse chain
    * as [[htmlText]] per anchor. HOF transform+aggregate over the
    * (small) anchor list — still a per-row projection.
    */
  def htmlAnchorChars(html: Column): Column = {
    val anchors = regexp_extract_all(
      htmlStripNoise(html), lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1))
    val perAnchor = transform(anchors, a =>
      length(trim(regexp_replace(
        htmlDecodeEntities(regexp_replace(a, "<[^>]+>", " ")),
        "\\s+", " "))).cast("long"))
    aggregate(perAnchor, lit(0L), (acc, x) => acc + x)
  }

  /** Link density in basis points: 10000 · anchor_chars / text_chars
    * (0 for empty pages). Integer output so the gate threshold is
    * engine-exact.
    */
  def htmlLinkDensityBp(html: Column): Column = {
    val total = length(htmlText(html))
    when(total === 0, lit(0L))
      .otherwise(floor(lit(10000L) * htmlAnchorChars(html) / total).cast("long"))
  }

  def bigramSurprisal(
      docs: DataFrame, idCol: String, textCol: String, addK: Double = 1.0,
      materialize: Boolean = false,
  ): DataFrame = {
    require(addK > 0, s"addK must be positive: $addK")
    // Spark does not CSE the token subtree across the four consumers
    // (pairs window, bigram counts, context counts, vocab scalar), so the
    // tokenize+explode scan evaluates up to 4x. `materialize = true`
    // localCheckpoints the token and pair frames ONCE (eager, spills to
    // disk) — the right trade whenever the corpus scan dominates; blocks
    // stay pinned for the session (the price of reuse), so leave it off
    // for one-shot small inputs.
    val toks0 = docs.select(col(idCol).as("__id"),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__w")))
    val toks = if (materialize) toks0.localCheckpoint(true) else toks0
    val pairs0 = toks
      .withColumn("__prev",
        lag(col("__w"), 1).over(org.apache.spark.sql.expressions.Window.partitionBy("__id").orderBy("__pos")))
      .where(col("__prev").isNotNull)
    val pairs = if (materialize) pairs0.localCheckpoint(true) else pairs0
    val bigrams  = pairs.groupBy("__prev", "__w").agg(count(lit(1)).cast("double").as("__cbw"))
    val contexts = toks.groupBy(col("__w").as("__prev")).agg(count(lit(1)).cast("double").as("__cp"))
    val vocab    = toks.agg(countDistinct(col("__w")).cast("double").as("__v"))
    pairs
      .join(bigrams, Seq("__prev", "__w"))
      .join(contexts, Seq("__prev"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nll", -log((col("__cbw") + addK) / (col("__cp") + (col("__v") + 1) * addK)))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_pairs"), avg(col("__nll")).as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram surprisal — the smoothing KenLM
    * actually ships (Kneser & Ney 1995; the interpolated form of Chen &
    * Goodman 1999 §2.7), as the principled upgrade over
    * [[bigramSurprisal]]'s add-k: add-k hands unseen mass out
    * proportionally to UNIGRAM frequency, which over-scores tokens like
    * "Francisco" that are frequent but occur in one context; KN's
    * continuation probability N1+(·w)/N1+(··) hands it out by how many
    * DISTINCT contexts a word follows. Self-trained (the corpus scored
    * under its own statistics — the same contract as [[bigramSurprisal]]),
    * so every scored pair is observed and the closed form applies exactly,
    * no OOV floor needed:
    *
    *   P(w|u) = (c(u,w) − D)/c(u·) + D·N1+(u·)/c(u·) · N1+(·w)/N1+(··)
    *
    * with D ∈ (0,1) the absolute discount (0.75 = the Chen–Goodman
    * default), c(u·) the exact pair-context total (not the unigram
    * approximation — doc-final tokens are no one's context), N1+(u·) the
    * distinct continuations of u, N1+(·w) the distinct contexts of w and
    * N1+(··) the bigram type total. P sums to 1 over the vocabulary per
    * context (the discounted mass is exactly what interpolation
    * redistributes).
    *
    * Plan: [[bigramSurprisal]]'s relational shape — posexplode, one
    * per-doc lag window, then three count tables off the pair stream
    * (bigram types+counts; per-context total + distinct continuations in
    * ONE groupBy; per-word distinct contexts off the TYPE table, which is
    * already deduplicated) and a broadcast one-row type-total scalar. The
    * same no-CSE caveat applies; `materialize` checkpoints the token and
    * pair frames once. The trade is memory for recompute: checkpoint
    * blocks are UNEVICTABLE storage, so on memory-tight executors they
    * crowd the unified pool until a downstream aggregation can't acquire
    * its first page (the 512 MB lowmem tier in SCALE.md measured exactly
    * that — AGGREGATE_OUT_OF_MEMORY at 16 MB/task with materialize=true,
    * clean external-sort completion with false). Default false is the
    * safe side; turn it on when the executor has storage headroom.
    *
    * Output: (idCol, n_pairs, kn_avg_nll).
    */
  def knBigramSurprisal(
      docs: DataFrame, idCol: String, textCol: String, discount: Double = 0.75,
      materialize: Boolean = false,
  ): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1): $discount")
    val toks0 = docs.select(col(idCol).as("__id"),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__w")))
    val toks = if (materialize) toks0.localCheckpoint(true) else toks0
    val pairs0 = toks
      .withColumn("__prev",
        lag(col("__w"), 1).over(org.apache.spark.sql.expressions.Window.partitionBy("__id").orderBy("__pos")))
      .where(col("__prev").isNotNull)
    val pairs = if (materialize) pairs0.localCheckpoint(true) else pairs0
    val bigrams0 = pairs.groupBy("__prev", "__w").agg(count(lit(1)).cast("double").as("__cbw"))
    // four consumers; types-sized, not pair-sized — materialize with the
    // same session-pinning trade the toks/pairs frames document
    val bigrams = if (materialize) bigrams0.localCheckpoint(true) else bigrams0
    // c(u·) and N1+(u·) come off the TYPE table (Σ over types of a context
    // = its pair total; its row count = its distinct continuations), so no
    // countDistinct pass over the pair stream is needed
    val ctx = bigrams.groupBy("__prev").agg(
      sum(col("__cbw")).as("__cu"), count(lit(1)).cast("double").as("__n1u"))
    val n1w   = bigrams.groupBy("__w").agg(count(lit(1)).cast("double").as("__n1w"))
    val types = bigrams.agg(count(lit(1)).cast("double").as("__tt"))
    // ALL model arithmetic on the types-sized table — the corpus-sized
    // pair stream joins the finished score exactly once (then one by-id
    // aggregate), instead of dragging through three model joins
    val typeScores = bigrams
      .join(ctx, Seq("__prev"))
      .join(n1w, Seq("__w"))
      .crossJoin(broadcast(types))
      .withColumn("__nll", -log((col("__cbw") - discount) / col("__cu")
        + lit(discount) * col("__n1u") / col("__cu") * (col("__n1w") / col("__tt"))))
      .select("__prev", "__w", "__nll")
    pairs
      .join(typeScores, Seq("__prev", "__w"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_pairs"), avg(col("__nll")).as("kn_avg_nll"))
  }

  /** Deterministic fill-in-the-middle transform (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * the training-data prep that teaches causal models infilling: a
    * hash-selected fraction of documents is rewritten PSM-style,
    *
    *   `<|fim_prefix|>` prefix `<|fim_suffix|>` suffix `<|fim_middle|>` middle
    *
    * so the model learns to emit the middle conditioned on both sides.
    * Like [[mlmMask]], every decision is the portable hash of the doc id
    * — rerunning, resharding or regenerating yields byte-identical
    * examples and the oracle replays each choice:
    *
    *  - transform iff bucket(id) < fimBp AND length ≥ minChars;
    *  - cut points: lo = 1 + h(2id+1) mod ⌊len/2⌋ (prefix never empty,
    *    at most half), hi = lo + 1 + h(2id+2) mod (len − lo − 1)
    *    (middle and suffix never empty).
    *
    * Pure per-row projection — no explode, no shuffle, one scan.
    * Output: (idCol, fim, n_prefix, n_middle, n_suffix, text_out);
    * span counts are NULL on untransformed rows.
    */
  def fimTransform(
      docs: DataFrame, idCol: String, textCol: String,
      fimBp: Int = 5000, minChars: Int = 20,
  ): DataFrame = {
    require(fimBp >= 0 && fimBp <= 10000, s"fimBp out of range: $fimBp")
    require(minChars >= 4, s"minChars must leave room for three non-empty parts: $minChars")
    import graft.operators.Sampling
    val t   = coalesce(col(textCol), lit("")) // NULL text = empty doc, passes through untransformed
    val len = length(t).cast("long")
    val fim = (Sampling.bucket(col(idCol).cast("long")) < fimBp) && (len >= minChars)
    val lo  = lit(1L) + pmod(Sampling.portableHash(col(idCol).cast("long") * 2 + 1),
      (len / 2).cast("long")) // `/` is double division on Columns — floor back to the SQL `//`
    val hi  = lo + 1L + pmod(Sampling.portableHash(col(idCol).cast("long") * 2 + 2), len - lo - 1)
    val psm = concat(
      lit("<|fim_prefix|>"), t.substr(lit(1L), lo),
      lit("<|fim_suffix|>"), t.substr(hi + 1, len - hi),
      lit("<|fim_middle|>"), t.substr(lo + 1, hi - lo))
    docs.select(
      col(idCol),
      fim.as("fim"),
      when(fim, lo).as("n_prefix"),
      when(fim, hi - lo).as("n_middle"),
      when(fim, len - hi).as("n_suffix"),
      when(fim, psm).otherwise(t).as("text_out"))
  }

  /** Deterministic MLM masking (the BERT 80/10/10 recipe, Devlin 2019
    * §3.1) — training-data prep for masked-LM objectives, made
    * REPRODUCIBLE: every selection is the portable hash of
    * (doc id, token position), so re-running, resharding, or regenerating
    * the corpus yields byte-identical masked examples (and the DuckDB
    * oracle can replay every choice — no RNG state anywhere).
    *
    * Per position, with r = bucket(id·100000 + pos) ∈ [0, 10000):
    *   r < 8·maskBp/10          → `[MASK]`
    *   r < 9·maskBp/10          → a hash-picked token from the SAME doc
    *                              (in-doc multiset stands in for the
    *                              vocab draw — declared simplification,
    *                              keeps the op shuffle-free)
    *   r < maskBp               → kept verbatim but counted masked
    *   else                     → untouched.
    * Default maskBp = 1500 (15%).
    *
    * Plan shape: pure per-row HOF projections over the token array — NO
    * shuffle, NO explode; the corpus is scanned once and the output is
    * one row per doc. Position keys use id·100000 + pos, so ids must stay
    * under ~9·10¹³ and docs under 100k tokens for key uniqueness (both
    * far beyond the corpus contract; documented, not checked per row).
    *
    * Output: (idCol, n_tokens, n_masked, n_mask_tok, n_random,
    * corrupted_md5).
    */
  def mlmMask(
      docs: DataFrame, idCol: String, textCol: String, maskBp: Int = 1500,
  ): DataFrame = {
    require(maskBp >= 0 && maskBp <= 10000, s"maskBp out of range: $maskBp")
    val m = org.apache.spark.sql.GraftBridge.column(MlmMask(
      org.apache.spark.sql.GraftBridge.expression(col(idCol).cast("long")),
      org.apache.spark.sql.GraftBridge.expression(col(textCol)), maskBp))
    docs.select(
      col(idCol), m.getField("n_tokens").as("n_tokens"),
      m.getField("n_masked").as("n_masked"), m.getField("n_mask_tok").as("n_mask_tok"),
      m.getField("n_random").as("n_random"), m.getField("corrupted_md5").as("corrupted_md5"))
  }

  /** Declarative form [[MlmMask]] replaces — parity-test reference. */
  private[graft] def mlmMaskHof(
      docs: DataFrame, idCol: String, textCol: String, maskBp: Int = 1500,
  ): DataFrame = {
    require(maskBp >= 0 && maskBp <= 10000, s"maskBp out of range: $maskBp")
    require(!docs.columns.contains("__toks"), "input already has a '__toks' column")
    import graft.operators.Sampling
    val bpMask = maskBp * 8 / 10
    val bpRand = maskBp * 9 / 10
    val toks   = tokens(col(textCol))
    val n      = size(col("__toks"))
    val key    = (i: Column) => col(idCol).cast("long") * 100000L + i
    val r      = (i: Column) => Sampling.bucket(key(i))
    val idx    = when(n === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), n - 1))
    docs
      .withColumn("__toks", toks)
      .select(
        col(idCol),
        n.cast("long").as("n_tokens"),
        size(filter(idx, i => r(i.cast("long")) < maskBp)).cast("long").as("n_masked"),
        size(filter(idx, i => r(i.cast("long")) < bpMask)).cast("long").as("n_mask_tok"),
        size(filter(idx, i => {
          val ri = r(i.cast("long")); ri >= bpMask && ri < bpRand
        })).cast("long").as("n_random"),
        md5(concat_ws(" ", transform(idx, i => {
          val il = i.cast("long")
          val ri = r(il)
          when(ri < bpMask, lit("[MASK]"))
            .when(ri < bpRand, element_at(col("__toks"),
              (pmod(Sampling.portableHash(key(il) + 7919L), n.cast("long")) + 1).cast("int")))
            .otherwise(element_at(col("__toks"), i + 1))
        }))).as("corrupted_md5"),
      )
  }

  /** Corpus-self-trained INTERPOLATED trigram surprisal — the KenLM-shaped
    * upgrade over [[bigramSurprisal]] (CCNet filters on exactly this class
    * of model; Jelinek-Mercer interpolation per Chen & Goodman 1999):
    *
    *   p(w|u,v) = λ3·p̂3(w|u,v) + λ2·p̂2(w|v) + λ1·p̂1(w)
    *
    * with each p̂ₙ add-k smoothed over the corpus's own counts (numerators
    * +k, denominators +(V+1)k, V = distinct tokens — the same convention
    * as the bigram form so the two scores are comparable). Per-doc output
    * is the mean NLL over positions with two predecessors.
    *
    * Plan shape: ONE tokenize+explode scan; lag(1) and lag(2) share one
    * (doc, pos) window partitioning; five count tables (trigram, bigram
    * context, bigram, unigram — used twice — and the (N, V) scalar) join
    * back by their n-gram keys. The trigram/bigram tables are O(corpus
    * tokens) — they SHUFFLE-join (no driver state, no broadcast of
    * unbounded tables); the scalar rides a broadcast. This is the honest
    * distributed LM-scoring shape: every stage is a map-side-combined
    * count or an equi-join, nothing quadratic, nothing collected.
    */
  /** Corpus vocabulary profile — the Zipf/type-token health metrics every
    * corpus release reports (Heaps-law curve sanity, hapax mass, head
    * concentration): N (tokens), V (types), hapax/dis legomena counts,
    * the token mass of the top-`headK` types, and an md5 over the
    * (freq desc, word) head list so the exact head set is value-checked.
    * A near-1 hapax ratio screams OCR noise / encoding damage; a
    * top-head mass far above ~40% screams boilerplate duplication —
    * cheap corpus-level tripwires before any per-doc filter runs.
    *
    * ONE tokenize scan → map-side-combined word counts → all metrics fold
    * out of the O(V) count table (conditional aggs + a TakeOrdered head);
    * nothing per-doc shuffles.
    */
  def vocabProfile(docs: DataFrame, textCol: String, headK: Int = 10): DataFrame = {
    require(headK >= 1, s"headK must be >= 1: $headK")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
    // re-sort INSIDE the agg: collect_list makes no order promise even
    // over a TakeOrdered result, so the md5 sorts its own (freq desc,
    // word) structs
    val head = counts
      .orderBy(desc("__c"), col("__w")).limit(headK)
      .agg(sum(col("__c")).as("__head_mass"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct((-col("__c")).as("nc"), col("__w").as("w")))),
          s => s.getField("w")))).as("__head_md5"))
    counts.agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      count(when(col("__c") === 1, 1)).as("n_hapax"),
      count(when(col("__c") === 2, 1)).as("n_dis"),
    ).crossJoin(broadcast(head))
      .select(
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("n_types"), col("n_hapax"), col("n_dis"),
        coalesce(col("__head_mass"), lit(0L)).as("head_mass"),
        col("__head_md5").as("head_md5"))
  }

  /** Winnowing fingerprints (Schleimer 2003 §4 — the MOSS scheme): the
    * lexicographic-min md5 of each `window`-wide run of `k`-gram hashes,
    * distinct per document. Guarantees: any shared substring of at least
    * k + window − 1 tokens yields at least one SHARED fingerprint, and
    * fingerprint density is ~2/(window+1) — the local-sampling property
    * raw k-gram sets lack (position-robust overlap detection at a
    * fraction of the storage).
    *
    * md5 HEX STRINGS are the hash domain on purpose: winnowing needs only
    * a consistent total order, and lexicographic order over md5 hex is
    * identical in Spark and DuckDB — the whole fingerprint set is
    * oracle-replayable with list ops. Fewer than `window` k-grams (but
    * ≥ 1) degrade to one whole-doc-min fingerprint; no k-grams → empty.
    *
    * Pure per-row projection — no shuffle, no explode; downstream
    * overlap detection explodes ONLY the sampled fingerprints (≈ 2/(w+1)
    * of the k-grams), which is the scale win. Backed by the codegen'd
    * [[WinnowFingerprints]] expression (one imperative pass, rolling-min
    * monotonic deque) — the interpreted HOF form it replaced is kept as
    * [[winnowFingerprintsHof]] for the ScalaCheck parity property.
    */
  def winnowFingerprints(text: Column, k: Int, window: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      WinnowFingerprints(org.apache.spark.sql.GraftBridge.expression(text), k, window))

  /** Declarative form [[WinnowFingerprints]] replaces — parity-test
    * reference (bit-identical output, including first-occurrence distinct
    * order and the degenerate < window single-fingerprint rule).
    */
  private[graft] def winnowFingerprintsHof(text: Column, k: Int, window: Int): Column = {
    require(k >= 1, s"k must be >= 1: $k")
    require(window >= 1, s"window must be >= 1: $window")
    val hs = transform(wordShinglesHof(tokensHof(text), k), g => md5(g))
    val nWin = greatest(size(hs) - window + 1, lit(1))
    when(size(hs) === 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), nWin),
        i => array_min(slice(hs, i, lit(window))))))
  }

  def trigramSurprisal(
      docs: DataFrame, idCol: String, textCol: String, addK: Double = 1.0,
      lambda3: Double = 0.6, lambda2: Double = 0.3, lambda1: Double = 0.1,
      materialize: Boolean = false,
  ): DataFrame =
    trigramSurprisalAgainst(docs, docs, idCol, textCol, addK, lambda3, lambda2, lambda1, materialize)

  /** Reference-trained form of [[trigramSurprisal]] — the ACTUAL CCNet
    * shape (Wenzek 2020 trains the KenLM on Wikipedia and scores the
    * crawl; the self-trained form is the degenerate train==score case):
    * n-gram counts, vocabulary size V and token count N come from
    * `trainDocs` only, every document of `scoreDocs` is scored against
    * them. N-grams unseen in the reference back off to the add-k floor
    * via LEFT joins with zero-coalesced counts (for train==score every
    * join hits, which is why the self-trained delegation is bit-identical
    * to the old inner-join form).
    *
    * Scale: the train side is typically the small curated corpus, but
    * nothing assumes it — both sides shuffle-join by n-gram key, only the
    * (N, V) scalar broadcasts; score side is one tokenize scan + the
    * shared lag window.
    */
  def trigramSurprisalAgainst(
      trainDocs: DataFrame, scoreDocs: DataFrame, idCol: String, textCol: String,
      addK: Double = 1.0,
      lambda3: Double = 0.6, lambda2: Double = 0.3, lambda1: Double = 0.1,
      materialize: Boolean = false,
  ): DataFrame = {
    require(addK > 0, s"addK must be positive: $addK")
    require(math.abs(lambda3 + lambda2 + lambda1 - 1.0) < 1e-9,
      s"interpolation weights must sum to 1: $lambda3 + $lambda2 + $lambda1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__id").orderBy("__pos")
    def stream(docs: DataFrame): (DataFrame, DataFrame) = {
      val toks0 = docs.select(col(idCol).as("__id"),
        posexplode(tokens(col(textCol))).as(Seq("__pos", "__w")))
      val toks = if (materialize) toks0.localCheckpoint(true) else toks0
      val triples0 = toks
        .withColumn("__v1", lag(col("__w"), 1).over(w))
        .withColumn("__u2", lag(col("__w"), 2).over(w))
      (toks, if (materialize) triples0.localCheckpoint(true) else triples0)
    }
    val selfTrained        = trainDocs eq scoreDocs
    val (tToks, tTriples)  = stream(trainDocs)
    val (_, sTriples)      = if (selfTrained) (tToks, tTriples) else stream(scoreDocs)
    val tri  = tTriples.where(col("__u2").isNotNull)
      .groupBy("__u2", "__v1", "__w").agg(count(lit(1)).cast("double").as("__c3"))
    // context/bigram counts over ALL adjacent pairs (the standard estimate
    // counts every (u,v) occurrence, including sentence-final ones)
    val ctx2 = tTriples.where(col("__v1").isNotNull)
      .groupBy(col("__v1").as("__u2"), col("__w").as("__v1"))
      .agg(count(lit(1)).cast("double").as("__c2ctx"))
    val big  = tTriples.where(col("__v1").isNotNull)
      .groupBy("__v1", "__w").agg(count(lit(1)).cast("double").as("__c2"))
    val uni  = tToks.groupBy("__w").agg(count(lit(1)).cast("double").as("__c1"))
    val scal = tToks.agg(count(lit(1)).cast("double").as("__n"),
      countDistinct(col("__w")).cast("double").as("__v"))
    val kTerm = (c: Column, d: Column) =>
      (coalesce(c, lit(0.0)) + addK) / (coalesce(d, lit(0.0)) + (col("__v") + 1) * addK)
    sTriples.where(col("__u2").isNotNull)
      .join(tri, Seq("__u2", "__v1", "__w"), "left")
      .join(ctx2, Seq("__u2", "__v1"), "left")
      .join(big, Seq("__v1", "__w"), "left")
      .join(uni, Seq("__w"), "left")
      .join(uni.select(col("__w").as("__v1"), col("__c1").as("__c1v")), Seq("__v1"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("__p",
        lit(lambda3) * kTerm(col("__c3"), col("__c2ctx")) +
          lit(lambda2) * kTerm(col("__c2"), col("__c1v")) +
          lit(lambda1) * kTerm(col("__c1"), col("__n")))
      .withColumn("__nll", -log(col("__p")))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_triples"), avg(col("__nll")).as("avg_nll"))
  }
}
