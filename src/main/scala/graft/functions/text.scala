package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, tokenization, shingling, language ID, quality scoring,
  * token counting, and content fingerprinting.
  *
  * Everything is a pure `Column` combinator (no UDFs), so the whole
  * pipeline stays inside whole-stage codegen and distributes with the
  * scan — the per-document cost is constant and there is no shuffle
  * until an aggregation asks for one. That is the property that lets
  * these run over 100 TB of documents as a single map stage.
  */
object text {

  /** Canonical text normalization: lowercase, trim, collapse runs of
    * whitespace to single spaces. The shared first step of dedup keys,
    * tokenization and fingerprints — two documents that differ only in
    * case/spacing normalize identically.
    */
  def normalizeText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** Whitespace tokenization of normalized text. */
  def tokenize(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Distinct word n-grams ("shingles") of a token array, each n-gram
    * space-joined. The unit set for MinHash/Jaccard near-dedup. Empty
    * when the document has fewer than n tokens.
    *
    * Backed by the native `graft_ngrams` kernel — the equivalent
    * `array_distinct(transform(sequence, i -> concat_ws(slice)))`
    * combinator evaluates interpreted (higher-order functions skip
    * codegen) and was the top CPU line of the dedup pipeline; the
    * native expression emits the same values in first-occurrence order
    * from one tight loop. [[ngramsColumn]] keeps the combinator form as
    * the executable specification (TextSpec proves them equal).
    */
  def ngrams(toks: Column, n: Int): Column =
    graft.plans.NativeHashes.nGrams(toks, n)

  /** Reference combinator formulation of [[ngrams]]. */
  def ngramsColumn(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Prefix fingerprint: the first k tokens space-joined — a cheap exact
    * dedup key that collapses documents sharing their opening.
    */
  def prefixKey(toks: Column, k: Int): Column =
    concat_ws(" ", slice(toks, 1, k))

  // -------------------------------------------------------------------
  // Language identification (n-gram/stopword heuristic)

  /** Tiny per-language function-word profiles. Deliberately small and
    * fixed: language ID here is a deterministic, engine-portable
    * heuristic (count profile hits, argmax), not a model.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un"),
    "es" -> Seq("el", "los", "las", "y", "un", "una"))

  /** Occurrences (with repeats) of any of `words` in the token array.
    * Backed by the native `graft_profile_count` kernel (the interpreted
    * `filter` lambda × 4 profiles was the text-metrics hot loop);
    * [[stopwordCountColumn]] is the combinator spec (TextSpec proves
    * them equal).
    */
  def stopwordCount(toks: Column, words: Seq[String]): Column =
    graft.plans.NativeHashes.profileCount(toks, words)

  /** Reference combinator formulation of [[stopwordCount]]. */
  def stopwordCountColumn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** Heuristic language ID: argmax of profile hit-counts, earlier
    * profile wins ties, "und" (undetermined) when no profile scores.
    */
  def langId(toks: Column): Column = {
    val best = langProfiles.foldLeft((lit("und"), lit(0L))) {
      case ((bestLang, bestScore), (lang, words)) =>
        val s = stopwordCount(toks, words)
        (when(s > bestScore, lit(lang)).otherwise(bestLang),
          when(s > bestScore, s).otherwise(bestScore))
    }
    best._1
  }

  // -------------------------------------------------------------------
  // Quality scoring

  /** Fraction of characters outside [a-z0-9 ] in normalized text. */
  def punctRatio(c: Column): Column = {
    val n = normalizeText(c)
    when(length(n) > 0,
      (length(n) - length(regexp_replace(n, "[^a-z0-9 ]", "")))
        .cast("double") / length(n))
      .otherwise(lit(0.0))
  }

  /** Fraction of tokens that are English function words. */
  def stopwordRatio(toks: Column): Column =
    when(size(toks) > 0,
      stopwordCount(toks, langProfiles.head._2).cast("double") / size(toks))
      .otherwise(lit(0.0))

  /** Composite document quality in [0,1]: length saturation (100 tokens
    * = full marks), low punctuation noise, natural-language function
    * words present. The weights are fixed so the score is reproducible
    * across engines and runs.
    */
  def qualityScore(c: Column): Column = {
    val toks = tokenize(c)
    round(
      lit(0.4) * least(size(toks).cast("double") / 100.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - punctRatio(c)) +
        lit(0.3) * stopwordRatio(toks), 6)
  }

  // -------------------------------------------------------------------
  // Token counting

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(tokenize(c)).cast("long")

  /** BPE-ish token count: letter runs, digit runs, and each remaining
    * symbol count as one token — a deterministic proxy for subword
    * tokenizer cost accounting.
    */
  def tokenCountBpe(c: Column): Column =
    regexp_count(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")

  // -------------------------------------------------------------------
  // Fingerprinting

  /** Rolling polynomial content hash over the characters of normalized
    * text: h = (h*31 + codepoint(ch)) mod p. Engine-portable (the same
    * fold is expressible in any SQL dialect with list folds) and
    * stable, so it can key exact dedup across heterogeneous pipelines.
    *
    * Backed by the native `graft_rolling_hash` kernel — the per-character
    * combinator fold ([[fingerprintColumn]]) evaluates interpreted and
    * was the top CPU line of the q38 prep pipeline; TextSpec proves the
    * two equal.
    */
  def fingerprint(c: Column, p: Long = 1000000007L): Column =
    graft.plans.NativeHashes.rollingHash(normalizeText(c), p)

  /** Reference combinator formulation of [[fingerprint]]. Empty splits
    * are filtered because Java-regex split keeps a trailing empty
    * element.
    */
  def fingerprintColumn(c: Column, p: Long = 1000000007L): Column =
    aggregate(
      filter(split(normalizeText(c), ""), ch => length(ch) > 0),
      lit(0L),
      (acc, ch) => pmod(acc * 31 + ascii(ch), lit(p)))

  /** Deterministic bag-of-hashed-tokens featurizer: a `dims`-length
    * double vector whose slot i counts the tokens whose rolling hash
    * lands in i (mod dims). The engine-portable stand-in for a
    * learned embedder — pure arithmetic over [[fingerprint]]'s hash,
    * so any engine reproduces the identical vector (the q126 oracle
    * replays it with list folds), and the output feeds the
    * cosine/ANN operators unchanged. Map-side only; the hashed token
    * list binds ONCE through a one-element transform (the bindOnce
    * discipline — an inlined copy per slot would hash each token
    * `dims` times).
    */
  def hashBagEmbed(toks: Column, dims: Int,
      p: Long = 1000000007L): Column = {
    require(dims >= 1, "hashBagEmbed: dims must be >= 1")
    val hashed = transform(toks, t =>
      pmod(graft.plans.NativeHashes.rollingHash(t, p), lit(dims.toLong)))
    element_at(transform(array(hashed), hs =>
      transform(sequence(lit(0L), lit((dims - 1).toLong)), i =>
        size(filter(hs, d => d === i)).cast("double"))), 1)
  }

  // -------------------------------------------------------------------
  // PII scrubbing — the redaction pass every shareable training corpus
  // runs before anything else. Pure regexp_replace chains (codegen'd,
  // map-side only); the patterns are deliberately conservative and
  // RE2-compatible, so ANY downstream engine (DuckDB, CH, BigQuery)
  // replays the identical scrub — portability is the point, a corpus
  // scrubbed differently per engine is a compliance bug.

  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  // dots excluded from the body so an IPv4 never half-matches as a
  // phone; applied AFTER the ip/email passes
  val phonePattern = "\\+?\\d[\\d() -]{7,}\\d"

  /** Redact emails, IPv4s and phone-shaped digit runs to typed tags.
    * Email first (its local part may contain digits), then IP (dotted
    * quads would otherwise shadow into the phone run), then phone.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Per-type PII hit counts as a struct (email, ip, phone) — the audit
    * measure that decides whether a source is quarantined. Counted in
    * the same order redaction applies, on the progressively-redacted
    * text, so counts and redaction always agree.
    */
  def piiCounts(c: Column): Column = {
    val afterEmail = regexp_replace(c, emailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4Pattern, "<IP>")
    struct(
      regexp_count(c, lit(emailPattern)).cast("long").as("email"),
      regexp_count(afterEmail, lit(ipv4Pattern)).cast("long").as("ip"),
      regexp_count(afterIp, lit(phonePattern)).cast("long").as("phone"))
  }

  // -------------------------------------------------------------------
  // Repetition metrics (the Gopher-style quality gates): machine-
  // generated and boilerplate text shows up as duplicate n-grams long
  // before a human reads it. Both measures are per-document Column
  // combinators — constant work per row, no shuffle, 100 TB-safe.

  /** Fraction of n-gram OCCURRENCES that are repeats of an earlier
    * n-gram in the same document: 1 - distinct/total. 0 for documents
    * shorter than n tokens.
    */
  def dupNgramFraction(toks: Column, n: Int): Column = {
    val total = size(toks) - (n - 1)
    when(total > 0,
      round(lit(1.0) - size(ngrams(toks, n)).cast("double") / total, 6))
      .otherwise(lit(0.0))
  }

  /** Share of the single most frequent n-gram among all n-gram
    * occurrences of the document (Gopher's top-ngram fraction). A
    * sort + linear run-length fold per row — O(L log L) in document
    * length, still map-side.
    */
  def topNgramShare(toks: Column, n: Int): Column = {
    val grams = when(size(toks) >= n,
      sort_array(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    // fold: (previous gram, current run, best run)
    val best = aggregate(grams,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(grams) > 0,
      round(best.cast("double") / size(grams), 6)).otherwise(lit(0.0))
  }

  // -------------------------------------------------------------------
  // Charset / encoding noise

  /** Count of U+FFFD REPLACEMENT CHARACTER occurrences — the scar a
    * lossy charset transcode leaves. Any document that went through a
    * wrong-encoding decode carries them; clean UTF-8 text has zero.
    */
  def replacementCharCount(c: Column): Column =
    regexp_count(c, lit("�")).cast("long")

  /** Fraction of characters that are C0/C1 control characters (tab,
    * CR and LF excluded — those are legitimate text structure).
    * Binary junk mis-read as text scores high here.
    */
  def controlCharRatio(c: Column): Column =
    when(length(c) > 0,
      round(regexp_count(c,
        lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]"))
        .cast("double") / length(c), 6))
      .otherwise(lit(0.0))

  /** Fraction of characters outside printable ASCII + tab/newline.
    * Not a quality signal by itself (most of the world's text is
    * non-ASCII) — it separates "legitimately non-Latin" from
    * "mojibake" only TOGETHER with [[replacementCharCount]] and
    * [[controlCharRatio]], which is how [[charsetNoiseScore]] uses it.
    */
  def nonAsciiRatio(c: Column): Column =
    when(length(c) > 0,
      round(regexp_count(c, lit("[^\n\t -~]"))
        .cast("double") / length(c), 6))
      .otherwise(lit(0.0))

  /** Composite encoding-noise score in [0,1] (0 = clean): saturating
    * replacement-char mass (5 U+FFFD = full marks — even a few prove a
    * lossy transcode), control-char ratio amplified 10x (any
    * measurable share is pathological), and a small non-ASCII term
    * that only matters when the other two already fire. Weights are
    * fixed constants so the score reproduces bit-identically across
    * engines; like [[qualityScore]] it is one codegen'd projection —
    * no shuffle at any corpus size.
    */
  def charsetNoiseScore(c: Column): Column =
    round(
      lit(0.6) * least(replacementCharCount(c).cast("double") / 5.0,
        lit(1.0)) +
        lit(0.3) * least(controlCharRatio(c) * 10.0, lit(1.0)) +
        lit(0.1) * nonAsciiRatio(c), 6)

  /** Characters of one Unicode script, counted as `len - len(strip)` —
    * Java regex script classes (`\p{IsLatin}` …) on the Spark side;
    * an oracle replays with RE2's `\p{Latin}` spelling of the SAME
    * property, so the counts are engine-portable by Unicode's own
    * definition, not by regex-dialect luck.
    */
  def scriptCount(c: Column, script: String): Column =
    (length(c) - length(regexp_replace(c, s"\\p{Is$script}", "")))
      .cast("long")

  /** Script profile — the crawl-pipeline signal BETWEEN charset noise
    * and language ID: a `lang=en` doc whose characters are mostly Han
    * is mislabeled or mojibake, a Latin/Cyrillic half-split is a
    * boilerplate-wrapped translation. Counts for the four scripts
    * that cover the large crawl corpora plus the total char count;
    * pure codegen'd projection, zero shuffle.
    */
  def scriptCounts(c: Column): Column = struct(
    scriptCount(c, "Latin").as("latin"),
    scriptCount(c, "Cyrillic").as("cyrillic"),
    scriptCount(c, "Han").as("han"),
    scriptCount(c, "Arabic").as("arabic"),
    length(c).cast("long").as("total"))

  /** Unicode confusable folding for DEDUP KEYS — the normalization
    * that makes a smart-quote re-render of a page hash like its
    * plain-ASCII twin (CMS re-serializations, "typographic" mirrors
    * and copy-paste chains are the same document to a dedup pass):
    * zero-width characters and soft hyphens are DELETED, the unicode
    * space family folds to ASCII space, curly single/double quotes to
    * straight, the dash family to '-', and the one-char ellipsis to
    * "...". Composed from anchored regex classes + one `translate` —
    * pure codegen'd projection; fold BEFORE [[tokenize]]/shingling so
    * near-dup candidates collide across typographic variants.
    */
  def foldConfusables(c: Column): Column = {
    val noZw = regexp_replace(c, "[\\u200B\\u200C\\u200D\\uFEFF\\u00AD]", "")
    val sp = regexp_replace(noZw,
      "[\\u00A0\\u1680\\u2000-\\u200A\\u202F\\u205F\\u3000]", " ")
    val folded = translate(sp,
      "‘’‚‛“”„‟" +
        "‐‑‒–—―−",
      "''''\"\"\"\"-------")
    regexp_replace(folded, "…", "...")
  }

  /** Luhn checksum validity for an all-digit string — the filter
    * that separates a REAL payment-card number from sixteen digits
    * that merely look like one (PII scrubbing flags the latter as
    * false positives; dropping a document over a phone-number-shaped
    * digit run is wasted corpus). Pure expression arithmetic on the
    * reversed digit string — double every second digit from the
    * right, fold digit sums, mod 10 — no UDF; false for strings
    * shorter than 13 digits (below any card scheme) or carrying any
    * non-digit.
    */
  def luhnValid(c: Column): Column = {
    val n = length(c)
    val arr = split(reverse(c), "")
    val total = aggregate(
      zip_with(arr, sequence(lit(1), greatest(n, lit(1))), (d, i) => {
        val v = d.cast("int")
        when(i % 2 === 0,
          when(v * 2 > 9, v * 2 - 9).otherwise(v * 2)).otherwise(v)
      }),
      lit(0), (acc, x) => acc + x)
    c.rlike("^[0-9]{13,19}$") && total % 10 === 0
  }

  /** The dominant script label: the max of [[scriptCounts]], ties
    * broken in fixed order latin > cyrillic > han > arabic; "other"
    * when no counted script appears at all (digits-only, symbols,
    * empty). Deterministic by construction — same text, same label,
    * any engine.
    */
  def dominantScript(c: Column): Column = {
    val la = scriptCount(c, "Latin")
    val cy = scriptCount(c, "Cyrillic")
    val ha = scriptCount(c, "Han")
    val ar = scriptCount(c, "Arabic")
    when(la === 0 && cy === 0 && ha === 0 && ar === 0, lit("other"))
      .when(la >= cy && la >= ha && la >= ar, lit("latin"))
      .when(cy >= ha && cy >= ar, lit("cyrillic"))
      .when(ha >= ar, lit("han"))
      .otherwise(lit("arabic"))
  }

  /** Rule-based sentence segmentation (X157, round 10): maximal runs
    * of non-terminators followed by a terminator run (or end of
    * text), trimmed, empties dropped. The pattern is deliberately
    * RE2-COMPATIBLE (no lookbehind/lookahead) so DuckDB's
    * regexp_extract_all replays it verbatim — the engine's standing
    * any-engine-replayable contract. Abbreviation-aware splitting is
    * explicitly out of contract (as in every rule-based splitter a
    * pipeline actually ships at 100 TB — model-based splitters are a
    * codec concern, the Multimodal stub pattern).
    */
  def sentences(c: Column): Column =
    filter(
      transform(
        regexp_extract_all(c, lit("[^.!?]+(?:[.!?]+|$)"), lit(0)),
        s => trim(s)),
      s => s =!= "")

  /** Sentence count under the [[sentences]] rule. */
  def sentenceCount(c: Column): Column = size(sentences(c))

  /** Syllable approximation: vowel-group runs ([aeiouy]+) over the
    * lowercased text — the standard cheap estimator readability
    * formulas were fitted against. Exact integer, engine-replayable.
    */
  def syllableCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[aeiouy]+"), lit(0)))

  /** Flesch reading ease: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), sentence/word counts floored at 1 so
    * empty text scores rather than NaNs. All inputs exact integers,
    * fixed IEEE op order — bit-replayable by the oracle.
    */
  def fleschReadingEase(c: Column): Column = {
    val s = greatest(sentenceCount(c), lit(1)).cast("double")
    val w = greatest(size(tokenize(c)), lit(1)).cast("double")
    val sy = syllableCount(c).cast("double")
    lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w)
  }

  /** Flesch–Kincaid grade level: 0.39·(words/sentences) +
    * 11.8·(syllables/words) − 15.59, same guards as
    * [[fleschReadingEase]].
    */
  def fleschKincaidGrade(c: Column): Column = {
    val s = greatest(sentenceCount(c), lit(1)).cast("double")
    val w = greatest(size(tokenize(c)), lit(1)).cast("double")
    val sy = syllableCount(c).cast("double")
    lit(0.39) * (w / s) + lit(11.8) * (sy / w) - lit(15.59)
  }

  /** HTML-to-text extraction (X202, round 13) — the first step of a
    * web-corpus pipeline (the rule-based core of trafilatura/jusText-
    * class extractors): `<script>`/`<style>` blocks and comments drop
    * whole, remaining tags strip, the common entities decode (`&amp;`
    * LAST so `&amp;lt;` yields the literal `&lt;`, the standard
    * order), whitespace collapses. Regex/replace-only with patterns in
    * the Java-regex ∩ RE2 common subset, so the DuckDB oracle replays
    * the extraction byte-identically; Spark evaluates the chain as
    * codegen'd RegExpReplace — one map-side projection at any scale.
    */
  def stripHtml(c: Column): Column = {
    val noBlock = regexp_replace(c,
      "(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>", " ")
    val noComment = regexp_replace(noBlock, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) =>
        regexp_replace(acc, k, v) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

}
