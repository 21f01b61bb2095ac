package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (SURVEY.md §2.D). All pure `Column` compositions over Spark's
  * codegen'd higher-order functions — no UDFs, so every one of these
  * stays inside WholeStageCodegen and runs at scan speed; none of them
  * shuffles. Cross-engine determinism: hashing goes through md5 (identical
  * in every engine) rather than Spark-internal hash functions.
  */
object TextFunctions {

  /** Single-space tokens. CONTRACT: input is single-space-normalized text
    * (the testdata's shape; raw text should pass through [[normalizeText]]
    * first). Deliberately NOT `\\s+`: the split must match the SQL oracle's
    * `string_split(text, ' ')` exactly, and a regex split differs on
    * leading/trailing whitespace in ways the two engines disagree about.
    * On non-normalized input, runs of spaces yield empty tokens and
    * newline-separated words stay fused — normalize first. */
  def tokens(c: Column): Column = split(c, " ")

  /** Word n-grams joined with '_'; empty array below n words.
    *
    * The token array is bound as a lambda variable (via a one-element
    * `transform`) so the split happens ONCE per row; naively referencing
    * `split(c)` inside the position lambda re-tokenizes the document per
    * n-gram position — O(len²) per row, ~7× slower on real documents. */
  def wordNgrams(c: Column, n: Int): Column =
    element_at(
      transform(array(tokens(c)), w =>
        when(size(w) >= n,
          transform(sequence(lit(1), size(w) - lit(n - 1)),
            i => concat_ws("_", (0 until n).map(k => element_at(w, i + lit(k))): _*)))
          .otherwise(array())),
      1)

  /** 31-bit shingle hash: md5 prefix (8 hex chars) reduced mod 2^31-1.
    * Portable: DuckDB `CAST('0x'||substr(md5(g),1,8) AS BIGINT) % 2147483647`. */
  def hash31(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("bigint") % lit(2147483647L)

  // Fixed universal-hash parameters, mod p = 2^31-1: h_j(x) = (A(j)*x + B(j))
  // mod p. Pure arithmetic — identical in any engine (the DuckDB oracle SQL
  // is *generated* from these same values). First 16 are hand-picked; the
  // rest extend deterministically to k=128 (production LSH sizing — see
  // Dedup.minhashNearDups). p prime and 2654435761 ∤ p ⇒ every extended
  // A(j) is nonzero.
  private[graft] val MinhashP = 2147483647L
  private[graft] val MinhashA: IndexedSeq[Long] =
    Vector(1103571L, 2946901L, 6291469L, 12582917L, 25165843L, 50331653L,
      100663319L, 201326611L, 402653189L, 805306457L, 1610612741L, 3145739L,
      786433L, 1572869L, 196613L, 98317L) ++
      (16 until 128).map(j => (2654435761L * (2 * j + 1)) % MinhashP)
  private[graft] val MinhashB: IndexedSeq[Long] =
    Vector(12345L, 67891L, 24691L, 13579L, 97531L, 86421L, 75319L, 64207L,
      53195L, 42083L, 31971L, 20869L, 19757L, 8645L, 75331L, 64219L) ++
      (16 until 128).map(j => (40503L * j + 987654321L) % MinhashP)

  /** LSH band keys: md5 over `rowsPerBand` consecutive signature values.
    * Docs sharing any band key are near-dup candidates. `rowsPerBand`
    * must divide k — silently dropping the trailing k mod rowsPerBand
    * minhashes would lower recall below the b=k/r sizing math.
    *
    * Evaluated by the fused native expression
    * ([[graft.expressions.LshBandKeys]]): the composed per-band
    * `md5(concat_ws("#", element_at(sig,·).cast(string)...))` chain cost
    * k long→string casts + b concat allocations per row (~2/3 of the whole
    * sketch projection's time) — the native pass renders each slot's
    * decimal straight into a reused buffer and digests once per band,
    * value-identical per band key (LshBandKeysSpec pins composed == native
    * over the corpus and adversarial signatures). A NULL signature (null
    * text upstream — every consumer drops those rows) pins to the constant
    * the composed form produces: concat_ws over all-null slots is the
    * empty string, so every band is md5(""). */
  def lshBands(sig: Column, k: Int, rowsPerBand: Int): Column = {
    require(k % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide k=$k (trailing minhashes would be dropped)")
    val md5Empty = "d41d8cd98f00b204e9800998ecf8427e"
    when(sig.isNull,
      typedLit(Seq.fill(k / rowsPerBand)(md5Empty)))
      .otherwise(graft.expressions.HashExpressions.lshBandKeysNative(sig, k, rowsPerBand))
  }

  /** Jaccard similarity of two (distinct-element) arrays — exact in both
    * engines: integer sizes, one IEEE division. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** A 60-bit integer hash from the md5 hex prefix — portable across
    * engines (DuckDB: `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Rolling polynomial fingerprint over words, mod 2^31-1:
    * h = fold(h*131 + (ascii(first)*31 + len(word))). Order-sensitive
    * document fingerprint; matches DuckDB `list_reduce` oracle. */
  def fingerprint(c: Column): Column =
    aggregate(
      transform(tokens(c), w => (ascii(substring(w, 1, 1)) * 31 + length(w)).cast("bigint")),
      lit(0L),
      (acc, w) => (acc * 131 + w) % 2147483647L)

  /** Canonical text normalization for dedup/training-data prep: lowercase,
    * strip non-alphanumerics, collapse whitespace, trim. The reference
    * normalizes values ad hoc (`Airbnb_Listings_ETL.py:53-70`); this is
    * the composable form (and the exact-dedup canonicalization step). */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Occurrences of any of `words` among the tokens. */
  def tokenCount(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(words.map(lit(_)): _*)))

  /** URL canonicalization — the FIRST dedup every crawl pipeline runs
    * (the same page arrives as http/https, with/without www., with
    * tracking params, fragments, trailing slashes, and mixed case):
    * lowercase, strip the scheme and a leading `www.`, drop the query
    * string and fragment, strip trailing slashes. Pure codegen'd regexp
    * pipeline; RE2-portable patterns (no backrefs/lookaround) so an SQL
    * oracle applies the identical rewrites. Anchors make order
    * irrelevant except query-before-trailing-slash (`a/?x=1` must
    * canonicalize to `a`, not `a/`). The `+` quantifiers keep the form a
    * FIXPOINT (`a.com/p//` and stacked `www.www.` collapse in one
    * application) — idempotence is property-tested. */
  def canonicalizeUrl(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(c), "^https?://", ""),
          "^(www\\.)+", ""),
        "[?#].*$", ""),
      "/+$", "")

  // PII patterns for training-data scrubbing. Order matters twice: URLs
  // go FIRST (a URL may embed an email in its userinfo — redacting the
  // email first would leave the count claiming two insertions where one
  // <URL> tag lands), and both go before bare number runs (which they may
  // embed).
  private[graft] val PiiPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\d{6,}" -> "<NUM>")

  /** Redact common PII shapes (emails, URLs, IPv4s, long digit runs) —
    * the scrubbing pass a training corpus takes before packing. Pure
    * codegen'd regexp pipeline; patterns are RE2-portable so an SQL
    * oracle applies the identical rewrites. */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (p, tag)) => regexp_replace(acc, p, tag) }

  /** Count of PII redactions that [[redactPii]] performs — each pattern is
    * counted on the string with all EARLIER patterns already redacted, so
    * the count equals the number of tags actually inserted (a digit run
    * inside an email must not double-count). */
  def piiCount(c: Column): Column = {
    val (total, _) = PiiPatterns.foldLeft((lit(0), c)) { case ((cnt, cur), (p, tag)) =>
      (cnt + regexp_count(cur, lit(p)), regexp_replace(cur, p, tag))
    }
    total
  }

  /** BPE-ish subword count: letter runs, digit runs, or single symbols. */
  def bpeishCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** HTML entities decoded by [[extractHtmlText]], in application order:
    * named/numeric entities first, `&amp;` strictly LAST — so the
    * double-escape `&amp;lt;` decodes to the literal text "&lt;", never
    * to "<" (the standard decode order). Plain string replaces, not
    * regexes: identical `replace()` semantics in every engine. */
  private[graft] val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML → text extraction — the missing FIRST stage of a crawl
    * pipeline (corpora arrive as markup; every text operator here starts
    * at clean text): drop `script`/`style` blocks and comments WHOLLY
    * (their content is code, not prose), strip remaining tags to a
    * space (keeping their text content — the naive-extractor contract:
    * `title`/`alt` text survives), decode the common entities
    * ([[HtmlEntities]]), collapse whitespace, trim. Pure codegen'd
    * regexp/replace pipeline; RE2-portable patterns (inline `(?is)`
    * flags, non-greedy spans, no backrefs/lookaround) so an SQL oracle
    * applies the identical rewrites — the `ta_redact_pii` discipline.
    * Whitespace class is the explicit `[ \t\n\r]` (Java's `\s` and
    * RE2's disagree on vertical tab). */
  def extractHtmlText(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = HtmlEntities.foldLeft(noTags) { case (acc, (e, r)) =>
      replace(acc, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }
}
