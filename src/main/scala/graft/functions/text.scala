package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Pure Column-level text functions. Everything here is composed from
 * `org.apache.spark.sql.functions` only — no UDFs, so every expression
 * stays inside Catalyst and scales linearly with zero shuffle. (Note:
 * plain expressions are whole-stage-codegen'd; higher-order-function
 * lambdas — `transform`/`aggregate`/`filter` — are evaluated interpreted
 * by Spark. The designs below keep the per-element lambda work minimal,
 * e.g. one md5 per token/shingle, and lean on native set expressions like
 * `array_intersect` where they exist.)
 *
 * Reference semantics re-expressed:
 *  - normalizeWs / normKey / hashKey: services/normalizer/hash_generator.py:22,53
 *  - enum normalization: services/normalizer/normalize.py:186
 *  - safe parses: services/normalizer/normalize.py:233,288
 *  - company suffix stripping: services/enricher/company_matcher.py:68
 */
object text {

  /** Collapse runs of whitespace to one space + trim (hash_generator.py:22).
    * Collapse FIRST: SQL `trim` strips only spaces, so edge tabs/newlines
    * must be folded into spaces before trimming. */
  def normalizeWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Case-folded normalized key component (hash_generator.py:89). */
  def normKey(c: Column): Column = lower(normalizeWs(c))

  /**
   * MD5 dedup hash over normalized components joined with '|'
   * (hash_generator.py:53 / bootstrap_db.sql:167 generate_hash_key).
   * MD5 hex is identical across engines, making this key stable for
   * cross-system dedup at any scale.
   */
  def hashKey(parts: Column*): Column = md5(concat_ws("|", parts.map(normKey): _*))

  /** Enum validation with default fallback (normalize.py:186 _normalize_enum). */
  def normalizeEnum(c: Column, valid: Seq[String], default: String): Column = {
    val v = lower(trim(c))
    when(v.isin(valid: _*), v).otherwise(lit(default))
  }

  /** Null-safe numeric parse (normalize.py:288 _parse_numeric). */
  def safeDouble(c: Column): Column = try_cast(c, "double")
  def safeLong(c: Column): Column = try_cast(c, "bigint")

  /** Null-if-blank string (normalize.py:322 _safe_string). */
  def safeString(c: Column): Column = nullif(trim(c), lit(""))

  private def try_cast(c: Column, t: String): Column = c.try_cast(t)
  private def nullif(a: Column, b: Column): Column = when(a === b, lit(null)).otherwise(a)

  /** Strip legal-entity suffixes from a company-ish name
    * (company_matcher.py:23). The optional trailing dot sits OUTSIDE the
    * word boundary ("Acme Co." must not leave a dangling "."). */
  def stripCompanySuffixes(c: Column): Column = {
    val suffixRe = "\\b(inc|llc|ltd|corp|corporation|co|lp|llp|plc|gmbh|ag|sa)\\b\\.?"
    normalizeWs(regexp_replace(lower(c), suffixRe, " "))
  }

  /** Lower-cased whitespace word tokens. */
  def words(c: Column): Column = split(normKey(c), " ")

  /**
   * Word n-gram shingles: ["a","b","c","d"] with n=3 →
   * ["a b c","b c d"]. Row-level expression, no shuffle.
   */
  def wordShingles(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*)))

  /** Character n-grams of the normalized text. */
  def charNgrams(c: Column, n: Int): Column = charNgramsRaw(normKey(c), n)

  /** Character n-grams of an ALREADY-normalized string column. Interpreted
    * lambdas re-evaluate their free expressions per element, so callers
    * with a pre-normalized attribute must use this variant to avoid
    * re-running the normalization regex once per character position. */
  def charNgramsRaw(s: Column, n: Int): Column =
    when(length(s) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))

  /**
   * Per-shingle hash string: md5(s) ++ md5(s ++ "#1") ++ … (`nHashes`
   * md5s, 32 hex chars each). ONE evaluation per shingle;
   * [[minhashSignature]] then derives up to 4·nHashes independent 32-bit
   * (8-hex-char) hash slices from it — ceil(k/4) md5 calls per shingle
   * instead of k. md5 hex is identical across engines, so the signatures
   * (and therefore the LSH buckets) are portable. The same derivation is
   * used row-wise by Dedup.shingleTable (the scale path).
   */
  def shingleHashes(shingles: Column, nHashes: Int = 2): Column =
    transform(shingles, s => concat(
      (0 until nHashes).map(g =>
        if (g == 0) md5(s) else md5(concat(s, lit("#" + g)))): _*))

  /**
   * MinHash signature from pre-computed [[shingleHashes]]: position j is
   * the min over shingles of hex slice [j*8+1, j*8+8]. A single fold over
   * the hash array maintains all k running minima, so the expensive
   * hashing is never repeated per position.
   */
  def minhashSignature(hashes: Column, k: Int): Column = {
    // "g" sorts after every lowercase-hex character, so it is a safe +inf
    // sentinel for the running minima (empty input => all-"g" signature;
    // callers filter empty-shingle docs out before candidate generation).
    val init = array_repeat(lit("g"), k)
    aggregate(
      hashes,
      init,
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(k - 1)), j => h.substr(j * 8 + 1, lit(8))),
        (a, s) => least(a, s)))
  }

  /**
   * LSH band keys from a minhash signature: bands of `rowsPerBand` adjacent
   * signature positions hashed together. Candidate pairs are generated by a
   * shuffle on (band index, band hash) — never an O(n^2) cross join.
   */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("#",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)))

  /** Jaccard similarity between two arrays (distinct-element sets) via the
    * native set expressions — `array_intersect` runs codegen'd, unlike an
    * interpreted `filter`/`array_contains` lambda scan. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_distinct(a)) + size(array_distinct(b)) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union.cast("double"))
  }

  /**
   * Winnowing document fingerprint: md5 each shingle, take the min hash of
   * every sliding window of `w` consecutive shingle hashes, dedup + sort.
   * (Schleimer et al., "Winnowing: Local Algorithms for Document
   * Fingerprinting", SIGMOD 2003.)
   */
  def winnowFingerprint(shingles: Column, w: Int): Column = {
    val hashes = transform(shingles, s => md5(s))
    val mins = when(size(hashes) < w, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + 1, lit(w)))))
    array_sort(array_distinct(mins))
  }

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(words(c)).cast(LongType)

  /** BPE-ish token count: letter runs, digit runs, or single non-space. */
  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast(LongType)

  /** Stopword-hit ratio of the token array against a fixed list (repeats
    * count, so this stays a per-token membership scan, not a set op). */
  def stopwordRatio(ws: Column, stopwords: Seq[String]): Column = {
    val hits = size(filter(ws, t => t.isin(stopwords.map(lit): _*)))
    when(size(ws) === 0, lit(0.0)).otherwise(hits.cast("double") / size(ws).cast("double"))
  }

  /** Distinct-token ratio (1.0 = no repetition). */
  def distinctRatio(ws: Column): Column =
    when(size(ws) === 0, lit(0.0))
      .otherwise(size(array_distinct(ws)).cast("double") / size(ws).cast("double"))

  // ------------------------------------------------------ curation gate
  // The LLM-data gate every corpus entry shares: language ID by marker
  // hits (t1), then t2's weighted quality score. `markers` is the
  // ordered (lang, marker words) list; the hit columns are named
  // `s_<lang>`, and the predicates below read them by those names.

  /** Per-language marker-hit counts over the token array `ws`, one
    * column `s_<lang>` per entry of `markers` (repeats count). */
  def markerHits(ws: Column, markers: Seq[(String, Seq[String])]): Seq[Column] =
    markers.map { case (l, ms) =>
      size(filter(ws, w => w.isin(ms.map(lit): _*))).as(s"s_$l")
    }

  /** The largest `s_<lang>` hit count. */
  def markerMax(markers: Seq[(String, Seq[String])]): Column =
    greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)

  /** The language gate: English is a maximum of the hit counts with at
    * least one hit. Ties are admitted; `en` is listed first, so t1's
    * pick ([[langPred]]) agrees on every admitted doc. */
  def isEnglish(markers: Seq[(String, Seq[String])]): Column =
    col("s_en") > 0 && col("s_en") === markerMax(markers)

  /** t1's language pick over the `s_<lang>` columns and their maximum
    * in column `mx`: the first listed language whose count equals `mx`,
    * or "unknown" when no marker hits. */
  def langPred(markers: Seq[(String, Seq[String])]): Column = {
    val pick = markers.foldRight(lit("unknown")) {
      case ((l, _), e) => when(col(s"s_$l") === col("mx"), lit(l)).otherwise(e)
    }
    when(col("mx") === 0, "unknown").otherwise(pick)
  }

  /** t2's weights over its four components. */
  private def qualityOf(lenScore: Column, distinct: Column, punct: Column,
      stopword: Column): Column =
    lenScore * 0.35 + distinct * 0.25 + (lit(1.0) - punct) * 0.25 + stopword * 0.15

  private def lenScore(t: Column): Column =
    least(length(t).cast("double") / 500.0, lit(1.0))

  private def punctRatio(t: Column): Column =
    (length(t) - length(regexp_replace(t, "[a-z0-9 ]", ""))).cast("double") /
      length(t).cast("double")

  /** t2's quality components of normalized text `t` with tokens `ws`,
    * named `len_score`, `distinct_ratio`, `stopword_ratio` and
    * `punct_ratio`: length/500 capped at 1, distinct-token ratio,
    * stopword-hit ratio, and — despite its name — the share of chars
    * that `[a-z0-9 ]` matches (length minus the length left after
    * deleting them), so the score's `1 − punct` term grows with
    * punctuation. Every oracle replays it as written. */
  def qualityComponents(t: Column, ws: Column, stops: Seq[String]): Seq[Column] = Seq(
    lenScore(t).as("len_score"),
    distinctRatio(ws).as("distinct_ratio"),
    stopwordRatio(ws, stops).as("stopword_ratio"),
    punctRatio(t).as("punct_ratio"))

  /** t2's quality score over the columns [[qualityComponents]] names. */
  def qualityFromComponents: Column =
    qualityOf(col("len_score"), col("distinct_ratio"), col("punct_ratio"),
      col("stopword_ratio"))

  /** t2's quality score computed inline from `t` and `ws`:
    * 0.35·len + 0.25·distinct + 0.25·(1 − punct) + 0.15·stopword. */
  def quality(t: Column, ws: Column, stops: Seq[String]): Column =
    qualityOf(lenScore(t), distinctRatio(ws), punctRatio(t), stopwordRatio(ws, stops))

  /** PII patterns shared by [[redactPii]] and the oracle SQL (no-drift).
    * Kept to the regex subset with identical semantics in Java regex and
    * RE2-style engines (no backrefs/lookaround). */
  object PiiPatterns {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    /** 9+ contiguous digits: account/SSN-ish ids. Applied BEFORE the phone
      * pattern so separated digit runs read as phones, contiguous as ids. */
    val longDigits = "[0-9]{9,}"
    val phone = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
  }

  /**
   * PII redaction for training corpora: emails, then long contiguous
   * digit runs, then phone-like separated digit runs are replaced with
   * stable placeholder tokens. Order matters: emails contain digits, and
   * the phone pattern would otherwise swallow contiguous id runs.
   */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, PiiPatterns.email, "<EMAIL>"),
        PiiPatterns.longDigits, "<ID>"),
      PiiPatterns.phone, "<PHONE>")

  /** Unicode case/diacritic fold (native expression — see
    * [[graft.plans.UnicodeOps.fold]]): lower + NFD + strip \p{Mn} + NFC.
    * The tier that runs AHEAD of the `\A[a-z]+\z` word universe so
    * accented text folds into it instead of being silently dropped.
    *
    * CALLER CONTRACT (the house call_function rule): run
    * `graft.plans.VectorExpressions.ensureRegistered(df.sparkSession)`
    * before resolving a plan that uses this — a Column carries no
    * session, so registration cannot happen here. */
  def unicodeFold(c: Column): Column =
    call_function("graft_unicode_fold", c)

  // ------------------------------------------------------------- HTML
  /**
   * HTML-to-text extraction — the crawl pipeline's step between raw
   * fetch markup and every downstream text operator (t1 language ID,
   * t2 quality, t6 boilerplate, the dedup family): eliminate what
   * never renders (script/style blocks, comments), break every tag to
   * a space, decode the six entities that dominate real corpora. Pure
   * regexp built-ins — one codegen'd projection over the corpus scan,
   * oracle-replayable step for step.
   *
   * Two orderings are load-bearing: the BLOCK eliminations run before
   * the generic tag strip (a literal '<' inside a script body would
   * otherwise open a bogus tag that swallows visible text), and
   * `&amp;` decodes LAST so `&amp;lt;` correctly single-decodes to
   * `&lt;`. Tags become SPACES, not empty strings (the C4 convention:
   * a stray mid-word tag costs a split word, but adjacent-block words
   * never fuse); callers run whitespace normalization right after.
   */
  def htmlToText(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ").foldLeft(noTags) { (acc, kv) =>
      regexp_replace(acc, kv._1, kv._2)
    }
    regexp_replace(ent, "&amp;", "&")
  }

  // ------------------------------------------------------------- URLs
  // URL canonicalization — pure built-ins (regexp extract/replace +
  // array_sort), so the whole pass is one codegen'd projection over the
  // corpus scan and the oracle can replay every step verbatim in SQL.
  // Canonical form (each step a deliberate contract, t20 gates them):
  //   1. fragment dropped ('#...' never reaches the server);
  //   2. scheme lowercased;
  //   3. host lowercased, leading 'www.' stripped (rollup identity:
  //      www.x.com and x.com serve one corpus), DEFAULT port stripped
  //      (:443 on https, :80 on http) — explicit non-default ports kept;
  //   4. trailing slashes stripped from the path ('/a/' == '/a'; the
  //      root path collapses to none);
  //   5. query parameters sorted lexicographically ('?b=2&a=1' ==
  //      '?a=1&b=2'); empty query dropped.

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val AuthRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)"

  /** Canonical URL string per the five-step contract above.
    *
    * PRECONDITION GUARD: input must carry `scheme://` — an input that
    * does not match [[SchemeRe]] (relative path, bare host, junk) has
    * no well-defined authority to canonicalize, and silently emitting
    * a `'://host…'`-shaped string would hand downstream rollup/dedup
    * keys indistinguishable junk. Such inputs canonicalize to NULL, so
    * malformed URLs are explicitly filterable (`curl IS NULL`), never
    * silent garbage keys. Null propagates idempotently. */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, SchemeRe, 1))
    val auth = regexp_extract(noFrag, AuthRe, 1)
    val host = regexp_replace(
      lower(regexp_replace(auth, ":[0-9]+$", "")), "^www\\.", "")
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val portKept = when(port === "" ||
        (scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_replace(
      regexp_extract(noFrag, PathRe, 1), "/+$", "")
    val q = regexp_extract(noFrag, "\\?(.*)$", 1)
    val qKept = when(q === "", lit("")).otherwise(
      concat(lit("?"), array_join(array_sort(split(q, "&")), "&")))
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portKept, path, qKept))
  }

  /** Registered domain (last two dot-labels) of a CANONICAL url — the
    * per-site rollup key. Public-suffix lists (co.uk) are a lookup-table
    * refinement on the same expression shape. */
  def registeredDomain(c: Column): Column =
    regexp_extract(
      regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?:]*)", 1),
      "([^.]+[.][^.]+)$", 1)
}
