package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{text => T}

/** Property-style checks of graft.functions.text against plain-Scala
  * reference implementations (mirrors the reference repo's pytest coverage
  * of its normalizer/hash helpers). */
class TextFunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val alphabet = "ab c\t X\n y1.z  "
  private def randString(): String =
    (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  private val samples = Seq.fill(60)(randString()) ++
    Seq("", "   ", "a", "  a  b  ", "A\t\nB", "x y z")

  test("normalizeWs / normKey match the reference implementation") {
    val got = samples.toDF("s")
      .select(T.normalizeWs(col("s")), T.normKey(col("s")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.zip(samples).foreach { case ((ws, nk), s) =>
      assert(ws == normWs(s), s"normalizeWs(${s.inspect})")
      assert(nk == normKey(s), s"normKey(${s.inspect})")
    }
  }

  implicit class Inspect(s: String) { def inspect: String = s.replace("\n", "\\n").replace("\t", "\\t") }

  test("curation gate: an en tie is admitted, zero hits are rejected, t2 scores are exact") {
    val markers = graft.config.Dictionaries.langMarkers
    val stops = graft.config.Dictionaries.stopwordsEn
    val ws = split(col("t"), " ")
    // (admitted, t1's pick): en ties de, no marker hits, de beats en,
    // fr beats en
    val gate = Seq("the der cat", "zzz yyy", "der und the", "the fast le la et")
      .toDF("t").select((col("t") +: T.markerHits(ws, markers)): _*)
      .withColumn("mx", T.markerMax(markers))
      .select(col("t"), T.isEnglish(markers), T.langPred(markers))
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(gate == Map(
      "the der cat" -> (true, "en"),
      "zzz yyy" -> (false, "unknown"),
      "der und the" -> (false, "de"),
      "the fast le la et" -> (false, "fr")))
    // 0.35·len/500 + 0.25·distinct + 0.25·(1 − punct) + 0.15·stopword,
    // in the builder's evaluation order; punct_ratio counts the chars
    // that the [a-z0-9 ] class matches (11 of 12, then 10 of 10)
    val expected = Map(
      "the cat sat." -> ((12.0 / 500.0) * 0.35 + (3.0 / 3.0) * 0.25 +
        (1.0 - 11.0 / 12.0) * 0.25 + (1.0 / 3.0) * 0.15),
      "a a a of b" -> ((10.0 / 500.0) * 0.35 + (3.0 / 5.0) * 0.25 +
        (1.0 - 10.0 / 10.0) * 0.25 + (4.0 / 5.0) * 0.15))
    val got = expected.keys.toSeq.toDF("t")
      .select((col("t") +: T.qualityComponents(col("t"), ws, stops) :+
        T.quality(col("t"), ws, stops).as("inline")): _*)
      .withColumn("quality", T.qualityFromComponents)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("inline"), r.getAs[Double]("quality"))).toMap
    expected.foreach { case (t, q) =>
      assert(got(t) == (q, q), s"quality of '$t'")
    }
  }

  test("hashKey is md5 of '|'-joined normalized components, order-sensitive") {
    val pairs = Seq(("Acme  Corp", " data ENGINEER"), ("a", "b"), ("b", "a"), (" ", ""))
    val got = pairs.toDF("a", "b")
      .select(T.hashKey(col("a"), col("b"))).collect().map(_.getString(0))
    got.zip(pairs).foreach { case (h, (a, b)) =>
      assert(h == md5hex(normKey(a) + "|" + normKey(b)))
    }
    assert(got(1) != got(2), "component order must change the key")
  }

  test("wordShingles: sliding n-grams with correct count and content") {
    val wordSets = Seq.fill(30)(Seq.fill(rnd.nextInt(8))("w" + rnd.nextInt(5)))
    for (n <- Seq(2, 3)) {
      val got = wordSets.toDF("ws")
        .select(T.wordShingles(col("ws"), n)).collect().map(_.getSeq[String](0))
      got.zip(wordSets).foreach { case (g, ws) =>
        val expect = if (ws.length < n) Seq.empty else ws.sliding(n).map(_.mkString(" ")).toSeq
        assert(g == expect, s"shingles($ws, $n)")
      }
    }
  }

  test("charNgrams of the normalized text") {
    val got = samples.toDF("s").select(T.charNgrams(col("s"), 4))
      .collect().map(_.getSeq[String](0))
    got.zip(samples).foreach { case (g, s) =>
      val t = normKey(s)
      val expect = if (t.length < 4) Seq.empty else t.sliding(4).toSeq
      assert(g == expect, s"charNgrams(${s.inspect})")
    }
  }

  test("jaccard: matches set computation, symmetric, bounded, self=1") {
    val arrs = Seq.fill(40)(Seq.fill(rnd.nextInt(10))("t" + rnd.nextInt(6)))
    val pairs = arrs.zip(arrs.reverse)
    val got = pairs.toDF("a", "b")
      .select(T.jaccard(col("a"), col("b")), T.jaccard(col("b"), col("a")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    got.zip(pairs).foreach { case ((j, jSym), (a, b)) =>
      val (sa, sb) = (a.toSet, b.toSet)
      val expect =
        if (sa.union(sb).isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      assert(j == expect, s"jaccard($a, $b)")
      assert(j == jSym, "symmetry")
      assert(j >= 0.0 && j <= 1.0)
    }
    val self = arrs.filter(_.nonEmpty).toDF("a")
      .select(T.jaccard(col("a"), col("a"))).collect().map(_.getDouble(0))
    assert(self.forall(_ == 1.0))
  }

  test("minhashSignature: k running minima over the multi-md5 hash slices") {
    val shingleSets = Seq.fill(20)(Seq.fill(rnd.nextInt(12))("s" + rnd.nextInt(20)))
    val k = 16
    val got = shingleSets.toDF("sh")
      .select(T.minhashSignature(T.shingleHashes(col("sh"), nHashes = 4), k))
      .collect().map(_.getSeq[String](0))
    got.zip(shingleSets).foreach { case (sig, shingles) =>
      val hashes = shingles.map(s =>
        md5hex(s) + md5hex(s + "#1") + md5hex(s + "#2") + md5hex(s + "#3"))
      val expect = (0 until k).map { j =>
        if (hashes.isEmpty) "g" else hashes.map(_.substring(j * 8, j * 8 + 8)).min
      }
      assert(sig == expect, s"signature of $shingles")
    }
  }

  test("lshBands: md5 of '#'-joined adjacent signature positions") {
    val sig = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val got = Seq(Tuple1(sig)).toDF("sig")
      .select(T.lshBands(col("sig"), 4, 2)).collect().head.getSeq[String](0)
    val expect = (0 until 4).map(b => md5hex(sig(2 * b) + "#" + sig(2 * b + 1)))
    assert(got == expect)
  }

  test("winnowFingerprint: sorted distinct window-minima of shingle hashes") {
    val shingleSets = Seq.fill(20)(Seq.fill(rnd.nextInt(10))("s" + rnd.nextInt(8)))
    val w = 4
    val got = shingleSets.toDF("sh")
      .select(T.winnowFingerprint(col("sh"), w)).collect().map(_.getSeq[String](0))
    got.zip(shingleSets).foreach { case (fp, shingles) =>
      val hashes = shingles.map(md5hex)
      val expect =
        if (hashes.length < w) Seq.empty
        else hashes.sliding(w).map(_.min).toSeq.distinct.sorted
      assert(fp == expect, s"winnow($shingles)")
    }
  }

  test("token counts") {
    val got = Seq("Hello, world! 42x", "a b  c").toDF("s")
      .select(T.tokenCountWs(col("s")), T.tokenCountBpe(col("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ws: ["hello,", "world!", "42x"] / bpe: hello , world ! 42 x
    assert(got(0) == ((3L, 6L)))
    assert(got(1) == ((3L, 3L)))
  }

  test("stopword and distinct ratios") {
    val got = Seq(Seq("the", "cat", "the", "dog"), Seq.empty[String]).toDF("ws")
      .select(T.stopwordRatio(col("ws"), Seq("the", "a")), T.distinctRatio(col("ws")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got(0) == ((0.5, 0.75)))
    assert(got(1) == ((0.0, 0.0)))
  }

  test("normalizeEnum / safe casts / suffix stripping") {
    val enums = Seq(" Click ", "VIEW", "bogus").toDF("s")
      .select(T.normalizeEnum(col("s"), Seq("click", "view"), "unknown"))
      .collect().map(_.getString(0))
    assert(enums.toSeq == Seq("click", "view", "unknown"))
    val casts = Seq(("12", "x")).toDF("a", "b")
      .select(T.safeLong(col("a")), T.safeLong(col("b")))
      .collect().head
    assert(casts.getLong(0) == 12L && casts.isNullAt(1))
    val names = Seq("Acme Corp", "Foo  LLC.", "Plain Name").toDF("s")
      .select(T.stripCompanySuffixes(col("s"))).collect().map(_.getString(0))
    assert(names.toSeq == Seq("acme", "foo", "plain name"))
  }

  test("native graft_minhash_slices matches the md5-hex substring/conv composition") {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val shingles = (samples.filter(_.nonEmpty) ++ Seq("one two three", "#", "a#1")).toDF("s")
    val nHashes = 4
    val hexConcat = concat((0 until nHashes).map(g =>
      if (g == 0) md5(col("s")) else md5(concat(col("s"), lit("#" + g)))): _*)
    val builtin = (0 until 4 * nHashes).map(j =>
      conv(substring(hexConcat, j * 8 + 1, 8), 16, 10).cast("long"))
    val rows = shingles.select(
      call_function("graft_minhash_slices", col("s"), lit(nHashes)).as("sl"),
      array(builtin: _*).as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch for ${r}")
    }
  }

  test("native graft_md5_prefix64 bit j == the md5 hex-nibble vote test") {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val toks = (samples.filter(_.nonEmpty) ++ Seq("token", "x", "#1")).toDF("s")
    // old formula: nibble at hex position j/4+1 (1-based), mask 8 >> j%4
    val nibbleBits = (0 until 64).map { j =>
      val nib = conv(substring(md5(col("s")), j / 4 + 1, 1), 16, 10).cast("int")
      when(nib.bitwiseAND(lit(8 >> (j % 4))) =!= 0, "1").otherwise("0")
    }
    val longBits = (0 until 64).map { j =>
      when(shiftright(call_function("graft_md5_prefix64", col("s")), 63 - j)
        .bitwiseAND(lit(1L)) =!= 0, "1").otherwise("0")
    }
    val rows = toks.select(concat(nibbleBits: _*), concat(longBits: _*)).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("native graft_in_set == array_contains on the same literal; null-safe") {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val set = (0 until 5000).map(i => s"k$i")
    val probes = Seq("k0", "k4999", "k5000", "missing", "", null)
      .toDF("s")
    val got = probes.select(col("s"),
      call_function("graft_in_set", col("s"), typedLit(set)).as("in_set"),
      array_contains(typedLit(set), col("s")).as("ref")).collect()
    got.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1) && r.isNullAt(2))
      else assert(r.getBoolean(1) == r.getBoolean(2), s"probe ${r.getString(0)}")
    }
    assert(got.count(r => !r.isNullAt(1) && r.getBoolean(1)) == 2)
  }

  /** Plain-Scala block-mean reference for graft_blockmean_bits. */
  private def refBlockBits(payload: Array[Byte]): Seq[Int] = {
    val L = payload.length
    val total = payload.map(b => (b & 0xff).toLong).sum
    val out = Array.fill(8)(0)
    for (k <- 0 until 64) {
      val lo = k * L / 64; val hi = (k + 1) * L / 64
      val s = payload.slice(lo, hi).map(b => (b & 0xff).toLong).sum
      if (s * L > total * (hi - lo)) out(k / 8) |= 1 << (7 - (k % 8))
    }
    out.toSeq
  }

  test("native graft_blockmean_bits matches the plain-Scala block-mean reference") {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(11)
    val payloads = Seq(
      Array.empty[Byte],                       // degenerate: all-zero hash
      Array.fill(7)(42.toByte),                // shorter than 64: empty blocks
      Array.fill(200)(9.toByte),               // uniform: no block above the mean
      Array.tabulate(300)(i => (i % 251).toByte),
      Array.fill(500)(rnd.nextInt(256).toByte))
    val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "payload")
    val got = df.select(col("id"),
      call_function("graft_blockmean_bits", col("payload")).as("bb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    payloads.zipWithIndex.foreach { case (p, i) =>
      assert(got(i.toLong) == refBlockBits(p), s"payload $i")
    }
  }

  test("phashPairs: in-place noise found, pigeonhole complete vs brute force") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(13)
    val base = Seq.tabulate(30)(i =>
      i.toLong -> Array.fill(400)(rnd.nextInt(256).toByte))
    // noisy twin of each: 5 in-place byte flips (indices spread evenly)
    val noisy = base.map { case (id, p) =>
      val q = p.clone()
      for (i <- 0 until 5) q(i * q.length / 5 + 3) = 'z'.toByte
      (id + 1000L) -> q
    }
    val media = (base ++ noisy).map { case (id, p) => (id, p) }.toDF("id", "payload")
    val got = Dedup.phashPairs(media, "id", "payload", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force ground truth over the same fingerprints
    val fps = (base ++ noisy).map { case (id, p) => id -> refBlockBits(p) }
    val want = (for {
      (id1, f1) <- fps; (id2, f2) <- fps if id1 < id2
      h = f1.zip(f2).map { case (a, b) => Integer.bitCount(a ^ b) }.sum
      if h <= 7
    } yield (id1, id2, h)).toSet
    assert(got == want)
    // the planted twins dominate the matches: most ids find their +1000 copy
    val twins = want.count { case (a, b, _) => b == a + 1000L }
    assert(twins >= 25, s"only $twins of 30 planted twins within hamming 7")
  }

  test("unicodeFold: accents fold to base, case folds, CJK passes through intact") {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val fixtures = Seq(
      // SUPPLEMENTARY-PLANE Mn mark (U+1E008 combining glagolitic) must
      // strip like a BMP accent — the code-point-iteration contract
      ("x" + new String(Character.toChars(0x1E008)) + "y", "xy"),
      // Latin accents — precomposed NFC forms
      ("Café RÉSUMÉ naïve señor Zürich garçon", "cafe resume naive senor zurich garcon"),
      // DECOMPOSED input (a + U+0301 combining acute): same fold result
      ("árbol élan", "arbol elan"),
      // case-only fold, ASCII untouched
      ("MIXED Case text 123", "mixed case text 123"),
      // CJK is non-decomposable: the fold must pass it through UNCHANGED,
      // never mangle or drop it (the "cannot fold -> leave intact" contract)
      ("中文文本 stays 中文文本", "中文文本 stays 中文文本"),
      ("日本語のテキスト Ελληνικά кириллица", "日本語のテキスト ελληνικα кириллица"),
      ("", ""))
    val got = fixtures.map(_._1).toDF("s")
      .select(T.unicodeFold(col("s"))).collect().map(_.getString(0))
    got.zip(fixtures).foreach { case (g, (in, want)) =>
      assert(g == want, s"unicodeFold($in)")
    }
    // the downstream claim: folded accented words ENTER the [a-z]+ word
    // universe instead of being silently dropped
    val words = Seq("Café", "naïve", "ZÜRICH").toDF("w")
      .select(T.unicodeFold(col("w")).as("f"))
      .filter(col("f").rlike("""\A[a-z]+\z""")).count()
    assert(words == 3L, "folded accented words must pass the word filter")
  }

  test("canonicalizeUrl: five-step contract; registeredDomain rollup key") {
    val cases = Seq(
      // scheme+host case, default https port, trailing slash, unsorted query
      ("HTTPS://WWW.Example.COM:443/En/page3/?b=2&a=1",
        "https://example.com/En/page3?a=1&b=2"),
      // fragment dropped; www stripped
      ("https://www.example.com/en/page3?a=1&b=2#frag",
        "https://example.com/en/page3?a=1&b=2"),
      // already canonical stays fixed-point
      ("https://example.com/en/page3?a=1&b=2",
        "https://example.com/en/page3?a=1&b=2"),
      // http default port 80 stripped, NON-default port kept
      ("http://host.org:80/x", "http://host.org/x"),
      ("http://host.org:8080/x", "http://host.org:8080/x"),
      // root path collapses; empty query dropped
      ("https://a.b.example.com/", "https://a.b.example.com"))
    val got = cases.map(_._1).toDF("u")
      .select(T.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in)")
    }
    val doms = Seq("https://a.b.example.com/x", "https://example.com",
        "http://host.org:8080/x").toDF("u")
      .select(T.registeredDomain(col("u"))).collect().map(_.getString(0))
    assert(doms.toSeq == Seq("example.com", "example.com", "host.org"),
      "registered domain is the last two labels, port excluded")
    // precondition guard: scheme-less / malformed input canonicalizes to
    // NULL (explicitly filterable), never a '://…' junk key; null stays
    // null so the guard is itself idempotent
    val bad = Seq("example.com/x", "/relative/path", "not a url", "//proto-relative.com")
      .toDF("u")
      .select(T.canonicalizeUrl(col("u")).as("c"),
        T.canonicalizeUrl(T.canonicalizeUrl(col("u"))).as("cc"))
      .collect()
    bad.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1),
        s"malformed url must canonicalize to null, got ${r.get(0)}")
    }
  }

  test("htmlToText: block elimination, tag-to-space, entity decode ordering") {
    val cases = Seq(
      // script body with a literal '<' must vanish whole, not open a tag
      ("<p>a</p><script>if (1 < 2) { x(); }</script><p>b</p>", "a b"),
      ("<style>.x{color:red}</style>body text", "body text"),
      ("<!-- note -->kept", "kept"),
      // tags break to spaces: adjacent blocks never fuse
      ("<li>one</li><li>two</li>", "one two"),
      // entities; &amp;lt; single-decodes to &lt;
      ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;", "a & b <tag> \"q\" 's'"),
      ("&amp;lt;", "&lt;"),
      ("x&nbsp;y", "x y"),
      // case-insensitive block + attribute-carrying tags
      ("<SCRIPT type=\"a\">junk</SCRIPT><BODY onload=\"f()\">t</BODY>", "t"))
    val got = cases.map(_._1).toDF("h")
      .select(T.normalizeWs(T.htmlToText(col("h")))).collect().map(_.getString(0))
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"htmlToText($in)")
    }
  }

  test("htmlToText property: round-trips random texts under random nested markup") {
    val r = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)(
      Seq.fill(1 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString).mkString(" ")
    def wrap(t: String): String = r.nextInt(5) match {
      case 0 => s"<html><head><script>if (1 < 2) { x('$t'.length); }</script></head><body><p>$t</p></body></html>"
      case 1 => s"""<div class="m">${t.replace(" ", "&nbsp;")}</div>"""
      case 2 => s"<ul><li>${t.replace(" ", "</li><li>")}</li></ul>"
      case 3 => s"""<!-- ${words(3)} --><BODY onload="f()">$t<br/></BODY>"""
      case _ => s"<style>.x{a:b}</style><TABLE><tr><td>$t</td></tr></TABLE>"
    }
    val cases = Seq.fill(150) {
      val t = words(3 + r.nextInt(20))
      // up to two nested wraps: tags of the outer wrap must not corrupt
      // the inner wrap's extraction (block elimination runs first)
      val html = if (r.nextBoolean()) wrap(t) else s"<div>${wrap(t)}</div>"
      (html, t)
    }
    val got = cases.map(_._1).toDF("h")
      .select(T.normKey(T.htmlToText(col("h")))).collect().map(_.getString(0))
    got.zip(cases).foreach { case (g, (html, t)) =>
      assert(g == t, s"htmlToText roundtrip failed for: $html")
    }
  }

  test("canonicalizeUrl property: idempotent and invariant-clean on random messy URLs") {
    val r = new scala.util.Random(7)
    def pick[A](xs: Seq[A]) = xs(r.nextInt(xs.size))
    val urls = Seq.fill(200) {
      val scheme = pick(Seq("http", "https", "HTTP", "HTTPS", "hTtPs"))
      val www = pick(Seq("", "www.", "WWW."))
      val host = pick(Seq("Example.COM", "a.b.org", "x-1.net", "HOST.io"))
      val port = pick(Seq("", ":80", ":443", ":8080", ":9"))
      val path = (0 until r.nextInt(4))
        .map(_ => "/" + pick(Seq("A", "b2", "c-c", "D.e"))).mkString +
        pick(Seq("", "/", "//"))
      val query = pick(Seq("", "?b=2&a=1", "?c=&a=1&b=2", "?z=9"))
      val frag = pick(Seq("", "#f", "#a/b?c=1"))
      s"$scheme://$www$host$port$path$query$frag"
    }
    val out = urls.toDF("u")
      .select(col("u"), T.canonicalizeUrl(col("u")).as("c1"),
        T.canonicalizeUrl(T.canonicalizeUrl(col("u"))).as("c2"))
      .collect()
    out.foreach { row =>
      val (u, c1, c2) = (row.getString(0), row.getString(1), row.getString(2))
      assert(c1 == c2, s"not idempotent: $u -> $c1 -> $c2")
      // canonical invariants, each a contract step
      assert(!c1.contains("#"), s"fragment survived: $u -> $c1")
      val scheme = c1.takeWhile(_ != ':')
      assert(scheme == scheme.toLowerCase, s"scheme case: $c1")
      val host = c1.drop(scheme.length + 3).takeWhile(c => c != '/' && c != '?' && c != ':')
      assert(host == host.toLowerCase && !host.startsWith("www."), s"host: $c1")
      // default-port stripping is SCHEME-relative: :80 on https (and
      // :443 on http) are non-default and must survive
      val portKept = c1.drop(scheme.length + 3)
        .takeWhile(c => c != '/' && c != '?').dropWhile(_ != ':')
      assert(!(scheme == "https" && portKept == ":443") &&
        !(scheme == "http" && portKept == ":80"),
        s"default port survived: $u -> $c1")
      val path = c1.drop(scheme.length + 3).dropWhile(c => c != '/' && c != '?')
        .takeWhile(_ != '?')
      assert(!path.endsWith("/"), s"trailing slash survived: $u -> $c1")
      val q = c1.dropWhile(_ != '?').drop(1)
      if (q.nonEmpty) {
        val parts = q.split("&").toSeq
        assert(parts == parts.sorted, s"query unsorted: $u -> $c1")
      }
    }
  }

  test("unicodeFold property: idempotent over mixed-script random strings") {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val r = new scala.util.Random(11)
    // draw whole CODE POINTS (string atoms), never raw chars — char
    // indexing would split the emoji's surrogate pair into lone halves
    val atoms = "abZ 9.áÉöÜçñ中文日ελкир".map(_.toString) ++ Seq(
      "é", // combining acute riding a base letter
      new String(Character.toChars(0x1F600))) // non-BMP, non-mark: must survive
    val strings = Seq.fill(200)(
      (0 until r.nextInt(24)).map(_ => atoms(r.nextInt(atoms.size))).mkString)
    val out = strings.toDF("s")
      .select(T.unicodeFold(col("s")).as("f1"),
        T.unicodeFold(T.unicodeFold(col("s"))).as("f2"))
      .collect()
    out.zip(strings).foreach { case (row, s) =>
      assert(row.getString(0) == row.getString(1), s"not idempotent on: $s")
      // folded text carries no combining marks and no uppercase
      val f = row.getString(0)
      var i = 0
      while (i < f.length) {
        val cp = f.codePointAt(i)
        assert(Character.getType(cp) != Character.NON_SPACING_MARK,
          s"mark survived in: $s -> $f")
        assert(!Character.isUpperCase(cp), s"uppercase survived in: $s -> $f")
        i += Character.charCount(cp)
      }
    }
  }

}
