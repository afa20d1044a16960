package graft

import org.apache.spark.sql.functions._
import graft.functions.{HofReference, TextFunctions => TF}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** Word n-gram shingles of a token array (["a", "b", "c"] with n=2 →
    * ["a b", "b c"]); empty when there are fewer than n tokens. */
  private def shingles(toks: org.apache.spark.sql.Column, n: Int) =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  test("tokens and counts") {
    val df = Seq("  a b  c ", "x", "").toDF("t")
    val r = df.select(TF.tokenCount(col("t"))).as[Int].collect()
    assert(r(0) == 3 && r(1) == 1)
  }

  test("word shingles") {
    val df = Seq("a b c d").toDF("t")
    val r = df.select(shingles(TF.tokens(col("t")), 3)).as[Seq[String]].head()
    assert(r == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t").select(shingles(TF.tokens(col("t")), 3))
      .as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("char ngrams") {
    // sliding 1-based substrings
    val r = Seq("abcd").toDF("t").select(transform(sequence(lit(1), length(col("t")) - 1),
      i => substring(col("t"), i, lit(2)))).as[Seq[String]].head()
    assert(r == Seq("ab", "bc", "cd"))
  }

  test("shingle jaccard: identical=1, disjoint=0") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("s", "t", "u")
    def jaccard(a: String, b: String) = {
      val sa = array_distinct(shingles(TF.tokens(col(a)), 2))
      val sb = array_distinct(shingles(TF.tokens(col(b)), 2))
      size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb)).cast("double")
    }
    val (same, diff) = df.select(jaccard("s", "t"), jaccard("s", "u")).as[(Double, Double)].head()
    assert(same == 1.0 && diff == 0.0)
  }

  test("normalize + fingerprint idempotent (F3∘F3 = F3)") {
    val df = Seq("  A   b  C ").toDF("t")
    val once = df.select(TF.normalizeText(col("t"))).as[String].head()
    val twice = df.select(TF.normalizeText(TF.normalizeText(col("t")))).as[String].head()
    assert(once == "a b c" && twice == once)
    val fp = df.select(TF.fingerprint(col("t"))).as[String].head()
    assert(fp.length == 64)
  }

  test("occurrences counts non-overlapping whole tokens") {
    val df = Seq(" the cat the dog the ").toDF("t")
    val n = df.select(HofReference.occurrences(col("t"), " the ")).as[Int].head()
    assert(n == 3) // all three padded 'the's; separators don't overlap here
  }

  test("stopword ratio and ttr") {
    val df = Seq("the a the b").toDF("t")
    val (sr, ttr) = df.select(
      TF.stopwordRatio(col("t"), Seq("the", "a")),
      TF.typeTokenRatio(col("t"))).as[(Double, Double)].head()
    assert(sr == 0.75 && ttr == 0.75)
  }

  test("language scoring picks highest-scoring profile, first-wins ties") {
    val profiles = Seq("en" -> Seq("the"), "fr" -> Seq("le"))
    val r = Seq("le chat le the", "nothing here").toDF("t")
      .select(TF.stopwordLanguageScore(col("t"), profiles)).as[String].collect()
    assert(r(0) == "fr")
    assert(r(1) == "en") // 0-0 tie → first profile
  }

  test("hashed linear classifier: integer-exact, order-invariant, empty=0") {
    // reference score computed independently (JDK MessageDigest, BigInt
    // arithmetic) — pins the sha-prefix bucket and Knuth-residue weight
    // contract the DuckDB oracle replays
    def refScore(text: String, k: Int): Long =
      text.trim.split("\\s+").map { tok =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val bucket = java.lang.Long.parseLong(hex.take(8), 16) % k
        (bucket * 2654435761L) % 2001L - 1000L
      }.sum
    val texts = Seq("the quick brown fox", "fox brown quick the", "lone")
    val got = texts.toDF("t")
      .select(TF.linearScoreMilli(TF.tokens(col("t")), 1024)).as[Long].collect()
    texts.zip(got).foreach { case (t, g) =>
      assert(g == refScore(t, 1024), s"score mismatch for '$t'") }
    // bag-of-words: token order cannot change the integer sum
    assert(got(0) == got(1))
    // empty token array → identity element
    val empty = Seq(Seq.empty[String]).toDF("w")
      .select(TF.linearScoreMilli(col("w"), 1024)).as[Long].head()
    assert(empty == 0L)
  }

  test("URL canonicalization collapses variants; non-URLs pass through") {
    val rows = Seq(
      // case + default port + fragment + tracking param → one canonical key
      "HTTP://WWW.Site.COM:80/a/b?utm_source=x&page=2#frag" -> "http://www.site.com/a/b?page=2",
      "http://www.site.com/a/b?page=2" -> "http://www.site.com/a/b?page=2",
      "https://Site.com:443/c?fbclid=zz" -> "https://site.com/c",
      "https://site.com/c" -> "https://site.com/c",
      // non-default port survives; PATH case is significant and survives
      "https://site.com:8443/Api" -> "https://site.com:8443/Api",
      // all params tracking → bare path; bare host → '/'
      "https://a.io/p?utm_a=1&utm_b=2" -> "https://a.io/p",
      "https://a.io?gclid=1" -> "https://a.io/",
      // mid-query tracking param: separator repaired for the survivor
      "https://a.io/p?utm_a=1&keep=2&utm_b=3" -> "https://a.io/p?keep=2",
      // literal '&' in the PATH with nothing stripped must survive — the
      // old flat strip promoted it to '?' and collapsed distinct pages
      "http://x.com/p&q" -> "http://x.com/p&q",
      "http://x.com/p&q?utm_a=1" -> "http://x.com/p&q",
      "http://x.com/p&q?utm_a=1&keep=2" -> "http://x.com/p&q?keep=2",
      // not a URL → unchanged
      "just some text" -> "just some text")
    val got = rows.map(_._1).toDF("u").select(TF.canonicalizeUrl(col("u"))).as[String].collect()
    rows.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"$want != $g") }
    // idempotence: a canonical URL is its own canonical form (dedup keys
    // must be stable under re-canonicalization)
    val twice = rows.map(_._1).toDF("u")
      .select(TF.canonicalizeUrl(TF.canonicalizeUrl(col("u")))).as[String].collect()
    got.zip(twice).foreach { case (once, again) => assert(once == again, s"$once re-canonicalized to $again") }
  }

  test("PII redaction: emails, IPs, phones replaced; near-misses untouched") {
    val rows = Seq(
      "mail a.b+c@sub.example.org now" -> "mail <EMAIL> now",
      "host 192.168.0.1 up" -> "host <IP> up",
      "call 555-123-4567 today" -> "call <PHONE> today",
      // all three in one text, order independent of pattern order
      "x@y.io 10.0.0.7 555-000-1111" -> "<EMAIL> <IP> <PHONE>",
      // near-misses must survive: no TLD, 5-part quad is not an IPv4,
      // 4-3-4 digits is not a NNN-NNN-NNNN phone
      "not-an-email a@b c 1.2.3.4.5 5555-123-4567" ->
        "not-an-email a@b c <IP>.5 5555-123-4567",
      "plain prose stays" -> "plain prose stays")
    val out = rows.map(_._1).toDF("t").select(TF.redactPii(col("t"))).as[String].collect()
    rows.map(_._2).zip(out).foreach { case (want, got) => assert(got == want, s"$want != $got") }
  }

  test("markup strip: script/style bodies dropped, entities decode last, whitespace collapsed") {
    val rows = Seq(
      // script/style BODIES must vanish (tag-strip alone would leak them);
      // multiline + attribute-bearing + case-insensitive tags
      "<p>keep</p><script type=\"x\">if (a < 2 && b > 1)\n{ leak(); }</script><STYLE>p{color:red}</STYLE>done"
        -> "keep done",
      // comments out, tags → spaces so adjacent words never fuse
      "a<!-- no\nthing -->b<br>c<div class=\"x\">d</div>" -> "a b c d",
      // entities decode; &amp; decodes LAST so &amp;lt; is the literal
      // string "&lt;", and a decoded &lt;b&gt; stays visible (never
      // re-eaten by the tag pass)
      "&lt;b&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y &amp; &amp;lt;raw&amp;gt;"
        -> "<b> \"q\" 's' x y & &lt;raw&gt;",
      "pre <b>mid</b> post" -> "pre mid post",
      // unclosed script: the lazy block-match finds no terminator so only
      // the TAG is stripped — extraction degrades to leaking that body
      // rather than eating the rest of the document
      "keep <script>x = leak()" -> "keep x = leak()",
      "   spaced\t\tout\n\n doc  " -> "spaced out doc")
    val got = rows.map(_._1).toDF("h").select(TF.stripMarkup(col("h"))).as[String].collect()
    rows.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"[$want] != [$g]") }
  }

  test("cleanText: NFC composes, zero-widths/controls strip, whitespace folds") {
    val decomposed = "caf" + "e" + "\u0301"        // e + combining acute
    val composed = "café"                     // precomposed é
    val rows = Seq(
      decomposed -> composed,                      // NFC canonical composition
      composed -> composed,                        // already-NFC fast path is identity
      ("zero\u200Bwidth\u200D\uFEFFgone") -> "zerowidthgone", // format chars strip to nothing
      // a format char BETWEEN base char and combining mark would block
      // NFC if normalization ran first; strip-then-compose yields \u00E9
      ("caf" + "e" + "\u200B" + "\u0301") -> "caf\u00E9",
      ("ctrl\u0001\u0002here") -> "ctrlhere",      // C0 controls strip
      ("del\u007F\u0085c1\u009Fx") -> "delc1x",    // DEL + C1 strip
      ("a\u000Bb\fc") -> "a b c",                  // VT/FF are whitespace: fold, don't glue
      ("  tabs\t\tand\n\nnewlines  ") -> "tabs and newlines",
      "" -> "")
    val got = rows.map(_._1).toDF("t").select(TF.cleanText(col("t"))).as[String].collect()
    rows.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"[$want] != [$g]") }
    // NULL in → NULL out (null-intolerant unary expression semantics)
    val n = Seq[String](null).toDF("t").select(TF.cleanText(col("t"))).collect()
    assert(n.head.isNullAt(0))
    // idempotent: cleanText(cleanText(x)) == cleanText(x)
    val once = rows.map(_._1).toDF("t").select(TF.cleanText(col("t")).as("c"))
    val twice = once.select(TF.cleanText(col("c"))).as[String].collect()
    assert(twice.toSeq == got.toSeq)
    // the native expression is registered for SQL too
    rows.map(_._1).toDF("t").createOrReplaceTempView("clean_in")
    val viaSql = spark.sql("SELECT graft_nfc(t) FROM clean_in").count()
    assert(viaSql == rows.size)
  }

  test("stopwordLanguageScore: NULL text classifies as NULL, not the last profile") {
    val profiles = Seq("en" -> Seq("the", "and"), "fr" -> Seq("le", "la"))
    val got = Seq(Option("the cat and dog"), None, Option("le chat la nuit"))
      .toDF("text")
      .select(TF.stopwordLanguageScore(col("text"), profiles).as("lang"))
      .as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("en"), None, Some("fr")), got.toSeq.toString)
  }
}
