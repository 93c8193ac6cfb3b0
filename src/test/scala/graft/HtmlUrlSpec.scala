package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, HtmlOps, TextOps, UrlOps}

/** HTML extraction chain, URL canonicalization, and the WARC → documents
  * bridge (SURVEY §2 rows 119-120 + HtmlOps.warcToDocuments). */
class HtmlUrlSpec extends SparkSpec {

  private def extract(html: String): String = {
    import spark.implicits._
    Seq(html).toDF("h").select(HtmlOps.extractText(col("h")).as("t"))
      .collect().head.getString(0)
  }

  test("extractText strips blocks/tags, decodes entities, collapses whitespace") {
    val html =
      """<html><head><title>My Page</title>
        |<style type="text/css">body { color: red; }</style>
        |<SCRIPT src="x.js">var a = 1 < 2; track("</p>");</SCRIPT>
        |</head><body><!-- hidden
        |comment --><nav><a href="/">home</a></nav>
        |<h1>Header</h1>
        |<p>one &amp; two &lt;three&gt;&nbsp;&quot;four&quot; &#39;five&#39;</p>
        |<p>already &amp;lt; stays literal</p>
        |</body></html>""".stripMargin
    assert(extract(html) ==
      "My Page home Header one & two <three> \"four\" 'five' already &lt; stays literal")
  }

  test("entity decode: decimal ≡ hex ≡ named; unknowns and invalids verbatim") {
    // the round-14 completion: all three reference forms of one
    // codepoint agree post-extraction
    assert(extract("<p>caf&#233; caf&#xE9; caf&eacute;</p>") == "café café café")
    assert(extract("<p>&rsquo;&lsquo; &mdash;&ndash; &hellip; &copy;&trade; 5&deg;</p>")
      == "’‘ —– … ©™ 5°")
    // space-family refs normalize to plain space (named ≡ numeric), then
    // collapse with their neighbors
    assert(extract("a&nbsp;&#160;&#xA0;b &ensp;&thinsp; c") == "a b c")
    // unknown names, malformed refs, and invalid codepoints pass VERBATIM
    assert(extract("&unknown; &noSemi &#0; &#55296; &#1114112; &#xD800;")
      == "&unknown; &noSemi &#0; &#55296; &#1114112; &#xD800;")
    // single-pass: decoded output is never rescanned
    assert(extract("&amp;lt; &amp;#38; &#38;#x41;") == "&lt; &#38; &#x41;")
    // astral plane decodes to the surrogate pair (Spark-side; the
    // synthetic oracle universe stays BMP-only by construction)
    assert(extract("&#x1F600;") == new String(Character.toChars(0x1F600)))
    assert(extract("&#128512;") == new String(Character.toChars(0x1F600)))
  }

  test("html_text_extract: direct ≡ interpreted eval ≡ codegen on every route") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val cases = Seq(
      "<html><p>a &amp; b</p><!-- c --></html>",
      "<script>x<y; t(\"</p>\");</script>ok &#233; &eacute;",
      "", "   ", "no markup at all", "&unknown; &#xD800; <b>t</b>",
      "\tedge tabs collapse to spaces, then trim\t")
    cases.foreach { h =>
      val direct = graft.plans.HtmlExtract.extract(h)
      val interp = graft.plans.HtmlTextExtract(
        Literal(UTF8String.fromString(h), StringType)).eval(null).toString
      assert(direct == interp, s"interp <$h>")
      assert(extract(h) == direct, s"codegen <$h>")
    }
    assert(graft.plans.HtmlExtract.extract(" x ") == "x")
  }

  test("main_content drops page-unique link-heavy chrome, keeps body text") {
    import spark.implicits._
    import graft.plans.MainContent
    val body = "the quick brown fox jumps over the lazy dog tonight"
    val page =
      "<html><body>" +
      "<header><a href=\"/\">Home</a> <a href=\"/x\">X</a></header>" + // word-poor
      s"<p>$body</p>" + // content: >=5 words, no links
      "<p>Too short.</p>" + // short-block rule
      "<div>Related reading list here today: <a href=\"/a\">one long related link</a>" +
      " <a href=\"/b\">another long related link</a></div>" + // link-dominated
      "<ul><li>a plain unordered list item with enough words</li></ul>" +
      "<div>mostly words with a small <a href=\"/c\">link</a> inside the flow" +
      " of a real sentence</div>" + // link_chars*3 <= len → keeps
      "</body></html>"
    val got = MainContent.extract(page)
    assert(got == body +
      " a plain unordered list item with enough words" +
      " mostly words with a small link inside the flow of a real sentence",
      got)
    // never throws, total over garbage
    Seq("", "<", "<a>", "<p></p>", "no tags at all but enough words here")
      .foreach(MainContent.extract)
    assert(MainContent.extract("no tags at all but enough words here") ==
      "no tags at all but enough words here")
    // eval ≡ codegen ≡ direct through the registered expression
    graft.plans.GraftFunctions.register(spark)
    val viaDf = Seq(page).toDF("h")
      .select(call_function("main_content", col("h"))).collect().head.getString(0)
    assert(viaDf == got, "codegen parity")
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(graft.plans.MainContentExtract(Literal(page)).eval(null).toString
      == got, "interpreted parity")
    // the real pipeline ORDER: main_content consumes raw markup, THEN
    // the extraction chain decodes entities/collapses — the sidebar is
    // gone and the body's character references are decoded
    val entPage = "<div>Related: <a href=\"/a\">one long related link</a>" +
      " <a href=\"/b\">two long related links</a></div>" +
      "<p>caf&eacute; &amp; cr&egrave;me with plenty of words here</p>"
    val composed = Seq(entPage).toDF("h")
      .select(call_function("html_text_extract",
        call_function("main_content", col("h")))).collect().head.getString(0)
    assert(composed == "café & crème with plenty of words here", composed)
  }

  test("canon normalizes scheme/host case, ports, fragments, tracking, slashes") {
    import spark.implicits._
    val cases = Seq(
      "HTTP://WWW.Example.COM:80/a/b" -> "http://www.example.com/a/b",
      "https://h.io:443/x" -> "https://h.io/x",
      "https://h.io:8443/x" -> "https://h.io:8443/x", // non-default port kept
      "http://h.io/a//b///c/" -> "http://h.io/a/b/c",
      "http://h.io/a#frag" -> "http://h.io/a",
      "http://h.io/a?utm_source=x&utm_medium=y" -> "http://h.io/a",
      // tracking removed mid-query, real params survive with repaired '?'
      "http://h.io/a?utm_source=x&q=1&fbclid=zz&r=2" -> "http://h.io/a?q=1&r=2",
      "http://h.io/a?q=1&gclid=abc" -> "http://h.io/a?q=1",
      "http://h.io/" -> "http://h.io",
      // '&' is a legal PATH character — never a delimiter without a '?'
      "http://h.io/a&b" -> "http://h.io/a&b",
      "http://h.io/a&b?utm_source=x&c=1" -> "http://h.io/a&b?c=1",
      "  http://h.io/a  " -> "http://h.io/a",
      // RFC 3986 §6.2.2.2 percent-encoding normalization (round 15):
      // unreserved escapes decode (%41→A, %7E→~, %2D→-) …
      "http://h.io/p%41th" -> "http://h.io/pAth",
      "http://h.io/%7Euser/%66%69le%2Dv2" -> "http://h.io/~user/file-v2",
      // … reserved/other escapes KEEP their encoding, hex uppercased —
      // %2F is data, never a path delimiter, and %25 ('%') never decodes
      "http://h.io/a%2Fb" -> "http://h.io/a%2Fb",
      "http://h.io/a%2fb" -> "http://h.io/a%2Fb",
      "http://h.io/q%3f?x=%20%2b" -> "http://h.io/q%3F?x=%20%2B",
      "http://h.io/p%2541" -> "http://h.io/p%2541", // no rescan of output
      // a stray '%' (invalid escape) re-encodes as %25 — the fixpoint
      // rule (ADVICE r15): verbatim pass-through let '%%341' become
      // '%41' whose RE-canonicalization decoded to 'A', shifting the
      // identity of a stored canon_url fed back through ingest
      "http://h.io/bad%G1%4" -> "http://h.io/bad%25G1%254",
      "http://h.io/p%%341" -> "http://h.io/p%2541",
      // a decoded unreserved escape composes with the later rules:
      // the %75tm spelling of a tracking param still strips
      "http://h.io/a?%75tm_source=x&q=1" -> "http://h.io/a?q=1",
      "not a url" -> "not a url") // no scheme://host → trimmed passthrough
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), UrlOps.canon(col("u")).as("c")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canon($in) = ${got(in)}, want $want")
    }
  }

  test("pct_normalize: direct ≡ interpreted ≡ codegen, and the registry route") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.plans.{PctCodec, PctNormalize}
    graft.plans.GraftFunctions.register(spark)
    val cases = Seq(
      "http://h.io/p%41th%2f%G1%4%", "%7e%5A%30%2e%5F", "", "no escapes",
      "%", "%2541", "a%ffb", "%00", "caf%C3%A9") // UTF-8 é stays encoded
    val direct = cases.map(PctCodec.normalize)
    assert(direct(1) == "~Z0._", "unreserved set decodes")
    assert(direct(8) == "caf%C3%A9", "non-unreserved keeps encoding")
    cases.zip(direct).foreach { case (in, want) =>
      val interp = PctNormalize(Literal(in)).eval(null).toString
      assert(interp == want, s"interp <$in>")
    }
    val viaDf = cases.toDF("s")
      .select(call_function("pct_normalize", col("s"))).collect()
      .map(_.getString(0))
    assert(viaDf.toSeq == direct, "codegen ≡ direct")
  }

  test("canonIdn unifies Unicode and Punycode spellings of one host (RFC 3490)") {
    import spark.implicits._
    import graft.plans.IdnCodec.normalizeHost
    // RFC 3492-style published vectors through the host converter
    assert(normalizeHost("http://bücher.example/x") ==
      "http://xn--bcher-kva.example/x")
    assert(normalizeHost("http://BÜCHER.example/x") ==
      "http://xn--bcher-kva.example/x", "nameprep case-folds")
    assert(normalizeHost("https://münchen.de:8443/a?q=1#f") ==
      "https://xn--mnchen-3ya.de:8443/a?q=1#f", "port/path/query preserved")
    assert(normalizeHost("http://u@bücher.example/x") ==
      "http://u@xn--bcher-kva.example/x", "userinfo preserved")
    // ASCII hosts pass through untouched (case included — canon's
    // lowercase runs later); non-ASCII in the PATH is data, not a host
    assert(normalizeHost("http://ExAmple.COM/Ü") == "http://ExAmple.COM/Ü")
    assert(normalizeHost("not a url ü") == "not a url ü")
    // garbage hosts the JDK rejects pass through verbatim, never throw
    assert(normalizeHost("http://bad..ü/x") == "http://bad..ü/x")
    assert(normalizeHost("http://" + "ü" * 80 + ".example/") ==
      "http://" + "ü" * 80 + ".example/", "overlong label survives")
    // the full identity: both spellings collapse to ONE canonical URL
    val got = Seq("http://BÜCHER.example/x#f",
      "http://xn--bcher-kva.EXAMPLE/x").toDF("u")
      .select(UrlOps.canonIdn(col("u")).as("c")).collect().map(_.getString(0))
    assert(got.toSet == Set("http://xn--bcher-kva.example/x"), got.toSeq)
    // registered SQL surface + codegen parity
    graft.plans.GraftFunctions.register(spark)
    val viaSql = Seq("http://bücher.example/x").toDF("u")
      .select(call_function("idn_host", col("u"))).collect().head.getString(0)
    assert(viaSql == "http://xn--bcher-kva.example/x")
  }

  test("warc ingest keys Unicode- and Punycode-host fetches to one identity") {
    val dir = SparkSpec.tempDir("graft_warc_idn")
    val recs =
      record("response", "http://bücher.example/page",
        http("200 OK", "text/html", "<p>erste fassung der seite</p>".getBytes(UTF_8))) ++
      record("response", "http://xn--bcher-kva.example/page",
        http("200 OK", "text/html", "<p>zweite fassung der seite</p>".getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, _) = HtmlOps.warcToDocuments(
      graft.sources.WarcSource.read(spark, dir.toString))
    val rows = clean.collect()
    assert(rows.map(_.getAs[String]("url")).toSet ==
      Set("http://xn--bcher-kva.example/page"), rows.toSeq)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 1,
      "one canonical identity for both spellings")
  }

  test("urlDedup collapses all seven messy variants of one page") {
    import spark.implicits._
    // doc_ids 7, 107, …, 607 share source+path, cycle the variants
    // (incl. the round-15 %-spellings: %64ocs path, %-bearing gclid)
    val docs = (0 to 6).map(i => (7L + 100 * i, "src3")).toDF("doc_id", "source")
    val out = UrlOps.urlDedup(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("canon_url") == "http://src3.example.com/docs/7")
    assert(r.getAs[Long]("doc_id") == 7L)
    assert(r.getAs[Long]("n_docs") == 7L)
    assert(r.getAs[Long]("n_variants") == 7L)
  }

  test("urlFilterOf: domain list blocks subdomains but not lookalikes; patterns match raw") {
    import spark.implicits._
    val docs = Seq(
      (1L, "http://bad.example/page"),            // exact domain match
      (2L, "http://sub.deep.bad.example/x"),      // any-depth subdomain
      (3L, "http://notbad.example/x"),            // lookalike: NOT blocked
      (4L, "http://ok.example/buy?ref=CASINO-1"), // pattern, case-folded
      (5L, "HTTP://OK.EXAMPLE:80/fine"),          // canon host, clean
      (6L, "http://ok.example/casino-guide"))     // pattern in the path
      .toDF("doc_id", "url")
    val got = UrlOps.urlFilterOf(docs, Seq("bad.example"), Seq("casino"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) == (("bad.example", true, false, false)), got(1L))
    assert(got(2L) == (("sub.deep.bad.example", true, false, false)), got(2L))
    assert(got(3L) == (("notbad.example", false, false, true)), got(3L))
    assert(got(4L) == (("ok.example", false, true, false)), got(4L))
    assert(got(5L) == (("ok.example", false, false, true)), got(5L))
    assert(got(6L) == (("ok.example", false, true, false)), got(6L))
    // empty lists: the gate is inert
    assert(UrlOps.urlFilterOf(docs, Nil, Nil)
      .filter(col("url_ok")).count() == 6)
  }

  test("linkExtract canonicalizes and dedupes the synthetic outlinks") {
    import spark.implicits._
    val docs = Seq((7L, "src3")).toDF("doc_id", "source")
    val out = HtmlOps.linkExtract(docs).collect().map(_.getString(1))
    // three raw hrefs; the tracking-only and trailing-slash variants of
    // link one collapse → exactly two distinct canonical targets
    assert(out.toSeq == Seq(
      "http://src3.example.com/docs/62", // (7*7+13)%100, both variants
      "http://src3.example.com/docs/82"), // (7*11+5)%100, :80 + fragment gone
      out.toSeq.toString)
  }

  test("pagerank conserves damped mass and rewards in-degree") {
    import spark.implicits._
    import graft.operators.GraphOps
    val docs = (0L until 20L).map(i => (i, s"s$i")).toDF("doc_id", "source")
    val pr = GraphOps.pagerank(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.size == 20)
    assert(pr.values.forall(_ > 0))
    // total mass ≤ Q (integer truncation + dangling leak only shrink it)
    assert(pr.values.sum <= 1000000000000L)
    // a BigInt re-derivation of one full round must agree exactly
    val n = 20L
    val edges = for {
      i <- 0L until n; k <- 1 to 3
      d = (i * 7 + 13 * k) % n if d != i
    } yield (i, d)
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var p = (0L until n).map(_ -> 1000000000000L / n).toMap
    (1 to GraphOps.Rounds).foreach { _ =>
      val infl = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => p(s) / odeg(s) }.sum
      }
      val dang = p.collect { case (i, m) if !odeg.contains(i) => m }.sum
      p = (0L until n).map(i =>
        i -> ((15L * (1000000000000L / n)) / 100 +
          (85L * (infl.getOrElse(i, 0L) + dang / n)) / 100)).toMap
    }
    assert(pr == p, "Spark ranks must equal the independent integer replay")
  }

  test("pagerank redistributes dangling mass instead of leaking it") {
    import spark.implicits._
    import graft.operators.GraphOps
    val Q = 1000000000000L
    // sparse ids {0, 5, 11} with n = max+1 = 12: targets (7i+13k) mod 12
    // give node 0 → {1,2,3} and node 11 → {6,7,8}, none of which exist →
    // BOTH are dangling; node 5 keeps one edge (5 → 0)
    val ids = Seq(0L, 5L, 11L)
    val docs = ids.map(i => (i, s"s$i")).toDF("doc_id", "source")
    val pr = GraphOps.pagerank(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = 12L
    val edges = for {
      i <- ids; k <- 1 to 3
      d = (i * 7 + 13 * k) % n if d != i && ids.contains(d)
    } yield (i, d)
    assert(edges == Seq((5L, 0L)), s"fixture sanity: $edges")
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var p = ids.map(_ -> Q / n).toMap
    var leak = ids.map(_ -> Q / n).toMap // the old drop-dangling model
    (1 to GraphOps.Rounds).foreach { _ =>
      val infl = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => p(s) / odeg(s) }.sum
      }
      val inflLeak = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => leak(s) / odeg(s) }.sum
      }
      val dang = p.collect { case (i, m) if !odeg.contains(i) => m }.sum
      assert(dang > 0, "the fixture must actually exercise dangling mass")
      p = ids.map(i => i -> ((15L * (Q / n)) / 100 +
        (85L * (infl.getOrElse(i, 0L) + dang / n)) / 100)).toMap
      leak = ids.map(i => i -> ((15L * (Q / n)) / 100 +
        (85L * inflLeak.getOrElse(i, 0L)) / 100)).toMap
    }
    assert(pr == p, s"Spark must match the redistribution replay: $pr vs $p")
    assert(pr.values.sum > leak.values.sum,
      "redistribution must retain strictly more mass than the leak model")
  }

  test("robotsFilter: most-specific match wins; Allow overrides; wildcards bite") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src3's rules: Disallow /docs/3, Allow /docs/33 (longer), and the
    // round-13 wildcard Disallow /docs/*0$ (t = (3+7)%10 = 0 — blocks
    // docs paths ENDING in 0; pattern length 9 outranks /docs/3's 7)
    val docs = Seq((30L, "src3"), (33L, "src3"), (50L, "src3"), (51L, "src3"))
      .toDF("doc_id", "source")
    val out = CrawlOps.robotsFilter(docs).collect()
      .map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getBoolean(2))).toMap
    assert(out("http://src3.example.com/docs/30") ==
      (Some("/docs/*0$"), false),
      "the 9-octet wildcard pattern outranks the 7-octet prefix")
    assert(out("http://src3.example.com/docs/33") ==
      (Some("/docs/33"), true), "the longer Allow must win")
    assert(out("http://src3.example.com/docs/50") ==
      (Some("/docs/*0$"), false), "ends in 0 → the $-anchored rule bites")
    assert(out("http://src3.example.com/docs/51") == (None, true))
  }

  test("matchRules: RFC 9309 wildcard semantics — * spans, $ anchors, LIKE chars literal") {
    import spark.implicits._
    import graft.operators.CrawlOps
    def matched(path: String, rules: Seq[(String, Boolean)]): Option[(String, Boolean)] = {
      val parts = Seq(("u", "h", path)).toDF("canon_url", "source", "path")
      val rf = rules.map { case (p, a) => ("h", p, a) }
        .toDF("source", "prefix", "allow")
      val r = CrawlOps.matchRules(parts, rf, Seq.empty)
        .select(col("m.prefix"), col("m.allow")).collect().head
      if (r.isNullAt(0)) None else Some((r.getString(0), r.getBoolean(1)))
    }
    // * spans any bytes including empty; the pattern still matches a
    // PREFIX of the path unless $-anchored
    assert(matched("/a/xyz/c/tail", Seq("/a/*/c" -> false)) ==
      Some(("/a/*/c", false)))
    assert(matched("/a//c", Seq("/a/*/c" -> false)) == Some(("/a/*/c", false)),
      "* matches empty")
    assert(matched("/a/x/d", Seq("/a/*/c" -> false)) == None)
    // final $ anchors to the END of the path
    assert(matched("/p/file.pdf", Seq("/p/*.pdf$" -> false)) ==
      Some(("/p/*.pdf$", false)))
    assert(matched("/p/file.pdf?x=1", Seq("/p/*.pdf$" -> false)) == None,
      "$ must not match a path with a trailing query")
    assert(matched("/p/file.pdf?x=1", Seq("/p/*.pdf" -> false)) ==
      Some(("/p/*.pdf", false)), "un-anchored form matches the prefix")
    // a NON-final $ is a literal octet (RFC: only the last char anchors)
    assert(matched("/a$b/c", Seq("/a$b" -> false)) == Some(("/a$b", false)))
    // LIKE metacharacters in the rule are literal path bytes, not wildcards
    assert(matched("/100%25/x", Seq("/100%25" -> false)) ==
      Some(("/100%25", false)))
    assert(matched("/100X25/x", Seq("/100%25" -> false)) == None,
      "% in a rule must not behave as a LIKE wildcard")
    assert(matched("/a_b", Seq("/a_b" -> false)) == Some(("/a_b", false)))
    assert(matched("/aXb", Seq("/a_b" -> false)) == None,
      "_ in a rule must not behave as a LIKE single-char wildcard")
    // specificity = pattern octet length; equal length → Allow wins
    assert(matched("/dir/page9", Seq("/dir/page" -> true, "/dir/*9$" -> false))
      == Some(("/dir/page", true)), "9-octet Allow vs 8-octet wildcard")
    assert(matched("/dir/page9", Seq("/dir/pag" -> true, "/dir/*9$" -> false))
      == Some(("/dir/pag", true)),
      "8-octet tie between Allow and the wildcard Disallow → Allow wins")
    assert(matched("/dir/page9", Seq("/dir/pa" -> true, "/dir/*9$" -> false))
      == Some(("/dir/*9$", false)),
      "the 8-octet wildcard outranks a 7-octet Allow")
  }

  test("sitemapUrlOf parses the GLOBAL Sitemap directive outside any group") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val docs = Seq((0L, "src3"), (1L, "src17")).toDF("doc_id", "source")
    val got = CrawlOps.sitemapUrlOf(docs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "src3" -> "http://src3.example.com/sitemap.xml",
      "src17" -> "http://src17.example.com/sitemap.xml"), got)
  }

  test("real crawled robots.txt (CRLF, via WARC) parses through the general face") {
    import graft.operators.CrawlOps
    import org.apache.spark.sql.functions.regexp_extract
    val dir = SparkSpec.tempDir("graft_warc_robots")
    // a REAL robots body: CRLF endings, global Sitemap, a foreign group
    val robots = "# robots\r\n" +
      "Sitemap: http://h1.example.com/sitemap.xml\r\n" +
      "User-agent: megabot\r\nDisallow: /private\r\n" +
      "\r\n" +
      "User-agent: *\r\nCrawl-delay: 7\r\nDisallow: /a\r\nAllow: /a/b\r\n" +
      // copy-paste robots REPEAT directives — a duplicate Crawl-delay
      // must reduce to ONE row (most conservative wins) or the delay
      // join fans the schedule out
      "Crawl-delay: 3\r\n" +
      "Disallow: \r\n" // EMPTY value = no restriction (RFC 9309) — dropped
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://h1.example.com/robots.txt",
        http("200 OK", "text/plain", robots.getBytes(US_ASCII))))
    val bodies = graft.sources.WarcSource.httpResponses(
        graft.sources.WarcSource.read(spark, dir.toString))
      .select(regexp_extract(col("target_uri"),
        "^https?://([^./]+)\\.", 1).as("source"), col("body"))
    val (rules, delays, sitemaps) = CrawlOps.parseRobotsBodies(bodies)
    assert(rules.collect().map(r =>
      (r.getString(0), r.getString(1), r.getBoolean(2))).toSet ==
      Set(("h1", "/a", false), ("h1", "/a/b", true)),
      "star-group rules only — the foreign group's /private must not leak")
    assert(delays.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("h1", 7L)))
    assert(sitemaps.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("h1", "http://h1.example.com/sitemap.xml")))
  }

  test("robots group selection: agent-specific groups, stacked headers, case-insensitive") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val bodies = Seq(
      // h1: an orphan directive (no group — must drop), a graftbot
      // group AND a star group — graftbot prefers its own
      ("h1", "Disallow: /orphan\nUser-agent: graftbot\nDisallow: /g\n\n" +
        "User-agent: *\nDisallow: /s"),
      // h2: STACKED headers in one run (both agents share the rules) +
      // a case-variant header spelling
      ("h2", "User-Agent: otherbot\nUser-agent: GraftBot\nDisallow: /shared"),
      // h3: star only — graftbot falls back to it
      ("h3", "User-agent: *\nDisallow: /fallback"))
      .toDF("source", "body")
    def rulesFor(agent: String): Set[(String, String)] = {
      val (rules, _, _) = CrawlOps.parseRobotsBodies(bodies, agent)
      rules.collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    assert(rulesFor("graftbot") == Set(
      ("h1", "/g"), ("h2", "/shared"), ("h3", "/fallback")), rulesFor("graftbot"))
    // the default star agent: h1 star group, h2 has NO star group →
    // no rules (allow-all), h3 star group; the orphan never appears
    assert(rulesFor("*") == Set(("h1", "/s"), ("h3", "/fallback")), rulesFor("*"))
  }

  test("robots body caps at 500 KiB (RFC 9309 §2.4): prefix parses, host stays gated") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // a hostile oversized body: real rules in the first KB, then megabytes
    // of filler lines, then a rule ONLY past the cap — the kept prefix
    // must parse (the host stays gated), the past-cap rule must not,
    // and the line the cut lands inside must drop, not parse mangled
    val filler = ("# " + "x" * 96 + "\n") * ((2 * 1024 * 1024) / 99)
    val body = "User-agent: *\nDisallow: /gated\n" + filler +
      "Disallow: /past-the-cap\n"
    assert(body.length > CrawlOps.MaxRobotsChars)
    val bodies = Seq(("h1", body)).toDF("source", "body")
    val (rules, _, _) = CrawlOps.parseRobotsBodies(bodies)
    val got = rules.collect().map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(got == Set(("/gated", false)), got.toString)
    // and a body exactly under the cap keeps its final rule
    val small = "User-agent: *\nDisallow: /gated\nDisallow: /tail"
    val (rules2, _, _) = CrawlOps.parseRobotsBodies(
      Seq(("h2", small)).toDF("source", "body"))
    assert(rules2.collect().map(_.getString(1)).toSet ==
      Set("/gated", "/tail"))
    // cap landing exactly at the END of a complete directive (its
    // newline is the first char past the cap): the intact rule is KEPT
    // (round 19) — only a truly unterminated fragment drops
    val head = "User-agent: *\nDisallow: /first\n"
    val tail = "Disallow: /exact"
    val pad = "# " + "y" * (CrawlOps.MaxRobotsChars - head.length -
      tail.length - 3) + "\n"
    val exact = head + pad + tail + "\nDisallow: /past\n"
    assert((head + pad + tail).length == CrawlOps.MaxRobotsChars)
    val (rules3, _, _) = CrawlOps.parseRobotsBodies(
      Seq(("h3", exact)).toDF("source", "body"))
    assert(rules3.collect().map(_.getString(1)).toSet ==
      Set("/first", "/exact"), "directive ending AT the cap must survive")
    // a >cap body with no newline anywhere in the window: zero
    // directives → no rules for the host (unparseable robots =
    // allow-all), and nothing throws
    val noNl = "z" * (CrawlOps.MaxRobotsChars + 1000)
    val (rules4, _, _) = CrawlOps.parseRobotsBodies(
      Seq(("h4", noNl)).toDF("source", "body"))
    assert(rules4.collect().isEmpty)
  }

  test("robotsParse scopes to the * group and equals the declared rules table") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val docs = Seq((0L, "src3"), (1L, "src17")).toDF("doc_id", "source")
    val parsed = CrawlOps.robotsParse(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    val declared = CrawlOps.rulesOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(parsed == declared,
      s"textual and relational rule faces must agree:\n$parsed\nvs\n$declared")
    // the foreign group's /private never leaks into the * rules
    assert(!parsed.exists(_._2 == "/private"))
  }

  test("robots rules match percent-aware (RFC 9309 §2.2.2)") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // a real host's rules spelled with escapes: lowercase-hex reserved
    // (%c3%a9 → %C3%A9) and an unreserved escape (%61 → a) — both must
    // match the canonical spelling UrlOps.canon produces for the path
    val bodies = Seq(("h1",
      "User-agent: *\nDisallow: /caf%c3%a9\nDisallow: /p%61th\n"))
      .toDF("source", "body")
    val (rules, _, _) = CrawlOps.parseRobotsBodies(bodies)
    assert(rules.collect().map(_.getString(1)).sorted.toSeq ==
      Seq("/caf%C3%A9", "/path"), "prefixes normalize like the target")
    val urls = Seq(
      "http://h1.example.com/caf%C3%A9/menu",
      "http://h1.example.com/caf%c3%a9",   // hex-case variant, same page
      "http://h1.example.com/p%61th/x",    // decodes to /path/x
      "http://h1.example.com/other")
      .toDF("u")
      .select(UrlOps.canon(col("u")).as("canon_url"))
      .withColumn("source", lit("h1"))
      .withColumn("path",
        regexp_replace(col("canon_url"), "^[a-z]+://[^/?#]*", ""))
    val verdicts = CrawlOps.matchRules(urls, rules, Seq.empty)
      .select(col("canon_url"), CrawlOps.robotsAllowed).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts == Map(
      "http://h1.example.com/caf%C3%A9/menu" -> false,
      "http://h1.example.com/caf%C3%A9" -> false,
      "http://h1.example.com/path/x" -> false,
      "http://h1.example.com/other" -> true), verdicts)
  }

  test("robotsStatusesOf: latest /robots.txt fetch per host gates the matcher") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_rstat")
    def robotsResp(host: String, status: String, date: String): Array[Byte] = {
      val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Date: $date\r\n" +
        s"WARC-Target-URI: http://$host/robots.txt\r\n")
      val payload = (s"HTTP/1.1 $status\r\nContent-Type: text/plain\r\n\r\nUser-agent: *\r\n")
        .getBytes(US_ASCII)
      (hdr + s"Content-Length: ${payload.length}\r\n\r\n").getBytes(US_ASCII) ++
        payload ++ "\r\n\r\n".getBytes(US_ASCII)
    }
    val recs =
      robotsResp("ok.example.com", "200 OK", "2026-08-01T00:00:00Z") ++
      // flapping host: an old 200 SUPERSEDED by a later 503
      robotsResp("flap.example.com", "200 OK", "2026-08-01T00:00:00Z") ++
      robotsResp("flap.example.com", "503 Service Unavailable",
        "2026-08-10T00:00:00Z") ++
      robotsResp("gone.example.com", "404 Not Found", "2026-08-05T00:00:00Z") ++
      // EQUAL-date ties break by conservatism rank (5xx > 2xx > 4xx),
      // not the raw status number: a 404 must NOT beat a 200 (that
      // would discard the host's parsed rules — the least conservative
      // outcome), and a 503 must beat both
      robotsResp("tie.example.com", "404 Not Found", "2026-08-03T00:00:00Z") ++
      robotsResp("tie.example.com", "200 OK", "2026-08-03T00:00:00Z") ++
      robotsResp("tie5.example.com", "503 Service Unavailable",
        "2026-08-03T00:00:00Z") ++
      robotsResp("tie5.example.com", "200 OK", "2026-08-03T00:00:00Z") ++
      // a non-robots response on the same host must not contribute
      record("response", "http://ok.example.com/page",
        http("500 Oops", "text/html", "x".getBytes(US_ASCII)))
    Files.write(dir.resolve("seg.warc"), recs)
    val statuses = CrawlOps.robotsStatusesOf(
      graft.sources.WarcSource.read(spark, dir.toString))
    val got = statuses.collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // FULL-host keys (round 16) — the warcToDocuments convention
    assert(got == Map("ok.example.com" -> 200, "flap.example.com" -> 503,
      "gone.example.com" -> 404, "tie.example.com" -> 200,
      "tie5.example.com" -> 503), got)
    // and the matcher honors it: the flapping host's urls are DISALLOWED
    // even though its (stale) parsed rules would allow them
    val parts = Seq(
      ("http://flap.example.com/a", "flap.example.com", "/a"),
      ("http://ok.example.com/a", "ok.example.com", "/a"))
      .toDF("canon_url", "source", "path")
    val rules = Seq.empty[(String, String, Boolean)]
      .toDF("source", "prefix", "allow")
    val verdicts = CrawlOps.matchRules(parts, rules, statuses, Seq.empty)
      .select(col("canon_url"), CrawlOps.robotsAllowed).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts == Map(
      "http://flap.example.com/a" -> false,
      "http://ok.example.com/a" -> true), verdicts)
  }

  test("robots reachability: 5xx host disallows ALL; 4xx host ignores stale rules") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src8 → robots_status 503 (unreachable), src4 → 404 (absent),
    // src3 → 200 (rules apply); doc ids chosen so each host's url
    // universe includes a path its own rules WOULD block (src4's rules
    // Disallow /docs/4*, id 44; src3 Disallow /docs/3*, id 33)
    val docs = Seq((44L, "src4"), (88L, "src8"), (31L, "src3"))
      .toDF("doc_id", "source")
    val verdicts = CrawlOps.robotsFilter(docs).collect()
      .map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getBoolean(2))).toMap
    // RFC 9309 §2.3.1.4: unreachable robots → assume complete disallow
    assert(verdicts("http://src8.example.com/docs/88") == ((None, false)))
    // §2.3.1.2-adjacent: 4xx = no robots → allow-all, rules ignored
    assert(verdicts("http://src4.example.com/docs/44") == ((None, true)))
    // a 200 host still enforces its rules (/docs/3 blocks id 31)
    assert(verdicts("http://src3.example.com/docs/31") ==
      ((Some("/docs/3"), false)))
    // the 5xx host's urls vanish from the frontier + schedule entirely
    val f = CrawlOps.frontier(docs).collect().map(_.getString(0))
    assert(!f.exists(_.contains("src8.example.com")), f.toSeq)
    assert(f.exists(_.contains("src4.example.com")), f.toSeq)
    val sch = CrawlOps.crawlSchedule(docs).collect().map(_.getString(0))
    assert(!sch.exists(_.contains("src8.example.com")), sch.toSeq)
  }

  test("frontier excludes robots-blocked and already-fetched outlinks") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // doc 7 links to 62/82; doc 31 links to 30 (robots-blocked) and 46;
    // fetch log = this corpus's own urls with path id < 50 → 7 and 31
    val docs = Seq((7L, "src3"), (31L, "src3")).toDF("doc_id", "source")
    val out = CrawlOps.frontier(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map(
      "http://src3.example.com/docs/46" -> 1L,
      "http://src3.example.com/docs/62" -> 1L,
      "http://src3.example.com/docs/82" -> 1L), out)
  }

  test("crawlDelayOf parses the star group's Crawl-delay and equals the declared face") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val docs = Seq((0L, "src3"), (1L, "src17"), (2L, "src20"))
      .toDF("doc_id", "source")
    val parsed = CrawlOps.crawlDelayOf(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // declared face: (idx % 5) + 1
    assert(parsed == Map("src3" -> 4L, "src17" -> 3L, "src20" -> 1L), parsed)
  }

  test("crawlSchedule queues each host's frontier by cumulative Crawl-delay") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // docs 7 + 31 on src3 → frontier {46, 62, 82} (see the frontier spec);
    // src3's delay = 3 % 5 + 1 = 4 s → offsets 0, 4, 8 in canon_url order
    val docs = Seq((7L, "src3"), (31L, "src3")).toDF("doc_id", "source")
    val out = CrawlOps.crawlSchedule(docs).collect()
      .map(r => (r.getAs[String]("canon_url"), r.getAs[Long]("delay_s"),
        r.getAs[Long]("next_allowed_offset_s"), r.getAs[Long]("next_allowed_ts")))
    val e = CrawlOps.ScheduleEpoch
    assert(out.toSeq == Seq(
      ("http://src3.example.com/docs/46", 4L, 0L, e),
      ("http://src3.example.com/docs/62", 4L, 4L, e + 4),
      ("http://src3.example.com/docs/82", 4L, 8L, e + 8)), out.toSeq)
  }

  test("extractClean drops cross-document boilerplate, keeps unique text") {
    import spark.implicits._
    // two byte-identical pages (same source+text → identical extracted
    // text → every 10-token window repeats across the pair and blocks)
    // plus one unique page whose windows survive
    val docs = Seq(
      (1L, "src3", "alpha beta gamma delta shared page body tokens one two"),
      (2L, "src3", "alpha beta gamma delta shared page body tokens one two"),
      (3L, "src9", "completely different unique zebra content for the third page"))
      .toDF("doc_id", "source", "text")
    val out = HtmlOps.extractClean(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_clean"), r.getAs[Long]("n_seg_kept"))).toMap
    assert(out(1L)._1 == "" && out(1L)._2 == 0L,
      s"identical pages must be fully blocklisted: ${out(1L)}")
    assert(out(2L)._1 == "" && out(2L)._2 == 0L)
    assert(out(3L)._1.contains("zebra") && out(3L)._2 > 0L,
      s"unique page must keep its body: ${out(3L)}")
  }

  test("sitemapSeeds recurses the index, keeps newest lastmod, flags triage") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src0 (idx 0): child A → /docs/20 (d1, lastmod 2026-08-01 +
    // weekly/0.8, twice under cosmetic variants) + /docs/2 (d2 messy,
    // no lastmod); child B → /docs/80 (2026-07-20, monthly) + /docs/20
    // again (d4 collides with d1: 2026-06-10 loses to 2026-08-01 under
    // MAX) + /docs/60 (d5: no lastmod, daily + 0.5 — the changefreq
    // prior entry); corpus doc 20 → the fetch log holds /docs/20
    // (id < 50); nothing robots-blocked for these paths (rules
    // Disallow /docs/0)
    val docs = Seq((20L, "src0")).toDF("doc_id", "source")
    val out = CrawlOps.sitemapSeeds(docs).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4)),
        r.getBoolean(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      ("http://src0.example.com/docs/2", "src0", None, None, None,
        true, false),
      ("http://src0.example.com/docs/20", "src0", Some("2026-08-01"),
        Some("weekly"), Some("0.8"), true, true),
      ("http://src0.example.com/docs/60", "src0", None,
        Some("daily"), Some("0.5"), true, false),
      ("http://src0.example.com/docs/80", "src0", Some("2026-07-20"),
        Some("monthly"), None, true, false)),
      out.toSeq)
  }

  test("parseSitemaps: one-level index recursion, orphans parse, indexes don't nest") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val bodies = Seq(
      // index referencing child A under a MESSY url variant + a child
      // the crawl never fetched (contributes nothing)
      ("h1", "http://h1.example.com/sitemap.xml",
        "<sitemapindex><sitemap><loc>HTTP://H1.example.COM:80/maps/a.xml" +
          "</loc></sitemap><sitemap><loc>http://h1.example.com/missing.xml" +
          "</loc></sitemap><sitemap><loc>http://h1.example.com/inner-index.xml" +
          "</loc></sitemap></sitemapindex>"),
      ("h1", "http://h1.example.com/maps/a.xml",
        "<urlset><url><loc>http://h1.example.com/p/1</loc>" +
          "<lastmod>2026-05-01</lastmod></url>" +
          "<url><loc>http://h1.example.com/p/2</loc></url></urlset>"),
      // an index referenced BY an index must not recurse a second level
      ("h1", "http://h1.example.com/inner-index.xml",
        "<sitemapindex><sitemap><loc>http://h1.example.com/maps/deep.xml" +
          "</loc></sitemap></sitemapindex>"),
      ("h1", "http://h1.example.com/maps/deep.xml",
        "<urlset><url><loc>http://h1.example.com/p/deep</loc></url></urlset>"),
      // an orphan urlset (no index references it) still parses
      ("h2", "http://h2.example.com/own.xml",
        "<urlset><url><loc>http://h2.example.com/q/9</loc></url></urlset>"))
      .toDF("source", "url", "body")
    val got = CrawlOps.parseSitemaps(bodies).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    // deep.xml IS in the frame (fetched), so it parses as a standalone
    // urlset — one-level means the INDEX chain doesn't confer reach,
    // not that a fetched urlset is suppressed
    assert(got == Set(
      ("h1", "http://h1.example.com/p/1", Some("2026-05-01")),
      ("h1", "http://h1.example.com/p/2", None),
      ("h1", "http://h1.example.com/p/deep", None),
      ("h2", "http://h2.example.com/q/9", None)), got)
  }

  test("parseSitemapBytes: a gzipped .xml.gz child parses identically to its plain twin") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val xml = "<urlset><url><loc>http://h1.example.com/p/1</loc>" +
      "<lastmod>2026-05-01</lastmod></url>" +
      "<url><loc>http://h1.example.com/p/2</loc></url></urlset>"
    val plain = xml.getBytes(UTF_8)
    val gz = graft.plans.HttpCodec.gzip(plain)
    val corrupt = gz.clone(); corrupt(12) = (corrupt(12) ^ 0xff).toByte
    def parse(bytes: Array[Byte]) =
      CrawlOps.parseSitemapBytes(
        Seq(("h1", "http://h1.example.com/m.xml.gz", bytes))
          .toDF("source", "url", "body_bytes")).collect()
        .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    val want = Set(
      ("h1", "http://h1.example.com/p/1", Some("2026-05-01")),
      ("h1", "http://h1.example.com/p/2", None))
    assert(parse(plain) == want, "plain twin")
    assert(parse(gz) == want, "gzip member sniffed by magic, not by name")
    assert(parse(corrupt).isEmpty, "corrupt gzip drops the row, never poisons")
    // the synthetic universe actually SHIPS child B gzipped — prove the
    // production path inflates it (its two entries carry the old lastmods)
    val hosts = Seq("src0").toDF("source")
    val viaUniverse = CrawlOps.parseSitemapBytes(CrawlOps.sitemapBodiesFrom(hosts))
      .collect().map(r => Option(r.getString(2))).count(_.exists(_ < "2026-08"))
    assert(viaUniverse == 2, "child B's 2026-07-20/2026-06-10 entries must land")
  }

  test("recrawl queues fetched pages whose lastmod postdates their fetch date") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src0: /docs/20 fetched (fetch_date 2026-07-21) with lastmod
    // 2026-08-01 → due (reason lastmod); /docs/80 unfetched; /docs/2 no
    // lastmod; the header signal for id 20 (20%4==0 → 2026-06-15) is
    // stale and loses to the sitemap lastmod under MAX
    val docs = Seq((20L, "src0")).toDF("doc_id", "source")
    val out = CrawlOps.recrawl(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(out.toSeq == Seq(
      ("http://src0.example.com/docs/20", "src0", "2026-08-01",
        "2026-07-21", "lastmod", 1L, 0L, CrawlOps.ScheduleEpoch)), out.toSeq)
  }

  test("recrawl honors header-observed Last-Modified beside sitemap lastmod") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // /docs/13 is fetched (id < 50, 13%3!=0 so a date IS observed) and
    // appears in NO sitemap for src0; its header signal (13%4==1 →
    // 2026-08-03) postdates its fetch date (2026-07-14) → due purely on
    // the header evidence
    val docs = Seq((13L, "src0")).toDF("doc_id", "source")
    val out = CrawlOps.recrawl(docs).collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      ("http://src0.example.com/docs/13", "2026-08-03", "2026-07-14",
        "lastmod")),
      out.toSeq)
  }

  test("recrawl: etag churn makes a DATE-LESS fetched page due (reason etag)") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // /docs/12: fetched (id < 50), NO date signal (12%3==0 — the host
    // sends no Last-Modified and no sitemap names it: src0's sitemap ids
    // are {20, 2, 80, 60}), but its etag churned (12%5==2) → due with
    // reason 'etag' and a NULL lastmod
    val docs = Seq((12L, "src0")).toDF("doc_id", "source")
    val out = CrawlOps.recrawl(docs).collect()
      .map(r => (r.getString(0), Option(r.getString(2)), r.getString(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      ("http://src0.example.com/docs/12", None, "2026-07-13", "etag")),
      out.toSeq)
  }

  test("recrawl: a changefreq period elapsing makes a lastmod-LESS entry due") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src4's d5 sitemap entry is /docs/24 (cls(7,3): ((7*4+3)%5)*20+4)
    // — daily changefreq, NO lastmod; id 24 is fetched, has no header
    // date (24%3==0) and no etag churn (24%5==4); fetch 2026-07-25 + 1
    // day < the fixed as-of 2026-08-10 → due with reason 'changefreq'
    // (src4's robots is 404 → allow-all, so the row survives triage)
    val docs = Seq((24L, "src4")).toDF("doc_id", "source")
    val out = CrawlOps.recrawl(docs).collect()
      .map(r => (r.getString(0), Option(r.getString(2)), r.getString(3),
        r.getString(4)))
    assert(out.toSeq.contains(
      ("http://src4.example.com/docs/24", None, "2026-07-25", "changefreq")),
      out.toSeq)
    // and every due row carries a reason
    assert(out.forall(_._4 != null), out.toSeq)
  }

  test("etagChanged: only present-on-both-sides, unequal validators signal") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val current = Seq(
      ("http://h.io/changed", "\"v2\""),
      ("http://h.io/same", "\"s1\""),
      ("http://h.io/new-etag", "\"n1\""), // prior recorded none
      ("http://h.io/lost-etag", null: String)) // current sends none
      .toDF("canon_url", "etag")
    val prior = Seq(
      ("http://h.io/changed", "\"v1\""),
      ("http://h.io/same", "\"s1\""),
      ("http://h.io/lost-etag", "\"l1\""),
      ("http://h.io/unseen", "\"u1\"")) // not refetched at all
      .toDF("canon_url", "etag")
    val got = CrawlOps.etagChanged(current, prior).collect()
      .map(r => (r.getString(0), r.getBoolean(4)))
    assert(got.toSeq == Seq(("http://h.io/changed", true)), got.toSeq)
  }

  test("revisit records: free exact-dedup evidence, counted in the ledger") {
    val dir = SparkSpec.tempDir("graft_warc_revisit")
    val digestHdr = "WARC-Payload-Digest: sha1:AAAA1111\r\n"
    val recs =
      // prior capture with its payload digest
      record("response", "http://rv.net/page",
        http("200 OK", "text/html", "<p>the page body</p>".getBytes(UTF_8)),
        digestHdr) ++
      // identical-payload revisit: same digest, NO body re-shipped —
      // must dedup against the prior capture without re-extracting
      record("revisit", "http://RV.net/page#frag", // messy variant canons
        Array.emptyByteArray,
        digestHdr +
          "WARC-Refers-To-Target-URI: http://rv.net/page\r\n" +
          "WARC-Refers-To-Date: 2026-08-01T00:00:00Z\r\n") ++
      // a second revisit whose digest DIFFERS (recorded against an older
      // capture than the one we hold) → churn, not a duplicate
      record("revisit", "http://rv.net/page",
        Array.emptyByteArray, "WARC-Payload-Digest: sha1:BBBB2222\r\n") ++
      // an unrelated page with no revisits
      record("response", "http://rv.net/other",
        http("200 OK", "text/html", "<p>other</p>".getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val records = graft.sources.WarcSource.read(spark, dir.toString)
    val (clean, ledger) = HtmlOps.warcToDocuments(records)
    // the clean capture carries its WARC-layer digest
    val cleanRows = clean.collect()
      .map(r => r.getAs[String]("url") ->
        Option(r.getAs[String]("payload_digest"))).toMap
    assert(cleanRows == Map(
      "http://rv.net/page" -> Some("sha1:AAAA1111"),
      "http://rv.net/other" -> None), cleanRows)
    // revisits surface as evidence rows on the SAME canonical identity
    val rv = HtmlOps.revisitsOf(records).collect()
    assert(rv.length == 2, rv.toSeq)
    assert(rv.forall(_.getAs[String]("url") == "http://rv.net/page"))
    assert(rv.map(r => Option(r.getAs[String]("refers_to_uri"))).toSet ==
      Set(Some("http://rv.net/page"), None))
    // churn accounting: one byte-identical revisit, one changed
    val churn = HtmlOps.revisitChurn(clean, HtmlOps.revisitsOf(records))
      .collect().map(r => r.getAs[String]("url") ->
        (r.getAs[Long]("n_unchanged"), r.getAs[Long]("n_changed"))).toMap
    assert(churn == Map(
      "http://rv.net/page" -> ((1L, 1L)),
      "http://rv.net/other" -> ((0L, 0L))), churn)
    // and the ingest ledger COUNTS the revisits instead of dropping them
    val ledgerRows = ledger.filter(col("reason") === "revisit").collect()
    assert(ledgerRows.length == 2, ledger.collect().toSeq)
  }

  test("a 304 response ledgers as not-modified, not a generic status failure") {
    val dir = SparkSpec.tempDir("graft_warc_304")
    val recs =
      record("response", "http://nm.net/page",
        "HTTP/1.1 304 Not Modified\r\nETag: \"v1\"\r\n\r\n".getBytes(US_ASCII)) ++
      record("response", "http://nm.net/gone",
        http("404 Not Found", "text/html", "nope".getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (_, ledger) = HtmlOps.warcToDocuments(
      graft.sources.WarcSource.read(spark, dir.toString))
    val got = ledger.collect()
      .map(r => r.getAs[String]("target_uri") -> r.getAs[String]("reason"))
      .toMap
    assert(got == Map(
      "http://nm.net/page" -> "not-modified",
      "http://nm.net/gone" -> "status"), got)
  }

  test("warcToDocuments carries Last-Modified / ETag freshness headers") {
    val dir = SparkSpec.tempDir("graft_warc_fresh")
    val recs =
      record("response", "http://f.net/dated",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Last-Modified: Tue, 04 Aug 2026 10:30:00 GMT\r\n" +
          "ETag: \"abc123\"\r\n\r\n<p>dated page</p>").getBytes(US_ASCII)) ++
      record("response", "http://f.net/bare",
        http("200 OK", "text/html", "<p>bare page</p>".getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, _) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val rows = clean.collect().map(r => r.getAs[String]("url") ->
      (Option(r.getAs[String]("last_modified")),
        Option(r.getAs[java.sql.Date]("last_modified_date")),
        Option(r.getAs[String]("etag")))).toMap
    assert(rows("http://f.net/dated") == ((
      Some("Tue, 04 Aug 2026 10:30:00 GMT"),
      Some(java.sql.Date.valueOf("2026-08-04")),
      Some("\"abc123\""))), rows)
    assert(rows("http://f.net/bare") == ((None, None, None)), rows)
  }

  test("frontierStream discovers per trigger against the live fetch log") {
    import spark.implicits._
    import graft.operators.CrawlOps
    implicit val sqlCtx = spark.sqlContext
    val logDir = SparkSpec.tempDir("graft_fetchlog").toFile.getAbsolutePath
    // fetch log v1: /docs/62 already fetched
    Seq("http://src3.example.com/docs/62").toDF("canon_url")
      .write.mode("overwrite").parquet(s"$logDir/v1")
    @volatile var logPath = s"$logDir/v1"
    val results = new scala.collection.concurrent.TrieMap[Long, Set[String]]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CrawlOps.frontierStream(
      input.toDF().toDF("doc_id", "source"),
      () => CrawlOps.rulesOf(Seq((0L, "src3")).toDF("doc_id", "source")),
      () => CrawlOps.robotsStatusOf(Seq((0L, "src3")).toDF("doc_id", "source")),
      () => spark.read.parquet(logPath)) { (df, id) =>
      results.put(id, df.collect().map(_.getString(0)).toSet)
    }
    try {
      input.addData((7L, "src3")) // links → 62 (fetched), 82 (new)
      q.processAllAvailable()
      assert(results(0L) == Set("http://src3.example.com/docs/82"), results)
      // the scheduler records 82; the refreshed log is live next trigger
      Seq("http://src3.example.com/docs/62", "http://src3.example.com/docs/82")
        .toDF("canon_url").write.mode("overwrite").parquet(s"$logDir/v2")
      logPath = s"$logDir/v2"
      input.addData((7L, "src3"))
      q.processAllAvailable()
      assert(results(1L) == Set.empty[String],
        "refetch discovers nothing once the log holds both targets")
    } finally q.stop()
  }

  test("frontierStream honors a refreshed robots status: a 5xx host vanishes live") {
    import spark.implicits._
    import graft.operators.CrawlOps
    implicit val sqlCtx = spark.sqlContext
    val srcDocs = Seq((0L, "src3")).toDF("doc_id", "source")
    val logDir = SparkSpec.tempDir("graft_rstat_stream")
      .toFile.getAbsolutePath
    Seq.empty[String].toDF("canon_url")
      .write.mode("overwrite").parquet(s"$logDir/log")
    // the status table is a thunk like rules/fetched — a robots refresh
    // (here: the host's robots endpoint starts flapping 503) is live
    // next trigger, per the unified static-side convention
    @volatile var status = 200
    val results = new scala.collection.concurrent.TrieMap[Long, Set[String]]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CrawlOps.frontierStream(
      input.toDF().toDF("doc_id", "source"),
      () => CrawlOps.rulesOf(srcDocs),
      () => Seq(("src3", status)).toDF("source", "robots_status"),
      () => spark.read.parquet(s"$logDir/log")) { (df, id) =>
      results.put(id, df.collect().map(_.getString(0)).toSet)
    }
    try {
      input.addData((7L, "src3")) // links → 62, 82 (nothing fetched yet)
      q.processAllAvailable()
      assert(results(0L) == Set("http://src3.example.com/docs/62",
        "http://src3.example.com/docs/82"), results)
      status = 503 // robots.txt unreachable → RFC 9309: complete disallow
      input.addData((7L, "src3"))
      q.processAllAvailable()
      assert(results(1L) == Set.empty[String],
        "a 5xx-robots host must discover NOTHING")
    } finally q.stop()
  }

  test("scheduleStream queues discoveries behind the persisted host cursor") {
    import spark.implicits._
    import graft.operators.CrawlOps
    implicit val sqlCtx = spark.sqlContext
    val srcDocs = Seq((0L, "src3")).toDF("doc_id", "source")
    val logDir = SparkSpec.tempDir("graft_cursor").toFile.getAbsolutePath
    // fetch log: /docs/62 fetched; cursors v1: cold (empty)
    Seq("http://src3.example.com/docs/62").toDF("canon_url")
      .write.mode("overwrite").parquet(s"$logDir/log")
    Seq.empty[(String, Long)].toDF("source", "cursor_s")
      .write.mode("overwrite").parquet(s"$logDir/cur1")
    @volatile var curPath = s"$logDir/cur1"
    val results = new scala.collection.concurrent.TrieMap[Long, Seq[(String, Long, Long)]]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CrawlOps.scheduleStream(
      input.toDF().toDF("doc_id", "source"),
      () => CrawlOps.rulesOf(srcDocs),
      () => CrawlOps.robotsStatusOf(srcDocs),
      () => spark.read.parquet(s"$logDir/log"),
      () => CrawlOps.crawlDelayOf(srcDocs), // src3 → 4 s
      () => spark.read.parquet(curPath)) { (df, id) =>
      results.put(id, df.collect().map(r => (r.getAs[String]("canon_url"),
        r.getAs[Long]("next_allowed_offset_s"),
        r.getAs[Long]("next_allowed_ts"))).sortBy(_._1).toSeq)
    }
    val e = CrawlOps.ScheduleEpoch
    try {
      // trigger 1: doc 7 links → 62 (fetched) + 82 (new) → 82 at offset 0
      input.addData((7L, "src3"))
      q.processAllAvailable()
      assert(results(0L) == Seq(("http://src3.example.com/docs/82", 0L, e)),
        results.toMap.toString)
      // the scheduler records the host's next free slot (0 + 4 s)
      Seq(("src3", 4L)).toDF("source", "cursor_s")
        .write.mode("overwrite").parquet(s"$logDir/cur2")
      curPath = s"$logDir/cur2"
      // trigger 2: doc 31 links → 30 (robots-blocked) + 46 (new) → 46
      // queues BEHIND the cursor at offset 4
      input.addData((31L, "src3"))
      q.processAllAvailable()
      assert(results(1L) == Seq(("http://src3.example.com/docs/46", 4L, e + 4)),
        results.toMap.toString)
    } finally q.stop()
  }

  test("frontierBudgeted caps trap hosts at their best-referenced URLs") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // trap host: 5 candidates; clean host: 3 — cap 2 bites the trap only
    val frontier = (
      (1 to 5).map(i => (s"http://trap.example.com/docs/$i", i.toLong)) ++
        (1 to 3).map(i => (s"http://ok.example.com/docs/$i", 1L)))
      .toDF("canon_url", "n_referrers")
    val traps = Seq(("trap", true), ("ok", false)).toDF("source", "trap")
    val got = CrawlOps.frontierBudgeted(frontier, traps, cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq(
      // the trap host keeps its 2 best-referenced candidates (5, 4)
      ("http://ok.example.com/docs/1", 1L),
      ("http://ok.example.com/docs/2", 1L),
      ("http://ok.example.com/docs/3", 1L),
      ("http://trap.example.com/docs/4", 4L),
      ("http://trap.example.com/docs/5", 5L)), got.toSeq)
    // composes on the real frontier face: flagged synthetic hosts
    // (idx%7==5) pass through at cap >= their frontier size, unchanged
    val docs = Seq((20L, "src5")).toDF("doc_id", "source")
    val full = CrawlOps.frontier(docs).collect().map(_.getString(0)).toSet
    val capped = CrawlOps.frontierBudgeted(
      CrawlOps.frontier(docs), CrawlOps.crawlTraps(docs), cap = 100)
      .collect().map(_.getString(0)).toSet
    assert(capped == full, "a generous cap changes nothing")
  }

  test("warcToDocuments honors <link rel=canonical>: same-host overrides identity, cross-host is evidence") {
    val dir = SparkSpec.tempDir("graft_warc_canonical")
    def page(canonTag: String, body: String): Array[Byte] =
      http("200 OK", "text/html",
        (s"<html><head>$canonTag</head><body><p>$body</p></body></html>")
          .getBytes(UTF_8))
    val recs =
      // a ?ref= variant and its /print twin both declare ONE canonical
      record("response", "http://site.example/article?ref=twitter",
        page("<link rel=\"canonical\" href=\"http://site.example/article\">",
          "the article body text as shared")) ++
      record("response", "http://site.example/article/print",
        // attribute order flipped + relative href — both must parse
        page("<link href=/article rel=canonical>",
          "the article body text print layout")) ++
      // cross-host canonical: identity stays on the fetch URL, the
      // declared target rides the evidence column
      record("response", "http://mirror.example/copy",
        page("<link rel='canonical' href='http://origin.example/master'>",
          "a mirrored copy of some page")) ++
      // no canonical declared
      record("response", "http://plain.example/solo",
        page("", "a page declaring nothing at all"))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, _) = HtmlOps.warcToDocuments(
      graft.sources.WarcSource.read(spark, dir.toString))
    val rows = clean.collect()
    val byFetch = rows.map(r => r.getAs[String]("text").take(12) -> r).toMap
    // the two article variants land on ONE url + doc_id
    val art = rows.filter(_.getAs[String]("url") == "http://site.example/article")
    assert(art.length == 2, rows.map(_.getAs[String]("url")).toSeq.toString)
    assert(art.map(_.getAs[Long]("doc_id")).distinct.length == 1)
    assert(art.forall(_.getAs[String]("canonical_url") ==
      "http://site.example/article"))
    val mirror = rows.find(_.getAs[String]("text").contains("mirrored")).get
    assert(mirror.getAs[String]("url") == "http://mirror.example/copy",
      "cross-host canonical must NOT steal the identity")
    assert(mirror.getAs[String]("canonical_url") ==
      "http://origin.example/master")
    val solo = rows.find(_.getAs[String]("text").contains("declaring")).get
    assert(solo.getAs[String]("canonical_url") == null)
    assert(solo.getAs[String]("url") == "http://plain.example/solo")
    assert(byFetch.nonEmpty) // silence the unused-val lint
  }

  test("imagePairsOf mines <img> pairs: base href, quote styles, figcaption, IDN identity") {
    import spark.implicits._
    val html =
      """<html><head><base href="/based/"></head><body>
        |<img src="pic1.png" alt="a quick fox">
        |<IMG SRC='pic2.jpg' TITLE="second one">
        |<figure><img src=pic3.gif><figcaption> the <i>third</i>  image </figcaption></figure>
        |<img src="data:image/gif;base64,R0l" alt="x">
        |<img alt="no src">
        |<img src="data:image/gif;base64,R0l" data-src="lazy.png" alt="deferred pic">
        |<img srcset=" small.png 480w, large.png 1024w" alt="responsive pic">
        |<img src="//bücher.example/p4.png" alt="">
        |</body></html>""".stripMargin
    val pages = Seq(("http://site.example/dir/page.html", html))
      .toDF("page_url", "html")
    val got = HtmlOps.imagePairsOf(pages).collect()
      .map(r => r.getAs[String]("img_url") ->
        Option(r.getAs[String]("alt_text"))).toMap
    assert(got == Map(
      // <base href> governs relative srcs; alt > title > figcaption;
      // figcaption markup/whitespace cleaned; data:/src-less dropped;
      // alt="" = absent; protocol-relative + IDN lands on the ACE host
      "http://site.example/based/pic1.png" -> Some("a quick fox"),
      "http://site.example/based/pic2.jpg" -> Some("second one"),
      "http://site.example/based/pic3.gif" -> Some("the third image"),
      // the lazy-load rule: data: placeholder src defers to data-src
      "http://site.example/based/lazy.png" -> Some("deferred pic"),
      // src-less responsive img: FIRST srcset candidate (leading
      // whitespace tolerated, descriptor stripped)
      "http://site.example/based/small.png" -> Some("responsive pic"),
      "http://xn--bcher-kva.example/p4.png" -> None), got.toString)
  }

  test("imagePairsOf bridges crawl HTML to the image-dedup estate (LAION shape)") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // two pages reference three images; a.ppm and c.ppm are the SAME
    // planted gradient (dhash group 3) under different URLs — pair
    // mining joins the HTML side to the binary corpus on the canonical
    // URL, and the dhash estate collapses the near-duplicate
    val pages = Seq(
      ("http://x.example/p1",
        "<img src=\"/i/a.ppm\" alt=\"first\"><img src=\"/i/b.ppm\" alt=\"second\">"),
      ("http://x.example/p2", "<img src=\"/i/c.ppm\" alt=\"third\">"))
      .toDF("page_url", "html")
    val pairs = HtmlOps.imagePairsOf(pages)
    assert(pairs.count() == 3)
    val payloads = Seq(
      ("http://x.example/i/a.ppm", 1L, MultimodalOps.plantedImage(3L, 8)),
      ("http://x.example/i/b.ppm", 2L, MultimodalOps.plantedImage(4L, 8)),
      ("http://x.example/i/c.ppm", 3L, MultimodalOps.plantedImage(11L, 8)))
      .toDF("img_url", "doc_id", "payload")
    val joined = pairs.join(payloads, "img_url")
    assert(joined.count() == 3, "every mined pair finds its payload")
    val hashes = MultimodalOps.imageDhash(
      joined.select(col("doc_id"), col("payload"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.size == 3)
    assert(hashes(1L) == hashes(3L), "planted duplicate pair collapses")
    assert(hashes(1L) != hashes(2L), "distinct gradients stay apart")
    // the one-face dataset builder: the duplicate cluster keeps the
    // best caption ("first" vs "third" tie on length → lexicographic
    // max) with per-cluster accounting
    val ds = HtmlOps.imageDatasetOf(pages,
      payloads.select(col("img_url"), col("payload")))
      .collect().map(r => r.getAs[String]("img_url") ->
        ((r.getAs[String]("alt_text"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_pages"), r.getAs[Long]("n_urls")))).toMap
    assert(ds == Map(
      "http://x.example/i/c.ppm" -> (("third", 2L, 2L, 2L)),
      "http://x.example/i/b.ppm" -> (("second", 1L, 1L, 1L))), ds.toString)
  }

  test("metaOf's og:image joins the payload corpus like a mined pair") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    // two pages declare og:images; hero-a and hero-b are the SAME
    // planted gradient under different URLs — the og route is an
    // image-text pair source exactly like <img> mining: og_image_url
    // joins the binary corpus on the canonical URL, og_title captions
    val pages = Seq(
      ("http://x.example/art-1",
        "<html><head><meta property=\"og:title\" content=\"Article One\">" +
          "<meta property=\"og:image\" content=\"/i/hero-a.ppm\"></head></html>"),
      ("http://x.example/art-2",
        "<html><head><meta property=\"og:title\" content=\"Article Two\">" +
          "<meta property=\"og:image\" content=\"/i/hero-b.ppm\"></head></html>"))
      .toDF("page_url", "html")
    val metas = HtmlOps.metaOf(pages)
      .select(col("og_image_url").as("img_url"), col("og_title"))
    val payloads = Seq(
      ("http://x.example/i/hero-a.ppm", 1L, MultimodalOps.plantedImage(5L, 8)),
      ("http://x.example/i/hero-b.ppm", 2L, MultimodalOps.plantedImage(13L, 8)))
      .toDF("img_url", "doc_id", "payload")
    val joined = metas.join(payloads, "img_url")
    assert(joined.count() == 2, "every og:image finds its payload")
    val hashes = MultimodalOps.imageDhash(
      joined.select(col("doc_id"), col("payload"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L),
      "the planted duplicate hero collapses across articles")
  }

  test("feed entries close the recrawl loop: a fresh pubDate re-queues its post") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_feedrecrawl")
    val host = "news.example.com"
    val page = s"""<html><head><link rel="alternate"
      |type="application/rss+xml" href="/feed.xml"></head><body>n</body></html>"""
      .stripMargin
    val feed =
      s"""<?xml version="1.0"?><rss version="2.0"><channel><title>n</title>
         |<item><link>http://$host/story</link>
         |<pubDate>Fri, 07 Aug 2026 12:00:00 GMT</pubDate></item>
         |</channel></rss>""".stripMargin
    val recs =
      record("response", s"http://$host/",
        http("200 OK", "text/html", page.getBytes(UTF_8))) ++
      record("response", s"http://$host/feed.xml",
        http("200 OK", "application/rss+xml", feed.getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val fetchLog = Seq((s"http://$host/story", "2026-08-01"))
      .toDF("canon_url", "fetch_date")
    // feedSeedsOf returns the triaged frame — the SAME dueReasons CASE
    // the recrawl faces run turns the fresh pubDate into a due row
    val due = CrawlOps.dueReasons(CrawlOps.feedSeedsOf(
      graft.sources.WarcSource.read(spark, dir.toString), fetchLog))
      .collect().map(r => (r.getAs[String]("canon_url"),
        r.getAs[String]("lastmod"), r.getAs[String]("reason")))
    assert(due.toSeq == Seq(
      (s"http://$host/story", "2026-08-07", "lastmod")), due.toSeq)
  }

  test("paginationChainsOf: heads walk next edges; cycles and over-deep chains cap") {
    import spark.implicits._
    def pg(url: String, next: Option[String]): (String, String) =
      (url, "<html><head>" + next.map(n =>
        s"""<link rel="next" href="$n">""").getOrElse("") +
        "</head><body>p</body></html>")
    val pages = Seq(
      pg("http://s.example/a/1", Some("/a/2")),
      pg("http://s.example/a/2", Some("/a/3")),
      pg("http://s.example/a/3", None),
      // a 2-cycle: no head, drops entirely
      pg("http://s.example/loop/x", Some("/loop/y")),
      pg("http://s.example/loop/y", Some("/loop/x")),
      // a single page with no pagination: not a chain
      pg("http://s.example/solo", None))
      .toDF("page_url", "html")
    val got = HtmlOps.paginationChainsOf(pages).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      ("http://s.example/a/1", "http://s.example/a/1", 1),
      ("http://s.example/a/1", "http://s.example/a/2", 2),
      ("http://s.example/a/1", "http://s.example/a/3", 3)), got.toSeq)
    // the cap truncates a long chain instead of looping forever
    val long = (1 to 12).map(i =>
      pg(s"http://s.example/b/$i",
        if (i < 12) Some(s"/b/${i + 1}") else None)).toDF("page_url", "html")
    val capped = HtmlOps.paginationChainsOf(long)
    assert(capped.count() == 8, capped.count())
  }

  test("paginationCyclesOf: the headless orbit surfaces flagged, tails stay out") {
    import spark.implicits._
    def pg(url: String, next: Option[String]): (String, String) =
      (url, "<html><head>" + next.map(n =>
        s"""<link rel="next" href="$n">""").getOrElse("") +
        "</head><body>p</body></html>")
    val pages = Seq(
      // a normal chain: NOT cycle members
      pg("http://s.example/a/1", Some("/a/2")),
      pg("http://s.example/a/2", None),
      // the planted a→b→a orbit paginationChainsOf silently drops
      pg("http://s.example/loop/x", Some("/loop/y")),
      pg("http://s.example/loop/y", Some("/loop/x")),
      // a TAIL walking INTO the orbit: on no cycle itself
      pg("http://s.example/loop/entry", Some("/loop/x")),
      // a 3-orbit keyed by its lexicographic-min member
      pg("http://s.example/tri/m", Some("/tri/a")),
      pg("http://s.example/tri/a", Some("/tri/z")),
      pg("http://s.example/tri/z", Some("/tri/m")),
      // a 2-orbit whose member ALSO mints a second, off-orbit next edge
      // (round 18): the stray target must not skew the orbit's key or
      // its length — the orbit is the mutually-reachable set
      ("http://s.example/dbl/p",
        "<html><head><link rel=\"next\" href=\"/dbl/q\">" +
          "<link rel=\"next\" href=\"/dbl/0stray\"></head><body>p</body></html>"),
      pg("http://s.example/dbl/q", Some("/dbl/p")),
      pg("http://s.example/dbl/0stray", None))
      .toDF("page_url", "html")
    val got = HtmlOps.paginationCyclesOf(pages).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("http://s.example/dbl/p", "http://s.example/dbl/p", 2L),
      ("http://s.example/dbl/p", "http://s.example/dbl/q", 2L),
      ("http://s.example/loop/x", "http://s.example/loop/x", 2L),
      ("http://s.example/loop/x", "http://s.example/loop/y", 2L),
      ("http://s.example/tri/a", "http://s.example/tri/a", 3L),
      ("http://s.example/tri/a", "http://s.example/tri/m", 3L),
      ("http://s.example/tri/a", "http://s.example/tri/z", 3L)), got.toSeq)
    // the chain face: headless orbits still drop, the headed chain
    // stays, and the tail's walk into the orbit caps at maxParts (8) —
    // subtracting the flagged cycle members from the chain frame is
    // exactly what this face enables
    val chains = HtmlOps.paginationChainsOf(pages)
    val chainKeys = chains.collect().map(_.getString(0)).toSet
    assert(chainKeys == Set("http://s.example/a/1",
      "http://s.example/loop/entry"), chainKeys.toString)
    assert(chains.filter(col("chain_key") ===
      "http://s.example/loop/entry").count() == 8)
  }

  test("jsonLdOf: real JSON parse, escaped quotes, malformed-block NULL route") {
    import spark.implicits._
    val html =
      """<html><head><base href="/a/">
        |<script>var notLd = {"headline": "nope"};</script>
        |<script type="application/ld+json">
        |{ "@type": "NewsArticle",
        |  "headline": "He said \"go\"",
        |  "datePublished": "2026-08-01",
        |  "image": "pic.jpg" }
        |</script>
        |<script type='application/ld+json'>{ not valid json }</script>
        |</head><body></body></html>""".stripMargin
    val rows = HtmlOps.jsonLdOf(
      Seq(("http://n.example/art/1", html)).toDF("page_url", "html"))
      .collect()
    assert(rows.length == 2, rows.mkString(","))
    val ok = rows.find(!_.isNullAt(1)).get
    assert(ok.getString(1) == "NewsArticle")
    assert(ok.getString(2) == "He said \"go\"") // real unescaping
    assert(ok.getString(3) == "2026-08-01")
    assert(ok.getString(4) == "http://n.example/a/pic.jpg") // base-resolved
    val bad = rows.find(_.isNullAt(1)).get // malformed: NULLs, no crash
    assert((1 to 4).forall(bad.isNullAt), bad.toString)
  }

  test("hreflangOf/hreflangClusters: declarations group translations into one article") {
    import spark.implicits._
    val art = (l: String, links: Seq[String]) =>
      "<html><head>" + links.map(x =>
        s"""<link rel="alternate" hreflang="$x" href="/$x/story">""").mkString +
        s"</head><body>$l</body></html>"
    val pages = Seq(
      // en and de declare each other (and self); fr is declared but
      // was never crawled — it still joins the cluster as a vertex
      ("http://s.example/en/story", art("en", Seq("en", "de", "fr"))),
      ("http://s.example/de/story", art("de", Seq("de", "en", "fr"))),
      // an unrelated single-language page with no declarations
      ("http://s.example/solo", "<html><head></head><body>x</body></html>"))
      .toDF("page_url", "html")
    val triples = HtmlOps.hreflangOf(pages)
    assert(triples.count() == 6, triples.collect().mkString(","))
    val clusters = HtmlOps.hreflangClusters(pages).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(clusters.toSeq == Seq(
      ("http://s.example/de/story", 3L, "de en fr")), clusters.toSeq)
  }

  test("warcToDocuments carries page-level robots directives from both routes") {
    val dir = SparkSpec.tempDir("graft_warc_noidx")
    val metaPage = "<html><head><meta name=\"robots\" " +
      "content=\"noindex\"><title>t</title></head><body>secret page</body></html>"
    val openPage = "<html><head></head><body>open page</body></html>"
    val recs =
      record("response", "http://h.example/meta-blocked",
        http("200 OK", "text/html", metaPage.getBytes(UTF_8))) ++
      record("response", "http://h.example/hdr-blocked",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "X-Robots-Tag: none\r\n\r\n" + openPage).getBytes(US_ASCII)) ++
      record("response", "http://h.example/open",
        http("200 OK", "text/html", openPage.getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (docs, _) = HtmlOps.warcToDocuments(
      graft.sources.WarcSource.read(spark, dir.toString))
    val got = docs.collect().map(r => r.getAs[String]("url") ->
      ((r.getAs[Boolean]("noindex"), r.getAs[Boolean]("nofollow")))).toMap
    assert(got == Map(
      "http://h.example/meta-blocked" -> ((true, false)),
      "http://h.example/hdr-blocked" -> ((true, true)), // none = both
      "http://h.example/open" -> ((false, false))), got.toString)
    // the corpus gate is one row filter — what a builder runs at
    // ingest: only the open page survives
    assert(docs.filter(!col("noindex")).count() == 1)
  }

  test("robots directives: meta tokens, X-Robots-Tag, and followable links") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val pages = Seq(
      ("http://a.example/open",
        "<html><head></head><body><a href=\"/x\">x</a>" +
          "<a rel=\"nofollow\" href=\"/paid\">ad</a>" +
          "<a rel=\"ugc nofollow\" href=\"/comment\">c</a>" +
          "<a rel=\"author\" href=\"/about\">me</a></body></html>"),
      ("http://a.example/closed",
        "<html><head><meta name=\"robots\" content=\"noindex, nofollow\">" +
          "</head><body><a href=\"/y\">y</a></body></html>"))
      .toDF("page_url", "html")
    val dirs = HtmlOps.robotsDirectivesOf(pages).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(dirs == Map(
      "http://a.example/open" -> ((false, false)),
      "http://a.example/closed" -> ((true, true))), dirs.toString)
    // link-level nofollow (incl. inside a rel list) and page-level
    // nofollow both keep targets OUT; plain rel values pass
    val follow = HtmlOps.followableLinksOf(pages).collect()
      .map(_.getString(1)).toSet
    assert(follow == Set("http://a.example/x", "http://a.example/about"),
      follow.toString)
    // the header twin: X-Robots-Tag on a binary resource
    val dir = SparkSpec.tempDir("graft_warc_xrobots")
    val recs =
      record("response", "http://a.example/doc.pdf",
        ("HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n" +
          "X-Robots-Tag: noindex\r\n\r\n%PDF-junk").getBytes(US_ASCII)) ++
      record("response", "http://a.example/pic.png",
        ("HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\nPNG")
          .getBytes(US_ASCII))
    Files.write(dir.resolve("seg.warc"), recs)
    val x = CrawlOps.xRobotsOf(
      graft.sources.WarcSource.read(spark, dir.toString)).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(x == Map(
      "http://a.example/doc.pdf" -> ((true, false)),
      "http://a.example/pic.png" -> ((false, false))), x.toString)
  }

  test("robots directives round 17: unquoted rel, multi-header/scoped/tabbed X-Robots-Tag") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // the nofollow drop must accept an UNQUOTED rel value (the
    // nextEdgesOf leniency) without over-matching a token that merely
    // contains "nofollow"
    val pages = Seq(
      ("http://u.example/open",
        "<html><body><a rel=nofollow href=\"/paid\">ad</a>" +
          "<a rel=author href=\"/about\">me</a>" +
          "<a rel=\"nofollower\" href=\"/f\">odd</a>" +
          // "rel=nofollow" TEXT inside another attribute's value is not
          // a directive — the attribute-boundary anchor (round 18)
          "<a href=\"/out?rel=nofollow\">q</a>" +
          "<a href=\"/x\">x</a></body></html>"))
      .toDF("page_url", "html")
    val follow = HtmlOps.followableLinksOf(pages).collect()
      .map(_.getString(1)).toSet
    assert(follow == Set("http://u.example/x", "http://u.example/about",
      "http://u.example/f", "http://u.example/out?rel=nofollow"),
      follow.toString)
    // header route: one directive per header is the common server
    // shape (the second must count); a user-agent-scoped value
    // addresses someone else; tabs separate tokens; a directive that
    // itself carries a colon is NOT a scope
    val dir = SparkSpec.tempDir("graft_warc_xrobots17")
    val recs =
      record("response", "http://u.example/two.pdf",
        ("HTTP/1.1 200 OK\r\nX-Robots-Tag: noarchive\r\n" +
          "X-Robots-Tag: noindex\r\n\r\nbody").getBytes(US_ASCII)) ++
      record("response", "http://u.example/scoped.pdf",
        ("HTTP/1.1 200 OK\r\nX-Robots-Tag: googlebot: noindex\r\n\r\nbody")
          .getBytes(US_ASCII)) ++
      record("response", "http://u.example/tabbed.pdf",
        ("HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex\tnofollow\r\n\r\nbody")
          .getBytes(US_ASCII)) ++
      record("response", "http://u.example/snippet.pdf",
        ("HTTP/1.1 200 OK\r\nX-Robots-Tag: max-snippet:50, noindex\r\n\r\nbody")
          .getBytes(US_ASCII))
    Files.write(dir.resolve("seg.warc"), recs)
    val x = CrawlOps.xRobotsOf(
      graft.sources.WarcSource.read(spark, dir.toString)).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(x == Map(
      "http://u.example/two.pdf" -> ((true, false)),
      "http://u.example/scoped.pdf" -> ((false, false)),
      "http://u.example/tabbed.pdf" -> ((true, true)),
      "http://u.example/snippet.pdf" -> ((true, false))), x.toString)
  }

  test("frontierOf: an X-Robots-Tag nofollow response gates its page's outlinks") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_hdrnofollow")
    val recs = record("response", "http://hn.example.com/robots.txt",
      http("200 OK", "text/plain", "User-agent: *\r\n".getBytes(US_ASCII))) ++
      record("response", "http://hn.example.com/closed",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "X-Robots-Tag: nofollow\r\n\r\n<html>").getBytes(US_ASCII))
    Files.write(dir.resolve("seg.warc"), recs)
    // the page's HTML carries no meta nofollow — only the HTTP header
    // route forbids following, and the frontier must honor it
    val pages = Seq(
      ("http://hn.example.com/closed", "<a href=\"/hidden\">h</a>"),
      ("http://hn.example.com/open", "<a href=\"/ok\">o</a>"))
      .toDF("page_url", "html")
    val fetched = Seq.empty[String].toDF("canon_url")
    val got = CrawlOps.frontierOf(pages,
      graft.sources.WarcSource.read(spark, dir.toString), fetched)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("http://hn.example.com/ok"), got.toString)
  }

  test("frontierOf: nofollow links and nofollow pages never reach the frontier") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_nofollow")
    val recs = record("response", "http://nf.example.com/robots.txt",
      http("200 OK", "text/plain", "User-agent: *\r\n".getBytes(US_ASCII)))
    Files.write(dir.resolve("seg.warc"), recs)
    val pages = Seq(
      ("http://nf.example.com/a",
        "<html><body><a href=\"/ok\">x</a>" +
          "<a rel=\"sponsored nofollow\" href=\"/paid\">ad</a></body></html>"),
      ("http://nf.example.com/b",
        "<html><head><meta name=\"robots\" content=\"nofollow\"></head>" +
          "<body><a href=\"/hidden\">y</a></body></html>"))
      .toDF("page_url", "html")
    val fetched = Seq.empty[String].toDF("canon_url")
    val got = CrawlOps.frontierOf(pages,
      graft.sources.WarcSource.read(spark, dir.toString), fetched)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("http://nf.example.com/ok"), got.toString)
  }

  test("frontierOf/crawlScheduleOf: the real-data politeness loop, full-host keyed") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_realloop")
    val newsRobots = "User-agent: *\r\nDisallow: /private\r\nCrawl-delay: 2\r\n"
    val recs =
      record("response", "http://www.news.example/robots.txt",
        http("200 OK", "text/plain", newsRobots.getBytes(US_ASCII))) ++
      record("response", "http://www.blog.example/robots.txt",
        http("404 Not Found", "text/plain", "nope".getBytes(US_ASCII))) ++
      // a 3xx capture: its Location target is a DISCOVERED link too
      record("response", "http://www.news.example/old",
        ("HTTP/1.1 301 Moved Permanently\r\nLocation: /moved-1\r\n\r\n")
          .getBytes(US_ASCII))
    Files.write(dir.resolve("seg.warc"), recs)
    val records = graft.sources.WarcSource.read(spark, dir.toString)
    val pages = Seq(
      ("http://www.news.example/home",
        "<a href=\"/private/x\">p</a><a href=\"/story-1\">s1</a>" +
          "<a href=\"/story-2\">s2</a>" +
          "<a href=\"http://www.blog.example/post-9\">x</a>"),
      ("http://www.blog.example/index",
        "<a href=\"/post-9\">p9</a><a href=\"/about\">a</a>" +
          "<a href=\"/private/y\">py</a>"))
      .toDF("page_url", "html")
    val fetched = Seq("http://www.news.example/story-2").toDF("canon_url")
    val frontier = CrawlOps.frontierOf(pages, records, fetched)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(frontier == Map(
      "http://www.news.example/story-1" -> 1L,
      // the 3xx Location target, discovered off the records channel
      "http://www.news.example/moved-1" -> 1L,
      "http://www.blog.example/post-9" -> 2L, // two referring pages
      "http://www.blog.example/about" -> 1L,
      // FULL-host keying: news's `Disallow: /private` must NOT gate
      // blog (its robots is 404 = allow-all) even though both hosts
      // share the first DNS label — the round-16 key fix
      "http://www.blog.example/private/y" -> 1L), frontier.toString)
    // the WHEN twin: news queues at its declared Crawl-delay 2, blog
    // (no declared delay) at the 1 s default floor, per-host order
    val sched = CrawlOps.crawlScheduleOf(pages, records, fetched)
      .collect().map(r => r.getAs[String]("canon_url") ->
        ((r.getAs[Long]("delay_s"),
          r.getAs[Long]("next_allowed_offset_s")))).toMap
    assert(sched == Map(
      "http://www.news.example/moved-1" -> ((2L, 0L)),
      "http://www.news.example/story-1" -> ((2L, 2L)),
      "http://www.blog.example/about" -> ((1L, 0L)),
      "http://www.blog.example/post-9" -> ((1L, 1L)),
      "http://www.blog.example/private/y" -> ((1L, 2L))), sched.toString)
    // trap damping composes on the real face too: flag blog via a
    // crawlTrapsBy-shaped frame → its floored delay ×10, news untouched
    val traps = Seq(("www.blog.example", true), ("www.news.example", false))
      .toDF("host", "trap")
    val damped = CrawlOps.crawlScheduleOf(pages, records, fetched,
      trapsBy = Some(traps))
      .collect().map(r => r.getAs[String]("canon_url") ->
        ((r.getAs[Long]("delay_s"),
          r.getAs[Long]("next_allowed_offset_s")))).toMap
    assert(damped == Map(
      "http://www.news.example/moved-1" -> ((2L, 0L)),
      "http://www.news.example/story-1" -> ((2L, 2L)),
      "http://www.blog.example/about" -> ((10L, 0L)),
      "http://www.blog.example/post-9" -> ((10L, 10L)),
      "http://www.blog.example/private/y" -> ((10L, 20L))), damped.toString)
  }

  test("sitemapSeedsOf: robots-declared sitemaps discovered from the crawl's own captures") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_smof")
    val host = "www.shop.example"
    val robots = s"User-agent: *\r\nDisallow: /secret\r\n" +
      s"Sitemap: http://$host/sitemap.xml\r\n"
    val index =
      s"""<sitemapindex><sitemap><loc>http://$host/sm-a.xml</loc></sitemap>
         |<sitemap><loc>http://$host/sm-b.xml.gz</loc></sitemap>
         |<sitemap><loc>http://$host/never-fetched.xml</loc></sitemap>
         |</sitemapindex>""".stripMargin
    val smA =
      s"""<urlset><url><loc>http://$host/item-1</loc><lastmod>2026-08-01</lastmod></url>
         |<url><loc>http://$host/secret/x</loc></url>
         |<url><loc>http://$host/item-2</loc></url></urlset>""".stripMargin
    val smB = s"<urlset><url><loc>http://$host/item-3</loc>" +
      "<lastmod>2026-07-01</lastmod><changefreq>weekly</changefreq>" +
      "</url></urlset>"
    val gz = new java.io.ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(gz)
    go.write(smB.getBytes(UTF_8)); go.finish()
    val recs =
      record("response", s"http://$host/robots.txt",
        http("200 OK", "text/plain", robots.getBytes(US_ASCII))) ++
      record("response", s"http://$host/sitemap.xml",
        http("200 OK", "application/xml", index.getBytes(UTF_8))) ++
      record("response", s"http://$host/sm-a.xml",
        http("200 OK", "application/xml", smA.getBytes(UTF_8))) ++
      record("response", s"http://$host/sm-b.xml.gz",
        http("200 OK", "application/gzip", gz.toByteArray))
    Files.write(dir.resolve("seg.warc"), recs)
    val fetchLog = Seq((s"http://$host/item-2", "2026-07-15"))
      .toDF("canon_url", "fetch_date")
    val got = CrawlOps.sitemapSeedsOf(
      graft.sources.WarcSource.read(spark, dir.toString), fetchLog)
      .collect().map(r => r.getAs[String]("canon_url") -> ((
        r.getAs[String]("source"), r.getAs[Boolean]("allowed"),
        r.getAs[Boolean]("fetched"), Option(r.getAs[String]("lastmod")),
        Option(r.getAs[String]("changefreq"))))).toMap
    assert(got == Map(
      // index → plain child: lastmod carried, robots gates /secret
      s"http://$host/item-1" -> ((host, true, false, Some("2026-08-01"), None)),
      s"http://$host/secret/x" -> ((host, false, false, None, None)),
      s"http://$host/item-2" -> ((host, true, true, None, None)),
      // index → GZIPPED child (magic-sniffed): changefreq rides along
      s"http://$host/item-3" -> ((host, true, false, Some("2026-07-01"),
        Some("weekly")))), got.toString)
  }

  test("imagePairsStream mines pairs live, batch-twin rules per trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val results = new scala.collection.concurrent.TrieMap[
      Long, Set[(String, String)]]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = HtmlOps.imagePairsStream(
      input.toDF().toDF("page_url", "html")) { (df, id) =>
      results.put(id, df.collect().map(r =>
        r.getAs[String]("img_url") -> r.getAs[String]("alt_text")).toSet)
    }
    try {
      input.addData(("http://s.example/p1",
        "<img src=\"a.png\" alt=\"first pic\">"))
      q.processAllAvailable()
      assert(results(0L) ==
        Set("http://s.example/a.png" -> "first pic"), results.toMap)
      // trigger 2: a lazy-load img — the SAME extraction rules as the
      // batch face (shared imgTagsOf core)
      input.addData(("http://s.example/p2",
        "<img src=\"data:image/gif;base64,x\" data-src=\"b.png\" alt=\"second\">"))
      q.processAllAvailable()
      assert(results(1L) ==
        Set("http://s.example/b.png" -> "second"), results.toMap)
    } finally q.stop()
  }

  test("recrawlOf: header + sitemap freshness off a WARC crawl, scheduled politely") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_recrawlof")
    val host = "www.shop.example"
    val robots = s"User-agent: *\r\nCrawl-delay: 2\r\nDisallow: /secret\r\n" +
      s"Sitemap: http://$host/sitemap.xml\r\n"
    val sm =
      s"""<urlset><url><loc>http://$host/item-1</loc><lastmod>2026-08-01</lastmod></url>
         |<url><loc>http://$host/secret/x</loc><lastmod>2026-08-09</lastmod></url>
         |</urlset>""".stripMargin
    def pageResp(lm: String): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Last-Modified: $lm\r\n\r\n<p>the page body text</p>").getBytes(US_ASCII)
    val recs =
      record("response", s"http://$host/robots.txt",
        http("200 OK", "text/plain", robots.getBytes(US_ASCII))) ++
      record("response", s"http://$host/sitemap.xml",
        http("200 OK", "application/xml", sm.getBytes(UTF_8))) ++
      // header-observed change: fetched 07-20, modified 08-05 → due
      record("response", s"http://$host/page-a",
        pageResp("Wed, 05 Aug 2026 10:00:00 GMT")) ++
      // already fresh: fetched 07-10, modified 07-01 → NOT due
      record("response", s"http://$host/page-b",
        pageResp("Wed, 01 Jul 2026 09:00:00 GMT"))
    Files.write(dir.resolve("seg.warc"), recs)
    val fetchLog = Seq(
      (s"http://$host/item-1", "2026-07-15"),
      (s"http://$host/secret/x", "2026-07-15"),
      (s"http://$host/page-a", "2026-07-20"),
      (s"http://$host/page-b", "2026-07-10"))
      .toDF("canon_url", "fetch_date")
    val got = CrawlOps.recrawlOf(
      graft.sources.WarcSource.read(spark, dir.toString), fetchLog)
      .collect().map(r => r.getAs[String]("canon_url") -> ((
        r.getAs[String]("reason"), r.getAs[String]("lastmod"),
        r.getAs[Long]("delay_s"),
        r.getAs[Long]("next_allowed_offset_s")))).toMap
    // item-1 (sitemap lastmod) and page-a (header Last-Modified) are
    // due; /secret/x is robots-gated despite its newer lastmod; page-b
    // is fresh. One host, canonical order → offsets 0 then 2 (the
    // declared Crawl-delay)
    assert(got == Map(
      s"http://$host/item-1" -> (("lastmod", "2026-08-01", 2L, 0L)),
      s"http://$host/page-a" -> (("lastmod", "2026-08-05", 2L, 2L))),
      got.toString)
  }

  test("q_feeds: RSS+Atom parse, canon collapse keeps newest date, triage flags") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src0 (idx 0): RSS f1=40 (08-05; trailing-slash dup at 07-15 must
    // LOSE under max), messy f2=7 (date-less; /docs/*7$ disallows),
    // Atom a1=0 (07-18; /docs/0 prefix disallows), a2=60 (date-less).
    // The doc frame {0, 40, 7} puts exactly those ids in the fetch
    // universe (all < 50 → fetched); 60 stays unfetched
    val rows = CrawlOps.feeds(
      Seq((0L, "src0"), (40L, "src0"), (7L, "src0")).toDF("doc_id", "source"))
      .collect().map(r => (r.getString(0), Option(r.getString(2)),
        r.getBoolean(3), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      ("http://src0.example.com/docs/0", Some("2026-07-18"), false, true),
      ("http://src0.example.com/docs/40", Some("2026-08-05"), true, true),
      ("http://src0.example.com/docs/60", None, true, false),
      ("http://src0.example.com/docs/7", None, false, true)), rows.toSeq)
  }

  test("feedLinksOf: any attribute order, relative href, non-feed links drop") {
    import spark.implicits._
    val html =
      """<html><head>
        |<link rel="alternate" type="application/rss+xml" href="/feed.xml">
        |<link type='application/atom+xml' href='news/atom.xml' rel='alternate'>
        |<link rel="stylesheet" href="/style.css">
        |<link rel="alternate" type="text/html" href="/mobile">
        |</head><body></body></html>""".stripMargin
    val got = HtmlOps.feedLinksOf(
      Seq(("http://site.example.com/sub/page.html", html))
        .toDF("page_url", "html"))
      .collect().map(_.getString(1)).toSet
    assert(got == Set(
      "http://site.example.com/feed.xml",
      "http://site.example.com/sub/news/atom.xml"), got)
  }

  test("feedSeedsOf: autodiscovered feeds parse from the crawl's own captures") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_feeds")
    val host = "blog.example.com"
    val page = s"""<html><head><link rel="alternate"
      |type="application/rss+xml" href="/feed.xml"></head>
      |<body>hello</body></html>""".stripMargin
    val feed =
      s"""<?xml version="1.0"?><rss version="2.0"><channel><title>b</title>
         |<item><link>http://$host/post-1</link>
         |<pubDate>Wed, 05 Aug 2026 10:00:00 GMT</pubDate></item>
         |<item><link>http://$host/post-2</link></item>
         |<item><link>http://$host/secret/p</link>
         |<pubDate>Thu, 06 Aug 2026 10:00:00 GMT</pubDate></item>
         |</channel></rss>""".stripMargin
    val recs =
      record("response", s"http://$host/robots.txt",
        http("200 OK", "text/plain",
          "User-agent: *\r\nDisallow: /secret\r\n".getBytes(US_ASCII))) ++
      record("response", s"http://$host/",
        http("200 OK", "text/html", page.getBytes(UTF_8))) ++
      record("response", s"http://$host/feed.xml",
        http("200 OK", "application/rss+xml", feed.getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val fetchLog = Seq((s"http://$host/post-1", "2026-07-20"))
      .toDF("canon_url", "fetch_date")
    val got = CrawlOps.feedSeedsOf(
      graft.sources.WarcSource.read(spark, dir.toString), fetchLog)
      .collect().map(r => r.getAs[String]("canon_url") -> ((
        Option(r.getAs[String]("lastmod")), r.getAs[Boolean]("allowed"),
        r.getAs[Boolean]("fetched")))).toMap
    // post-1: fetched, pubDate postdates its fetch (recrawl-shaped);
    // post-2: new, allowed (frontier-shaped); /secret/p: robots-gated
    assert(got == Map(
      s"http://$host/post-1" -> ((Some("2026-08-05"), true, true)),
      s"http://$host/post-2" -> ((None, true, false)),
      s"http://$host/secret/p" -> ((Some("2026-08-06"), false, false))),
      got.toString)
  }

  test("recrawl: an elapsed caching lifetime makes a fetched page due (reason expired)") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // /docs/15: fetched (id < 50), no header date (15%3==0), no etag
    // churn (15%5==0), not in src0's sitemap ({20, 80, 60, 2}) — but
    // its expiry signal (15%7==1 → 2026-07-01) predates the as-of →
    // due purely on the caching lifetime, with a NULL lastmod
    val due = CrawlOps.recrawl(Seq((15L, "src0")).toDF("doc_id", "source"))
      .collect().map(r => (r.getString(0), Option(r.getString(2)),
        r.getString(3), r.getString(4)))
    assert(due.toSeq == Seq(
      ("http://src0.example.com/docs/15", None, "2026-07-16", "expired")),
      due.toSeq)
    // /docs/4: expiry signal 2027-01-01 (4%7==4) is in the FUTURE, its
    // header lastmod (2026-06-15) predates the fetch → nothing is due
    val fresh = CrawlOps.recrawl(Seq((4L, "src0")).toDF("doc_id", "source"))
      .collect()
    assert(fresh.isEmpty, fresh.mkString(","))
  }

  test("expiresSignalsOf: max-age over Date wins, Expires falls back, no anchor drops") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_expires")
    def resp(headers: String): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + headers +
        "\r\n<p>body</p>").getBytes(US_ASCII)
    val recs =
      // max-age anchored on Date: 2026-06-01 + 10 days
      record("response", "http://h.example/ttl",
        resp("Date: Mon, 01 Jun 2026 00:00:00 GMT\r\n" +
          "Cache-Control: public, max-age=864000\r\n")) ++
      // Expires fallback
      record("response", "http://h.example/exp",
        resp("Expires: Thu, 31 Dec 2026 23:59:59 GMT\r\n")) ++
      // max-age with NO Date header: no anchor to count from — drops
      record("response", "http://h.example/na",
        resp("Cache-Control: max-age=60\r\n")) ++
      // both present: max-age (RFC 9111 §4.2.1 precedence) wins
      record("response", "http://h.example/both",
        resp("Date: Mon, 01 Jun 2026 00:00:00 GMT\r\n" +
          "Cache-Control: max-age=86400\r\n" +
          "Expires: Thu, 31 Dec 2026 23:59:59 GMT\r\n"))
    Files.write(dir.resolve("seg.warc"), recs)
    val got = CrawlOps.expiresSignalsOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "http://h.example/ttl" -> "2026-06-11",
      "http://h.example/exp" -> "2026-12-31",
      "http://h.example/both" -> "2026-06-02"), got)
  }

  test("recrawlOf: an expired stored copy re-queues with reason expired") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_recrawl_exp")
    val host = "cache.shop.example"
    val recs =
      record("response", s"http://$host/robots.txt",
        http("200 OK", "text/plain",
          "User-agent: *\r\nCrawl-delay: 3\r\n".getBytes(US_ASCII))) ++
      // stale copy: expired 2026-07-11, no Last-Modified at all
      record("response", s"http://$host/stale",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Date: Wed, 01 Jul 2026 00:00:00 GMT\r\n" +
          "Cache-Control: max-age=864000\r\n\r\n<p>x</p>").getBytes(US_ASCII)) ++
      // still-fresh copy: expires far in the future
      record("response", s"http://$host/fresh",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Expires: Fri, 01 Jan 2027 00:00:00 GMT\r\n\r\n<p>y</p>")
          .getBytes(US_ASCII))
    Files.write(dir.resolve("seg.warc"), recs)
    val fetchLog = Seq(
      (s"http://$host/stale", "2026-07-01"),
      (s"http://$host/fresh", "2026-07-01")).toDF("canon_url", "fetch_date")
    val got = CrawlOps.recrawlOf(
      graft.sources.WarcSource.read(spark, dir.toString), fetchLog)
      .collect().map(r => (r.getAs[String]("canon_url"),
        r.getAs[String]("reason"), r.getAs[Long]("delay_s")))
    assert(got.toSeq == Seq((s"http://$host/stale", "expired", 3L)), got.toSeq)
  }

  test("mediaPairsOf mines video/audio sources, posters, and captions") {
    import spark.implicits._
    val html =
      """<html><head><base href="/m/"></head><body>
        |<video title="match highlights" poster="thumbs/v1.png" src="clips/v1.avi">
        |  <source src="clips/v1.webm"><source src='clips/v1.mp4'>
        |</video>
        |<audio aria-label="interview audio"><source src="snd/a1.wav"></audio>
        |<audio src="data:audio/wav;base64,AAAA" title="inline"></audio>
        |</body></html>""".stripMargin
    val pages = Seq(("http://site.example/shows/page.html", html))
      .toDF("page_url", "html")
    val got = HtmlOps.mediaPairsOf(pages).collect()
      .map(r => r.getAs[String]("media_url") ->
        ((r.getAs[String]("kind"), Option(r.getAs[String]("caption_text")))))
      .toMap
    assert(got == Map(
      "http://site.example/m/clips/v1.avi" ->
        (("video", Some("match highlights"))),
      "http://site.example/m/clips/v1.webm" ->
        (("video", Some("match highlights"))),
      "http://site.example/m/clips/v1.mp4" ->
        (("video", Some("match highlights"))),
      // the poster frame is an IMAGE harvest — its own kind
      "http://site.example/m/thumbs/v1.png" ->
        (("poster", Some("match highlights"))),
      "http://site.example/m/snd/a1.wav" ->
        (("audio", Some("interview audio")))), got.toString)
    // the bridge is real: a mined video URL joins a binary payload
    // corpus on the canonical URL and the AVI walk parses the payload
    import graft.operators.AviOps
    val payloads = Seq(("http://site.example/m/clips/v1.avi",
      AviOps.buildAvi(Seq(Array.tabulate[Byte](21)(_.toByte)), 16, 12)))
      .toDF("media_url", "payload")
    val joined = HtmlOps.mediaPairsOf(pages)
      .filter(col("kind") === "video").join(payloads, "media_url")
      .collect()
    assert(joined.length == 1)
    assert(AviOps.aviWalk(joined.head.getAs[Array[Byte]]("payload")).nonEmpty)
  }

  test("crawlTrapsBy profiles ANY url frame by FULL host (general face + WARC route)") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // full-host keying (VERDICT r15): www.alpha.example and
    // www.beta.example share a first DNS label — first-label keying
    // would merge their profiles, so alpha's sid-trap would falsely
    // flag beta's perfectly clean frontier
    val urls = (
      (1 to 8).map(i => s"http://www.alpha.example/p?sid=$i") ++
        Seq("http://www.alpha.example/p") ++
        (1 to 6).map(i => s"http://www.beta.example/page$i"))
      .toDF("canon_url")
    val got = CrawlOps.crawlTrapsBy(urls).collect()
      .map(r => r.getAs[String]("host") -> ((r.getAs[Long]("n_urls"),
        r.getAs[Long]("n_pages"), r.getAs[Boolean]("trap")))).toMap
    assert(got("www.alpha.example") == ((9L, 1L, true)), got.toString)
    assert(got("www.beta.example") == ((6L, 6L, false)), got.toString)
    // userinfo and port never split a host's profile (the u@ spelling
    // lands on the same host row; 8 urls > 3 × 2 pages → trap)
    val noisy = ((1 to 7).map(i => s"http://h.example:8080/a?sid=$i") ++
      Seq("http://u@h.example:8080/a?sid=0")).toDF("canon_url")
    val one = CrawlOps.crawlTrapsBy(noisy).collect()
    assert(one.length == 1 && one.head.getAs[String]("host") == "h.example"
      && one.head.getAs[Boolean]("trap"), one.toSeq.toString)

    // the WARC route: a REAL fetch log's url column feeds the same face
    val dir = SparkSpec.tempDir("graft_warc_traps")
    val recs =
      (1 to 7).map(i => record("response",
        s"http://cal.shop.example/view?sid=s$i",
        http("200 OK", "text/html",
          s"<p>the same calendar page body, visit number $i</p>".getBytes(UTF_8))))
        .reduce(_ ++ _) ++
      record("response", "http://news.press.example/story-1",
        http("200 OK", "text/html", "<p>first story body</p>".getBytes(UTF_8))) ++
      record("response", "http://news.press.example/story-2",
        http("200 OK", "text/html", "<p>second story body</p>".getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (docs, _) = HtmlOps.warcToDocuments(
      graft.sources.WarcSource.read(spark, dir.toString))
    val profile = CrawlOps.crawlTrapsBy(docs.select(col("url")), "url")
      .collect().map(r => r.getAs[String]("host") ->
        r.getAs[Boolean]("trap")).toMap
    assert(profile == Map("cal.shop.example" -> true,
      "news.press.example" -> false), profile.toString)
    // the real-data composition closes end-to-end on the FULL-host key:
    // crawlTrapsBy → frontierBudgetedBy, no synthetic source label
    // anywhere — www.alpha (trap) caps at 2, www.beta (clean, SAME
    // first label) passes every row
    import spark.implicits._
    val frontier = (
      (1 to 5).map(i => (s"http://www.alpha.example/p?sid=$i", i.toLong)) ++
        (1 to 3).map(i => (s"http://www.beta.example/page$i", 1L)))
      .toDF("canon_url", "n_referrers")
    val budgeted = CrawlOps.frontierBudgetedBy(
      frontier, CrawlOps.crawlTrapsBy(urls), cap = 2)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(budgeted == Seq(
      "http://www.alpha.example/p?sid=4", "http://www.alpha.example/p?sid=5",
      "http://www.beta.example/page1", "http://www.beta.example/page2",
      "http://www.beta.example/page3"), budgeted.toString)
  }

  test("crawlScheduleDamped stretches a trap host's queue by the damp factor") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // src5 is trap-flagged by construction (idx%7==5, delay 1 s);
    // src3 is clean (delay 4 s)
    val docs = Seq((7L, "src3"), (20L, "src5"), (40L, "src5"),
      (61L, "src5"), (81L, "src5")).toDF("doc_id", "source")
    val traps = CrawlOps.crawlTraps(docs)
    val base = CrawlOps.crawlSchedule(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("next_allowed_offset_s"))
      .toMap
    val damped = CrawlOps.crawlScheduleDamped(docs, traps, damp = 10L)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("next_allowed_offset_s"))
      .toMap
    // precondition: the trap host genuinely queues (≥2 frontier rows)
    assert(base.count { case (u, _) => u.contains("src5") } >= 2, base.toString)
    assert(base.keySet == damped.keySet,
      "damping delays the queue, it never drops or reorders candidates")
    base.foreach { case (u, off) =>
      if (u.contains("src5"))
        assert(damped(u) == off * 10, s"$u: ${damped(u)} want ${off * 10}")
      else assert(damped(u) == off, s"$u must be untouched")
    }
    assert(damped.exists { case (u, o) => u.contains("src5") && o > 0 },
      damped.toString)
  }

  test("recrawlStream triages live freshness observations against the fetch log") {
    import spark.implicits._
    import graft.operators.CrawlOps
    implicit val sqlCtx = spark.sqlContext
    val srcDocs = Seq((0L, "src3")).toDF("doc_id", "source")
    val dir = SparkSpec.tempDir("graft_recrawl_stream")
      .toFile.getAbsolutePath
    // the persisted fetch log: /docs/62 and /docs/82 fetched in July
    Seq(("http://src3.example.com/docs/62", "2026-07-10"),
      ("http://src3.example.com/docs/82", "2026-07-20"))
      .toDF("canon_url", "fetch_date")
      .write.mode("overwrite").parquet(s"$dir/log")
    Seq.empty[(String, Long)].toDF("source", "cursor_s")
      .write.mode("overwrite").parquet(s"$dir/cur")
    @volatile var status = 200
    val results = new scala.collection.concurrent.TrieMap[
      Long, Seq[(String, Option[String], String, Long)]]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Boolean)]
    val q = CrawlOps.recrawlStream(
      input.toDF().toDF("canon_url", "lastmod", "etag_due")
        .withColumn("lastmod", nullif(col("lastmod"), lit(""))),
      () => CrawlOps.rulesOf(srcDocs),
      () => Seq(("src3", status)).toDF("source", "robots_status"),
      () => spark.read.parquet(s"$dir/log"),
      () => CrawlOps.crawlDelayOf(srcDocs), // src3 → 4 s
      () => spark.read.parquet(s"$dir/cur")) { (df, id) =>
      results.put(id, df.collect().map(r => (r.getAs[String]("canon_url"),
        Option(r.getAs[String]("lastmod")), r.getAs[String]("reason"),
        r.getAs[Long]("next_allowed_offset_s"))).sortBy(_._1).toSeq)
    }
    try {
      // trigger 1: a header sweep saw /docs/62 modified AFTER its fetch
      // (due: lastmod), an etag churn on the date-less /docs/82 (due:
      // etag), a stale observation (not due), and an UNFETCHED url (no
      // fetch-log row → never due). Due rows queue 4 s apart.
      input.addData(
        ("http://src3.example.com/docs/62", "2026-08-01", false),
        ("http://src3.example.com/docs/82", "", true),
        ("http://src3.example.com/docs/82", "2026-07-01", false),
        ("http://src3.example.com/docs/7", "2026-08-01", false))
      q.processAllAvailable()
      assert(results(0L) == Seq(
        ("http://src3.example.com/docs/62", Some("2026-08-01"), "lastmod", 0L),
        ("http://src3.example.com/docs/82", Some("2026-07-01"), "etag", 4L)),
        results.toMap.toString)
      // trigger 2: the host's robots endpoint starts flapping 503 —
      // RFC 9309 complete-disallow is live next trigger, nothing is due
      status = 503
      input.addData(("http://src3.example.com/docs/62", "2026-08-09", false))
      q.processAllAvailable()
      assert(results(1L).isEmpty, results.toMap.toString)
    } finally q.stop()
  }

  // --- the WARC → documents bridge ---

  private def record(typ: String, uri: String, payload: Array[Byte],
                     extraHeaders: String = ""): Array[Byte] = {
    // ISO 28500: WARC header values are UTF-8 (an IDN fixture's raw
    // Unicode target URI must survive the write)
    val hdr = ("WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      extraHeaders +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(UTF_8)
    hdr ++ payload ++ "\r\n\r\n".getBytes(US_ASCII)
  }

  private def http(status: String, ctype: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\n\r\n").getBytes(US_ASCII) ++ body

  test("warcToDocuments: charset resolution, quarantine routes, canonical identity") {
    val dir = SparkSpec.tempDir("graft_warc_docs")
    val utf8Body = "<html><body><p>café &amp; the crawl page</p></body></html>"
    val latin1Body = "<html><p>naïve résumé</p></html>"
    val recs =
      // same page fetched twice under cosmetic URL variants → one identity
      record("response", "HTTP://Site.COM:80/a?utm_source=x",
        http("200 OK", "text/html; charset=utf-8", utf8Body.getBytes(UTF_8))) ++
      record("response", "http://site.com/a#frag",
        http("200 OK", "text/html; charset=UTF-8", utf8Body.getBytes(UTF_8))) ++
      record("response", "http://other.org/l1",
        http("200 OK", "text/html; charset=ISO-8859-1", latin1Body.getBytes(ISO_8859_1))) ++
      record("response", "http://plain.net/no-charset",
        http("200 OK", "text/html", "<p>default utf8 page</p>".getBytes(UTF_8))) ++
      record("response", "http://bad.net/utf7",
        http("200 OK", "text/html; charset=utf-7", "x".getBytes(US_ASCII))) ++
      record("response", "http://gone.net/404",
        http("404 Not Found", "text/html", "<p>gone</p>".getBytes(UTF_8))) ++
      record("response", "http://empty.net/blank",
        http("200 OK", "text/html", "<style>p{}</style>".getBytes(UTF_8))) ++
      // invalid bytes under the declared utf-8: must quarantine, not crash
      record("response", "http://broken.net/bytes",
        http("200 OK", "text/html; charset=utf-8",
          Array[Byte]('<', 'p', '>', 0xC3.toByte, 0x28.toByte, '<', '/', 'p', '>'))) ++
      record("request", "http://site.com/a", "GET /a HTTP/1.1\r\n".getBytes(US_ASCII))
    Files.write(dir.resolve("seg.warc"), recs)

    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val cleanRows = clean.collect()
    assert(cleanRows.length == 4)
    val byUrl = cleanRows.groupBy(_.getAs[String]("url"))
    // the two fetches of site.com/a canonicalize to ONE url and doc_id
    val dups = byUrl("http://site.com/a")
    assert(dups.length == 2 && dups.map(_.getAs[Long]("doc_id")).distinct.length == 1)
    assert(dups.forall(_.getAs[String]("text") == "café & the crawl page"))
    assert(dups.forall(_.getAs[String]("source") == "site.com"))
    // latin-1 bytes decoded under the DECLARED charset, not utf-8-lossy
    assert(byUrl("http://other.org/l1").head.getAs[String]("text") == "naïve résumé")
    assert(byUrl("http://plain.net/no-charset").head.getAs[String]("text") == "default utf8 page")

    val q = quarantine.collect().map(r =>
      r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map(
      "http://bad.net/utf7" -> "charset",
      "http://gone.net/404" -> "status",
      "http://empty.net/blank" -> "empty",
      "http://broken.net/bytes" -> "encoding"))
  }

  test("warcToDocuments decodes UTF-16 pages (BOM and declared); malformed quarantines") {
    val dir = SparkSpec.tempDir("graft_warc_utf16")
    val body = "<html><p>utf-16 café こん</p></html>"
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ body.getBytes("UTF-16LE")
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte) ++ body.getBytes("UTF-16BE")
    // a high surrogate followed by a non-surrogate unit: the exact case
    // Spark's own strict utf-16 decode would crash a job on
    val unpaired = "<p>".getBytes("UTF-16BE") ++
      Array[Byte](0xD8.toByte, 0x00) ++ "</p>".getBytes("UTF-16BE")
    val recs =
      record("response", "http://u16.net/bom-le",
        http("200 OK", "text/html", le)) ++
      record("response", "http://u16.net/bom-be",
        http("200 OK", "text/html", be)) ++
      record("response", "http://u16.net/declared-le",
        http("200 OK", "text/html; charset=utf-16le", body.getBytes("UTF-16LE"))) ++
      record("response", "http://u16.net/declared-be",
        http("200 OK", "text/html; charset=UTF-16BE", body.getBytes("UTF-16BE"))) ++
      record("response", "http://u16.net/bad",
        http("200 OK", "text/html; charset=utf-16be", unpaired))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val texts = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    val want = "utf-16 café こん"
    assert(texts == Map(
      "http://u16.net/bom-le" -> want, "http://u16.net/bom-be" -> want,
      "http://u16.net/declared-le" -> want,
      "http://u16.net/declared-be" -> want), texts)
    val q = quarantine.collect()
      .map(r => r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map("http://u16.net/bad" -> "encoding"), q)
  }

  test("warcToDocuments decodes windows-1252 exactly and sniffs meta charsets") {
    val dir = SparkSpec.tempDir("graft_warc_cp1252")
    // curly quotes (93/94), apostrophe (92), em dash (97), euro (80) —
    // the 0x80–0x9F range where cp1252 and latin-1 disagree
    val cp1252Body = "<p>“hello” — it’s €5</p>"
      .getBytes("windows-1252")
    // header carries NO charset; the page declares itself via <meta>
    val metaBody = ("<html><head><meta charset=\"windows-1252\"></head>" +
      "<body><p>meta’page</p></body></html>").getBytes("windows-1252")
    val httpEquivBody = ("<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=ISO-8859-1\"></head>" +
      "<body><p>equiv naïve</p></body></html>").getBytes(ISO_8859_1)
    val recs =
      record("response", "http://cp.net/quoted",
        http("200 OK", "text/html; charset=windows-1252", cp1252Body)) ++
      record("response", "http://cp.net/alias",
        http("200 OK", "text/html; charset=cp1252", cp1252Body)) ++
      record("response", "http://cp.net/meta", http("200 OK", "text/html", metaBody)) ++
      record("response", "http://cp.net/equiv",
        http("200 OK", "text/html", httpEquivBody)) ++
      // a header-DECLARED charset outranks a lying meta
      record("response", "http://cp.net/header-wins",
        http("200 OK", "text/html; charset=utf-8",
          "<html><head><meta charset=\"shift_jis\"></head><p>café</p></html>"
            .getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val byUrl = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(byUrl == Map(
      "http://cp.net/quoted" -> "“hello” — it’s €5",
      "http://cp.net/alias" -> "“hello” — it’s €5",
      "http://cp.net/meta" -> "meta’page",
      "http://cp.net/equiv" -> "equiv naïve",
      "http://cp.net/header-wins" -> "café"), byUrl)
    assert(quarantine.count() == 0, "every page in this set decodes")
  }

  test("warcToDocuments de-chunks chunked bodies; malformed framing quarantines") {
    import java.io.ByteArrayOutputStream
    import java.util.zip.GZIPOutputStream
    val dir = SparkSpec.tempDir("graft_warc_chunked")
    val html = "<html><body><p>the chunked crawl page body</p></body></html>"
    // split the page across three chunks, one with an extension token
    val chunked =
      (f"${20}%x\r\n" + html.substring(0, 20) + "\r\n" +
        f"${15}%x;ext=v\r\n" + html.substring(20, 35) + "\r\n" +
        f"${html.length - 35}%x\r\n" + html.substring(35) + "\r\n" +
        "0\r\n\r\n").getBytes(US_ASCII)
    def chunkedHttp(te: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Transfer-Encoding: $te\r\n\r\n").getBytes(US_ASCII) ++ body
    val recs =
      record("response", "http://chunky.net/ok", chunkedHttp("chunked", chunked)) ++
      // RFC 9112 list form: chunked matched anywhere in the value
      record("response", "http://chunky.net/list-ok",
        chunkedHttp("identity, chunked", chunked)) ++
      // hex framing lies (declared size past the end) → quarantine
      record("response", "http://chunky.net/torn",
        chunkedHttp("chunked", "ffff\r\nshort\r\n0\r\n\r\n".getBytes(US_ASCII))) ++
      // a non-identity coding besides chunked is undecodable row-level
      record("response", "http://chunky.net/gz",
        chunkedHttp("gzip, chunked", chunked))
    // the CC container shape: one gzip member per record, .warc.gz
    val gz = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(gz); g.write(recs); g.finish()
    Files.write(dir.resolve("seg.warc.gz"), gz.toByteArray)

    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val cleanByUrl = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(cleanByUrl == Map(
      "http://chunky.net/ok" -> "the chunked crawl page body",
      "http://chunky.net/list-ok" -> "the chunked crawl page body"),
      s"hex size lines must never reach the corpus: $cleanByUrl")
    val q = quarantine.collect().map(r =>
      r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map(
      "http://chunky.net/torn" -> "chunked",
      "http://chunky.net/gz" -> "transfer-encoding"), q)
  }

  test("warcToDocuments gates on media type: binaries never charset-decode") {
    val dir = SparkSpec.tempDir("graft_warc_ct")
    // a fake JPEG whose bytes are VALID latin-1 AND valid UTF-8 — the
    // byte validators cannot catch it; only the media-type gate can
    val fakeJpeg = "JFIF-ish printable bytes pretending to be an image"
      .getBytes(US_ASCII)
    val recs =
      record("response", "http://ct.net/img",
        http("200 OK", "image/jpeg; charset=ISO-8859-1", fakeJpeg)) ++
      record("response", "http://ct.net/pdf",
        http("200 OK", "application/pdf", fakeJpeg)) ++
      record("response", "http://ct.net/bin",
        http("200 OK", "application/octet-stream", fakeJpeg)) ++
      record("response", "http://ct.net/xhtml",
        http("200 OK", "application/xhtml+xml",
          "<html><p>xhtml page</p></html>".getBytes(UTF_8))) ++
      record("response", "http://ct.net/txt",
        http("200 OK", "text/plain", "plain text page".getBytes(UTF_8))) ++
      // NO Content-Type header at all (old servers) → text route
      record("response", "http://ct.net/bare",
        "HTTP/1.1 200 OK\r\nX-Server: old\r\n\r\n<p>bare page</p>"
          .getBytes(UTF_8))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val byUrl = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(byUrl == Map(
      "http://ct.net/xhtml" -> "xhtml page",
      "http://ct.net/txt" -> "plain text page",
      "http://ct.net/bare" -> "bare page"), byUrl)
    val q = quarantine.collect().map(r =>
      r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map(
      "http://ct.net/img" -> "content-type",
      "http://ct.net/pdf" -> "content-type",
      "http://ct.net/bin" -> "content-type"), q)
  }

  test("warcToDocuments decodes the legacy multibyte/regional charsets exactly") {
    val dir = SparkSpec.tempDir("graft_warc_legacy")
    // JDK-encoded fixtures — the JDK's encoder is the second
    // implementation, the codec-spec convention
    val ja = "日本語のページです"
    val ru = "русская страница"
    val zh = "中文网页内容"
    val ko = "한국어 페이지"
    val el = "ελληνική σελίδα"
    def page(s: String): String = s"<html><body><p>$s</p></body></html>"
    val recs =
      record("response", "http://jp.net/sjis",
        http("200 OK", "text/html; charset=Shift_JIS",
          page(ja).getBytes("Shift_JIS"))) ++
      record("response", "http://ru.net/cp1251",
        http("200 OK", "text/html; charset=windows-1251",
          page(ru).getBytes("windows-1251"))) ++
      record("response", "http://cn.net/gbk",
        http("200 OK", "text/html; charset=GB2312",
          page(zh).getBytes("GBK"))) ++
      record("response", "http://kr.net/euckr",
        http("200 OK", "text/html; charset=EUC-KR",
          page(ko).getBytes("EUC-KR"))) ++
      // meta-declared (no header charset) rides the same route
      record("response", "http://gr.net/meta-el",
        http("200 OK", "text/html",
          (s"<html><head><meta charset=iso-8859-7></head><body><p>$el" +
            "</p></body></html>").getBytes("ISO-8859-7"))) ++
      // malformed bytes under a declared legacy charset → encoding
      // quarantine, never a crash or mojibake (0x81 0x20 is an invalid
      // shift_jis lead/trail pair)
      record("response", "http://jp.net/torn",
        http("200 OK", "text/html; charset=shift_jis",
          "<p>ok ".getBytes(US_ASCII) ++
            Array[Byte](0x81.toByte, 0x20) ++ "</p>".getBytes(US_ASCII)))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val byUrl = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(byUrl == Map(
      "http://jp.net/sjis" -> ja,
      "http://ru.net/cp1251" -> ru,
      "http://cn.net/gbk" -> zh,
      "http://kr.net/euckr" -> ko,
      "http://gr.net/meta-el" -> el), byUrl)
    val q = quarantine.collect().map(r =>
      r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map("http://jp.net/torn" -> "encoding"), q)
  }

  test("warcToDocuments: BOM precedence and XML-declaration charset sniffing") {
    val dir = SparkSpec.tempDir("graft_warc_bom")
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    val utf8Page = "<p>bom page café</p>".getBytes(UTF_8)
    val xmlLatin1 = ("<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>" +
      "<html><body><p>xml naïve</p></body></html>").getBytes(ISO_8859_1)
    val utf16Page = "<p>sixteen</p>".getBytes("UTF-16LE")
    val recs =
      // UTF-8 BOM, no header charset → decodes; the BOM char must NOT
      // leak into the corpus text
      record("response", "http://bom.net/plain",
        http("200 OK", "text/html", bom ++ utf8Page)) ++
      // BOM outranks a LYING header (WHATWG precedence)
      record("response", "http://bom.net/lying-header",
        http("200 OK", "text/html; charset=ISO-8859-1", bom ++ utf8Page)) ++
      // XML declaration supplies the charset when the header is silent
      record("response", "http://bom.net/xml",
        http("200 OK", "application/xhtml+xml", xmlLatin1)) ++
      // UTF-16 BOM routes through the strict charset_decode (round 14 —
      // previously a deliberate quarantine), endianness from the BOM
      record("response", "http://bom.net/utf16",
        http("200 OK", "text/html",
          Array[Byte](0xff.toByte, 0xfe.toByte) ++ utf16Page))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val byUrl = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(byUrl == Map(
      "http://bom.net/plain" -> "bom page café",
      "http://bom.net/lying-header" -> "bom page café",
      "http://bom.net/xml" -> "xml naïve",
      "http://bom.net/utf16" -> "sixteen"), byUrl)
    assert(!byUrl.values.exists(_.contains("﻿")), "BOM char leaked")
    assert(quarantine.count() == 0L)
  }

  test("warcToDocuments inflates gzip/deflate/zstd bodies; br and corrupt quarantine") {
    import java.io.ByteArrayOutputStream
    import java.util.zip.{Deflater, GZIPOutputStream}
    val dir = SparkSpec.tempDir("graft_warc_ce")
    val html = "<html><body><p>the gzip-encoded crawl page café</p></body></html>"
    val page = html.getBytes(UTF_8)
    val gzBody = { val o = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(o); g.write(page); g.finish(); o.toByteArray }
    def deflated(raw: Boolean): Array[Byte] = {
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
      d.setInput(page); d.finish()
      val o = new ByteArrayOutputStream(); val buf = new Array[Byte](4096)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end(); o.toByteArray
    }
    val corrupt = gzBody.clone(); corrupt(14) = (corrupt(14) ^ 0xff).toByte
    def http2(hdrs: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$hdrs\r\n\r\n").getBytes(US_ASCII) ++ body
    val ct = "Content-Type: text/html; charset=utf-8"
    val recs =
      record("response", "http://ce.net/gzip",
        http2(s"$ct\r\nContent-Encoding: gzip", gzBody)) ++
      record("response", "http://ce.net/xgzip",
        http2(s"$ct\r\nContent-Encoding: x-gzip", gzBody)) ++
      record("response", "http://ce.net/zlib",
        http2(s"$ct\r\nContent-Encoding: deflate", deflated(raw = false))) ++
      record("response", "http://ce.net/raw-deflate",
        http2(s"$ct\r\nContent-Encoding: deflate", deflated(raw = true))) ++
      record("response", "http://ce.net/corrupt",
        http2(s"$ct\r\nContent-Encoding: gzip", corrupt)) ++
      record("response", "http://ce.net/br",
        http2(s"$ct\r\nContent-Encoding: br", page)) ++
      record("response", "http://ce.net/zstd",
        http2(s"$ct\r\nContent-Encoding: zstd",
          com.github.luben.zstd.Zstd.compress(page))) ++
      record("response", "http://ce.net/zstd-corrupt",
        http2(s"$ct\r\nContent-Encoding: zstd", page)) ++
      // identity is NOT compression — must stay on the clean route
      record("response", "http://ce.net/identity",
        http2(s"$ct\r\nContent-Encoding: identity", page)) ++
      record("response", "http://ce.net/plain", http2(ct, page))
    Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val want = "the gzip-encoded crawl page café"
    val byUrl = clean.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(byUrl == Map(
      "http://ce.net/gzip" -> want, "http://ce.net/xgzip" -> want,
      "http://ce.net/zlib" -> want, "http://ce.net/raw-deflate" -> want,
      "http://ce.net/zstd" -> want,
      "http://ce.net/identity" -> want, "http://ce.net/plain" -> want),
      byUrl)
    val q = quarantine.collect().map(r =>
      r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map(
      "http://ce.net/corrupt" -> "content-encoding",
      "http://ce.net/zstd-corrupt" -> "content-encoding",
      "http://ce.net/br" -> "content-encoding"), q)
  }

  test("warcToDocuments: chunked + gzip composition decodes through both codecs") {
    import java.io.ByteArrayOutputStream
    import java.util.zip.GZIPOutputStream
    val dir = SparkSpec.tempDir("graft_warc_tece")
    val html = "<p>chunk-framed gzip entity</p>"
    val gzBody = { val o = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(o); g.write(html.getBytes(UTF_8)); g.finish()
      o.toByteArray }
    // the REAL wire layout: CE compresses the entity, TE frames the bytes
    val chunked = (f"${gzBody.length}%x\r\n").getBytes(US_ASCII) ++ gzBody ++
      "\r\n0\r\n\r\n".getBytes(US_ASCII)
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n")
      .getBytes(US_ASCII) ++ chunked
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://both.net/page", payload))
    val (clean, quarantine) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val rows = clean.collect()
    assert(rows.length == 1 &&
      rows.head.getAs[String]("text") == "chunk-framed gzip entity",
      rows.mkString(","))
    assert(quarantine.count() == 0)
  }

  test("resolve: RFC 3986 merge — relative forms, dot segments, scheme filtering") {
    import spark.implicits._
    import graft.operators.UrlOps
    def res(base: String, href: String): Option[String] = {
      val r = Seq((base, href)).toDF("b", "h")
        .select(UrlOps.resolve(col("b"), col("h"))).collect().head
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    val base = "http://h.example.com/a/b/page.html?q=1#frag"
    // plain relative merges onto the base DIRECTORY (query/frag ignored)
    assert(res(base, "x/y") == Some("http://h.example.com/a/b/x/y"))
    assert(res(base, "./here") == Some("http://h.example.com/a/b/here"))
    assert(res(base, "../up") == Some("http://h.example.com/a/up"))
    assert(res(base, "../../top") == Some("http://h.example.com/top"))
    // over-deep ../ clamps at the root (RFC 3986 §5.2.4)
    assert(res(base, "../../../../deep") == Some("http://h.example.com/deep"))
    // root- and protocol-relative
    assert(res(base, "/abs/p") == Some("http://h.example.com/abs/p"))
    assert(res("https://s.example.com/x", "//cdn.example.com/lib")
      == Some("https://cdn.example.com/lib"))
    // absolute passes; non-http(s) schemes and same-page refs drop
    assert(res(base, "http://other.example.com/z?a=1")
      == Some("http://other.example.com/z?a=1"))
    assert(res(base, "mailto:x@y.example") == None)
    assert(res(base, "javascript:void(0)") == None)
    assert(res(base, "data:text/plain,hi") == None)
    assert(res(base, "tel:+1555") == None)
    assert(res(base, "") == None)
    assert(res(base, "#top") == None)
    // a ../ inside the QUERY is data, not structure
    assert(res(base, "x?path=../etc") ==
      Some("http://h.example.com/a/b/x?path=../etc"))
    // a host-only base resolves relatives at the root
    assert(res("http://h.example.com", "r") == Some("http://h.example.com/r"))
    // dotted chains interleave
    assert(res(base, ".././x/./y/../z") == Some("http://h.example.com/a/x/z"))
    // the native expression's interpreted eval agrees with the codegen
    // route above (url_resolve is a custom Expression — the convention)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    Seq("x/y", "../up", "../../../../deep", "/abs/p", "//cdn.example.com/l",
      "mailto:x@y.example", "#top", "", ".././x/./y/../z", "x?path=../etc")
      .foreach { href =>
        val interp = Option(graft.plans.UrlResolve(
          Literal(UTF8String.fromString(base),
            org.apache.spark.sql.types.StringType),
          Literal(UTF8String.fromString(href),
            org.apache.spark.sql.types.StringType)).eval(null))
          .map(_.toString)
        assert(interp == res(base, href), s"interp parity for <$href>")
      }
    // Spark-trim parity: only SPACE is trimmed (tab is part of the href
    // and makes it unresolvable as a scheme... it stays a relative path)
    assert(res(base, " spaced ") == Some("http://h.example.com/a/b/spaced"))
  }

  test("linksOf: real HTML with <base>, relative links, and junk schemes") {
    import spark.implicits._
    val html =
      """<html><head><BASE href="/based/sub/"><title>t</title></head>
        |<body>
        |<a href="one.html">one</a>
        |<A HREF='../two'>two</A>
        |<a class="x" href="/three?utm_source=z">three</a>
        |<a href="//cdn.example.com/four">four</a>
        |<a href="HTTP://Other.NET:80/five#f">five</a>
        |<a href="mailto:a@b.example">mail</a>
        |<a href="#sec">jump</a>
        |<a href="one.html">dup</a>
        |</body></html>""".stripMargin
    val pages = Seq(("http://site.example.com/dir/page.html", html))
      .toDF("page_url", "html")
    val got = HtmlOps.linksOf(pages).collect().map(_.getString(1)).toSet
    assert(got == Set(
      "http://site.example.com/based/sub/one.html", // base redirects the merge
      "http://site.example.com/based/two",
      "http://site.example.com/three", // tracking param canoned away
      "http://cdn.example.com/four",
      "http://other.net/five"), got)
  }

  test("anchorsOf: inner text tag-stripped, base honored, empty/junk anchors drop") {
    import spark.implicits._
    val html =
      """<html><head><base href="/docs/"></head><body>
        |<a href="guide.html">The <b>full</b>   guide</a>
        |<a class="nav" href='guide.html'>the full guide</a>
        |<a href="/img/x"><img src="x.png"></a>
        |<a href="mailto:a@b.example">write us</a>
        |<a href="other.html"> spaced   text </a>
        |</body></html>""".stripMargin
    val pages = Seq(("http://site.example.com/dir/page.html", html))
      .toDF("page_url", "html")
    val got = HtmlOps.anchorsOf(pages)
      .select("dst_url", "anchor").as[(String, String)].collect().toSet
    // image-only anchor (empty after strip) and mailto both drop;
    // nested tags strip to spaces and whitespace collapses
    assert(got == Set(
      ("http://site.example.com/docs/guide.html", "The full guide"),
      ("http://site.example.com/docs/guide.html", "the full guide"),
      ("http://site.example.com/docs/other.html", "spaced text")), got)
  }

  test("metaOf: title collapse, both attribute orders, base-resolved og:image, NULLs") {
    import spark.implicits._
    val full =
      """<html><head><base href="/assets/">
        |<title> The
        |	Story   Page </title>
        |<meta name="description" content="a plain summary">
        |<meta content='og summary' property='og:description'>
        |<meta property="og:title" content="The Story">
        |<meta property='og:image' content='hero.jpg'>
        |</head><body></body></html>""".stripMargin
    val bare = "<html><head><title></title>" +
      "<meta property=\"og:image\" content=\"data:image/png;base64,x\">" +
      "</head><body></body></html>"
    val pages = Seq(
      ("http://site.example.com/a/page.html", full),
      ("http://site.example.com/b/page.html", bare)).toDF("page_url", "html")
    val rows = HtmlOps.metaOf(pages).collect()
      .map(r => r.getString(0) -> r).toMap
    val f = rows("http://site.example.com/a/page.html")
    assert(f.getString(1) == "The Story Page") // newline/tab collapse
    assert(f.getString(2) == "a plain summary")
    assert(f.getString(3) == "The Story")
    assert(f.getString(4) == "og summary") // content-first order
    // og:image resolves against the BASE, not the page directory
    assert(f.getString(5) == "http://site.example.com/assets/hero.jpg")
    val b = rows("http://site.example.com/b/page.html")
    // empty title and a data: og:image are both NULL routes
    assert((1 to 5).forall(b.isNullAt), b.toString)
  }

  test("anchorTextOf: per-target aggregation, top anchor by count then text") {
    import spark.implicits._
    val mk = (hrefText: Seq[(String, String)]) =>
      "<html><body>" + hrefText.map { case (h, t) =>
        s"""<a href="$h">$t</a>""" }.mkString + "</body></html>"
    val pages = Seq(
      ("http://a.example.com/1", mk(Seq(
        "http://t.example.com/page" -> "Home",
        "http://t.example.com/page?utm_source=x" -> "home page",
        "http://t.example.com/other" -> "misc"))),
      ("http://a.example.com/2", mk(Seq(
        "http://t.example.com/page" -> "home page",
        "http://t.example.com/page" -> "home page"))),
      ("http://b.example.com/1", mk(Seq(
        "http://t.example.com/page" -> "Home")))
    ).toDF("page_url", "html")
    val rows = HtmlOps.anchorTextOf(pages).collect()
      .map(r => r.getString(0) -> r).toMap
    val page = rows("http://t.example.com/page")
    // home page ×3 beats Home ×2; 5 text-bearing inlinks, 2 spellings,
    // 3 distinct source pages
    assert(page.getString(1) == "home page")
    assert(page.getLong(2) == 3L && page.getLong(3) == 5L)
    assert(page.getLong(4) == 2L && page.getLong(5) == 3L)
    val other = rows("http://t.example.com/other")
    assert(other.getString(1) == "misc" && other.getLong(3) == 1L)
  }

  test("anchor state merges incrementally: batch-of-all equals merged deltas") {
    import spark.implicits._
    val mk = (links: Seq[(String, String)]) => "<html><body>" +
      links.map { case (h, t) => s"""<a href="$h">$t</a>""" }.mkString +
      "</body></html>"
    val batch1 = Seq(
      ("http://a.example/1", mk(Seq(
        "http://t.example/page" -> "Home", "http://t.example/page" -> "Home"))),
      ("http://b.example/1", mk(Seq("http://t.example/page" -> "home page"))))
      .toDF("page_url", "html")
    val batch2 = Seq(
      // the SAME page re-crawled with one more link — counts just add
      ("http://a.example/1", mk(Seq("http://t.example/page" -> "Home"))),
      ("http://c.example/1", mk(Seq("http://t.example/other" -> "misc"))))
      .toDF("page_url", "html")
    val merged = HtmlOps.anchorTextFromState(HtmlOps.anchorStateMerge(
      HtmlOps.anchorState(batch1), HtmlOps.anchorState(batch2)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // equivalent to the batch face over the concatenated page sets
    val whole = HtmlOps.anchorTextOf(batch1.unionByName(batch2))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(merged == whole, s"$merged vs $whole")
    assert(merged.contains(
      ("http://t.example/page", "Home", 3L, 4L, 2L, 2L)), merged)
  }

  test("q_anchor_text: one/one again collapse onto one canonical target") {
    import spark.implicits._
    val docs = Seq((1L, "alpha"), (101L, "alpha"), (3L, "beta"))
      .toDF("doc_id", "source")
    val rows = HtmlOps.anchorText(docs).collect()
    // docs 1 and 101 share (source=alpha, p1 = (id*7+13)%100 = 20):
    // their `one` + `one again` anchors all land on ONE canonical
    // /docs/20 target — 4 inlinks, 2 spellings, 2 docs, tie at 2/2
    // broken to the struct-max larger text
    val t = rows.find(r => r.getString(0).contains("alpha") &&
      r.getString(0).endsWith("/docs/20")).get
    assert(t.getString(1) == "one again" && t.getLong(2) == 2L)
    assert(t.getLong(3) == 4L && t.getLong(4) == 2L && t.getLong(5) == 2L)
    // doc 3 (beta): /docs/34 takes one + one again (2 inlinks, 2
    // spellings, 1 doc), /docs/38 takes two — TWO beta targets
    val beta = rows.filter(_.getString(0).contains("beta"))
    assert(beta.length == 2)
    val b34 = beta.find(_.getString(0).endsWith("/docs/34")).get
    assert(b34.getLong(3) == 2L && b34.getLong(4) == 2L && b34.getLong(5) == 1L)
    val b38 = beta.find(_.getString(0).endsWith("/docs/38")).get
    assert(b38.getString(1) == "two" && b38.getLong(3) == 1L)
  }

  test("metaRedirectsOf: both attribute orders, relative targets, composes with resolve") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val pages = Seq(
      ("http://m.example.com/a/old", // http-equiv first, relative target
        "<html><head><meta http-equiv=\"refresh\" content=\"0;url=../new\">" +
          "</head><body>moved</body></html>"),
      ("http://m.example.com/b", // content FIRST, absolute target
        "<head><meta content=\"5; URL=http://m.example.com/c#f\" " +
          "http-equiv='refresh'></head>"),
      ("http://m.example.com/plain", // no refresh — no edge
        "<html><meta charset=\"utf-8\"><p>content=\"url=trap\"</p></html>"),
      ("http://m.example.com/js", // non-fetchable target dropped
        "<meta http-equiv=\"refresh\" content=\"0;url=javascript:alert(1)\">"),
      ("http://m.example.com/d", // UNQUOTED content attribute (round 14)
        "<html><meta http-equiv=refresh content=0;url=/x></html>"),
      ("http://m.example.com/e", // unquoted, content first
        "<meta content=3;url=rel2 http-equiv=refresh>"))
      .toDF("page_url", "html")
    val got = HtmlOps.metaRedirectsOf(pages).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("http://m.example.com/a/old", "http://m.example.com/new"),
      ("http://m.example.com/b", "http://m.example.com/c"),
      ("http://m.example.com/d", "http://m.example.com/x"),
      ("http://m.example.com/e", "http://m.example.com/rel2")), got)
    // the meta edges walk the SAME resolver as 3xx edges
    val res = CrawlOps.redirectResolve(
      HtmlOps.metaRedirectsOf(pages).select("src_url", "dst_url")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(3))).toMap
    assert(res("http://m.example.com/a/old") == (("http://m.example.com/new", true)))
  }

  test("redirectsOf pulls 3xx Location edges; a planted 301 chain resolves and enqueues") {
    import graft.operators.CrawlOps
    val dir = SparkSpec.tempDir("graft_warc_redir")
    def resp(uri: String, status: String, hdrs: String): Array[Byte] =
      record("response", uri,
        (s"HTTP/1.1 $status\r\n$hdrs\r\n\r\n").getBytes(US_ASCII))
    val recs =
      // chain: /start -301-> /hop (RELATIVE Location) -302-> other host
      resp("HTTP://Chain.NET:80/start?utm_source=x", "301 Moved Permanently",
        "Location: /hop") ++
      resp("http://chain.net/hop", "302 Found",
        "Location: http://Target.ORG/final#frag") ++
      // a 3xx with no Location: nothing to follow, dropped
      resp("http://chain.net/dead", "303 See Other", "X-Other: v") ++
      // a RELATIVE dot-segmented Location (RFC 9110 allows any
      // reference form) resolves against the request URL
      resp("http://chain.net/a/b/old", "301 Moved Permanently",
        "Location: ../new") ++
      // a non-http bounce target is not fetchable — dropped
      resp("http://chain.net/ftp", "302 Found",
        "Location: ftp://files.example.com/x") ++
      // non-3xx responses are not redirects
      record("response", "http://chain.net/page",
        http("200 OK", "text/html", "<p>x</p>".getBytes(UTF_8)))
    Files.write(dir.resolve("seg.warc"), recs)
    val edges = HtmlOps.redirectsOf(
      graft.sources.WarcSource.read(spark, dir.toString))
    val got = edges.collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(
      ("http://chain.net/start", "http://chain.net/hop", 301),
      ("http://chain.net/hop", "http://target.org/final", 302),
      ("http://chain.net/a/b/old", "http://chain.net/a/new", 301)), got)
    // the chain resolves end-to-end through the shared resolver, and the
    // final target is what the frontier would enqueue
    val res = CrawlOps.redirectResolve(edges.select("src_url", "dst_url"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(res("http://chain.net/start") ==
      (("http://target.org/final", 2L, true)))
    assert(res("http://chain.net/hop") ==
      (("http://target.org/final", 1L, true)))
  }

  test("redirectResolve caps loops: a 2-cycle never terminates but never hangs") {
    import spark.implicits._
    import graft.operators.CrawlOps
    val e = Seq(
      ("http://h/loop/a", "http://h/loop/b"),
      ("http://h/loop/b", "http://h/loop/a"),
      ("http://h/r", "http://h/done")).toDF("src_url", "dst_url")
    val out = CrawlOps.redirectResolve(e).collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("http://h/r") == (("http://h/done", 1L, true)))
    val (fa, ha, ra) = out("http://h/loop/a")
    assert(!ra && ha == 4L, s"loop must exhaust the hop cap: $fa $ha")
    assert(!out("http://h/loop/b")._3)
  }

  test("robots rule tie-breaks agree with the oracle's ordering (Allow wins)") {
    import spark.implicits._
    import graft.operators.CrawlOps
    // equal-length SAME-prefix conflict (the only way two equal-length
    // prefixes can both match one path): Allow must win in both engines
    val parts = Seq(("http://h.example.com/docs/31", "h", "/docs/31"))
      .toDF("canon_url", "source", "path")
    val rules = Seq(
      ("h", "/docs/3", false), ("h", "/docs/3", true), // dup prefix, conflict
      ("h", "/docs/4", false)) // equal length, non-matching — inert
      .toDF("source", "prefix", "allow")
    val m = CrawlOps.matchRules(parts, rules, Seq.empty)
      .select(col("canon_url"), col("m.prefix").as("p"), col("m.allow").as("a"))
      .collect().head
    assert(m.getString(1) == "/docs/3" && m.getBoolean(2),
      "struct-max must pick allow=true at equal length")
    // replay the oracle's ROW_NUMBER ordering (length DESC, allow DESC,
    // prefix DESC — Crawl.scala oracle) over the same matching rules: the
    // two engines' tie-break keys must elect the same rule
    val matching = Seq(("/docs/3", false), ("/docs/3", true))
    val oracleWinner = matching.sortWith { case ((p1, a1), (p2, a2)) =>
      if (p1.length != p2.length) p1.length > p2.length
      else if (a1 != a2) a1 > a2
      else p1 > p2
    }.head
    assert((m.getString(1), m.getBoolean(2)) == oracleWinner)
  }

  test("urlDedupBy collapses the warc bridge's refetches on the real url column") {
    val dir = SparkSpec.tempDir("graft_warc_urldedup")
    val body = "<p>the of and to page body</p>"
    Files.write(dir.resolve("seg.warc"),
      record("response", "HTTP://Site.COM:80/a?utm_source=x",
        http("200 OK", "text/html; charset=utf-8", body.getBytes(UTF_8))) ++
        record("response", "http://site.com/a#frag",
          http("200 OK", "text/html", body.getBytes(UTF_8))) ++
        record("response", "http://site.com/b",
          http("200 OK", "text/html", body.getBytes(UTF_8))))
    val (clean, _) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val out = UrlOps.urlDedupBy(clean).collect()
    assert(out.length == 2)
    val a = out.find(_.getAs[String]("canon_url") == "http://site.com/a").get
    assert(a.getAs[Long]("n_docs") == 2 && a.getAs[Long]("n_variants") == 1,
      "bridge already canonicalized: one variant, two fetches")
  }

  test("urlFilterOf gates the real ingest output before any content operator") {
    val dir = SparkSpec.tempDir("graft_warc_urlfilter")
    val body = "<p>the of and to page body</p>"
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://ads.bad.site/promo",
        http("200 OK", "text/html", body.getBytes(UTF_8))) ++
        record("response", "http://good.site/article?utm_source=feed",
          http("200 OK", "text/html", body.getBytes(UTF_8))) ++
        record("response", "http://good.site/clean",
          http("200 OK", "text/html", body.getBytes(UTF_8))))
    val (clean, _) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    // the composition a pipeline runs: gate the corpus by its own url
    // column, keep only url_ok docs for everything downstream
    val verdicts = UrlOps.urlFilterOf(clean, Seq("bad.site"), Seq("utm_"))
    val keep = clean.join(
      verdicts.filter(col("url_ok")).select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val kept = keep.collect().map(_.getAs[String]("url")).toSet
    // NOTE: the bridge canonicalizes urls (utm_ stripped by canon), so
    // the pattern gate sees the CANONICAL url here — the raw-url gate
    // belongs at fetch-log time; domain blocking works at either stage
    assert(!kept.exists(_.contains("bad.site")), kept.toString)
    assert(kept.contains("http://good.site/clean"))
  }

  test("urlFilterOf with FILE-loaded domain and pattern blocklists end-to-end") {
    // the deployment recipe the Url scaladoc documents, executed: both
    // lists live as one-entry-per-line artifact files (comments and
    // blanks dropped by readBadwords), loaded into the gate over real
    // warcToDocuments output
    val dir = SparkSpec.tempDir("graft_warc_urlfilter_files")
    val body = "<p>the of and to page body</p>"
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://ads.bad.site/promo",
        http("200 OK", "text/html", body.getBytes(UTF_8))) ++
        record("response", "http://tracker.example/path/casino/x",
          http("200 OK", "text/html", body.getBytes(UTF_8))) ++
        record("response", "http://good.site/clean",
          http("200 OK", "text/html", body.getBytes(UTF_8))))
    val domainsFile = dir.resolve("blocked_domains.txt")
    Files.write(domainsFile, java.util.Arrays.asList(
      "# adult/ads domain list", "", "BAD.SITE", "other.example"))
    val patternsFile = dir.resolve("blocked_patterns.txt")
    Files.write(patternsFile, java.util.Arrays.asList(
      "# url substring markers", "casino", ""))
    val domains = TextOps.readBadwords(spark, domainsFile.toString)
    val patterns = TextOps.readBadwords(spark, patternsFile.toString)
    assert(domains == Seq("bad.site", "other.example"), domains)
    assert(patterns == Seq("casino"), patterns)
    val (clean, _) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val verdicts = UrlOps.urlFilterOf(clean, domains, patterns)
      .collect().map(r => r.getAs[String]("host") ->
        (r.getAs[Boolean]("domain_blocked"), r.getAs[Boolean]("pattern_blocked"),
          r.getAs[Boolean]("url_ok"))).toMap
    assert(verdicts("ads.bad.site") == ((true, false, false)), verdicts)
    assert(verdicts("tracker.example") == ((false, true, false)), verdicts)
    assert(verdicts("good.site") == ((false, false, true)), verdicts)
  }

  test("warc bridge chains into langId and dedupLines (the documents estate)") {
    val dir = SparkSpec.tempDir("graft_warc_chain")
    val page = "<p>the of and to in for is on that the of and to in for is on that</p>"
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://en.site/x",
        http("200 OK", "text/html; charset=utf-8", page.getBytes(UTF_8))) ++
      record("response", "http://en.site/y",
        http("200 OK", "text/html", page.getBytes(UTF_8))))
    val (clean, _) =
      HtmlOps.warcToDocuments(graft.sources.WarcSource.read(spark, dir.toString))
    val docs = clean.select(col("doc_id"), col("text"), col("source"))
    val langs = TextOps.langId(docs).collect()
    assert(langs.length == 2 && langs.forall(_.getAs[String]("pred_lang") == "en"))
    val lines = DedupOps.dedupLines(docs).collect()
    assert(lines.length == 2)
    // identical page bodies: the second doc's segments are all duplicates
    assert(lines.map(_.getAs[Long]("n_kept")).sorted.toSeq.head == 0L)
  }

  test("surt: the CDX sort key follows the IA canonicalization subset") {
    import spark.implicits._
    val cases = Seq(
      // lowercase, www strip, default port drop, param sort, fragment drop
      ("HTTP://WWW.Example.COM:80/A/B?b=2&a=1#frag", "com,example)/a/b?a=1&b=2"),
      // userinfo drops, non-default port KEPT, label reversal
      ("https://user:pw@Sub.Site.org:8443/x", "org,site,sub:8443)/x"),
      // empty path → "/", single-label host, https default port drops
      ("https://host:443", "host)/"),
      // www2 counts as a www label; bare query survives sorted
      ("http://www2.news.co.uk/p?z&a", "uk,co,news)/p?a&z"))
      .toDF("url", "want")
    val got = cases.select(col("want"),
      graft.operators.UrlOps.surt(col("url")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0), r.toString))
    // junk with no authority yields NULL — it cannot sort into a domain
    val junk = Seq("notaurl", "mailto:a@b.c").toDF("url")
      .select(graft.operators.UrlOps.surt(col("url")).as("s")).collect()
    assert(junk.forall(_.isNullAt(0)), junk.toSeq)
  }

  test("watOf composes page-local WAT metadata exchange-free; writeWat ships it") {
    import spark.implicits._
    val html1 =
      """<html><head><title> WAT  one </title>
        |<base href="http://a.net/sub/">
        |<meta property="og:title" content="OG one">
        |<meta name="description" content="about one">
        |<meta property="og:image" content="/img/cover.png">
        |<script type="application/ld+json">{"@type":"NewsArticle","headline":"H1"}</script>
        |</head><body>
        |<a href="x.html">rel</a>
        |<a href="x.html">dup</a>
        |<a href="mailto:z@q.com">mail</a>
        |<a href="http://B.org/p">abs</a>
        |</body></html>""".stripMargin
    val pages = Seq(
      ("http://a.net/page", html1, "2026-08-15T00:00:00Z"),
      ("http://c.io/min", "<html><body>no head</body></html>",
        "2026-08-15T01:00:00Z"))
      .toDF("page_url", "html", "fetch_date")
    val wat = graft.operators.HtmlOps.watOf(pages)
    assert(wat.columns.toSeq == Seq("url", "metadata_json", "fetch_date"))
    // the scale contract: every WAT field is page-local, so the composer
    // must fuse into the scan — zero Exchange operators
    val p = wat.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Exchange.*""")), p)
    val rows = wat.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val j1 = rows("http://a.net/page")
    assert(j1.contains("\"title\":\"WAT one\""), j1)        // ws-collapsed
    assert(j1.contains("\"og_title\":\"OG one\""), j1)
    assert(j1.contains("\"meta_description\":\"about one\""), j1)
    // og:image resolved against the base href + canonicalized
    assert(j1.contains("\"og_image\":\"http://a.net/img/cover.png\""), j1)
    // links: base-resolved, within-page deduped, mailto dropped, host
    // case canonicalized — in first-occurrence order
    assert(j1.contains(
      "\"links\":[\"http://a.net/sub/x.html\",\"http://b.org/p\"]"), j1)
    assert(j1.contains("\"headline\":\"H1\""), j1)          // real JSON parse
    val j2 = rows("http://c.io/min")
    assert(j2.contains("\"links\":[]") && !j2.contains("title"), j2)
    // the full WAT loop: composer → sink → any WARC reader
    val dir = SparkSpec.tempDir("graft_watloop").resolve("out").toString
    graft.sources.WarcSink.writeWat(wat, dir)
    val back = graft.sources.WarcSource.read(spark, dir).collect()
    assert(back.length == 2)
    val byUri = back.map(r => r.getAs[String]("target_uri") ->
      new String(r.getAs[Array[Byte]]("payload"), UTF_8)).toMap
    assert(byUri == rows)
  }
}
