package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Crawl-politeness + frontier discovery — the two steps that close the
  * crawl loop the round-10 estate built (WARC fetch → HTML extraction →
  * link extraction → THIS → back to fetch):
  *
  *  - [[robotsFilter]]: robots.txt semantics over per-host rule sets —
  *    MOST-SPECIFIC-MATCH-WINS (longest PATTERN) with Allow overriding
  *    Disallow on equal-length ties (the Googlebot/RFC 9309 rule, not
  *    first-match); since round 13 rule values are full RFC 9309
  *    PATTERNS (`*` spans any bytes, a final `$` anchors — see
  *    [[matchRules]]); rules match against the PATH + QUERY (RFC
  *    9309's match target), one convention shared by every matcher in
  *    this file;
  *  - [[frontier]]: the not-yet-fetched, robots-allowed outlink set
  *    with referrer counts — what the scheduler actually enqueues.
  *
  * Rules are synthesized deterministically per host from the source
  * name (both engines derive the same table), so both queries are fully
  * hash-checked; the URL and link universes are the SHARED builders
  * ([[UrlOps.urlUniverseSql]], [[HtmlOps.linkUniverseSql]]) — no oracle
  * carries a private copy that could drift. Scale shapes: rules are
  * KBs → broadcast; the frontier anti-join keys on the canonical URL
  * (the fetch log's identity, so the join is exact, not heuristic). */
object CrawlOps {

  /** Per-host synthetic rule set: Disallow `/docs/<d>` (d = source idx
    * mod 10 — a digit prefix, so it blocks ~11 of the 100 paths),
    * Allow `/docs/<d>3` (longer → re-allows one blocked path, which is
    * exactly the precedence case worth testing), and — round 13 — a
    * WILDCARD rule `Disallow: /docs/` + `*<t>$` (t = (idx+7) mod 10: blocks
    * any docs path ENDING in digit t — both RFC 9309 metacharacters in
    * one rule, so `*`/`$` semantics are exercised by every consuming
    * oracle). */
  /** The host DIMENSION (distinct `source`), derived ONCE per composed
    * query and locally checkpointed: every politeness frame (rules,
    * statuses, delays, sitemap bodies, redirect edges) is hosts-bounded
    * and synthesizes from this table — re-deriving it inside each
    * helper cost one corpus-scale scan + distinct shuffle PER FRAME
    * (q_sitemap's plan carried 14 parquet scans). At production scale
    * this is the persisted host table a crawler maintains anyway. */
  /** The FULL host of a canonical URL (authority minus userinfo and
    * port) — the host identity the general real-data faces key on
    * ([[crawlTrapsBy]], [[frontierBudgetedBy]]); the synthetic
    * universes' `source` label is its first-DNS-label projection. */
  private[graft] val FullHostRe =
    "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"

  private[graft] def hostsOf(documents: DataFrame): DataFrame =
    Materialize(documents.select(col("source")).distinct(), eager = false)

  private[graft] def rulesOf(documents: DataFrame): DataFrame =
    rulesFrom(documents.select(col("source")).distinct())

  /** [[rulesOf]] over a pre-derived host frame — the shared-dimension
    * face composed queries use. */
  private[graft] def rulesFrom(hosts: DataFrame): DataFrame = {
    val d = expr("CAST(substr(source, 4, 10) AS INT) % 10").cast("string")
    val t = expr("(CAST(substr(source, 4, 10) AS INT) + 7) % 10").cast("string")
    hosts
      .select(col("source"), explode(array(
        struct(concat(lit("/docs/"), d).as("prefix"), lit(false).as("allow")),
        struct(concat(lit("/docs/"), d, lit("3")).as("prefix"),
          lit(true).as("allow")),
        struct(concat(lit("/docs/*"), t, lit("$")).as("prefix"),
          lit(false).as("allow")))).as("r"))
      .select(col("source"), col("r.prefix").as("prefix"),
        col("r.allow").as("allow"))
  }

  /** Synthetic per-host robots-FETCH status — the reachability axis RFC
    * 9309 §2.3.1 keys on, orthogonal to the rule text: most hosts 200
    * (rules apply), idx%10==4 hosts 404 (robots.txt ABSENT → allow-all,
    * any stale rules ignored), idx%10==8 hosts 503 (robots.txt
    * UNREACHABLE → assume complete disallow — §2.3.1.4). Both engines
    * derive the same table from `source` alone; hosts-bounded KBs →
    * broadcast everywhere it joins. */
  private[graft] def robotsStatusOf(documents: DataFrame): DataFrame =
    robotsStatusFrom(documents.select(col("source")).distinct())

  /** [[robotsStatusOf]] over a pre-derived host frame. */
  private[graft] def robotsStatusFrom(hosts: DataFrame): DataFrame = {
    val m10 = expr("CAST(substr(source, 4, 10) AS INT) % 10")
    hosts
      .withColumn("robots_status",
        when(m10 === 8, lit(503))
          .when(m10 === 4, lit(404))
          .otherwise(lit(200)))
  }

  /** Per-host robots-fetch STATUS observed in a real WARC crawl — the
    * ingest face of [[robotsStatusOf]]'s synthetic axis, closing the
    * round-13 gap where the WARC path held the status code but the
    * politeness layer never saw it: each host's LATEST `/robots.txt`
    * response (by WARC-Date — a refetch supersedes; equal dates break
    * toward the more CONSERVATIVE outcome, ranked 5xx > 2xx > 4xx:
    * disallow-all beats rules-apply beats allow-all-ignore-rules — a
    * raw status-code max would let a 404 beat a 200 and discard the
    * host's parsed rules, the LEAST conservative reading) yields one
    * (source, robots_status) row for [[matchRules]] + [[robotsAllowed]].
    * A 2xx row pairs with [[parseRobotsBodies]]' rules from the same
    * records; a 4xx/5xx row gates the whole host with no rules needed.
    * One row per host → broadcasts like every status frame. */
  def robotsStatusesOf(records: DataFrame): DataFrame =
    graft.sources.WarcSource.httpResponses(records)
      .withColumn("_canon", UrlOps.canonIdn(col("target_uri")))
      .filter(col("_canon").rlike("^https?://[^/?#]+/robots\\.txt$"))
      // FULL host (round 16) — the warcToDocuments `source` convention:
      // first-label keying merged www.alpha with www.beta, so one
      // host's robots verdict could gate another's URLs
      .withColumn("source", regexp_extract(col("_canon"), FullHostRe, 1))
      .filter(col("source") =!= "" && col("http_status").isNotNull)
      .withColumn("_conservatism",
        when(col("http_status") >= 500, lit(2))
          .when(col("http_status") < 400, lit(1))
          .otherwise(lit(0)))
      .groupBy(col("source"))
      .agg(max(struct(col("warc_date"), col("_conservatism"),
        col("http_status")))
        .getField("http_status").as("robots_status"))

  /** RFC 9309 §2.3.1 verdict over a [[matchRules]] output frame (which
    * carries `m` + `robots_status`): 5xx (robots unreachable) →
    * disallow-all; 4xx (robots absent) → allow-all, rules ignored;
    * otherwise (2xx or no status recorded) the matched rule decides,
    * unmatched defaulting to allowed. */
  private[graft] def robotsAllowed: Column =
    when(col("robots_status") >= 500, lit(false))
      .when(col("robots_status") >= 400, lit(true))
      .otherwise(coalesce(col("m.allow"), lit(true)))

  /** Split a canonical URL frame into (…, source, path) — `path`
    * includes any surviving query (the RFC 9309 match target), so every
    * matcher built on these parts agrees by construction. The host KEY
    * is the caller's contract: the synthetic universes key on the
    * first DNS label (their `source` column), the real-data faces on
    * the FULL host ([[FullHostRe]] — the warcToDocuments convention);
    * what matters is that parts and rules/statuses frames agree. */
  private def withParts(urls: DataFrame,
                        host: Column = regexp_extract(col("canon_url"),
                          "^[a-z]+://([^./]+)\\.", 1)): DataFrame =
    urls
      .withColumn("source", host)
      .withColumn("path",
        regexp_replace(col("canon_url"), "^[a-z]+://[^/?#]*", ""))

  /** The rule match shared by [[robotsFilter]] and [[frontierCore]]:
    * most-specific matching rule per URL via a partial-aggregatable
    * struct-max (no window), unmatched → null `m`. Input needs
    * (canon_url, source, path) + any carry columns in `carry`.
    *
    * RFC 9309 semantics (round 13): rule values are PATTERNS — `*`
    * matches any byte sequence (incl. empty) and a FINAL `$` anchors
    * the match to the path's end; a $-less pattern matches any path it
    * prefixes. Both engines express this as ONE `LIKE … ESCAPE '\'`
    * (`*`→`%`, literal `%`/`_`/`\` escaped, final `$` → full match,
    * else a trailing `%`) — byte-identical semantics, no regex engine
    * variance. Specificity = the PATTERN's octet length (the
    * Googlebot/RFC reading); equal-length ties → Allow wins (the
    * struct-max's allow field). */
  private[graft] def matchRules(parts: DataFrame, rules: DataFrame,
                                carry: Seq[String]): DataFrame = {
    import parts.sparkSession.implicits._
    matchRules(parts, rules,
      Seq.empty[(String, Int)].toDF("source", "robots_status"), carry)
  }

  /** [[matchRules]] with the robots-fetch STATUS axis (round 14): the
    * hosts-bounded `statuses (source, robots_status)` frame broadcasts
    * in beside the rules and rides the output as `robots_status` (null
    * for hosts it does not cover — [[robotsAllowed]] then falls through
    * to the rule verdict). */
  private[graft] def matchRules(parts: DataFrame, rules: DataFrame,
                                statuses: DataFrame,
                                carry: Seq[String]): DataFrame = {
    val ruled = rules
      .withColumn("_wild", replace(replace(replace(replace(col("prefix"),
        lit("\\"), lit("\\\\")), lit("%"), lit("\\%")), lit("_"), lit("\\_")),
        lit("*"), lit("%")))
      .withColumn("_pat",
        when(col("prefix").endsWith("$"),
          expr("substring(_wild, 1, length(_wild) - 1)"))
          .otherwise(concat(col("_wild"), lit("%"))))
    val stat = statuses.select(col("source").as("_st_src"),
      col("robots_status").as("_st_code"))
    parts
      .join(broadcast(ruled),
        parts("source") === ruled("source") &&
          expr("path LIKE _pat ESCAPE '\\\\'"), "left")
      .join(broadcast(stat), parts("source") === col("_st_src"), "left")
      .groupBy((col("canon_url") +: carry.map(col)): _*)
      .agg(max(when(col("prefix").isNotNull,
        struct(length(col("prefix")).as("l"), col("allow").as("allow"),
          col("prefix").as("prefix")))).as("m"),
        max(col("_st_code")).as("robots_status"))
  }

  /** §2-125 `q_robots_filter`: every canonical URL in the fetch-log
    * universe ([[UrlOps.canonUrls]] — the distinct-set form, none of
    * urlDedup's accounting aggregates) against its host's rules —
    * longest matching prefix decides, Allow wins if it carries,
    * unmatched URLs default allowed; the robots-fetch STATUS gates the
    * whole host ([[robotsAllowed]] — 5xx disallow-all, 4xx allow-all
    * with rule_prefix nulled: an absent robots file HAS no rules).
    * Output (canon_url, rule_prefix, allowed). TWO broadcast joins +
    * ONE url-keyed argmax. */
  def robotsFilter(documents: DataFrame): DataFrame = {
    val hosts = hostsOf(documents)
    matchRules(withParts(UrlOps.canonUrls(documents)),
      rulesFrom(hosts), robotsStatusFrom(hosts), Seq.empty)
      .select(col("canon_url"),
        // COALESCE to 200: a host whose robots-fetch status was never
        // observed (the real-WARC face covers only crawled hosts) still
        // reports the rule that decided it — robotsAllowed falls through
        // to the rule verdict for that row, and a NULL status must not
        // three-valued-logic the prefix away while the verdict stands.
        when(coalesce(col("robots_status"), lit(200)) < 400,
          col("m.prefix")).as("rule_prefix"),
        robotsAllowed.as("allowed"))
      .orderBy("canon_url")
  }

  /** §2-126 `q_frontier`: the crawl scheduler's enqueue set — distinct
    * robots-ALLOWED outlinks ([[HtmlOps.linkExtract]]'s universe) that
    * are NOT in the fetch log (the synthetic log = canonical URLs with
    * path id < 50), with referrer counts for prioritization. Outlink
    * agg is one (url) shuffle; rules broadcast; the fetch-log anti-join
    * keys on the canonical URL. */
  def frontier(documents: DataFrame): DataFrame =
    frontierSet(documents).orderBy("canon_url")

  /** [[frontier]] without the presentation sort — the face composing
    * queries consume ([[crawlSchedule]] re-partitions by host anyway;
    * feeding it the sorted frame would buy a wasted range exchange). */
  private def frontierSet(documents: DataFrame): DataFrame =
    frontierSetFrom(documents, hostsOf(documents))

  /** [[frontierSet]] over a pre-derived host frame (shared with the
    * schedule composition). */
  private def frontierSetFrom(documents: DataFrame,
                              hosts: DataFrame): DataFrame = {
    val links = HtmlOps.linkExtractSet(documents)
      .groupBy(col("dst_url").as("canon_url"))
      .agg(countDistinct(col("doc_id")).as("n_referrers"))
    val fetched = UrlOps.canonUrls(documents)
      .filter(expr("CAST(regexp_extract(canon_url, '/docs/([0-9]+)$', 1) AS INT) < 50"))
    frontierCore(links, rulesFrom(hosts), robotsStatusFrom(hosts), fetched)
  }

  /** The frontier computation proper, over ANY (canon_url, n_referrers)
    * link frame + rule set + fetch log — shared by the batch query and
    * [[frontierStream]] so the two cannot drift. */
  private[graft] def frontierCore(links: DataFrame, rules: DataFrame,
                                  statuses: DataFrame,
                                  fetched: DataFrame): DataFrame =
    matchRules(withParts(links), rules, statuses, Seq("n_referrers"))
      .filter(robotsAllowed)
      .join(fetched.select(col("canon_url")), Seq("canon_url"), "left_anti")
      .select(col("canon_url"), col("n_referrers"))

  /** The latest 2xx `/robots.txt` BODY per host off a WARC record frame
    * — the (source, body) input [[parseRobotsBodies]] wants, keyed on
    * the FULL host like every round-16 real face (a refetch supersedes
    * by WARC-Date, matching [[robotsStatusesOf]]'s latest-wins rule;
    * 4xx/5xx fetches carry no usable body — the STATUS face gates
    * those hosts). One hosts-bounded aggregation. */
  def robotsBodiesOf(records: DataFrame): DataFrame =
    graft.sources.WarcSource.httpResponseBytes(records)
      .withColumn("_canon", UrlOps.canonIdn(col("target_uri")))
      .filter(col("_canon").rlike("^https?://[^/?#]+/robots\\.txt$"))
      .withColumn("source", regexp_extract(col("_canon"), FullHostRe, 1))
      .filter(col("source") =!= "" && col("http_status").between(200, 299))
      // robots.txt SHOULD be UTF-8 (RFC 9309 §2.3) but a latin-1 body
      // must not silently cost a host its rules (its ASCII directives
      // survive either decode) — the decodeSitemapBodies fallback rule
      .withColumn("body",
        when(expr("is_valid_utf8(body_bytes)"),
          decode(col("body_bytes"), "UTF-8"))
          .otherwise(decode(col("body_bytes"), "ISO-8859-1")))
      .groupBy(col("source"))
      .agg(max(struct(col("warc_date"), col("body")))
        .getField("body").as("body"))

  /** The REAL-DATA frontier (round 16) — the public end-to-end face a
    * crawl operator actually runs, wiring the general pieces the estate
    * already proved one by one: crawled pages' outlinks
    * ([[HtmlOps.linksOf]] — base-href, resolve, canonIdn) against the
    * crawl's OWN robots records ([[robotsBodiesOf]] →
    * [[parseRobotsBodies]] for the rules; [[robotsStatusesOf]] for the
    * reachability axis) minus the fetch log. EVERY host keys on the
    * FULL host — the synthetic first-label `source` never appears, so
    * `www.alpha.example` and `www.beta.example` cannot gate each
    * other's URLs. A host with no robots capture defaults to allowed
    * (no rules, no status — RFC 9309 has nothing to say until the
    * robots fetch happens; the scheduler fetches robots.txt first in
    * practice). Scale: links are the one corpus-scale frame (one
    * url-keyed agg + the anti-join); rules/statuses are hosts-bounded
    * broadcasts. */
  def frontierOf(pages: DataFrame, records: DataFrame,
                 fetched: DataFrame, agent: String = "*"): DataFrame = {
    // discovery is THREE channels, exactly like the synthetic estate's
    // loop: <a href> outlinks, 3xx Location targets off the records
    // (a redirect IS a discovered link — q_redirects' enqueue rule),
    // and meta-refresh targets (the in-page redirect sites use when
    // they cannot send a 3xx). Outlinks ride the FOLLOWABLE face
    // (round 16 continuation): page-level meta-robots nofollow and
    // rel=nofollow links never reach the frontier — the link-level
    // politeness directive robots.txt cannot express. The HTTP route
    // gates identically (round 17): an X-Robots-Tag: nofollow response
    // keeps that page's outlinks out too — anti-join on the canonical
    // URL, directive rows are hosts-bounded so AQE broadcasts them
    val hdrNofollow = xRobotsOf(records).filter(col("nofollow"))
      .select(col("canon_url").as("_nf_url")).distinct()
    val links = HtmlOps.followableLinksOf(pages)
      .join(hdrNofollow,
        UrlOps.canonIdn(col("page_url")) === col("_nf_url"), "left_anti")
      .select(col("page_url").as("ref"), col("dst_url"))
      .unionByName(HtmlOps.redirectsOf(records)
        .select(col("src_url").as("ref"), col("dst_url")))
      .unionByName(HtmlOps.metaRedirectsOf(pages)
        .select(col("src_url").as("ref"), col("dst_url")))
      .groupBy(col("dst_url").as("canon_url"))
      .agg(countDistinct(col("ref")).as("n_referrers"))
    val (rules, _, _) = parseRobotsBodies(robotsBodiesOf(records), agent)
    matchRules(withParts(links, regexp_extract(col("canon_url"),
      FullHostRe, 1)), rules, robotsStatusesOf(records),
      Seq("n_referrers"))
      .filter(robotsAllowed)
      .join(fetched.select(col("canon_url")), Seq("canon_url"), "left_anti")
      .select(col("canon_url"), col("n_referrers"))
  }

  /** The REAL-DATA politeness schedule (round 16) — [[frontierOf]]'s
    * WHEN twin: the real frontier queued behind the crawl's own
    * `Crawl-delay` declarations ([[parseRobotsBodies]]' delays face),
    * full-host keyed end to end; hosts declaring no delay queue at
    * `defaultDelayS` (real crawlers always impose SOME floor — a
    * zero-delay host would collapse the politeness queue to a burst). */
  def crawlScheduleOf(pages: DataFrame, records: DataFrame,
                      fetched: DataFrame, agent: String = "*",
                      defaultDelayS: Long = 1L,
                      trapsBy: Option[DataFrame] = None,
                      damp: Long = 10L): DataFrame = {
    import pages.sparkSession.implicits._
    val (_, delays0, _) = parseRobotsBodies(robotsBodiesOf(records), agent)
    // trap damping on the REAL face (the crawlScheduleDamped rule over
    // crawlTrapsBy's full-host flags): a flagged host's effective delay
    // is damp × its declared-or-floored delay — both frames
    // hosts-bounded, the frontier untouched
    val delays = trapsBy match {
      case None => delays0
      case Some(t) =>
        val trapHosts = t.filter(col("trap")).select(col("host").as("source"))
        val damped = trapHosts.join(delays0, Seq("source"), "left")
          .select(col("source"),
            (coalesce(col("delay_s"), lit(defaultDelayS)) * damp)
              .as("delay_s"))
        delays0.join(trapHosts, Seq("source"), "left_anti")
          .unionByName(damped)
    }
    val noCursors = Seq.empty[(String, Long)].toDF("source", "cursor_s")
    scheduleCoreKeyed(frontierOf(pages, records, fetched, agent), delays,
      noCursors, Seq.empty,
      regexp_extract(col("canon_url"), FullHostRe, 1), Some(defaultDelayS))
      .orderBy("canon_url")
  }

  /** REAL-DATA sitemap discovery (round 16) — the third public face of
    * the crawl loop beside [[frontierOf]] / [[crawlScheduleOf]]: the
    * crawl's own robots records declare the sitemap URLs
    * ([[parseRobotsBodies]]' `Sitemap:` face), their captured bodies
    * (latest 2xx per canonical URL; `.xml.gz` inflates by magic sniff)
    * parse through the general [[parseSitemaps]] with ONE level of
    * `<sitemapindex>` recursion — index children are themselves looked
    * up among the crawl's captures, so an unfetched child contributes
    * nothing — and the entries triage exactly like the synthetic
    * `q_sitemap`: newest lastmod per canonical URL, robots `allowed`,
    * already-`fetched` against `fetchLog` (contract: one row per
    * canonical URL, columns (canon_url, fetch_date)). FULL-host keyed
    * end to end. Scale: sitemaps and robots are hosts-bounded; the
    * capture-body lookup joins on the canonical URL (the fetch-log
    * key); the fetch-log join is the one corpus-scale frame. */
  def sitemapSeedsOf(records: DataFrame, fetchLog: DataFrame,
                     agent: String = "*"): DataFrame = {
    val (rules, _, _) = parseRobotsBodies(robotsBodiesOf(records), agent)
    triageCore(asSignals(sitemapEntriesOf(records, agent)), rules,
      robotsStatusesOf(records), fetchLog,
      host = regexp_extract(col("canon_url"), FullHostRe, 1))
  }

  /** The raw sitemap ENTRY signals of a WARC crawl — [[sitemapSeedsOf]]
    * before the triage, factored out (round 16) so [[recrawlOf]] can
    * union them with the header signals under ONE triage. Returns
    * (canon_url, lastmod, changefreq, priority). */
  private[graft] def sitemapEntriesOf(records: DataFrame,
                                      agent: String = "*"): DataFrame = {
    val (_, _, sitemaps) = parseRobotsBodies(robotsBodiesOf(records), agent)
    val captures = graft.sources.WarcSource.httpResponseBytes(records)
      .filter(col("http_status").between(200, 299))
      .withColumn("_canon", UrlOps.canonIdn(col("target_uri")))
      .groupBy(col("_canon"))
      .agg(max(struct(col("warc_date"), col("body_bytes")))
        .getField("body_bytes").as("body_bytes"))
    val declared = sitemaps
      .select(col("source"), UrlOps.canonIdn(col("sitemap_url")).as("_canon"))
      .distinct()
    val lvl0 = decodeSitemapBodies(
      declared.join(captures, "_canon")
        .select(col("source"), col("_canon").as("url"), col("body_bytes")))
      // tiny; the child walk AND the parse read it
      .transform(Materialize(_, eager = false))
    val children = lvl0.filter(col("body").contains("<sitemapindex"))
      .select(col("source"), explode(regexp_extract_all(col("body"),
        lit("<loc>([^<]*)</loc>"), lit(1))).as("child"))
      .select(col("source"), UrlOps.canonIdn(col("child")).as("_canon"))
      .distinct()
    val lvl1 = decodeSitemapBodies(
      children.join(captures, "_canon")
        .select(col("source"), col("_canon").as("url"), col("body_bytes")))
    parseSitemaps(lvl0.unionByName(lvl1))
      .select(UrlOps.canonIdn(col("loc")).as("canon_url"),
        col("lastmod"), col("changefreq"), col("priority"))
  }

  /** Header freshness signals straight off a WARC record frame (round
    * 16) — the lean real face of [[headerSignals]]: `Last-Modified`
    * parsed from the HTTP header block alone (the bijective latin-1
    * view; the RFC 9110 IMF-fixdate → ISO date string, the lexical
    * comparison convention), keyed on the canonical URL. No body
    * decode — a freshness sweep must not pay the full ingest price. */
  def headerSignalsOf(records: DataFrame): DataFrame = {
    val blank = "(?s)\\r?\\n\\r?\\n"
    records.filter(col("warc_type") === "response")
      .withColumn("_l1", decode(col("payload"), "ISO-8859-1"))
      .withColumn("_hdr",
        when(regexp_extract(col("_l1"), blank, 0) === "", col("_l1"))
          .otherwise(regexp_extract(col("_l1"), s"(?s)^(.*?)\\r?\\n\\r?\\n", 1)))
      .withColumn("_lm", regexp_extract(col("_hdr"),
        "(?im)^last-modified:([^\\r\\n]*)", 1))
      .withColumn("lastmod", to_date(try_to_timestamp(
        regexp_extract(col("_lm"),
          "([0-9]{1,2} [A-Za-z]{3} [0-9]{4} [0-9]{2}:[0-9]{2}:[0-9]{2})", 1),
        lit("d MMM yyyy HH:mm:ss")).cast("timestamp")).cast("string"))
      .filter(col("lastmod").isNotNull)
      .select(UrlOps.canonIdn(col("target_uri")).as("canon_url"),
        col("lastmod"))
  }

  /** HTTP-caching expiry straight off a WARC record frame — the real
    * face of [[expiresSignals]]: the stored copy's declared freshness
    * lifetime as an absolute ISO date. RFC 9111 §4.2.1 precedence:
    * `Cache-Control: max-age=N` over the response `Date` (seconds
    * arithmetic on the epoch — integer-exact) wins; the `Expires` date
    * is the fallback; a max-age with NO `Date` header yields nothing
    * (no anchor to count from — conservative). Same latin-1 header
    * split as [[headerSignalsOf]]; no body decode. */
  def expiresSignalsOf(records: DataFrame): DataFrame = {
    val blank = "(?s)\\r?\\n\\r?\\n"
    val imf = "([0-9]{1,2} [A-Za-z]{3} [0-9]{4} [0-9]{2}:[0-9]{2}:[0-9]{2})"
    def httpDate(hdr: Column, name: String): Column = try_to_timestamp(
      regexp_extract(regexp_extract(hdr,
        s"(?im)^$name:([^\\r\\n]*)", 1), imf, 1),
      lit("d MMM yyyy HH:mm:ss"))
    records.filter(col("warc_type") === "response")
      .withColumn("_l1", decode(col("payload"), "ISO-8859-1"))
      .withColumn("_hdr",
        when(regexp_extract(col("_l1"), blank, 0) === "", col("_l1"))
          .otherwise(regexp_extract(col("_l1"), s"(?s)^(.*?)\\r?\\n\\r?\\n", 1)))
      .withColumn("_maxage", regexp_extract(col("_hdr"),
        "(?im)^cache-control:[^\\r\\n]*?max-age=([0-9]+)", 1))
      .withColumn("_date", httpDate(col("_hdr"), "date"))
      .withColumn("expires",
        when(col("_maxage") =!= "" && col("_date").isNotNull,
          to_date(from_unixtime(unix_timestamp(col("_date")) +
            col("_maxage").cast("long"))).cast("string"))
          .otherwise(to_date(httpDate(col("_hdr"), "expires"))
            .cast("string")))
      .filter(col("expires").isNotNull)
      .select(UrlOps.canonIdn(col("target_uri")).as("canon_url"),
        col("expires"))
  }

  /** `X-Robots-Tag` directives straight off a WARC record frame — the
    * HTTP-header twin of [[HtmlOps.robotsDirectivesOf]] (the route
    * non-HTML resources declare noindex/nofollow; RFC-less but
    * universally implemented): same latin-1 header split, same
    * [[HtmlOps.robotsTokenFlags]] grammar, keyed on the canonical URL.
    * A corpus builder must drop noindex rows from BOTH routes before
    * any content operator runs. */
  def xRobotsOf(records: DataFrame): DataFrame = {
    val blank = "(?s)\\r?\\n\\r?\\n"
    val hdr = when(
      regexp_extract(decode(col("payload"), "ISO-8859-1"), blank, 0) === "",
      decode(col("payload"), "ISO-8859-1"))
      .otherwise(regexp_extract(decode(col("payload"), "ISO-8859-1"),
        s"(?s)^(.*?)\\r?\\n\\r?\\n", 1))
    // ALL occurrences: one X-Robots-Tag per directive is the common
    // server shape, so a single-extract reader misses a noindex in the
    // second header
    val tags = regexp_extract_all(hdr,
      lit("(?im)^x-robots-tag:[ \\t]*([^\\r\\n]*)"), lit(1))
    val (noidx, nofollow) = HtmlOps.robotsTokenFlagsAll(tags)
    records.filter(col("warc_type") === "response")
      .select(UrlOps.canonIdn(col("target_uri")).as("canon_url"),
        noidx.as("noindex"), nofollow.as("nofollow"))
  }

  /** Declared-vs-sniffed Content-Type AUDIT (round 17) — the
    * deployment face of `magic_mime` ([[graft.plans.MagicMime]]): per
    * response, the header's declared media type beside the BODY's
    * magic-byte verdict. `mismatch` is any disagreement;
    * `mojibake_risk` is the dangerous direction — binary content
    * behind a text-prefixed (or missing) declaration, exactly the lie the
    * ingest media-type gate cannot see (it trusts the header) and the
    * one that would decode into mojibake. The body offset comes from
    * the latin-1 header split (byte↔char 1:1, so the char position IS
    * the byte position) and only the first 512 body bytes ride the
    * sniff — row-level, codegen'd, zero shuffles. */
  def sniffedTypesOf(records: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(records.sparkSession)
    val l1 = decode(col("payload"), "ISO-8859-1")
    val p1 = instr(l1, "\r\n\r\n")
    val p2 = instr(l1, "\n\n")
    val big = lit(Int.MaxValue)
    val bodyStart = least(
      coalesce(nullif(p1, lit(0)) + 4, big),
      coalesce(nullif(p2, lit(0)) + 2, big))
    val declared = lower(regexp_extract(l1,
      "(?im)^content-type:[ \\t]*([a-z0-9.+/-]+)", 1))
    val sniffed = call_function("magic_mime",
      substring(col("payload"), bodyStart, lit(512)))
    records.filter(col("warc_type") === "response")
      .select(UrlOps.canonIdn(col("target_uri")).as("canon_url"),
        nullif(declared, lit("")).as("declared_mime"),
        when(bodyStart < big, sniffed)
          .otherwise(lit("application/octet-stream")).as("sniffed_mime"))
      .withColumn("mismatch",
        col("declared_mime").isNotNull &&
          col("declared_mime") =!= col("sniffed_mime"))
      .withColumn("mojibake_risk",
        !col("sniffed_mime").isin("text/plain", "text/html") &&
          (col("declared_mime").isNull ||
            col("declared_mime").startsWith("text/")))
  }

  /** The REAL-DATA recrawl (round 16) — the batch freshness face
    * completing the WARC loop beside [[frontierOf]] (discovery),
    * [[crawlScheduleOf]] (politeness), and [[sitemapSeedsOf]]
    * (sitemap discovery): header `Last-Modified` observations
    * ([[headerSignalsOf]]) UNION sitemap entries
    * ([[sitemapEntriesOf]]) triage against the crawl's own robots
    * rules/statuses and the fetch log (contract: one row per canonical
    * URL, (canon_url, fetch_date)); due rows ([[dueReasons]] — the
    * SAME reason CASE as `q_recrawl`, so the real face cannot drift
    * from the oracle-checked one) queue through the politeness
    * arithmetic behind the crawl's own Crawl-delays, FULL-host keyed,
    * undeclared hosts floored at `defaultDelayS`. */
  def recrawlOf(records: DataFrame, fetchLog: DataFrame,
                agent: String = "*", defaultDelayS: Long = 1L,
                asOf: String = RecrawlAsOf): DataFrame = {
    import records.sparkSession.implicits._
    val (rules, delays, _) = parseRobotsBodies(robotsBodiesOf(records), agent)
    val signals = asSignals(headerSignalsOf(records))
      .unionByName(asSignals(expiresSignalsOf(records)))
      .unionByName(asSignals(sitemapEntriesOf(records, agent)))
    val due = dueReasons(triageCore(signals, rules,
      robotsStatusesOf(records), fetchLog,
      host = regexp_extract(col("canon_url"), FullHostRe, 1)), asOf)
    val noCursors = Seq.empty[(String, Long)].toDF("source", "cursor_s")
    scheduleCoreKeyed(
      due.select(col("canon_url"), lit(1L).as("n_referrers"),
        col("lastmod"), col("fetch_date"), col("reason")),
      delays, noCursors, Seq("lastmod", "fetch_date", "reason"),
      regexp_extract(col("canon_url"), FullHostRe, 1), Some(defaultDelayS))
      .orderBy("canon_url")
  }

  /** The synthetic per-host sitemap UNIVERSE, in its real nested form
    * (round 13): `/sitemap.xml` is a `<sitemapindex>` pointing at two
    * child `<urlset>` files — child A carries the original three locs
    * (one canonical with `<lastmod>`, one MESSY upper-case/:80/#frag
    * variant without, one trailing-slash duplicate of the first, so
    * canonicalization still bites), child B two more with older
    * lastmods (one recent enough to trigger recrawls for some fetch
    * dates, one predating every fetch). Child B ships GZIPPED under a
    * `.xml.gz` name (round 14 — `Sitemap:`-referenced files are very
    * often compressed; the entry SET is unchanged, so the oracles hold).
    * Both engines derive the same entries from `source` alone. Returns
    * (source, url, body_bytes). */
  private[graft] def sitemapBodies(documents: DataFrame): DataFrame =
    sitemapBodiesFrom(documents.select(col("source")).distinct())

  /** [[sitemapBodies]] over a pre-derived host frame. */
  private[graft] def sitemapBodiesFrom(hosts: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(hosts.sparkSession)
    val idx = expr("CAST(substr(source, 4, 10) AS INT)")
    val host = concat(col("source"), lit(".example.com"))
    // lastmod-bearing entries land in the host's OWN path-id residue
    // class (the fetch universe's ids are doc_id % 100 with source =
    // idx % 20, so only ids ≡ idx (mod 20) can ever be in the fetch
    // log) — otherwise `fetched` would be near-constant false and the
    // recrawl gate would grade nothing; d2 stays an arbitrary messy
    // discovery-only entry
    def cls(m: Int, a: Int): Column =
      (((idx * m + a) % 5) * 20 + (idx % 20)).cast("string")
    val d1 = cls(3, 1)
    val d2 = ((idx * 13 + 2) % 100).cast("string")
    val d3 = cls(9, 4)
    val d4 = cls(17, 6)
    // round 15: a lastmod-LESS entry with <changefreq>daily</changefreq>
    // in the fetched residue class — the changefreq-prior recrawl route
    // (a host that publishes change frequency but no timestamps)
    val d5 = cls(7, 3)
    val xml = lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>")
    val index = concat(xml,
      lit("<sitemapindex><sitemap><loc>http://"), host,
      lit("/sitemap-a.xml</loc></sitemap><sitemap><loc>http://"), host,
      lit("/sitemap-b.xml.gz</loc><lastmod>2026-08-01</lastmod></sitemap>" +
        "</sitemapindex>"))
    val childA = concat(xml,
      lit("<urlset><url><loc>http://"), host, lit("/docs/"), d1,
      lit("</loc><lastmod>2026-08-01</lastmod>" +
        "<changefreq>weekly</changefreq><priority>0.8</priority>" +
        "</url><url><loc>HTTP://"),
      upper(host), lit(":80/docs/"), d2,
      lit("#frag</loc></url><url><loc>http://"), host,
      lit("/docs/"), d1, lit("/</loc></url></urlset>"))
    val childB = concat(xml,
      lit("<urlset><url><loc>http://"), host, lit("/docs/"), d3,
      lit("</loc><lastmod>2026-07-20</lastmod>" +
        "<changefreq>monthly</changefreq></url><url><loc>http://"),
      host, lit("/docs/"), d4,
      lit("</loc><lastmod>2026-06-10</lastmod></url><url><loc>http://"),
      host, lit("/docs/"), d5,
      lit("</loc><changefreq>daily</changefreq>" +
        "<priority>0.5</priority></url></urlset>"))
    hosts
      .select(col("source"), explode(array(
        struct(concat(lit("http://"), host, lit("/sitemap.xml")).as("url"),
          encode(index, "UTF-8").as("body_bytes")),
        struct(concat(lit("http://"), host, lit("/sitemap-a.xml")).as("url"),
          encode(childA, "UTF-8").as("body_bytes")),
        struct(concat(lit("http://"), host, lit("/sitemap-b.xml.gz")).as("url"),
          call_function("gzip_compress",
            encode(childB, "UTF-8")).as("body_bytes")))).as("s"))
      .select(col("source"), col("s.url").as("url"),
        col("s.body_bytes").as("body_bytes"))
  }

  /** Byte-level front of [[parseSitemaps]] — the face real fetched
    * sitemap BYTES enter through: gzip members (`.xml.gz` — the common
    * wire form of `Sitemap:`-referenced files) are SNIFFED by magic
    * (1f 8b, never trusted from the name) and inflated via the
    * bomb-guarded native `http_inflate`; a corrupt stream DROPS the row
    * (a lying sitemap must not poison discovery); valid-UTF-8 bodies
    * decode as UTF-8, anything else falls back to the bijective latin-1
    * view (sitemap XML is ASCII-framed, so locs survive either way).
    * Input (source, url, body_bytes); output = [[parseSitemaps]]'. */
  private[graft] def parseSitemapBytes(bodies: DataFrame): DataFrame =
    parseSitemaps(decodeSitemapBodies(bodies))

  /** The byte → text half of [[parseSitemapBytes]], split out (round
    * 16) so the real-data discovery face can peek at decoded INDEX
    * bodies to fetch their children before the one parse pass. */
  private[graft] def decodeSitemapBodies(bodies: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(bodies.sparkSession)
    val isGz = col("body_bytes").substr(1, 2) ===
      lit(Array(0x1f.toByte, 0x8b.toByte))
    bodies
      .withColumn("_raw",
        when(isGz, call_function("http_inflate", col("body_bytes")))
          .otherwise(col("body_bytes")))
      .filter(col("_raw").isNotNull)
      .withColumn("body",
        when(expr("is_valid_utf8(_raw)"), decode(col("_raw"), "UTF-8"))
          .otherwise(decode(col("_raw"), "ISO-8859-1")))
      .select(col("source"), col("url"), col("body"))
  }

  /** Parse ANY (source, url, body) sitemap frame — the general face real
    * fetched sitemap TEXT enters through: `<sitemapindex>` files recurse
    * ONE level (their `<loc>` children are resolved against the frame by
    * canonical URL — a child the crawl has not fetched contributes
    * nothing, an index-of-indexes does not recurse further, per the
    * protocol's own one-level convention), `<urlset>` files yield one
    * row per `<url>` block with its `<loc>` and optional `<lastmod>`.
    * A urlset is parsed whether it arrived standalone or via an index
    * (dedup by canonical child identity). Returns (source, loc,
    * lastmod, changefreq, priority) — changefreq/priority (round 15)
    * are the protocol's OTHER scheduler hints: changefreq is the
    * recrawl prior for entries that publish no timestamp, priority the
    * host's own ranking. Sitemaps are hosts-bounded artifacts, so every frame
    * here is KBs-per-host at any corpus size; the one join is keyed on
    * the canonical URL like every crawl operator. */
  private[graft] def parseSitemaps(bodies: DataFrame): DataFrame = {
    val isIndex = col("body").contains("<sitemapindex")
    val urlsets = bodies.filter(!isIndex)
      .withColumn("_canon", UrlOps.canon(col("url")))
    val referenced = bodies.filter(isIndex)
      .select(explode(regexp_extract_all(col("body"),
        lit("<loc>([^<]*)</loc>"), lit(1))).as("child"))
      .select(UrlOps.canon(col("child")).as("_canon"))
      .distinct()
    // a urlset parses once whether standalone or index-referenced; an
    // index child with no fetched body simply contributes nothing
    val reachable = urlsets.join(referenced, Seq("_canon"), "left_semi")
      .unionByName(urlsets.join(referenced, Seq("_canon"), "left_anti"))
    reachable
      .select(col("source"), explode(regexp_extract_all(col("body"),
        lit("<url>(.*?)</url>"), lit(1))).as("u"))
      .select(col("source"),
        regexp_extract(col("u"), "<loc>([^<]*)</loc>", 1).as("loc"),
        nullif(regexp_extract(col("u"), "<lastmod>([^<]*)</lastmod>", 1),
          lit("")).as("lastmod"),
        nullif(regexp_extract(col("u"),
          "<changefreq>([^<]*)</changefreq>", 1), lit("")).as("changefreq"),
        nullif(regexp_extract(col("u"), "<priority>([^<]*)</priority>", 1),
          lit("")).as("priority"))
      .filter(col("loc") =!= "")
  }

  /** §2 `q_sitemap`: sitemap-SEEDED discovery — the crawl loop's other
    * input path beside outlink extraction: each host publishes the
    * nested synthetic sitemap universe ([[sitemapBodies]] — a
    * `<sitemapindex>` over two `<urlset>` children, both engines build
    * the same bytes), entries are pulled through the general
    * [[parseSitemaps]] (one-level index recursion), canonized under the
    * fetch-log identity ([[UrlOps.canon]]), deduped with the NEWEST
    * `<lastmod>` kept (max — duplicates under cosmetic URL variants
    * collapse to one row), and annotated with the two flags a scheduler
    * triages by: robots `allowed` (the shared [[matchRules]] argmax)
    * and already-`fetched` (the shared synthetic fetch log). `lastmod`
    * plus the round-15 `changefreq`/`priority` scheduler hints carry
    * forward as columns — they are [[recrawl]]'s input. `priority` is
    * DELIBERATELY not an ordering input to [[scheduleCore]]: the
    * politeness queue orders by canonical URL so the schedule is
    * deterministic (oracle-hashable) and starvation-free; priority is
    * the host's own ranking hint, carried as data for a consumer that
    * wants to re-rank within its politeness slot.
    * Hosts-bounded input (sitemaps are per-host artifacts like
    * robots.txt), so the only corpus-scale frame is the fetch-log join
    * — keyed on the canonical URL, the same identity every crawl
    * operator joins on. */
  def sitemapSeeds(documents: DataFrame): DataFrame =
    sitemapSeedSet(documents).orderBy("canon_url")

  // ---------- RSS/Atom feed discovery (round 16 continuation — the
  // web's THIRD discovery channel beside outlinks and sitemaps, and
  // the freshest one: feeds announce NEW and UPDATED pages with
  // publication timestamps, which is why real crawlers poll them) ----

  /** The synthetic feed universe — per host an RSS 2.0 feed at
    * `/feed.xml` (an IMF-fixdate `<pubDate>` entry, a messy
    * uppercase/:80/#frag link with NO date, and a trailing-slash
    * duplicate of the first entry under an OLDER date — so canon
    * collapse and max-dedup both bite) and an Atom feed at `/atom.xml`
    * (an ISO `<updated>` entry and a date-less single-quoted-href
    * entry). Entry ids land in the hosts' fetch-universe residue
    * classes (the [[sitemapBodiesFrom]] `cls` arithmetic) so `fetched`
    * genuinely varies. */
  private[graft] def feedBodies(documents: DataFrame): DataFrame =
    feedBodiesFrom(documents.select(col("source")).distinct())

  private[graft] def feedBodiesFrom(hosts: DataFrame): DataFrame = {
    val idx = expr("CAST(substr(source, 4, 10) AS INT)")
    val host = concat(col("source"), lit(".example.com"))
    def cls(m: Int, a: Int): Column =
      (((idx * m + a) % 5) * 20 + (idx % 20)).cast("string")
    val f1 = cls(3, 2)
    val f2 = ((idx * 13 + 7) % 100).cast("string")
    val a1 = cls(9, 5)
    val a2 = cls(17, 8)
    val rss = concat(
      lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
        "<title>feed</title><item><link>http://"), host,
      lit("/docs/"), f1,
      lit("</link><pubDate>Wed, 05 Aug 2026 10:00:00 GMT</pubDate></item>" +
        "<item><link>HTTP://"), upper(host), lit(":80/docs/"), f2,
      lit("#frag</link></item><item><link>http://"), host,
      lit("/docs/"), f1,
      lit("/</link><pubDate>Tue, 15 Jul 2026 08:00:00 GMT</pubDate></item>" +
        "</channel></rss>"))
    val atom = concat(
      lit("<?xml version=\"1.0\"?>" +
        "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
        "<entry><link href=\"http://"), host, lit("/docs/"), a1,
      lit("\"/><updated>2026-07-18T09:30:00Z</updated></entry>" +
        "<entry><link href='http://"), host, lit("/docs/"), a2,
      lit("'/></entry></feed>"))
    hosts.select(col("source"), explode(array(
      struct(concat(lit("http://"), host, lit("/feed.xml")).as("url"),
        rss.as("body")),
      struct(concat(lit("http://"), host, lit("/atom.xml")).as("url"),
        atom.as("body")))).as("f"))
      .select(col("source"), col("f.url").as("url"), col("f.body").as("body"))
  }

  /** Parse ANY (source, url, body) feed frame — RSS 2.0 `<item>` blocks
    * (`<link>` + `<pubDate>` IMF-fixdate → ISO date, the
    * [[headerSignalsOf]] conversion) and Atom `<entry>` blocks
    * (`<link href>` across quote styles + `<updated>` ISO 8601 → its
    * date prefix). Returns (source, loc, lastmod) — the sitemap-entry
    * shape, so feed entries ride the SAME triage as every other
    * freshness signal. Feeds are hosts-bounded artifacts like sitemaps
    * and robots.txt — KBs per host at any corpus size. */
  private[graft] def parseFeeds(bodies: DataFrame): DataFrame = {
    val imf = "([0-9]{1,2} [A-Za-z]{3} [0-9]{4} [0-9]{2}:[0-9]{2}:[0-9]{2})"
    val isRss = col("body").contains("<channel")
    val rss = bodies.filter(isRss)
      .select(col("source"), explode(regexp_extract_all(col("body"),
        lit("(?s)<item>(.*?)</item>"), lit(1))).as("e"))
      .select(col("source"),
        regexp_extract(col("e"), "<link>([^<]*)</link>", 1).as("loc"),
        to_date(try_to_timestamp(regexp_extract(
          regexp_extract(col("e"), "<pubDate>([^<]*)</pubDate>", 1), imf, 1),
          lit("d MMM yyyy HH:mm:ss")).cast("timestamp"))
          .cast("string").as("lastmod"))
    val atom = bodies.filter(!isRss && col("body").contains("<feed"))
      .select(col("source"), explode(regexp_extract_all(col("body"),
        lit("(?s)<entry>(.*?)</entry>"), lit(1))).as("e"))
      .select(col("source"),
        regexp_extract(col("e"),
          "(?i)<link[^>]*href[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*[\"']([^\"']*)",
          1).as("loc"),
        nullif(regexp_extract(col("e"),
          "<updated>([0-9]{4}-[0-9]{2}-[0-9]{2})", 1), lit(""))
          .as("lastmod"))
    rss.unionByName(atom).filter(col("loc") =!= "")
  }

  /** §2 `q_feeds`: feed-SEEDED discovery — the third discovery channel
    * under the oracle: every host's synthetic RSS+Atom pair
    * ([[feedBodies]]) parses through the general [[parseFeeds]],
    * canonizes under the fetch-log identity, dedupes keeping the
    * NEWEST date (the trailing-slash duplicate's older pubDate loses),
    * and triages through the SAME shared core as sitemap seeds —
    * robots `allowed` + already-`fetched`. A fetched entry with a
    * fresh pubDate is [[recrawl]]-shaped input; an unfetched allowed
    * one is frontier-shaped. Scale: feeds are hosts-bounded; the
    * fetch-log join is the one corpus-scale frame, canonical-URL
    * keyed. */
  def feeds(documents: DataFrame): DataFrame = {
    val hosts = hostsOf(documents)
    triageCore(asSignals(parseFeeds(feedBodiesFrom(hosts))
        .select(UrlOps.canon(col("loc")).as("canon_url"), col("lastmod"))),
      rulesFrom(hosts), robotsStatusFrom(hosts),
      fetchLogOf(fetchUniverse(documents)))
      .drop("changefreq", "priority", "etag_due", "expires", "fetch_date")
      .orderBy("canon_url")
  }

  /** Feed discovery over a REAL crawl — autodiscovery
    * ([[HtmlOps.feedLinksOf]]: `<link rel=alternate type=rss/atom>`
    * off the captured pages), feed bodies resolved from the crawl's
    * OWN captures by canonical URL (the [[sitemapSeedsOf]] rule: a
    * feed the crawl has not fetched contributes nothing), gzip-sniffed
    * and charset-decoded through the shared byte front, parsed by
    * [[parseFeeds]], and triaged against the crawl's robots
    * rules/statuses and the fetch log — FULL-host keyed. */
  def feedSeedsOf(records: DataFrame, fetchLog: DataFrame,
                  agent: String = "*"): DataFrame = {
    val (rules, _, _) = parseRobotsBodies(robotsBodiesOf(records), agent)
    triageCore(asSignals(feedEntriesOf(records)), rules,
      robotsStatusesOf(records), fetchLog,
      host = regexp_extract(col("canon_url"), FullHostRe, 1))
  }

  /** The raw feed ENTRY signals of a WARC crawl — [[feedSeedsOf]]
    * before the triage: discover feed URLs from the captures' own
    * HTML, join the captures for their bodies, decode, parse.
    * Returns (canon_url, lastmod). */
  private[graft] def feedEntriesOf(records: DataFrame): DataFrame = {
    val captures = graft.sources.WarcSource.httpResponseBytes(records)
      .filter(col("http_status").between(200, 299))
      .withColumn("_canon", UrlOps.canonIdn(col("target_uri")))
      // autodiscovery AND the body lookup read it
      .transform(Materialize(_, eager = false))
    val pages = captures.select(col("_canon").as("page_url"),
      when(expr("is_valid_utf8(body_bytes)"), decode(col("body_bytes"), "UTF-8"))
        .otherwise(decode(col("body_bytes"), "ISO-8859-1")).as("html"))
    val feedUrls = HtmlOps.feedLinksOf(pages)
      .select(col("feed_url").as("_canon")).distinct()
    val bodies = feedUrls.join(captures, Seq("_canon"))
      .select(regexp_extract(col("_canon"), FullHostRe, 1).as("source"),
        col("_canon").as("url"), col("body_bytes"))
    parseFeeds(decodeSitemapBodies(bodies))
      .select(UrlOps.canonIdn(col("loc")).as("canon_url"), col("lastmod"))
  }

  /** [[sitemapSeeds]] without the presentation sort (the face
    * [[recrawl]] composes — it re-joins and re-sorts anyway). The etag
    * and expiry axes are identically absent on a sitemap-only triage,
    * so the columns drop out of the query face. */
  private def sitemapSeedSet(documents: DataFrame): DataFrame = {
    val hosts = hostsOf(documents)
    triageCore(sitemapSignalsFrom(hosts), rulesFrom(hosts),
      robotsStatusFrom(hosts), fetchLogOf(fetchUniverse(documents)))
      .drop("etag_due", "expires", "fetch_date")
  }

  /** The recrawl-signal frame shape shared by every signal source:
    * (canon_url, lastmod, changefreq, priority, etag_due). */
  private def asSignals(df: DataFrame): DataFrame = {
    val withDefaults = Seq(
      "lastmod" -> lit(null).cast("string"),
      "changefreq" -> lit(null).cast("string"),
      "priority" -> lit(null).cast("string"),
      "etag_due" -> lit(false),
      "expires" -> lit(null).cast("string"))
      .foldLeft(df) { case (d, (c, default)) =>
        if (d.columns.contains(c)) d else d.withColumn(c, default)
      }
    withDefaults.select(col("canon_url"), col("lastmod"), col("changefreq"),
      col("priority"), col("etag_due"), col("expires"))
  }

  /** The sitemap freshness SIGNAL frame (canon_url, lastmod, changefreq,
    * priority, etag_due=false) — one of [[recrawl]]'s three inputs. */
  private def sitemapSignals(documents: DataFrame): DataFrame =
    sitemapSignalsFrom(documents.select(col("source")).distinct())

  /** [[sitemapSignals]] over a pre-derived host frame. */
  private def sitemapSignalsFrom(hosts: DataFrame): DataFrame =
    asSignals(parseSitemapBytes(sitemapBodiesFrom(hosts))
      .select(UrlOps.canon(col("loc")).as("canon_url"), col("lastmod"),
        col("changefreq"), col("priority")))

  /** Header-observed freshness signals — the SECOND recrawl input (round
    * 14): most hosts publish no sitemap, but many responses carry
    * `Last-Modified`, so a conditional-GET/HEAD sweep yields a
    * (url, observed lastmod) frame the scheduler must honor exactly
    * like sitemap lastmods. The synthetic twin: a fetched URL (the
    * shared id<50 log) carries a date only when id%3 != 0 (round 15 —
    * plenty of real responses ship NO Last-Modified, and the date-less
    * residue is what the etag axis exists for): '2026-08-03' when
    * id%4==1 (postdating every fetch → due) else '2026-06-15' (stale →
    * never due); both engines derive it from the path id alone. The
    * WARC face is [[HtmlOps.warcToDocuments]]'s `last_modified`
    * column. */
  /** The canonical fetch-log universe WITH its path id — derived ONCE
    * and locally checkpointed when several consumers need it
    * ([[recrawl]]: header signals + etag signals + fetched flags each
    * filter this frame; re-deriving it per consumer costs one
    * corpus-scale distinct shuffle EACH — measured as 3 extra scans in
    * the q_recrawl plan). */
  private def fetchUniverse(documents: DataFrame): DataFrame =
    UrlOps.canonUrls(documents)
      .withColumn("_id",
        expr("CAST(regexp_extract(canon_url, '/docs/([0-9]+)$', 1) AS INT)"))
      .transform(Materialize(_, eager = false))

  private[graft] def headerSignals(documents: DataFrame): DataFrame =
    headerSignalsFrom(fetchUniverse(documents))

  private def headerSignalsFrom(universe: DataFrame): DataFrame =
    asSignals(universe
      .filter(col("_id") < 50 && col("_id") % 3 =!= 0)
      .select(col("canon_url"),
        when(col("_id") % 4 === 1, lit("2026-08-03"))
          .otherwise(lit("2026-06-15")).as("lastmod")))

  /** ETag conditional-revalidation signals — the THIRD recrawl input
    * (round 15): many hosts send no `Last-Modified` and publish no
    * sitemap, but nearly all send an `ETag`; a revalidation sweep
    * (If-None-Match) observing a DIFFERENT etag than the one recorded
    * at fetch time is a change signal with no date attached. The
    * synthetic twin: a fetched URL's etag has churned iff id%5 == 2 —
    * both engines derive it from the path id alone. The WARC face is
    * [[etagChanged]] over [[HtmlOps.warcToDocuments]]'s `etag` column
    * vs a prior fetch-log frame. */
  private[graft] def etagSignals(documents: DataFrame): DataFrame =
    etagSignalsFrom(fetchUniverse(documents))

  private def etagSignalsFrom(universe: DataFrame): DataFrame =
    asSignals(universe
      .filter(col("_id") < 50 && col("_id") % 5 === 2)
      .select(col("canon_url"), lit(true).as("etag_due")))

  /** HTTP-caching EXPIRY signals — the FOURTH recrawl input (round 16
    * continuation): `Cache-Control: max-age` / `Expires` declare when
    * the stored copy goes STALE — an explicit per-page freshness
    * lifetime from the origin, sharper than a sitemap's vague
    * changefreq (RFC 9111 §4.2: max-age over the response `Date`, else
    * the `Expires` date). The synthetic twin assigns absolute expiry
    * dates from the path id alone — id%7==1 expires BEFORE
    * [[RecrawlAsOf]] (due), id%7==4 after (not due) — both engines
    * derive it identically; dates are ISO strings under the lexical
    * comparison convention. The WARC face is [[expiresSignalsOf]]. */
  private[graft] def expiresSignals(documents: DataFrame): DataFrame =
    expiresSignalsFrom(fetchUniverse(documents))

  private def expiresSignalsFrom(universe: DataFrame): DataFrame =
    asSignals(universe
      .filter(col("_id") < 50 && (col("_id") % 7 === 1 || col("_id") % 7 === 4))
      .select(col("canon_url"),
        when(col("_id") % 7 === 1, lit("2026-07-01"))
          .otherwise(lit("2027-01-01")).as("expires")))

  /** The real-WARC face of [[etagSignals]]: current observations
    * (canon_url, etag) vs the PRIOR fetch log's recorded etags — rows
    * whose strong validator changed (both present, unequal; RFC 9110
    * §8.8.3: a missing side is no evidence either way) come back as
    * etag_due signal rows for the same triage union. Both frames are
    * fetch-log-bounded and join on the canonical URL like every crawl
    * operator. */
  private[graft] def etagChanged(current: DataFrame,
                                 prior: DataFrame): DataFrame =
    asSignals(current
      .select(col("canon_url"), col("etag").as("_etag_now"))
      .filter(col("_etag_now").isNotNull)
      .join(prior.select(col("canon_url"), col("etag").as("_etag_prior"))
        .filter(col("_etag_prior").isNotNull), Seq("canon_url"))
      .filter(col("_etag_now") =!= col("_etag_prior"))
      .select(col("canon_url"), lit(true).as("etag_due")))

  /** changefreq → rank (most-frequent = lowest; the dedup below keeps
    * the most conservative period when one page carries several) and
    * rank → name, plus the period in DAYS the recrawl prior consumes —
    * all three CASEs shared verbatim with the oracle's SQL. Unknown
    * tokens rank null (the scheduler consumes known tokens only). */
  private def freqRank(c: Column): Column =
    when(c === "always", 0).when(c === "hourly", 1).when(c === "daily", 2)
      .when(c === "weekly", 3).when(c === "monthly", 4)
      .when(c === "yearly", 5)
  private def freqName(rank: Column): Column =
    when(rank === 0, "always").when(rank === 1, "hourly")
      .when(rank === 2, "daily").when(rank === 3, "weekly")
      .when(rank === 4, "monthly").when(rank === 5, "yearly")
  private def freqDays(c: Column): Column =
    when(c === "always" || c === "hourly" || c === "daily", 1)
      .when(c === "weekly", 7).when(c === "monthly", 30)
      .when(c === "yearly", 365)

  /** Triage ANY signal frame ([[asSignals]] shape) into the scheduler
    * shape: dedupe per canonical URL keeping the NEWEST lastmod, the
    * most-frequent changefreq, the highest priority, and the OR of the
    * etag axis (duplicates under cosmetic URL variants and across
    * signal sources collapse), then annotate robots `allowed` (the
    * shared [[matchRules]] argmax + [[robotsAllowed]] reachability) and
    * already-`fetched` (the shared fetch log). Signals are
    * hosts-bounded or fetch-log-bounded, so the only corpus-scale frame
    * is the fetch-log join — keyed on the canonical URL like every
    * crawl operator. */
  /** The synthetic fetch LOG with fetch dates, over a [[fetchUniverse]]
    * frame — (canon_url, fetch_date), the shape a real scheduler
    * persists after every fetch. */
  private def fetchLogOf(universe: DataFrame): DataFrame =
    universe.filter(col("_id") < 50)
      .select(col("canon_url"),
        expr(fetchDateSql("canon_url")).as("fetch_date"))

  /** Triage ANY signal frame ([[asSignals]] shape) against ANY rule /
    * status / fetch-log frames — the core shared by the batch queries
    * and [[recrawlStream]] (the unified static-side convention: batch
    * passes the synthetic universes, the stream passes thunk-refreshed
    * tables): dedupe per canonical URL keeping the NEWEST lastmod, the
    * most-frequent changefreq, the highest priority, and the OR of the
    * etag axis; annotate robots `allowed` (the shared [[matchRules]]
    * argmax + [[robotsAllowed]] reachability), already-`fetched`, and
    * the fetch log's `fetch_date`. Signals and the politeness frames
    * are hosts-bounded; the fetch log is the one corpus-scale frame —
    * keyed on the canonical URL like every crawl operator. Fetch-log
    * CONTRACT: one row per canonical URL (the persisted log a scheduler
    * maintains is upsert-keyed on it — [[graft.operators.Sinks]]'
    * pattern); a multi-capture HISTORY must be reduced to latest-fetch
    * rows before it enters, or the left join would fan seeds out. */
  private[graft] def triageCore(signals: DataFrame, rules: DataFrame,
                                statuses: DataFrame,
                                fetchLog: DataFrame,
                                host: Column = regexp_extract(
                                  col("canon_url"),
                                  "^[a-z]+://([^./]+)\\.", 1)): DataFrame = {
    val seeds = signals
      .groupBy(col("canon_url"))
      .agg(max(col("lastmod")).as("lastmod"),
        freqName(min(freqRank(col("changefreq")))).as("changefreq"),
        // the universe's priorities are all '0.d' — lexical max ≡
        // numeric max, and the string stays hash-exact cross-engine
        max(col("priority")).as("priority"),
        max(col("etag_due")).as("etag_due"),
        // latest expiry wins: a fresher response supersedes the stale
        // lifetime an earlier observation declared
        max(col("expires")).as("expires"))
    matchRules(withParts(seeds, host), rules, statuses,
      Seq("lastmod", "changefreq", "priority", "etag_due", "expires"))
      .select(col("canon_url"), col("lastmod"), col("changefreq"),
        col("priority"), col("etag_due"), col("expires"),
        robotsAllowed.as("allowed"))
      .withColumn("source", host)
      .join(fetchLog.select(col("canon_url"), col("fetch_date")),
        Seq("canon_url"), "left")
      .select(col("canon_url"), col("source"), col("lastmod"),
        col("changefreq"), col("priority"), col("etag_due"), col("expires"),
        col("allowed"), col("fetch_date"),
        col("fetch_date").isNotNull.as("fetched"))
  }

  /** The recrawl DECISION over a [[triageCore]] output: fetched +
    * allowed rows whose `reason` CASE fires — shared verbatim by
    * [[recrawl]] and [[recrawlStream]] (and mirrored in the q_recrawl
    * oracle SQL), so batch, stream, and oracle cannot drift on what
    * "due" means. */
  private[graft] def dueReasons(triaged: DataFrame,
                                asOf: String = RecrawlAsOf): DataFrame = {
    val reason =
      when(col("lastmod").isNotNull && col("lastmod") > col("fetch_date"),
        "lastmod")
        .when(col("etag_due"), "etag")
        // the stored copy's declared freshness lifetime has elapsed —
        // an origin-stated revalidation trigger, orthogonal to lastmod
        // evidence (it ranks above the sitemap's vague changefreq
        // prior, below actual change observations)
        .when(col("expires").isNotNull && col("expires") < lit(asOf),
          "expired")
        .when(col("lastmod").isNull && col("changefreq").isNotNull &&
          date_add(to_date(col("fetch_date")),
            freqDays(col("changefreq"))) < to_date(lit(asOf)),
          "changefreq")
    triaged
      .filter(col("fetched") && col("allowed"))
      .withColumn("reason", reason)
      .filter(col("reason").isNotNull)
  }

  /** §2 `q_crawl_traps`: crawl-TRAP detection — the URL-shape profile a
    * real crawler runs before a host eats its budget: a session-id /
    * calendar / faceted-nav trap mints a DISTINCT URL per visit while
    * serving the same few pages, so the tell is per-host
    * `distinct canonical URLs ≫ distinct pages` (canonical URL with its
    * query stripped). The synthetic universe plants the trap: hosts with
    * idx % 7 == 5 additionally emit five `?sid=<doc>-<k>` spellings per
    * document — session-id params survive canonicalization (they are
    * not tracking params; that is exactly why real traps defeat URL
    * dedup) — so the trap hosts' URL count explodes past the 3× page
    * threshold (integer-exact `n_urls > 3·n_pages` in both engines)
    * while every other host sits at n_urls == n_pages. Output (source,
    * n_urls, n_pages, trap). Scale: one canon pass over the URL frame +
    * ONE host-keyed distinct agg — hosts are the output cardinality; a
    * flagged host feeds the frontier as a budget cap, not a new shuffle. */
  def crawlTraps(documents: DataFrame): DataFrame = {
    val idx = expr("CAST(substr(source, 4, 10) AS INT)")
    val host = concat(col("source"), lit(".example.com"))
    val sidUrls = documents
      .filter(idx % 7 === 5)
      .select(explode(sequence(lit(0), lit(4))).as("k"), col("source"),
        col("doc_id"))
      .select(concat(lit("http://"), host, lit("/docs/"),
        (col("doc_id") % 100).cast("string"), lit("?sid="),
        col("doc_id").cast("string"), lit("-"), col("k").cast("string"))
        .as("url"))
    val urls = UrlOps.syntheticUrls(documents).select(col("url"))
      .unionByName(sidUrls)
      .select(UrlOps.canon(col("url")).as("canon_url"))
    // the synthetic hosts are srcNN.example.com — host ↔ source is 1:1,
    // so re-labeling the general face's full-host key preserves the
    // oracle's (source, n_urls, n_pages, trap) schema exactly
    crawlTrapsBy(urls)
      .select(regexp_extract(col("host"), "^([^.]+)", 1).as("source"),
        col("n_urls"), col("n_pages"), col("trap"))
      .orderBy("source")
  }

  /** The general REAL-DATA face of trap detection (round 16 — the
    * [[UrlOps.urlDedupBy]] precedent; `q_crawl_traps` above is its
    * synthetic instantiation): the per-host URL-shape profile over ANY
    * frame of canonical URLs — a WARC fetch log's `url` column, a
    * frontier, a link-graph edge list. Keys on the FULL host (authority
    * minus userinfo and port), never the first DNS label: first-label
    * keying would MERGE unrelated hosts sharing a `www.` prefix and
    * SPLIT a host's trap profile across its subdomains (VERDICT r15).
    * Output (host, n_urls, n_pages, trap), integer-exact
    * `n_urls > 3·n_pages`. Scale: one canon-keyed row-level projection
    * + ONE host-keyed distinct agg — hosts are the output cardinality;
    * the flag feeds [[frontierBudgeted]] / [[crawlScheduleDamped]] as a
    * hosts-bounded broadcast. */
  def crawlTrapsBy(urls: DataFrame, urlCol: String = "canon_url"): DataFrame =
    urls
      .select(col(urlCol).as("canon_url"))
      .select(col("canon_url"),
        regexp_extract(col("canon_url"), FullHostRe, 1).as("host"),
        regexp_replace(col("canon_url"), "\\?.*$", "").as("page"))
      .groupBy(col("host"))
      .agg(countDistinct(col("canon_url")).as("n_urls"),
        countDistinct(col("page")).as("n_pages"))
      .withColumn("trap", col("n_urls") > col("n_pages") * 3)

  /** The budget-capped frontier — what [[crawlTraps]]' flag is FOR: a
    * trap host's frontier would otherwise grow without bound (every
    * visit mints new URLs), so flagged hosts keep only their `cap`
    * best-referenced enqueue candidates (n_referrers desc, canonical
    * URL asc — deterministic) while clean hosts pass untouched.
    *
    * Scale shape (the ADVICE-r15 fix): the frontier is CORPUS-scale
    * while trap hosts are a tiny flagged set, so ranking the whole
    * frontier to cap only trap rows paid a full exchange+sort for rows
    * the filter then passed unconditionally. Instead SPLIT on the
    * broadcast trap flag first — clean-host rows pass through with no
    * window at all (their branch is a broadcast-join + filter, zero
    * exchanges) — and rank only the trap slice, whose window partitions
    * BY HOST over a trap-bounded input (PlanAuditSpec pins exactly one
    * window, fed by a trap-semi-joined slice). The two branches re-scan
    * the frontier subtree; at scale two scans beat one full-frontier
    * shuffle+sort by construction (scan is map-side, the sort is not).
    * Composes on ANY (canon_url, n_referrers) frontier frame;
    * spec-graded (the planted trap universe has no frontier-side oracle
    * face — the flag itself is the oracle-checked artifact). */
  def frontierBudgeted(frontier: DataFrame, traps: DataFrame,
                       cap: Int = 100): DataFrame =
    budgetCore(frontier, traps.filter(col("trap")).select(col("source")),
      regexp_extract(col("canon_url"), "^[a-z]+://([^./]+)\\.", 1),
      "source", cap)

  /** [[frontierBudgeted]] over [[crawlTrapsBy]]'s FULL-host trap frame —
    * the real-data composition (round 16): a WARC-derived frontier's
    * URLs key on the same full-host identity the general trap profile
    * emits, so `crawlTrapsBy → frontierBudgetedBy` closes the loop on
    * real fetch logs with no synthetic `source` label anywhere.
    * Identical split shape: clean hosts bypass the window. */
  def frontierBudgetedBy(frontier: DataFrame, trapsBy: DataFrame,
                         cap: Int = 100): DataFrame =
    budgetCore(frontier, trapsBy.filter(col("trap")).select(col("host")),
      regexp_extract(col("canon_url"), FullHostRe, 1), "host", cap)

  /** The shared budget-cap core: broadcast-split on the trap key, rank
    * only the trap slice (see [[frontierBudgeted]]'s scale notes). */
  private def budgetCore(frontier: DataFrame, trapKeys: DataFrame,
                         key: Column, keyName: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val trapHosts = broadcast(trapKeys)
    val keyed = frontier.withColumn(keyName, key)
    val clean = keyed
      .join(trapHosts, Seq(keyName), "left_anti")
      .select(col("canon_url"), col("n_referrers"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyName))
      .orderBy(col("n_referrers").desc, col("canon_url").asc)
    val capped = keyed
      .join(trapHosts, Seq(keyName), "left_semi")
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .select(col("canon_url"), col("n_referrers"))
    clean.unionByName(capped)
  }

  /** The synthetic fetch DATE of a fetched canonical URL — derived from
    * the path id so both engines agree: day 1 + id % 28 of 2026-07.
    * ISO strings compare lexicographically, the shared convention. */
  private def fetchDateSql(urlCol: String): String =
    s"'2026-07-' || lpad(CAST(1 + CAST(regexp_extract($urlCol, " +
      s"'/docs/([0-9]+)$$', 1) AS INT) % 28 AS STRING), 2, '0')"

  /** The "now" of the changefreq recrawl prior — fixed like
    * [[ScheduleEpoch]] so the due-set is deterministic and
    * oracle-hashable. */
  private[graft] val RecrawlAsOf = "2026-08-10"

  /** §2 `q_recrawl`: change-driven RECRAWL — the scheduler input the
    * freshness signals exist for. FOUR signal axes union into one
    * triage (round 15 added etag/changefreq; round 16 the caching
    * lifetime), each deciding `reason` in this CASE order:
    *
    *  1. `lastmod` — a sitemap `<lastmod>` or header `Last-Modified`
    *     POSTDATING the fetch date: the page changed since we took it;
    *  2. `etag` — conditional revalidation observed a different entity
    *     tag ([[etagSignals]]): changed, but no date attached (the
    *     hosts that send no Last-Modified and publish no sitemap);
    *  3. `expired` — the stored copy's HTTP-caching lifetime
    *     ([[expiresSignals]]: `Cache-Control: max-age` / `Expires`)
    *     has elapsed: an origin-stated revalidation trigger, sharper
    *     than the sitemap prior, weaker than an observed change;
    *  4. `changefreq` — no timestamp at all, but the sitemap declares a
    *     change period ([[freqDays]]) that has elapsed since the fetch
    *     as of the fixed [[RecrawlAsOf]] (integer-exact DATE + days in
    *     both engines).
    *
    * Due rows re-queue through the SAME politeness arithmetic as fresh
    * fetches ([[scheduleCore]] — shared with `q_crawl_schedule` and the
    * stream, so recrawl and crawl cannot drift on queueing): per-host
    * canonical-URL order, one slot per Crawl-delay. Output carries the
    * evidence (lastmod, fetch_date, reason) beside the schedule. Scale:
    * seeds are hosts-bounded; the fetch log is the one corpus-scale
    * frame, joined on the canonical URL; delays broadcast; the window
    * partitions BY HOST. */
  def recrawl(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    // ONE corpus-scale distinct (header signals, etag signals, and the
    // fetch log all filter the same checkpointed universe) and ONE
    // host-dimension derivation (rules, statuses, delays, sitemap
    // bodies) — the per-consumer re-derivations cost six extra scans
    val universe = fetchUniverse(documents)
    val hosts = hostsOf(documents)
    val due = dueReasons(triageCore(
      sitemapSignalsFrom(hosts)
        .unionByName(headerSignalsFrom(universe))
        .unionByName(etagSignalsFrom(universe))
        .unionByName(expiresSignalsFrom(universe)),
      rulesFrom(hosts), robotsStatusFrom(hosts), fetchLogOf(universe)))
    val noCursors = Seq.empty[(String, Long)].toDF("source", "cursor_s")
    // lastmod/fetch_date/reason CARRY through the schedule window —
    // re-deriving `due` for a second evidence join would recompute the
    // whole signal-union triage (a measured 1.6× of this query's cost)
    scheduleCore(due.select(col("canon_url"), lit(1L).as("n_referrers"),
      col("lastmod"), col("fetch_date"), col("reason")),
      crawlDelayFrom(hosts), noCursors,
      carry = Seq("lastmod", "fetch_date", "reason"))
      .select(col("canon_url"), col("source"), col("lastmod"),
        col("fetch_date"), col("reason"), col("delay_s"),
        col("next_allowed_offset_s"), col("next_allowed_ts"))
      .orderBy("canon_url")
  }

  /** Synthetic redirect log (src_url, dst_url) — the crawl loop's
    * redirect estate under the oracle: per host, a 2-hop chain
    * `/r/<d> → /moved/<d> → /docs/<d>` whose target is a REAL page of
    * the shared url universe (d = the link universe's `p1` arithmetic,
    * so the chain lands in the frontier/fetch-log world), plus a 2-cycle
    * `/loop/a ↔ /loop/b` so the hop cap actually bites. */
  private[graft] def redirectEdges(documents: DataFrame): DataFrame =
    redirectEdgesFrom(documents.select(col("source")).distinct())

  /** [[redirectEdges]] over a pre-derived host frame. */
  private def redirectEdgesFrom(hosts: DataFrame): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    val d = ((expr("CAST(substr(source, 4, 10) AS INT)") * 7 + 13) % 100)
      .cast("string")
    def u(path: Column*): Column =
      concat((lit("http://") +: host +: path): _*)
    hosts
      .select(explode(array(
        struct(u(lit("/r/"), d).as("src_url"),
          u(lit("/moved/"), d).as("dst_url")),
        struct(u(lit("/moved/"), d).as("src_url"),
          u(lit("/docs/"), d).as("dst_url")),
        struct(u(lit("/loop/a")).as("src_url"),
          u(lit("/loop/b")).as("dst_url")),
        struct(u(lit("/loop/b")).as("src_url"),
          u(lit("/loop/a")).as("dst_url")))).as("e"))
      .select(col("e.src_url").as("src_url"), col("e.dst_url").as("dst_url"))
  }

  /** Resolve every redirect source to its FINAL destination by chasing
    * the edge frame at most `maxHops` hops — one canonical-URL-keyed
    * equi-join per hop, the standard bounded-unrolling shape (a redirect
    * log at 100 TB is corpus-scale, so each hop is a hash join on the
    * url key, never a driver loop; hop count is a small constant because
    * real UAs cap chains the same way). `resolved` = the final URL has
    * no outgoing edge — false flags a loop or an over-deep chain. */
  private[graft] def redirectResolve(edges: DataFrame,
                                     maxHops: Int = 4): DataFrame = {
    var cur = edges.select(col("src_url"),
      col("dst_url").as("final_url"), lit(1L).as("n_hops"))
    (2 to maxHops).foreach { _ =>
      val step = edges.select(col("src_url").as("_f"), col("dst_url").as("_n"))
      cur = cur.join(step, col("final_url") === col("_f"), "left")
        .select(col("src_url"),
          coalesce(col("_n"), col("final_url")).as("final_url"),
          (col("n_hops") +
            when(col("_n").isNotNull, 1L).otherwise(0L)).as("n_hops"))
    }
    val more = edges.select(col("src_url").as("_f")).distinct()
      .withColumn("_more", lit(true))
    cur.join(more, col("final_url") === col("_f"), "left")
      .select(col("src_url"), col("final_url"), col("n_hops"),
        (coalesce(col("_more"), lit(false)) === lit(false)).as("resolved"))
  }

  /** §2 `q_redirects`: 3xx handling — the crawl-loop face VERDICT r12
    * flagged as a dead end: every redirect source resolved to its final
    * target (hop-capped, loop-flagged), with the scheduler's verdict on
    * the TARGET: `enqueue` = resolved ∧ robots-allowed ∧ not-yet-fetched
    * — a planted 301 chain thereby surfaces its target in the enqueue
    * set, which is exactly what [[frontier]] consumes (the WARC-side
    * twin [[HtmlOps.redirectsOf]] feeds real `Location:` headers through
    * the same shape). Edges and targets ride the SHARED universe
    * builders; rules broadcast; the fetch-log join keys on the canonical
    * URL like every crawl operator. */
  def redirects(documents: DataFrame): DataFrame = {
    val hosts = hostsOf(documents)
    val resolved = redirectResolve(redirectEdgesFrom(hosts))
    val allowed = matchRules(
      withParts(resolved.select(col("final_url").as("canon_url")).distinct()),
      rulesFrom(hosts), robotsStatusFrom(hosts), Seq.empty)
      .select(col("canon_url").as("_a_url"),
        robotsAllowed.as("_allowed"))
    val fetched = UrlOps.canonUrls(documents)
      .filter(expr("CAST(regexp_extract(canon_url, '/docs/([0-9]+)$', 1) AS INT) < 50"))
      .select(col("canon_url").as("_f_url"))
      .withColumn("_fetched", lit(true))
    resolved
      .join(allowed, col("final_url") === col("_a_url"), "left")
      .join(fetched, col("final_url") === col("_f_url"), "left")
      .select(col("src_url"), col("final_url"), col("n_hops"), col("resolved"),
        (col("resolved") && coalesce(col("_allowed"), lit(true)) &&
          coalesce(col("_fetched"), lit(false)) === lit(false)).as("enqueue"))
      .orderBy("src_url")
  }

  /** §2-C `frontierStream`: live frontier DISCOVERY — each micro-batch
    * of fetched documents yields its outlinks, politeness-filters them,
    * and anti-joins the PERSISTED fetch log (a thunk, so the log the
    * scheduler just appended to is live next trigger — the unified
    * static-side convention). Emits per-trigger discoveries; CROSS-batch
    * dedup is the fetch log's job (the scheduler records enqueues), not
    * stream state — that keeps this operator stateless. */
  def frontierStream(docs: DataFrame, rules: () => DataFrame,
                     statuses: () => DataFrame,
                     fetched: () => DataFrame)
                    (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val links = HtmlOps.linkExtractSet(batch)
            .groupBy(col("dst_url").as("canon_url"))
            .agg(countDistinct(col("doc_id")).as("n_referrers"))
          sink(frontierCore(links, rules(), statuses(), fetched()), id)
      }
      .start()

  /** §2-128 `q_robots_parse`: parse actual robots.txt BODIES into the
    * rules table — the textual face of [[rulesOf]]: each host's
    * synthetic robots.txt carries a comment, a foreign user-agent group
    * (which must be IGNORED), a Crawl-delay line (ignored), and the
    * `User-agent: *` group holding exactly the rules [[rulesOf]]
    * declares (spec-asserted equal — the two representations cannot
    * drift). Group scoping is positional: directives belong to the
    * nearest preceding User-agent line, so parsing is a posexplode over
    * lines + two tiny per-source aggregates — sources × ~8 lines, KBs
    * at any corpus size. */
  def robotsParse(documents: DataFrame): DataFrame =
    starGroupLines(documents)
      .filter(col("line").startsWith("Allow: ") ||
        col("line").startsWith("Disallow: "))
      // RFC 9309 §2.2.2 percent-aware comparison (round 15): rule values
      // normalize exactly like the match target does inside UrlOps.canon
      // — `Disallow: /caf%c3%a9` must match the canonical `/caf%C3%A9`
      // (hex case), and `/p%61th` the decoded `/path`. Same native
      // expression on both sides of the LIKE, so they cannot drift.
      .select(col("source"),
        UrlOps.pctNormalize(regexp_replace(col("line"),
          "^(Dis)?(A|a)llow: ", "")).as("prefix"),
        col("line").startsWith("Allow: ").as("allow"))
      // RFC 9309: an EMPTY rule value means "no restriction" — it must
      // not become a match-everything pattern in the rules table
      .filter(col("prefix") =!= "")
      .orderBy("source", "prefix")

  /** Lines of each host's robots.txt that belong to the `User-agent: *`
    * group (positional scoping: after the star line, before the next
    * User-agent line) — shared by [[robotsParse]] (Allow/Disallow) and
    * [[crawlDelayOf]] (Crawl-delay), so the two parses cannot scope
    * differently. Per-host Crawl-delay VARIES ((idx % 5) + 1 s) so the
    * schedule query exercises real per-host arithmetic. */
  /** The raw (source, pos, line) explode of every host's robots body —
    * the shared front of group-scoped parsing ([[starGroupLines]]) and
    * GLOBAL directives ([[sitemapUrlOf]] — per RFC 9309 `Sitemap:` is
    * not user-agent scoped). The body carries a `Sitemap:` pointer to
    * the host's sitemap.xml, closing the textual chain robots →
    * sitemap URL → `q_sitemap`'s parse. */
  private def robotsLines(documents: DataFrame): DataFrame =
    robotsLinesFrom(documents.select(col("source")).distinct())

  /** [[robotsLines]] over a pre-derived host frame. */
  private def robotsLinesFrom(hosts: DataFrame): DataFrame = {
    val d = expr("CAST(substr(source, 4, 10) AS INT) % 10").cast("string")
    val t = expr("(CAST(substr(source, 4, 10) AS INT) + 7) % 10").cast("string")
    val delay = expr("CAST(substr(source, 4, 10) AS INT) % 5 + 1").cast("string")
    val nl = lit("\n")
    val body = concat(
      lit("# robots for "), col("source"), nl,
      lit("Sitemap: http://"), col("source"), lit(".example.com/sitemap.xml"), nl,
      lit("User-agent: megabot"), nl, lit("Disallow: /private"), nl,
      nl,
      lit("User-agent: *"), nl,
      lit("Crawl-delay: "), delay, nl,
      lit("Disallow: /docs/"), d, nl,
      lit("Allow: /docs/"), d, lit("3"), nl,
      lit("Disallow: /docs/*"), t, lit("$"), nl)
    linesOf(hosts.withColumn("body", body))
  }

  /** RFC 9309 §2.4 parse limit: a crawler MAY cap robots.txt parsing at
    * >= 500 KiB — without it one hostile multi-GB body becomes one
    * hostile multi-GB line frame in the explode below. Applied on
    * CHARACTERS of the decoded body (robots directives are ASCII, so
    * chars = bytes for everything the grammar reads). */
  private[graft] val MaxRobotsChars: Int = 500 * 1024

  /** Line-explode of ANY (source, body) robots frame — the general face
    * real crawled robots.txt bodies enter through (CRLF and bare-LF
    * alike); the synthetic universe rides the same path via
    * [[robotsLines]], so the two cannot parse differently. Bodies cap
    * at [[MaxRobotsChars]] (round 18): only lines fully TERMINATED
    * inside the cap window parse — the split looks 2 chars past the cap
    * (room for the terminating CRLF of a directive that ends exactly AT
    * the cap, round 19) and the final unterminated fragment drops
    * rather than parse mangled. A hostile over-cap body with no newline
    * at all in the window therefore yields ZERO lines — no directives
    * means no rules for that host (the RFC treatment of an unparseable
    * robots body), not a crash and not a multi-GB line frame. */
  private[graft] def linesOf(bodies: DataFrame): DataFrame = {
    val lines = split(substring(col("body"), 1, MaxRobotsChars + 2), "\r?\n")
    val kept = when(length(col("body")) > MaxRobotsChars,
      slice(lines, lit(1), greatest(size(lines) - 1, lit(0)))).otherwise(lines)
    bodies
      .select(col("source"), posexplode(kept).as(Seq("pos", "line")))
      // hosts-bounded; consumed by several branches
      .transform(Materialize(_, eager = false))
  }

  /** [[robotsParse]] / [[crawlDelayOf]] / [[sitemapUrlOf]] over ANY
    * (source, body) frame of REAL robots.txt text — e.g. robots records
    * pulled off a WARC crawl. Returns (rules, delays, sitemaps); group
    * scoping and directive grammar are the single shared implementation
    * below. */
  private[graft] def parseRobotsBodies(bodies: DataFrame,
                                       agent: String = "*")
      : (DataFrame, DataFrame, DataFrame) = {
    val star = groupOf(linesOf(bodies), agent)
    val rules = star
      .filter(col("line").startsWith("Allow: ") ||
        col("line").startsWith("Disallow: "))
      // percent-normalized like the match target — see [[robotsParse]]
      .select(col("source"),
        UrlOps.pctNormalize(regexp_replace(col("line"),
          "^(Dis)?(A|a)llow: ", "")).as("prefix"),
        col("line").startsWith("Allow: ").as("allow"))
      // RFC 9309: an empty rule value means "no restriction"
      .filter(col("prefix") =!= "")
    val delays = star
      .filter(col("line").startsWith("Crawl-delay: "))
      .select(col("source"),
        regexp_extract(col("line"), "^Crawl-delay: ([0-9]+)$", 1)
          .cast("long").as("delay_s"))
      // real bodies DO repeat the directive (copy-paste robots are
      // everywhere) — the delays frame must stay one-row-per-host or
      // the schedule join fans the frontier out; ties keep the most
      // CONSERVATIVE (longest) delay
      .groupBy(col("source"))
      .agg(max(col("delay_s")).as("delay_s"))
    val sitemaps = linesOf(bodies)
      .filter(col("line").startsWith("Sitemap: "))
      .select(col("source"),
        regexp_replace(col("line"), "^Sitemap: ", "").as("sitemap_url"))
    (rules, delays, sitemaps)
  }

  /** The synthetic universe's star-group lines ([[robotsLines]] through
    * the general scoping). */
  private def starGroupLines(documents: DataFrame): DataFrame =
    starGroupOf(robotsLines(documents))

  /** [[starGroupLines]] over a pre-derived host frame. */
  private def starGroupLinesFrom(hosts: DataFrame): DataFrame =
    starGroupOf(robotsLinesFrom(hosts))

  /** The `User-agent: *` group of a lines frame ([[groupOf]] with the
    * wildcard token). */
  private def starGroupOf(lines: DataFrame): DataFrame = groupOf(lines, "*")

  /** RFC 9309 §2.2.1 group selection over a lines frame (round 14 —
    * replaces the single-literal-line positional scan): User-agent
    * headers match CASE-INSENSITIVELY (`User-Agent:` is everywhere on
    * the real web); STACKED headers (`User-agent: a` directly above
    * `User-agent: b`) form ONE run whose directives govern both
    * agents; a host with ANY group naming `agent`'s product token uses
    * those groups (all of them — multiple matching groups combine, per
    * the RFC), other hosts fall back to the `*` groups. Directives
    * before any header belong to no group and drop. Gaps-and-islands
    * over the per-source line window — robots bodies are KBs per host,
    * so every shape here is hosts-bounded. */
  private[graft] def groupOf(lines: DataFrame, agent: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("pos"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val marked = lines
      .withColumn("_ua",
        when(lower(col("line")).rlike("^user-agent\\s*:"),
          lower(trim(regexp_extract(col("line"),
            "(?i)^user-agent\\s*:\\s*(\\S*)", 1)))))
      .withColumn("_prev_ua", lag(col("_ua"), 1).over(w))
      // a header starts a run iff the previous LINE is not a header
      .withColumn("_run_start",
        when(col("_ua").isNotNull && col("_prev_ua").isNull, col("pos")))
      .withColumn("_run", last(col("_run_start"), ignoreNulls = true).over(cum))
    val runs = marked.filter(col("_ua").isNotNull)
      .groupBy(col("source"), col("_run"))
      .agg(max(when(col("_ua") === agent.toLowerCase, 1).otherwise(0))
        .as("_has_agent"),
        max(when(col("_ua") === "*", 1).otherwise(0)).as("_has_star"))
    val chosen = runs
      .join(runs.groupBy(col("source"))
        .agg(max(col("_has_agent")).as("_any_agent")), "source")
      .filter((col("_any_agent") === 1 && col("_has_agent") === 1) ||
        (col("_any_agent") === 0 && col("_has_star") === 1))
      .select(col("source"), col("_run"))
    marked.filter(col("_ua").isNull && col("_run").isNotNull)
      .join(broadcast(chosen), Seq("source", "_run"), "left_semi")
      .select(col("source"), col("line"))
  }

  /** The host's sitemap location from its robots body's GLOBAL
    * `Sitemap:` directive (RFC 9309: valid anywhere, outside any
    * user-agent group — so this parses the RAW line frame, not the
    * star-scoped one). Feeds the sitemap fetch whose parsed content is
    * `q_sitemap`'s input. */
  private[graft] def sitemapUrlOf(documents: DataFrame): DataFrame =
    robotsLines(documents)
      .filter(col("line").startsWith("Sitemap: "))
      .select(col("source"),
        regexp_replace(col("line"), "^Sitemap: ", "").as("sitemap_url"))

  /** Per-host politeness delay PARSED from the robots body's
    * `Crawl-delay` line in the `*` group (the textual face; the declared
    * face is `(idx % 5) + 1` — spec-asserted equal, the
    * [[robotsParse]]/[[rulesOf]] duality). */
  private[graft] def crawlDelayOf(documents: DataFrame): DataFrame =
    crawlDelayFrom(documents.select(col("source")).distinct())

  /** [[crawlDelayOf]] over a pre-derived host frame. */
  private def crawlDelayFrom(hosts: DataFrame): DataFrame =
    starGroupLinesFrom(hosts)
      .filter(col("line").startsWith("Crawl-delay: "))
      .select(col("source"),
        regexp_extract(col("line"), "^Crawl-delay: ([0-9]+)$", 1)
          .cast("long").as("delay_s"))

  /** Schedule epoch (2026-08-14T00:00:00Z) — fixed so `next_allowed_ts`
    * is deterministic and oracle-hashable. */
  val ScheduleEpoch = 1755129600L

  /** §2 `q_crawl_schedule`: WHEN each frontier URL may be fetched — the
    * politeness answer [[robotsFilter]] (whether) leaves open. Each
    * host's frontier URLs queue in canonical-URL order, one fetch per
    * `Crawl-delay` seconds: next_allowed_offset_s = cumulative delay of
    * the URLs ahead in the host's queue (a host-partitioned window
    * cumsum — `q_pack`'s shape), next_allowed_ts = epoch + offset.
    *
    * Scale: the frontier is the only big frame; delays are hosts-bounded
    * KBs → broadcast join; the window partitions BY HOST, so no
    * single-partition window at any corpus size (hot hosts are the skew
    * bound — exactly the real scheduler's constraint). */
  def crawlSchedule(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val noCursors = Seq.empty[(String, Long)].toDF("source", "cursor_s")
    val hosts = hostsOf(documents)
    scheduleCore(frontierSetFrom(documents, hosts), crawlDelayFrom(hosts),
      noCursors)
      .orderBy("canon_url")
  }

  /** Trap-damped politeness schedule — closing the trap loop on the
    * WHEN axis the way [[frontierBudgeted]] closes it on discovery
    * (round 16): a KNOWN-trap host ([[crawlTraps]]' flag) queues behind
    * a LONGER effective Crawl-delay (`delay_s × damp`), so even the
    * candidates that survive the frontier budget drain the host's
    * fetch budget `damp`× slower, while clean hosts schedule exactly
    * as [[crawlSchedule]] does. The damping is a join between two
    * HOSTS-BOUNDED frames (delays × trap flags) applied BEFORE
    * [[scheduleCore]]'s cumulative window — the corpus-scale frontier
    * never sees an extra exchange, and the whole queue stretches
    * coherently (offset k·delay → k·delay·damp). */
  def crawlScheduleDamped(documents: DataFrame, traps: DataFrame,
                          damp: Long = 10L): DataFrame = {
    require(damp >= 1L, s"damp must be >= 1, got $damp")
    import documents.sparkSession.implicits._
    val noCursors = Seq.empty[(String, Long)].toDF("source", "cursor_s")
    val hosts = hostsOf(documents)
    val delays = crawlDelayFrom(hosts)
      .join(traps.filter(col("trap")).select(col("source"))
        .withColumn("_trap", lit(true)), Seq("source"), "left")
      .select(col("source"),
        when(col("_trap"), col("delay_s") * damp)
          .otherwise(col("delay_s")).as("delay_s"))
    scheduleCore(frontierSetFrom(documents, hosts), delays, noCursors)
      .orderBy("canon_url")
  }

  /** The schedule computation proper over ANY (canon_url, n_referrers)
    * frontier frame + per-host delays + per-host CURSORS (the host's
    * next free offset — zero/absent for a cold batch run) — shared by
    * the batch query and [[scheduleStream]] so the two cannot drift. */
  private[graft] def scheduleCore(frontier: DataFrame, delays: DataFrame,
                                  cursors: DataFrame,
                                  carry: Seq[String] = Seq.empty): DataFrame =
    scheduleCoreKeyed(frontier, delays, cursors, carry,
      regexp_extract(col("canon_url"), "^[a-z]+://([^./]+)\\.", 1), None)

  /** [[scheduleCore]] with the host KEY and a default delay as
    * parameters (round 16): the synthetic faces keep the first-label
    * key and REQUIRE a declared delay (every synthetic host has one —
    * inner join, the oracle-pinned shape); the real face
    * ([[crawlScheduleOf]]) keys on the full host and floors undeclared
    * hosts at `defaultDelayS` via a left join + coalesce. */
  private[graft] def scheduleCoreKeyed(frontier: DataFrame,
                                       delays: DataFrame,
                                       cursors: DataFrame,
                                       carry: Seq[String],
                                       host: Column,
                                       defaultDelayS: Option[Long]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("canon_url"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val keyed = frontier.withColumn("source", host)
    val withDelay = defaultDelayS match {
      case None => keyed.join(broadcast(delays), "source")
      case Some(d) => keyed.join(broadcast(delays), Seq("source"), "left")
        .withColumn("delay_s", coalesce(col("delay_s"), lit(d)))
    }
    withDelay
      .join(broadcast(cursors), Seq("source"), "left")
      .withColumn("next_allowed_offset_s",
        coalesce(col("cursor_s"), lit(0L)) +
          coalesce(sum(col("delay_s")).over(w), lit(0L)))
      // `carry` columns ride the window unchanged — a consumer needing
      // payload beside the schedule (q_recrawl's lastmod evidence) must
      // not re-derive its input frame for a second join (round 14: that
      // recompute-per-branch was a measured 1.6× on q_recrawl)
      .select((Seq(col("canon_url"), col("source"), col("n_referrers"),
        col("delay_s"),
        col("next_allowed_offset_s"),
        (lit(ScheduleEpoch) + col("next_allowed_offset_s"))
          .as("next_allowed_ts")) ++ carry.map(col)): _*)
  }

  /** §2-C `scheduleStream`: live politeness SCHEDULING — the WHEN face
    * of [[frontierStream]]'s discovery: each micro-batch's discovered
    * frontier is queued behind the host's PERSISTED cursor (the next
    * free offset the scheduler recorded after the previous trigger —
    * the fetch-log convention: cross-batch continuity is the persisted
    * table's job, so the stream itself stays stateless). rules /
    * fetched / delays / cursors all ride as thunks re-resolved per
    * trigger (the unified static-side convention — a nightly robots
    * refresh or a cursor advance is live next trigger). Shares
    * [[scheduleCore]] with `q_crawl_schedule` — batch and stream cannot
    * drift on the queueing arithmetic. */
  def scheduleStream(docs: DataFrame, rules: () => DataFrame,
                     statuses: () => DataFrame,
                     fetched: () => DataFrame, delays: () => DataFrame,
                     cursors: () => DataFrame)
                    (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val links = HtmlOps.linkExtractSet(batch)
            .groupBy(col("dst_url").as("canon_url"))
            .agg(countDistinct(col("doc_id")).as("n_referrers"))
          sink(scheduleCore(frontierCore(links, rules(), statuses(), fetched()),
            delays(), cursors()), id)
      }
      .start()

  /** §2-C `recrawlStream`: live FRESHNESS triage — the recrawl loop's
    * streaming face (round 15), completing the crawl streaming matrix
    * beside [[frontierStream]] (discovery) and [[scheduleStream]]
    * (politeness): each micro-batch of freshness OBSERVATIONS — header
    * sweeps' (canon_url, lastmod), revalidation sweeps' etag_due rows,
    * sitemap-parse output; any subset of the [[asSignals]] columns —
    * triages against thunk-refreshed rules / robots statuses / the
    * persisted fetch LOG (canon_url, fetch_date), and the due rows
    * ([[dueReasons]] — the SAME reason CASE as `q_recrawl`, so batch
    * and stream cannot drift) queue behind the hosts' persisted cursors
    * through the shared [[scheduleCore]]. Stateless per trigger: the
    * fetch log and cursors carry cross-batch continuity, the unified
    * static-side convention. */
  def recrawlStream(signals: DataFrame, rules: () => DataFrame,
                    statuses: () => DataFrame,
                    fetchLog: () => DataFrame,
                    delays: () => DataFrame,
                    cursors: () => DataFrame)
                   (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    signals.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val due = dueReasons(triageCore(
            asSignals(batch.toDF()), rules(), statuses(), fetchLog()))
          sink(scheduleCore(
            due.select(col("canon_url"), lit(1L).as("n_referrers"),
              col("lastmod"), col("fetch_date"), col("reason")),
            delays(), cursors(),
            carry = Seq("lastmod", "fetch_date", "reason")), id)
      }
      .start()

  /** The rules CTE with the shared LIKE-pattern derivation (`like_pat`)
    * — every matched CTE joins `p.path LIKE r.like_pat ESCAPE '\'`, the
    * exact twin of [[matchRules]]' predicate. */
  private def rulesSql: String =
    """rules0 AS (
      |  SELECT source, r.prefix, r.allow
      |  FROM (SELECT DISTINCT source FROM documents)
      |  CROSS JOIN LATERAL (
      |    SELECT '/docs/' || CAST(CAST(substr(source, 4, 10) AS INT) % 10 AS VARCHAR) AS prefix, FALSE AS allow
      |    UNION ALL
      |    SELECT '/docs/' || CAST(CAST(substr(source, 4, 10) AS INT) % 10 AS VARCHAR) || '3', TRUE
      |    UNION ALL
      |    SELECT '/docs/*' || CAST((CAST(substr(source, 4, 10) AS INT) + 7) % 10 AS VARCHAR) || '$', FALSE
      |  ) r
      |), rules AS (
      |  SELECT source, prefix, allow,
      |    CASE WHEN prefix LIKE '%$'
      |      THEN substring(w, 1, length(w) - 1)
      |      ELSE w || '%' END AS like_pat
      |  FROM (
      |    SELECT source, prefix, allow,
      |      replace(replace(replace(replace(prefix,
      |        '\', '\\'), '%', '\%'), '_', '\_'), '*', '%') AS w
      |    FROM rules0)
      |)""".stripMargin

  /** The robots-fetch status universe as a CTE (`rstat`) — the SQL twin
    * of [[robotsStatusOf]], shared by every consuming oracle. */
  private def rstatSql: String =
    """rstat AS (
      |  SELECT DISTINCT source,
      |    CASE WHEN CAST(substr(source, 4, 10) AS INT) % 10 = 8 THEN 503
      |         WHEN CAST(substr(source, 4, 10) AS INT) % 10 = 4 THEN 404
      |         ELSE 200 END AS robots_status
      |  FROM documents
      |)""".stripMargin

  /** The SQL face of [[robotsAllowed]] over a status alias `s` and a
    * matched-rule alias `m` — shared verbatim by every consuming oracle
    * so the reachability semantics cannot drift. */
  private def allowedSql(s: String, m: String): String =
    s"CASE WHEN $s.robots_status >= 500 THEN FALSE " +
      s"WHEN $s.robots_status >= 400 THEN TRUE " +
      s"ELSE COALESCE($m.allow, TRUE) END"

  /** `urls (canon_url)` + `parts (canon_url, source, path)` over the
    * SHARED url universe CTE. */
  private def partsSql: String =
    s"""urls AS (
       |  SELECT DISTINCT ${UrlOps.canonSql("url")} AS canon_url FROM u
       |), parts AS (
       |  SELECT canon_url,
       |    regexp_extract(canon_url, '^[a-z]+://([^./]+)\\.', 1) AS source,
       |    regexp_replace(canon_url, '^[a-z]+://[^/?#]*', '') AS path
       |  FROM urls
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_crawl_traps" ->
      s"""WITH ${UrlOps.urlUniverseSql},
         |sid AS (
         |  SELECT doc_id, source, unnest(generate_series(0, 4)) AS k
         |  FROM documents
         |  WHERE CAST(substr(source, 4, 10) AS INT) % 7 = 5
         |), allu AS (
         |  SELECT url FROM u
         |  UNION ALL
         |  SELECT 'http://' || source || '.example.com/docs/' ||
         |    CAST(doc_id % 100 AS VARCHAR) || '?sid=' ||
         |    CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
         |  FROM sid
         |), canoned AS (
         |  SELECT ${UrlOps.canonSql("url")} AS canon_url FROM allu
         |), parts AS (
         |  SELECT canon_url,
         |    regexp_extract(canon_url, '^[a-z]+://([^./]+)\\.', 1) AS source,
         |    regexp_replace(canon_url, '\\?.*$$', '') AS page
         |  FROM canoned
         |)
         |SELECT source,
         |  CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_urls,
         |  CAST(COUNT(DISTINCT page) AS BIGINT) AS n_pages,
         |  COUNT(DISTINCT canon_url) > COUNT(DISTINCT page) * 3 AS trap
         |FROM parts
         |GROUP BY source
         |ORDER BY source""".stripMargin,
    "q_robots_parse" ->
      """WITH srcs AS (
        |  SELECT DISTINCT source FROM documents
        |), bodies AS (
        |  SELECT source,
        |    '# robots for ' || source || chr(10) ||
        |    'Sitemap: http://' || source || '.example.com/sitemap.xml' || chr(10) ||
        |    'User-agent: megabot' || chr(10) || 'Disallow: /private' || chr(10) ||
        |    chr(10) ||
        |    'User-agent: *' || chr(10) ||
        |    'Crawl-delay: ' || CAST(CAST(substr(source, 4, 10) AS INT) % 5 + 1 AS VARCHAR) || chr(10) ||
        |    'Disallow: /docs/' || CAST(CAST(substr(source, 4, 10) AS INT) % 10 AS VARCHAR) || chr(10) ||
        |    'Allow: /docs/' || CAST(CAST(substr(source, 4, 10) AS INT) % 10 AS VARCHAR) || '3' || chr(10) ||
        |    'Disallow: /docs/*' || CAST((CAST(substr(source, 4, 10) AS INT) + 7) % 10 AS VARCHAR) || '$' || chr(10)
        |      AS body
        |  FROM srcs
        |), split0 AS (
        |  SELECT source, string_split(body, chr(10)) AS ls FROM bodies
        |), idx AS (
        |  SELECT source, ls, unnest(generate_series(1, len(ls))) AS i FROM split0
        |), lines AS (
        |  SELECT source, (i - 1) AS pos, ls[CAST(i AS INT)] AS line FROM idx
        |), star AS (
        |  SELECT source, MIN(pos) AS p0 FROM lines
        |  WHERE line = 'User-agent: *' GROUP BY source
        |), nxt AS (
        |  SELECT l.source, MIN(l.pos) AS p1
        |  FROM lines l JOIN star s ON s.source = l.source
        |  WHERE l.pos > s.p0 AND l.line LIKE 'User-agent:%'
        |  GROUP BY l.source
        |)
        |SELECT l.source,
        |  regexp_replace(l.line, '^(Dis)?(A|a)llow: ', '') AS prefix,
        |  l.line LIKE 'Allow: %' AS allow
        |FROM lines l
        |JOIN star s ON s.source = l.source
        |LEFT JOIN nxt n ON n.source = l.source
        |WHERE l.pos > s.p0 AND l.pos < COALESCE(n.p1, 2147483647)
        |  AND (l.line LIKE 'Allow: %' OR l.line LIKE 'Disallow: %')
        |ORDER BY l.source, prefix""".stripMargin,
    "q_robots_filter" ->
      s"""WITH ${UrlOps.urlUniverseSql},
         |$partsSql,
         |$rulesSql,
         |$rstatSql,
         |matched AS (
         |  SELECT p.canon_url, r.prefix, r.allow,
         |    ROW_NUMBER() OVER (PARTITION BY p.canon_url
         |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rk
         |  FROM parts p JOIN rules r
         |    ON p.source = r.source
         |   AND p.path LIKE r.like_pat ESCAPE '\'
         |)
         |SELECT p.canon_url,
         |  CASE WHEN COALESCE(s.robots_status, 200) < 400 THEN m.prefix END AS rule_prefix,
         |  ${allowedSql("s", "m")} AS allowed
         |FROM parts p LEFT JOIN (SELECT * FROM matched WHERE rk = 1) m
         |  ON m.canon_url = p.canon_url
         |LEFT JOIN rstat s ON s.source = p.source
         |ORDER BY p.canon_url""".stripMargin,
    "q_frontier" ->
      s"""WITH $frontierCtes
         |SELECT canon_url, n_referrers
         |FROM frontier_set
         |ORDER BY canon_url""".stripMargin,
    "q_sitemap" ->
      s"""WITH $sitemapSeedCtes
         |SELECT canon_url, source, lastmod, changefreq, priority,
         |  allowed, fetched
         |FROM sm
         |ORDER BY canon_url""".stripMargin,
    "q_feeds" -> {
      def cls(m: Int, a: Int): String =
        s"CAST(((CAST(substr(source, 4, 10) AS INT) * $m + $a) % 5) * 20 + " +
          s"(CAST(substr(source, 4, 10) AS INT) % 20) AS VARCHAR)"
      val d137 =
        "CAST((CAST(substr(source, 4, 10) AS INT) * 13 + 7) % 100 AS VARCHAR)"
      val h = "'http://' || source || '.example.com"
      s"""WITH srcs AS (
         |  SELECT DISTINCT source FROM documents
         |),
         |${UrlOps.urlUniverseSql},
         |fent AS (
         |  SELECT $h/docs/' || ${cls(3, 2)} AS loc, '2026-08-05' AS lastmod
         |  FROM srcs
         |  UNION ALL
         |  SELECT 'HTTP://' || upper(source || '.example.com') || ':80/docs/' ||
         |    $d137 || '#frag', NULL FROM srcs
         |  UNION ALL
         |  SELECT $h/docs/' || ${cls(3, 2)} || '/', '2026-07-15' FROM srcs
         |  UNION ALL
         |  SELECT $h/docs/' || ${cls(9, 5)}, '2026-07-18' FROM srcs
         |  UNION ALL
         |  SELECT $h/docs/' || ${cls(17, 8)}, NULL FROM srcs
         |), fseeds AS (
         |  SELECT ${UrlOps.canonSql("loc")} AS canon_url, MAX(lastmod) AS lastmod
         |  FROM fent GROUP BY 1
         |), fparts AS (
         |  SELECT canon_url, lastmod,
         |    regexp_extract(canon_url, '^[a-z]+://([^./]+)\\.', 1) AS source,
         |    regexp_replace(canon_url, '^[a-z]+://[^/?#]*', '') AS path
         |  FROM fseeds
         |),
         |$rulesSql,
         |fmatched AS (
         |  SELECT p.canon_url, r.allow,
         |    ROW_NUMBER() OVER (PARTITION BY p.canon_url
         |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rk
         |  FROM fparts p JOIN rules r
         |    ON p.source = r.source
         |   AND p.path LIKE r.like_pat ESCAPE '\'
         |),
         |fetched AS (
         |  SELECT DISTINCT ${UrlOps.canonSql("url")} AS canon_url FROM u
         |  WHERE TRY_CAST(regexp_extract(${UrlOps.canonSql("url")}, '/docs/([0-9]+)$$', 1) AS INT) < 50
         |),
         |$rstatSql
         |SELECT p.canon_url, p.source, p.lastmod,
         |  ${allowedSql("s", "m")} AS allowed,
         |  (p.canon_url IN (SELECT canon_url FROM fetched)) AS fetched
         |FROM fparts p
         |LEFT JOIN (SELECT * FROM fmatched WHERE rk = 1) m
         |  ON m.canon_url = p.canon_url
         |LEFT JOIN rstat s ON s.source = p.source
         |ORDER BY p.canon_url""".stripMargin
    },
    "q_recrawl" ->
      s"""WITH ${seedCtes(withHeaderSignals = true)},
         |due AS (
         |  SELECT canon_url, source, lastmod, changefreq, etag_due, expires,
         |    '2026-07-' || lpad(CAST(1 + CAST(regexp_extract(canon_url, '/docs/([0-9]+)$$', 1) AS INT) % 28 AS VARCHAR), 2, '0')
         |      AS fetch_date
         |  FROM sm
         |  WHERE fetched AND allowed
         |), due2 AS (
         |  SELECT * FROM (
         |    SELECT *,
         |      CASE
         |        WHEN lastmod IS NOT NULL AND lastmod > fetch_date THEN 'lastmod'
         |        WHEN etag_due THEN 'etag'
         |        WHEN expires IS NOT NULL AND expires < '$RecrawlAsOf'
         |             THEN 'expired'
         |        WHEN lastmod IS NULL AND changefreq IS NOT NULL
         |             AND CAST(fetch_date AS DATE) + ${freqDaysSql("changefreq")}
         |                 < DATE '$RecrawlAsOf' THEN 'changefreq'
         |      END AS reason
         |    FROM due
         |  ) WHERE reason IS NOT NULL
         |), del AS (
         |  SELECT DISTINCT source,
         |    CAST(CAST(substr(source, 4, 10) AS INT) % 5 + 1 AS BIGINT) AS delay_s
         |  FROM documents
         |)
         |SELECT d.canon_url, d.source, d.lastmod, d.fetch_date, d.reason,
         |  l.delay_s,
         |  CAST(COALESCE(SUM(l.delay_s) OVER (
         |    PARTITION BY d.source ORDER BY d.canon_url
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS next_allowed_offset_s,
         |  CAST($ScheduleEpoch + COALESCE(SUM(l.delay_s) OVER (
         |    PARTITION BY d.source ORDER BY d.canon_url
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS next_allowed_ts
         |FROM due2 d JOIN del l ON l.source = d.source
         |ORDER BY d.canon_url""".stripMargin,
    "q_redirects" -> {
      val d = "CAST((CAST(substr(source, 4, 10) AS INT) * 7 + 13) % 100 AS VARCHAR)"
      val h = "'http://' || source || '.example.com"
      s"""WITH srcs AS (
         |  SELECT DISTINCT source FROM documents
         |), e AS (
         |  SELECT $h/r/' || $d AS src_url, $h/moved/' || $d AS dst_url FROM srcs
         |  UNION ALL
         |  SELECT $h/moved/' || $d, $h/docs/' || $d FROM srcs
         |  UNION ALL
         |  SELECT $h/loop/a', $h/loop/b' FROM srcs
         |  UNION ALL
         |  SELECT $h/loop/b', $h/loop/a' FROM srcs
         |), s1 AS (
         |  SELECT src_url, dst_url AS final_url, 1 AS n_hops FROM e
         |), s2 AS (
         |  SELECT s.src_url, COALESCE(x.dst_url, s.final_url) AS final_url,
         |    s.n_hops + CASE WHEN x.src_url IS NULL THEN 0 ELSE 1 END AS n_hops
         |  FROM s1 s LEFT JOIN e x ON x.src_url = s.final_url
         |), s3 AS (
         |  SELECT s.src_url, COALESCE(x.dst_url, s.final_url) AS final_url,
         |    s.n_hops + CASE WHEN x.src_url IS NULL THEN 0 ELSE 1 END AS n_hops
         |  FROM s2 s LEFT JOIN e x ON x.src_url = s.final_url
         |), s4 AS (
         |  SELECT s.src_url, COALESCE(x.dst_url, s.final_url) AS final_url,
         |    s.n_hops + CASE WHEN x.src_url IS NULL THEN 0 ELSE 1 END AS n_hops
         |  FROM s3 s LEFT JOIN e x ON x.src_url = s.final_url
         |), res AS (
         |  SELECT s.src_url, s.final_url, CAST(s.n_hops AS BIGINT) AS n_hops,
         |    NOT EXISTS (SELECT 1 FROM e x WHERE x.src_url = s.final_url)
         |      AS resolved
         |  FROM s4 s
         |),
         |$rulesSql,
         |fparts AS (
         |  SELECT DISTINCT final_url AS canon_url,
         |    regexp_extract(final_url, '^[a-z]+://([^./]+)\\.', 1) AS source,
         |    regexp_replace(final_url, '^[a-z]+://[^/?#]*', '') AS path
         |  FROM res
         |), matched AS (
         |  SELECT p.canon_url, r.allow,
         |    ROW_NUMBER() OVER (PARTITION BY p.canon_url
         |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rk
         |  FROM fparts p JOIN rules r
         |    ON p.source = r.source
         |   AND p.path LIKE r.like_pat ESCAPE '\'
         |),
         |${UrlOps.urlUniverseSql},
         |$rstatSql,
         |fetched AS (
         |  SELECT DISTINCT ${UrlOps.canonSql("url")} AS canon_url FROM u
         |  WHERE TRY_CAST(regexp_extract(${UrlOps.canonSql("url")}, '/docs/([0-9]+)$$', 1) AS INT) < 50
         |)
         |SELECT r.src_url, r.final_url, r.n_hops, r.resolved,
         |  (r.resolved AND ${allowedSql("s", "m")} AND f.canon_url IS NULL)
         |    AS enqueue
         |FROM res r
         |LEFT JOIN (SELECT * FROM matched WHERE rk = 1) m
         |  ON m.canon_url = r.final_url
         |LEFT JOIN rstat s
         |  ON s.source = regexp_extract(r.final_url, '^[a-z]+://([^./]+)\\.', 1)
         |LEFT JOIN fetched f ON f.canon_url = r.final_url
         |ORDER BY r.src_url""".stripMargin
    },
    "q_crawl_schedule" ->
      s"""WITH $frontierCtes,
         |frs AS (
         |  SELECT canon_url, n_referrers,
         |    regexp_extract(canon_url, '^[a-z]+://([^./]+)\\.', 1) AS source
         |  FROM frontier_set
         |),
         |del AS (
         |  SELECT DISTINCT source,
         |    CAST(CAST(substr(source, 4, 10) AS INT) % 5 + 1 AS BIGINT) AS delay_s
         |  FROM documents
         |)
         |SELECT f.canon_url, f.source, f.n_referrers, d.delay_s,
         |  CAST(COALESCE(SUM(d.delay_s) OVER (
         |    PARTITION BY f.source ORDER BY f.canon_url
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS next_allowed_offset_s,
         |  CAST($ScheduleEpoch + COALESCE(SUM(d.delay_s) OVER (
         |    PARTITION BY f.source ORDER BY f.canon_url
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS next_allowed_ts
         |FROM frs f JOIN del d ON d.source = f.source
         |ORDER BY f.canon_url""".stripMargin
  )

  /** The nested sitemap universe's ENTRIES + triage flags as CTEs ending
    * in `sm (canon_url, source, lastmod, allowed, fetched)` — shared by
    * `q_sitemap` and `q_recrawl` so the two cannot drift. The oracle
    * parses the child urlsets' entries directly (the index → child
    * resolution is a Spark-face concern, spec-graded; the ENTRY SET the
    * two derivations yield is identical by construction — both engines
    * see exactly child A's three locs + child B's two). */
  private def sitemapSeedCtes: String = seedCtes(withHeaderSignals = false)

  /** [[sitemapSeedCtes]] generalized over the signal UNION (round 14):
    * `q_sitemap` triages the sitemap entries alone; `q_recrawl` unions
    * the header-observed lastmod signal ([[headerSignals]]' twin — the
    * fetched universe with id%4-derived dates) before the max-dedup, so
    * header-dated staleness feeds the same politeness tail. */
  private def seedCtes(withHeaderSignals: Boolean): String = {
    def d(m: Int, a: Int): String =
      s"CAST((CAST(substr(source, 4, 10) AS INT) * $m + $a) % 100 AS VARCHAR)"
    // the residue-class form — see sitemapBodies' cls()
    def cls(m: Int, a: Int): String =
      s"CAST(((CAST(substr(source, 4, 10) AS INT) * $m + $a) % 5) * 20 + " +
        s"(CAST(substr(source, 4, 10) AS INT) % 20) AS VARCHAR)"
    val h = "'http://' || source || '.example.com"
    val idOf = s"TRY_CAST(regexp_extract(${UrlOps.canonSql("url")}, " +
      "'/docs/([0-9]+)$', 1) AS INT)"
    // the header Last-Modified + etag-churn + caching-expiry signal
    // unions (recrawl only)
    val headerSig = if (!withHeaderSignals) "" else
      s"""  UNION ALL
         |  SELECT DISTINCT ${UrlOps.canonSql("url")},
         |    CASE WHEN $idOf % 4 = 1 THEN '2026-08-03'
         |         ELSE '2026-06-15' END, NULL, NULL, FALSE, NULL
         |  FROM u WHERE $idOf < 50 AND $idOf % 3 <> 0
         |  UNION ALL
         |  SELECT DISTINCT ${UrlOps.canonSql("url")},
         |    NULL, NULL, NULL, TRUE, NULL
         |  FROM u WHERE $idOf < 50 AND $idOf % 5 = 2
         |  UNION ALL
         |  SELECT DISTINCT ${UrlOps.canonSql("url")},
         |    NULL, NULL, NULL, FALSE,
         |    CASE WHEN $idOf % 7 = 1 THEN '2026-07-01'
         |         ELSE '2027-01-01' END
         |  FROM u WHERE $idOf < 50 AND $idOf % 7 IN (1, 4)
         |""".stripMargin
    s"""srcs AS (
       |  SELECT DISTINCT source FROM documents
       |),
       |${UrlOps.urlUniverseSql},
       |ent AS (
       |  SELECT $h/docs/' || ${cls(3, 1)} AS loc,
       |    '2026-08-01' AS lastmod, 'weekly' AS changefreq,
       |    '0.8' AS priority FROM srcs
       |  UNION ALL
       |  SELECT 'HTTP://' || upper(source || '.example.com') || ':80/docs/' ||
       |    ${d(13, 2)} || '#frag', NULL, NULL, NULL FROM srcs
       |  UNION ALL
       |  SELECT $h/docs/' || ${cls(3, 1)} || '/', NULL, NULL, NULL FROM srcs
       |  UNION ALL
       |  SELECT $h/docs/' || ${cls(9, 4)}, '2026-07-20', 'monthly', NULL FROM srcs
       |  UNION ALL
       |  SELECT $h/docs/' || ${cls(17, 6)}, '2026-06-10', NULL, NULL FROM srcs
       |  UNION ALL
       |  SELECT $h/docs/' || ${cls(7, 3)}, NULL, 'daily', '0.5' FROM srcs
       |), seeds AS (
       |  SELECT canon_url, MAX(lastmod) AS lastmod,
       |    CASE MIN($freqRankSql)
       |      WHEN 0 THEN 'always' WHEN 1 THEN 'hourly' WHEN 2 THEN 'daily'
       |      WHEN 3 THEN 'weekly' WHEN 4 THEN 'monthly' WHEN 5 THEN 'yearly'
       |    END AS changefreq,
       |    MAX(priority) AS priority,
       |    MAX(etag_due) AS etag_due,
       |    MAX(expires) AS expires
       |  FROM (
       |    SELECT ${UrlOps.canonSql("loc")} AS canon_url, lastmod,
       |      changefreq, priority, FALSE AS etag_due, NULL AS expires FROM ent
       |$headerSig  )
       |  GROUP BY 1
       |), sparts AS (
       |  SELECT canon_url, lastmod, changefreq, priority, etag_due, expires,
       |    regexp_extract(canon_url, '^[a-z]+://([^./]+)\\.', 1) AS source,
       |    regexp_replace(canon_url, '^[a-z]+://[^/?#]*', '') AS path
       |  FROM seeds
       |),
       |$rulesSql,
       |smatched AS (
       |  SELECT p.canon_url, r.allow,
       |    ROW_NUMBER() OVER (PARTITION BY p.canon_url
       |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rk
       |  FROM sparts p JOIN rules r
       |    ON p.source = r.source
       |   AND p.path LIKE r.like_pat ESCAPE '\'
       |),
       |fetched AS (
       |  SELECT DISTINCT ${UrlOps.canonSql("url")} AS canon_url FROM u
       |  WHERE TRY_CAST(regexp_extract(${UrlOps.canonSql("url")}, '/docs/([0-9]+)$$', 1) AS INT) < 50
       |),
       |$rstatSql,
       |sm AS (
       |  SELECT p.canon_url, p.source, p.lastmod, p.changefreq, p.priority,
       |    p.etag_due, p.expires,
       |    ${allowedSql("s", "m")} AS allowed,
       |    (p.canon_url IN (SELECT canon_url FROM fetched)) AS fetched
       |  FROM sparts p
       |  LEFT JOIN (SELECT * FROM smatched WHERE rk = 1) m
       |    ON m.canon_url = p.canon_url
       |  LEFT JOIN rstat s ON s.source = p.source
       |)""".stripMargin
  }

  /** changefreq → rank as a SQL CASE over a column named `changefreq` —
    * the verbatim twin of [[freqRank]]. */
  private def freqRankSql: String =
    "CASE changefreq WHEN 'always' THEN 0 WHEN 'hourly' THEN 1 " +
      "WHEN 'daily' THEN 2 WHEN 'weekly' THEN 3 WHEN 'monthly' THEN 4 " +
      "WHEN 'yearly' THEN 5 END"

  /** changefreq → period DAYS as a SQL CASE over an expression `e` —
    * the verbatim twin of [[freqDays]]. */
  private def freqDaysSql(e: String): String =
    s"CASE $e WHEN 'always' THEN 1 WHEN 'hourly' THEN 1 " +
      "WHEN 'daily' THEN 1 WHEN 'weekly' THEN 7 WHEN 'monthly' THEN 30 " +
      "WHEN 'yearly' THEN 365 END"

  /** The full frontier derivation as CTEs ending in
    * `frontier_set (canon_url, n_referrers)` — shared by `q_frontier`
    * and `q_crawl_schedule` so the two cannot drift. */
  private def frontierCtes: String =
    s"""${HtmlOps.linkUniverseSql}, links AS (
       |  SELECT ${UrlOps.canonSql("href")} AS canon_url,
       |    COUNT(DISTINCT doc_id) AS n_referrers
       |  FROM raw_links
       |  GROUP BY 1
       |), lparts AS (
       |  SELECT canon_url, n_referrers,
       |    regexp_extract(canon_url, '^[a-z]+://([^./]+)\\.', 1) AS source,
       |    regexp_replace(canon_url, '^[a-z]+://[^/?#]*', '') AS path
       |  FROM links
       |),
       |$rulesSql,
       |matched AS (
       |  SELECT p.canon_url, r.allow,
       |    ROW_NUMBER() OVER (PARTITION BY p.canon_url
       |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rk
       |  FROM lparts p JOIN rules r
       |    ON p.source = r.source
       |   AND p.path LIKE r.like_pat ESCAPE '\'
       |),
       |$rstatSql,
       |allowed AS (
       |  SELECT p.canon_url, p.n_referrers
       |  FROM lparts p LEFT JOIN (SELECT * FROM matched WHERE rk = 1) m
       |    ON m.canon_url = p.canon_url
       |  LEFT JOIN rstat s ON s.source = p.source
       |  WHERE ${allowedSql("s", "m")}
       |),
       |${UrlOps.urlUniverseSql},
       |fetched AS (
       |  SELECT DISTINCT ${UrlOps.canonSql("url")} AS canon_url FROM u
       |  WHERE TRY_CAST(regexp_extract(${UrlOps.canonSql("url")}, '/docs/([0-9]+)$$', 1) AS INT) < 50
       |),
       |frontier_set AS (
       |  SELECT a.canon_url, a.n_referrers
       |  FROM allowed a
       |  WHERE a.canon_url NOT IN (SELECT canon_url FROM fetched)
       |)""".stripMargin
}
