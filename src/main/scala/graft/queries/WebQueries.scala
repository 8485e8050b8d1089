package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** URL canonicalization and HTML/markdown extraction. */
private[graft] object WebQueries {

  def all: Seq[Query] = Seq(
    // ───── HTML → text extraction: the web-scrape ingest stage — drop
    // script/style payloads, strip tags, decode entities, measure the
    // link-density boilerplate signal. Page markup is synthesized
    // deterministically from the documents row in BOTH engines (the
    // q225 identity-oracle posture); every column is a codegen'd
    // regex projection, map-only at 100 TB ─────
    Query("q255_html_extract", { (s, dir) =>
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" &amp; "), upper(col("source")),
        lit("</title><style>p { color: red; }</style></head><body>" +
          "<script>var x = 1 < 2;</script><h1>"),
        col("source"), lit("</h1><p>"), col("text"),
        lit("</p><a href=\"/s/"), col("source"), lit("\">"),
        col("source"), lit(" home</a>"),
        when(col("doc_id") % 3 === 0,
          lit("<a href=\"/more\">read &gt; more</a>")).otherwise(lit("")),
        lit("</body></html>"))
      tb(s, dir, "documents").select(col("doc_id"), html.as("_h"))
        .select(col("doc_id"),
          Html.title(col("_h")).as("title"),
          Html.visibleText(col("_h")).as("text_clean"),
          Html.tagCount(col("_h")).cast("bigint").as("n_tags"),
          size(Html.anchorTexts(col("_h"))).cast("bigint").as("n_links"),
          Html.linkDensity(col("_h")).as("link_density"))
        .orderBy("doc_id")
    },
      // Mirrors the q255 synthetic page + Html.{title, visibleText,
      // tagCount, anchorTexts, linkDensity}: script/style payloads dropped
      // via two non-greedy dotall passes, tags → spaces, entities decoded
      // (&amp; last), whitespace collapsed; density = raw anchor-inner
      // chars / visible chars, 6dp.
      oracle = {
        // Entity-decode chain mirroring Html.decodeEntities (&amp; LAST).
        def htmlEnt(e: String): String =
          Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "''",
            "&nbsp;" -> " ", "&amp;" -> "&")
            .foldLeft(e) { case (acc, (pat, rep)) =>
              s"replace($acc, '$pat', '$rep')"
            }
        val page = "'<html><head><title>Doc ' || doc_id || ' &amp; ' || " +
          "upper(source) || '</title><style>p { color: red; }</style>" +
          "</head><body><script>var x = 1 < 2;</script><h1>' || source || " +
          "'</h1><p>' || text || '</p><a href=\"/s/' || source || '\">' || " +
          "source || ' home</a>' || CASE WHEN doc_id % 3 = 0 THEN " +
          "'<a href=\"/more\">read &gt; more</a>' ELSE '' END || " +
          "'</body></html>'"
        val noCode = "regexp_replace(regexp_replace(html, " +
          "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
          "'(?is)<style[^>]*>.*?</style>', ' ', 'g')"
        val vis = "trim(regexp_replace(" +
          htmlEnt(s"regexp_replace($noCode, '<[^>]*>', ' ', 'g')") +
          ", '\\s+', ' ', 'g'))"
        val ttl = "trim(regexp_replace(" +
          htmlEnt("regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)") +
          ", '\\s+', ' ', 'g'))"
        val anchors = "regexp_extract_all(html, '(?is)<a\\b[^>]*>(.*?)</a>', 1)"
        s"WITH h AS (SELECT doc_id, $page AS html FROM documents), " +
          s"x AS (SELECT doc_id, $ttl AS title, $vis AS text_clean, " +
          "len(regexp_extract_all(html, '<[a-zA-Z][^>]*>'))::BIGINT AS n_tags, " +
          s"len($anchors)::BIGINT AS n_links, " +
          s"coalesce(list_sum(list_transform($anchors, t -> length(t))), 0) " +
          "AS lc FROM h) " +
          "SELECT doc_id, title, text_clean, n_tags, n_links, " +
          "round(CASE WHEN length(text_clean) = 0 THEN 0.0::DOUBLE " +
          "ELSE lc::DOUBLE / length(text_clean) END, 6) AS link_density " +
          "FROM x ORDER BY doc_id"
      }),

    // ───── URL canonicalization: eight deterministic dirty shapes per
    // doc (mixed case, www, tracking params, default ports, userinfo,
    // fragments, trailing dots/slashes, multi-label suffixes) normalized
    // to the exact-URL dedup key + registered domain — the web-corpus
    // ingest front door; pure per-row projection, no shuffle ─────
    Query("q279_url_canonical", { (s, dir) =>
      tb(s, dir, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
        .select(col("doc_id"),
          ops.Url.canonicalize(col("raw")).as("canon"),
          ops.Url.registeredDomain(ops.Url.host(col("raw"))).as("domain"),
          ops.Url.nonDefaultPort(col("raw")).cast("long").as("port"))
        .filter(col("canon").isNotNull)
        .orderBy("doc_id")
    },
      // q279: every valid synthesized URL canonicalized.
      oracle = s"WITH ${Oracles.urlRawCte}, ${Oracles.urlCompCte} " +
        "SELECT doc_id, canon, domain, port FROM comp " +
        "WHERE canon IS NOT NULL ORDER BY doc_id"),

    // ───── Domain-diversity cap: ≤3 docs per registered domain by
    // deterministic hash-rank — the anti-template-mill curation step;
    // the rank filter is rewritten to the bounded-heap TopKPerKeyExec,
    // so a whale domain costs O(cap) memory, not a per-domain sort ─────
    Query("q280_domain_cap", { (s, dir) =>
      val withUrl = tb(s, dir, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
      ops.Url.domainCap(withUrl, "doc_id", "raw", cap = 3)
        .select(col("domain"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("canon"))
        .orderBy("domain", "rnk")
    },
      // q280: Url.domainCap mirror — hash-rank row_number per registered
      // domain, keep rnk ≤ cap.
      oracle = {
        val cap: Int = 3
        s"WITH ${Oracles.urlRawCte}, ${Oracles.urlCompCte}, " +
          "v AS (SELECT doc_id, canon, domain, " +
          s"${Oracles.h60("domain || '|' || doc_id::VARCHAR")} AS hk " +
          "FROM comp WHERE canon IS NOT NULL), " +
          "r AS (SELECT domain, doc_id, canon, row_number() OVER " +
          "(PARTITION BY domain ORDER BY hk, doc_id) AS rnk FROM v) " +
          s"SELECT domain, rnk::BIGINT AS rnk, doc_id, canon FROM r WHERE rnk <= $cap " +
          "ORDER BY domain, rnk"
      }),

    // ───── Corpus concentration over registered domains: HHI, top-domain
    // share, Gini of per-domain page counts — the diversity headline of a
    // web-corpus datasheet; integer sums over the bounded domain
    // aggregate, divisions only at the end ─────
    Query("q287_domain_concentration", { (s, dir) =>
      val withUrl = tb(s, dir, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
      ops.Url.domainConcentration(withUrl, "raw")
        .orderBy("n_domains")
    },
      // q287: Url.domainConcentration mirror — integer sums over the
      // per-domain aggregate, divisions only at the end.
      oracle = s"WITH ${Oracles.urlRawCte}, ${Oracles.urlCompCte}, " +
        "c AS (SELECT domain, count(*)::BIGINT AS pages FROM comp " +
        "WHERE canon IS NOT NULL GROUP BY 1), " +
        "r AS (SELECT domain, pages, row_number() OVER " +
        "(ORDER BY pages, domain) AS rnk FROM c), " +
        "a AS (SELECT count(*)::BIGINT AS n_domains, " +
        "sum(pages)::BIGINT AS n_pages, max(pages)::BIGINT AS top_pages, " +
        "sum(pages * pages)::BIGINT AS sumsq, " +
        "sum(rnk * pages)::BIGINT AS ranksum FROM r) " +
        "SELECT n_domains, n_pages, " +
        "round(sumsq::DOUBLE / (n_pages * n_pages), 6) AS hhi, " +
        "round(top_pages::DOUBLE / n_pages, 6) AS top_share, " +
        "round((2 * ranksum - (n_domains + 1) * n_pages)::DOUBLE / " +
        "(n_domains * n_pages), 6) AS gini FROM a ORDER BY n_domains"),

    // ───── Markdown section splitter: structure-respecting chunking
    // (one row per ATX-heading section + a level-0 preamble) — lines
    // carry (doc_id, pos), never the whole doc; cumulative-heading
    // window + per-section aggregate share one doc_id shuffle ─────
    Query("q291_markdown_sections", { (s, dir) =>
      val t0 = col("text")
      val md = concat(
        when(col("doc_id") % 3 === 0, lit("intro before headings\n"))
          .otherwise(lit("")),
        lit("# Doc "), col("doc_id").cast("string"), lit("\n"),
        substring(t0, 1, 50), lit("\n## Part A\n"), substring(t0, 51, 50),
        when(col("doc_id") % 2 === 0,
          concat(lit("\n### Deep\n"), substring(t0, 101, 50)))
          .otherwise(lit("")),
        lit("\n## Part B\n"), substring(t0, 151, 40))
      Html.markdownSections(
          tb(s, dir, "documents").select(col("doc_id"), md.as("md")),
          "doc_id", "md")
        .orderBy("doc_id", "sec")
    },
      // q291: Html.markdownSections mirror — same synthesis, cumulative
      // heading window, ordered in-agg body assembly.
      oracle = "WITH md AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 3 = 0 THEN 'intro before headings' || chr(10) " +
        "ELSE '' END) || '# Doc ' || doc_id::VARCHAR || chr(10) || " +
        "substr(text, 1, 50) || chr(10) || '## Part A' || chr(10) || " +
        "substr(text, 51, 50) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN chr(10) || '### Deep' || chr(10) || " +
        "substr(text, 101, 50) ELSE '' END) || " +
        "chr(10) || '## Part B' || chr(10) || substr(text, 151, 40) AS t " +
        "FROM documents), " +
        "sp AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM md), " +
        "ix AS (SELECT doc_id, ls, unnest(range(len(ls))) AS pos FROM sp), " +
        "l AS (SELECT doc_id, pos, ls[pos+1] AS line FROM ix), " +
        "h AS (SELECT doc_id, pos, line, " +
        "regexp_matches(line, '^#{1,6} ') AS ih, " +
        "CASE WHEN regexp_matches(line, '^#{1,6} ') THEN " +
        "length(regexp_extract(line, '^(#{1,6}) ', 1)) ELSE 0 END AS lvl " +
        "FROM l), " +
        "s AS (SELECT doc_id, pos, line, ih, lvl, " +
        "sum(CASE WHEN ih THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS sec FROM h), " +
        "g AS (SELECT doc_id, sec, max(CASE WHEN ih THEN lvl END) AS hl, " +
        "max(CASE WHEN ih THEN regexp_replace(line, '^#{1,6} ', '') END) " +
        "AS title, " +
        "coalesce(string_agg(CASE WHEN NOT ih THEN line END, chr(10) " +
        "ORDER BY pos), '') AS body, " +
        "sum(CASE WHEN NOT ih THEN 1 ELSE 0 END)::BIGINT AS n_lines " +
        "FROM s GROUP BY 1, 2) " +
        "SELECT doc_id, sec::BIGINT AS sec, coalesce(hl, 0)::INT AS level, " +
        "title, body, n_lines, length(body)::BIGINT AS n_chars " +
        "FROM g ORDER BY doc_id, sec"),

    // ───── robots.txt gate: per-host Allow/Disallow rules, longest
    // matching path prefix wins (ties prefer Allow) — host 0-6 fixtures
    // with an even-host extra Disallow; rule join shuffles on host,
    // longest-match is a rank-1 window over matched rules only ─────
    Query("q292_robots_filter", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val hostC = concat(lit("site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      val pathC = when(col("doc_id") % 5 === 0,
          concat(lit("/private/"), (col("doc_id") % 9).cast("string")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("/private/ok/"), (col("doc_id") % 9).cast("string")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("/pub/"), (col("doc_id") % 9).cast("string")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("/tmp/x"), (col("doc_id") % 9).cast("string")))
        .otherwise(lit("/"))
      val urls = docs.select(col("doc_id"),
        concat(lit("http://"), hostC, pathC).as("url"))
      val robots = docs.filter(col("doc_id") < 7).select(
        concat(lit("site"), col("doc_id").cast("string"),
          lit(".example.com")).as("rhost"),
        concat(
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /tmp/\nDisallow:\n# comment"),
          when(col("doc_id") % 2 === 0, lit("\nDisallow: /pub"))
            .otherwise(lit(""))).as("rtxt"))
      ops.Url.robotsFilter(urls, robots, "doc_id", "url", "rhost", "rtxt")
        .orderBy("doc_id")
    },
      // q292: Url.robotsFilter mirror — same synthesis, parse, and
      // longest-match (len DESC, allow DESC, prefix) rank.
      oracle = "WITH u AS (SELECT doc_id, 'site' || (doc_id % 7)::VARCHAR || " +
        "'.example.com' AS host, " +
        "CASE doc_id % 5 WHEN 0 THEN '/private/' || (doc_id % 9)::VARCHAR " +
        "WHEN 1 THEN '/private/ok/' || (doc_id % 9)::VARCHAR " +
        "WHEN 2 THEN '/pub/' || (doc_id % 9)::VARCHAR " +
        "WHEN 3 THEN '/tmp/x' || (doc_id % 9)::VARCHAR " +
        "ELSE '/' END AS rawpath FROM documents), " +
        "uu AS (SELECT doc_id, 'http://' || host || rawpath AS url, host, " +
        "regexp_replace(rawpath, '/+$', '') AS path FROM u), " +
        "rb AS (SELECT 'site' || doc_id::VARCHAR || '.example.com' AS host, " +
        "'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || " +
        "'Allow: /private/ok' || chr(10) || 'Disallow: /tmp/' || chr(10) || " +
        "'Disallow:' || chr(10) || '# comment' || " +
        "(CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Disallow: /pub' " +
        "ELSE '' END) AS txt FROM documents WHERE doc_id < 7), " +
        "rl AS (SELECT host, unnest(string_split(txt, chr(10))) AS line " +
        "FROM rb), " +
        "rules AS (SELECT host, " +
        "CASE WHEN starts_with(line, 'Allow: ') THEN 1 " +
        "WHEN starts_with(line, 'Disallow: ') THEN 0 END AS allow, " +
        "CASE WHEN starts_with(line, 'Allow: ') THEN substr(line, 8) " +
        "ELSE substr(line, 11) END AS prefix FROM rl " +
        "WHERE (starts_with(line, 'Allow: ') OR " +
        "starts_with(line, 'Disallow: '))), " +
        "rules2 AS (SELECT * FROM rules WHERE prefix <> ''), " +
        "m AS (SELECT uu.doc_id, r.allow, r.prefix, row_number() OVER " +
        "(PARTITION BY uu.doc_id ORDER BY length(r.prefix) DESC, " +
        "r.allow DESC, r.prefix) AS rnk " +
        "FROM uu JOIN rules2 r ON r.host = uu.host " +
        "AND starts_with(uu.path, r.prefix)), " +
        "v AS (SELECT doc_id, allow, prefix FROM m WHERE rnk = 1) " +
        "SELECT uu.doc_id, uu.url, uu.host, uu.path, " +
        "coalesce(v.allow = 1, TRUE)::INT AS allowed, " +
        "v.prefix AS matched_rule FROM uu LEFT JOIN v USING (doc_id) " +
        "ORDER BY doc_id")
  )
}
