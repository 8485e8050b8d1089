package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL canonicalization and domain-level curation — the web-corpus
  * ingest ops a CommonCrawl-style pipeline runs before any text-level
  * work: normalize each page's URL to a canonical form (so exact-URL
  * dedup actually fires across `HTTP://WWW.Site.com/a/` vs
  * `http://site.com/a?utm_source=x`), reduce hosts to their REGISTERED
  * domain (the unit crawl quotas and reputation are keyed by), and cap
  * documents per domain (the anti-SEO-farm / domain-diversity step —
  * without it a handful of template mills dominate the token budget).
  *
  * North-star extension beside [[Dedup]]/[[TextAnalysis]] (the reference,
  * `timesheet_transform.py`, has no web surface; these ops feed its
  * normalize-then-key discipline, timesheet_transform.py:59-63, applied
  * to URLs instead of author names).
  *
  * Scale posture: canonicalization and domain extraction are pure
  * per-row projections — no shuffle, no state, bounded work per row
  * (one regex family + one bounded array sort over query params).
  * [[domainCap]] is ONE shuffle keyed by registered domain; its
  * rank-filter is rewritten to [[graft.plans.TopKPerKeyExec]] by
  * [[graft.plans.RewriteRankFilterToTopK]], so a whale domain costs a
  * bounded heap, not a full per-domain sort. Everything bottoms out in
  * md5 ([[Hashing.hash60]]) so the DuckDB oracle reproduces selections
  * bit-for-bit.
  */
object Url {

  /** Multi-label public suffixes (public-suffix-list fast path, pinned):
    * when a host's last TWO labels form one of these, the registered
    * domain takes three labels (`news.bbc.co.uk` → `bbc.co.uk`);
    * otherwise two (`www.example.com` → `example.com`). A pinned literal
    * set keeps the op deterministic and oracle-able; the full PSL is a
    * drop-in replacement for production. */
  val multiSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.nz", "co.in", "co.kr", "com.br",
    "com.mx", "com.ar", "com.tr", "com.cn", "com.tw", "com.hk",
    "com.sg", "co.za")

  /** Query parameters that carry tracking state, not content identity —
    * stripped during canonicalization (utm_* plus the big ad-click ids).
    * Single source of truth lives in the codegen'd expression; the
    * oracle SQL is generated from the same Seq. */
  val trackingParams: Seq[String] =
    graft.expressions.CanonQuery.trackingParams

  /** One-pass URL decomposition ([[graft.expressions.UrlParts]]): every
    * accessor below is a getField off this struct, so a projection using
    * several of them parses each row ONCE (codegen common-subexpression
    * elimination) instead of re-running a regex chain per accessor — the
    * expanded per-accessor regex formulation blew the JVM method-size
    * limit and disabled whole-stage codegen for the q279 projection.
    * Null struct ⇒ not an absolute http(s) URL (callers filter — the
    * row-skip discipline of [[Cleansing.parseDateLenient]]). */
  private def parts(url: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.UrlParts(
        org.apache.spark.sql.graftbridge.Bridge.expression(url)))

  /** Scheme of an absolute http(s) URL, lowercased; null otherwise. */
  def scheme(url: Column): Column = parts(url).getField("sch")

  /** Host of the URL: the authority with userinfo and port stripped,
    * lowercased, trailing dot removed. Null on a non-http(s) value. */
  def host(url: Column): Column = parts(url).getField("host")

  /** Explicit port if present and NON-default for the scheme (`:80` on
    * http and `:443` on https are identity), else null. */
  def nonDefaultPort(url: Column): Column = parts(url).getField("port")

  /** Path with trailing slashes stripped (`/a/b/` ≡ `/a/b`, and the
    * bare root `/` ≡ empty). Empty string, never null, for valid URLs. */
  def path(url: Column): Column = parts(url).getField("path")

  /** Query string canonicalized: split on `&`, drop empties and
    * [[trackingParams]], sort by the full `k=v` string, re-join. Empty
    * string when nothing survives. One codegen'd
    * [[graft.expressions.CanonQuery]] call — the declarative
    * filter/array_sort HOF formulation is CodegenFallback and would
    * knock the whole canonicalization projection out of whole-stage
    * codegen (bit-identical semantics, see the expression's scaladoc). */
  def canonicalQuery(url: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.CanonQuery(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          parts(url).getField("query"))))

  /** The canonical URL: lowercased scheme and host, `www.` prefix and
    * userinfo dropped, default port dropped, trailing-slash path,
    * tracking-stripped sorted query, fragment dropped. Null when the
    * input is not an absolute http(s) URL. Two raw URLs that differ only
    * in these presentational degrees of freedom collide — which is the
    * point: this column IS the exact-URL dedup key. */
  def canonicalize(url: Column): Column = {
    val p = parts(url)
    val h = regexp_replace(p.getField("host"), "^www\\.", "")
    val port = p.getField("port")
    val q = canonicalQuery(url)
    when(p.getField("host").isNotNull,
      concat(
        p.getField("sch"), lit("://"), h,
        when(port.isNotNull, concat(lit(":"), port.cast("string")))
          .otherwise(lit("")),
        p.getField("path"),
        when(q =!= "", concat(lit("?"), q)).otherwise(lit(""))))
  }

  /** Registered domain of a host (or of a URL column via [[host]]):
    * last two labels, or last three when the final two form a pinned
    * [[multiSuffixes]] entry. Hosts with one label (localhost, intranet
    * names) pass through unchanged. */
  def registeredDomain(hostCol: Column): Column = {
    val labels = split(hostCol, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val last3 = concat_ws(".",
      element_at(labels, -3), element_at(labels, -2), element_at(labels, -1))
    when(hostCol.isNull, lit(null))
      .when(n <= 1, hostCol)
      .when(last2.isin(multiSuffixes: _*) && n >= 3, last3)
      .otherwise(last2)
  }

  /** Corpus concentration over registered domains — the diversity
    * headline a web-corpus datasheet reports: HHI (Herfindahl–Hirschman,
    * Σ share²), top-domain share, and the Gini coefficient of the
    * per-domain page counts (ascending-rank formula
    * `(2·Σ rank·xᵢ − (n+1)·Σx) / (n·Σx)`). One row.
    *
    * Scale posture: one hash-aggregate keyed by domain, then rank + sums
    * over the ≤|domains|-row aggregate (the bounded-aggregate
    * single-reducer-window posture of vocabCoverage). All sums are
    * integer until the final divisions, so the oracle is parity-exact. */
  def domainConcentration(df: DataFrame, urlCol: String): DataFrame = {
    val canon = canonicalize(col(urlCol))
    val counts = df.filter(canon.isNotNull)
      .select(registeredDomain(host(col(urlCol))).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("pages"))
    counts
      .withColumn("_rank", row_number().over(
        Window.orderBy(col("pages").asc, col("domain").asc)))
      .agg(
        count(lit(1)).as("n_domains"),
        sum("pages").as("n_pages"),
        max("pages").as("top_pages"),
        sum(col("pages") * col("pages")).as("_sumsq"),
        sum(col("_rank") * col("pages")).as("_ranksum"))
      .select(
        col("n_domains"), col("n_pages"),
        round(col("_sumsq").cast("double") /
          (col("n_pages") * col("n_pages")), 6).as("hhi"),
        round(col("top_pages").cast("double") / col("n_pages"), 6)
          .as("top_share"),
        round((lit(2L) * col("_ranksum") -
          (col("n_domains") + 1L) * col("n_pages")).cast("double") /
          (col("n_domains") * col("n_pages")), 6).as("gini"))
  }

  /** robots.txt gate: given per-host robots bodies and candidate URLs,
    * keep/drop each URL by the LONGEST-MATCHING `Allow:`/`Disallow:`
    * path prefix (ties prefer Allow — the Google REP tiebreak); a URL
    * whose host has no matching rule (or no robots row) is allowed.
    * `Disallow:` with an empty path is a no-op per the REP and is
    * dropped at parse. User-agent groups are deliberately out of scope —
    * the fixture files carry one global group (documented simplification;
    * a UA-aware variant adds one more prefix-filter column).
    *
    * Scale posture: robots bodies explode to (host, allow, prefix) rules
    * — a few rows per host; the rule join shuffles on host (both sides
    * hash-partitioned; a broadcast is only safe when the robots corpus
    * is known-small, so it is not forced here). Longest-match is a
    * rank-1 window per (url, host) over the MATCHED rules only. */
  def robotsFilter(
      urls: DataFrame, // (idCol, urlCol)
      robots: DataFrame, // (hostCol, robotsCol)
      idCol: String,
      urlCol: String,
      hostCol: String,
      robotsCol: String): DataFrame = {
    val rules = robots.select(col(hostCol).as("_host"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("_ln", "_line")))
      .withColumn("_allow",
        when(col("_line").startsWith("Allow: "), lit(1))
          .when(col("_line").startsWith("Disallow: "), lit(0)))
      .filter(col("_allow").isNotNull)
      .withColumn("_prefix",
        when(col("_allow") === 1, expr("substring(_line, 8)"))
          .otherwise(expr("substring(_line, 11)")))
      .filter(col("_prefix") =!= "")
      .select("_host", "_allow", "_prefix")
    val u = urls.select(col(idCol), col(urlCol),
      host(col(urlCol)).as("_host"),
      path(col(urlCol)).as("_path"))
    val matched = u.join(rules, Seq("_host"))
      .filter(col("_path").startsWith(col("_prefix")))
      .withColumn("_rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
          .orderBy(length(col("_prefix")).desc, col("_allow").desc,
            col("_prefix"))))
      .filter(col("_rnk") === 1)
      .select(col(idCol), col("_allow").as("_verdict"),
        col("_prefix").as("matched_rule"))
    u.join(matched, Seq(idCol), "left_outer")
      .select(col(idCol), col(urlCol), col("_host").as("host"),
        col("_path").as("path"),
        coalesce(col("_verdict") === 1, lit(true)).cast("int").as("allowed"),
        col("matched_rule"))
  }

  /** Domain-diversity cap: keep at most `cap` documents per registered
    * domain, selected by deterministic hash-rank on the id (so two runs
    * — or two SHARDS ranked independently after a domain shuffle — agree).
    * The `row_number ≤ cap` filter is rewritten to the bounded-heap
    * [[graft.plans.TopKPerKeyExec]] by the injected optimizer rule: a
    * 50M-page template mill costs O(cap) memory, not a 50M-row sort.
    * Output: the kept rows with their domain and rank. */
  def domainCap(df: DataFrame, idCol: String, urlCol: String, cap: Int)
      : DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val withDom = df
      .withColumn("canon", canonicalize(col(urlCol)))
      .filter(col("canon").isNotNull)
      .withColumn("domain", registeredDomain(host(col(urlCol))))
      .withColumn("_hk", Hashing.hash60(concat_ws("|", col("domain"),
        col(idCol).cast("string"))))
    withDom
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("_hk"), col(idCol))))
      .filter(col("rnk") <= cap)
      .drop("_hk")
  }
}
