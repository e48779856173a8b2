package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** P3 — URL validation and repair (reference `catalog/dags/common/
  * urls.py:20-136`): scheme replacement/addition, protocol-relative and
  * slash handling, TLD-structure validation, IPv4 passthrough, and the
  * https-upgrade decision.
  *
  * The reference decides https-vs-http by probing each domain over the
  * network (`_test_domain_for_tls_support`, lru_cached) and validates
  * suffixes with tldextract's public-suffix list. Neither a per-domain
  * probe nor a 9k-entry PSL lookup belongs in a 100 TB scan, so both are
  * frozen here: a broadcast-able TLS-support set (what the lru_cache
  * converges to for the providers we ingest) and a frozen PSL subset.
  * Everything is plain codegen'd Column expressions — no UDFs.
  */
object Urls {

  /** Frozen image of the reference's TLS-probe cache: domains known to
    * answer https. Anything absent falls back to http, exactly like a
    * failed `requests_get(https://domain)` probe.
    */
  val tlsSupportedDomains: Seq[String] = Seq(
    "creativecommons.org", "commons.wikimedia.org", "wordpress.org",
    "www.flickr.com", "flickr.com", "live.staticflickr.com",
    "www.inaturalist.org", "inaturalist-open-data.s3.amazonaws.com",
    "example.com", "abcd.com", "8.8.8.8")

  /** Frozen public-suffix subset (tldextract's PSL, reduced to the
    * suffixes that occur in our sources). A suffix missing here makes
    * the URL invalid — same outcome as tldextract returning an empty
    * suffix for an unknown TLD.
    */
  val knownTldSuffixes: Seq[String] = Seq(
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "ai", "app", "dev", "cloud", "museum", "photos", "media",
    "art", "xyz", "de", "fr", "jp", "au", "es", "it", "nl", "se",
    "no", "ca", "us", "uk", "co.uk", "org.uk", "ac.uk", "com.au",
    "co.jp", "or.jp", "ne.jp")

  private val tldAlternation =
    knownTldSuffixes.map(_.replace(".", "\\.")).mkString("|")

  /** Host shaped like registered-domain + known suffix (+ optional port). */
  val hostPattern: String =
    s"^([a-z0-9-]+\\.)+($tldAlternation)(:[0-9]+)?$$"

  /** Bare IPv4 (+ optional port) — `urls.py:51-53` accepts these. */
  val ipv4Pattern: String = "^[0-9]{1,3}(\\.[0-9]{1,3}){3}(:[0-9]+)?$"

  /** Strip an http/https scheme prefix if present (`urls.py:95-100` —
    * the reference's scheme pattern also swallows the slashes, so a
    * malformed `https:/abcd` loses its lone slash too).
    */
  def stripScheme(url: Column): Column =
    regexp_replace(trim(url), "^https*:/*", "")

  /** `urls.add_url_scheme:87-106` — replace or add the scheme;
    * optionally strip leading/trailing slashes of the remainder (which
    * is what folds protocol-relative `//host/...` URLs into shape).
    */
  def addUrlScheme(url: Column, scheme: Column,
      stripSlash: Boolean = true): Column = {
    val noScheme = stripScheme(url)
    val body =
      if (stripSlash) regexp_replace(noScheme, "^/+|/+$", "")
      else noScheme
    concat(scheme, lit("://"), body)
  }

  def addUrlScheme(url: Column, scheme: String): Column =
    addUrlScheme(url, lit(scheme))

  /** The fully-qualified domain the reference keys its TLS probe on
    * (tldextract fqdn: host without scheme, slashes, port, path).
    */
  def fqdn(url: Column): Column =
    lower(regexp_replace(
      regexp_extract(regexp_replace(stripScheme(url), "^/+", ""),
        "^([^/?#]+)", 1),
      "^[^@]*@|:[0-9]+$", ""))

  /** `urls._add_best_scheme:109-123` against the frozen TLS set. */
  def bestScheme(url: Column): Column =
    when(fqdn(url).isin(tlsSupportedDomains: _*), "https")
      .otherwise("http")

  /** `urls.validate_url_string:20-59` — repair the scheme, then require
    * a registered-domain + known-suffix host (or bare IPv4); invalid
    * and irreparable URLs become null (callers drop or quarantine).
    */
  def validateUrlString(url: Column, stripSlash: Boolean = true): Column = {
    val upgraded = addUrlScheme(url, bestScheme(url), stripSlash)
    // userinfo is dropped for VALIDATION only (urlparse keeps it in the
    // netloc, tldextract ignores it) — the repaired URL keeps it
    val host = lower(regexp_replace(
      regexp_extract(upgraded, "^[a-z]+://([^/?#]+)", 1), "^[^@]*@", ""))
    when(url.isNull || trim(url) === "", lit(null).cast("string"))
      .when(host.rlike(hostPattern) || host.rlike(ipv4Pattern), upgraded)
      .otherwise(lit(null).cast("string"))
  }
}
