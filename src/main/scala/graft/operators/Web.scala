package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Web-corpus curation operators — URL decomposition and per-domain
  * caps. A large-scale training-data pipeline stratifies and bounds its
  * web crawl by registered domain (CCNet's per-domain dedup/stats and
  * Gopher's domain filters are the public precedents); the reference has
  * no web layer (CSV files only), so this is an engine extension in the
  * LLM-pipeline family.
  *
  * Everything here is deterministic and engine-replayable: one anchored
  * regex whose semantics agree between Java regex (Spark codegen) and
  * RE2 (the oracle), plus exact string/array ops — no UDFs.
  */
object Web {

  /** Host capture: scheme, optional userinfo, then host up to the first
    * port/path/query/fragment delimiter. Simple enough that Java regex
    * and RE2 agree on every input.
    */
  private val HostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^/?#:]+)"
  private val SchemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
  private val PathRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?"

  /** Bounded stand-in for the public-suffix list (offline container —
    * the full PSL is a fetched artifact): the common two-level suffixes
    * under which the registered domain takes THREE labels.
    */
  val TwoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "com.sg", "com.tr",
    "co.in", "co.kr", "co.za")

  /** Adds `url_scheme`, `url_host` (lowercased, port/userinfo stripped)
    * and `url_domain` (registered domain: last two host labels, or three
    * under a [[TwoLevelSuffixes]] suffix). Malformed URLs yield nulls —
    * they are counted, not dropped, by [[perDomainCap]].
    */
  def withUrlParts(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val host = lower(nullif(regexp_extract(u, HostRe, 1), lit("")))
    df.withColumn("url_scheme", lower(nullif(regexp_extract(u, SchemeRe, 1), lit(""))))
      .withColumn("url_host", host)
      .withColumn("url_path", nullif(regexp_extract(u, PathRe, 1), lit("")))
      .withColumn("url_domain", registeredDomain(col("url_host")))
  }

  /** Registered domain of a host column (pure array ops — replayable). */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    // last-two suffix, e.g. "co.uk"
    val lastTwo = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val takeThree = n >= 3 && lastTwo.isInCollection(TwoLevelSuffixes)
    when(host.isNull, lit(null))
      .when(n <= 2, host)
      .when(takeThree, concat_ws(".",
        element_at(labels, -3), element_at(labels, -2), element_at(labels, -1)))
      .otherwise(lastTwo)
  }

  /** Per-domain document cap (CCNet-style crawl balancing): keep at most
    * `maxPerDomain` rows per `url_domain`, selected by salted-hash order
    * — a pure function of (salt, id), so the kept SET is deterministic
    * across engines, partitionings, and re-runs. Null domains
    * (malformed URLs) are kept as their own group only if
    * `keepMalformed`; dropped otherwise.
    *
    * One hash-partitioned window per domain; at 100 TB the partition key
    * is the domain — heavy-tailed, but row_number needs no full sort
    * buffer beyond each partition, and a hot mega-domain can ride the
    * AQE skew split since rank order is hash order, not arrival order.
    */
  def perDomainCap(df: DataFrame, maxPerDomain: Int, idCol: String,
                   salt: String, keepMalformed: Boolean = false): DataFrame = {
    val base = if (keepMalformed) df else df.filter(col("url_domain").isNotNull)
    val ord = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy(col("url_domain")).orderBy(ord, col(idCol))
    base.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxPerDomain)
      .drop("__rk")
  }

  /** Query parameters that never change page content — the standard
    * tracking families a crawl dedup strips before comparing URLs. */
  val TrackingParamRe = "^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="

  private val QueryRe = "^[^?#]*\\?([^#]*)"

  /** Canonical URL — the crawl-frontier/dedup key. Normalizations, each
    * one the industry-standard safe subset (never changes the fetched
    * resource): lowercase scheme+host, strip userinfo and default port,
    * strip a leading `www.`, drop the fragment, drop a trailing path
    * slash, remove [[TrackingParamRe]] query params and SORT the rest
    * (param order is transport noise). Malformed URLs (no scheme://host)
    * canonicalize to null. Pure regex/array expressions — codegen'd in
    * Spark, replayable in the oracle.
    */
  def canonicalUrl(u: Column): Column = {
    val scheme = lower(nullif(regexp_extract(u, SchemeRe, 1), lit("")))
    val host0 = lower(nullif(regexp_extract(u, HostRe, 1), lit("")))
    val host = regexp_replace(host0, "^www\\.", "")
    val path0 = regexp_extract(u, PathRe, 1)
    val path = when(path0 === "" || path0 === "/", lit(""))
      .otherwise(regexp_replace(path0, "/$", ""))
    val rawQ = regexp_extract(u, QueryRe, 1)
    val kept = array_sort(filter(split(rawQ, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)))
    val q = array_join(kept, "&")
    when(scheme.isNull || host.isNull, lit(null))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(q === "", lit("")).otherwise(concat(lit("?"), q))))
  }

  /** URL-level dedup report: canonicalize, group, keep the min-id row as
    * representative. One shuffle on the canonical key; ids-only payload.
    * Output: (url_canon, n_variants, keep_id, id_sum).
    */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(canonicalUrl(col(s"`$urlCol`")).as("url_canon"),
        col(s"`$idCol`").cast("long").as("__id"))
      .filter(col("url_canon").isNotNull)
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("__id")).as("keep_id"),
        sum(col("__id")).as("id_sum"))
}
