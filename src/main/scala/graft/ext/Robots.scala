package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt crawl-policy evaluation (RFC 9309) — the compliance
  * step between q216's archive ingest and everything downstream: a
  * responsible corpus pipeline drops documents whose URL the site's
  * robots policy disallows for its crawler. Parsing follows the RFC's
  * group model: consecutive `User-agent:` lines open a group, the
  * group's `Allow:`/`Disallow:` rules apply to every agent it names,
  * the most specific agent match wins (exact product token beats
  * `*`), and per-URL the LONGEST matching rule path wins with Allow
  * breaking length ties (the rule Google documents and RFC 9309
  * standardizes). Empty `Disallow:` means allow-all. Restricted
  * profile: literal path prefixes only (no `*`/`$` wildcards) — the
  * overwhelming majority of real rules, and what keeps the decision
  * exactly replayable in the oracle's SQL.
  *
  * Scale shape: policies are per-DOMAIN (far fewer rows than the
  * corpus has URLs), parsed once into a rule table; the per-URL
  * decision is one equi-join on `domain` (the prefix test is a join
  * residual) + one aggregation over the matched rules. The join is
  * deliberately UNHINTED: at audit scale AQE broadcasts
  * the rule table on its own, and at web-crawl scale (~10⁸ domains ×
  * rules — tens of GB, far past broadcast range) the same plan
  * degrades gracefully to a shuffled join on `domain` instead of
  * OOMing the driver.
  */
object Robots {

  final case class Rule(domain: String, agent: String, allow: Boolean,
                        path: String)

  /** Parse one robots.txt body into rules. Tolerant of comments,
    * blank lines, mixed case, and unknown directives (skipped);
    * malformed lines (no colon) are skipped — robots.txt consumers
    * are lenient by long convention (fail-open per line, with the
    * overall default being ALLOW, so a mangled file never blocks a
    * crawl it should permit — the RFC's stance).
    */
  def parse(domain: String, body: String): Seq[Rule] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var agents = List.empty[String]
    var inRules = false
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val k = line.substring(0, colon).trim.toLowerCase
          val v = line.substring(colon + 1).trim
          k match {
            case "user-agent" =>
              if (inRules) { agents = Nil; inRules = false }
              agents = v.toLowerCase :: agents
            case "allow" | "disallow" if agents.nonEmpty =>
              inRules = true
              if (v.nonEmpty || k == "disallow")
                // empty Disallow = allow-all marker; keep as an Allow
                // of "" so the group is recorded but never blocks
                agents.foreach { a =>
                  out += Rule(domain, a,
                    allow = k == "allow" || v.isEmpty,
                    path = v)
                }
            case _ => // crawl-delay, sitemap, unknown: skipped
          }
        }
      }
    }
    out.toSeq
  }

  /** `Sitemap:` directives of a robots.txt (RFC 9309 §2.3 / the
    * sitemaps.org discovery channel) — GROUP-INDEPENDENT by spec, so
    * this is a separate pass from [[parse]]'s agent-group walk: every
    * `Sitemap: <absolute-url>` line, case-insensitive key, comments
    * stripped, order preserved, duplicates dropped. The crawl-arc
    * discovery step: robots → declared sitemap roots → [[Sitemap
    * .resolveTree]] over the fetched corpus.
    */
  def sitemapDirectives(domain: String, body: String)
      : Seq[(String, String)] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0 &&
        line.substring(0, colon).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(colon + 1).trim
        if (v.nonEmpty) seen += v
      }
    }
    seen.toSeq.map(u => (domain, u))
  }

  /** The `Crawl-delay` (seconds) applicable to `agent` on this
    * domain, or None when no group declares one. GROUP-SCOPED like
    * Allow/Disallow (the de-facto extension Bing/Yandex honor —
    * deliberately skipped by [[sitemapDirectives]], which handles the
    * group-INDEPENDENT lines): a delay line binds to the user-agent
    * group it appears in, and group SELECTION mirrors [[evaluate]]:
    * if the domain declares a group for the exact agent token, that
    * group alone decides (an exact group WITHOUT a delay means "no
    * declared delay", even if `*` has one — RFC 9309 §2.2.1, a UA
    * obeys only its matching group); otherwise the `*` group's delay
    * applies. Within the deciding group the LAST parseable value wins
    * (the lenient-consumer convention [[parse]] follows). Non-numeric
    * values are skipped — fail-open, like every robots.txt consumer;
    * fractional values are out of profile (real crawlers floor them
    * anyway). Callers supply a default for domains declaring nothing.
    */
  def crawlDelayFor(domain: String, body: String, agent: String)
      : Option[Int] = {
    val a = agent.toLowerCase
    var agents = List.empty[String]
    var inRules = false
    var exactSeen = false
    var exact: Option[Int] = None
    var star: Option[Int] = None
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val k = line.substring(0, colon).trim.toLowerCase
          val v = line.substring(colon + 1).trim
          k match {
            case "user-agent" =>
              if (inRules) { agents = Nil; inRules = false }
              agents = v.toLowerCase :: agents
            case "allow" | "disallow" if agents.nonEmpty =>
              inRules = true
              if (agents.contains(a)) exactSeen = true
            case "crawl-delay" if agents.nonEmpty =>
              inRules = true
              if (agents.contains(a)) exactSeen = true
              if (v.nonEmpty && v.length <= 9 && v.forall(_.isDigit)) {
                val d = v.toInt
                if (agents.contains(a)) exact = Some(d)
                if (agents.contains("*")) star = Some(d)
              }
            case _ => // sitemap, unknown: skipped
          }
        }
      }
    }
    if (exactSeen) exact else star
  }

  /** Evaluate URLs against a rule table for `agent`: per URL, pick the
    * applicable agent group (exact token if the domain has one, else
    * `*`), then the longest matching rule path, Allow winning length
    * ties; no matching rule (or no robots at all) = allowed. Pure
    * relational: one equi-join on `domain` (prefix match as residual),
    * one per-URL argmax.
    *
    * Expects `urls(url, domain, path)`; returns url, domain, allowed,
    * matched rule path + type (null when no rule matched). `carry`
    * names extra `urls` columns — functionally dependent on `url`
    * (e.g. a media id, a body length) — threaded through the per-URL
    * aggregation so callers don't need a corpus-sized re-join to get
    * them back. Both joins are unhinted; AQE picks the join method
    * (see the object doc).
    */
  def evaluate(urls: DataFrame, rules: DataFrame, agent: String,
               carry: Seq[String] = Nil): DataFrame = {
    val a = lower(lit(agent))
    // does the domain define a group for this agent?
    val hasExact = rules.filter(lower(col("agent")) === a)
      .select(col("domain").as("he_domain")).distinct()
    val scoped = rules.join(hasExact,
        col("domain") === col("he_domain"), "left")
      .filter(
        when(col("he_domain").isNotNull, lower(col("agent")) === a)
          .otherwise(col("agent") === "*"))
      .select(col("domain").as("r_domain"), col("allow"),
        col("path").as("r_path"))
    urls.join(scoped, col("domain") === col("r_domain") &&
        (col("r_path") === "" ||
          col("path").startsWith(col("r_path"))), "left")
      .groupBy(col("url") +: col("domain") +: col("path") +:
        carry.map(col): _*)
      .agg(max(when(col("r_path").isNotNull,
        struct(length(col("r_path")).as("l"),
          col("allow").cast("int").as("a"),
          col("r_path").as("p")))).as("best"))
      .select(col("url") +: col("domain") +: col("path") +:
        carry.map(col) :+
        coalesce(col("best.a") === 1, lit(true)).as("allowed") :+
        col("best.p").as("matched_path") :+
        col("best.l").as("matched_len"): _*)
  }
}
