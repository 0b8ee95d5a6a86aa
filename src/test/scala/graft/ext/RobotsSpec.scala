package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[graft.ext.Robots]] — the q218 crawl-policy operator. Pins the
  * RFC 9309 decision rules on hand fixtures: longest-match,
  * Allow-wins-ties, specific-agent-group-overrides-star, empty
  * Disallow as allow-all, lenient line parsing.
  */
class RobotsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("parse: groups, case tolerance, comments, junk lines, " +
      "multi-agent groups, empty Disallow") {
    val body =
      """# policy
        |User-agent: A
        |User-agent: B
        |Disallow: /x   # inline comment
        |ALLOW: /x/ok
        |
        |User-Agent: C
        |Disallow:
        |junk line without colon
        |Crawl-delay: 5
        |""".stripMargin
    val rules = Robots.parse("d.test", body)
    assert(rules.count(_.agent == "a") == 2)
    assert(rules.count(_.agent == "b") == 2)
    assert(rules.filter(_.agent == "a").map(r => (r.allow, r.path)).toSet ==
      Set((false, "/x"), (true, "/x/ok")))
    // empty Disallow is recorded as an allow-all marker
    assert(rules.filter(_.agent == "c") ==
      Seq(Robots.Rule("d.test", "c", allow = true, path = "")))
  }

  test("evaluate: longest match, allow wins ties, specific agent " +
      "beats *, unmatched and unknown domains allowed") {
    import spark.implicits._
    val rules = (
      Robots.parse("a.test",
        "User-agent: *\nDisallow: /p\nAllow: /p/ok\n") ++
      Robots.parse("b.test",
        "User-agent: *\nDisallow: /\n\nUser-agent: bot\nAllow: /q\nDisallow: /\n") ++
      Robots.parse("c.test",
        "User-agent: *\nDisallow: /t\nAllow: /t\n")).toDF()
    val urls = Seq(
      ("u1", "a.test", "/p/blocked"),
      ("u2", "a.test", "/p/ok/page"),
      ("u3", "a.test", "/free"),
      ("u4", "b.test", "/q/fine"),
      ("u5", "b.test", "/r/blocked"),
      ("u6", "c.test", "/t/tie"),
      ("u7", "nowhere.test", "/anything")).toDF("url", "domain", "path")
    val got = Robots.evaluate(urls, rules, "Bot").collect()
      .map(r => r.getString(0) ->
        (r.getBoolean(3), Option(r.get(4)).map(_.toString))).toMap
    assert(got("u1") == (false, Some("/p")))       // longest = /p
    assert(got("u2") == (true, Some("/p/ok")))     // longer allow wins
    assert(got("u3") == (true, None))              // no rule matched
    assert(got("u4") == (true, Some("/q")))        // bot group, not *
    assert(got("u5") == (false, Some("/")))        // bot group disallow
    assert(got("u6") == (true, Some("/t")))        // tie -> allow
    assert(got("u7") == (true, None))              // no robots at all
  }

  test("carry columns: one output row per RESPONSE (not per URL), " +
      "attributes threaded through the aggregation, verdicts intact") {
    import spark.implicits._
    val rules = Robots.parse("d.test",
      "User-agent: *\nDisallow: /x\n").toDF()
    val urls = Seq(
      // same url fetched twice — distinct media_ids must both survive
      ("http://d.test/x/1", "d.test", "/x/1", 10L, 100L),
      ("http://d.test/x/1", "d.test", "/x/1", 11L, 101L),
      ("http://d.test/ok", "d.test", "/ok", 12L, 102L))
      .toDF("url", "domain", "path", "media_id", "body_len")
    val out = Robots.evaluate(urls, rules, "bot",
        carry = Seq("media_id", "body_len"))
      .select("media_id", "body_len", "allowed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(out == Set((10L, 100L, false), (11L, 101L, false),
      (12L, 102L, true)))
    // plan shape: no forced broadcast — AQE picks the join method
    val plain = Robots.evaluate(urls, rules, "bot")
      .queryExecution.analyzed.toString
    assert(!plain.contains("ResolvedHint"),
      "default plan must be unhinted")
  }

  test("empty Disallow in the selected group allows everything even " +
      "when * blocks it") {
    import spark.implicits._
    val rules = Robots.parse("e.test",
      "User-agent: *\nDisallow: /\n\nUser-agent: bot\nDisallow:\n").toDF()
    val urls = Seq(("u", "e.test", "/deep/path")).toDF("url", "domain", "path")
    val r = Robots.evaluate(urls, rules, "bot").collect()(0)
    assert(r.getBoolean(3) && r.getString(4) == "")
  }

  test("sitemapDirectives: group-independent, case-insensitive key, " +
      "comments stripped, duplicates dropped, order kept") {
    val body =
      "User-agent: a\nDisallow: /x\n" +
        "Sitemap: https://d.test/one.xml\n" +
        "User-agent: b\n" +
        "sitemap: https://d.test/two.xml # trailing comment\n" +
        "SITEMAP: https://d.test/one.xml\n" + // dup, dropped
        "Sitemap:\n" + // empty value, skipped
        "# Sitemap: https://d.test/commented.xml\n" +
        "NotSitemap: https://d.test/no.xml\n"
    assert(Robots.sitemapDirectives("d.test", body) == Seq(
      ("d.test", "https://d.test/one.xml"),
      ("d.test", "https://d.test/two.xml")))
    // rule parsing is untouched by sitemap lines
    val rules = Robots.parse("d.test", body)
    assert(rules.map(r => (r.agent, r.path)) == Seq(("a", "/x")))
    assert(Robots.sitemapDirectives("d.test", "").isEmpty)
  }

  test("crawlDelayFor: group-scoped, exact group decides alone, " +
      "case-insensitive, last parseable value wins, junk skipped") {
    // * group only → its delay applies to any agent
    assert(Robots.crawlDelayFor("d.test",
      "User-agent: *\nDisallow: /x\nCrawl-delay: 2\n", "GraftBot")
      == Some(2))
    // exact group with a delay wins over *
    assert(Robots.crawlDelayFor("d.test",
      "User-agent: *\nCrawl-delay: 9\nDisallow: /\n\n" +
        "User-agent: graftbot\nAllow: /a\nCRAWL-DELAY: 5\n", "GraftBot")
      == Some(5))
    // exact group WITHOUT a delay: no declared delay, * is ignored
    // (RFC 9309 §2.2.1 — a UA obeys only its matching group)
    assert(Robots.crawlDelayFor("d.test",
      "User-agent: *\nDisallow: /\nCrawl-delay: 7\n\n" +
        "User-Agent: graftbot\nDisallow:\n", "GraftBot").isEmpty)
    // last parseable value wins within a group; junk is skipped
    assert(Robots.crawlDelayFor("d.test",
      "User-agent: *\nDisallow: /x\nCrawl-delay: 2\n" +
        "Crawl-delay: fast\nCrawl-delay: 4\nCrawl-delay: -1\n",
      "GraftBot") == Some(4))
    // a delay line with NO group binds to nothing
    assert(Robots.crawlDelayFor("d.test",
      "Crawl-delay: 3\nUser-agent: *\nDisallow: /x\n", "GraftBot")
      .isEmpty)
    assert(Robots.crawlDelayFor("d.test", "", "GraftBot").isEmpty)
  }
}
