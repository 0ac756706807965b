package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Link-graph family: href resolution arms, anchor extraction shape, and
  * the directed-weighted q6 PageRank's fixed-point invariants. */
class LinkGraphSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("resolveLink: all four RFC 3986 arms against a canonical base") {
    import spark.implicits._
    val base = "https://h1.com/docs/page?a=1"
    val cases = Seq(
      // absolute: untouched (even a different scheme)
      ("http://other.net/x", "http://other.net/x"),
      // protocol-relative: base scheme
      ("//cdn.h2.com/lib.js", "https://cdn.h2.com/lib.js"),
      // root-relative: base authority
      ("/img/a.png", "https://h1.com/img/a.png"),
      // relative: authority + parent of the base path (RFC 3986 §5.3 merge)
      ("sub/page2", "https://h1.com/docs/sub/page2"))
    val out = cases.map(_._1).toDF("href")
      .select(TextOps.resolveLink(lit(base), col("href")).as("r"))
      .as[String].collect().toSeq
    assert(out === cases.map(_._2))
  }

  test("resolveLink: non-path href forms — scheme-only, fragment, query") {
    import spark.implicits._
    val base = "https://h1.com/docs/page?a=1"
    val cases = Seq(
      // any scheme: absolute — non-hierarchical URIs pass through so the
      // link graph drops them (empty authority) instead of fabricating a
      // fake self-edge (review r16)
      ("mailto:a@b.c", "mailto:a@b.c"),
      ("javascript:void(0)", "javascript:void(0)"),
      ("tel:+1-555-0100", "tel:+1-555-0100"),
      // fragment-only: same-document reference
      ("#top", "https://h1.com/docs/page?a=1#top"),
      // query-only: base path, new query
      ("?b=2", "https://h1.com/docs/page?b=2"))
    val out = cases.map(_._1).toDF("href")
      .select(TextOps.resolveLink(lit(base), col("href")).as("r"))
      .as[String].collect().toSeq
    assert(out === cases.map(_._2))
    // and composed: a mailto target's host is empty -> NULL domain
    assert(Seq("mailto:a@b.c").toDF("href")
      .select(TextOps.urlHost(TextOps.resolveLink(lit(base), col("href"))).as("h"))
      .as[String].head() === "")
  }

  test("extractLinks: nested markup inside the anchor is kept, tags stripped") {
    import spark.implicits._
    val pages = Seq(
      (1L, """<a href="/x"><img src="t.png"></a> mid <a href="/y"><b>bold</b> plain</a>"""))
      .toDF("doc_id", "page")
    val out = TextOps.extractLinks(pages, "page")
      .select("link_no", "href", "anchor")
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(out === Seq((0L, "/x", ""), (1L, "/y", "bold plain")))
  }

  test("resolveLink: authority-only base resolves a relative href at root") {
    import spark.implicits._
    val out = Seq("p/x").toDF("href")
      .select(TextOps.resolveLink(lit("https://h1.com"), col("href")).as("r"))
      .as[String].head()
    // base path is empty -> parent is empty -> authority + "/" + href
    assert(out === "https://h1.com/p/x")
  }

  test("extractLinks: document order, extra attributes, zero-anchor pages") {
    import spark.implicits._
    val pages = Seq(
      (1L, """<p>x</p><a href="/a">first</a> text <a href="https://h.com/b" class="nav" id="l2">second one</a>"""),
      (2L, "<p>no anchors at all</p>")).toDF("doc_id", "page")
    val out = TextOps.extractLinks(pages, "page")
      .select("doc_id", "link_no", "href", "anchor")
      .as[(Long, Long, String, String)].collect().toSeq.sorted
    assert(out === Seq(
      (1L, 0L, "/a", "first"),
      (1L, 1L, "https://h.com/b", "second one")))
  }

  test("extractLinks: href at any attribute position; <abbr…href> never matches") {
    import spark.implicits._
    val pages = Seq(
      (1L, """<a class="nav" id="l1" href="/x">leading attrs</a>"""),
      (2L, """<a data-h="href=decoy" href="/real">attr-value decoy</a>"""),
      (3L, """<abbr title="a" href="/not-a-link">abbr</abbr><a href="/ok">ok</a>"""),
      (4L, """<a data-href="/decoy" href="/real4">attr-name decoy</a>"""))
      .toDF("doc_id", "page")
    val out = TextOps.extractLinks(pages, "page")
      .select("doc_id", "href", "anchor")
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(out === Seq(
      (1L, "/x", "leading attrs"),
      // 'href=' inside another attribute's VALUE lacks the opening quote
      // the pattern requires, so the real attribute wins
      (2L, "/real", "attr-value decoy"),
      (3L, "/ok", "ok"),
      // an attribute NAME merely ending in 'href' (data-href) lacks the
      // whitespace the pattern requires before 'href' (ADVICE r17), so
      // the real attribute wins here too
      (4L, "/real4", "attr-name decoy")))
  }

  test("extractLinks is a zero-shuffle projection") {
    import spark.implicits._
    val pages = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("<a href=\"/p/"), col("id"), lit("\">t</a>")).as("page"))
    val plan = TextOps.extractLinks(pages, "page").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extraction must not shuffle:\n$plan")
  }

  test("directed PageRank: rank flows along direction, splits by weight") {
    import spark.implicits._
    // a -> b (w=3), a -> c (w=1): b must outrank c; b,c are dangling
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val out = GraphOps.weightedPageRankDirected(edges, "src", "dst", "w",
        iterations = 4)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = 3L
    val base = (1000000L - 850000L) / n // 50000
    // a receives nothing: exactly the base term every round
    assert(out("a") === ((4L, 0L, base)))
    val (_, _, rb) = out("b")
    val (_, _, rc) = out("c")
    assert(rb > rc, s"heavier edge must carry more rank: b=$rb c=$rc")
    // proportional split: contrib(b) ~= 3 * contrib(c) (floor-div slack <= 3)
    assert(math.abs((rb - base) - 3 * (rc - base)) <= 3)
  }

  test("directed PageRank: total mass bounded by 1e6 (dangling mass leaks)") {
    import spark.implicits._
    // cycle x->y->z->x plus a dangling sink z->s
    val edges = Seq(("x", "y", 1L), ("y", "z", 1L), ("z", "x", 1L),
      ("z", "s", 2L)).toDF("src", "dst", "w")
    val ranks = GraphOps.weightedPageRankDirected(edges, "src", "dst", "w",
      iterations = 6).select("pr_q6").collect().map(_.getLong(0))
    assert(ranks.forall(_ > 0))
    // floor division and the dangling sink only ever REMOVE mass
    assert(ranks.sum <= 1000000L)
  }

  test("directed PageRank rejects weights that could overflow the q6 longs") {
    import spark.implicits._
    val edges = Seq(("a", "b", 2000000000L)).toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      GraphOps.weightedPageRankDirected(edges, "src", "dst", "w")
    }
    assert(e.getMessage.contains("overflow"))
  }

  test("link-graph edges exclude self-domain and IP-literal endpoints") {
    val (links, edges, _) = graft.queries.CrawlQueries.linkGraphStages(spark, "/root/testdata/sf0.001")
    // every doc plants a root-relative self link -> links has same-host rows
    val selfHost = links.where(
      col("dst_host") === TextOps.urlHost(col("base"))).count()
    assert(selfHost > 0, "plant must include self-host links")
    val e = edges.collect()
    assert(e.nonEmpty)
    e.foreach { r =>
      assert(r.getString(0) != null && r.getString(1) != null)
      assert(r.getString(0) !== r.getString(1))
      assert(!r.getString(0).startsWith("[") && !r.getString(1).startsWith("["))
    }
  }
}
