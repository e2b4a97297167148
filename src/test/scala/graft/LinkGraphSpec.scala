package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.operators.LinkGraph

class LinkGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def edges(url: String, html: String) =
    LinkGraph.linkEdges(Seq((1L, url, html)).toDF("doc_id", "url", "html"),
      "doc_id", "url", "html").orderBy("pos").collect()

  // ---- resolution rules -------------------------------------------------

  test("absolute http(s) hrefs pass through; other schemes drop") {
    val r = edges("https://a.example.com/x/p",
      "<a href=\"https://b.example.com/q\">b</a>" +
        "<a href=\"mailto:x@y.z\">mail</a>" +
        "<a href=\"javascript:void(0)\">js</a>" +
        "<a href=\"ftp://f.example.com/file\">ftp</a>")
    assert(r.map(_.getAs[String]("url")).toSeq ==
      Seq("https://b.example.com/q"))
    assert(r.head.getAs[String]("dst_host") == "b.example.com")
    assert(r.head.getAs[Int]("internal") == 0)
  }

  test("root-relative joins scheme://host; dir-relative joins the path dir") {
    val r = edges("http://a.example.com/en/sub/page",
      "<a href=\"/top\">t</a><a href=\"near.html\">n</a>")
    assert(r.map(_.getAs[String]("url")).toSeq == Seq(
      "http://a.example.com/top",
      "http://a.example.com/en/sub/near.html"))
    assert(r.forall(_.getAs[Int]("internal") == 1))
  }

  test("protocol-relative inherits the page scheme — both schemes") {
    val h = "<a href=\"//cdn.example.net/lib\">c</a>"
    assert(edges("http://a.example.com/p", h).head.getAs[String]("url") ==
      "http://cdn.example.net/lib")
    assert(edges("https://a.example.com/p", h).head.getAs[String]("url") ==
      "https://cdn.example.net/lib")
  }

  test("fragment-only and empty hrefs drop; fragments strip from resolved") {
    val r = edges("https://a.example.com/d/p",
      "<a href=\"#top\">top</a><a href=\"\">e</a>" +
        "<a href=\"/f/2#sec\">f</a><a href=\"https://b.example.com/q#x\">b</a>")
    assert(r.map(_.getAs[String]("url")).toSeq == Seq(
      "https://a.example.com/f/2", "https://b.example.com/q"))
    // pos counts ALL extracted anchors, dropped ones included
    assert(r.map(_.getAs[Int]("pos")).toSeq == Seq(3, 4))
  }

  test("page with an empty path resolves dir-relative against '/'") {
    val r = edges("https://a.example.com", "<a href=\"n.html\">n</a>")
    assert(r.head.getAs[String]("url") == "https://a.example.com/n.html")
  }

  test("anchor text is tag-stripped and squeezed; href-less <a> never emits") {
    val r = edges("https://a.example.com/p",
      "<a href=\"/x\">one  <b>two</b>\n three</a><a name=\"y\">plain</a>")
    assert(r.length == 1)
    assert(r.head.getAs[String]("anchor_text") == "one two three")
  }

  // ---- anchor stats -----------------------------------------------------

  test("anchorStats: modal anchor text, count tie broken lexicographically") {
    val pages = Seq(
      (1L, "https://s.example.com/p",
        "<a href=\"https://t.example.com/a\">beta</a>" +
          "<a href=\"https://t.example.com/b\">alpha</a>"),
      (2L, "https://s.example.com/q",
        "<a href=\"https://t.example.com/c\">beta</a>" +
          "<a href=\"https://t.example.com/d\">alpha</a>" +
          "<a href=\"/in\">self</a>")).toDF("doc_id", "url", "html")
    val st = LinkGraph.anchorStats(
      LinkGraph.linkEdges(pages, "doc_id", "url", "html"))
      .orderBy("dst_host").collect()
    assert(st.map(_.getAs[String]("dst_host")).toSeq ==
      Seq("s.example.com", "t.example.com"))
    val t = st(1)
    assert(t.getAs[Long]("n_links") == 4)
    assert(t.getAs[Long]("n_docs") == 2)
    assert(t.getAs[Long]("n_internal") == 0)
    assert(t.getAs[Long]("n_texts") == 2)
    // alpha and beta both appear twice -> lexicographic winner
    assert(t.getAs[String]("top_text") == "alpha")
    assert(st(0).getAs[Long]("n_internal") == 1)
  }

  // ---- integer PageRank -------------------------------------------------

  test("pageRankHosts: hand-computed 3-node integer recurrence, 1 iteration") {
    // a->b, a->c, b->c: N=3, S=10^12, pr0 = S/3 = 333333333333
    // teleport = (15*(S div 3)) div 100 = 49999999999 (floor)
    // it1: b gets a's share pr0 div 2 = 166666666666
    //      c gets a's 166666666666 + b's pr0 div 1 = 499999999999
    // pr1(a) = teleport + 0
    // pr1(b) = teleport + (85*166666666666) div 100 = 49999999999 + 141666666666
    // pr1(c) = teleport + (85*499999999999) div 100 = 49999999999 + 424999999999
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src_host", "dst_host")
    val pr = LinkGraph.pageRankHosts(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("a") == 49999999999L)
    assert(pr("b") == 49999999999L + (85L * 166666666666L) / 100L)
    assert(pr("c") == 49999999999L + (85L * 499999999999L) / 100L)
  }

  test("pageRankHosts: self-loops excluded, dangling targets are nodes, " +
    "total mass bounded by SCALE") {
    val e = Seq(("a", "a"), ("a", "b"), ("b", "dangling"))
      .toDF("src_host", "dst_host")
    val pr = LinkGraph.pageRankHosts(e, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set("a", "b", "dangling"))
    // the self-loop a->a contributes nothing: a ends at pure teleport
    val teleport = (15L * (1000000000000L / 3)) / 100
    assert(pr("a") == teleport)
    assert(pr.values.sum <= 1000000000000L)
    assert(pr("dangling") > teleport) // receives b's mass
  }

  test("pageRankHosts: authority orders a hub-and-spoke graph correctly") {
    // everyone links to hub; hub links to one spoke
    val e = Seq(("s1", "hub"), ("s2", "hub"), ("s3", "hub"), ("hub", "s1"))
      .toDF("src_host", "dst_host")
    val rows = LinkGraph.pageRankHosts(e)
      .orderBy(org.apache.spark.sql.functions.col("pr").desc).collect()
    assert(rows.head.getString(0) == "hub")
    // s1 (receives hub's mass) beats s2/s3 (teleport only)
    assert(rows(1).getString(0) == "s1")
  }

  // ---- HITS -------------------------------------------------------------

  test("hitsHosts: hand-computed hub/authority split on a 2-hub-1-authority " +
    "graph; fixed point reached") {
    // a->c, b->c: c is the sole authority, a and b equal hubs
    val e = Seq(("a", "c"), ("b", "c")).toDF("src_host", "dst_host")
    val r = LinkGraph.hitsHosts(e, iters = 3)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // iter1: aRaw(c)=2e6 -> a(c)=1e6 (max-normalized), a(a)=a(b)=0;
    //        hRaw(a)=hRaw(b)=a(c)=1e6 -> h=1e6 each, h(c)=0.
    // iters 2,3 are the fixed point.
    assert(r("c") == (1000000L, 0L))
    assert(r("a") == (0L, 1000000L))
    assert(r("b") == (0L, 1000000L))
  }

  test("hitsHosts: a hub pointing at BOTH authorities out-ranks a " +
    "single-authority hub; the single-hub authority trails") {
    // h2 -> {x, y}; h1 -> x — x has two hubs, y one; h2 spans both
    val e = Seq(("h2", "x"), ("h2", "y"), ("h1", "x"))
      .toDF("src_host", "dst_host")
    val r = LinkGraph.hitsHosts(e)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("h2")._2 == 1000000L) // the double hub is the max hub
    assert(r("h1")._2 > 0 && r("h1")._2 < r("h2")._2)
    assert(r("x")._1 == 1000000L) // two hubs -> x is the max authority
    assert(r("y")._1 < r("x")._1 && r("y")._1 > 0)
    // exact integer trace, iter3: y = (1e6 * 1e6) div 1625000
    assert(r("y")._1 == 615384L)
  }

  // ---- crawl frontier ---------------------------------------------------

  test("crawlFrontier: crawled URLs excluded, priority sums linking " +
    "hosts' integer pagerank, ties break on URL") {
    // two pages on hosts a and b; both link to the SAME uncrawled t1,
    // a alone links t2, and a links b's page (crawled -> excluded)
    val pages = Seq(
      (1L, "https://a.example.com/p",
        "<a href=\"https://t.example.com/1\">t1</a>" +
          "<a href=\"https://t.example.com/2\">t2</a>" +
          "<a href=\"https://b.example.com/q\">b</a>"),
      (2L, "https://b.example.com/q",
        "<a href=\"https://t.example.com/1\">t1</a>" +
          "<a href=\"https://a.example.com/p\">a</a>")).toDF("doc_id", "url", "html")
    val f = LinkGraph.crawlFrontier(pages, "doc_id", "url", "html").collect()
    val urls = f.map(_.getAs[String]("url")).toSeq
    // the crawled pages never appear as frontier candidates
    assert(!urls.contains("https://a.example.com/p") &&
      !urls.contains("https://b.example.com/q"))
    assert(urls.toSet == Set("https://t.example.com/1", "https://t.example.com/2"))
    val byUrl = f.map(r => r.getAs[String]("url") -> r).toMap
    val t1 = byUrl("https://t.example.com/1")
    val t2 = byUrl("https://t.example.com/2")
    // t1 is linked by both hosts -> strictly more priority and refs
    assert(t1.getAs[Long]("priority") > t2.getAs[Long]("priority"))
    assert(t1.getAs[Long]("n_refs") == 2 && t2.getAs[Long]("n_refs") == 1)
    // frontier order: priority desc
    assert(f.head.getAs[String]("url") == "https://t.example.com/1")
    // priority is the exact integer sum of the linking hosts' pr
    val pr = LinkGraph.pageRankHosts(
      LinkGraph.linkEdges(pages, "doc_id", "url", "html"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t1.getAs[Long]("priority") ==
      pr("a.example.com") + pr("b.example.com"))
    assert(t2.getAs[Long]("priority") == pr("a.example.com"))
  }

  test("triangleCounts: K4 has 4 triangles with every host in 3; " +
    "direction and duplicate links do not double-count") {
    // complete graph on {a,b,c,d} with mixed directions + a repeated
    // edge + a pendant edge (e touches no triangle)
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("c", "b"), ("b", "d"), ("d", "c"), ("d", "e"))
      .toDF("src_host", "dst_host")
    val t = LinkGraph.triangleCounts(e)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4: C(4,3) = 4 triangles; each vertex sits in C(3,2) = 3
    assert(t == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // e participates in none -> absent from the output entirely
    assert(!t.contains("e"))
  }

  test("orientByDegree: every edge points INTO the hub (outdeg 0), and " +
    "triangle counts are orientation-invariant on the hub plant") {
    import org.apache.spark.sql.functions.{col, greatest, least}
    // mid-lex hub 'mm' flanked by low-lex and high-lex leaves: under
    // LEXICOGRAPHIC orientation the hub sits mid-path (aa* -> mm ->
    // zz*, a quadratic wedge key); degree ordering must flip every
    // hub edge inward. One closing edge plants the single triangle.
    val e = ((0 until 5).map(i => (s"aa$i", "mm")) ++
      (0 until 5).map(i => ("mm", s"zz$i")) ++ Seq(("aa0", "aa1")))
      .toDF("src_host", "dst_host")
    val und = e.select(least(col("src_host"), col("dst_host")).as("a"),
        greatest(col("src_host"), col("dst_host")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val or = LinkGraph.orientByDegree(und).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(or.length == 11) // orientation is a bijection on edges
    assert(or.filter(p => p._1 == "mm" || p._2 == "mm")
      .forall(_._2 == "mm"), s"hub edge oriented outward: ${or.toSeq}")
    // wedges (x -> mm, mm -> y) through the hub: indeg(mm)·outdeg(mm)
    // candidates of the wedge join. Lexicographic orientation (a -> b,
    // a < b) gives n² of them; degree orientation none.
    def hubWedges(es: Seq[(String, String)]): Int =
      es.count(_._2 == "mm") * es.count(_._1 == "mm")
    val lex = und.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(hubWedges(lex) >= 5 * 5, s"lexicographic hub wedges: ${hubWedges(lex)}")
    assert(hubWedges(or.toSeq) == 0)
    // wedge candidates through the hub vanish: no oriented edge LEAVES
    // mm, so the join key e2.x = e1.y never matches y = mm pairs
    val t = LinkGraph.triangleCounts(e)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map("aa0" -> 1L, "aa1" -> 1L, "mm" -> 1L))
  }

  test("fetchSchedule: one fetch per host per wave; priority decides " +
    "within-host order") {
    val frontier = Seq(
      ("https://a.example.com/1", 1L, 900L),
      ("https://a.example.com/2", 1L, 500L),
      ("https://b.example.com/1", 1L, 700L))
      .toDF("url", "n_refs", "priority")
    val s = LinkGraph.fetchSchedule(frontier)
      .orderBy("wave", "host").collect()
    // wave 1: one URL per host; a's higher-priority page goes first
    val w1 = s.filter(_.getAs[Int]("wave") == 1)
    assert(w1.map(_.getAs[String]("host")).toSeq.sorted ==
      Seq("a.example.com", "b.example.com"))
    assert(w1.find(_.getAs[String]("host") == "a.example.com").get
      .getAs[String]("url") == "https://a.example.com/1")
    val w2 = s.filter(_.getAs[Int]("wave") == 2)
    assert(w2.map(_.getAs[String]("url")).toSeq ==
      Seq("https://a.example.com/2"))
    // politeness invariant: no wave repeats a host
    assert(s.groupBy(r => (r.getAs[Int]("wave"), r.getAs[String]("host")))
      .forall(_._2.length == 1))
  }

  // ---- planted generator ------------------------------------------------

  test("linkPageWrapped plant: expected link classes per doc, both schemes") {
    val docs = Seq((4L, "src1", "en"), (5L, "src2", "fr"))
      .toDF("doc_id", "source", "lang")
    val ed = LinkGraph.linkEdges(
      LinkGraph.linkPageWrapped(docs, "doc_id", "source", "lang"),
      "doc_id", "url", "html")
    val d4 = ed.filter($"doc_id" === 4).orderBy("pos").collect()
    // id=4: resolvable links (peer, /d, n-, /f, cdn, self) minus
    // dropped (#top, mailto) -> peer,next,note,frag,cdn,self = 6
    assert(d4.length == 6)
    // id=4: 4%5!=0 -> https page; protocol-relative cdn1 inherits it
    assert(d4.map(_.getAs[String]("url")).exists(_.startsWith("https://cdn1.example.net")))
    // id%4==0 -> self link, internal
    assert(d4.count(_.getAs[Int]("internal") == 1) >= 3) // /d, n-, /f, self
    val d5 = ed.filter($"doc_id" === 5).orderBy("pos").collect()
    assert(d5.length == 5) // no self link on id=5
    // id=5: 5%5==0 -> http page; cdn2 (5%3) inherits http
    assert(d5.map(_.getAs[String]("url")).exists(_.startsWith("http://cdn2.example.net")))
    // dir-relative: http://src2.example.com/fr/a-5 -> /fr/n-0.html
    assert(d5.map(_.getAs[String]("url"))
      .contains("http://src2.example.com/fr/n-0.html"))
  }

  test("PageRank and HITS driver fast paths == the distributed loops, " +
       "bit for bit on the real host graph (r16)") {
    val edges = operators.LinkGraph.linkEdges(
      operators.LinkGraph.linkPageWrapped(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        "doc_id", "source", "lang"),
      "doc_id", "url", "html").localCheckpoint()
    def prKey(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val prFast = operators.LinkGraph.pageRankHosts(edges)
      .collect().map(prKey).sortBy(_._1).toSeq
    val prDist = operators.LinkGraph.pageRankHosts(edges, driverEdgeCap = 0)
      .collect().map(prKey).sortBy(_._1).toSeq
    assert(prFast == prDist, "driver PageRank diverged from the loop")
    def hKey(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2))
    val hFast = operators.LinkGraph.hitsHosts(edges)
      .collect().map(hKey).sortBy(_._1).toSeq
    val hDist = operators.LinkGraph.hitsHosts(edges, driverEdgeCap = 0)
      .collect().map(hKey).sortBy(_._1).toSeq
    assert(hFast == hDist, "driver HITS diverged from the loop")
  }
}
