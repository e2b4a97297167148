package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hyperlink extraction and host-graph analytics — the crawl-side
  * companion to markup extraction: a web corpus's link structure feeds
  * frontier scheduling, domain-quality priors (PageRank-style
  * authority), and anchor-text training signal. Reference scope
  * anchor: the reference pipeline has no link stage (its input is
  * transactional CSV, `train.py:21`); this family is part of the
  * LLM-data-pipeline surface the north-star brief adds on top.
  *
  * All patterns are in the RE2-safe subset (no lookaround, no
  * backreferences) so the identical strings run under Java regex and
  * DuckDB RE2 — the `Extract.Html` precedent. Extraction + URL
  * resolution are pure per-row scan-side expressions: zero shuffle,
  * same plan at any scale; the graph aggregations shuffle only on the
  * (small) host keys.
  */
object LinkGraph {

  /** `<a ...>` with a double-quoted href: group 1 = href value,
    * group 2 = inner markup (tag-stripped into anchor text). The
    * contract is double-quoted hrefs only — the quoted form is what
    * serializers emit; organic unquoted/single-quoted attributes are
    * a parser-level concern out of scope for the regex subset. */
  val AnchorHref: String = "(?is)<a\\b[^>]*href=\"([^\"]*)\"[^>]*>(.*?)</a>"

  /** An absolute URL with any scheme (RFC 3986 scheme grammar). */
  val HasScheme: String = "^[a-z][a-z0-9+.-]*:"

  /** Tag-stripped, whitespace-squeezed inner text of an anchor.
    * Entity decode is deliberately NOT applied here — that is the
    * block-extraction layer's job (`Extract.blockText`); anchor text
    * is reported as link-level metadata in raw visible form. */
  private def anchorText(t: Column): Column =
    trim(regexp_replace(regexp_replace(t, Extract.Html.Tag, " "),
      "\\s+", " "))

  /** Per-page link table: every double-quoted `<a href>` extracted,
    * resolved against the page URL (RFC 3986 §5 reduced to the
    * fragment-free core), and typed. Emitted columns per link:
    * `doc_id, pos` (1-based position among the page's anchors),
    * `href` (raw attribute), `url` (resolved, fragment stripped),
    * `src_host, dst_host`, `internal` (1 iff same host),
    * `anchor_text`. Links that resolve to nothing crawlable are
    * dropped: fragment-only hrefs, empty hrefs, and non-http(s)
    * schemes (`mailto:`, `javascript:`, ...).
    *
    * Resolution rules (each planted both ways by `linkPageWrapped`):
    * absolute http(s) pass through; other schemes drop;
    * protocol-relative `//h/p` inherits the page scheme;
    * root-relative `/p` joins scheme://host; relative `p` joins the
    * page path's directory; `#f`-only drops; a fragment on any
    * resolved URL is stripped.
    *
    * Scale shape: one regexp pass per row + a posexplode — no
    * shuffle, no UDF; a 100 TB crawl extracts its link table at scan
    * speed and the downstream host-graph aggregations see only
    * (host, host) pairs. */
  def linkEdges(pages: DataFrame, idCol: String, urlCol: String,
                htmlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = regexp_extract(u, Extract.Url.Scheme, 1)
    val auth = regexp_extract(u, Extract.Url.Auth, 1)
    val srcHost = Extract.hostOf(u)
    // Directory of the page path: everything up to the last '/', or
    // '/' when the path is empty ("https://h" → base dir "/").
    val dir0 = regexp_replace(regexp_extract(u, Extract.Url.Path, 1),
      "[^/]*$", "")
    val baseDir = when(dir0 === "", lit("/")).otherwise(dir0)
    val zipped = arrays_zip(
      regexp_extract_all(col(htmlCol), lit(AnchorHref), lit(1)),
      regexp_extract_all(col(htmlCol), lit(AnchorHref), lit(2)))
    val exploded = pages.select(col(idCol).as("doc_id"),
      scheme.as("__sch"), auth.as("__auth"), srcHost.as("src_host"),
      baseDir.as("__dir"), posexplode(zipped).as(Seq("__p", "__l")))
    val href = col("__l").getField("0")
    val resolved =
      when(href.rlike("^https?://"), href)
        .when(href.rlike(HasScheme), lit(null).cast("string"))
        .when(href.startsWith("//"), concat(col("__sch"), lit(":"), href))
        .when(href.startsWith("/"),
          concat(col("__sch"), lit("://"), col("__auth"), href))
        .when(href.startsWith("#") || href === "", lit(null).cast("string"))
        .otherwise(concat(col("__sch"), lit("://"), col("__auth"),
          col("__dir"), href))
    val url = regexp_replace(resolved, "#.*$", "")
    val dstHost = Extract.hostOf(url)
    exploded
      .select(col("doc_id"), (col("__p") + 1).cast("int").as("pos"),
        href.as("href"), url.as("url"), col("src_host"),
        dstHost.as("dst_host"),
        anchorText(col("__l").getField("1")).as("anchor_text"))
      .filter(col("url").isNotNull)
      .withColumn("internal",
        (col("dst_host") === col("src_host")).cast("int"))
      .select("doc_id", "pos", "href", "url", "src_host", "dst_host",
        "internal", "anchor_text")
  }

  /** Anchor-text profile per destination host — the classic
    * link-graph training signal (anchor text describes the TARGET).
    * `top_text` is the modal anchor text with deterministic
    * tie-break (highest count, then lexicographically first).
    * Shuffles only on host / (host, text) keys — tiny vs the corpus. */
  def anchorStats(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perText = edges.groupBy("dst_host", "anchor_text")
      .agg(count(lit(1)).as("__c"))
    val top = perText
      .withColumn("__rn", row_number().over(Window.partitionBy("dst_host")
        .orderBy(col("__c").desc, col("anchor_text"))))
      .filter(col("__rn") === 1)
      .select(col("dst_host"), col("anchor_text").as("top_text"))
    edges.groupBy("dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("internal")).cast("bigint").as("n_internal"),
        countDistinct(col("anchor_text")).as("n_texts"))
      .join(top, Seq("dst_host"))
      .select("dst_host", "n_links", "n_docs", "n_internal", "n_texts",
        "top_text")
  }

  /** Fixed-point integer PageRank over the distinct host graph —
    * authority scoring with NO floating point anywhere, so the result
    * is bit-portable across engines and independent of aggregation
    * order (the `Extract` link-density integer-arithmetic precedent,
    * scaled up: sums of longs commute; sums of doubles do not).
    *
    * Contract: nodes = hosts appearing as src or dst of the distinct
    * inter-host edge set (self-loops excluded); `pr` is in units of
    * 1e-12 (SCALE = 10^12). pr0 = SCALE div N; each iteration
    * pr'(v) = (15 * (SCALE div N)) div 100
    *        + (85 * Σ_{(u,v)∈E} (pr(u) div outdeg(u))) div 100,
    * i.e. damping 0.85 in exact integer arithmetic; mass lost to
    * integer floors and to dangling hosts (dst-only nodes) is NOT
    * redistributed — the standard "lost mass" simplification, stated
    * so the oracle can unroll the identical recurrence. 85 * Σshare
    * ≤ 85 * SCALE ≪ 2^63: no overflow at any graph size.
    *
    * Scale shape: the edge set is distinct (host, host) pairs — at
    * 100 TB of pages this is million-node scale, far smaller than the
    * corpus. Each iteration is one broadcast-or-shuffle hash join of
    * pr onto edges plus one partial+final sum keyed by dst; pr and
    * outdeg stay partitioned by host across iterations so AQE reuses
    * the exchange. No driver-side state at any point. */
  def pageRankHosts(edges: DataFrame, iters: Int = 5,
                    scale: Long = 1000000000000L,
                    driverEdgeCap: Int = 100000): DataFrame = {
    // Materialize the distinct host-pair set ONCE: every iteration
    // references it, and without the lineage cut each join would
    // re-derive it from the corpus scan — `iters` full scans instead
    // of one. The checkpointed frame is host-graph-sized (million-node
    // scale at 100 TB), tiny next to the corpus. (GraphX/Pregel
    // checkpoint for exactly this reason.)
    val e = edges.select(col("src_host").as("src"), col("dst_host").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(false)
    // r16 — adaptive algorithm choice, the `connectedComponents`
    // driver fast path applied to the fixed-point loops: a distinct
    // host graph under the cap is driver-trivial, and the recurrence
    // is ALL-INTEGER (div arithmetic), so the driver loop is
    // BIT-IDENTICAL to the distributed one by construction — no
    // aggregation-order concern, and the q_pagerank oracle
    // hash-checks it. The distributed loop below (5 iterations × a
    // join + keyed sum, each a fixed scheduler round-trip) remains
    // the past-the-cap path, unchanged.
    val nEdges = e.count()
    if (nEdges <= driverEdgeCap)
      return pageRankDriverSide(edges.sparkSession,
        e.collect().map(r => (r.getString(0), r.getString(1))), iters, scale)
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val n = broadcast(nodes.agg(count(lit(1)).as("__n")))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // Base (teleport) term is identical every iteration: (15*(S div N)) div 100.
    var pr = nodes.crossJoin(n)
      .select(col("host"), expr(s"${scale}L div __n").as("pr"))
    for (_ <- 1 to iters) {
      val inmass = e.join(pr, col("src") === col("host"))
        .join(outdeg, "src")
        .select(col("dst"), expr("pr div __deg").as("__share"))
        .groupBy("dst").agg(sum(col("__share")).as("__m"))
      pr = nodes.join(inmass, col("host") === col("dst"), "left")
        .crossJoin(n)
        .select(col("host"),
          (expr(s"(15 * (${scale}L div __n)) div 100") +
            expr("(85 * coalesce(__m, 0L)) div 100")).as("pr"))
    }
    pr.select(col("host"), col("pr").cast("bigint").as("pr"))
  }

  /** Driver-side integer PageRank for the small-graph fast path —
    * the identical recurrence (base = (15·(S div N)) div 100 every
    * iteration, share = pr div outdeg, damped mass = (85·Σshare)
    * div 100), over exact longs, so values equal the distributed
    * loop's bit for bit. */
  private def pageRankDriverSide(spark: org.apache.spark.sql.SparkSession,
                                 es: Array[(String, String)],
                                 iters: Int, scale: Long): DataFrame = {
    import spark.implicits._
    val hosts = (es.map(_._1) ++ es.map(_._2)).distinct
    val idx = hosts.zipWithIndex.toMap
    val n = hosts.length.toLong
    if (n == 0) return Seq.empty[(String, Long)].toDF("host", "pr")
    val outdeg = new Array[Long](hosts.length)
    es.foreach { case (s, _) => outdeg(idx(s)) += 1 }
    var pr = Array.fill(hosts.length)(scale / n)
    val base = (15L * (scale / n)) / 100L
    var it = 0
    while (it < iters) {
      val mass = new Array[Long](hosts.length)
      es.foreach { case (s, d) =>
        mass(idx(d)) += pr(idx(s)) / outdeg(idx(s))
      }
      pr = Array.tabulate(hosts.length)(i => base + (85L * mass(i)) / 100L)
      it += 1
    }
    hosts.zip(pr).toSeq.toDF("host", "pr")
  }

  /** HITS (Kleinberg hubs & authorities) over the distinct host
    * graph — the mutual-reinforcement companion to PageRank: a good
    * HUB links to good authorities, a good AUTHORITY is linked from
    * good hubs. Like `pageRankHosts`, the recurrence is ALL-INTEGER
    * so results are bit-portable and aggregation-order-independent:
    * scores live in SCALE = 10^6 units, each iteration sums the
    * opposite score over the edge set (exact BIGINT) and
    * max-normalizes back to SCALE via `(raw * SCALE) div max(raw)`.
    * Overflow bound: raw sums ≤ N·SCALE and the normalize multiply
    * needs N·SCALE·SCALE < 2^63 ⇒ safe to ~9×10^6 hosts; past that,
    * raise to decimal(38) on both engines — the recurrence is
    * unchanged. Dangling/unreferenced hosts keep score 0 after one
    * iteration (nothing flows to them), matching the textbook
    * formulation without smoothing.
    *
    * Scale shape: per iteration, one equi-join of scores onto edges
    * + one keyed sum + one broadcast 1-row max attach — the same
    * join/agg pair as PageRank, co-partitioned by host across
    * iterations. */
  def hitsHosts(edges: DataFrame, iters: Int = 3,
                scale: Long = 1000000L,
                checkpoint: Boolean = true,
                driverEdgeCap: Int = 100000): DataFrame = {
    // Edge set materialized once (the pageRankHosts rationale), and
    // each half-step's host-level scores lineage-cut too: HITS's
    // auth references hub AND vice versa, so without the cut the plan
    // tree DOUBLES per iteration — with it, every iteration is one
    // small join/agg pair over materialized host rows.
    // `checkpoint = false` exists for the plan-shape gate ONLY: the
    // cuts hide the iteration joins behind LogicalRDD scans, so the
    // gate must inspect the uncut plan to police anything — it also
    // pins the DISTRIBUTED spelling (the r16 driver fast path below
    // would otherwise collapse the inspected plan to a local scan).
    def cut(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint() else df
    if (checkpoint) {
      // r16: same adaptive driver fast path as pageRankHosts — the
      // all-integer recurrence (Σ opposite score, (raw·SCALE) div
      // max) is aggregation-order-independent, so the driver loop is
      // bit-identical; the q_hits oracle hash-checks it.
      val e0 = edges.select(col("src_host").as("src"), col("dst_host").as("dst"))
        .filter(col("src") =!= col("dst")).distinct().localCheckpoint(false)
      val nEdges = e0.count()
      if (nEdges <= driverEdgeCap)
        return hitsDriverSide(edges.sparkSession,
          e0.collect().map(r => (r.getString(0), r.getString(1))), iters, scale)
    }
    val e = cut(edges.select(col("src_host").as("src"),
        col("dst_host").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
      val mx = broadcast(raw.agg(max(col(scoreCol)).as("__mx")))
      raw.crossJoin(mx)
        .select(col("host"),
          expr(s"($scoreCol * ${scale}L) div __mx").as(scoreCol))
    }
    var auth = nodes.select(col("host"), lit(scale).as("a"))
    var hub = nodes.select(col("host"), lit(scale).as("h"))
    for (_ <- 1 to iters) {
      val aRaw = nodes.join(
          e.join(hub.withColumnRenamed("host", "src"), Seq("src"))
            .groupBy(col("dst").as("host")).agg(sum(col("h")).as("a")),
          Seq("host"), "left")
        .select(col("host"), coalesce(col("a"), lit(0L)).as("a"))
      auth = cut(normalized(aRaw, "a"))
      val hRaw = nodes.join(
          e.join(auth.withColumnRenamed("host", "dst"), Seq("dst"))
            .groupBy(col("src").as("host")).agg(sum(col("a")).as("h")),
          Seq("host"), "left")
        .select(col("host"), coalesce(col("h"), lit(0L)).as("h"))
      hub = cut(normalized(hRaw, "h"))
    }
    auth.join(hub, Seq("host"))
      .select(col("host"), col("a").cast("bigint").as("authority"),
        col("h").cast("bigint").as("hub"))
  }

  /** Driver-side integer HITS for the small-graph fast path — the
    * identical recurrence (sum the opposite score over edges, then
    * max-normalize via `(raw · SCALE) div max`), exact longs, values
    * bit-equal to the distributed loop. */
  private def hitsDriverSide(spark: org.apache.spark.sql.SparkSession,
                             es: Array[(String, String)],
                             iters: Int, scale: Long): DataFrame = {
    import spark.implicits._
    val hosts = (es.map(_._1) ++ es.map(_._2)).distinct
    val idx = hosts.zipWithIndex.toMap
    val n = hosts.length
    if (n == 0)
      return Seq.empty[(String, Long, Long)].toDF("host", "authority", "hub")
    var auth = Array.fill(n)(scale)
    var hub = Array.fill(n)(scale)
    def normalized(raw: Array[Long]): Array[Long] = {
      val mx = raw.max
      raw.map(x => x * scale / mx)
    }
    var it = 0
    while (it < iters) {
      val aRaw = new Array[Long](n)
      es.foreach { case (s, d) => aRaw(idx(d)) += hub(idx(s)) }
      auth = normalized(aRaw)
      val hRaw = new Array[Long](n)
      es.foreach { case (s, d) => hRaw(idx(s)) += auth(idx(d)) }
      hub = normalized(hRaw)
      it += 1
    }
    hosts.indices.map(i => (hosts(i), auth(i), hub(i))).toSeq
      .toDF("host", "authority", "hub")
  }

  /** Crawl-frontier selection — the link stage's operational payoff:
    * which uncrawled URLs should the crawler fetch next? Candidates
    * are every resolved http(s) link whose URL is NOT a page already
    * in the corpus (internal and external alike — an unseen same-host
    * path is as fetchable as a foreign one); each candidate's
    * priority is the SUM of its distinct linking hosts' fixed-point
    * PageRank (authority flows to what authorities link to), an
    * all-integer sum so ranking is deterministic across engines;
    * ties break on the URL. Top `k` by (priority desc, url).
    *
    * Scale shape: membership is a URL-keyed anti-join (both sides
    * corpus-scale → shuffle equi-join, exactly right); the authority
    * join keys the much smaller distinct (url, host) projection
    * against the host-level pr table; top-k is orderBy+limit →
    * TakeOrderedAndProject, never a global sort. */
  def crawlFrontier(pages: DataFrame, idCol: String, urlCol: String,
                    htmlCol: String, k: Int = 100): DataFrame = {
    val edges = linkEdges(pages, idCol, urlCol, htmlCol)
    val pr = pageRankHosts(edges)
    val crawled = pages.select(col(urlCol).as("url")).distinct()
    // cand feeds TWO branches (priority and n_refs): without the
    // lineage cut each branch re-runs the corpus-wide anchor-regex
    // extraction and the URL anti-join from scratch — the
    // pageRankHosts edge-set discipline, applied to the candidate set.
    val cand = edges.select(col("url"), col("doc_id"), col("src_host"))
      .join(crawled, Seq("url"), "left_anti")
      .localCheckpoint()
    val priority = cand.select("url", "src_host").distinct()
      .join(pr, col("src_host") === col("host"))
      .groupBy("url").agg(sum(col("pr")).cast("bigint").as("priority"))
    val nRefs = cand.groupBy("url")
      .agg(countDistinct(col("doc_id")).as("n_refs"))
    priority.join(nRefs, Seq("url"))
      .select("url", "n_refs", "priority")
      .orderBy(col("priority").desc, col("url")).limit(k)
  }

  /** Per-host triangle counts over the UNDIRECTED host graph — the
    * classic clustering/motif signal (a host embedded in many
    * triangles sits in a dense community; link farms and organic
    * clusters separate on it). Exact integer counting via the
    * edge-iterator join under DEGREE ordering (VERDICT r13 #5):
    * each edge is oriented from its (degree, host)-smaller endpoint —
    * a total order, so the oriented graph is acyclic and a triangle
    * u < v < w is enumerated exactly once as (u,v),(v,w),(u,w), no
    * division by 6. Every host in a triangle is credited on all
    * three corners.
    *
    * Why degree and not lexicographic: the wedge join keys on the
    * MIDDLE vertex (e2.x = e1.y), so a host contributes
    * indeg·outdeg candidate pairs. Under lexicographic orientation a
    * hub host splits its edges by name order and a web-scale hub
    * (degree 10^6) yields ~10^12 candidates by itself; under degree
    * ordering every edge points INTO the hub (outdeg 0), and the
    * classic arboricity bound caps total candidates at O(m^1.5)
    * regardless of skew — LinkGraphSpec's `orientByDegree` case
    * counts the collapse on a planted hub. Same plan shape: two
    * self-joins of the oriented list plus the two host-keyed degree
    * joins. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src_host"), col("dst_host")).as("a"),
        greatest(col("src_host"), col("dst_host")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val or = orientByDegree(und).localCheckpoint()
    val tri = or.as("e1")
      .join(or.as("e2"), col("e2.x") === col("e1.y"))
      .join(or.as("e3"),
        col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .select(col("e1.x").as("hx"), col("e1.y").as("hy"), col("e2.y").as("hz"))
    // ONE pass over the enumeration: a 3-way union of projections
    // would re-run the two-join subtree per branch (Spark has no
    // common-subplan elimination) — explode credits all three
    // corners from a single execution.
    tri.select(explode(array(col("hx"), col("hy"), col("hz"))).as("host"))
      .groupBy("host").agg(count(lit(1)).as("n_tri"))
  }

  /** Orient a distinct undirected (a, b) edge list (a < b) from the
    * (degree, host)-smaller endpoint to the larger: output (x, y)
    * with (deg(x), x) < (deg(y), y). Degree is counted over the SAME
    * distinct list, so both engines derive the identical orientation;
    * the host tie-break makes the order total (acyclic by
    * construction). Cost: one explode + host-keyed count, then two
    * host-keyed equi-joins of the degree table onto the edges. */
  def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("a"), col("b"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("d"))
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    und
      .join(deg.select(col("h").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("h").as("b"), col("d").as("__db")), Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("x"),
        when(aFirst, col("b")).otherwise(col("a")).as("y"))
  }

  /** Politeness scheduling over a ranked frontier: wave w contains at
    * most ONE fetch per host (crawlers rate-limit per host, not
    * globally), assigned in priority order — `wave = row_number`
    * within each host by (priority desc, url). The frontier's global
    * ranking decides who goes first WITHIN a host; across hosts every
    * wave fetches in parallel. Row-local after one host-keyed window —
    * scales to any frontier size. */
  def fetchSchedule(frontier: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    frontier.withColumn("host", Extract.hostOf(col("url")))
      .withColumn("wave", row_number().over(Window.partitionBy("host")
        .orderBy(col("priority").desc, col("url"))).cast("int"))
      .select("url", "host", "wave", "priority")
  }

  /** Deterministic page generator for the declared queries (the
    * `Extract.htmlWrapped` plant pattern): every resolution rule of
    * `linkEdges` is exercised BOTH ways from the synthetic documents
    * table, with the SAME concat algebra mirrored in the oracle SQL.
    * Page URL: `{http|https}://{source}.example.com/{lang}/a-{id}`
    * (http on id%5==0 — exercises protocol-relative inheritance both
    * ways). Anchors, in order:
    *  1. absolute cross-host `https://src{(id*7+3)%13}.example.com/t/{id%7}`
    *     (some targets are real page hosts, some dangling — both
    *     classes exist in the host graph);
    *  2. root-relative `/d/{(id+1)%1000}` with inner markup in the
    *     anchor text (tag strip exercised);
    *  3. directory-relative `n-{id%5}.html` (joins `/{lang}/`);
    *  4. root-relative with fragment `/f/{id%6}#sec` (strip);
    *  5. fragment-only `#top` (dropped);
    *  6. `mailto:` (non-web scheme, dropped);
    *  7. protocol-relative `//cdn{id%3}.example.net/lib`;
    *  8. on id%4==0, an absolute SAME-host link (internal=1, a host
    *     self-loop PageRank must exclude);
    *  9. a href-less `<a name=...>` the extractor must never emit. */
  def linkPageWrapped(docs: DataFrame, idCol: String, sourceCol: String,
                      langCol: String): DataFrame = {
    val id = col(idCol)
    val ids = id.cast("string")
    val scheme = when(id % 5 === 0, lit("http")).otherwise(lit("https"))
    val host = concat(col(sourceCol), lit(".example.com"))
    val url = concat(scheme, lit("://"), host, lit("/"), col(langCol),
      lit("/a-"), ids)
    val html = concat(
      lit("<html><body><h1>page "), ids, lit("</h1>"),
      lit("<a href=\"https://src"), ((id * 7 + 3) % 13).cast("string"),
      lit(".example.com/t/"), (id % 7).cast("string"),
      lit("\" class=\"x\">peer "), (id % 7).cast("string"), lit("</a>"),
      lit("<a href=\"/d/"), ((id + 1) % 1000).cast("string"),
      lit("\">next <b>doc</b> here</a>"),
      lit("<a href=\"n-"), (id % 5).cast("string"),
      lit(".html\">note "), (id % 5).cast("string"), lit("</a>"),
      lit("<a href=\"/f/"), (id % 6).cast("string"),
      lit("#sec\">frag "), (id % 6).cast("string"), lit("</a>"),
      lit("<a href=\"#top\">back to top</a>"),
      lit("<a href=\"mailto:team@example.com\">mail us</a>"),
      lit("<a href=\"//cdn"), (id % 3).cast("string"),
      lit(".example.net/lib\">cdn "), (id % 3).cast("string"), lit("</a>"),
      when(id % 4 === 0,
        concat(lit("<a href=\""), scheme, lit("://"), host,
          lit("/self\">self link</a>"))).otherwise(lit("")),
      lit("<a name=\"x\">plain anchor</a>"),
      lit("</body></html>"))
    docs.select(id.as(idCol), url.as("url"), html.as("html"))
  }
}
