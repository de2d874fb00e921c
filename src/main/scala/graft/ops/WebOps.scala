package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** URL-level operators for web-corpus pipelines over the `pages` table
  * (Common-Crawl-style `(url, warc_ts, html, text, lang)` rows): URL
  * normalization for URL-keyed dedup, and per-host corpus statistics —
  * the first grouping any crawl-curation pipeline runs.
  *
  * Everything is built from codegen'd string expressions (no UDFs), and
  * every regex is written to behave identically under Java regex (Spark)
  * and RE2 (DuckDB): anchored or single-match patterns only, no
  * backreferences, no lookaround.
  */
object WebOps {

  /** Canonical URL for dedup keys: the input is lowercased FIRST (so the
    * scheme/`www.` strips see canonical case), then scheme, fragment,
    * query string, `www.` prefix, and a trailing slash are stripped (the
    * synthetic corpus is already lowercase; the spec pins the semantics
    * on mixed-case fixtures). Each step is one `regexp_replace` whose
    * pattern can match at most once, so Spark's replace-all and DuckDB's
    * replace-first agree.
    */
  def normalizeUrl(u: Column): Column = {
    val noScheme = regexp_replace(lower(u), "^[a-z][a-z0-9+.-]*://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val noQuery = regexp_replace(noFrag, "\\?.*$", "")
    val noWww = regexp_replace(noQuery, "^www\\.", "")
    regexp_replace(noWww, "/$", "")
  }

  /** Registrable host of a normalized URL (everything before the first
    * `/`, minus any `:port`).
    */
  def hostOf(normUrl: Column): Column =
    regexp_replace(regexp_replace(normUrl, "/.*$", ""), ":[0-9]+$", "")

  /** Per-row normalization view: url → (norm_url, host). */
  def urlNormalize(pages: DataFrame): DataFrame =
    pages.select(col("doc_id"), col("url"),
      normalizeUrl(col("url")).as("norm_url"),
      hostOf(normalizeUrl(col("url"))).as("host"))

  /** Keep the LATEST fetch per canonical URL — the recrawl-collapse step
    * every crawl-curation pipeline runs before content dedup. Argmax is
    * expressed as max-of-struct ordered by (warc_sec, then every column
    * in table order), giving ONE hash aggregation with map-side combine:
    * at 10^12 rows the combine collapses refetches before the shuffle,
    * which beats a window sort (shuffle + per-group sort) and is
    * deterministic because the ordering key is the full row (total
    * order; exact duplicate rows are interchangeable).
    */
  def urlDedupLatest(pages: DataFrame): DataFrame = {
    val cols = pages.columns.toSeq
    val ordered = struct(col("warc_sec").as("ord_sec") +: cols.map(col): _*)
    pages
      .withColumn("norm_url", normalizeUrl(col("url")))
      .groupBy("norm_url")
      .agg(max(ordered).as("w"))
      .select(col("norm_url") +: cols.map(c => col(s"w.$c").as(c)): _*)
  }

  /** Host blocklist filter — the UT1/domain-exclusion step: drop every
    * page whose registrable host appears in `blocked(host)`. Broadcast
    * LEFT ANTI join: real blocklists are 10^5-10^6 hosts (megabytes), so
    * the corpus side never shuffles and the filter runs map-side at any
    * scale.
    */
  def filterHosts(pages: DataFrame, blocked: DataFrame): DataFrame =
    pages.withColumn("host", hostOf(normalizeUrl(col("url"))))
      .join(broadcast(blocked.select("host")), Seq("host"), "left_anti")

  /** Host-balanced corpus cap: keep at most `n` pages per host, chosen
    * uniformly-at-random but DETERMINISTICALLY by ordering each host's
    * pages on (md5(url), url) and keeping the first `n` — the standard
    * guard against a handful of mega-hosts dominating a training corpus.
    *
    * Exact top-n per key is a per-host sort, and a hot host (10^8 pages
    * of one domain at crawl scale) would sink a single reducer — so the
    * engine pre-prunes with a SALTED first stage: top-n within each of
    * `salts` hash-subgroups of the host, then top-n of the ≤ salts·n
    * survivors. Both stages are windows, but stage 1's groups are
    * hot-host/salts sized and stage 2's input is tiny. The salt choice
    * cannot change the result (any element of the true global top-n is
    * in the top-n of its own subgroup), so the oracle mirrors only the
    * one-window semantics.
    */
  def capPerHost(pages: DataFrame, n: Int, salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withHost = pages.select(col("doc_id"), col("url"),
      hostOf(normalizeUrl(col("url"))).as("host"),
      md5(encode(col("url"), "UTF-8")).as("pick"))
    val pre = Window.partitionBy(col("host"), pmod(xxhash64(col("url")), lit(salts)))
      .orderBy(col("pick"), col("url"))
    val fin = Window.partitionBy(col("host")).orderBy(col("pick"), col("url"))
    withHost
      .withColumn("prn", row_number().over(pre)).filter(col("prn") <= n)
      .withColumn("pick_rank", row_number().over(fin)).filter(col("pick_rank") <= n)
      .select("host", "doc_id", "url", "pick_rank")
  }

  /** Minimal synthetic HTML page for the extraction path: doctype, lang
    * attribute, head (title + meta), one body paragraph. Tag-only markup
    * after the text so extraction can be proven byte-identical.
    */
  def htmlWrap(url: Column, text: Column, lang: Column): Column =
    concat(lit("<!DOCTYPE html><html lang=\""), lang,
      lit("\"><head><title>"), url,
      lit("</title><meta charset=\"utf-8\"/></head><body><p id=\"main\">"),
      text, lit("</p></body></html>"))

  /** Text extraction from HTML: drop the head block (title/meta are
    * chrome, not content), then strip every remaining tag. Two codegen'd
    * regexp passes, both Java-regex/RE2 agnostic (non-greedy supported by
    * both, no lookaround); the head pattern matches at most once so
    * Spark's replace-all equals DuckDB's replace-first, and the tag strip
    * is explicitly global on both sides.
    */
  def extractText(html: Column): Column =
    regexp_replace(regexp_replace(html, "<head>.*?</head>", ""), "<[^>]*>", "")

  /** Outbound links per page: `href` attributes of anchor tags pulled
    * with ONE codegen'd `regexp_extract_all` — the link-graph
    * construction step that feeds [[pageRank]] (at crawl scale this is
    * the map-only pass producing the 10^11-edge host graph). One output
    * row per (page, href) with the link's document-order ordinal.
    * Scope: double-quoted `<a ... href="...">` attributes (the form
    * every serializer emits); unquoted/single-quoted attributes are out
    * of scope, as elsewhere in the engine's regex-based HTML layer. The
    * pattern is RE2/Java-agnostic (no lookaround, no backrefs) so a SQL
    * oracle can replay it verbatim.
    */
  def extractLinks(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.select(col("doc_id"),
      posexplode(regexp_extract_all(col(htmlCol).cast("string"),
        lit("<a[^>]*href=\"([^\"]*)\""), lit(1))).as(Seq("link_no", "href")))

  /** Anchor pattern shared by the extractor and its SQL oracle: one
    * pattern, two capture groups (href, direct text content). Anchor
    * text scope is pure-text anchors only (`[^<]*</a>`): an anchor
    * wrapping child markup (`<a href=..><b>t</b></a>`) yields NO row —
    * [[extractLinks]] is the markup-tolerant link harvester; this
    * extractor trades recall for the exact text signal, the same
    * documented regex-layer scope as [[extractText]]. No
    * lookaround/backrefs, so Java regex and RE2 agree match-for-match.
    */
  val anchorPattern: String = "<a[^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"

  /** `(doc_id, link_no, href, anchor)` per anchor element — link graph
    * plus the anchor-text ranking signal in one map-only pass. Both
    * groups come from the SAME pattern run twice with different group
    * indexes, so the two arrays are positionally aligned by construction
    * and `arrays_zip` is exact; still zero joins, zero shuffles, one
    * whole-stage-codegen span over the page scan.
    */
  def extractAnchors(pages: DataFrame, htmlCol: String = "html"): DataFrame = {
    val h = col(htmlCol).cast("string")
    pages
      .select(col("doc_id"),
        posexplode(arrays_zip(
          regexp_extract_all(h, lit(anchorPattern), lit(1)).as("href"),
          regexp_extract_all(h, lit(anchorPattern), lit(2)).as("anchor")))
          .as(Seq("link_no", "za")))
      .select(col("doc_id"), col("link_no"),
        col("za.href").as("href"), col("za.anchor").as("anchor"))
  }

  /** Anchor-term index: for every link TARGET, the top-k whitespace
    * terms of all anchor texts pointing at it — the classic web ranking
    * signal (anchor text describes the target better than the target
    * describes itself). Plan shape at 10^12 links: one map-side-combined
    * hash aggregation on (href, term) — the combine collapses the
    * repeated boilerplate anchors ("home", "click here") before the
    * shuffle — then a rank-k WindowGroupLimit (partial top-k below the
    * exchange), so a homepage with 10^8 inlinks never materializes a
    * per-target list. Ties break on the term for a deterministic index.
    */
  def anchorTermIndex(anchors: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = anchors.select(col("href"),
      explode(TextOps.tokens(col("anchor"))).as("term"))
    val counts = terms.groupBy("href", "term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("href").orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("href", "term", "cnt", "rank")
  }

  /** Parse robots.txt documents into `(host, prefix, allow)` path rules
    * — the crawl-compliance step (robots exclusion protocol, RFC 9309;
    * prefix-rule subset: no `*`/`$` wildcards, documented below).
    *
    * Input: `robots(host, robots_txt)` — one fetched robots.txt per
    * host. Group semantics per the RFC: a group is a maximal run of
    * consecutive `User-Agent:` lines followed by its rules; a rule
    * belongs to the generic crawler iff its group names agent `*`
    * (named-agent-only groups are skipped). Directive names are
    * case-insensitive, rule paths case-sensitive; an empty `Disallow:`
    * matches nothing and is dropped (per the RFC). Everything is
    * codegen'd string/window expressions over exploded lines — the
    * group assignment is one `lag` + one running sum per host, so a
    * 10^9-host robots corpus parses in two window passes with no UDF.
    */
  def parseRobots(robots: DataFrame, txtCol: String = "robots_txt"): DataFrame = {
    val lline = lower(trim(col("line")))
    val ruleVal = trim(expr("substr(trim(line), instr(trim(line), ':') + 1)"))
    starGroupLines(robots, txtCol)
      .filter(lline.startsWith("allow:") || lline.startsWith("disallow:"))
      .select(col("host"), ruleVal.as("prefix"),
        lline.startsWith("allow:").as("allow"))
      .filter(col("prefix") =!= "")
  }

  /** Lines belonging to the generic crawler's (`*`) groups — the shared
    * group-assignment machinery behind [[parseRobots]] and
    * [[crawlDelays]]: one lag + one running sum per host.
    */
  private def starGroupLines(robots: DataFrame, txtCol: String): DataFrame = {
    val lines = robots.select(col("host"),
      posexplode(split(col(txtCol), "\n")).as(Seq("pos", "line")))
    val lline = lower(trim(col("line")))
    val w = Window.partitionBy("host").orderBy("pos")
    val marked = lines.withColumn("is_ua", lline.startsWith("user-agent:"))
    val grps = marked
      .withColumn("new_grp",
        col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false)))
      .withColumn("grp",
        sum(when(col("new_grp"), 1).otherwise(0)).over(w))
    val ruleVal = trim(expr("substr(trim(line), instr(trim(line), ':') + 1)"))
    val starGrps = grps
      .filter(col("is_ua") && ruleVal === "*")
      .select(col("host"), col("grp")).distinct()
    grps.join(starGrps, Seq("host", "grp"))
  }

  /** Crawl-delay seconds per host for the generic crawler — the de-facto
    * politeness directive (not in RFC 9309 but honored by most major
    * crawlers; a frontier scheduler divides per-host token rates by it).
    * Scope follows [[parseRobots]]'s group semantics: only `*`-group
    * directives count. Multiple valid directives take the MAX (the
    * conservative politeness choice); non-numeric values are dropped via
    * try_cast (loud ANSI casts would kill a 10⁹-host parse on one typo).
    * Returns (host, crawl_delay_sec, n_directives) for hosts that
    * declare one.
    */
  def crawlDelays(robots: DataFrame, txtCol: String = "robots_txt"): DataFrame = {
    val lline = lower(trim(col("line")))
    starGroupLines(robots, txtCol)
      .filter(lline.startsWith("crawl-delay:"))
      .select(col("host"),
        expr("try_cast(trim(substr(trim(line), instr(trim(line), ':') + 1)) AS DOUBLE)")
          .as("delay"))
      .filter(col("delay").isNotNull)
      .groupBy("host")
      .agg(max(col("delay")).as("crawl_delay_sec"),
        count(lit(1)).as("n_directives"))
  }

  /** Robots-compliance decision per page under RFC 9309 longest-match:
    * among the generic-agent rules of the page's host whose path prefix
    * matches, the LONGEST wins; a length tie between Allow and Disallow
    * goes to Allow; no matching rule (or no robots.txt) means allowed.
    *
    * MAP-ONLY at corpus scale: the rules collapse to one array row per
    * host, broadcast, and the winner is folded per page with a codegen'd
    * higher-order `aggregate` over `score = 2·len(prefix) + isAllow`
    * (max score ≡ longest-then-allow, no shuffle ever touches the page
    * table). Rule sets are robots.txt files — kilobytes per host — so
    * the broadcast side is bounded by host count, not corpus size; for
    * a host universe too big to broadcast, drop the hint and AQE falls
    * back to a shuffle join on the same plan.
    */
  def robotsFilter(pages: DataFrame, rules: DataFrame): DataFrame = {
    // host is case-normalized (hostnames are case-insensitive) but the
    // PATH keeps the original case and trailing slash — RFC 9309 rule
    // paths are case-sensitive, so it must not ride normalizeUrl
    val rawPath = regexp_replace(regexp_replace(regexp_replace(col("url"),
      "^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), "#.*$", ""), "\\?.*$", "")
    val p = pages.select(col("doc_id"), col("url"),
      hostOf(normalizeUrl(col("url"))).as("host"),
      coalesce(nullif(regexp_extract(rawPath, "(/.*)$", 1), lit("")), lit("/")).as("path"))
    val hostRules = rules.groupBy("host")
      .agg(collect_list(struct(col("prefix"), col("allow"))).as("rls"))
    p.join(broadcast(hostRules), Seq("host"), "left")
      .withColumn("sc", expr(
        """aggregate(rls, -1,
             (acc, r) -> CASE WHEN substr(path, 1, length(r.prefix)) = r.prefix
                               AND length(r.prefix) * 2 + IF(r.allow, 1, 0) > acc
                              THEN length(r.prefix) * 2 + IF(r.allow, 1, 0)
                              ELSE acc END)"""))
      .select(col("doc_id"), col("host"), col("path"),
        (col("sc").isNull || col("sc") === -1 || col("sc") % 2 === 1).as("allowed"))
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) in exact fixed-iteration form:
    * auth₀ = 1 for every node, then `iters` rounds of
    *   hub_k(u)  = Σ_{u→v} auth_{k-1}(v)
    *   auth_k(v) = Σ_{u→v} hub_k(u)
    * with NO per-round normalization: every score is an exact
    * alternating-walk count in decimal(38,0) — order-independent sums,
    * so the result is bit-identical at any parallelism, and ANSI mode
    * turns overflow into a loud error instead of corruption. Ranking is
    * what the signal is for and ranks are normalization-free; `iters`
    * is capped at 4 because walk counts grow like (max degree)^(2·iters)
    * and 4 rounds keep a 10⁸-max-degree graph inside 38 digits.
    *
    * Plan shape per half-round: one equi-join (edge side re-keyed once
    * per direction and reused every round) + one map-side-combined hash
    * aggregation — 10¹²-edge-safe, with no driver-side state at all
    * (HITS has no dangling-mass scalar).
    * Output: `(node, hub, auth)` for every node in the edge set, zeros
    * for sink/source-only nodes.
    */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4,
      s"hits: iters must be in [1, 4] (exact decimal(38,0) headroom), got $iters")
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .coalesce(Adapt.partitionsForPlan(edges))
      .persist()
    var nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .coalesce(Adapt.partitionsForPlan(edges))
      .persist()
    val nN = nodes.count()
    val m = e.count()
    e = Adapt.compact(e, m)
    nodes = Adapt.compact(nodes, nN, col("node"))
    val pE = Adapt.partitionsFor(e, m)
    val bySrc = e.repartition(pE, col("src")).persist()
    val byDst = e.repartition(pE, col("dst")).persist()
    var auth = nodes.select(col("node"), lit(1L).cast("decimal(38,0)").as("auth"))
    var hub: DataFrame = null
    var it = 0
    while (it < iters) {
      hub = byDst.join(auth, byDst("dst") === auth("node"))
        .groupBy(byDst("src").as("node"))
        .agg(sum(col("auth")).cast("decimal(38,0)").as("hub"))
      auth = bySrc.join(hub, bySrc("src") === hub("node"))
        .groupBy(bySrc("dst").as("node"))
        .agg(sum(col("hub")).cast("decimal(38,0)").as("auth"))
      it += 1
    }
    val zero = lit(0L).cast("decimal(38,0)")
    val out = nodes
      .join(hub.withColumnRenamed("node", "hn"), col("node") === col("hn"), "left")
      .join(auth.withColumnRenamed("node", "an"), col("node") === col("an"), "left")
      .select(col("node"), coalesce(col("hub"), zero).as("hub"),
        coalesce(col("auth"), zero).as("auth"))
      // lazy checkpoint: the count below materializes the result blocks
      // in the same job, so downstream consumers never recompute through
      // the edge caches released right after
      .localCheckpoint(eager = false)
    out.count()
    e.unpersist(); nodes.unpersist(); bySrc.unpersist(); byDst.unpersist()
    out
  }

  /** Host-graph PageRank with EXACT integer fixed-point arithmetic —
    * the link-based quality prior crawl-curation pipelines weight
    * sampling by (the published recipe: Page et al. 1999; used as a
    * corpus-quality signal in CCNet/RefinedWeb-style curation).
    *
    * Why integer fixed-point: floating-point PageRank sums incoming
    * contributions in partition order, so two runs (or Spark vs the
    * DuckDB oracle) disagree in the last ulps. Here ranks live on an
    * integer grid of `scale` total mass units and every step is Long
    * arithmetic — per-edge contribution `(r*dampNum) div (dampDen*deg)`,
    * uniform dangling redistribution, and the teleport base — so sums
    * are order-independent and the result is bit-identical at any
    * parallelism (and equal to the DuckDB oracle's `//` on these
    * non-negative operands). Every product and sum that can overflow
    * uses `Math.multiplyExact` / `addExact`, so an overflow throws as it
    * did in ANSI SQL instead of wrapping. Quantization loss is bounded:
    * each division floors away < 1 unit per (edge ∪ node), so total mass
    * drifts < (|E|+2|V|)·iters units of `scale` — at the default 10^12
    * scale that is a 10^-12-relative error per edge, far below float
    * noise.
    *
    * The loop runs on primitive `(Long, Long)` records (the
    * [[LongPairs]] rule: Kryo-serialized shuffles, `long[]` task memory)
    * under one `HashPartitioner`, sized once from the link count
    * (`LongPairs.width`: size-derived, floored at `defaultParallelism`),
    * with no per-round Catalyst planning. The adjacency
    * (`src → distinct dst[]`, deduped and self-loop-stripped) and the
    * node/dangling table are built once into one checkpointed block per
    * partition, co-partitioned with the
    * `(host, rank)` state. Each iteration is a narrow join of the ranks
    * with the adjacency, a `reduceByKey` of the contributions (map-side
    * combined, so a hot authority with 10^8 in-links costs its reducer
    * merged partials, not raw edges) and a narrow left join with the
    * nodes. It ends with one `localCheckpoint` and one fold job, which
    * materializes the round and sums its dangling mass — one Long for
    * the driver, used by the next round. Nothing is broadcast, and no
    * iteration waits on another's lazy plan.
    *
    * Memory bound: nothing spills, and one task holds its partition's
    * adjacency and contributions whole, at 8–16 bytes per link. A host's
    * out-links are one key group, so the largest out-degree must fit in
    * one task's heap and stay under `LongPairs.MaxRecords`; in-links
    * arrive map-side combined, one record per host.
    *
    * Input: `edges(src, dst)` integral host ids (duplicates and
    * self-loops tolerated). Returns `(host, rank)` of the input's id type
    * for every host appearing in any edge; Σrank ≈ scale.
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               scale: Long = 1000000000000L,
               dampNum: Long = 17, dampDen: Long = 20): DataFrame = {
    require(iters >= 1 && scale > 0 && dampNum >= 0 && dampDen > dampNum,
      s"pageRank: need iters>=1, scale>0, 0<=dampNum<dampDen; got " +
        s"iters=$iters scale=$scale damp=$dampNum/$dampDen")
    val idType = LongPairs.idType(edges)
    val spark = edges.sparkSession
    val links = LongPairs.read(edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst")))
    val part = new HashPartitioner(LongPairs.width(spark, links.count()))
    // distinct out-links, sorted by (src, dst) in src's partition
    val out = LongPairs.shuffleSorted(links, part, unique = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every link target is a node too: its distinct ids, sent to their
    // own partitions (map-side combined)
    val targets = out.flatMap(b => b.v.iterator.map(d => (d, 0L)))
      .reduceByKey(part, (a, _) => a)
    // checkpointed, so no round's lineage reaches back to the input
    val graph = out.zipPartitions(targets, preservesPartitioning = true) { (bs, ts) =>
      Iterator(PrGraph(bs.next(), ts.map(_._1)))
    }.localCheckpoint()
    val (n, nDang) = graph.map(g => (g.hosts.length.toLong, g.dangling.toLong))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    out.unpersist(blocking = false)
    if (n == 0) graph.unpersist(blocking = false)
    require(n > 0, "pageRank: empty edge set")
    // teleport base: floor(scale*(1-d)/N) in the same op order as the SQL
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    val dangDen = dampDen * n
    // rank state: (host, rank) blocks aligned with the graph's hosts
    var ranks = graph.map(g => new LongPairs.Block(g.hosts, Array.fill(g.hosts.length)(scale / n)))
    var dangm = Math.multiplyExact(scale / n, nDang)
    var it = 0
    while (it < iters) {
      val share = Math.addExact(base, Math.multiplyExact(dangm, dampNum) / dangDen)
      val contrib = graph.zipPartitions(ranks) { (gs, rs) =>
        val g = gs.next(); val r = rs.next()
        Iterator.range(0, g.hosts.length).flatMap { i =>
          val deg = g.degree(i)
          if (deg == 0) Iterator.empty
          else {
            val c = Math.multiplyExact(r.v(i), dampNum) / Math.multiplyExact(dampDen, deg.toLong)
            Iterator.range(g.start(i), g.start(i + 1)).map(j => (g.dst(j), c))
          }
        }
      }.reduceByKey(part, Math.addExact(_: Long, _: Long))
      val next = graph.zipPartitions(contrib, preservesPartitioning = true) { (gs, cs) =>
        val g = gs.next()
        val c = LongPairs.sorted(cs, unique = false)
        val r = new Array[Long](g.hosts.length)
        var i = 0; var j = 0
        while (i < r.length) {
          // contribution keys are distinct hosts of this partition
          val add = if (j < c.size && c.k(j) == g.hosts(i)) { j += 1; c.v(j - 1) } else 0L
          r(i) = Math.addExact(share, add)
          i += 1
        }
        Iterator(new LongPairs.Block(g.hosts, r))
      }.localCheckpoint()
      // the round's one job: materializes the checkpoint and sums the
      // dangling mass the next round redistributes
      dangm = graph.zipPartitions(next) { (gs, rs) =>
        val g = gs.next(); val r = rs.next()
        var s = 0L; var i = 0
        while (i < r.size) {
          if (g.degree(i) == 0) s = Math.addExact(s, r.v(i))
          i += 1
        }
        Iterator(s)
      }.fold(0L)(Math.addExact(_: Long, _: Long))
      ranks.unpersist(blocking = false)
      ranks = next
      it += 1
    }
    graph.unpersist(blocking = false)
    val rows = ranks.flatMap(b => Iterator.range(0, b.size).map(i => (b.k(i), b.v(i))))
    LongPairs.toFrame(spark, rows, "host" -> idType, "rank" -> LongType)
  }

  /** One partition of [[pageRank]]'s graph: `hosts` ascending, and the
    * distinct out-links of `hosts(i)` are `dst(start(i) until start(i + 1))`
    * (none: a dangling host).
    */
  private final class PrGraph(val hosts: Array[Long], val start: Array[Int],
                              val dst: Array[Long]) extends Serializable {
    def degree(i: Int): Int = start(i + 1) - start(i)
    def dangling: Int = (0 until hosts.length).count(degree(_) == 0)
  }

  private object PrGraph {
    /** Merges the partition's sorted distinct links with the distinct
      * link targets that hash to it.
      */
    def apply(out: LongPairs.Block, targets: Iterator[Long]): PrGraph = {
      val ts = targets.toArray
      java.util.Arrays.sort(ts)
      val hosts = Array.newBuilder[Long]; val start = Array.newBuilder[Int]
      var i = 0; var j = 0
      while (i < out.size || j < ts.length) {
        val h = if (j == ts.length || (i < out.size && out.k(i) <= ts(j))) out.k(i) else ts(j)
        hosts += h; start += i
        while (i < out.size && out.k(i) == h) i += 1
        if (j < ts.length && ts(j) == h) j += 1
      }
      start += out.size
      new PrGraph(hosts.result(), start.result(), out.v)
    }
  }

  /** WEIGHTED PageRank — the real link-graph form, where an edge carries
    * multiplicity (anchor count, link frequency) and a page splits its
    * rank proportionally: contribution over edge (u,v,w) is
    * ⌊rank_u·d·w / (den·W_u)⌋ with W_u = Σ out-weights. Same exact
    * integer fixed point as [[pageRank]] (order-independent sums,
    * bit-identical at any parallelism); parallel edges pre-collapse by
    * summing their weights, and the per-edge product rides Decimal(38)
    * (rank ≤ scale=10¹² times a 10⁶ weight overflows Long). Unweighted
    * graphs (w ≡ 1) reduce to pageRank exactly.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5,
                       scale: Long = 1000000000000L,
                       dampNum: Long = 17, dampDen: Long = 20): DataFrame = {
    require(iters >= 1 && scale > 0 && dampNum >= 0 && dampDen > dampNum,
      s"pageRankWeighted: need iters>=1, scale>0, 0<=dampNum<dampDen")
    var e = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst") && col("w") > 0)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .repartition(Adapt.partitionsForPlan(edges), col("src"))
      .persist()
    var nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host")))
      .distinct()
      .coalesce(Adapt.partitionsForPlan(edges))
      .persist()
    val n = nodes.count()
    require(n > 0, "pageRankWeighted: empty edge set")
    val pN = Adapt.partitionsFor(nodes, n)
    // out-weight rides the edge frame and the dangling flag the rank
    // state, so a round needs one join for the contributions and none
    // for the dangling mass
    val e2 = e.join(e.groupBy("src").agg(sum(col("w")).as("wsum")), "src")
      .coalesce(math.max(pN, Adapt.partitionsForPlan(edges)))
      .persist()
    val nodesF = nodes
      .join(e.select(col("src").as("host"), lit(true).as("has_out")).distinct(),
        Seq("host"), "left")
      .select(col("host"), col("has_out").isNull.as("dang"))
      .coalesce(pN)
      .persist()
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    var ranks = nodesF.select(col("host"), lit(scale / n).as("rank"), col("dang"))
      .localCheckpoint(eager = false)
    var it = 0
    while (it < iters) {
      // lazy dangling mass: a one-row aggregate broadcast-cross-joined
      // into the round, so the rounds run as one lazy query cascade
      // with no per-round driver sync
      val dangDf = ranks.filter(col("dang"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dangm"))
      val contrib = ranks.join(e2, ranks("host") === e2("src"))
        .select(col("dst"),
          expr(s"CAST((CAST(rank AS DECIMAL(38,0)) * $dampNum * w) " +
            s"DIV ($dampDen * wsum) AS BIGINT)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      ranks = nodesF.join(contrib, nodesF("host") === contrib("dst"), "left")
        .crossJoin(broadcast(dangDf))
        .select(col("host"),
          (lit(base) + expr(s"(dangm * $dampNum) div ${dampDen * n}") +
            coalesce(col("contrib"), lit(0L))).as("rank"),
          col("dang"))
        .coalesce(pN)
        .localCheckpoint(eager = false)
      it += 1
    }
    val out = ranks.select(col("host"), col("rank"))
      .localCheckpoint(eager = false)
    out.count()
    e.unpersist(); nodes.unpersist(); e2.unpersist(); nodesF.unpersist()
    out
  }

  /** Registered domain (eTLD+1) extraction against a public-suffix
    * table — the rollup key behind per-domain host caps, domain dedup,
    * and ownership statistics (publicsuffix.org semantics: the
    * registered domain is one label more than the LONGEST matching
    * public suffix; a host that IS a public suffix has none; an unknown
    * TLD falls back to the implicit 1-label `*` rule). Wildcard and
    * exception PSL rules are not interpreted — expand them to literal
    * rows upstream.
    *
    * Scale shape: MAP-ONLY. The candidate suffixes (the host's last
    * 1..`maxSuffixLabels` labels) become columns, each probed by one
    * broadcast left join against the suffix table (~10k rows for the
    * real PSL — always broadcast-able); no shuffle ever touches the
    * page side, so the op composes with scans at any corpus size.
    *
    * Input needs a `hostCol` string column; appends `reg_domain`
    * (null when the host itself is a public suffix or empty). The
    * `suffixes` frame carries one `suffix` column of lowercase literal
    * suffixes ("com", "co.uk", ...).
    */
  def registeredDomain(df: DataFrame, suffixes: DataFrame,
                       hostCol: String = "host",
                       maxSuffixLabels: Int = 4): DataFrame = {
    require(maxSuffixLabels >= 1 && maxSuffixLabels <= 8,
      s"registeredDomain: maxSuffixLabels in [1, 8], got $maxSuffixLabels")
    // one distinct over the suffix table, shared by every probe join
    // (lazy localCheckpoint: the first broadcast materializes it; the
    // k probes then broadcast the same blocks instead of re-running the
    // distinct per join, and the page-side plan stays zero-Exchange)
    val sfx = suffixes.select(lower(col("suffix")).as("suffix")).distinct()
      .localCheckpoint(eager = false)
    val labels = split(lower(col(hostCol)), "\\.")
    var out = df.withColumn("_labels", labels)
      .withColumn("_n", size(col("_labels")))
    for (k <- 1 to maxSuffixLabels) {
      val cand = when(col("_n") >= k,
        array_join(slice(col("_labels"), -k, k), ".")).otherwise(lit(null))
      out = out.join(
        broadcast(sfx.select(col("suffix").as(s"_m$k"))),
        cand === col(s"_m$k"), "left")
    }
    // longest explicit match wins; the implicit `*` rule matches one label
    val matchedLen = (2 to maxSuffixLabels).foldLeft(lit(1)) {
      case (acc, k) => when(col(s"_m$k").isNotNull, lit(k)).otherwise(acc)
    }
    val regLen = (matchedLen + lit(1)).cast("int")
    val regDomain = when(col("_n") > matchedLen,
      array_join(slice(col("_labels"), -regLen, regLen), "."))
      .otherwise(lit(null))
    out.withColumn("reg_domain",
        when(length(col(hostCol)) > 0, regDomain).otherwise(lit(null)))
      .drop((1 to maxSuffixLabels).map(k => s"_m$k") :+ "_labels" :+ "_n": _*)
  }

  /** Co-citation pairs (Small 1973, the classic link-similarity signal):
    * target pairs ranked by how many common sources link to BOTH — the
    * host/page relatedness measure behind "related pages" and seed
    * expansion. Bibliographic coupling (shared out-neighbors) is the
    * same op on reversed edges ([[couplingPairs]]).
    *
    * Scale shape: one self-equi-join on `src` + one map-side-combined
    * count. The hazard is out-degree skew — a directory page with 10⁴
    * out-links alone emits 10⁸ pairs — so each source's out-list is
    * CAPPED at `capPerSource` targets (deterministic: lowest dst ids;
    * -1 = uncapped). The cap is part of the op's semantics (same
    * trade-off as winnowPairs' bucket cap) and is mirrored exactly by
    * the oracle, not a best-effort heuristic.
    */
  def cocitationPairs(edges: DataFrame, minShared: Long = 2,
                      capPerSource: Int = 256): DataFrame = {
    require(minShared >= 1, s"cocitationPairs: minShared >= 1, got $minShared")
    require(capPerSource > 0 || capPerSource == -1,
      s"capPerSource must be positive, or -1 for uncapped, got $capPerSource")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val capped =
      if (capPerSource == -1) e
      else {
        val w = Window.partitionBy("src").orderBy("dst")
        e.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= capPerSource).drop("rn")
      }
    capped.as("a").join(capped.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("t1"), col("b.dst").as("t2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bibliographic coupling (Kessler 1963): source pairs sharing
    * out-neighbors — [[cocitationPairs]] over reversed edges.
    */
  def couplingPairs(edges: DataFrame, minShared: Long = 2,
                    capPerSource: Int = 256): DataFrame =
    cocitationPairs(
      edges.select(col("dst").as("src"), col("src").as("dst")),
      minShared, capPerSource)

  /** TrustRank (Gyöngyi, Garcia-Molina, Pedersen — "Combating Web Spam
    * with TrustRank", VLDB 2004): PageRank with the teleport vector
    * restricted to a trusted seed set, so rank can only flow OUT of the
    * seeds along links — spam farms unreachable from any seed end at
    * exactly zero. Same exact integer fixed-point arithmetic as
    * [[pageRank]] (order-independent Long sums, floor divisions in a
    * pinned operand order), so the result is bit-identical at any
    * parallelism and a DuckDB CTE chain mirrors it exactly.
    *
    * `seeds`: one `host` column; entries absent from the graph are
    * ignored (requires ≥ 1 live seed). Teleport and dangling mass are
    * split uniformly over the live seeds only. Scale shape is
    * pageRank's: 2 shuffles per round with map-side combine, the seed
    * flag rides a broadcast-able equi-join, dangling mass is one
    * collected Long whose job materializes the round's lazy checkpoint.
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                scale: Long = 1000000000000L,
                dampNum: Long = 17, dampDen: Long = 20): DataFrame = {
    require(iters >= 1 && scale > 0 && dampNum >= 0 && dampDen > dampNum,
      s"trustRank: need iters>=1, scale>0, 0<=dampNum<dampDen; got " +
        s"iters=$iters scale=$scale damp=$dampNum/$dampDen")
    var e = edges
      .select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .repartition(Adapt.partitionsForPlan(edges), col("src"))
      .persist()
    var nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host")))
      .distinct()
      .coalesce(Adapt.partitionsForPlan(edges))
      .persist()
    val n = nodes.count()
    val pN = Adapt.partitionsFor(nodes, n)
    // out-degree rides the edge frame, seed AND dangling flags the
    // node/rank state
    val e2 = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .coalesce(math.max(pN, Adapt.partitionsForPlan(edges)))
      .persist()
    val seed = nodes
      .join(seeds.select(col("host")).filter(col("host").isNotNull).distinct(),
        Seq("host"))
      .select(col("host"), lit(1).as("is_seed"))
      .coalesce(pN)
      .persist()
    val sN = seed.count()
    require(sN > 0, "trustRank: no seed host present in the graph")
    val base = (scale * (dampDen - dampNum)) / (dampDen * sN)
    // flag the nodes ONCE; every round reuses the materialized frame
    // instead of re-running the seed join (one join per round saved)
    val flagged = nodes.join(seed, Seq("host"), "left")
      .join(e.select(col("src").as("host"), lit(true).as("has_out")).distinct(),
        Seq("host"), "left")
      .select(col("host"), col("is_seed").isNotNull.as("seeded"),
        col("has_out").isNull.as("dang"))
      .coalesce(pN)
      .persist()
    var ranks = flagged
      .select(col("host"),
        when(col("seeded"), lit(scale / sN)).otherwise(lit(0L)).as("rank"),
        col("dang"))
      .localCheckpoint(eager = false)
    var it = 0
    while (it < iters) {
      // lazy dangling mass: a one-row aggregate broadcast-cross-joined
      // into the round, so the rounds run as one lazy query cascade
      // with no per-round driver sync
      val dangDf = ranks.filter(col("dang"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dangm"))
      val contrib = ranks.join(e2, ranks("host") === e2("src"))
        .select(col("dst"),
          expr(s"(rank * $dampNum) div ($dampDen * deg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      ranks = flagged
        .join(contrib, col("host") === contrib("dst"), "left")
        .crossJoin(broadcast(dangDf))
        .select(col("host"),
          (when(col("seeded"),
            lit(base) + expr(s"(dangm * $dampNum) div ${dampDen * sN}"))
            .otherwise(lit(0L)) +
            coalesce(col("contrib"), lit(0L))).as("rank"),
          col("dang"))
        .coalesce(pN)
        .localCheckpoint(eager = false)
      it += 1
    }
    val out = ranks.select(col("host"), col("rank"))
      .localCheckpoint(eager = false)
    out.count() // materialize before unpersisting the inputs it no longer needs
    e.unpersist(); nodes.unpersist(); seed.unpersist()
    e2.unpersist(); flagged.unpersist()
    out
  }

  /** Minimum-hop reachability from a seed host set (frontier BFS) — the
    * crawl-frontier / link-distance primitive behind seed-proximity
    * filters (OPIC-style crawl prioritization, TrustRank seed expansion).
    * Returns (host, hops) for every host whose shortest link distance
    * from any seed is ≤ maxHops; hop counts are exact minima, so the
    * result is plan- and parallelism-independent.
    *
    * Scale shape: round k joins only the CURRENT frontier against the
    * src-partitioned edge list (equi-join, map-side combine on the
    * distinct), then one left-anti join against the visited set — never
    * the whole graph against itself. The visited set is lazily
    * localCheckpoint'ed per round (the frontier count materializes it in
    * the same job), truncating lineage exactly like the CC/pageRank
    * loops; an empty frontier exits early.
    */
  def reachable(edges: DataFrame, seeds: DataFrame, maxHops: Int = 6): DataFrame = {
    require(maxHops >= 0, s"reachable: maxHops must be >= 0, got $maxHops")
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .repartition(Adapt.partitionsForPlan(edges), col("src"))
      .persist()
    var frontier = seeds.select(col("host")).filter(col("host").isNotNull)
      .distinct()
      .select(col("host"), lit(0).as("hops"))
      .localCheckpoint(eager = false)
    var visited = frontier
    var k = 1
    var frontierSize = frontier.count() // materializes the checkpoint
    val m = e.count()
    e = Adapt.compact(e, m, col("src"))
    // visited/frontier are bounded by the node count <= 2m: size their
    // checkpoints from the edge count, not the (possibly tiny) seed set
    val pE = Adapt.partitionsFor(e, m)
    while (k <= maxHops && frontierSize > 0) {
      val next = frontier.join(e, frontier("host") === e("src"))
        .select(col("dst").as("host"), lit(k).as("hops"))
        .distinct()
        .join(visited, Seq("host"), "left_anti")
        .coalesce(pE)
        .localCheckpoint(eager = false)
      frontierSize = next.count()
      visited = visited.union(next).coalesce(pE).localCheckpoint(eager = false)
      frontier = next
      k += 1
    }
    val out = visited
    out.count()
    e.unpersist()
    out
  }

  /** Bounded-hop strongly-connected membership around a seed set: the
    * hosts reachable FROM a seed AND able to reach a seed back, with
    * both hop distances — exact SCC membership whenever `maxHops` covers
    * the graph's diameter, and the standard crawl-trap / link-farm
    * detector either way (a spider trap is reachable from the frontier
    * but has no path back to the well-linked core, so it never appears
    * here). Two [[reachable]] frontier BFS passes (forward, and over
    * reversed edges) + one equi-join; inherits their scale shape.
    */
  def sccOfSeed(edges: DataFrame, seeds: DataFrame, maxHops: Int = 16): DataFrame = {
    // materialize the cleaned edge list ONCE for both BFS directions
    // (each reachable re-derived filter+distinct from the raw source —
    // two full upstream passes; the spamMass pattern)
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    e0.count()
    // the two BFS directions are independent job chains: overlap them
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fwdF = Future(reachable(e0, seeds, maxHops)
      .select(col("host"), col("hops").as("hops_fwd")))
    val bwdF = Future(reachable(
        e0.select(col("dst").as("src"), col("src").as("dst")), seeds, maxHops)
      .select(col("host"), col("hops").as("hops_bwd")))
    Await.result(fwdF, Duration.Inf).join(Await.result(bwdF, Duration.Inf), Seq("host"))
  }

  /** Label-propagation communities (Raghavan et al. 2007) over the
    * symmetrized link graph, made fully deterministic: SYNCHRONOUS
    * rounds (every node updates from the same previous labeling — no
    * order dependence) with argmax-by-(count, min label) tie-break, and
    * a FIXED round count as the contract (classic async LPA oscillates;
    * the fixed-round synchronous form is exactly reproducible and in
    * practice separates link communities in 3-5 rounds). Finds denser
    * community structure than connected components (which merge
    * everything touching).
    *
    * Scale shape per round: one labels⋈edges equi-join + one (node,
    * label) count agg with map-side combine + one argmax agg — the
    * PageRank cost class; rounds are lazily checkpointed so lineage
    * stays flat.
    */
  def lpaCommunities(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"lpa: rounds must be in [1,16], got $rounds")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    var sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(Adapt.partitionsForPlan(edges), col("dst"))
      .persist()
    val m = sym.count()
    sym = Adapt.compact(sym, m, col("dst"))
    val pN = Adapt.partitionsFor(sym, m)
    var labels = sym.select(col("src").as("host")).distinct()
      .select(col("host"), col("host").as("label"))
      .coalesce(pN)
      .localCheckpoint(eager = false)
    (1 to rounds).foreach { _ =>
      labels = sym
        .join(labels.withColumnRenamed("host", "nbr"), col("dst") === col("nbr"))
        .groupBy(col("src").as("host"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("host")
        .agg(max(struct(col("cnt").as("cnt"), (-col("label")).as("neglabel"))).as("m"))
        .select(col("host"), (-col("m.neglabel")).as("label"))
        .coalesce(pN)
        .localCheckpoint(eager = false)
    }
    val out = labels.select(col("host"), col("label").as("community"))
    out.count() // materialize before releasing the cached edge frame
    sym.unpersist()
    out
  }

  /** Bow-tie decomposition (Broder et al. WWW 2000) of the link graph
    * around a seed set, within a hop budget: every node classified as
    * `core` (reachable from the seeds AND reaching them back — the SCC
    * when maxHops covers the diameter), `in` (reaches the seeds only),
    * `out` (reached only), or `other` (tendrils/tubes/disconnected
    * within the budget). The crawl-planning map: `in` is where new
    * frontier comes from, `out` is where traps live, `other` is dark
    * matter. Two [[reachable]] frontier BFS passes + two left joins
    * against the node set; hop distances carried (null = unreached).
    */
  def bowtie(edges: DataFrame, seeds: DataFrame, maxHops: Int = 8): DataFrame = {
    // one cleaned edge materialization shared by the node set and both
    // BFS directions (each consumer re-derived filter+distinct before)
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    e.count()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    // the two BFS directions are independent job chains: overlap them
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fwdF = Future(reachable(e, seeds, maxHops)
      .select(col("host"), col("hops").as("hops_fwd")))
    val bwdF = Future(reachable(
        e.select(col("dst").as("src"), col("src").as("dst")), seeds, maxHops)
      .select(col("host"), col("hops").as("hops_bwd")))
    val fwd = Await.result(fwdF, Duration.Inf)
    val bwd = Await.result(bwdF, Duration.Inf)
    nodes.join(fwd, Seq("host"), "left").join(bwd, Seq("host"), "left")
      .select(col("host"), col("hops_fwd"), col("hops_bwd"),
        when(col("hops_fwd").isNotNull && col("hops_bwd").isNotNull, lit("core"))
          .when(col("hops_bwd").isNotNull, lit("in"))
          .when(col("hops_fwd").isNotNull, lit("out"))
          .otherwise(lit("other")).as("klass"))
  }

  /** Sitemap directives from robots.txt (RFC 9309 §2.3: `Sitemap:` lines
    * are GROUP-INDEPENDENT, unlike allow/disallow — they apply from
    * anywhere in the file, so this harvest deliberately ignores the
    * user-agent grouping [[parseRobots]] builds). Returns (host,
    * sitemap, ord) with `ord` the 0-based line ordinal, keeping document
    * order for crawlers that treat earlier sitemaps as preferred.
    * Map-only: one split + posexplode + codegen'd string ops per host.
    */
  def sitemaps(robots: DataFrame, txtCol: String = "robots_txt"): DataFrame = {
    val lines = robots.select(col("host"),
      posexplode(split(col(txtCol), "\n")).as(Seq("pos", "line")))
    lines.filter(lower(trim(col("line"))).startsWith("sitemap:"))
      .select(col("host"),
        trim(expr("substr(trim(line), instr(trim(line), ':') + 1)")).as("sitemap"),
        col("pos").cast("int").as("ord"))
      .filter(col("sitemap") =!= "")
  }

  /** Host-level boilerplate line removal — the CCNet/RefinedWeb curation
    * step that strips navigation chrome, cookie banners, and copyright
    * footers: a line is boilerplate for a host iff it appears in at least
    * `fracNum/fracDen` of that host's pages (pages counted once per line,
    * however often the line repeats inside one page) and the host has at
    * least `minHostDocs` pages (below that, frequency is meaningless and
    * nothing is stripped). The threshold test is an integer
    * cross-multiplication (`n_docs·fracDen ≥ n_host_docs·fracNum`) — no
    * float ever enters, so the kept/dropped decision is exact and a SQL
    * oracle mirrors it verbatim.
    *
    * Scale shape at 10^12 pages: one map-only line explode; the per-(host,
    * line) document frequency is a distinct + map-side-combined count (the
    * combine collapses a hot host's repeated banner lines before the
    * shuffle); the boilerplate set joins back as a plain equi-join on
    * (host, line) — it holds only lines crossing the frequency threshold,
    * a small fraction of the distinct-line universe, and AQE picks
    * broadcast vs shuffle per its actual size. Per-doc reassembly is ONE
    * hash aggregation whose state is bounded by the page's own line count
    * (collect_list of (pos, line) survivors, sorted — pos makes the sort
    * key unique, so the rebuilt text is parallelism-independent).
    *
    * Returns one row per page: (doc_id, host, clean_text, n_kept,
    * n_dropped); `clean_text` is the surviving lines in document order
    * ("" when every line was boilerplate).
    */
  def stripBoilerplate(pages: DataFrame, fracNum: Int = 1, fracDen: Int = 2,
                       minHostDocs: Int = 2,
                       textCol: String = "text"): DataFrame = {
    require(fracNum >= 1 && fracDen >= fracNum,
      s"stripBoilerplate: need 1 <= fracNum <= fracDen, got $fracNum/$fracDen")
    require(minHostDocs >= 2,
      s"stripBoilerplate: minHostDocs must be >= 2, got $minHostDocs")
    val p = pages.select(col("doc_id"),
      hostOf(normalizeUrl(col("url"))).as("host"), col(textCol).as("t"))
    val lines = p.select(col("doc_id"), col("host"),
      posexplode(split(col("t"), "\n")).as(Seq("pos", "line")))
    val hostDocs = p.groupBy("host")
      .agg(count(lit(1)).as("n_host_docs"))
    val lineFreq = lines.select("host", "line", "doc_id").distinct()
      .groupBy("host", "line").agg(count(lit(1)).as("n_docs"))
    val boiler = lineFreq.join(hostDocs, "host")
      .filter(col("n_docs") * fracDen >= col("n_host_docs") * fracNum &&
        col("n_host_docs") >= minHostDocs)
      .select(col("host"), col("line"), lit(true).as("is_b"))
    lines.join(boiler, Seq("host", "line"), "left")
      .groupBy("doc_id", "host")
      .agg(
        array_join(transform(
          array_sort(collect_list(
            when(col("is_b").isNull, struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"),
        count(when(col("is_b").isNull, 1)).as("n_kept"),
        count(when(col("is_b").isNotNull, 1)).as("n_dropped"))
  }

  /** Per-host duplication report — the template-farm triage view (which
    * hosts are mostly one page stamped thousands of times): page count,
    * distinct content count, and the duplication ratio as the exact
    * integer `dup_ppm = (n − uniq)·10⁶ div n`. One aggregation with a
    * map-side-combined exact distinct on the content hash.
    */
  def hostDupReport(pages: DataFrame, textCol: String = "text"): DataFrame =
    pages
      .select(hostOf(normalizeUrl(col("url"))).as("host"),
        md5(encode(col(textCol).cast("string"), "UTF-8")).as("h"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_pages"),
        countDistinct(col("h")).as("n_unique"))
      .withColumn("dup_ppm", expr(
        "CAST(((n_pages - n_unique) * CAST(1000000 AS DECIMAL(38,0))) div n_pages AS BIGINT)"))

  /** Per-page URL shape features — the RefinedWeb/UT1-style URL-level
    * quality signals (deep paths, digit-heavy slugs, and query-string
    * pages correlate with calendars, session junk, and autogenerated
    * spam): path depth, path length, digit count, query-string and
    * file-extension flags. ONE map-only codegen'd projection; the path
    * keeps its original case and query split per RFC semantics (same
    * layering as [[robotsFilter]]'s rawPath).
    */
  def urlFeatures(pages: DataFrame): DataFrame = {
    val noScheme = regexp_replace(col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val noQuery = regexp_replace(noFrag, "\\?.*$", "")
    val path = coalesce(nullif(regexp_extract(noQuery, "(/.*)$", 1), lit("")),
      lit("/"))
    pages.select(col("doc_id"),
      hostOf(normalizeUrl(col("url"))).as("host"),
      path.as("path"),
      (length(path) - length(regexp_replace(path, "/", ""))).cast("long")
        .as("depth"),
      length(path).cast("long").as("path_len"),
      length(regexp_replace(path, "[^0-9]", "")).cast("long").as("n_digits"),
      col("url").contains("?").as("has_query"),
      path.rlike("\\.[a-z0-9]{1,5}$").as("has_ext"))
  }

  /** Per-host language-mix concentration — the mixed-language /
    * scraped-content host detector (an organic host is language-coherent;
    * aggregators and autogenerated spam mix). Diversity is the GINI
    * impurity 1 − Σ(n_i/n)², kept exact as the integer
    * `gini_ppm = ⌊(n² − Σn_i²)·10⁶ / n²⌋` — entropy would need a log,
    * Gini ranks hosts identically for this purpose and stays
    * SQL-bit-exact. Two map-side-combined aggregations, nothing else.
    */
  def hostLangMix(pages: DataFrame): DataFrame =
    pages
      .select(hostOf(normalizeUrl(col("url"))).as("host"), col("lang"))
      .groupBy("host", "lang").agg(count(lit(1)).as("c"))
      .groupBy("host")
      .agg(
        sum(col("c")).as("n_pages"),
        count(lit(1)).as("n_langs"),
        expr("""CAST((CAST(sum(c) AS DECIMAL(38,0)) * sum(c)
                      - sum(CAST(c AS DECIMAL(38,0)) * c)) * 1000000
                div (CAST(sum(c) AS DECIMAL(38,0)) * sum(c)) AS BIGINT)""")
          .as("gini_ppm"))

  /** Page-template fingerprinting — cluster pages by their OPENING-TAG
    * SEQUENCE (text stripped, order kept): boilerplate-templated sites
    * collapse onto a handful of fingerprints, which is the signal behind
    * wrapper induction, per-template extraction rules, and
    * template-skew diagnostics. One map-only codegen'd regex pass +
    * one map-side-combined aggregation; example_doc = min doc_id keeps
    * the representative deterministic.
    */
  def templateTable(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages
      .select(col("doc_id"), md5(org.apache.spark.sql.functions.encode(
        array_join(regexp_extract_all(col(htmlCol).cast("string"),
          lit("<([a-z][a-z0-9]*)"), lit(1)), ","), "UTF-8")).as("template"))
      .groupBy("template")
      .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("example_doc"))

  /** Redirect-chain resolution by POINTER DOUBLING — every crawl frontier
    * must fold `src → (301/302) → … → final` chains before URL dedup, and
    * the naive one-hop-per-round walk needs max-chain-length rounds; the
    * doubling contraction (p ← p∘p, the classic parallel list-ranking
    * trick) resolves every chain of length ≤ maxHops in ⌈log₂ maxHops⌉+1
    * self-joins, each a plain equi-join on the current pointer.
    *
    * The redirect relation is made functional first (one outgoing edge
    * per src — min dst, deterministic). A src resolves when its pointer
    * reaches a node with no outgoing redirect: status `resolved`, with
    * the final URL and the exact hop count (unique values, independent
    * of algorithm). A src still pointing at a redirecting node after the
    * doubling budget sits on or upstream of a CYCLE (or a chain longer
    * than maxHops): status `cycle_or_long` with final/hops NULL — the
    * intermediate pointer would be an artifact of the round schedule, so
    * it is deliberately not exposed.
    */
  def resolveRedirects(redirects: DataFrame, maxHops: Int = 32): DataFrame = {
    require(maxHops >= 1 && maxHops <= (1 << 20),
      s"resolveRedirects: maxHops in [1, 2^20], got $maxHops")
    var nxt = redirects
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .groupBy("src").agg(min(col("dst")).as("dst"))
      .repartition(Adapt.partitionsForPlan(redirects), col("src"))
      .persist()
    val m = nxt.count()
    nxt = Adapt.compact(nxt, m, col("src"))
    val pN = Adapt.partitionsFor(nxt, m)
    var ptr = nxt.select(col("src"), col("dst").as("cur"), lit(1L).as("hops"))
      .localCheckpoint(eager = false)
    val rounds = (32 - Integer.numberOfLeadingZeros(maxHops - 1).max(0)) + 1
    var r = 0
    while (r < rounds) {
      val hop = ptr.select(col("src").as("jsrc"), col("cur").as("jcur"),
        col("hops").as("jhops"))
      ptr = ptr.join(hop, col("cur") === col("jsrc"), "left")
        .select(col("src"),
          coalesce(col("jcur"), col("cur")).as("cur"),
          (col("hops") + coalesce(col("jhops"), lit(0L))).as("hops"))
        .coalesce(pN)
        // lazy: the doubling sequence is FIXED (no per-round decision),
        // so the whole chain submits as one cascade from the final
        // count — the former per-round count() paid a driver sync and a
        // plan pass per round; each round's checkpoint blocks still
        // materialize exactly once inside the cascade, shared by the
        // next round's two join legs
        .localCheckpoint(eager = false)
      r += 1
    }
    val out = ptr
      .join(nxt.select(col("src").as("cur"), lit(true).as("redirects_on")),
        Seq("cur"), "left")
      .select(col("src"),
        when(col("redirects_on").isNull, col("cur")).as("final"),
        when(col("redirects_on").isNull, col("hops")).as("hops"),
        when(col("redirects_on").isNull, "resolved")
          .otherwise("cycle_or_long").as("status"))
      .localCheckpoint(eager = false)
    out.count()
    nxt.unpersist()
    out
  }

  /** Head-metadata extraction — title, meta description, `rel=canonical`
    * target, and declared charset per page, in ONE map-only codegen'd
    * projection (four first-match regexes, each RE2/Java-agnostic: no
    * lookaround, no backrefs, double-quoted attributes — the engine's
    * documented regex-layer scope). The canonical link is the publisher's
    * own dedup signal (fold variants onto it BEFORE content dedup);
    * title/description feed the ranking/quality features; charset routes
    * re-decoding. Absent fields come back as '' (both engines' no-match
    * value), never null.
    */
  def htmlMeta(pages: DataFrame, htmlCol: String = "html"): DataFrame = {
    val h = col(htmlCol).cast("string")
    pages.select(col("doc_id"),
      regexp_extract(h, "<title>([^<]*)</title>", 1).as("title"),
      regexp_extract(h, "<meta name=\"description\" content=\"([^\"]*)\"", 1)
        .as("description"),
      regexp_extract(h, "<link rel=\"canonical\" href=\"([^\"]*)\"", 1)
        .as("canonical"),
      regexp_extract(h, "<meta charset=\"([^\"]*)\"", 1).as("charset"))
  }

  /** Per-host link reciprocity — the link-exchange / link-farm signal
    * (organic linking is overwhelmingly one-directional; paid exchanges
    * and farm rings reciprocate): for every host with out-links, its
    * out-degree and how many of those out-links point at hosts that link
    * back. One self equi-join on the full (src, dst) key (the reverse
    * side is the same deduped edge frame re-keyed — a semi join, so
    * nothing is materialized per match) + two map-side-combined
    * aggregations. Returns (host, n_out, n_recip).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist()
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val out = e.groupBy(col("src").as("host")).agg(count(lit(1)).as("n_out"))
      .join(recip.groupBy(col("src").as("host")).agg(count(lit(1)).as("n_recip")),
        Seq("host"), "left")
      .select(col("host"), col("n_out"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"))
      .localCheckpoint(eager = false)
    out.count()
    e.unpersist()
    out
  }

  /** Host quality gate by Wilson score lower bound — the small-sample-
    * safe way to decide "is this host's good-page rate really above τ?"
    * (a host with 3/3 good pages must NOT outrank one with 95/100; the
    * Wilson interval (1927) is the standard fix). The decision
    *   lower_bound(k, n, z) ≥ tNum/tDen
    * is evaluated as an EXACT INTEGER CERTIFICATE: with z² = c/d
    * rational (default z = 49/25 = 1.96), the bound inequality is
    * cleared of its square root by the equivalent polynomial test
    *   AI = 2·d·tD·k + c·tD − 2·tN·(d·n + c)   must be ≥ 0, and
    *   4·c·d·tD²·k·(n−k) + c²·tD²·n  ≤  n·AI²
    * — algebra: multiply the bound's numerator/denominator by n, isolate
    * the sqrt, square (valid once AI ≥ 0), clear denominators. No float
    * is ever computed, so the gate is bit-exact in SQL and at any
    * parallelism; decimal(38,0) intermediates keep the certificate exact
    * for per-host page counts up to ~10¹⁰.
    *
    * Input: one row per page with a boolean `goodCol`. One map-side-
    * combined aggregation + per-row integer arithmetic. Returns
    * (host, n, k, pass).
    */
  def hostQualityGate(pages: DataFrame, goodCol: String = "good",
                      zNum: Long = 49, zDen: Long = 25,
                      tNum: Long = 1, tDen: Long = 2): DataFrame = {
    require(zNum > 0 && zDen > 0 && tNum >= 0 && tDen > 0 && tNum <= tDen,
      s"hostQualityGate: need z > 0 and 0 <= t <= 1, got z=$zNum/$zDen t=$tNum/$tDen")
    // the Long coefficient products below (c²·tDen² etc.) stay exact only
    // while c = zNum² ≤ 10⁶ and tDen ≤ 10³ — loud bound, not silent wrap
    require(zNum <= 1000 && zDen <= 1000 && tDen <= 1000,
      s"hostQualityGate: zNum/zDen <= 1000 and tDen <= 1000 keep the integer " +
        s"certificate exact in Long, got z=$zNum/$zDen tDen=$tDen")
    val c = zNum * zNum
    val d = zDen * zDen
    pages.groupBy("host")
      .agg(count(lit(1)).as("n"), count(when(col(goodCol), 1)).as("k"))
      .withColumn("ai", expr(
        s"""CAST(${2 * d * tDen} AS DECIMAL(38,0)) * k
            + ${c * tDen}
            - CAST(${2 * tNum} AS DECIMAL(38,0)) * ($d * n + $c)"""))
      .withColumn("pass",
        col("ai") >= 0 && expr(
          s"""CAST(${4 * c * d * tDen * tDen} AS DECIMAL(38,0)) * k * (n - k)
              + CAST(${c * c * tDen * tDen} AS DECIMAL(38,0)) * n
              <= CAST(n AS DECIMAL(38,0)) * ai * ai"""))
      .select("host", "n", "k", "pass")
  }

  /** Snapshot diff between two crawls — the incremental-curation
    * primitive (what changed since the last monthly crawl decides what
    * re-enters the dedup/quality pipeline): per canonical URL, whether
    * it was `added`, `removed`, `changed`, or `unchanged` between the
    * `before` and `after` page sets. Each side is first collapsed to its
    * LATEST fetch per URL with [[urlDedupLatest]]'s max-of-struct argmax
    * (one map-side-combined aggregation), then content identity is one
    * md5 compare across a single full-outer equi-join on the canonical
    * URL — two aggs + one shuffle join at any corpus size, with AQE
    * skew-splitting the join if one crawl is lopsided.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   textCol: String = "text"): DataFrame = {
    def latest(df: DataFrame): DataFrame =
      urlDedupLatest(df).select(col("norm_url"),
        md5(encode(col(textCol).cast("string"), "UTF-8")).as("h"))
    latest(before).withColumnRenamed("h", "h_before")
      .join(latest(after).withColumnRenamed("h", "h_after"),
        Seq("norm_url"), "full_outer")
      .select(col("norm_url"),
        when(col("h_before").isNull, "added")
          .when(col("h_after").isNull, "removed")
          .when(col("h_before") === col("h_after"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** k-core of the undirected host graph — simultaneous-peeling
    * decomposition (Seidman 1983; the distributed formulation of
    * Montresor et al.): repeatedly delete EVERY node of degree < k until
    * none remains, returning `(node, deg)` for the surviving core with
    * in-core degrees. The k-core is the standard link-farm / dense-spam
    * detector (organic web neighborhoods thin out; farms survive deep
    * cores) and a seed-set filter for TrustRank.
    *
    * Simultaneous peeling is deterministic — the result is the unique
    * maximal subgraph with min degree ≥ k regardless of order, so any
    * parallelism and a round-unrolled SQL oracle agree exactly. Scale
    * shape per round: one map-side-combined degree aggregation + two
    * anti joins against the (small) sub-threshold node set; the edge
    * frame is lazily localCheckpoint'ed and materialized by the round's
    * own count, the CC/pageRank fused-job pattern. Round count is
    * data-dependent (worst case a path peels end-inward), so `maxRounds`
    * fails loudly rather than silently returning a non-core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxRounds >= 1, s"kCore: maxRounds must be >= 1, got $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var cur = edges
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint(eager = false)
    val pE = Adapt.partitionsFor(cur, cur.count())
    cur = cur.coalesce(pE).localCheckpoint(eager = false)
    var done = false
    var r = 0
    // the previous round's sub-threshold set stays cached until THIS
    // round's degree count has materialized the edge frame built from it
    // — the former explicit per-round cur.count() job is gone (one job
    // per round instead of two; the bad.count() convergence probe is the
    // round's single action and fused materializer)
    var prevBad: DataFrame = null
    while (!done && r < maxRounds) {
      // coalesce BEFORE the persist: a cached plan pins its pre-AQE
      // partitioning (canChangeCachedPlanOutputPartitioning is off), so
      // the sub-threshold set otherwise materializes at the full
      // conf-partition width and every round re-scans those near-empty
      // tasks (measured 1.6k tasks over ~10 rounds on a 997-node graph)
      val bad = degrees(cur).filter(col("deg") < k).select("node")
        .coalesce(pE).persist()
      val nBad = bad.count() // materializes the previous round's cur too
      if (prevBad != null) { prevBad.unpersist(); prevBad = null }
      if (nBad == 0) { done = true; bad.unpersist() }
      else {
        cur = cur
          .join(bad.select(col("node").as("u")), Seq("u"), "left_anti")
          .join(bad.select(col("node").as("v")), Seq("v"), "left_anti")
          .coalesce(pE)
          .localCheckpoint(eager = false)
        prevBad = bad
        r += 1
      }
    }
    require(done, s"kCore: did not converge within $maxRounds peeling rounds")
    val out = degrees(cur).coalesce(pE).localCheckpoint(eager = false)
    out.count() // materialize before the last round's bad cache is released
    if (prevBad != null) prevBad.unpersist()
    out
  }

  /** Per-URL recrawl churn statistics — the crawl-scheduling signal
    * (Cho & Garcia-Molina 2003 "Effective page refresh policies"):
    * how often a page's content actually changed across its fetches
    * drives how often it deserves re-crawling, and which corpus
    * snapshot versions are worth keeping. For every canonical URL:
    * fetch count, distinct content versions, the number of
    * consecutive-fetch content changes, and the first/last fetch time.
    *
    * Determinism: fetches are ordered by (warc_sec, content hash) — the
    * hash breaks same-second ties totally, so `n_changes` is
    * plan-independent (two identical-content same-second fetches
    * contribute 0 either way; differing ones are counted in one fixed
    * order). Scale shape: ONE shuffle — the window partitions by
    * norm_url and the aggregation groups by the same key, so Spark
    * reuses the exchange; per-URL state is that URL's own fetch list
    * (refetch counts are crawl-bounded, not corpus-bounded).
    */
  def urlChangeRate(pages: DataFrame, textCol: String = "text"): DataFrame = {
    val p = pages.select(normalizeUrl(col("url")).as("norm_url"),
      col("warc_sec"),
      md5(encode(col(textCol).cast("string"), "UTF-8")).as("h"))
    val w = Window.partitionBy("norm_url").orderBy(col("warc_sec"), col("h"))
    p.withColumn("prev", lag(col("h"), 1).over(w))
      .groupBy("norm_url")
      .agg(
        count(lit(1)).as("n_fetches"),
        countDistinct(col("h")).as("n_versions"),
        count(when(col("prev").isNotNull && col("prev") =!= col("h"), 1))
          .as("n_changes"),
        min(col("warc_sec")).as("first_sec"),
        max(col("warc_sec")).as("last_sec"))
  }

  /** Per-node triangle counts over the undirected host graph — the local
    * clustering signal behind link-farm detection (a spam ring is a
    * near-clique: triangle-dense far beyond organic linking) and
    * community density scoring. Returns `(node, deg, n_tri)` for every
    * node; the local clustering coefficient is `2·n_tri/(deg·(deg−1))`,
    * left to the caller so the output stays all-integer (and therefore
    * bit-exact against a SQL oracle).
    *
    * Algorithm: the degree-ordered node-iterator join (Schank & Wagner
    * 2005 / Suri & Vassilvitskii WWW'11 "MR node-iterator++"). Edges are
    * canonicalized, deduped, and ORIENTED from the lower to the higher
    * endpoint in the (degree, id) total order; each triangle then has
    * exactly one wedge whose apex precedes both ends, so one self
    * equi-join on the apex plus one closing equi-join counts every
    * triangle once. The orientation is the scale guarantee: out-degree
    * after orienting is O(√|E|) for ANY degree distribution — a
    * 10⁸-degree hub's wedges are generated from its (low-degree)
    * neighbors' short out-lists, never from the hub's own adjacency, so
    * the wedge stage cannot go quadratic in the hub degree. All three
    * joins are equi-joins on node ids (the dst-order predicate is a join
    * FILTER, not the key), map-side combinable, AQE-skew-splittable.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    var und = edges
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .coalesce(Adapt.partitionsForPlan(edges))
      .persist()
    val m = und.count()
    und = Adapt.compact(und, m, col("a"))
    var deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .coalesce(Adapt.partitionsForPlan(edges))
      .persist()
    deg.count()
    deg = Adapt.compact(deg, m, col("node"))
    // orient a→b iff (deg_a, a) < (deg_b, b); a < b already, so the tie
    // collapses to deg_a <= deg_b. ddeg rides along for the wedge order.
    val cond = col("da") <= col("db")
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(cond, col("a")).otherwise(col("b")).as("src"),
        when(cond, col("b")).otherwise(col("a")).as("dst"),
        when(cond, col("db")).otherwise(col("da")).as("ddeg"))
      .coalesce(Adapt.partitionsFor(und, m))
      .persist()
    val e1 = oriented.select(col("src"), col("dst").as("d1"), col("ddeg").as("g1"))
    val e2 = oriented.select(col("src"), col("dst").as("d2"), col("ddeg").as("g2"))
    val closing = oriented.select(col("src").as("cs"), col("dst").as("cd"))
    val tri = e1.join(e2, Seq("src"))
      .filter(col("g1") < col("g2") || (col("g1") === col("g2") && col("d1") < col("d2")))
      .join(closing, col("d1") === col("cs") && col("d2") === col("cd"))
    val perNode = tri.select(col("src").as("node"))
      .union(tri.select(col("d1").as("node")))
      .union(tri.select(col("d2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .localCheckpoint(eager = false)
    out.count() // materialize before dropping the caches it was built from
    und.unpersist(); deg.unpersist(); oriented.unpersist()
    out
  }

  /** Directed out-in degree assortativity (Newman 2002) of the host
    * graph: across edges (u, v), the Pearson correlation between u's
    * out-degree and v's in-degree — the "do hubs link to hubs?" spam/
    * link-farm signal. Exported as EXACT integer certificates (the
    * Wilson-gate trick): moment sums M, Σj, Σk, Σjk, Σj², Σk², the
    * covariance numerator num = M·Σjk − Σj·Σk, the variance terms
    * den_j/den_k, and r²·10⁶ with r's sign — sqrt never evaluated, so
    * every column is order-free integer arithmetic (decimal(38,0)
    * internally), bit-identical at any parallelism and in SQL.
    *
    * Plan shape: dedup + two degree aggregations + two equi-joins back
    * to the edge list + one scalar aggregate. Degree frames are
    * host-sized, edges shuffle on their own keys — no windows, no theta
    * joins.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val outd = e.groupBy("src").agg(count(lit(1)).as("j"))
    val ind = e.groupBy("dst").agg(count(lit(1)).as("k"))
    e.join(outd, "src").join(ind, "dst")
      .agg(count(lit(1)).as("m"),
        sum("j").as("sj"), sum("k").as("sk"),
        sum(col("j") * col("k")).as("sjk"),
        sum(col("j") * col("j")).as("sj2"),
        sum(col("k") * col("k")).as("sk2"))
      .select(col("m"), col("sj"), col("sk"), col("sjk"), col("sj2"), col("sk2"),
        (col("m") * col("sjk") - col("sj") * col("sk")).cast(dec).as("numd"),
        (col("m") * col("sj2") - col("sj") * col("sj")).cast(dec).as("denjd"),
        (col("m") * col("sk2") - col("sk") * col("sk")).cast(dec).as("denkd"))
      .select(col("m"), col("sj"), col("sk"), col("sjk"), col("sj2"), col("sk2"),
        col("numd").cast("long").as("num"),
        col("denjd").cast("long").as("den_j"),
        col("denkd").cast("long").as("den_k"),
        when(col("denjd") <= 0 || col("denkd") <= 0, lit(0L))
          .otherwise(
            when(col("numd") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr(s"CAST(CAST(numd * numd * 1000000 AS $dec) " +
                s"DIV CAST(denjd * denkd AS $dec) AS BIGINT)"))
          .as("r2_ppm"))
  }

  /** Per-host corpus statistics: page count, distinct languages, total
    * text characters, first/last crawl timestamp. One hash aggregation
    * with map-side combine on the host key — the host distribution of a
    * real crawl is skewed, but the combine runs before the shuffle so a
    * hot host costs one reducer the merged partials, not the raw rows.
    */
  def hostStats(pages: DataFrame): DataFrame =
    pages
      .select(hostOf(normalizeUrl(col("url"))).as("host"),
        col("lang"), col("warc_sec"), length(col("text")).cast("long").as("n_chars"))
      .groupBy("host")
      .agg(
        count(lit(1)).as("n_pages"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("warc_sec")).as("first_sec"),
        max(col("warc_sec")).as("last_sec"))

  /** Spam mass (Gyöngyi, Garcia-Molina & Pedersen — the TrustRank
    * paper's companion metric): the fraction of a host's PageRank that
    * arrives from UNTRUSTED sources, m = (PR − TR)/PR. Both ranks run in
    * the same exact integer fixed-point units (same graph, same damping,
    * same iteration count), so the mass is a pure integer fold:
    * sign-explicit truncate-toward-zero ppm (trusted hubs can exceed
    * their unpersonalized rank → negative mass, kept signed). High
    * positive mass + high PR = the link-farm shortlist.
    */
  def spamMass(edges: DataFrame, seeds: DataFrame, iters: Int = 5): DataFrame = {
    // materialize the cleaned edge list ONCE: pageRank and trustRank each
    // re-derive (filter + distinct) their input, which previously meant
    // two full passes over the upstream edge source; both inner preps now
    // read this one checkpointed frame (their inner distinct over
    // already-distinct rows is one cheap exchange, not a re-scan)
    val e0 = edges
      .select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    e0.count() // materialize once before both consumers race to it
    // PR and TR are independent fixed points over the same edge frame:
    // run them as concurrent driver-side jobs (guide: overlap independent
    // jobs) — each is a chain of tiny rounds, so the scheduler interleaves
    // them and the wall cost is max, not sum
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val prF = Future(pageRank(e0, iters).withColumnRenamed("rank", "pr"))
    val trF = Future(trustRank(e0, seeds, iters).withColumnRenamed("rank", "tr"))
    val pr = Await.result(prF, Duration.Inf)
    val tr = Await.result(trF, Duration.Inf)
    pr.join(tr, "host")
      .select(col("host"), col("pr"), col("tr"),
        when(col("pr") === 0L, lit(0L))
          .when(col("pr") >= col("tr"),
            expr("CAST((pr - tr) * 1000000 DIV pr AS BIGINT)"))
          .otherwise(-expr("CAST((tr - pr) * 1000000 DIV pr AS BIGINT)"))
          .as("smass_ppm"))
  }

  /** Newman–Girvan modularity of a node partition over the undirected
    * simple graph — the quality certificate for [[lpaCommunities]] (a
    * partition with Q near 0 is no better than random; link-farm
    * detection reads high-Q tight blocks). Everything is an EXACT
    * integer: with 2m = Σdeg and e2_c = DOUBLE-counted intra-community
    * edges, Q = Σ_c [e2_c/2m − (d_c/2m)²] = Qnum / (2m)² where
    * Qnum = 2m·Σe2_c − Σ(d_c²) — no division until the final
    * truncate-toward-zero ppm (sign-explicit, the geo_moran
    * convention; the whole-graph partition lands at exactly 0). One row:
    * (n_communities, two_m, e2_sum, d2_sum, q_num, q_ppm).
    *
    * Scale shape: two equi-joins of the symmetrized edge list against
    * the (small) label table, two map-side-combined aggs, one scalar
    * fold. No window, no theta-join.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val lab = labels.select(col("host"), col("community"))
    val both = sym
      .join(lab.select(col("host").as("src"), col("community").as("cs")), "src")
      .join(lab.select(col("host").as("dst"), col("community").as("cd")), "dst")
    val perC = both
      .groupBy(col("cs").as("community"))
      .agg(count(lit(1)).as("d_c"), // Σ over members of their degree
        sum(when(col("cs") === col("cd"), 1L).otherwise(0L)).as("e2_c"))
    perC.agg(
        count(lit(1)).as("n_communities"),
        sum("d_c").as("two_m"),
        sum("e2_c").as("e2_sum"),
        sum(col("d_c") * col("d_c")).as("d2_sum"))
      .withColumn("q_num", col("two_m") * col("e2_sum") - col("d2_sum"))
      .withColumn("q_ppm",
        when(col("q_num") >= 0,
          expr("CAST(q_num * 1000000 DIV (two_m * two_m) AS BIGINT)"))
          .otherwise(-expr("CAST((-q_num) * 1000000 DIV (two_m * two_m) AS BIGINT)")))
  }

  /** HyperBall (Boldi & Vigna, WWW 2013): every node carries a
    * HyperLogLog sketch of its out-ball B(v,t) = {w : dist(v,w) ≤ t};
    * one round unions each node's sketch with its out-neighbors'
    * sketches, so after t rounds the sketch covers exactly the t-ball.
    * This is THE scale design for distance distributions: state is
    * O(nodes · m) registers (m = 2^p), never the O(n²) of all-pairs
    * BFS, and a round is ONE register×edge equi-join plus ONE
    * (host, reg_no) max-agg — both map-side-combinable, both exact
    * integer maxima, so the register table is bit-identical at any
    * parallelism (HyperBall's union ≡ register-wise max is lossless
    * by the HLL merge theorem).
    *
    * Returns the register table after `rounds` rounds:
    * (host, reg_no, reg). Each round localCheckpoints lazily; the
    * per-round materialization rides the next round's first job (the
    * pageRank/CC fused-job pattern).
    */
  def hyperBall(edges: DataFrame, rounds: Int, p: Int = 9,
                family: String = "xxhash64"): DataFrame =
    ballLoop(edges, rounds, p, family)((_, _) => ())

  /** The shared HyperBall round loop: edge prep (null/self-loop filter,
    * distinct, one repartition on dst), node-key register init, then
    * `rounds` register-max rounds, each eagerly localCheckpointed so
    * lineage stays flat. `observe(regs, t)` fires at t = 0 and after
    * every round — hyperBall ignores it, ballProfile and
    * neighborhoodFunction fold their per-round artifacts from it.
    * Returns the final register table.
    */
  private def ballLoop(edges: DataFrame, rounds: Int, p: Int, family: String)
                      (observe: (DataFrame, Int) => Unit): DataFrame = {
    require(rounds >= 0, s"hyperBall: rounds must be >= 0, got $rounds")
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .repartition(Adapt.partitionsForPlan(edges), col("dst"))
      .persist()
    val m = e.count()
    e = Adapt.compact(e, m, col("dst"))
    // register state is nodes × occupied registers ≤ 2m × 2^p rows of
    // three ints: size its checkpoints from the edge count
    val pR = Adapt.partitionsFor(e, m)
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host")))
      .distinct()
    var regs = graft.ops.Sketches.hllRegisters(
        nodes.withColumn("ball_key", col("host").cast("string")),
        "ball_key", Seq("host"), p, family)
      .coalesce(pR)
      .localCheckpoint(eager = false)
    observe(regs, 0)
    var t = 1
    while (t <= rounds) {
      val contrib = e.join(regs, e("dst") === regs("host"))
        .select(e("src").as("host"), col("reg_no"), col("reg"))
      regs = regs.unionByName(contrib)
        .groupBy("host", "reg_no")
        .agg(max(col("reg")).cast("int").as("reg"))
        .coalesce(pR)
        // lazy: the round count is FIXED, so the chain submits as one
        // cascade from the count below (one driver round trip total
        // instead of one per round); every round's blocks still
        // materialize once — round t+1 and any observer frame read them
        .localCheckpoint(eager = false)
      observe(regs, t)
      t += 1
    }
    regs.count() // materialize the whole cascade before the edges release
    e.unpersist()
    regs
  }

  /** Crawl-priority scoring — the frontier scheduler's ranking signal:
    * exact fixed-point PageRank × the host's page count, both already
    * exact integers, so the product (Decimal(38): rank ≤ 10¹², count ≤
    * 10¹² ⇒ headroom) and the (priority DESC, host) top-k total order
    * are bit-stable and oracle-exact. Composes two artifacts this
    * engine already certifies — the point is that exact-integer ops
    * COMPOSE without re-deriving determinism arguments.
    */
  def crawlPriority(edges: DataFrame, hostPages: DataFrame,
                    iters: Int = 5, topK: Int = 20): DataFrame = {
    val pr = pageRank(edges, iters)
    pr.join(hostPages, Seq("host"))
      .withColumn("priority",
        expr("CAST(CAST(rank AS DECIMAL(38,0)) * n_pages AS DECIMAL(38,0))"))
      .orderBy(col("priority").desc, col("host"))
      .limit(topK)
      .select(col("host"), col("rank"), col("n_pages"), col("priority"))
  }

  /** Per-node ball profile from HyperBall: (host, t, nonzero) for every
    * t in 0..rounds — the per-node artifact behind closeness/harmonic
    * centrality estimation (Boldi & Vigna's application: centrality =
    * a function of the ball-size curve; `nonzero` is the exact integer
    * piece of each ball's HLL estimate, kept integer so the profile is
    * hash-checkable; the FP estimate is one formula away). Same loop
    * and state bound as [[hyperBall]].
    */
  def ballProfile(edges: DataFrame, rounds: Int, p: Int = 9,
                  family: String = "xxhash64"): DataFrame = {
    var out: DataFrame = null
    ballLoop(edges, rounds, p, family) { (regs, t) =>
      val prof = regs.groupBy("host")
        .agg(count(lit(1)).as("nonzero"))
        .select(col("host"), lit(t).as("t"), col("nonzero"))
      out = if (out == null) prof else out.unionByName(prof)
    }
    out
  }

  /** Neighborhood function from HyperBall: for every t in 0..rounds the
    * global exact-integer sketch summary over all per-node t-ball
    * sketches — `sum_nonzero` (occupied registers across all nodes) and
    * `zsum` = Σ_v Σ_j 2^(R − M_vj) as decimal(38,0), the exact integer
    * form of the summed HLL indicators (the FP estimate is one division
    * away and deliberately stays out of the hash-checked artifact,
    * exactly like [[Sketches.hllSummary]]). Monotonicity in t is a
    * structural invariant: registers only grow.
    */
  def neighborhoodFunction(edges: DataFrame, rounds: Int, p: Int = 9,
                           family: String = "xxhash64"): DataFrame = {
    val m = 1L << p
    val maxRank = 61 - p
    def summary(regs: DataFrame, t: Int): DataFrame =
      regs.agg(
          countDistinct(col("host")).as("hosts"),
          count(lit(1)).as("sum_nonzero"),
          sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $maxRank - reg) AS DECIMAL(38,0))"))
            .as("znon"))
        .select(lit(t).as("t"), col("hosts"), col("sum_nonzero"),
          (col("znon") +
            (col("hosts") * lit(m) - col("sum_nonzero")).cast("decimal(38,0)") *
              lit(1L << maxRank).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("zsum"))
    var out: DataFrame = null
    ballLoop(edges, rounds, p, family) { (regs, t) =>
      val s = summary(regs, t)
      out = if (out == null) s else out.unionByName(s)
    }
    out
  }

  // -------------------------------------- WebGraph-style adjacency compression

  /** Varint (unsigned LEB128) byte length of a non-negative value
    * < 2^35 — the exact integer the accounting query sums.
    */
  private def varintLen(v: Column): Column =
    when(v < 128L, 1)
      .when(v < (1L << 14), 2)
      .when(v < (1L << 21), 3)
      .when(v < (1L << 28), 4)
      .otherwise(5)

  /** Per-source adjacency-list compression accounting under the
    * WebGraph/BV gap scheme (Boldi & Vigna WWW'04, the successor-gap
    * core without reference chains): successors sorted ascending and
    * deduplicated; the FIRST successor is stored as
    * zigzag(dst₀ − src) (links point near their source, so this is
    * small), every later one as the gap dst_i − dst_{i−1} ≥ 1; each
    * value costs its LEB128 varint length. Output per source: degree,
    * compressed bytes, raw bytes (8/successor), and the truncating
    * ratio in ppm.
    *
    * Scale shape: ONE exchange on src — the dedup, the lag window, and
    * the final sum all ride the same hash partitioning (Catalyst reuses
    * the exchange), so at 10¹² edges this is exactly the one shuffle an
    * adjacency rewrite must pay. [[adjacencyEncode]]/[[adjacencyDecode]]
    * are the real byte codec the accounting describes; AdjacencySpec
    * proves encoded length ≡ the query's arithmetic, row for row.
    */
  /** Shared gap frame: (src, dst, enc) with duplicate edges removed
    * INSIDE the src partitioning (a row equal to its lag is a
    * duplicate) instead of a .distinct() — that would cost a second
    * exchange on (src, dst) before the window's exchange on src.
    */
  private def gapFrame(edges: DataFrame): DataFrame = {
    val w = Window.partitionBy("src").orderBy("dst")
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .withColumn("dup", lag(col("dst"), 1).over(w) === col("dst"))
      .where(!coalesce(col("dup"), lit(false)))
      .withColumn("prev", lag(col("dst"), 1).over(w))
      .withColumn("enc",
        when(col("prev").isNull,
          // zigzag(dst0 - src)
          when(col("dst") - col("src") >= 0, (col("dst") - col("src")) * 2)
            .otherwise((col("src") - col("dst")) * 2 - 1))
          .otherwise(col("dst") - col("prev")))
  }

  def adjacencyCompress(edges: DataFrame): DataFrame = {
    gapFrame(edges).groupBy("src")
      .agg(count(lit(1)).as("degree"),
        sum(varintLen(col("enc")).cast("long")).as("bytes"))
      .withColumn("raw_bytes", col("degree") * 8L)
      .withColumn("ratio_ppm", expr("bytes * 1000000 div raw_bytes"))
  }

  /** Engine-portable floor(log2(v)) for 1 ≤ v < 2^35 as a generated
    * CASE chain — shared verbatim by the Spark column and the DuckDB
    * oracle (no float log, whose boundary values would diverge).
    */
  def floorLog2Sql(v: String): String =
    (1 to 34).map(b => s"WHEN $v < ${1L << b} THEN ${b - 1}")
      .mkString("CASE ", " ", " ELSE 34 END")

  /** Rice/Golomb-coded adjacency accounting over the same gap frame as
    * [[adjacencyCompress]]: per source the Rice parameter
    * k = floor(log2(max(1, mean gap))) (the textbook near-optimal
    * choice for geometric gaps), each value costing
    * (v >> k) + 1 + k bits (unary quotient, stop bit, k remainder
    * bits). Output per source: degree, k, exact total bits, bytes
    * (ceil), and the varint bytes for comparison — the accounting a
    * posting-list format chooses its codec by. Same ONE-exchange shape:
    * the per-src mean rides an unordered window over the lag window's
    * partitioning. [[riceEncode]]/[[riceDecode]] are the real bit codec;
    * AdjacencySpec proves bit-length ≡ the accounting per source.
    */
  def adjacencyRice(edges: DataFrame): DataFrame = {
    val wp = Window.partitionBy("src")
    gapFrame(edges)
      .withColumn("enc_sum", sum("enc").over(wp))
      .withColumn("degree", count(lit(1)).over(wp))
      .withColumn("mean_gap", greatest(lit(1L), expr("enc_sum div degree")))
      .withColumn("k", expr(floorLog2Sql("mean_gap")))
      .withColumn("bits", expr("shiftright(enc, k) + 1 + k"))
      .groupBy("src")
      .agg(count(lit(1)).as("degree"), max("k").as("k"),
        sum("bits").as("rice_bits"),
        sum(varintLen(col("enc")).cast("long")).as("varint_bytes"))
      .withColumn("rice_bytes", expr("(rice_bits + 7) div 8"))
      .select(col("src"), col("degree"), col("k"), col("rice_bits"),
        col("rice_bytes"), col("varint_bytes"))
  }

  /** Real Rice bit codec (JVM side): for each value, quotient v >> k in
    * unary (q ones, a zero stop bit), then the k low bits MSB-first.
    */
  def riceEncode(values: Seq[Long], k: Int): Array[Byte] = {
    require(k >= 0 && k < 35, s"rice: k out of range: $k")
    val bits = new ArrayBuffer[Boolean]()
    for (v <- values) {
      require(v >= 0, s"rice: negative value $v")
      val q = v >>> k
      var i = 0L
      while (i < q) { bits += true; i += 1 }
      bits += false
      var b = k - 1
      while (b >= 0) { bits += ((v >>> b) & 1) == 1; b -= 1 }
    }
    val out = new Array[Byte]((bits.length + 7) / 8)
    for (i <- bits.indices if bits(i))
      out(i / 8) = (out(i / 8) | (0x80 >>> (i % 8))).toByte
    out
  }

  /** Inverse of [[riceEncode]] given k and the value count. */
  def riceDecode(bytes: Array[Byte], k: Int, n: Int): Seq[Long] = {
    var pos = 0
    val total = bytes.length * 8
    def bit(): Boolean = {
      require(pos < total, "rice: truncated stream")
      val b = (bytes(pos / 8) & (0x80 >>> (pos % 8))) != 0
      pos += 1
      b
    }
    (0 until n).map { _ =>
      var q = 0L
      while (bit()) q += 1
      var v = q << k
      var b = k - 1
      while (b >= 0) { if (bit()) v |= 1L << b; b -= 1 }
      v
    }
  }

  /** Real byte encoder for one adjacency list (JVM side, the artifact
    * the accounting measures): sorted-distinct successors → zigzag
    * first + gaps, each LEB128-encoded.
    */
  def adjacencyEncode(src: Long, dsts: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def putVarint(v0: Long): Unit = {
      require(v0 >= 0, s"varint of negative $v0")
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    val sorted = dsts.distinct.sorted
    sorted.zipWithIndex.foreach { case (d, i) =>
      if (i == 0) {
        val x = d - src
        putVarint(if (x >= 0) x * 2 else -x * 2 - 1)
      } else putVarint(d - sorted(i - 1))
    }
    out.toByteArray
  }

  /** Inverse of [[adjacencyEncode]] given the source id and degree. */
  def adjacencyDecode(src: Long, degree: Int, bytes: Array[Byte]): Seq[Long] = {
    var p = 0
    def getVarint(): Long = {
      var v = 0L; var sh = 0; var more = true
      while (more) {
        require(p < bytes.length, "adjacency: truncated varint")
        val b = bytes(p) & 0xff; p += 1
        v |= (b & 0x7fL) << sh; sh += 7; more = (b & 0x80) != 0
      }
      v
    }
    val out = new Array[Long](degree)
    var i = 0
    while (i < degree) {
      if (i == 0) {
        val z = getVarint()
        out(0) = src + (if ((z & 1) == 0) z / 2 else -(z + 1) / 2)
      } else out(i) = out(i - 1) + getVarint()
      i += 1
    }
    require(p == bytes.length, "adjacency: trailing bytes")
    out.toSeq
  }
}
