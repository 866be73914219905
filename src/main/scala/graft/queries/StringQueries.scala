package graft.queries

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.Ranking
import graft.sources.KvBlock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** String/regex/templating/KV/JSON operator families (SURVEY.md §2.8
  * F1/F2/F6/F7/F8/F11/F13, §2.2 P11/P14, §2.3 J2/J3) over the synthetic
  * tables. Synthesized inputs follow the reference's wire formats (search
  * query templates, KV blocks, fenced JSON, URLs) and parse back with the
  * engine's functions; oracles recompute from the typed columns.
  */
object StringQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Blocked fuzzy join — the entity-resolution shape behind the
    // reference's enterprise-name matching (S12, 多数据源获取数据.py:1673-1703):
    // dirty variants (one deleted character, derived deterministically
    // from customer names — tables ship no dirty strings) matched back by
    // a 16-char blocking prefix + Levenshtein ≤ 1. The blocking equi-join
    // bounds the edit-distance quadratic to block-size² (the classic ER
    // blocking move; bigger/dirtier blocks would graduate to
    // sorted-neighborhood or canopies). Spark and DuckDB both implement
    // unit-cost Levenshtein, so every distance is oracle-exact.
    "q167_fuzzy_blocked_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      // delete char 17 (even keys) or 18 (odd): both leave chars 1-16 —
      // the blocking prefix — intact
      // % 5, not % 10: an even modulus would make every variant key even
      // and the odd deletion branch dead code
      val variants = c.filter(pmod(col("c_custkey"), lit(5)) === 0)
        .select(col("c_custkey").as("vid"),
          when(pmod(col("c_custkey"), lit(2)) === 0,
            concat(substring(col("c_name"), 1, 16), substring(col("c_name"), 18, 5)))
            .otherwise(substring(col("c_name"), 1, 17)).as("vname"))
      variants
        .join(c, substring(col("vname"), 1, 16) === substring(col("c_name"), 1, 16))
        .withColumn("dist", levenshtein(col("vname"), col("c_name")))
        .filter(col("dist") <= 1)
        .select(col("vid"), col("c_custkey").as("cand_key"), col("dist"))
    }),

    // F6 query templating with include/exclude site filters
    // (多数据源获取链接.py:489-640 shape).
    "q26_query_template" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("query_str",
          concat(lit("\""), col("p_brand"), lit("\" AND \""), col("p_type"),
            lit("\""),
            when(col("p_size") > 30, lit(" -site:spam.example.com"))
              .otherwise(lit(" site:edu.cn"))))
        .select(col("p_partkey"), col("query_str"))
    }),

    // S6's computable half: HTML → readable text over a synthesized page
    // (script/style/comment junk, entities, block structure) — extraction
    // itself is hash-checked; only the network fetch remains a seam.
    "q91_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><style>body{x:1}</style>"),
        lit("<script>var a=1;</script></head><body>"),
        lit("<!-- hidden -->"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>lang &amp; source: "), col("lang"), lit(" &lt;"), col("source"),
        lit("&gt;</p>"),
        lit("<ul><li>len "), col("n_chars"), lit("</li><li>second&nbsp;item</li></ul>"),
        lit("<div>tail   text</div></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.htmlToText(html).as("extracted"))
    }),

    // S6's main-content half (r6 verdict #4, trafilatura semantics): the
    // synthesized page carries a nav, a link-farm div, a "related"
    // sidebar div and a footer around two prose paragraphs; block
    // scoring must keep ONLY the heading + prose. The oracle states the
    // expected extraction literally, so a scoring regression (a dropped
    // paragraph, a surviving nav) is a hash mismatch — not just a spec
    // assert.
    "q154_html_main" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>"),
        lit("<div><a href=\"/x\">Link1</a> <a href=\"/y\">Link2</a> extra</div>"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>Main body for "), col("lang"), lit(" from "), col("source"),
        lit(" with plain words &amp; prose.</p>"),
        lit("<p>Second paragraph mentioning n_chars "), col("n_chars"),
        lit(".</p>"),
        lit("<div class=\"sidebar\">More: <a>one</a> <a>two</a> <a>three</a></div>"),
        lit("<footer>copyright example</footer></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.htmlMainContent(html).as("main_text"))
    }),

    // F14 encoding-fallback chain, oracle-gated with byte fixtures whose
    // winning charset is known by construction: valid UTF-8 stays UTF-8;
    // GBK bytes that are invalid UTF-8 (0xB0A1… leads) fall through to
    // GBK; 0xFFFE is invalid in both and lands on the lossless Latin-1
    // tail. The oracle states each expected string literally (chr()
    // arithmetic for the Latin-1 case) — it never needs to decode.
    "q89_decode_chain" -> ((s, dir) => {
      // explicit prerequisite (no-op under GraftSession; Verify's plain
      // session needs it) — see ensureDecodeChainConfs scaladoc
      TextFunctions.ensureDecodeChainConfs(s)
      val k = col("c_custkey")
      val suffix = encode(concat(lit("-"), k.cast("string")), "UTF-8")
      val bin =
        when(pmod(k, lit(3)) === 0,
          concat(encode(concat(lit("客户"), col("c_name")), "UTF-8"), suffix))
        .when(pmod(k, lit(3)) === 1,
          concat(encode(lit("啊话"), "GBK"), suffix))
        .otherwise(concat(unhex(lit("FFFE")), suffix))
      t(s, dir, "customer").filter(k < 200)
        .select(k, TextFunctions.decodeChain(bin).as("decoded"))
    }),

    // Crawl-dedup URL canonicalization: fragment/tracking-param strip,
    // scheme+host lowercasing, trailing-slash trim (F-family extension —
    // the dedup KEY maker a crawl pipeline runs before exact dedup).
    "q87_url_canonical" -> ((s, dir) => {
      val k = col("p_partkey")
      val raw =
        when(pmod(k, lit(4)) === 0,
          concat(lit("HTTPS://Example.COM/Docs/"), k, lit("/?utm_source=feed&id="), k, lit("#top")))
        .when(pmod(k, lit(4)) === 1,
          concat(lit("http://EXAMPLE.com/docs/"), k, lit("?id="), k, lit("&utm_medium=email")))
        .when(pmod(k, lit(4)) === 2,
          concat(lit("https://example.com/a/b/"), k, lit("//")))
        .otherwise(
          concat(lit("HTTP://Sub.Example.Com/p"), k, lit("?gclid=xyz"), k))
      t(s, dir, "part")
        .withColumn("url_raw", raw)
        .select(col("p_partkey"), col("url_raw"),
          TextFunctions.canonicalizeUrl(col("url_raw")).as("url_canon"))
    }),

    // Registrable-domain (eTLD+1) extraction + per-domain quota — the
    // C4/RefinedWeb "max N docs per domain" step. Hosts include subdomain
    // variants that COLLAPSE to one registrable domain (www.storeM.com and
    // cdn.static.storeM.com share a cap) and two-label ccTLD suffixes
    // (co.uk/com.cn → last THREE labels). The pick is the q78 hash-order
    // WindowGroupLimit; the oracle replays suffix logic and pick.
    "q118_domain_quota" -> ((s, dir) => {
      val k = col("p_partkey")
      val m = pmod(k, lit(50)).cast("string")
      val host =
        when(pmod(k, lit(6)) === 0, concat(lit("www.store"), m, lit(".com")))
        .when(pmod(k, lit(6)) === 1, concat(lit("blog.shop"), m, lit(".co.uk")))
        .when(pmod(k, lit(6)) === 2, concat(lit("media"), m, lit(".com.cn")))
        .when(pmod(k, lit(6)) === 3, concat(lit("a.b.site"), m, lit(".org")))
        .when(pmod(k, lit(6)) === 4, concat(lit("cdn.static.store"), m, lit(".com")))
        .otherwise(concat(lit("plain"), m, lit(".net")))
      val withD = t(s, dir, "part")
        .withColumn("url", concat(lit("https://"), host, lit("/p/"), k))
        .withColumn("host", TextFunctions.urlHost(col("url")))
        .withColumn("domain", TextFunctions.registrableDomain(col("host")))
      graft.operators.Sampling.kPerGroup(withD, Seq(col("domain")), k, 5)
        .select(col("p_partkey"), col("host"), col("domain"))
    }),

    // Domain-level curation (RefinedWeb discipline) on top of q118's
    // registrable-domain machinery: per-doc keep flags (length band +
    // language) rolled up per eTLD+1 — subdomain variants SHARE a verdict
    // (www.storeM.com and cdn.static.storeM.com aggregate together) —
    // then whole domains killed below a floor-permille keep-rate bar or
    // a minimum-evidence doc count. All three verdicts live at both
    // calibration scales (~20 pass / ~13 below the bar / 3 under
    // minDocs); the oracle replays suffix logic, integer permille and
    // both gates.
    "q210_domain_curation" -> ((s, dir) => {
      import graft.operators.DomainCuration
      val did = col("doc_id")
      val m = pmod(did * 7, lit(11)).cast("string")
      val host = when(pmod(did, lit(97)) === 0,
          concat(lit("rare"), pmod(did, lit(3)).cast("string"), lit(".org")))
        .when(pmod(did, lit(4)) === 0,
          concat(lit("www.store"), m, lit(".com")))
        .when(pmod(did, lit(4)) === 1,
          concat(lit("cdn.static.store"), m, lit(".com")))
        .when(pmod(did, lit(4)) === 2,
          concat(lit("blog.shop"), m, lit(".co.uk")))
        .otherwise(concat(lit("media"), m, lit(".com.cn")))
      val keep = when(col("n_chars").between(150, 420) &&
        col("lang") =!= "de", 1).otherwise(0)
      val withD = t(s, dir, "documents")
        .select(col("doc_id"), host.as("host"), keep.as("keep_doc"))
        .withColumn("domain", TextFunctions.registrableDomain(col("host")))
      DomainCuration.curate(withD, col("domain"), col("keep_doc"),
          minDocs = 10, minKeepPermille = 450)
        .select(col("doc_id"), col("domain"), col("keep_doc"),
          col("domain_docs"), col("domain_keep_permille"),
          col("domain_ok"), col("kept"))
    }),

    // Crawl-frontier politeness waves: the fetch-side complement of the
    // q118 domain quota — rank within registrable domain by (priority
    // desc, key asc), deal into waves of <= 2 fetches per domain. The
    // subdomain-collapsing hosts mean www.storeM and cdn.static.storeM
    // SHARE a politeness budget; the oracle replays suffix logic, the
    // window and the exact-integer wave arithmetic.
    "q212_frontier_waves" -> ((s, dir) => {
      import graft.operators.Frontier
      val k = col("p_partkey")
      val m = pmod(k, lit(50)).cast("string")
      val host =
        when(pmod(k, lit(6)) === 0, concat(lit("www.store"), m, lit(".com")))
        .when(pmod(k, lit(6)) === 1, concat(lit("blog.shop"), m, lit(".co.uk")))
        .when(pmod(k, lit(6)) === 2, concat(lit("media"), m, lit(".com.cn")))
        .when(pmod(k, lit(6)) === 3, concat(lit("a.b.site"), m, lit(".org")))
        .when(pmod(k, lit(6)) === 4, concat(lit("cdn.static.store"), m, lit(".com")))
        .otherwise(concat(lit("plain"), m, lit(".net")))
      val urls = t(s, dir, "part")
        .select(col("p_partkey"),
          TextFunctions.registrableDomain(host).as("domain"),
          pmod(col("p_partkey") * 13, lit(1000)).as("priority"))
      Frontier.assignWaves(urls, col("domain"), col("priority"),
          col("p_partkey"), perWave = 2)
        .select(col("p_partkey"), col("domain"), col("priority"),
          col("crawl_rank"), col("wave"))
    }),

    // robots.txt (RFC 9309) parse + URL permission evaluation: per-domain
    // policies built as TEXT (comments, mixed-case fields, wildcard and
    // $-anchored rules, agent-specific groups on even domains), parsed by
    // the real line/group parser, then 2000 URLs judged for agent
    // "graftbot" — group selection (own group else *), longest-pattern
    // wins, allow beats disallow on ties, no match → allowed. The oracle
    // states the expected verdicts in closed form: the engine must parse,
    // group-resolve, wildcard-match and rank to reproduce them.
    "q120_robots_gate" -> ((s, dir) => {
      import graft.sources.Robots
      val d = col("id")
      val domains = s.range(0, 20).toDF("id")
        .select(concat(lit("site"), d, lit(".com")).as("domain"),
          concat(
            lit("# robots for site"), d, lit("\n"),
            lit("User-Agent: *\nDisallow: /private/\nAllow: /private/pub\n"),
            when(pmod(d, lit(2)) === 0, concat(
              lit("\nUser-Agent: GraftBot\n"),
              lit("Disallow: /p"), pmod(d, lit(5)), lit("/*\n"),
              lit("Allow: /p"), pmod(d, lit(5)), lit("/keep$\n"),
              lit("Crawl-delay: "), d, lit("\n"))).otherwise(lit("")),
            lit("\nSitemap: https://site"), d, lit(".com/sitemap.xml\n"))
            .as("content"))
      val rules = Robots.parseRobots(domains)
      val k = col("p_partkey")
      val urls = t(s, dir, "part")
        .select(k,
          concat(lit("site"), pmod(k, lit(20)), lit(".com")).as("domain"),
          when(pmod(k, lit(5)) === 0, concat(lit("/private/x"), k))
            .when(pmod(k, lit(5)) === 1, concat(lit("/private/pub/"), k))
            .when(pmod(k, lit(5)) === 2, concat(lit("/p"), pmod(k, lit(5)), lit("/doc"), k))
            .when(pmod(k, lit(5)) === 3, concat(lit("/p"), pmod(k, lit(5)), lit("/keep")))
            .otherwise(concat(lit("/public/ok"), k)).as("path"))
      Robots.allowedUrls(urls, col("p_partkey"), col("domain"), col("path"),
          rules, agent = "graftbot")
        .select(col("p_partkey"), col("domain"), col("path"),
          col("agent_group"), col("allowed"))
    }),

    // F13/P11: URL synthesis → extension extraction → document-type dispatch.
    "q27_url_doctype" -> ((s, dir) => {
      val url = concat(lit("https://www."), col("source"), lit(".example.com/files/doc_"),
        col("doc_id").cast("string"),
        element_at(typedLit(Seq(".pdf", ".docx", ".html", "")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      t(s, dir, "documents")
        .withColumn("url", url)
        .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
        .withColumn("ext", regexp_extract(col("url"), "\\.([a-z0-9]+)$", 1))
        .withColumn("doctype",
          when(col("ext").isin("pdf", "docx", "doc", "pptx"), "document")
            .when(col("ext") === "html", "webpage")
            .otherwise("unknown"))
        .select(col("doc_id"), col("host"), col("ext"), col("doctype"))
    }),

    // S1 KV-block round trip: render rows to `键：值` blocks, parse back with
    // the engine's block parser, project typed fields.
    "q28_kv_roundtrip" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val region = broadcast(t(s, dir, "region"))
      val block = KvBlock.renderBlock(Seq(
        "机构名称" -> col("n_name"),
        "区域编号" -> col("n_nationkey").cast("string"),
        "机构类型" -> col("r_name")))
      nation.join(region, col("n_regionkey") === col("r_regionkey"))
        .withColumn("kv", KvBlock.parseBlock(block))
        .select(
          KvBlock.field(col("kv"), "机构名称").as("name"),
          KvBlock.field(col("kv"), "区域编号").cast("int").as("code"),
          KvBlock.field(col("kv"), "机构类型").as("category"))
    }),

    // S2/X2 lenient JSON: payloads wrapped in markdown fences / leading
    // noise are salvaged by the custom LenientJsonClean Catalyst expression
    // (fence-strip + balanced-bracket scan, largest candidate).
    "q29_lenient_json" -> ((s, dir) => {
      val wrapped = when(pmod(col("event_id"), lit(3)) === 0,
          concat(lit("```json\n"), col("props"), lit("\n```")))
        .when(pmod(col("event_id"), lit(3)) === 1,
          concat(lit("LLM says: "), col("props"), lit(" hope that helps!")))
        .otherwise(col("props"))
      t(s, dir, "events")
        .withColumn("cleaned",
          graft.functions.LenientJsonClean.lenientJsonClean(wrapped))
        .withColumn("k", get_json_object(col("cleaned"), "$.k").cast("int"))
        .groupBy(pmod(col("k"), lit(5)).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    }),

    // O7 truncation with marker.
    "q30_truncate" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.truncateWithMarker(col("text"), 60).as("t"),
          length(TextFunctions.truncateWithMarker(col("text"), 60)).as("t_len"))
    }),

    // J2 label mapping with code fallback (transform_survey_data.py shape):
    // map codes to labels via a broadcast-literal map; unmapped pass through.
    "q31_label_map" -> ((s, dir) => {
      val labels = typedLit(Map(0 -> "非洲", 1 -> "美洲", 2 -> "亚洲"))
      t(s, dir, "nation")
        .withColumn("region_label",
          coalesce(element_at(labels, col("n_regionkey")), concat(lit("区域"), col("n_regionkey"))))
        .select(col("n_nationkey"), col("n_name"), col("region_label"))
    }),

    // J3 region resolution (theta join): free-text location × nation dim,
    // substring containment, longest-name-first (retrieve.py:1095-1152).
    "q32_region_resolve" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .withColumn("loc", concat(lit("customer located in "), col("c_name"),
          lit(" district of "),
          when(pmod(col("c_custkey"), lit(2)) === 0, lower(col("c_mktsegment")))
            .otherwise(lit("unknown area"))))
      val dim = broadcast(
        t(s, dir, "customer").select(lower(col("c_mktsegment")).as("seg")).distinct())
      val matched = cust.join(dim, col("loc").contains(col("seg")), "left")
      Ranking.keepFirst(matched, Seq(col("c_custkey")),
          Seq(length(col("seg")).desc_nulls_last, col("seg").asc_nulls_last))
        .select(col("c_custkey"), coalesce(col("seg"), lit("unresolved")).as("resolved"))
    }),

    // J3/P6 over the FULL reference region dimension (CHINA_REGIONS,
    // retrieve.py:1027-1062): deterministic location strings built from
    // the dimension itself, parsed by the reference's province-first /
    // scoped-city / global-fallback algorithm. The oracle replays the
    // same algorithm over the same literal lists, so a hash match
    // certifies dimension content AND matching semantics (declaration
    // order, longest-first scoped search, the 吉林/市 special case,
    // reverse-index overwrite for duplicate city names).
    "q95_region_parse" -> ((s, dir) => {
      import graft.dims.Regions
      val provs = Regions.ProvinceCityList.map(_._1)
      val cities = Regions.CityToProvince.map(_._1)
      val provArr = array(provs.map(lit): _*)
      val cityArr = array(cities.map(lit): _*)
      def cityAt = element_at(cityArr,
        (lit(1) + pmod(col("doc_id"), lit(cities.length))).cast("int"))
      def provAt = element_at(provArr,
        (lit(1) + pmod(col("doc_id"), lit(provs.length))).cast("int"))
      val base = t(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("loc",
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("位于"), cityAt, lit("市的机构")))
            .when(pmod(col("doc_id"), lit(4)) === 1, concat(provAt, lit("省某地")))
            .when(pmod(col("doc_id"), lit(4)) === 2, provAt)
            .otherwise(concat(lit("在"), cityAt, lit("附近"))))
      Regions.resolve(base, "loc")
        .select(col("doc_id"), col("loc"), col("province"), col("city"))
    }),

    // F1 regex predicates over document text (the P4 noise-class shape).
    "q33_rlike_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("has_pattern", col("text").rlike("scan (join|merge)"))
        .groupBy(col("lang"))
        .agg(count(when(col("has_pattern"), 1)).as("n_match"),
          count(lit(1)).as("n_docs"))
    }),

    // F1/F8: regexp_extract + sanitized-id (the source_id derivation
    // 多数据源获取数据.py:1802-1810).
    "q34_sanitized_id" -> ((s, dir) => {
      val url = concat(lit("https://api.example.com/v1/docs?id="),
        col("doc_id").cast("string"), lit("&lang="), col("lang"))
      t(s, dir, "documents")
        .withColumn("source_id",
          substring(regexp_replace(url, "[^a-zA-Z0-9]", "-"), 1, 40))
        .select(col("doc_id"), col("source_id"))
    }),

    // P14/F7: editor-credit scrub + whitespace collapse round trip.
    "q35_scrub_normalize" -> ((s, dir) => {
      val noisy = concat(col("text"), lit("   （责任编辑：张三）  tail"))
      t(s, dir, "documents")
        .withColumn("cleaned",
          TextFunctions.normalizeWhitespace(TextFunctions.scrubEditorCredit(noisy)))
        .select(col("doc_id"), col("cleaned"))
    }))

  /** q95's DuckDB mirror — generated from the SAME dimension data the
    * engine compiles into its plan, so content parity is by construction.
    */
  /** eTLD+1 CASE over a host expression and its label-split list — the
    * SQL twin of `TextFunctions.registrableDomain`, with the suffix list
    * interpolated from the SAME `TwoLabelSuffixes` constant so the
    * q118/q210/q212 oracles and the engine can never disagree on a
    * suffix (one list, four readers).
    */
  private def registrableDomainSql(host: String, ls: String): String = {
    val suffixes = TextFunctions.TwoLabelSuffixes
      .map(s => s"'$s'").mkString("(", ",", ")")
    s"""CASE WHEN len($ls) <= 2 THEN $host
               WHEN ($ls[len($ls)-1] || '.' || $ls[len($ls)]) IN
                 $suffixes
                 THEN $ls[len($ls)-2] || '.' || $ls[len($ls)-1] || '.' || $ls[len($ls)]
               ELSE $ls[len($ls)-1] || '.' || $ls[len($ls)] END"""
  }

  private def regionParseSql: String = {
    import graft.dims.Regions
    def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")
    val provs = Regions.ProvinceCityList.map(_._1)
    val nP = provs.length
    val cts = Regions.CityToProvince
    val nC = cts.length
    val cityList = sqlList(cts.map(_._1))
    val provOfCityList = sqlList(cts.map(_._2))
    val provList = sqlList(provs)
    val scopedCase = Regions.ProvinceCityList.map { case (p, _) =>
      s"WHEN '$p' THEN ${sqlList(Regions.scopedCities(p))}"
    }.mkString("CASE mp ", "\n             ", " ELSE NULL END")
    s"""WITH d AS (SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN '位于' || ($cityList)[1 + doc_id % $nC] || '市的机构'
             WHEN 1 THEN ($provList)[1 + doc_id % $nP] || '省某地'
             WHEN 2 THEN ($provList)[1 + doc_id % $nP]
             ELSE '在' || ($cityList)[1 + doc_id % $nC] || '附近' END AS loc
         FROM documents WHERE doc_id < 300),
         p1 AS (SELECT doc_id, loc,
             replace(replace(replace(loc, ' ', ''), '-', ''), '_', '') AS t
           FROM d),
         p2 AS (SELECT doc_id, loc, t,
             list_filter($provList, p -> contains(t, p))[1] AS mp
           FROM p1),
         p3 AS (SELECT doc_id, loc, t, mp,
             ($scopedCase) AS sc
           FROM p2),
         p4 AS (SELECT doc_id, loc, t, mp,
             list_filter(sc, c -> contains(t, c))[1] AS mcr
           FROM p3),
         p5 AS (SELECT doc_id, loc, t, mp,
             CASE WHEN mp = mcr AND NOT contains(t, '市') THEN NULL
                  ELSE mcr END AS mc
           FROM p4),
         g AS (SELECT doc_id, loc, mp, mc,
             list_filter(range(1, ${nC + 1}),
               i -> contains(t, ($cityList)[CAST(i AS INT)]))[1] AS gi
           FROM p5)
         SELECT doc_id, loc,
           CASE WHEN mp IS NOT NULL THEN mp
                ELSE ($provOfCityList)[CAST(gi AS INT)] END AS province,
           CASE WHEN mp IS NOT NULL THEN mc
                ELSE ($cityList)[CAST(gi AS INT)] END AS city
         FROM g"""
  }

  val oracles: Map[String, String] = Map(
    "q167_fuzzy_blocked_join" ->
      """WITH v AS (SELECT c_custkey AS vid,
             CASE WHEN c_custkey % 2 = 0
               THEN substr(c_name, 1, 16) || substr(c_name, 18, 5)
               ELSE substr(c_name, 1, 17) END AS vname
           FROM customer WHERE c_custkey % 5 = 0)
         SELECT v.vid, c.c_custkey AS cand_key,
           levenshtein(v.vname, c.c_name) AS dist
         FROM v JOIN customer c
           ON substr(v.vname, 1, 16) = substr(c.c_name, 1, 16)
         WHERE levenshtein(v.vname, c.c_name) <= 1""",
    "q95_region_parse" -> regionParseSql,
    "q91_html_extract" ->
      """WITH h AS (SELECT doc_id,
           '<html><head><style>body{x:1}</style><script>var a=1;</script></head><body>'
           || '<!-- hidden -->'
           || '<h1>Doc ' || doc_id || '</h1>'
           || '<p>lang &amp; source: ' || lang || ' &lt;' || source || '&gt;</p>'
           || '<ul><li>len ' || n_chars || '</li><li>second&nbsp;item</li></ul>'
           || '<div>tail   text</div></body></html>' AS html
         FROM documents),
         s1 AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(html,
             '(?is)<script[^>]*>.*?</script>', '', 'g'),
             '(?is)<style[^>]*>.*?</style>', '', 'g'),
             '(?s)<!--.*?-->', '', 'g') AS t FROM h),
         s2 AS (SELECT doc_id, regexp_replace(t,
           '(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol)[^>]*>', chr(10), 'g') AS t
         FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', '', 'g') AS t FROM s2),
         s4 AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(t,
               '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
               '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g') AS t
         FROM s3),
         s5 AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[ \t]+', ' ', 'g'),
             ' ?\n ?', chr(10), 'g'),
             '\n+', chr(10), 'g') AS t
         FROM s4)
         SELECT doc_id,
           regexp_replace(t, '^\n+|\n+$', '', 'g') AS extracted
         FROM s5""",
    "q154_html_main" ->
      """SELECT doc_id,
           'Doc ' || doc_id || chr(10) ||
           'Main body for ' || lang || ' from ' || source ||
           ' with plain words & prose.' || chr(10) ||
           'Second paragraph mentioning n_chars ' || n_chars || '.' AS main_text
         FROM documents""",
    "q89_decode_chain" ->
      """SELECT c_custkey,
           CASE c_custkey % 3
             WHEN 0 THEN '客户' || c_name || '-' || c_custkey
             WHEN 1 THEN '啊话-' || c_custkey
             ELSE chr(255) || chr(254) || '-' || c_custkey
           END AS decoded
         FROM customer WHERE c_custkey < 200""",
    "q120_robots_gate" ->
      """SELECT p_partkey,
           'site' || (p_partkey % 20) || '.com' AS domain,
           CASE p_partkey % 5
             WHEN 0 THEN '/private/x' || p_partkey
             WHEN 1 THEN '/private/pub/' || p_partkey
             WHEN 2 THEN '/p' || (p_partkey % 5) || '/doc' || p_partkey
             WHEN 3 THEN '/p' || (p_partkey % 5) || '/keep'
             ELSE '/public/ok' || p_partkey
           END AS path,
           CASE WHEN p_partkey % 5 IN (2, 3) AND p_partkey % 2 = 0
             THEN 'graftbot' ELSE '*' END AS agent_group,
           CAST(CASE WHEN (p_partkey % 5 = 0 AND p_partkey % 2 = 1)
                  OR (p_partkey % 5 = 2 AND p_partkey % 2 = 0)
                THEN 0 ELSE 1 END AS INT) AS allowed
         FROM part""",
    "q118_domain_quota" ->
      s"""WITH u AS (SELECT p_partkey,
           CASE p_partkey % 6
             WHEN 0 THEN 'www.store' || (p_partkey % 50) || '.com'
             WHEN 1 THEN 'blog.shop' || (p_partkey % 50) || '.co.uk'
             WHEN 2 THEN 'media' || (p_partkey % 50) || '.com.cn'
             WHEN 3 THEN 'a.b.site' || (p_partkey % 50) || '.org'
             WHEN 4 THEN 'cdn.static.store' || (p_partkey % 50) || '.com'
             ELSE 'plain' || (p_partkey % 50) || '.net'
           END AS host FROM part),
         d AS (SELECT p_partkey, host, string_split(host, '.') AS ls FROM u),
         e AS (SELECT p_partkey, host,
             ${registrableDomainSql("host", "ls")} AS domain
           FROM d),
         b AS (SELECT p_partkey, host, domain,
             ((p_partkey % 2147483647) * 2654435761) % 2147483647 % 1048576 AS bk
           FROM e),
         r AS (SELECT p_partkey, host, domain,
             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY bk, p_partkey) AS rk
           FROM b)
         SELECT p_partkey, host, domain FROM r WHERE rk <= 5""",
    "q212_frontier_waves" ->
      s"""WITH u AS (SELECT p_partkey,
           CASE p_partkey % 6
             WHEN 0 THEN 'www.store' || (p_partkey % 50) || '.com'
             WHEN 1 THEN 'blog.shop' || (p_partkey % 50) || '.co.uk'
             WHEN 2 THEN 'media' || (p_partkey % 50) || '.com.cn'
             WHEN 3 THEN 'a.b.site' || (p_partkey % 50) || '.org'
             WHEN 4 THEN 'cdn.static.store' || (p_partkey % 50) || '.com'
             ELSE 'plain' || (p_partkey % 50) || '.net'
           END AS host,
           (p_partkey * 13) % 1000 AS priority FROM part),
         d AS (SELECT p_partkey, priority, host,
             string_split(host, '.') AS ls FROM u),
         e AS (SELECT p_partkey, priority,
             ${registrableDomainSql("host", "ls")} AS domain
           FROM d),
         r AS (SELECT p_partkey, domain, priority,
             ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY priority DESC, p_partkey) AS crawl_rank
           FROM e)
         SELECT p_partkey, domain, CAST(priority AS BIGINT) AS priority,
           CAST(crawl_rank AS BIGINT) AS crawl_rank,
           CAST((crawl_rank - 1) // 2 + 1 AS BIGINT) AS wave
         FROM r""",
    "q210_domain_curation" ->
      s"""WITH h AS (SELECT doc_id, lang, n_chars,
           CASE WHEN doc_id % 97 = 0 THEN 'rare' || (doc_id % 3) || '.org'
             ELSE CASE doc_id % 4
               WHEN 0 THEN 'www.store' || ((doc_id*7) % 11) || '.com'
               WHEN 1 THEN 'cdn.static.store' || ((doc_id*7) % 11) || '.com'
               WHEN 2 THEN 'blog.shop' || ((doc_id*7) % 11) || '.co.uk'
               ELSE 'media' || ((doc_id*7) % 11) || '.com.cn' END END AS host,
           CASE WHEN n_chars BETWEEN 150 AND 420 AND lang <> 'de'
             THEN 1 ELSE 0 END AS keep_doc
           FROM documents),
         d2 AS (SELECT *, string_split(host, '.') AS ls FROM h),
         e AS (SELECT doc_id, keep_doc,
             ${registrableDomainSql("host", "ls")} AS domain
           FROM d2),
         g AS (SELECT domain, COUNT(*) AS n_docs, SUM(keep_doc) AS n_keep
           FROM e GROUP BY 1),
         s AS (SELECT domain, n_docs, (n_keep * 1000) // n_docs AS pm FROM g)
         SELECT e.doc_id, e.domain, CAST(e.keep_doc AS INT) AS keep_doc,
           CAST(s.n_docs AS BIGINT) AS domain_docs,
           CAST(s.pm AS BIGINT) AS domain_keep_permille,
           CAST(CASE WHEN s.n_docs >= 10 AND s.pm >= 450
             THEN 1 ELSE 0 END AS INT) AS domain_ok,
           CAST(CASE WHEN s.n_docs >= 10 AND s.pm >= 450 AND e.keep_doc = 1
             THEN 1 ELSE 0 END AS INT) AS kept
         FROM e JOIN s ON e.domain = s.domain""",
    "q87_url_canonical" ->
      """WITH u AS (SELECT p_partkey,
           CASE p_partkey % 4
             WHEN 0 THEN 'HTTPS://Example.COM/Docs/' || p_partkey || '/?utm_source=feed&id=' || p_partkey || '#top'
             WHEN 1 THEN 'http://EXAMPLE.com/docs/' || p_partkey || '?id=' || p_partkey || '&utm_medium=email'
             WHEN 2 THEN 'https://example.com/a/b/' || p_partkey || '//'
             ELSE 'HTTP://Sub.Example.Com/p' || p_partkey || '?gclid=xyz' || p_partkey
           END AS url_raw
         FROM part),
         n AS (SELECT p_partkey, url_raw,
           regexp_replace(url_raw, '#.*$', '') AS nf FROM u),
         p AS (SELECT *,
           regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
           regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1) AS host,
           regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', '') AS rest
         FROM n),
         q AS (SELECT *,
           regexp_replace(rest, '\?.*$', '') AS pth,
           CASE WHEN position('?' IN rest) > 0
                THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS qry
         FROM p),
         k AS (SELECT *, list_filter(string_split(qry, '&'), x ->
             NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=')
                  OR starts_with(x, 'gclid=') OR x = '')) AS kept
         FROM q)
         SELECT p_partkey, url_raw,
           lower(scheme) || '://' || lower(host) || regexp_replace(pth, '/+$', '') ||
           (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
             AS url_canon
         FROM k""",
    "q26_query_template" ->
      """SELECT p_partkey,
           '"' || p_brand || '" AND "' || p_type || '"' ||
           CASE WHEN p_size > 30 THEN ' -site:spam.example.com'
                ELSE ' site:edu.cn' END AS query_str
         FROM part""",
    "q27_url_doctype" ->
      """WITH u AS (SELECT doc_id,
           'https://www.' || source || '.example.com/files/doc_' || doc_id ||
             (CASE doc_id % 4 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx'
                              WHEN 2 THEN '.html' ELSE '' END) AS url
         FROM documents)
         SELECT doc_id,
           REGEXP_EXTRACT(url, '^https?://([^/]+)/', 1) AS host,
           REGEXP_EXTRACT(url, '\.([a-z0-9]+)$', 1) AS ext,
           CASE WHEN REGEXP_EXTRACT(url, '\.([a-z0-9]+)$', 1) IN ('pdf','docx','doc','pptx')
                  THEN 'document'
                WHEN REGEXP_EXTRACT(url, '\.([a-z0-9]+)$', 1) = 'html' THEN 'webpage'
                ELSE 'unknown' END AS doctype
         FROM u""",
    "q28_kv_roundtrip" ->
      """SELECT n_name AS name, n_nationkey AS code, r_name AS category
         FROM nation JOIN region ON n_regionkey = r_regionkey""",
    "q29_lenient_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1""",
    "q30_truncate" ->
      """SELECT doc_id,
           CASE WHEN LENGTH(text) > 60 THEN SUBSTR(text, 1, 60) || '…[truncated]'
                ELSE text END AS t,
           LENGTH(CASE WHEN LENGTH(text) > 60 THEN SUBSTR(text, 1, 60) || '…[truncated]'
                ELSE text END) AS t_len
         FROM documents""",
    "q31_label_map" ->
      """SELECT n_nationkey, n_name,
           CASE n_regionkey WHEN 0 THEN '非洲' WHEN 1 THEN '美洲' WHEN 2 THEN '亚洲'
                ELSE '区域' || n_regionkey END AS region_label
         FROM nation""",
    "q32_region_resolve" ->
      """WITH cust AS (SELECT c_custkey,
           'customer located in ' || c_name || ' district of ' ||
             CASE WHEN c_custkey % 2 = 0 THEN LOWER(c_mktsegment)
                  ELSE 'unknown area' END AS loc
         FROM customer),
         dim AS (SELECT DISTINCT LOWER(c_mktsegment) AS seg FROM customer),
         m AS (SELECT c_custkey, seg,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
               ORDER BY LENGTH(seg) DESC NULLS LAST, seg NULLS LAST) AS rn
           FROM cust LEFT JOIN dim ON POSITION(seg IN loc) > 0)
         SELECT c_custkey, COALESCE(seg, 'unresolved') AS resolved
         FROM m WHERE rn = 1""",
    "q33_rlike_filter" ->
      """SELECT lang,
           COUNT(*) FILTER (WHERE REGEXP_MATCHES(text, 'scan (join|merge)')) AS n_match,
           COUNT(*) AS n_docs
         FROM documents GROUP BY lang""",
    "q34_sanitized_id" ->
      """SELECT doc_id,
           SUBSTR(REGEXP_REPLACE(
             'https://api.example.com/v1/docs?id=' || doc_id || '&lang=' || lang,
             '[^a-zA-Z0-9]', '-', 'g'), 1, 40) AS source_id
         FROM documents""",
    "q35_scrub_normalize" ->
      """SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(
             text || '   （责任编辑：张三）  tail',
             '（责任编辑：[^）]*）', '', 'g'),
             '[ \t]+', ' ', 'g') AS cleaned
         FROM documents""")
}
