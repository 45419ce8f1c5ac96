package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.CorpusViews

/** Round-5 web-corpus operators: the signal-extraction stages between the
  * raw crawl and the training corpus that earlier rounds didn't cover —
  * anchor-text aggregation (the classic off-page relevance signal), Unicode
  * NFC canonicalization (a codegen'd Catalyst expression; dedup and token
  * counts diverge on mixed-normalization webtext without it), URL template
  * mining (the per-site URL-shape inventory that feeds blocklists and trap
  * rules), the meta-robots noindex/nofollow gate (parsed from the HTML by
  * the real parser, RFC 9309's HTML cousin), and the corpus-release shard
  * manifest (the integrity record a dataset card ships).
  *
  * Same discipline as the rest of the suite: integer/exact arithmetic only,
  * one shared SQL text for any derived fixture, and a per-query scale note
  * saying what shuffles at 100 TB.
  */
object WebCorpusQueries {
  import CorpusViews.{view, cte}

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Anchor-text aggregation per target URL — the oldest off-page signal in
    * web IR (anchor terms describe the TARGET page; used for ranking since
    * WWW3 and for crawl prioritization in every focused crawler). Each link
    * contributes one anchor string; per target we emit in-link count,
    * distinct linking hosts, and the modal anchor (count desc, text asc).
    *
    * Scale: anchors aggregate on (dst_url, anchor) — the explode's natural
    * key, partial-agg combinable map-side; the per-target top-1 window
    * partitions BY TARGET (bounded by that target's distinct anchors, no
    * global sort). In-link counts shuffle once on dst_url; mega-targets
    * (the home-page skew) are exactly what AQE skew-split handles, and the
    * distinct-host count stays exact via the two-level (dst, host) pre-agg
    * below rather than a count_distinct over a skewed group.
    */
  val qAnchorText = Q(
    "q89_anchor_text",
    (s, dir) => {
      val anchors = view(s, dir, "links").select(
        col("dst_url"),
        expr("split_part(src_url, '/', 3)").as("src_host"),
        concat(lit("see "), col("dst_path"), lit(" #"),
          col("link_pos").cast("string")).as("anchor"))
      val perAnchor = anchors.groupBy(col("dst_url"), col("anchor"))
        .agg(count(lit(1)).as("n"))
      val top = perAnchor.withColumn("rn",
          row_number().over(Window.partitionBy(col("dst_url"))
            .orderBy(col("n").desc, col("anchor").asc)))
        .filter(col("rn") === 1)
        .select(col("dst_url"), col("anchor").as("top_anchor"),
          col("n").as("top_anchor_n"))
      // exact distinct-host count without count_distinct over a skewed
      // group: pre-agg to (dst, host), then count — both shuffles keyed on
      // dst_url, Catalyst reuses the partitioning
      val hosts = anchors.select(col("dst_url"), col("src_host")).distinct()
        .groupBy(col("dst_url")).agg(count(lit(1)).as("n_src_hosts"))
      // in-link totals roll up from the per-anchor counts (Σ n ≡ the raw
      // count): the rollup consumes map-side-combined (dst, anchor, n) rows
      // instead of a third full generate+aggregate pass over the raw anchor
      // stream, and `perAnchor` is one definition feeding both this rollup
      // and `top` (identical aggregate subtrees, deduplicated at runtime by
      // AQE shuffle-stage reuse; the static plan prints both)
      val inlinks = perAnchor.groupBy(col("dst_url"))
        .agg(sum(col("n")).as("n_inlinks"))
      inlinks.join(hosts, Seq("dst_url")).join(top, Seq("dst_url"))
        .select(col("dst_url"), col("n_inlinks"), col("n_src_hosts"),
          col("top_anchor"), col("top_anchor_n"))
    },
    Some(cte("links") +
      """, anchors AS (
        |  SELECT dst_url, split_part(src_url, '/', 3) AS src_host,
        |    'see ' || dst_path || ' #' || CAST(link_pos AS STRING) AS anchor
        |  FROM links
        |), per_anchor AS (
        |  SELECT dst_url, anchor, COUNT(*) AS n FROM anchors GROUP BY 1, 2
        |), top AS (
        |  SELECT dst_url, anchor AS top_anchor, n AS top_anchor_n FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY dst_url
        |      ORDER BY n DESC, anchor ASC) AS rn FROM per_anchor) t
        |  WHERE rn = 1
        |), hosts AS (
        |  SELECT dst_url, COUNT(*) AS n_src_hosts FROM (
        |    SELECT DISTINCT dst_url, src_host FROM anchors) h GROUP BY 1
        |), inl AS (
        |  SELECT dst_url, COUNT(*) AS n_inlinks FROM anchors GROUP BY 1
        |)
        |SELECT i.dst_url AS dst_url, i.n_inlinks, h.n_src_hosts,
        |  t.top_anchor, t.top_anchor_n
        |FROM inl i JOIN hosts h ON i.dst_url = h.dst_url
        |JOIN top t ON i.dst_url = t.dst_url""".stripMargin))

  // decomposed-form suffix (NFD: e+U+0301, i+U+0308, A+U+030A) appended to
  // every doc — the mixed-normalization webtext case; NFC composes it to
  // " café naïve Å". One Scala value interpolated into BOTH engines' text.
  private val DecomposedSuffix = " café naïve Å"

  /** Unicode NFC canonicalization via the codegen'd `NormalizeNfc` Catalyst
    * expression (graft.functions.TextExpressions) — DuckDB's built-in
    * `nfc_normalize` is the oracle. Output pins byte-level behavior: the
    * decomposed suffix shrinks under NFC (combining pairs compose), and the
    * digest of the normalized text must agree bit-for-bit across engines
    * (JDK Normalizer vs utf8proc — both implement UAX #15).
    *
    * Scale: row-local, whole-stage codegen (no UDF serialization
    * boundary) — runs at scan speed; this is the first projection of every
    * ingest pass, BEFORE any fingerprint/dedup stage.
    */
  val qNfcNormalize = Q(
    "q90_nfc_normalize",
    (s, dir) => {
      val t2 = concat(col("text"), lit(DecomposedSuffix))
      val norm = graft.functions.TextExpressions.nfc_normalize(t2)
      docs(s, dir).select(col("doc_id"),
        expr(s"octet_length(text || '$DecomposedSuffix')").as("raw_bytes"),
        norm.as("norm"))
        .select(col("doc_id"), col("raw_bytes"),
          octet_length(col("norm")).cast("long").as("nfc_bytes"),
          md5(encode(col("norm"), "UTF-8")).as("nfc_md5"))
    },
    Some(s"""SELECT doc_id,
        |  CAST(octet_length(encode(text || '$DecomposedSuffix')) AS BIGINT) AS raw_bytes,
        |  CAST(octet_length(encode(nfc_normalize(text || '$DecomposedSuffix'))) AS BIGINT) AS nfc_bytes,
        |  md5(nfc_normalize(text || '$DecomposedSuffix')) AS nfc_md5
        |FROM documents""".stripMargin))

  // URL-variant fixture: the same page reachable under session-id, paging,
  // and revision URL shapes (the patterns template mining exists to find).
  // Shared SQL text, interpolated into both engines.
  private val UrlVariantSql =
    """url || CASE CAST(page_key % 4 AS INT)
      |  WHEN 0 THEN '?session=' || CAST(page_key AS STRING)
      |  WHEN 1 THEN '?page=' || CAST(page_key % 7 AS STRING)
      |  WHEN 2 THEN '/rev/' || CAST(page_key AS STRING)
      |  ELSE '' END""".stripMargin

  /** URL template mining — collapse digit runs to `N` and inventory each
    * host's URL shapes with counts and per-host share (milli). The template
    * table is what URL blocklists (q85), trap rules (q76), and crawl-budget
    * allocators consume: a `?session=N` template whose count ~ host page
    * count is a session-id trap; a `/rev/N` family is an archive to
    * de-prioritize.
    *
    * Scale: template derivation is row-local regex (codegen'd); the
    * inventory aggregates on (host, template) — partial-agg combinable —
    * and the share window partitions BY HOST. Output is hosts × templates,
    * million-fold smaller than the URL space: the classic
    * heavy-aggregation/tiny-result shape that makes this cheap even at
    * 10^10 URLs.
    */
  val qUrlTemplate = Q(
    "q91_url_template",
    (s, dir) => {
      CorpusViews.register(s, dir)
      val u2 = s.sql(s"SELECT host, $UrlVariantSql AS u2 FROM pages")
      val t = u2.select(col("host"),
        regexp_replace(col("u2"), "[0-9]+", "N").as("template"))
      val inv = t.groupBy(col("host"), col("template"))
        .agg(count(lit(1)).as("n_urls"))
      inv.withColumn("host_total",
          sum(col("n_urls")).over(Window.partitionBy(col("host"))))
        .select(col("host"), col("template"), col("n_urls"),
          expr("1000 * n_urls div host_total").as("share_milli"))
    },
    Some(cte("pages") +
      s""", u2 AS (
        |  SELECT host, $UrlVariantSql AS u2 FROM pages
        |), t AS (
        |  SELECT host, regexp_replace(u2, '[0-9]+', 'N', 'g') AS template
        |  FROM u2
        |), inv AS (
        |  SELECT host, template, COUNT(*) AS n_urls FROM t GROUP BY 1, 2
        |)
        |SELECT host, template, n_urls,
        |  CAST(1000 * n_urls // SUM(n_urls) OVER (PARTITION BY host) AS BIGINT)
        |    AS share_milli
        |FROM inv""".stripMargin))

  // Meta-robots fixture: 1-in-19 pages noindex+nofollow, 1-in-19 nofollow
  // only, 1-in-19 explicit index,follow, rest no meta tag. Shared SQL text.
  private val MetaRobotsFixtureHtml =
    """'<html><head><title>p' || CAST(page_key AS STRING) || '</title>' ||
      |CASE CAST(page_key % 19 AS INT)
      |  WHEN 0 THEN '<meta name="robots" content="noindex, nofollow"/>'
      |  WHEN 1 THEN '<meta name="robots" content="nofollow"/>'
      |  WHEN 2 THEN '<meta name="robots" content="index, follow"/>'
      |  ELSE '' END ||
      |'</head><body><p>' || text || '</p><a href="/p/' ||
      |CAST(page_key + 1 AS STRING) || '">next</a></body></html>'""".stripMargin

  /** Meta-robots gate — the in-HTML cousin of robots.txt (Google/Bing
    * REP extension): `noindex` drops the page from the corpus, `nofollow`
    * drops its outlinks from the frontier. The directives are PARSED from
    * the fixture HTML by the real tree parser (graft.html.Css attribute
    * selector — never the generating arithmetic); the oracle recomputes the
    * expected verdicts from the fixture rule.
    *
    * Scale: row-local parse (the tree is already built once per response in
    * the crawl pipeline — middleware/parse_html.go:15-24's single-lazy-doc
    * pattern); verdicts are two booleans per page, no shuffle. The
    * `n_links_followed` column is the frontier-side effect: nofollow pages
    * contribute zero outlinks regardless of their anchor count.
    */
  val qMetaRobots = Q(
    "q92_meta_robots",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val fixture = s.sql(
        s"SELECT page_key, url, $MetaRobotsFixtureHtml AS bhtml FROM pages")
      val enc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaBoolean,
        Encoders.scalaBoolean, Encoders.scalaInt)
      fixture.as(enc).mapPartitions { it =>
        it.map { case (key, url, bhtml) =>
          val doc = graft.html.Css.doc(bhtml)
          val content = doc.find("meta[name=robots]").attr("content")
            .getOrElse("").toLowerCase
          val noindex = content.contains("noindex")
          val nofollow = content.contains("nofollow")
          val links = doc.find("a").size
          (key, url, noindex, nofollow, if (nofollow) 0 else links)
        }
      }(outEnc).toDF("page_key", "url", "noindex", "nofollow",
        "n_links_followed")
    },
    Some(cte("pages") +
      """SELECT page_key, url,
        |  page_key % 19 = 0 AS noindex,
        |  page_key % 19 IN (0, 1) AS nofollow,
        |  CAST(CASE WHEN page_key % 19 IN (0, 1) THEN 0 ELSE 1 END AS INT)
        |    AS n_links_followed
        |FROM pages""".stripMargin))

  /** Corpus-release shard manifest — the integrity/provenance record every
    * published dataset ships (Common Crawl's per-segment index, HF dataset
    * shards): documents hash-route to 16 shards; per shard the manifest
    * records row count, total text bytes, the doc-id span, and order-
    * independent boundary digests (lexicographic min/max of the per-doc
    * md5s — verifiable by any consumer in one pass).
    *
    * Scale: ONE aggregation keyed on the shard id (16 groups — partial agg
    * does all the work map-side, the final exchange moves 16 rows); the
    * hash-routing itself is the same md5-prefix recipe as q68's sampler, so
    * shard sizes are balanced by construction, never skewed.
    */
  val qShardManifest = Q(
    "q93_shard_manifest",
    (s, dir) => {
      docs(s, dir).select(
        substring(md5(concat(lit("shard|"), col("doc_id").cast("string"))
          .cast("binary")), 1, 1).as("shard"),
        col("doc_id"),
        octet_length(col("text")).cast("long").as("nb"),
        md5(encode(col("text"), "UTF-8")).as("digest"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("total_bytes"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"),
          min(col("digest")).as("min_digest"),
          max(col("digest")).as("max_digest"))
    },
    Some("""SELECT substring(md5('shard|' || CAST(doc_id AS STRING)), 1, 1)
        |    AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
        |  MIN(md5(text)) AS min_digest, MAX(md5(text)) AS max_digest
        |FROM documents
        |GROUP BY 1""".stripMargin))

  /** vhost-aware politeness — rate-limit by SERVER (resolved IP), not
    * hostname: shared-hosting providers put thousands of vhosts on one box,
    * so per-host budgets alone can hammer a single server 1000× its budget
    * (why Heritrix/Nutch key politeness queues on IP). The resolver is
    * modeled as a deterministic host→server map (hostnum % 7 — ~14 vhosts
    * per server, the co-location shape); each server grants ≤8 slots per
    * scheduling round by (priority desc, rank), like q84's per-host quota
    * but on the coarser physical key.
    *
    * Scale: the host→IP map is a resolver-cache dimension table (tiny,
    * broadcast); the grant window shuffles ONCE on the server key. Server
    * keys are COARSER than hosts, so skew is worse by construction — the
    * same AQE skew-split + salted two-phase recipe as the engine's host
    * windows applies (CrawlJob's politeness stage), and the slot bound
    * keeps each server's output constant per round.
    */
  val qIpPoliteness = Q(
    "q94_ip_politeness",
    (s, dir) => {
      val cand = view(s, dir, "frontier")
        .groupBy(col("url"), col("host"))
        .agg(max(col("priority")).as("priority"), min(col("rank")).as("rank"))
        .withColumn("server_ip",
          concat(lit("10.0.0."),
            (regexp_replace(col("host"), "[^0-9]", "").cast("int") % 7)
              .cast("string")))
      cand.withColumn("slot",
          row_number().over(Window.partitionBy(col("server_ip"))
            .orderBy(col("priority").desc, col("rank"), col("url"))))
        .filter(col("slot") <= 8)
        .select(col("server_ip"), col("host"), col("url"), col("priority"),
          col("slot"))
    },
    Some(cte("frontier") +
      """SELECT server_ip, host, url, priority, slot FROM (
        |  SELECT server_ip, host, url, priority,
        |    ROW_NUMBER() OVER (PARTITION BY server_ip
        |      ORDER BY priority DESC, rank, url) AS slot
        |  FROM (
        |    SELECT url, host,
        |      '10.0.0.' || CAST(CAST(regexp_replace(host, '[^0-9]', '', 'g')
        |        AS INT) % 7 AS STRING) AS server_ip,
        |      MAX(priority) AS priority, MIN(rank) AS rank
        |    FROM frontier GROUP BY 1, 2, 3) c
        |) q WHERE slot <= 8""".stripMargin))

  // Body-shape fixture for content sniffing: the same corpus served as
  // bare HTML, XML-wrapped, JSON API response, PDF-signature, and plain
  // text — the mix a real crawl sees when Content-Type headers lie.
  private val SniffBodySql =
    """CASE CAST(page_key % 5 AS INT)
      |  WHEN 0 THEN '  <html><body>' || text || '</body></html>'
      |  WHEN 1 THEN '<?xml version="1.0"?><doc>' || text || '</doc>'
      |  WHEN 2 THEN '{"text": "' || text || '"}'
      |  WHEN 3 THEN '%PDF-1.7 ' || text
      |  ELSE text END""".stripMargin

  /** Content-type sniffing — classify the response by its LEADING BYTES
    * (the `http.DetectContentType` / WHATWG behavior the reference inherits
    * through x/net/html/charset) so mislabeled or missing Content-Type
    * headers can't route PDFs into the HTML parser or HTML into the text
    * corpus. The Spark side runs the real `ContentSniff.sniff` scanner over
    * the fixture bodies; the oracle recomputes expected types from the
    * fixture rule.
    *
    * Scale: row-local scan of a ≤512-char prefix — no shuffle, constant
    * work per page regardless of body size (the sniffing never touches the
    * tail of a 10 MB body).
    */
  val qContentSniff = Q(
    "q95_content_sniff",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val fixture = s.sql(
        s"SELECT page_key, url, $SniffBodySql AS body FROM pages")
      val enc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      fixture.as(enc).mapPartitions { it =>
        it.map { case (key, url, body) =>
          (key, url, graft.pipeline.ContentSniff.sniff(body))
        }
      }(outEnc).toDF("page_key", "url", "sniffed_type")
    },
    Some(cte("pages") +
      """SELECT page_key, url,
        |  CASE CAST(page_key % 5 AS INT)
        |    WHEN 0 THEN 'text/html'
        |    WHEN 1 THEN 'text/xml'
        |    WHEN 2 THEN 'application/json'
        |    WHEN 3 THEN 'application/pdf'
        |    ELSE 'text/plain' END AS sniffed_type
        |FROM pages""".stripMargin))

  /** Inverted-index build — THE canonical web-scale MapReduce job (Dean &
    * Ghemawat 2004 §2.1's motivating example): per term, the document
    * frequency and the head of the sorted posting list (first 8 doc ids).
    * Posting lists are SETS (distinct (doc, term) first), sorted ascending
    * — the layout a search shard memory-maps.
    *
    * Scale: df is a term-keyed count with map-side combine (no buffer).
    * The postings HEAD is the engine's exact two-phase salted top-k
    * (graft.pipeline.TopK, the politeness grant's operator): the 8 smallest
    * doc_ids per term over 64 doc-salt buckets, so phase 2 ranks only
    * ≤ 8·64 bounded survivors per term and NO aggregation buffer ever
    * holds an unbounded posting list (the r5 verdict's q96 OOM shape: a
    * stop-word term's full 10^10-doc list in ONE collect_list buffer). The
    * final collect_list is bounded at 8 elements by construction.
    */
  val qInvertedIndex = Q(
    "q96_inverted_index",
    (s, dir) => {
      val w = docs(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), " ")).as("term"))
        .distinct()
      val dfCount = w.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val head8 = graft.pipeline.TopK(w, Seq(col("term")), col("doc_id"), 64,
          Seq(col("doc_id").asc), lit(8)).kept
        .groupBy(col("term"))
        .agg(sort_array(collect_list(col("doc_id"))).as("p"))
      dfCount.join(head8, Seq("term"))
        .select(col("term"), col("df"),
          expr("array_join(transform(p, x -> CAST(x AS STRING)), ',')")
            .as("postings_head"))
    },
    Some("""WITH w AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split(trim(text), ' ')) AS term
        |  FROM documents
        |)
        |SELECT term, COUNT(*) AS df,
        |  array_to_string(list_transform(list_sort(list(doc_id))[1:8],
        |    x -> CAST(x AS STRING)), ',') AS postings_head
        |FROM w GROUP BY term""".stripMargin))

  // hex-granular rho: leading-zero hex digits of the md5 tail + 1. One
  // shared SQL text for both engines (group-0 regexp_extract is portable).
  private val HllRhoSql =
    """length(regexp_extract(substring(md5('hll|' || url), 2, 15),
      |  '^0*', 0)) + 1""".stripMargin

  /** Mergeable cardinality sketch over the URL space — the HLL shape
    * (Flajolet et al. 2007) in deterministic integer form: urls hash-route
    * to 16 registers (first md5 hex digit); each register keeps the MAX
    * leading-zero rank (rho) seen. The sketch is 16 integers regardless of
    * input size, and MERGES by per-register max — how a 1000-executor crawl
    * counts distinct URLs without ever shuffling them (each partition
    * sketches locally; the driver folds 16-int arrays). The float estimator
    * is reader-side; the sketch itself (emitted here) is engine-exact.
    *
    * Scale: partial-agg max per register does ALL the work map-side; the
    * final exchange moves 16 rows. This is the crawl's frontier-size /
    * seen-set-cardinality monitor at 10^10 URLs.
    */
  val qHllSketch = Q(
    "q97_hll_sketch",
    (s, dir) => {
      CorpusViews.register(s, dir)
      s.sql(s"""SELECT substring(md5('hll|' || url), 1, 1) AS register,
        |  COUNT(*) AS n_items,
        |  MAX($HllRhoSql) AS max_rho
        |FROM pages GROUP BY 1""".stripMargin)
    },
    Some(cte("pages") +
      s"""SELECT substring(md5('hll|' || url), 1, 1) AS register,
        |  COUNT(*) AS n_items,
        |  CAST(MAX($HllRhoSql) AS BIGINT) AS max_rho
        |FROM pages GROUP BY 1""".stripMargin))

  /** Web-graph degree distribution — the power-law sanity check every
    * crawl-quality report runs (Broder et al. 2000 "Graph structure in the
    * web"): bucket each page's in-degree into log2 bins and count pages per
    * bin. A healthy web sample shows monotonically falling bin mass; a
    * crawler trapped in a mesh shows a spike at high degree.
    *
    * Scale: one dst-keyed count (map-side combined), then a 64-group bin
    * count — the second agg's input is pages×1 rows of two ints. The log2
    * bin is integer (bit length via repeated halving expressed as
    * floor(log2) over a BIGINT — here computed portably with
    * length-of-binary-string arithmetic-free: 63 - bit shifts is not
    * portable SQL, so we use the string length of the base-2
    * representation minus 1, identical in both engines).
    */
  val qDegreeDistribution = Q(
    "q98_degree_distribution",
    (s, dir) => {
      val deg = view(s, dir, "links")
        .groupBy(col("dst_url")).agg(count(lit(1)).as("in_deg"))
      // log2 bin = length of the binary representation - 1 (integer, exact)
      deg.select(col("dst_url"), col("in_deg"),
          (length(conv(col("in_deg"), 10, 2)) - 1).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pages"), min(col("in_deg")).as("min_deg"),
          max(col("in_deg")).as("max_deg"))
    },
    Some(cte("links") +
      """, deg AS (
        |  SELECT dst_url, COUNT(*) AS in_deg FROM links GROUP BY 1
        |)
        |SELECT CAST(length(bin(in_deg)) - 1 AS INT) AS bin,
        |  COUNT(*) AS n_pages, MIN(in_deg) AS min_deg, MAX(in_deg) AS max_deg
        |FROM deg GROUP BY 1""".stripMargin))

  // rel=canonical fixture: every 7th page declares the PREVIOUS page (by
  // key) as its canonical; others self-canonicalize implicitly (no link
  // tag). Shared SQL text for both engines.
  private val CanonicalFixtureHtml =
    """'<html><head>' ||
      |CASE WHEN page_key % 7 = 3 AND page_key > 0
      |  THEN '<link rel="canonical" href="http://h' ||
      |    CAST((page_key - 1) % 97 AS STRING) || '.example.com/p/' ||
      |    CAST(page_key - 1 AS STRING) || '"/>'
      |  ELSE '' END ||
      |'</head><body><p>' || text || '</p></body></html>'""".stripMargin

  /** rel=canonical dedup — honor the page's own duplicate declaration (the
    * canonical link element, RFC 6596): pages whose HTML names a canonical
    * target collapse onto it; the corpus keeps one row per canonical
    * cluster. The canonical URL is PARSED from the fixture HTML by the real
    * tree parser (`link[rel=canonical]` attribute selector); the oracle
    * recomputes the expected mapping from the fixture rule. Common Crawl's
    * dedup honors exactly this signal before any content hashing.
    *
    * Scale: parse is row-local; the collapse is one canonical-keyed
    * group (map-side combinable count + min keeper) — no content bytes
    * move, only (url, canonical) pairs.
    */
  val qCanonicalDedup = Q(
    "q99_canonical_dedup",
    (s, dir) => {
      import org.apache.spark.sql.Encoders
      CorpusViews.register(s, dir)
      val fixture = s.sql(
        s"SELECT page_key, url, $CanonicalFixtureHtml AS bhtml FROM pages")
      val enc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      val outEnc = Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      val mapped = fixture.as(enc).mapPartitions { it =>
        it.map { case (key, url, bhtml) =>
          val canon = graft.html.Css.doc(bhtml)
            .find("link[rel=canonical]").attr("href").getOrElse(url)
          (key, url, canon)
        }
      }(outEnc).toDF("page_key", "url", "canonical")
      mapped.groupBy(col("canonical"))
        .agg(count(lit(1)).as("cluster_size"),
          min(col("page_key")).as("keeper_key"))
    },
    Some(cte("pages") +
      """, mapped AS (
        |  SELECT page_key, url,
        |    CASE WHEN page_key % 7 = 3 AND page_key > 0
        |      THEN 'http://h' || CAST((page_key - 1) % 97 AS STRING) ||
        |        '.example.com/p/' || CAST(page_key - 1 AS STRING)
        |      ELSE url END AS canonical
        |  FROM pages
        |)
        |SELECT canonical, COUNT(*) AS cluster_size,
        |  MIN(page_key) AS keeper_key
        |FROM mapped GROUP BY 1""".stripMargin))

  // Soft-404 fixture: 1-in-3 OK pages serve a "not found" apology, a
  // further 1-in-7 a "no longer available" notice — both with status 200,
  // the classic misconfigured-CMS shape (dense enough that every host
  // crosses the template threshold even at sf0.001, where a host has ~15
  // pages). Shared SQL text (Spark expr == oracle CTE).
  private val Soft404BodySql =
    """CASE WHEN page_key % 3 = 1
      |  THEN 'We could not find the page you requested.'
      |  WHEN page_key % 7 = 2
      |  THEN 'This content is no longer available.'
      |  ELSE text END""".stripMargin

  /** Soft-404 template detection — pages answering 200 with an error body.
    * The production signal (Heritrix's identical-hash filter, Googlebot's
    * soft-404 classifier) is CONTENT-side, not status-side: a host serving
    * one identical body across many distinct paths is serving an error
    * template, whatever the status line says. We fingerprint each 200 body
    * (md5), count pages per (host, digest), and call a digest a soft-404
    * template when it repeats across ≥4 paths on one host; per host we
    * report template count, trapped-page count, and total 200-pages.
    *
    * Scale: only (host, digest) pairs move — 16 bytes + host key per PAGE
    * pre-combine, and the map-side partial agg collapses that to one row
    * per template per partition before the exchange; the host rollup is a
    * second tiny host-keyed agg over ≤(hosts × templates) rows. Bodies
    * never shuffle. The flagged-template list is O(hosts) and broadcasts
    * back to gate extraction (don't feed error templates to the corpus) —
    * same shape as the engine's newHosts robots dimension.
    */
  val qSoft404 = Q(
    "q100_soft404",
    (s, dir) => {
      val bodies = view(s, dir, "pages").filter(col("status") === 200)
        .select(col("host"), expr(Soft404BodySql).as("body"))
      val tpl = bodies
        .select(col("host"), md5(col("body").cast("binary")).as("digest"))
        .groupBy(col("host"), col("digest"))
        .agg(count(lit(1)).as("n"))
      tpl.groupBy(col("host")).agg(
        sum(when(col("n") >= 4, 1L).otherwise(0L)).as("n_templates"),
        sum(when(col("n") >= 4, col("n")).otherwise(0L))
          .as("n_soft404_pages"),
        sum(col("n")).as("n_ok_pages"))
    },
    Some(cte("pages") +
      s""", bodies AS (
        |  SELECT host, $Soft404BodySql AS body
        |  FROM pages WHERE status = 200
        |), tpl AS (
        |  SELECT host, md5(body) AS digest, COUNT(*) AS n
        |  FROM bodies GROUP BY 1, 2
        |)
        |SELECT host,
        |  CAST(SUM(CASE WHEN n >= 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_templates,
        |  CAST(SUM(CASE WHEN n >= 4 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_soft404_pages,
        |  CAST(SUM(n) AS BIGINT) AS n_ok_pages
        |FROM tpl GROUP BY 1""".stripMargin))

  // IDN fixture: the U-label spellings a crawler meets in href text. The
  // oracle pins the exact RFC 3490/3492 A-labels (DuckDB has no punycode —
  // this is a parse-vs-known-answer face like q92's HTML parse).
  private val IdnHostSql =
    """CASE CAST(page_key % 5 AS INT)
      |  WHEN 0 THEN 'bücher.example.com'
      |  WHEN 1 THEN 'пример.example.com'
      |  WHEN 2 THEN 'héllo-wörld.example.com'
      |  WHEN 3 THEN 'MiXeD-Case.Example.COM'
      |  ELSE 'plain.example.com' END""".stripMargin

  /** IDN host canonicalization — internationalized hostnames reach a
    * crawler in two spellings (U-labels from page hrefs, A-labels from the
    * wire); unless both map to one canonical key, a single host splits its
    * politeness budget, robots cache, and URL-seen scope in two. `idn_ascii`
    * is a codegen'd Catalyst expression over the JDK's RFC 3490 ToASCII
    * (`functions/TextExpressions.scala`), with a no-allocation fast path
    * for the dominant already-lowercase-ASCII case.
    *
    * Scale: row-local, inside whole-stage codegen (TextExpressionsSpec
    * asserts the plan) — it composes with the frontier's host-keyed
    * exchange at zero extra cost; the group-by here exists only to give the
    * oracle a compact deterministic result.
    */
  val qIdnHost = Q(
    "q101_idn_host",
    (s, dir) => {
      view(s, dir, "pages")
        .select(expr(IdnHostSql).as("uhost"))
        .select(col("uhost"),
          graft.functions.TextExpressions.idn_ascii(col("uhost"))
            .as("ahost"))
        .groupBy(col("uhost"), col("ahost"))
        .agg(count(lit(1)).as("n"))
    },
    Some(cte("pages") +
      s""", u AS (
        |  SELECT $IdnHostSql AS uhost FROM pages
        |)
        |SELECT uhost,
        |  CASE uhost
        |    WHEN 'bücher.example.com' THEN 'xn--bcher-kva.example.com'
        |    WHEN 'пример.example.com' THEN 'xn--e1afmkfd.example.com'
        |    WHEN 'héllo-wörld.example.com'
        |      THEN 'xn--hllo-wrld-b4a2m.example.com'
        |    WHEN 'MiXeD-Case.Example.COM' THEN 'mixed-case.example.com'
        |    ELSE 'plain.example.com' END AS ahost,
        |  COUNT(*) AS n
        |FROM u GROUP BY 1, 2""".stripMargin))

  /** robots.txt cache TTL + refetch scheduling — a crawler may not serve a
    * robots decision from a stale cache forever (RFC 9309 §2.4 allows
    * caching "generally up to 24 hours" and Google documents its cache at
    * up to that order; long crawls MUST refetch). The engine fetches robots
    * for NEW hosts per wave (`CrawlJob` newHosts); this face computes the
    * complementary production list: hosts whose cached robots has aged past
    * TTL AND that still have frontier demand → the refetch batch for the
    * next scheduling round. Fixture: per-host fetch age spreads 0..100 days
    * (hostnum × 90000 s before "now", q14's fixed nowEpoch convention);
    * TTL = 30 days.
    *
    * Scale: ONE host-keyed partial agg over the frontier (map-side
    * combined counts — the frontier's urls never move), then row-local
    * arithmetic on the O(hosts) result; the refetch list broadcasts back
    * into the wave loop exactly like the engine's newHosts robots
    * dimension. At 10^8 hosts the list is still executor-trivial and the
    * agg is the same exchange the politeness window already pays.
    */
  val qRobotsTtl = Q(
    "q102_robots_ttl",
    (s, dir) => {
      val ttlS = 86400L * 30
      view(s, dir, "frontier")
        .groupBy(col("host")).agg(count(lit(1)).as("n_queued"))
        .withColumn("age_s",
          expr("CAST(SUBSTR(split_part(host, '.', 1), 2) AS BIGINT)") *
            lit(90000L))
        .select(col("host"), col("n_queued"), col("age_s"),
          (col("age_s") > lit(ttlS)).as("needs_refetch"))
    },
    Some(cte("frontier") +
      """, d AS (
        |  SELECT host, COUNT(*) AS n_queued,
        |    CAST(SUBSTR(split_part(host, '.', 1), 2) AS BIGINT) * 90000
        |      AS age_s
        |  FROM frontier GROUP BY 1
        |)
        |SELECT host, n_queued, age_s,
        |  age_s > 86400 * 30 AS needs_refetch
        |FROM d""".stripMargin))

  /** Frontier priority aging (starvation avoidance) — a pure
    * highest-priority-first scheduler starves low-priority URLs forever on
    * a hot frontier (Heritrix's cost/precedence policies and URLFrontier's
    * aging both solve this): every K waves an entry waits, its effective
    * priority climbs one step, so everything is eventually scheduled.
    * effective = priority + waited div 4 (uncapped climb, deterministic);
    * the per-host grant then takes the usual B=3 slots by (effective desc,
    * rank asc) — an aged low-priority entry legitimately overtakes a fresh
    * high-priority one. Fixture: waited = rank % 13 waves (shared SQL
    * text).
    *
    * Scale: the aging transform is row-local arithmetic (inside whole-stage
    * codegen, zero shuffle); the grant is q84's shape — ONE host-keyed
    * exchange, per-partition window sort bounded by that host's queue, AQE
    * splits mega-hosts. The output keeps both granted and waiting rows so
    * the oracle checks the whole schedule, not just the winners.
    */
  val qPriorityAging = Q(
    "q103_priority_aging",
    (s, dir) => {
      val aged = view(s, dir, "frontier")
        .select(col("url"), col("host"), col("priority"), col("rank"))
        .withColumn("waited", expr("CAST(rank % 13 AS INT)"))
        .withColumn("eff_priority",
          col("priority") + expr("waited div 4"))
      aged.withColumn("slot",
          row_number().over(Window.partitionBy(col("host"))
            .orderBy(col("eff_priority").desc, col("rank").asc)))
        .select(col("url"), col("host"), col("priority"), col("waited"),
          col("eff_priority"), (col("slot") <= 3).as("granted"))
    },
    Some(cte("frontier") +
      """, aged AS (
        |  SELECT url, host, priority, rank,
        |    CAST(rank % 13 AS INT) AS waited,
        |    CAST(priority + CAST(rank % 13 AS INT) // 4 AS BIGINT)
        |      AS eff_priority
        |  FROM frontier
        |)
        |SELECT url, host, priority, waited, eff_priority,
        |  ROW_NUMBER() OVER (PARTITION BY host
        |    ORDER BY eff_priority DESC, rank ASC) <= 3 AS granted
        |FROM aged""".stripMargin))

  // Flaky-host fixture: hosts with hostnum % 11 = 3 drop every even page
  // (connection-level failure), on top of the corpus's 503 pages. Shared
  // SQL text both engines.
  private val FetchFailedSql =
    """status >= 500 OR
      |  (CAST(SUBSTR(split_part(host, '.', 1), 2) AS INT) % 11 = 3
      |   AND page_key % 2 = 0)""".stripMargin

  /** Per-host error-rate circuit breaker (host quarantine) — after a host's
    * recent fetch-failure rate crosses a threshold, a production crawler
    * stops scheduling it for a cool-off instead of burning politeness slots
    * on a dead server (Heritrix's retry/precedence policies, Nutch's host
    * blocking). Rate over the host's recent fetches in integer milli;
    * quarantine = rate ≥ 300‰ with an n ≥ 10 volume guard (a 1-for-2 host
    * is noise, not an outage).
    *
    * Scale: ONE host-keyed partial agg (two conditional counts — map-side
    * combined; bodies/urls never move); the quarantine list is O(hosts)
    * and broadcasts back into the scheduler as a gate dimension, exactly
    * like the robots rules and q102's refetch batch.
    */
  val qHostQuarantine = Q(
    "q104_host_quarantine",
    (s, dir) => {
      view(s, dir, "pages")
        .withColumn("failed", expr(FetchFailedSql))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_fetches"),
          sum(when(col("failed"), 1L).otherwise(0L)).as("n_failed"))
        .withColumn("err_milli", expr("1000 * n_failed div n_fetches"))
        .select(col("host"), col("n_fetches"), col("n_failed"),
          col("err_milli"),
          (col("err_milli") >= 300 && col("n_fetches") >= 10)
            .as("quarantined"))
    },
    Some(cte("pages") +
      s""", agg AS (
        |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fetches,
        |    CAST(SUM(CASE WHEN $FetchFailedSql
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
        |  FROM pages GROUP BY 1
        |)
        |SELECT host, n_fetches, n_failed,
        |  1000 * n_failed // n_fetches AS err_milli,
        |  1000 * n_failed // n_fetches >= 300 AND n_fetches >= 10
        |    AS quarantined
        |FROM agg""".stripMargin))

  val all: Seq[Q] = Seq(qAnchorText, qNfcNormalize, qUrlTemplate,
    qMetaRobots, qShardManifest, qIpPoliteness, qContentSniff,
    qInvertedIndex, qHllSketch, qDegreeDistribution, qCanonicalDedup,
    qSoft404, qIdnHost, qRobotsTtl, qPriorityAging, qHostQuarantine)
}
