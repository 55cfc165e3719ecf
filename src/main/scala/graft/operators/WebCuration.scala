package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL / domain-level corpus curation (beyond-reference; the C4 /
  * RefinedWeb web-pipeline family — Raffel et al. JMLR'20 §2.2, Penedo
  * et al. NeurIPS'23 §3.1): URL canonicalization, public-suffix-list
  * registrable-domain extraction, domain blocklist/allowlist filtering,
  * canonical-URL exact dedup, and per-domain quota caps.
  *
  * Scale shape: every operator here is a pure per-row PROJECTION (plus,
  * for dedup/quota, the one unavoidable shuffle on the canonical key) —
  * no explode-and-join-back, no driver round-trips. The PSL rule set
  * rides along as plan literals ([[typedLit]] maps), so domain
  * extraction is shuffle-free and partition-parallel. The shipped rule
  * set is a subset (resource `graft/public_suffix_subset.dat`, real PSL
  * file format incl. wildcard and exception rules); with the full ~9k
  * rule publicsuffix.org list, `GetMapValue` over a literal map is an
  * O(rules) linear scan per lookup — at that size swap the literal maps
  * for an executor-side static hash map behind a native Expression (the
  * [[graft.plans.CentroidExpressions]] pattern). The algorithm itself is
  * unchanged.
  */
object WebCuration {

  // ------------------------------------------------------------------
  // URL canonicalization (RFC 3986 §6 normalization subset)
  // ------------------------------------------------------------------

  /** Canonical form of an absolute http(s)-style URL:
    *
    *   - strip the fragment (`#…` — never sent to the server);
    *   - strip RFC 3986 userinfo (`user:pass@host` → `host`): userinfo
    *     never names a different resource, and on real crawl data such
    *     URLs must merge onto their bare-host twins (before this rule
    *     they stayed parseable with the userinfo baked into the host
    *     slice — a silent under-merge). Stripped at the LAST `@` of the
    *     authority: `@` cannot legally appear in a host, so anything
    *     before one is userinfo (possibly itself malformed — defensive
    *     for crawl data);
    *   - lowercase the scheme and the host (RFC 3986 §6.2.2.1 case
    *     normalization; the path stays case-SENSITIVE);
    *   - drop the port when absent, empty, or equal to the scheme
    *     default (http:80, https:443 — §6.2.3), and strip leading
    *     zeros otherwise (`:08080` ≡ `:8080`);
    *   - empty path → `/` (§6.2.3);
    *   - percent-encoding normalization of path and query (§6.2.2.2
    *     via [[graft.plans.WebExpressions.pctNormalize]]): hex digits
    *     uppercase (`%2f` ≡ `%2F`), unreserved characters decoded
    *     (`%41` ≡ `A`); reserved characters stay encoded. The host is
    *     NOT pct-decoded (a pct-encoded reg-name is vanishingly rare
    *     in crawls and java.net.URI rejects most of them — kept
    *     byte-literal so the key never invents a host);
    *   - sort `&`-separated query parameters byte-lexicographically
    *     (the C4/crawl-dedup convention — param order is almost never
    *     semantics-bearing; duplicate keys keep their multiplicity);
    *     empty query (`?` or none) is dropped;
    *   - NULL for anything that is not an absolute http-style URL
    *     (missing `scheme://`, empty host, or a port outside
    *     [0, 65535]). Without this, malformed crawl rows (relative
    *     hrefs, protocol-relative `//h/x`, overflowing ports) would
    *     all collapse onto a handful of degenerate keys like `:///x`
    *     and a downstream URL dedup would silently merge UNRELATED
    *     documents; NULL is the dead-letter the caller can count.
    *
    * Composition of codegen'd built-ins (regexp_extract / lower /
    * array_sort) plus the codegen'd pct kernel — stays inside
    * WholeStageCodegen, no UDF.
    */
  def canonicalizeUrl(url: Column): Column = {
    import graft.plans.WebExpressions.pctNormalize
    val u = regexp_replace(trim(url), "#.*$", "") // fragment off first
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val authority = lower(regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1))
    val hostPort = regexp_replace(authority, "^.*@", "") // userinfo off
    // IDN ToASCII (r14): unicode hosts punycode-encode per label, so
    // `bücher.example` and `xn--bcher-kva.example` merge; pure-ASCII
    // hosts pass the kernel untouched (byte-identity fast path)
    val host = graft.plans.WebExpressions.idnToAscii(
      regexp_extract(hostPort, "^([^:]*)", 1))
    val rawPort = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val defPort = when(scheme === "http", lit(80L))
      .when(scheme === "https", lit(443L))
      .otherwise(lit(-1L))
    // leading zeros stripped BEFORE the range check, and a digit run
    // longer than 5 marked out-of-range directly — so an arbitrarily
    // long port never reaches a lossy cast (which would null the whole
    // concat here while the DuckDB twin's strict CAST hard-errors)
    val portDigits = regexp_replace(rawPort, "^0+", "")
    val portN = when(rawPort === "", lit(-1L))
      .when(length(portDigits) > 5, lit(65536L)) // out of range → invalid
      .otherwise(coalesce(portDigits.cast("long"), lit(0L)))
    val port = when(portN === -1L || portN === defPort, lit(""))
      .otherwise(concat(lit(":"), portN.cast("string")))
    val rawPath = pctNormalize(
      regexp_extract(u, "^[^:/?#]+://[^/?#]*([^?#]*)", 1))
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    // pct-normalize BEFORE the param sort: normalization changes bytes,
    // so sorting first would order `a=%31` after `b=2` and the merged
    // key would depend on the raw encoding
    val rawQ = pctNormalize(regexp_extract(u, "\\?([^#]*)", 1))
    val query = when(rawQ === "", lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(split(rawQ, "&")),
        "&")))
    when(scheme =!= "" && host =!= "" && portN <= 65535L,
      concat(scheme, lit("://"), host, port, path, query))
  }

  /** Lowercased, IDN-ASCII host of an absolute URL (port and RFC 3986
    * userinfo stripped — same authority decomposition and punycode
    * normalization as [[canonicalizeUrl]], so the PSL probe sees the
    * same host form the dedup key carries). */
  def urlHost(url: Column): Column = {
    val auth = regexp_extract(lower(trim(url)), "^[^:/?#]+://([^/?#]*)", 1)
    graft.plans.WebExpressions.idnToAscii(
      regexp_extract(regexp_replace(auth, "^.*@", ""), "^([^:]*)", 1))
  }

  // ------------------------------------------------------------------
  // Public-suffix list → registrable domain
  // ------------------------------------------------------------------

  /** One publicsuffix.org rule. `name` is the rule with any `*.` / `!`
    * marker stripped, lowercase; label counts are derived. */
  final case class PslRule(name: String, isWildcard: Boolean,
                           isException: Boolean) {
    def labelCount: Int = name.count(_ == '.') + 1
  }

  /** Parse the public PSL file format (publicsuffix.org/list): one rule
    * per line; `//` comments and blank lines skipped; `*.` prefix marks
    * a wildcard rule, `!` prefix an exception rule. Only the rule-name
    * token (up to the first whitespace) is read, per the spec.
    */
  def parsePsl(lines: Iterator[String]): Seq[PslRule] =
    lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map(_.split("\\s+")(0).toLowerCase)
      .map {
        case l if l.startsWith("!")  => PslRule(l.drop(1), isWildcard = false,
          isException = true)
        case l if l.startsWith("*.") => PslRule(l.drop(2), isWildcard = true,
          isException = false)
        case l                       => PslRule(l, isWildcard = false,
          isException = false)
      }
      .toSeq

  /** The shipped rule subset (resource file, PSL format). */
  lazy val defaultPsl: Seq[PslRule] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_subset.dat")
    require(in != null, "missing resource graft/public_suffix_subset.dat")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try parsePsl(src.getLines()) finally src.close()
  }

  /** Parse a PSL rule file from a filesystem path — the deploy seam for
    * a real publicsuffix.org snapshot (the list updates ~weekly; a
    * resource-baked copy would pin it to the build). The kernel is
    * measured FLAT in rule count up to full-PSL size (0.14 s/1M rows at
    * 9 015 rules vs 0.23 s at 15; SCALE.md, URL/domain web curation), so swapping in the real list changes nothing but
    * the rules. */
  def loadPsl(path: String): Seq[PslRule] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parsePsl(src.getLines()) finally src.close()
  }

  /** The `EtlConfigs` fallback pattern: an existing file at `path` wins;
    * absent (or None) falls back to the shipped resource subset — so one
    * config value switches a deployment to the real publicsuffix.org
    * list without touching call sites. */
  def pslFrom(path: Option[String]): Seq[PslRule] = path match {
    case Some(p) if new java.io.File(p).exists() => loadPsl(p)
    case _ => defaultPsl
  }

  /** Registrable ("eTLD+1") domain of a host column (any case — both
    * forms lowercase internally, so a mixed-case host can never
    * silently miss the rule probes), per the publicsuffix.org
    * algorithm:
    *
    *   1. among all rules matching a suffix of the host, the prevailing
    *      rule is the exception rule if any matched, else the longest;
    *   2. exception rule `!x.y` → public suffix is `y` (the rule minus
    *      its leftmost label); wildcard `*.y` matches any host suffix
    *      one label longer than `y`; no match → default rule `*` (the
    *      last label is the public suffix);
    *   3. registrable domain = public suffix plus one host label; NULL
    *      when the host IS a public suffix (nothing was registered).
    *
    * Delegates to the native codegen'd kernel
    * ([[graft.plans.WebExpressions.registrableDomain]]): one
    * right-to-left walk over the host with O(1) hash-set probes,
    * ~0.2 µs/row — the Column-composition twin
    * ([[registrableDomainColumnForm]]) is algorithmically identical but
    * ~116 µs/row (candidate subtrees duplicated across ~18 probe sites
    * with no CSE), and a domain that becomes a filter/join key gets the
    * whole expression re-inlined below the projection by predicate
    * pushdown, multiplying that cost. WebCurationSpec pins the two
    * forms equal row-for-row. Zero shuffle, partition-parallel, and the
    * hash maps scale to the full ~9k-rule publicsuffix.org list
    * unchanged.
    *
    * @param maxDepth deepest public suffix considered, in labels
    *                 (default 5 — the full PSL's deepest rules are 5).
    */
  def registrableDomain(host: Column, psl: Seq[PslRule] = defaultPsl,
                        maxDepth: Int = 5): Column =
    graft.plans.WebExpressions.registrableDomain(host, psl, maxDepth)

  /** The pure-Column composition of the same algorithm — the kernel's
    * parity twin (kept for the spec's cross-check and as documentation
    * of the declarative form; do NOT use in hot paths, see
    * [[registrableDomain]]).
    */
  private[graft] def registrableDomainColumnForm(
      host: Column, psl: Seq[PslRule] = defaultPsl,
      maxDepth: Int = 5): Column = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val hostLc = lower(host) // parity with the kernel's internal lowercase
    val normal = psl.filter(r => !r.isWildcard && !r.isException)
      .map(r => r.name -> r.labelCount).toMap
    val wildcard = psl.filter(_.isWildcard).map(r => r.name -> 1).toMap
    val exception = psl.filter(_.isException)
      .map(r => r.name -> r.labelCount).toMap
    val normalM = typedLit(normal)
    val wildM = typedLit(wildcard)
    val excM = typedLit(exception)

    val labels = split(hostLc, "\\.")
    val n = size(labels)
    // candidate i = last i labels of the host, null when i > n; one
    // extra slot (maxDepth+1) so the registrable domain itself is a
    // candidate lookup
    val cands: Seq[Column] = (1 to (maxDepth + 1)).map { i =>
      when(n >= i, array_join(slice(labels, -i, i), "."))
    }
    // priority of candidate i: exception 1000+(i-1), else match length i
    val prios: Seq[Column] = (1 to maxDepth).flatMap { i =>
      val c = cands(i - 1)
      val exc = when(c.isNotNull && element_at(excM, c).isNotNull,
        lit(1000 + i - 1))
      val norm = when(c.isNotNull && element_at(normalM, c).isNotNull,
        lit(i))
      val wild =
        if (i >= 2)
          Seq(when(cands(i - 2).isNotNull &&
            element_at(wildM, cands(i - 2)).isNotNull, lit(i)))
        else Nil
      Seq(exc, norm) ++ wild
    }
    val prio = greatest((prios :+ lit(1)): _*) // default rule `*` → 1
    val ps = prio % 1000
    // ps+1 ≤ maxDepth+1 = array length, so element_at is always in
    // bounds; the slot is null when the host has ≤ ps labels (host IS
    // a public suffix) — exactly the NULL the algorithm calls for
    element_at(array(cands: _*), (ps + 1).cast("int"))
  }

  // ------------------------------------------------------------------
  // Operators over a corpus with a URL column
  // ------------------------------------------------------------------

  /** Canonical-URL exact dedup: canonicalize, group, keep the smallest
    * id as survivor. Rows whose URL does not canonicalize (NULL — see
    * [[canonicalizeUrl]]) are DROPPED, not grouped: a shared null key
    * would merge every malformed row into one fake duplicate cluster
    * and silently discard real documents (dead-letter them upstream if
    * they matter). One hash-aggregate shuffle on the canonical key;
    * map-side partial aggregation bounds shuffle volume by the number
    * of DISTINCT canonical URLs per task, not by row count. */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(canonicalizeUrl(col(urlCol)).as("canonical_url"),
        col(idCol))
      .filter(col("canonical_url").isNotNull)
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_dups"))

  /** URL-funnel diagnostics — the drop accounting every web-curation
    * report publishes (C4 §2.2 style): total rows → parseable
    * (canonicalizable) → distinct canonical URLs, with the dead-letter
    * and duplicate masses as explicit columns. One aggregate over the
    * canonicalization projection; `countDistinct` plans as the standard
    * two-phase partial-distinct aggregate, so shuffle volume is bounded
    * by distinct canonical URLs, not rows. */
  def urlFunnel(df: DataFrame, urlCol: String): DataFrame =
    df.select(canonicalizeUrl(col(urlCol)).as("c"))
      .agg(count(lit(1)).as("total_rows"),
        count(col("c")).as("parseable"),
        (count(lit(1)) - count(col("c"))).as("dead_letter"),
        countDistinct(col("c")).as("n_canonical"),
        (count(col("c")) - countDistinct(col("c"))).as("dup_rows"))

  /** Blocklist (and optional allowlist) filter on a registrable-domain
    * column. NULL domains (host is itself a public suffix) are dropped —
    * a crawl row with no registrant is unattributable and every web
    * pipeline discards it. Lists are tiny plan literals; the filter is
    * a scan-level predicate, pushdown-eligible. */
  def domainFilter(df: DataFrame, domainCol: String, blocked: Seq[String],
                   allowed: Option[Seq[String]] = None): DataFrame = {
    val d = col(domainCol)
    val base = d.isNotNull && !d.isin(blocked.map(_.toLowerCase): _*)
    val full = allowed match {
      case Some(a) => base && d.isin(a.map(_.toLowerCase): _*)
      case None    => base
    }
    df.filter(full)
  }

  /** Domain-level quality rollup — RefinedWeb-style BLOCKLIST INDUCTION
    * (Penedo et al. NeurIPS'23 §3.1 curate by registrable domain;
    * Raffel et al. JMLR'20 §2.2 blocklist): per-eTLD+1 aggregates of
    * per-document quality signals the pipeline already computes, plus a
    * composite `block_score` ranking domains for human blocklist
    * review. A domain that is mostly duplicates of itself (link farms,
    * session-id URL spam) or mostly quality-filter rejects (boilerplate
    * mills) surfaces at the top.
    *
    * Inputs are COMPOSED, not recomputed: `keepCol` is a per-doc keep
    * verdict (e.g. [[Curation.gopherQualityFilter]]'s `keep`),
    * `wordsCol` a per-doc token count — join them on upstream. Emitted
    * per domain: doc count, parseable count, distinct canonical URLs,
    * URL dup rate (1 − distinct/parseable), quality keep rate, mean
    * words, and `block_score` = (dup_rate + (1 − keep_rate)) / 2 over
    * the ROUNDED rates (so the composite is engine-portable).
    *
    * Scale shape: one projection (canonical URL + PSL kernel domain)
    * and ONE hash-aggregate shuffle keyed on the domain; countDistinct
    * plans as the standard two-phase partial-distinct aggregate, so
    * shuffle volume is bounded by distinct (domain, canonical URL)
    * pairs per task, never rows. NULL domains (host is itself a public
    * suffix) drop, as in [[domainFilter]].
    */
  /** @param unresolvable when true, documents whose URL yields a NULL
    *   registrable domain (malformed, or the host IS a public suffix)
    *   are NOT silently dropped: they aggregate under the sentinel
    *   domain `(unresolvable)` so blocklist reviewers see the
    *   dead-letter mass — a spam source emitting mostly malformed URLs
    *   is otherwise invisible to induction. Default false preserves
    *   the drop semantics ([[domainFilter]] parity).
    */
  def domainQualityRollup(df: DataFrame, urlCol: String, idCol: String,
                          keepCol: String, wordsCol: String,
                          psl: Seq[PslRule] = defaultPsl,
                          unresolvable: Boolean = false): DataFrame = {
    val g = greatest(col("parseable"), lit(1L)).cast("double")
    val dom = registrableDomain(urlHost(col(urlCol)), psl)
    df.select(
        (if (unresolvable) coalesce(dom, lit("(unresolvable)")) else dom)
          .as("domain"),
        canonicalizeUrl(col(urlCol)).as("c"),
        col(keepCol).cast("int").as("_keep"),
        col(wordsCol).cast("long").as("_words"))
      .filter(col("domain").isNotNull)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("c")).as("parseable"),
        countDistinct(col("c")).as("n_canonical"),
        round(avg(col("_keep").cast("double")), 6).as("keep_rate"),
        round(avg(col("_words").cast("double")), 6).as("avg_words"))
      .withColumn("dup_rate",
        round((col("parseable") - col("n_canonical")).cast("double") / g, 6))
      .withColumn("block_score",
        round((col("dup_rate") + (lit(1d) - col("keep_rate"))) / 2d, 6))
  }

  /** HTML MAIN-CONTENT extraction over a crawl frame — the
    * trafilatura/jusText-style entry gate before gopher rules, line
    * dedup, and tokenization (semantics on
    * [[graft.plans.HtmlExpressions.htmlMainContent]]: raw-text and
    * comment stripping, wholesale nav/header/footer/aside/form
    * removal, block segmentation at block-level tags, entity decode,
    * per-block link-density drop). Returns one row per document:
    * (id, title, text, n_blocks, n_dropped, link_chars, text_chars).
    *
    * Scale shape: ONE map-only codegen'd projection on the crawl scan
    * — no shuffle, no UDF boundary; at 100 TB this is a pass over the
    * WARC-derived table at scan speed, and the projection prunes to
    * (id, html) at the source.
    */
  def extractMainContent(df: DataFrame, idCol: String, htmlCol: String,
                         maxLinkDensity: Double = 0.5): DataFrame =
    df.select(col(idCol),
        graft.plans.HtmlExpressions.htmlMainContent(
          col(htmlCol), maxLinkDensity).as("m"))
      .select(col(idCol), col("m.title").as("title"),
        col("m.text").as("text"), col("m.n_blocks").as("n_blocks"),
        col("m.n_dropped").as("n_dropped"),
        col("m.link_chars").as("link_chars"),
        col("m.text_chars").as("text_chars"))

  /** Per-domain quota cap: at most `quota` docs per registrable domain,
    * chosen by the deterministic content-free md5-of-id order — the
    * [[Curation.quotaSample]] draw keyed on domain. Plans as two-phase
    * WindowGroupLimit: at most `quota` rows per domain per input
    * partition cross the shuffle. */
  def domainQuotaCap(df: DataFrame, domainCol: String, idCol: String,
                     quota: Int): DataFrame =
    Curation.quotaSample(df, domainCol, idCol, quota)
}
