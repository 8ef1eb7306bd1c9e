"""URL / domain curation operators for crawled corpora.

Every production crawl pipeline filters and audits by DOMAIN before any
content-level stage (C4 and RefinedWeb both start with URL blocklists
and per-domain caps; Gopher's MassiveWeb reports per-domain attrition):
it is the cheapest signal available — no parse, no tokenize — and it is
where licensing/toxicity blocklists apply. These operators give the
engine that stage over any frame carrying a URL column.

Everything here is pure JVM expression (``parse_url``, arrays, one
groupBy for stats) — codegen'd, no Python, no UDFs; the only shuffle is
the stats aggregation keyed by domain.

Registrable domain ("example.co.uk" from "news.example.co.uk") is
computed against a built-in set of COMMON multi-label public suffixes,
not the full Public Suffix List (~10k entries, updated continuously —
a production deployment broadcasts the real PSL as a join or generated
literal; the operator takes ``extra_suffixes`` for that). The
approximation is documented, deterministic, and exactly reproducible
in SQL, which keeps the DuckDB twin byte-exact.

At 100 TB: host extraction and blocklist filtering are map-side
(broadcast anti-join for list-sized blocklists); ``domain_stats``
shuffles once on the registrable domain — bounded by the domain count
(~10^7 for the full web), far below doc cardinality, and skew on
mega-domains is partial-aggregated map-side by Spark's hash aggregate
before the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Common multi-label public suffixes (second level). A host whose last
# TWO labels match takes three labels as its registrable domain.
_MULTI_SUFFIXES = (
    "co.uk org.uk ac.uk gov.uk net.uk "
    "com.au net.au org.au edu.au gov.au "
    "co.jp ne.jp or.jp ac.jp go.jp "
    "com.br net.br org.br gov.br "
    "co.in net.in org.in gen.in firm.in "
    "com.cn net.cn org.cn gov.cn edu.cn "
    "co.nz net.nz org.nz govt.nz "
    "co.za org.za net.za gov.za "
    "com.mx org.mx net.mx gob.mx "
    "com.ar net.ar org.ar gob.ar "
    "com.tr net.tr org.tr gov.tr "
    "co.kr ne.kr or.kr go.kr "
    "com.sg net.sg org.sg gov.sg "
    "com.hk net.hk org.hk gov.hk "
    "com.tw net.tw org.tw gov.tw "
    "co.il net.il org.il gov.il "
    "com.ua net.ua org.ua gov.ua "
    "com.pl net.pl org.pl gov.pl"
).split()

_IPV4_RE = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"


def url_host(url: Column | str) -> Column:
    """Lower-cased host of a URL (no port, no userinfo) — NULL for
    unparseable values. JVM ``parse_url``, codegen'd. A trailing
    FQDN dot (``example.com.``) is stripped so blocklists keyed on
    ``example.com`` still match (RFC-legal absolute form, and real
    crawl URLs carry it)."""
    c = F.col(url) if isinstance(url, str) else url
    # try_parse_url: ANSI mode makes parse_url THROW on junk values —
    # crawl URLs are untrusted input, NULL is the contract
    return F.regexp_replace(
        F.lower(F.try_parse_url(c, F.lit("HOST"))), r"\.+$", ""
    )


def registrable_domain(
    host: Column | str, extra_suffixes: tuple[str, ...] = ()
) -> Column:
    """Registrable domain (eTLD+1 approximation) of a lower-cased host:
    last two labels, or last three when the two-label tail is a known
    multi-label suffix (``co.uk``-style; extend via ``extra_suffixes``
    — e.g. the full PSL rendered to literals). IPv4 hosts and
    single-label hosts pass through whole."""
    c = F.col(host) if isinstance(host, str) else host
    parts = F.split(c, r"\.")
    n = F.size(parts)
    tail2 = F.concat_ws(".", F.slice(parts, -2, 2))
    tail3 = F.concat_ws(".", F.slice(parts, -3, 3))
    suffixes = list(_MULTI_SUFFIXES) + list(extra_suffixes)
    return (
        # NULL host → NULL (concat_ws would otherwise fold NULL to "")
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(c.rlike(_IPV4_RE) | (n <= 2), c)
        .when(tail2.isin(suffixes), tail3)
        .otherwise(tail2)
    )


class PublicSuffixList:
    """Real Public Suffix List semantics (publicsuffix.org/list/ — the
    algorithm is public spec) as a pure JVM expression over a
    driver-parsed rule set.

    Rules: exact (``co.uk``), wildcard (``*.ck`` — any single label
    under the base is a public suffix), exception (``!www.ck`` — the
    named tail is NOT a public suffix despite a covering wildcard).
    Prevailing rule per spec: any matching exception beats everything;
    otherwise the LONGEST matching public suffix wins; the implicit
    default rule ``*`` (unknown TLD → last label) is the fallthrough.

    Execution shape: rule membership compiles to ``Column.isin`` over
    the per-label-count rule lists — Catalyst rewrites any ``In`` above
    ``spark.sql.optimizer.inSetConversionThreshold`` (default 10) to
    ``InSet``, an O(1) broadcast-hash-set probe inside whole-stage
    codegen. The full PSL (~10k rules) is therefore a handful of
    hash-set probes per row: map-side, no join, no shuffle, no UDF —
    strictly cheaper at 100 TB than the broadcast-join alternative
    (which would pay one probe per candidate tail PLUS join plumbing).

    Caveats (documented, inherent to the representation): hosts are
    matched as-is after lowercasing — supply punycode rules for
    punycode hosts (the canonical PSL ships Unicode labels; crawl URLs
    are almost always punycode, so feed the PSL through ``idna`` where
    exactness on IDN TLDs matters). ``registrable_domain`` (the
    zero-dep built-in subset above) remains the fallback when no PSL
    file is shipped."""

    def __init__(self, rules: "list[str] | str") -> None:
        if isinstance(rules, str):
            rules = rules.splitlines()
        self.exact: dict[int, list[str]] = {}
        self.wildcard: dict[int, list[str]] = {}
        self.exception: dict[int, list[str]] = {}
        for raw in rules:
            line = raw.strip().lower()
            # spec: everything after the first whitespace is a comment
            line = line.split()[0] if line.split() else ""
            if not line or line.startswith("//"):
                continue
            if line.startswith("!"):
                bucket, rule = self.exception, line[1:]
            elif line.startswith("*."):
                bucket, rule = self.wildcard, line[2:]
            elif line == "*":
                continue  # the implicit default rule — always applied
            else:
                bucket, rule = self.exact, line
            if rule:
                bucket.setdefault(rule.count(".") + 1, []).append(rule)
        self.max_suffix_labels = max(
            [k for k in self.exact] + [k + 1 for k in self.wildcard] + [1]
        )

    @classmethod
    def from_file(cls, path: str) -> "PublicSuffixList":
        with open(path, encoding="utf-8") as f:
            return cls(f.read())

    def registrable_domain(self, host: Column | str) -> Column:
        """eTLD+1 of a lower-cased host under the full rule semantics.
        NULL when the host IS a public suffix (spec: no registrable
        domain exists), the host is NULL, or the host contains an empty
        label (``.example.com`` / ``a..com`` — checkPublicSuffix's
        leading-dot vectors pin NULL; ``url_host`` never emits such
        hosts, but this method is public API over arbitrary host
        columns); IPv4 hosts pass through whole (consistent with
        :func:`registrable_domain`)."""
        c = F.col(host) if isinstance(host, str) else host
        parts = F.split(c, r"\.")
        n = F.size(parts)

        def tail(k: int) -> Column:
            return F.concat_ws(".", F.slice(parts, -k, k))

        def hit(k: int, bucket: dict[int, list[str]]) -> Column:
            rules = bucket.get(k)
            if not rules:
                return F.lit(False)
            return (n >= k) & tail(k).isin(rules)

        # default rule '*': public suffix = last label → eTLD+1 = tail(2)
        dom = F.when(n >= 2, tail(2)).otherwise(F.lit(None).cast("string"))
        # longest public suffix wins: scan suffix length s upward so the
        # final chained expression checks the LONGEST first
        for s in range(2, self.max_suffix_labels + 1):
            # a wildcard with an (s-1)-label base matches an s-label
            # public suffix ONLY when the host actually has a label in
            # the * position (n >= s) — a host EQUAL to the base must
            # fall through to the shorter rules (spec: '*' consumes a
            # label)
            cond = hit(s, self.exact) | (
                hit(s - 1, self.wildcard) & (n >= s)
            )
            dom = F.when(
                cond,
                F.when(n > s, tail(s + 1)).otherwise(
                    F.lit(None).cast("string")
                ),
            ).otherwise(dom)
        # 1-label exact rules add nothing over the default; wildcard
        # bases of 1 label (*.ck) were handled at s=2 above
        # exception rules prevail over every suffix rule: the matched
        # tail ITSELF is the registrable domain (spec: drop the
        # exception's leftmost label to get the public suffix)
        for k in sorted(self.exception):
            dom = F.when(hit(k, self.exception), tail(k)).otherwise(dom)
        return (
            F.when(
                c.isNull() | F.array_contains(parts, ""),
                F.lit(None).cast("string"),
            )
            .when(c.rlike(_IPV4_RE), c)
            .otherwise(dom)
        )


def with_domain(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "domain",
    extra_suffixes: tuple[str, ...] = (),
    host_col: str = "host",
    psl: "PublicSuffixList | None" = None,
) -> DataFrame:
    """Append host + registrable-domain columns (map-side). The
    derived host lands in ``host_col`` (default ``"host"``) — pass a
    different ``host_col`` if the input already carries a ``host``
    column you need to keep, otherwise it is overwritten; ``psl``
    switches the eTLD+1 computation to a real Public Suffix List (see
    :class:`PublicSuffixList`). ``psl`` and ``extra_suffixes`` are
    mutually exclusive — the PSL rule set replaces the built-in
    suffix table entirely, so silently dropping custom suffixes on a
    migration would be a trap."""
    if psl is not None and extra_suffixes:
        raise ValueError(
            "psl and extra_suffixes are mutually exclusive: add custom "
            "rules to the PublicSuffixList rule set instead"
        )
    host = url_host(url_col)
    dom = (
        psl.registrable_domain(F.col(host_col))
        if psl is not None
        else registrable_domain(F.col(host_col), extra_suffixes)
    )
    return df.withColumn(host_col, host).withColumn(out_col, dom)


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str | None = None,
    extra_suffixes: tuple[str, ...] = (),
    psl: "PublicSuffixList | None" = None,
) -> DataFrame:
    """Per-registrable-domain corpus audit → ``(domain, n_docs,
    n_hosts, total_chars?, avg_chars?)`` sorted nowhere (caller
    orders). The per-domain doc share is THE input to domain capping
    (RefinedWeb §3.1 caps any single domain's contribution); feed this
    to ``topk_per_group`` / quantiles for the report. ``psl`` keys the
    audit on full Public-Suffix-List eTLD+1 (same map-side InSet
    probes — the groupBy key expression changes, the plan shape
    doesn't)."""
    d = with_domain(df, url_col, extra_suffixes=extra_suffixes, psl=psl)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
    ]
    if text_col is not None:
        aggs += [
            F.sum(F.length(text_col)).alias("total_chars"),
            F.round(F.avg(F.length(text_col)), 6).alias("avg_chars"),
        ]
    return d.groupBy("domain").agg(*aggs)


def filter_domains(
    df: DataFrame,
    blocked: DataFrame | list[str] | tuple[str, ...],
    url_col: str = "url",
    mode: str = "block",
    extra_suffixes: tuple[str, ...] = (),
    psl: "PublicSuffixList | None" = None,
) -> DataFrame:
    """Drop (``mode="block"``) or keep (``mode="allow"``) rows whose
    registrable domain is in the list. List-sized inputs become a
    BROADCAST anti/semi join (blocklists are ~10^5-10^6 rows — always
    broadcastable); a DataFrame input must have a ``domain`` column.
    Subdomains match their registrable domain by construction
    (``ads.tracker.co.uk`` is blocked by ``tracker.co.uk``). Original
    columns pass through unchanged. ``psl`` switches
    the match key to full Public-Suffix-List eTLD+1 (so ``foo.bar.ck``
    is blocked by listing ``foo.bar.ck``, its PSL-correct registrable
    domain under the ``*.ck`` wildcard — not ``bar.ck``)."""
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    if psl is not None and extra_suffixes:
        raise ValueError(
            "psl and extra_suffixes are mutually exclusive: add custom "
            "rules to the PublicSuffixList rule set instead"
        )
    spark = df.sparkSession
    if not isinstance(blocked, DataFrame):
        blocked = spark.createDataFrame(
            [(d.lower(),) for d in blocked], "domain string"
        )
    key = (
        psl.registrable_domain(url_host(url_col))
        if psl is not None
        else registrable_domain(url_host(url_col), extra_suffixes)
    )
    how = "left_anti" if mode == "block" else "left_semi"
    return (
        df.withColumn("__dom", key)
        .join(
            F.broadcast(blocked.select(F.col("domain").alias("__dom"))),
            "__dom",
            how,
        )
        .drop("__dom")
    )


def cap_domains(
    df: DataFrame,
    url_col: str = "url",
    max_docs: int = 1000,
    id_col: str = "doc_id",
    extra_suffixes: tuple[str, ...] = (),
    psl: "PublicSuffixList | None" = None,
    method: str = "exact",
) -> DataFrame:
    """Cap any single registrable domain's contribution at ``max_docs``
    rows — the anti-spam stage RefinedWeb (§3.1) and MassiveWeb run
    after the blocklist: without it a handful of mega-domains (content
    farms, mirrors) dominate the corpus. Rows with an unparseable URL
    are never capped (no domain to key on). The kept subset is a
    deterministic HASH-ORDER sample per domain (md5 of domain+id), not
    first-N by id — unbiased w.r.t. crawl order and rerun-stable.

    ``method="exact"`` (default): one window keyed by domain,
    row_number over the hash order, keep ≤ ``max_docs``. Exactly
    ``min(n, max_docs)`` rows per domain; the per-domain sort is the
    cost — fine up to mega-domains (spillable), and the window
    partitions by domain so the shuffle is one exchange.

    ``method="hash"``: skew-proof variant for 100 TB — per-domain
    counts (ONE vocabulary-bounded agg), then a map-side keep rule
    ``hash_unit(id) < max_docs/n_domain`` after a broadcast-or-shuffle
    join of the tiny counts frame. No per-domain sort, no window, no
    mega-domain hotspot; keeps ``~max_docs`` rows per domain
    (binomially distributed around the cap) — the documented trade.
    """
    if method not in ("exact", "hash"):
        raise ValueError(f"method must be 'exact' or 'hash', got {method!r}")
    if psl is not None and extra_suffixes:
        raise ValueError(
            "psl and extra_suffixes are mutually exclusive: add custom "
            "rules to the PublicSuffixList rule set instead"
        )
    dom = (
        psl.registrable_domain(url_host(url_col))
        if psl is not None
        else registrable_domain(url_host(url_col), extra_suffixes)
    )
    d = df.withColumn("__dom", dom)
    if method == "exact":
        # NULL-domain rows are by contract never capped — route them
        # AROUND the window (a single NULL key would otherwise funnel
        # every unparseable URL into one mega-partition whose sort is
        # paid and then discarded)
        order = F.md5(
            F.concat_ws("\x00", F.col("__dom"), F.col(id_col).cast("string"))
        )
        w = Window.partitionBy("__dom").orderBy(order.asc())
        capped = (
            d.filter(F.col("__dom").isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_docs)
            .drop("__rn")
        )
        return capped.unionByName(
            d.filter(F.col("__dom").isNull())
        ).drop("__dom")
    counts = d.groupBy("__dom").agg(F.count(F.lit(1)).alias("__n"))
    # md5-derived unit-interval hash: the first 8 hex chars as a
    # fraction of 2^32 — deterministic, replayable in plain SQL
    unit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x00", F.col("__dom"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        d.join(counts, "__dom", "left")
        .filter(
            F.col("__dom").isNull()
            | (F.col("__n") <= max_docs)
            | (unit < F.lit(float(max_docs)) / F.col("__n"))
        )
        .drop("__dom", "__n")
    )


# ------------------------------------------------- URL canonicalization

# Tracking/analytics query parameters stripped by default — the
# standard strip set every crawl dedup applies before URL-keyed
# dedup (utm_* is Google Analytics' documented campaign tagging;
# gclid/fbclid/msclkid are the big ad-click ids; mc_* is Mailchimp,
# _hs* HubSpot, pk_/mtm_ Matomo). Two URLs differing only in these
# are the same fetched resource.
TRACKING_PARAMS = (
    "utm_source utm_medium utm_campaign utm_term utm_content utm_id "
    "gclid gclsrc dclid wbraid gbraid fbclid msclkid twclid yclid "
    "igshid mc_cid mc_eid _hsenc _hsmi mkt_tok oly_anon_id oly_enc_id "
    "vero_id vero_conv _ga _gl pk_campaign pk_kwd pk_source pk_medium "
    "mtm_campaign mtm_source mtm_medium ref_src s_cid spm scid"
).split()


def normalize_url(
    url: Column | str,
    strip_params: tuple[str, ...] | list[str] = TRACKING_PARAMS,
    strip_www: bool = False,
) -> Column:
    """Canonical form of a URL for URL-keyed deduplication — the first
    dedup gate of every crawl pipeline (the same page is fetched under
    many spellings; CC-index dedup and C4-style corpora key on a
    canonicalized URL before any content stage).

    Normalizations applied (each deterministic, all JVM expressions —
    ``try_parse_url`` + higher-order array functions, codegen'd, zero
    shuffle):

    - scheme + host lowercased; trailing FQDN dots stripped from host
    - userinfo dropped; default ports dropped (``:80`` on http,
      ``:443`` on https), explicit non-default ports kept
    - empty path → ``/``
    - fragment dropped (client-side only, never reaches the server)
    - query params with a key in ``strip_params`` dropped
      (case-insensitive key match), the rest SORTED byte-wise so
      param order doesn't split identical resources; an emptied query
      drops its ``?``
    - with ``strip_www=True``, one leading ``www.`` label is removed
      when the remaining host still has ≥2 labels (opt-in: www and
      apex are usually but not always the same site)

    NOT applied (documented): percent-encoding case/decode
    normalization and path-segment ``..`` collapsing — both require
    per-byte rewriting that the reference pipelines skip too.

    Returns NULL for unparseable values or URLs with no host
    (``try_parse_url`` null contract — crawl URLs are untrusted).
    """
    c = F.col(url) if isinstance(url, str) else url
    proto = F.lower(F.try_parse_url(c, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.try_parse_url(c, F.lit("HOST"))), r"\.+$", ""
    )
    if strip_www:
        stripped = F.regexp_replace(host, r"^www\.", "")
        host = F.when(
            host.startswith("www.") & stripped.contains("."), stripped
        ).otherwise(host)
    authority = F.try_parse_url(c, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    port_part = F.when(
        (port == "")
        | ((proto == "http") & (port == "80"))
        | ((proto == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.try_parse_url(c, F.lit("PATH"))
    path_part = F.when(
        path.isNull() | (path == ""), F.lit("/")
    ).otherwise(path)
    query = F.try_parse_url(c, F.lit("QUERY"))
    drop_keys = [k.lower() for k in strip_params]
    params = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: (p != "")
            & ~F.lower(F.element_at(F.split(p, "="), 1)).isin(drop_keys),
        )
    )
    q_part = F.when(
        F.size(params) == 0, F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(params, "&")))
    return F.when(
        proto.isNull() | host.isNull() | (host == ""),
        F.lit(None).cast("string"),
    ).otherwise(
        F.concat(proto, F.lit("://"), host, port_part, path_part, q_part)
    )


def normalize_url_sql(
    url_expr: str,
    strip_params: tuple[str, ...] | list[str] = TRACKING_PARAMS,
    strip_www: bool = False,
) -> str:
    """DuckDB SQL twin of :func:`normalize_url` (regex-based RFC-3986
    splitting in place of ``try_parse_url``; byte-exact on well-formed
    URLs — the twin corpus contract)."""
    u = url_expr
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    auth = f"regexp_extract({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)"
    hostport = f"regexp_replace({auth}, '^[^@]*@', '')"
    host = (
        "regexp_replace(lower(regexp_replace("
        f"{hostport}, ':[0-9]*$', '')), '\\.+$', '')"
    )
    if strip_www:
        stripped = f"regexp_replace({host}, '^www\\.', '')"
        host = (
            f"CASE WHEN {host} LIKE 'www.%' AND contains({stripped}, '.') "
            f"THEN {stripped} ELSE {host} END"
        )
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    port_part = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') "
        f"THEN '' ELSE ':' || {port} END"
    )
    path = (
        f"regexp_extract({u},"
        " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    )
    path_part = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    query = f"regexp_extract({u}, '^[^#]*\\?([^#]*)', 1)"
    drop_keys = ", ".join(
        "'" + k.lower().replace("'", "''") + "'" for k in strip_params
    )
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"_p -> _p <> '' AND lower(string_split(_p, '=')[1]) "
        f"NOT IN ({drop_keys})))"
    )
    q_part = (
        f"CASE WHEN len({params}) = 0 THEN '' "
        f"ELSE '?' || array_to_string({params}, '&') END"
    )
    return (
        f"CASE WHEN {scheme} = '' OR {host} = '' THEN NULL "
        f"ELSE {scheme} || '://' || {host} || {port_part} "
        f"|| {path_part} || {q_part} END"
    )


def url_duplicates(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_params: tuple[str, ...] | list[str] = TRACKING_PARAMS,
    strip_www: bool = False,
) -> DataFrame:
    """(id, canonical_id) by canonical URL — same contract as
    ``dedup.exact_duplicates`` but keyed on :func:`normalize_url`
    instead of a content digest, so the many spellings of one fetched
    resource collapse BEFORE any text is parsed (the cheapest dedup
    gate a crawl pipeline has). Rows whose URL fails to canonicalize
    (NULL) are each their own canonical — never merged with each
    other. One shuffle keyed by the canonical URL; mega-URL skew
    cannot occur (a key maps to refetches of one resource)."""
    key = F.coalesce(
        normalize_url(url_col, strip_params, strip_www),
        # NULL-keyed rows must not merge: salt each to a singleton key
        F.concat(F.lit("\x00unparseable:"), F.col(id_col).cast("string")),
    )
    w = Window.partitionBy("_k")
    return (
        df.select(F.col(id_col).alias("id"), key.alias("_k"))
        .withColumn("canonical_id", F.min("id").over(w))
        .drop("_k")
    )


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_params: tuple[str, ...] | list[str] = TRACKING_PARAMS,
    strip_www: bool = False,
) -> DataFrame:
    """Keep one row (min id) per canonical URL; NULL-canonical rows
    all survive. All original columns pass through. Same single
    window shuffle as :func:`url_duplicates`."""
    key = F.coalesce(
        normalize_url(url_col, strip_params, strip_www),
        F.concat(F.lit("\x00unparseable:"), F.col(id_col).cast("string")),
    )
    w = Window.partitionBy("_k").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_k", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )
