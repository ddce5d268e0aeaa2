"""URL normalisation and domain operators (C4 / RefinedWeb-style).

Web-scale pretraining corpora filter and deduplicate at the URL level before
ever touching document text: RefinedWeb (Penedo et al. 2023, §3.1) runs URL
dedup + a domain blocklist as its first stage, and C4 (Raffel et al. 2020,
§2.2) filters source URLs against a banned-domain list. These operators are
the Spark-side equivalents. The reference pipeline has no URL stage (its
ingest keeps ``url`` as an opaque provenance string, ingest.py:131) — this is
§2.9 scale surface, not reference parity.

Design constraints:
  * Pure Catalyst expressions (regex + array HOFs) — no UDF, fully
    codegen-fused, and mirrorable in DuckDB for the oracle referees
    (p27/d10/a13). Patterns are RE2-safe (no backreferences/lookaround) so
    Java regex and DuckDB's RE2 agree.
  * Deterministic: same string in, same string out; no DNS, no punycode,
    no PSL lookup (the registrable-domain helper is the last-two-labels
    approximation — a real deployment swaps in the public-suffix list as a
    broadcast join, same plan shape).

At 100 TB every helper here is a narrow per-row projection (no shuffle);
``url_dedup`` induces exactly one hash shuffle on the 64-hex url key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions.text_norm import _col

# Tracking query parameters stripped by normalize_url (the common
# click-provenance params that fragment otherwise-identical URLs).
# Case-insensitive: query param NAMES arrive in any case, and a
# case-sensitive match would both let UTM_SOURCE= through and break
# normalize_url's idempotence (the param would survive pass 1 but be
# stripped after the lowercasing on pass 2).
TRACKING_PARAM_RE = "(?i)^(utm_[^=]*|gclid|fbclid)="


def normalize_url(c: Column | str) -> Column:
    """Canonical URL for dedup/grouping.

    Steps (each mirrored literally in the DuckDB oracle):
      1. trim surrounding whitespace;
      2. drop the fragment (``#...`` — never sent to servers);
      3. drop tracking query params (``utm_*``, ``gclid``, ``fbclid``) by
         splitting the query on ``&`` and filtering — rebuilding avoids the
         dangling-separator mess of in-place regex deletion;
      4. strip trailing ``/`` from the PATH (applied to the pre-query base,
         so a ``/`` at the end of a query value survives — ``?next=/`` is
         data, not path);
      5. lowercase (scheme and host are case-insensitive; corpus URL dedup
         conventionally folds the path too).
    """
    t = F.trim(_col(c).cast("string"))
    # Fragment is stripped FIRST, then base/query are parsed from the
    # pre-fragment text. Extracting the query from the full string would
    # match a '?' sitting after the '#' (SPA hash routes like
    # 'page#/route?x=1') and resurrect fragment data as a real query.
    pre = F.regexp_extract(t, r"^[^#]*", 0)
    base = F.regexp_replace(F.regexp_extract(pre, r"^[^?]*", 0), r"/+$", "")
    query = F.regexp_extract(pre, r"\?(.*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    rebuilt = F.when(
        F.size(kept) > 0, F.concat(base, F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(base)
    return F.lower(rebuilt)


def url_domain(c: Column | str, strip_www: bool = True) -> Column:
    """Hostname of a URL: text in the authority after any ``userinfo@``
    and before the first ``/ ? # :`` (port dropped), lowercased, with a
    leading ``www.`` removed by default. Userinfo MUST be skipped — and
    greedily up to the LAST ``@`` in the authority (WHATWG semantics), or a
    banned-domain filter is evaded by ``https://a@b@blocked.com/`` (a
    single-@ skip would read the host as ``b``). Scheme-less inputs yield
    '' (null-safe: null → '')."""
    host = F.lower(
        F.regexp_extract(
            F.trim(F.coalesce(_col(c).cast("string"), F.lit(""))),
            r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#:@]+)",
            1,
        )
    )
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    return host


def surt_key(c: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the sort/
    lookup form every CDX index uses so one prefix scan covers a host,
    a registrable domain, or a whole TLD:

        https://www.Example.com:8080/Path/X?b=2&a=1#frag
            → ``com,example)/path/x?a=1&b=2``

    Canonicalisation (the common-denominator subset of the public
    surt/urlcanon libraries): scheme dropped, host lowercased +
    ``www.``-stripped + port-dropped (via ``url_domain``) and label-
    reversed with commas, fragment removed, empty path coerced to
    ``/`` (a query after a bare authority survives — the robots-gate
    extraction), path+query lowercased, query parameters sorted
    bytewise. Null/scheme-less/hostless inputs yield null. Pure
    Catalyst string ops, zero shuffle — and closed-form refereeable.

    Whitespace never survives into the key (ADVICE r11): a CDXJ line is
    space-delimited, so a SURT containing an interior space would emit a
    >3-field line that ``parse_cdxj_lines`` flags and whose prefix
    ``write_cdxj``'s manifest mis-keys. Space/tab/CR/LF are
    percent-encoded on the INPUT, before any component regex runs (a
    raw newline would otherwise stop the path extraction cold — Java
    ``.*`` never crosses one); the hex then folds lowercase with the
    rest of the path+query, matching how pre-encoded escapes in real
    URLs already surface. Any REMAINING C0-control or DEL octet nulls
    the key, routing the row to the ``-`` sentinel path (those URIs
    are hostile junk, not indexable identities)."""
    u = F.trim(F.coalesce(_col(c).cast("string"), F.lit("")))
    for ch, enc in ((" ", "%20"), ("\t", "%09"), ("\r", "%0D"), ("\n", "%0A")):
        u = F.replace(u, F.lit(ch), F.lit(enc))
    clean = ~u.rlike("[\\x00-\\x1F\\x7F]")
    pre = F.regexp_extract(u, r"^[^#]*", 0)
    host = url_domain(pre)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    raw_pq = F.regexp_extract(
        pre, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([/?].*)$", 1
    )
    pq = F.lower(
        F.when(raw_pq == "", F.lit("/"))
        .when(raw_pq.startswith("?"), F.concat(F.lit("/"), raw_pq))
        .otherwise(raw_pq)
    )
    path = F.regexp_extract(pq, r"^([^?]*)", 1)
    query = F.regexp_extract(pq, r"^[^?]*\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    key = F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(query != "", F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )
    return F.when((host != "") & clean, key)


def registrable_domain(host: Column | str) -> Column:
    """Last-two-labels approximation of the registrable domain
    (``cdn.src1.example.com`` → ``example.com``). Good enough for grouping
    synthetic corpora; production swaps in the public-suffix list as a
    broadcast join (same plan shape, still no shuffle on the fact side)."""
    return F.regexp_extract(_col(host), r"[^.]+\.[^.]+$", 0)


def domain_is_blocked(host: Column | str, blocklist: list[str]) -> Column:
    """True iff ``host`` equals a blocked domain or is a subdomain of one.

    The blocklist is compiled into a literal OR-chain of equality/suffix
    predicates — for real blocklists (10k+ entries) use a broadcast join
    against a blocklist table on ``registrable_domain`` instead; this
    literal form is for small embedded lists and oracle parity.
    """
    h = _col(host)
    pred = F.lit(False)
    for d in blocklist:
        dl = d.lower()
        pred = pred | (h == dl) | h.endswith("." + dl)
    return pred


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """URL-level keep-first dedup (RefinedWeb §3.1 runs this BEFORE any
    content processing — it prunes refetches of the same page without
    reading a byte of text).

    Adds ``url_norm``, ``is_dup_url``, ``dup_of_url`` (the keeper's id, own
    type preserved, null for keepers). One hash shuffle on the normalised
    URL; at 100 TB a hot URL's window partition can be bounded by running
    it on the (id, url) projection and joining the verdict back by id —
    URLs are short, so the wide-frame window is usually fine too.

    Rows with a null or empty URL get per-row solo group keys (the
    ``exact_dedup`` pattern): "no URL" is absence of evidence, not a shared
    identity, so URL-less docs are never marked dups of each other — and
    the otherwise-giant null window partition disappears.
    """
    from pyspark.sql import Window

    order_col = order_col or (
        "row_order" if "row_order" in df.columns else id_col
    )
    out = df.withColumn("url_norm", normalize_url(url_col))
    # Both branches carry a distinct prefix: unlike exact_dedup (whose
    # group key is a sha256 hex string that cannot contain \x00), url_norm
    # is raw text, so a crafted URL equal to the solo sentinel could
    # otherwise collide into a null-URL doc's window group.
    group = F.when(
        F.col("url_norm").isNull() | (F.col("url_norm") == ""),
        F.concat(F.lit("\x00solo\x00"), F.col(id_col).cast("string")),
    ).otherwise(F.concat(F.lit("\x01url\x01"), F.col("url_norm")))
    out = out.withColumn("_url_group", group)
    w = Window.partitionBy("_url_group").orderBy(F.col(order_col))
    rn = F.row_number().over(w)
    keeper = F.first(F.col(id_col)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        out.withColumn("is_dup_url", rn > 1)
        .withColumn(
            "dup_of_url", F.when(rn > 1, keeper).otherwise(F.lit(None))
        )
        .drop("_url_group")
    )


def url_quality_filter(
    df: DataFrame,
    url_col: str = "url",
    blocklist: list[str] | None = None,
    bad_tlds: tuple[str, ...] = ("click", "top", "loan"),
    max_url_len: int = 256,
    max_digits: int = 12,
) -> DataFrame:
    """FineWeb/C4-style URL-level quality filter, run BEFORE any document
    text is read (the cheapest drop in the whole pipeline — RefinedWeb
    §3.1 and FineWeb both gate on URL signals first):

      1. ``url_missing``         — null/whitespace-only URL;
      2. ``url_blocked_domain``  — domain on the blocklist (exact or
         subdomain suffix; production uses a broadcast blocklist join,
         see ``domain_is_blocked``);
      3. ``url_bad_tld``         — registrable TLD on the spam-heavy list;
      4. ``url_too_long``        — raw URL longer than ``max_url_len``
         (session-id / tracking monsters);
      5. ``url_excess_digits``   — more than ``max_digits`` digit chars in
         the whole URL (calendar pages, session ids, auto-generated spam).

    First-match-wins via the engine's shared ``first_match_expr``
    combinator — ONE chained CaseWhen projection, zero shuffle, codegen'd;
    later rules are not evaluated for rows an earlier rule dropped. Adds
    ``url_drop_reason`` (null = keep) and ``url_keep``.
    """
    from llm_pretraining_data_pipeline_spark.operators.rules import (
        first_match_expr,
    )

    u = _col(url_col)
    trimmed = F.trim(F.coalesce(u, F.lit("")))
    dom = url_domain(u)
    tld = F.regexp_extract(dom, r"[^.]+$", 0)
    n_digits = F.length(F.regexp_replace(trimmed, r"[^0-9]", ""))
    rules = [
        ("url_missing", trimmed == ""),
        ("url_blocked_domain", domain_is_blocked(dom, list(blocklist or []))),
        ("url_bad_tld", tld.isin([t.lower() for t in bad_tlds])),
        ("url_too_long", F.length(trimmed) > max_url_len),
        ("url_excess_digits", n_digits > max_digits),
    ]
    reason = first_match_expr(rules)
    return df.withColumn("url_drop_reason", reason).withColumn(
        "url_keep", reason.isNull()
    )


# ---------------------------------------------------------------- robots.txt


def _robots_grouped_lines(
    robots: DataFrame, domain_col: str, text_col: str
) -> DataFrame:
    """Shared robots.txt line parser: ``(domain, pos, key, value, grp)``
    with ``#`` comments stripped, keys lowercased, and RFC 9309 group
    ids assigned by a per-domain cumulative window (consecutive UA lines
    share one group; EVERY key:value rule line participates in
    segmentation). The window partitions by domain — it sees one robots
    FILE per key, never the corpus."""
    from pyspark.sql import Window

    lines = robots.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).select(
        "domain",
        "pos",
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    )
    lines = lines.select(
        "domain",
        "pos",
        F.lower(F.regexp_extract("line", r"(?i)^([a-z-]+)\s*:", 1))
        .alias("key"),
        F.trim(F.regexp_extract("line", r"(?i)^[a-z-]+\s*:(.*)$", 1))
        .alias("value"),
    ).where(F.col("key") != "")
    w = Window.partitionBy("domain").orderBy("pos")
    is_ua = F.col("key") == "user-agent"
    # a UA line opens a NEW group only if the previous kept line wasn't UA
    opens = is_ua & ~F.coalesce(
        F.lag(is_ua.cast("boolean")).over(w), F.lit(False)
    )
    return lines.select(
        "domain", "pos", "key", "value",
        F.sum(opens.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("grp"),
    )


def parse_robots(
    robots: DataFrame,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
) -> DataFrame:
    """robots.txt → ``(domain, rule, pattern)`` for ``User-agent: *``.

    The crawl-politeness gate every responsible corpus build runs: a
    document fetched from a path its host disallows is dropped before it
    enters the corpus (C4 respected robots at crawl time; re-filtering at
    curation time catches policy changes). Implements RFC 9309 group
    parsing: ``User-agent`` lines open a group (consecutive UA lines share
    one group, per spec), ``Allow`` AND ``Disallow`` lines contribute
    patterns (``rule`` ∈ {'allow', 'disallow'}), ``#`` comments and
    empty-pattern lines are ignored (an empty pattern matches nothing,
    §2.2.2), and only groups naming ``*`` apply. Every ``key: value``
    rule line (Crawl-delay, Sitemap, …) still participates in GROUP
    SEGMENTATION: a UA line following any non-UA rule line opens a new
    group, per spec. Dropping those lines before segmentation would merge
    ``User-agent: *`` / ``Allow: /`` / ``User-agent: GPTBot`` /
    ``Disallow: /`` (the ubiquitous block-AI-bots shape) into ONE group
    and wrongly blanket-ban the domain for ``*``.

    Patterns may carry RFC 9309 ``*`` (any octets) and trailing ``$``
    (end anchor) wildcards — ``robots_gate`` compiles them; matching is
    longest-pattern-wins with Allow beating Disallow on ties (§2.2.2).

    Entirely JVM-side: posexplode the line list, a per-domain cumulative
    window assigns group ids (robots files are a few hundred lines — the
    window partitions by domain, never sees the corpus), then one groupBy
    keeps ``*`` groups. Output is the small broadcastable rule frame
    ``robots_gate`` consumes.
    """
    grouped = _robots_grouped_lines(robots, domain_col, text_col)
    is_ua = F.col("key") == "user-agent"
    return (
        grouped.groupBy("domain", "grp")
        .agg(
            F.max(
                (is_ua & (F.lower(F.col("value")) == "*")).cast("int")
            ).alias("is_star"),
            F.collect_set(
                F.when(
                    F.col("key").isin("allow", "disallow")
                    & (F.col("value") != ""),
                    F.struct(
                        F.col("key").alias("rule"),
                        F.col("value").alias("pattern"),
                    ),
                )
            ).alias("rules"),
        )
        .where(F.col("is_star") == 1)
        .select("domain", F.explode("rules").alias("r"))
        .select(
            "domain",
            F.col("r.rule").alias("rule"),
            F.col("r.pattern").alias("pattern"),
        )
        .distinct()
    )


def robots_directives(
    robots: DataFrame,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Per-domain crawl-scheduler directives from robots.txt:
    ``crawl_delay`` (the de-facto-universal non-standard directive —
    taken from ``User-agent: *`` groups, MAX across lines and groups:
    for a politeness directive the conservative merge is the SLOWEST
    requested delay, not the fastest (ADVICE r10); null when absent or
    non-numeric via try_cast)
    and ``sitemaps`` (``Sitemap:`` lines are GLOBAL per RFC 9309 /
    sitemaps.org — collected from anywhere in the file, including inside
    other agents' groups, deduped and sorted). One row per input domain;
    the politeness/budget inputs a distributed crawler joins before
    scheduling fetches.
    """
    grouped = _robots_grouped_lines(robots, domain_col, text_col)
    is_ua = F.col("key") == "user-agent"
    per_group = grouped.groupBy("domain", "grp").agg(
        F.max(
            (is_ua & (F.lower(F.col("value")) == "*")).cast("int")
        ).alias("is_star"),
        F.max(
            F.when(
                F.col("key") == "crawl-delay",
                F.expr("try_cast(value AS double)"),
            )
        ).alias("cd"),
    )
    delays = (
        per_group.where(F.col("is_star") == 1)
        .groupBy("domain")
        .agg(F.max("cd").alias("crawl_delay"))
    )
    sitemaps = (
        grouped.where((F.col("key") == "sitemap") & (F.col("value") != ""))
        .groupBy("domain")
        .agg(F.array_sort(F.collect_set("value")).alias("sitemaps"))
    )
    domains = robots.select(F.col(domain_col).alias("domain")).distinct()
    return (
        domains.join(delays, "domain", "left")
        .join(sitemaps, "domain", "left")
        .select(
            "domain",
            "crawl_delay",
            F.coalesce(
                F.col("sitemaps"), F.array().cast("array<string>")
            ).alias("sitemaps"),
        )
    )


def compile_robots_rules(rules: DataFrame) -> DataFrame:
    """Compile ``parse_robots`` output into the matchable rule frame.

    RFC 9309 §2.2.3: ``*`` matches any run of octets and a trailing ``$``
    anchors the match at the end of the path; everything else is literal.
    The translation to a Java regex runs JVM-side over the (tiny) rule
    frame: escape regex metacharacters, ``*`` → ``.*``, trailing ``$`` →
    end anchor, then anchor the whole pattern at the path start.
    Wildcard-free, unanchored patterns keep ``_is_plain=true`` so the
    gate matches them with ``startswith`` instead of a per-row regex (the
    overwhelmingly common case — regex only runs for rules that need it).

    Accepts the legacy ``(domain, prefix)`` shape (all-Disallow) so
    hand-built prefix frames keep working.
    """
    if "pattern" not in rules.columns:
        rules = rules.select(
            "domain",
            F.lit("disallow").alias("rule"),
            F.col("prefix").alias("pattern"),
        )
    pat = F.col("pattern")
    anchored = pat.endswith("$")
    body = F.when(
        anchored, F.expr("substring(pattern, 1, length(pattern) - 1)")
    ).otherwise(pat)
    esc = F.regexp_replace(
        body, r"([\\.\[\]\{\}\(\)\+\-\^\$\|\?])", r"\\$1"
    )
    rx = F.regexp_replace(esc, r"\*", ".*")
    regex = F.concat(
        F.lit("^"), rx, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )
    return rules.where(pat != "").select(
        "domain",
        (F.col("rule") == "allow").alias("_is_allow"),
        pat.alias("_pattern"),
        # RFC 9309 §2.2.2 ranks most-specific-match by OCTET count of the
        # pattern, not characters — a percent-unencoded UTF-8 pattern must
        # outrank an ASCII pattern with fewer bytes (ADVICE r10).
        F.octet_length(pat).alias("_plen"),
        regex.alias("_regex"),
        (~pat.contains("*") & ~anchored).alias("_is_plain"),
    )


def robots_gate(
    docs: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    broadcast_verdicts: bool = True,
    verdicts_only: bool = False,
) -> DataFrame:
    """Flag documents a ``User-agent: *`` group's rules disallow.

    Full RFC 9309 §2.2.2 matching: among ALL rules whose pattern matches
    the URL's path+query (fragment excluded per spec), the longest
    pattern wins; on a length tie Allow beats Disallow; no match ⇒
    allowed. ``Disallow: /`` + ``Allow: /public/`` therefore keeps
    ``/public/…`` crawlable instead of blanket-banning the domain.
    Patterns may carry ``*`` / trailing ``$`` wildcards (compiled by
    ``compile_robots_rules``).

    Scale shape — the unmatched corpus never shuffles: rules broadcast
    into an INNER join (docs stream map-side; only matching (doc, rule)
    pairs survive), the longest-match arg-max aggregates those matches
    only, and the verdict frame joins back broadcast. With
    ``broadcast_verdicts=False`` (corpora where most docs match a rule)
    the join-back is left to AQE, which still picks BHJ when the verdict
    side turns out small. Emits one row per input doc: ``disallowed``
    and ``matched_prefix`` (the winning Disallow pattern; null when the
    doc is allowed).

    ``verdicts_only=True`` skips the join-back and returns ONLY the
    matched docs' verdicts ``(id_col, disallowed, matched_prefix)`` — the
    shape a composing pipeline broadcast-joins itself (a missing row
    means "no rule matched ⇒ allowed"), avoiding a second full-corpus
    frame in the plan (plans/web_curation.py does this).
    """
    # Scheme matching must be case-tolerant like url_domain's (an
    # 'HTTPS://…' URL resolving a domain but an empty path would bypass
    # the gate), a URL with no path component is semantically '/'
    # (so 'Disallow: /' covers the site root), and the FRAGMENT never
    # participates in matching (RFC 9309 matches path + query only) —
    # strip it before the path extraction so '#/route' can't leak in as
    # path text either.
    compiled = compile_robots_rules(rules)
    u = F.col(url_col)
    pre = F.regexp_extract(u, r"^[^#]*", 0)
    # Path+query extraction: the component starts at the first '/' OR '?'
    # after the authority — '[^/?]*' must not consume a query that follows
    # an empty path ('https://host?session=x' matches as '/?session=x' per
    # RFC 9309, so 'Disallow: /*?session=' can hit it; ADVICE r10). A
    # query-only component gets the implied '/' prefixed.
    raw_path = F.regexp_extract(
        pre, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([/?].*)$", 1
    )
    path_q = F.when(
        raw_path.startswith("?"), F.concat(F.lit("/"), raw_path)
    ).otherwise(raw_path)
    base = docs.select(
        id_col,
        url_domain(u).alias("_dom"),
        F.when(
            (url_domain(u) != "") & (path_q == ""), F.lit("/")
        ).otherwise(path_q).alias("_path"),
    )
    match = F.when(
        compiled["_is_plain"], base["_path"].startswith(compiled["_pattern"])
    ).otherwise(F.expr("_path rlike _regex"))
    matches = base.join(
        F.broadcast(compiled),
        (base["_dom"] == compiled["domain"]) & match,
        "inner",
    )
    verdicts = (
        matches.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("_plen").alias("l"),
                    F.col("_is_allow").alias("a"),
                    F.col("_pattern").alias("p"),
                )
            ).alias("_m")
        )
        .select(
            id_col,
            (~F.col("_m.a")).alias("_dis"),
            F.when(~F.col("_m.a"), F.col("_m.p")).alias("_mp"),
        )
    )
    if verdicts_only:
        return verdicts.select(
            id_col,
            F.col("_dis").alias("disallowed"),
            F.col("_mp").alias("matched_prefix"),
        )
    v = F.broadcast(verdicts) if broadcast_verdicts else verdicts
    return (
        docs.select(id_col, F.col(url_col).alias("url"))
        .join(v, id_col, "left")
        .select(
            id_col,
            "url",
            F.coalesce(F.col("_dis"), F.lit(False)).alias("disallowed"),
            F.col("_mp").alias("matched_prefix"),
        )
    )


# ------------------------------------------------------- public-suffix list


def psl_frame(spark, rules: list[str]) -> DataFrame:
    """Compile public-suffix-list rules into the broadcastable match frame
    ``(n_labels, is_exc, rev_labels)``.

    Accepts the publicsuffix.org rule grammar: plain suffixes
    (``co.uk``), wildcard rules (``*.ck`` — ``*`` matches exactly one
    label at its position), and exception rules (``!www.ck``). Comment
    (``//``) and blank lines are dropped, so a raw PSL file's lines can
    be passed straight in. Labels are stored REVERSED so suffix matching
    is a prefix walk.
    """
    compiled = []
    for raw in rules:
        r = raw.strip()
        if not r or r.startswith("//"):
            continue
        is_exc = r.startswith("!")
        if is_exc:
            r = r[1:]
        labels = r.lower().split(".")
        rev = list(reversed(labels))
        if rev[0] == "*":
            # no published PSL rule ends in '*' (that would wildcard the
            # TLD itself); the concrete last label is what makes the
            # equi-keyed join below possible
            raise ValueError(f"psl_frame: rule {raw!r} has a wildcard TLD")
        compiled.append((rev[0], len(labels), is_exc, rev))
    if not compiled:
        raise ValueError("psl_frame: no rules")
    return spark.createDataFrame(
        compiled,
        "tld string, n_labels int, is_exc boolean, rev_labels array<string>",
    )


def registrable_domain_psl(
    df: DataFrame,
    psl: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    broadcast_verdicts: bool = True,
) -> DataFrame:
    """Registrable domain via the REAL public-suffix-list algorithm
    (publicsuffix.org/list/) — the production form of the documented
    ``registrable_domain`` last-two-labels approximation.

    Algorithm: a rule matches when its labels are a label-suffix of the
    host (``*`` matches exactly one label); the prevailing rule is any
    matching EXCEPTION rule, else the matching rule with the most
    labels, else the implicit ``*`` default; the public suffix is the
    prevailing rule's span (exception rules minus their leftmost label);
    the registrable domain is the public suffix plus one label — NULL
    when the host IS a public suffix.

    Scale shape mirrors ``robots_gate``: the compiled PSL broadcasts
    into an INNER join (per-pair match = one zip_with/forall over ≤6
    labels, pure JVM), only matching (host, rule) pairs aggregate
    (max(struct(is_exc, n_labels)) — exception beats length per spec),
    and the tiny verdict frame joins back broadcast, so unmatched hosts
    (which take the implicit default) never shuffle. Emits one row per
    input doc: ``(id_col, host, public_suffix, reg_domain)``.
    """
    # FQDN trailing dot ('example.com.') would split into a trailing
    # EMPTY label: no rule matches '' and the implicit default would pick
    # the empty label as the public suffix — strip it before matching
    host = F.regexp_replace(
        F.lower(F.coalesce(F.col(host_col).cast("string"), F.lit(""))),
        r"\.$",
        "",
    )
    base = df.select(
        id_col,
        host.alias("_host"),
        F.reverse(F.split(host, r"\.")).alias("_rev"),
    )
    # TLD equality is the hash key (every PSL rule ends in a concrete
    # label — enforced by psl_frame), so the join is a BroadcastHASHJoin
    # and each host is label-walked only against the rules sharing its
    # TLD, not the whole 9k-rule list.
    pair_match = (
        (F.element_at(base["_rev"], 1) == psl["tld"])
        & (F.size(base["_rev"]) >= psl["n_labels"])
        & F.forall(
            F.zip_with(
                F.slice(base["_rev"], 1, psl["n_labels"]),
                psl["rev_labels"],
                lambda h, r: (r == "*") | (r == h),
            ),
            lambda x: x,
        )
    )
    matches = base.join(F.broadcast(psl), pair_match, "inner")
    verdicts = (
        matches.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("is_exc").alias("e"),
                    F.col("n_labels").alias("n"),
                )
            ).alias("_m")
        )
        .select(
            id_col,
            F.when(
                F.col("_m.e"), F.col("_m.n") - 1
            ).otherwise(F.col("_m.n")).alias("_ps_n"),
        )
    )
    v = F.broadcast(verdicts) if broadcast_verdicts else verdicts
    joined = base.select(id_col, "_host").join(v, id_col, "left")
    labels = F.split(F.col("_host"), r"\.")
    nl = F.size(labels)
    ps_n = F.coalesce(F.col("_ps_n"), F.lit(1))  # implicit '*' default
    return joined.select(
        id_col,
        F.col("_host").alias("host"),
        F.array_join(
            F.slice(labels, nl - ps_n + 1, ps_n), "."
        ).alias("public_suffix"),
        F.when(
            nl >= ps_n + 1,
            F.array_join(F.slice(labels, nl - ps_n, ps_n + 1), "."),
        ).alias("reg_domain"),
    )


# ------------------------------------------------------------ sitemap XML

# sitemaps.org protocol shapes: a <urlset> of page entries, or a
# <sitemapindex> of child sitemaps. Parsed with Spark's native XML
# reader (from_xml) — no Python in the path.
_SITEMAP_URLSET_SCHEMA = (
    "url array<struct<loc string, lastmod string, changefreq string, "
    "priority double>>"
)
_SITEMAP_INDEX_SCHEMA = "sitemap array<struct<loc string, lastmod string>>"


def parse_sitemap(
    sm: DataFrame,
    domain_col: str = "domain",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Parse sitemaps.org XML — the crawl-scheduler companion to
    ``robots_directives`` (which *discovers* sitemap URLs; this parses
    the fetched documents into the per-URL frontier rows a scheduler
    joins).

    One output row per entry: ``(domain, entry_pos, loc, lastmod,
    changefreq, priority, is_index, sm_ok)``. ``<urlset>`` entries
    carry ``is_index=false``; ``<sitemapindex>`` children carry
    ``is_index=true`` with ``loc`` = the child sitemap URL (feed those
    back through fetch → parse_sitemap — the protocol's two-level
    recursion). A document yielding NO entries under either shape
    (malformed XML, truncated, or a well-formed empty set — from_xml
    cannot distinguish these, and a scheduler treats them identically:
    zero fetchable URLs) survives as ONE ``sm_ok=false`` row with null
    fields, so a broken sitemap is data, not an exception.

    Pure Catalyst (native from_xml + array HOFs + one generator), zero
    Python, zero shuffle — a straight map over fetched sitemap bodies
    at any scale.
    """
    x = F.col(xml_col).cast("string")
    # ONE from_xml parse serves both shapes: a schema with both top
    # fields yields url=[...] for <urlset> docs and sitemap=[...] for
    # <sitemapindex> docs (the absent one is null). Parsing twice with
    # per-shape schemas would double the dominant per-row cost.
    both = F.from_xml(
        x, _SITEMAP_URLSET_SCHEMA + ", " + _SITEMAP_INDEX_SCHEMA
    )
    url_entries = F.transform(
        both["url"],
        lambda u: F.struct(
            u["loc"].alias("loc"),
            u["lastmod"].alias("lastmod"),
            u["changefreq"].alias("changefreq"),
            u["priority"].alias("priority"),
            F.lit(False).alias("is_index"),
        ),
    )
    idx_entries = F.transform(
        both["sitemap"],
        lambda u: F.struct(
            u["loc"].alias("loc"),
            u["lastmod"].alias("lastmod"),
            F.lit(None).cast("string").alias("changefreq"),
            F.lit(None).cast("double").alias("priority"),
            F.lit(True).alias("is_index"),
        ),
    )
    entries = F.coalesce(url_entries, idx_entries)
    out = sm.select(
        F.col(domain_col).alias("domain"),
        F.posexplode_outer(entries).alias("entry_pos", "_e"),
    )
    ok = F.col("_e").isNotNull()
    return out.select(
        "domain",
        F.when(ok, F.col("entry_pos")).alias("entry_pos"),
        F.col("_e.loc").alias("loc"),
        F.col("_e.lastmod").alias("lastmod"),
        F.col("_e.changefreq").alias("changefreq"),
        F.col("_e.priority").alias("priority"),
        F.col("_e.is_index").alias("is_index"),
        ok.alias("sm_ok"),
    )


# --------------------------------------------------- relative resolution


def resolve_url(base: Column | str, href: Column | str) -> Column:
    """Resolve an extracted ``href`` against its page URL — RFC 3986 §5
    reference resolution for the forms that dominate real HTML:

    - scheme-qualified (``scheme:...``)      → itself (§5.2.2: ANY
      reference carrying a scheme resolves to itself — ``mailto:``,
      ``javascript:``, ``tel:``, ``data:`` must NOT be glued onto the
      base path; hierarchical ``scheme://host/p`` additionally gets its
      path dot-segment-normalised)
    - protocol-relative (``//host/p``)       → base scheme + href,
      path normalised
    - root-relative (``/p``)                 → base origin + href
    - path-relative (``p``, ``../p``, ``?q``)→ merged with the base
      path's directory, then dot-segments removed (§5.2.4: ``.`` drops,
      ``..`` pops — a ``..`` above the root clamps at root)
    - fragment-only (``#x``) and empty       → null (same document; a
      frontier must not refetch the page it came from)

    §5.2.4 applies to EVERY hierarchical target path (absolute and
    protocol-relative included) — otherwise ``https://b/a/../x`` would
    evade an index that stores the normalised capture of ``/x``. Null
    when the base has no authority. The dot-segment removal is a pure
    Catalyst array fold (``F.aggregate`` with an array accumulator) —
    zero Python, zero shuffle; query strings survive resolution,
    fragments are dropped from the RESULT too (they are never sent to
    servers). A first path segment containing ``:`` parses as a scheme
    per the RFC — spec-conformant HTML writes such links as ``./a:b``.
    """
    b = F.trim(F.coalesce(_col(base).cast("string"), F.lit("")))
    h = F.trim(F.coalesce(_col(href).cast("string"), F.lit("")))
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    authority = F.regexp_extract(
        b, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
    )
    origin = F.concat(scheme, F.lit("://"), authority)
    # base path DIRECTORY (through the last '/'), query/fragment dropped;
    # an empty path resolves relative references from '/'
    base_path = F.regexp_extract(
        b, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    base_dir = F.when(
        base_path.rlike("/"),
        F.regexp_extract(base_path, r"^(.*/)", 1),
    ).otherwise(F.lit("/"))
    # strip the fragment from the reference itself
    hf = F.regexp_extract(h, r"^([^#]*)", 1)

    def _normalize(path: Column) -> Column:
        # §5.2.4 remove_dot_segments over the path's '/'-split parts.
        # The leading '' from the root '/' seeds the accumulator; '..'
        # pops unless only the root marker remains; a TRAILING '.'/'..'
        # must still end the path with '/' (the spec keeps the slash).
        parts = F.split(path, "/")
        folded = F.aggregate(
            parts,
            F.array().cast("array<string>"),
            lambda acc, x: (
                F.when(x == ".", acc)
                .when(
                    x == "..",
                    F.when(
                        F.size(acc) > 1,
                        F.slice(acc, 1, F.size(acc) - 1),
                    ).otherwise(acc),
                )
                .otherwise(F.concat(acc, F.array(x)))
            ),
        )
        joined = F.array_join(folded, "/")
        trail = F.when(
            path.rlike(r"(^|/)\.\.?$") & ~joined.endswith("/"),
            F.lit("/"),
        ).otherwise(F.lit(""))
        return F.concat(joined, trail)

    # split a resolved path+query, normalize only the PATH
    def _norm_pq(pq: Column) -> Column:
        p = F.regexp_extract(pq, r"^([^?]*)", 1)
        q = F.regexp_extract(pq, r"^[^?]*(\?.*)?$", 1)
        return F.concat(_normalize(p), q)

    rel_pq = F.concat(base_dir, hf)
    # hierarchical absolute reference: scheme://authority + path+query
    habs_pre = F.regexp_extract(
        hf, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1
    )
    habs_pq = F.regexp_extract(
        hf, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1
    )
    # protocol-relative: //authority + path+query
    prel_pre = F.regexp_extract(hf, r"^(//[^/?#]*)", 1)
    prel_pq = F.regexp_extract(hf, r"^//[^/?#]*([^#]*)", 1)
    resolved = (
        F.when((hf == "") | (authority == ""), F.lit(None).cast("string"))
        .when(
            hf.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"),
            F.concat(habs_pre, _norm_pq(habs_pq)),
        )
        # any OTHER scheme-qualified reference (mailto:, javascript:,
        # tel:, data: — non-hierarchical) resolves to itself (§5.2.2);
        # gluing it onto the base path fabricates bogus frontier URLs
        .when(hf.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), hf)
        .when(
            hf.startswith("//"),
            F.concat(scheme, F.lit(":"), prel_pre, _norm_pq(prel_pq)),
        )
        .when(hf.startswith("/"), F.concat(origin, _norm_pq(hf)))
        .when(hf.startswith("?"), F.concat(origin, base_path, hf))
        .otherwise(F.concat(origin, _norm_pq(rel_pq)))
    )
    return resolved
