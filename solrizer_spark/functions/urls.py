"""URL analysis / canonicalization — Column expressions.

Crawl-corpus operators (no reference analog — solrizer receives one
resource URI per request): host/domain extraction, path depth, and a
canonical URL form for url-keyed dedup ahead of the url-hash
repartition. Implemented with portable regexp/string expressions (not
``parse_url``) so SQL oracles replicate them exactly.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from solrizer_spark.functions.psl import PSL_TWO_LEVEL_SNAPSHOT

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def url_host(url: Column | str) -> Column:
    col = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(col, _HOST_RE, 1))


def url_path(url: Column | str) -> Column:
    col = F.col(url) if isinstance(url, str) else url
    path = F.regexp_extract(col, _PATH_RE, 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def url_match_target(url: Column | str) -> Column:
    """The RFC 9309 §2.2.2 match target: path plus ``?query`` when
    present (fragment excluded) — Allow/Disallow rules match against
    this, NOT the bare path (``Disallow: /*?sessionid=`` must be able
    to match, and ``Disallow: /cart$`` must NOT block ``/cart?x``)."""
    col = F.col(url) if isinstance(url, str) else url
    target = F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)
    return (
        F.when(target == "", F.lit("/"))
        .when(target.startswith("?"), F.concat(F.lit("/"), target))
        .otherwise(target)
    )


def url_path_depth(url: Column | str) -> Column:
    """Number of non-empty path segments."""
    p = url_path(url)
    return F.size(F.filter(F.split(p, "/"), lambda s: s != ""))


def registered_domain(
    url: Column | str, suffixes: frozenset[str] | None = None
) -> Column:
    """eTLD+1: last two host labels, or last three when the last two
    are a known two-level public suffix (``a.b.co.uk`` → ``b.co.uk``).

    ``suffixes`` defaults to the pinned PSL snapshot
    (:mod:`solrizer_spark.functions.psl`, ~770 ccTLD second-level
    registrations); pass ``psl.load_psl_file(...)`` for a full-list
    deployment — three-label rules in the set (e.g. ``act.edu.au``)
    are honored too (longest match wins, per the PSL algorithm). An
    explicitly empty set means "plain last-two-labels heuristic". The
    set compiles to a Catalyst ``InSet`` literal — a per-row hash
    probe shipped with the plan, zero joins/shuffles, so the lookup
    costs the same at 10^12 rows as at 10^3.

    Building the expression costs one driver→JVM call per suffix, so
    the Column for a named url column is built once per process."""
    if isinstance(url, str):
        return _registered_domain_of(
            url, None if suffixes is None else frozenset(suffixes)
        )
    return _registered_domain(url, suffixes)


@functools.cache
def _registered_domain_of(url: str, suffixes: frozenset[str] | None) -> Column:
    return _registered_domain(F.col(url), suffixes)


def _registered_domain(url: Column, suffixes: frozenset[str] | None) -> Column:
    sufs = sorted(PSL_TWO_LEVEL_SNAPSHOT if suffixes is None else suffixes)
    two_level = [s for s in sufs if s.count(".") == 1]
    three_level = [s for s in sufs if s.count(".") == 2]
    host = url_host(url)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, F.greatest(n - 1, F.lit(1)), 2), ".")
    last3 = F.array_join(F.slice(labels, F.greatest(n - 2, F.lit(1)), 3), ".")
    out = F.when(
        (last2.isin(*two_level) if two_level else F.lit(False)) & (n >= 3), last3
    ).otherwise(last2)
    if three_level:  # longest-match first (zero cost when absent)
        last4 = F.array_join(F.slice(labels, F.greatest(n - 3, F.lit(1)), 4), ".")
        out = F.when(last3.isin(*three_level) & (n >= 4), last4).otherwise(out)
    return out


def normalize_url(url: Column | str) -> Column:
    """Canonical form for url-keyed dedup: lowercase scheme+host,
    default ports stripped, fragment stripped, query params sorted,
    trailing slash trimmed (except root)."""
    raw = F.col(url) if isinstance(url, str) else url
    # strip the fragment FIRST: '?' or ':' inside a fragment must not
    # be mistaken for query/port ("https://ex.com/a#sec?x=1" has no query)
    col = F.substring_index(raw, "#", 1)
    scheme = F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(col)
    # optional userinfo group before the host so ":123" in a password
    # is not read as a port
    # the terminator lookahead stops backtracking from re-reading a
    # userinfo password as the port ("user:123abc@host" has no port)
    port = F.regexp_extract(
        col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:@]+:(\d+)(?=[/?#]|$)", 1
    )
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = url_path(col)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    query = F.regexp_extract(col, _QUERY_RE, 1)
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    built = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), sorted_query)).otherwise(F.lit("")),
    )
    # scheme-less inputs pass through unchanged: every component regex
    # requires a scheme, so without this guard all such URLs collapse
    # to the single string ':///' and url-dedup would merge them
    return F.when(scheme == "", raw).otherwise(built)


def extract_outlinks(html: Column | str) -> Column:
    """``href`` values of anchor tags, as an array — the webgraph
    primitive (outlink edges, anchor-target harvesting) — extracted
    with a JVM-side ``regexp_extract_all`` so a 10^12-page link sweep
    never crosses into Python. Heuristic by design (documented): a
    quoted-attribute regex, not a DOM parse — matches double- then
    single-quoted hrefs in document order (all double-quoted first;
    callers needing exact interleaving should extend the kernel),
    case-insensitively (legacy archives are full of ``<A HREF=…>``).
    Accepts the pages table's binary ``html`` (cast = UTF-8 decode) or
    a string column."""
    col = F.col(html) if isinstance(html, str) else html
    col = col.cast("string")
    double_q = F.regexp_extract_all(col, F.lit(r'(?i)<a\s[^>]*href\s*=\s*"([^"]*)"'), 1)
    single_q = F.regexp_extract_all(col, F.lit(r"(?i)<a\s[^>]*href\s*=\s*'([^']*)'"), 1)
    return F.concat(double_q, single_q)


def outlink_domains(html: Column | str) -> Column:
    """Distinct registered domains (eTLD+1) of a page's absolute
    http(s) outlinks — the per-page edge list of the host-level web
    graph, ready for an explode + groupBy degree count."""
    links = extract_outlinks(html)
    absolute = F.filter(
        links, lambda u: u.startswith("http://") | u.startswith("https://")
    )
    # single-param lambda, NOT the bare function: registered_domain's
    # optional second parameter would be bound to the array INDEX by
    # pyspark's higher-order-function arity inspection
    return F.array_distinct(F.transform(absolute, lambda u: registered_domain(u)))


def _robots_directives(
    content: str | bytes | None, agent: str
) -> list[tuple[str, str]]:
    """(field, value) directives from the robots.txt groups that apply
    to ``agent`` under RFC 9309 semantics: consecutive ``User-agent``
    lines share one group; if any group names the agent exactly, ONLY
    those groups apply (the ``*`` groups are ignored); otherwise the
    ``*`` groups apply. Shared state machine for the Disallow and
    Crawl-delay parsers — one copy of the group-tracking logic."""
    if content is None:
        return []
    if isinstance(content, bytes):
        content = content.decode("utf-8", errors="replace")
    groups: list[tuple[set[str], list[tuple[str, str]]]] = []
    agents: set[str] = set()
    rules: list[tuple[str, str]] = []
    in_ua_run = False
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_ua_run:  # a UA line after rules starts a new group
                if agents:
                    groups.append((agents, rules))
                agents, rules = set(), []
            agents.add(value.lower())
            in_ua_run = True
        else:
            rules.append((field, value))
            in_ua_run = False
    if agents:
        groups.append((agents, rules))
    wanted = agent.lower()
    exact = [r for a, r in groups if wanted in a]
    wildcard = [r for a, r in groups if "*" in a]
    selected = exact if exact else wildcard  # identical when agent="*"
    return [d for rules in selected for d in rules]


def parse_robots_rules(
    content: str | bytes | None, agent: str = "*"
) -> dict[str, list[str]]:
    """Both rule kinds for ``agent`` from a robots.txt body:
    ``{"disallow": [...], "allow": [...]}``. A plain-Python dim-side
    parser (robots files are one small blob per domain): feed these
    into the two-column robots dim that :func:`filter_robots_disallowed`
    broadcasts for full RFC 9309 §2.2.2 longest-match precedence (Allow
    can re-open a subtree of a Disallowed prefix). RFC 9309 group
    semantics via :func:`_robots_directives`: a group naming the agent
    exactly SUPERSEDES the ``*`` fallback group. Empty values (no-op
    rules, e.g. an allow-all ``Disallow:``) are dropped."""
    dirs = _robots_directives(content, agent)
    return {
        "disallow": [v for f, v in dirs if f == "disallow" and v],
        "allow": [v for f, v in dirs if f == "allow" and v],
    }


#: Java-regex metacharacters to escape when translating a robots rule
#: into a regex — everything special EXCEPT ``*`` (handled as the RFC
#: 9309 any-sequence wildcard afterwards).
_ROBOTS_RX_SPECIALS = r"([.^$+?(){}\[\]\\|])"


def _robots_rule_struct(p):
    """Translate one Allow/Disallow value into a match struct
    ``(pre string, rx string, len int)``: rules with no wildcard stay
    literal prefixes (``pre``, cheap ``startswith`` fast path); rules
    using RFC 9309 §2.2.3 wildcards — ``*`` (any char sequence) or a
    trailing ``$`` (end-of-path anchor) — become an anchored Java
    regex (``rx``). A ``$`` anywhere but the end is literal (matching
    Google's reference parser). ``len`` is the raw rule length — the
    §2.2.2 most-specific-match priority (octets of the rule, wildcards
    counted as written, as in Google's parser). The regex STRING is
    built on the broadcast DIM side (once per robots rule); matching
    a wildcard rule still compiles the pattern per evaluation (Spark
    caches only the last-seen pattern per expression, so multiple
    wildcard rules per host alternate) — bounded at ~1-2 µs per tiny
    pattern per row, well under the extraction kernel's per-row cost,
    and hosts with only literal rules stay on ``startswith``."""
    from pyspark.sql import functions as F

    anchored = p.endswith("$")
    core = F.when(anchored, F.substring(p, F.lit(1), F.length(p) - 1)).otherwise(p)
    esc = F.regexp_replace(core, _ROBOTS_RX_SPECIALS, "\\\\$1")
    wild = F.replace(esc, F.lit("*"), F.lit(".*"))
    rx = F.concat(F.lit("^"), wild, F.when(anchored, F.lit("$")).otherwise(F.lit("")))
    has_wild = p.contains("*") | anchored
    return F.struct(
        F.when(~has_wild, p).alias("pre"),
        F.when(has_wild, rx).alias("rx"),
        F.length(p).alias("len"),
    )


def _best_rule_len(rules_col, path):
    """Length of the longest rule in ``rules_col`` matching ``path``
    (0 if none) — the RFC 9309 §2.2.2 priority fold, one pass over
    the (broadcast-joined) rule array, no explode."""
    from pyspark.sql import functions as F

    def step(acc, r):
        hit = F.when(
            r["rx"].isNotNull(), F.regexp_like(path, r["rx"])
        ).otherwise(path.startswith(r["pre"]))
        return F.when(hit, F.greatest(acc, r["len"])).otherwise(acc)

    return F.aggregate(rules_col, F.lit(0), step)


def filter_robots_disallowed(df, robots_df, url_col: str = "url"):
    """Drop rows whose url match target (path plus ``?query``, per
    RFC 9309 §2.2.2 — see :func:`url_match_target`) is
    robots-disallowed for its HOST
    (robots.txt scope is the host, not the registrable domain) — the
    crawl-politeness post-filter. ``robots_df``: ``(domain string,
    disallow array<string>)`` keyed by host, plus an optional ``allow
    array<string>`` column (build both with
    :func:`parse_robots_rules`); one row per host → broadcast, so the
    corpus side never shuffles. Hosts with no robots row pass through
    (no robots.txt = no restrictions).

    Full RFC 9309 matching: ``*`` / trailing-``$`` wildcards
    (:func:`_robots_rule_struct`) and, when the ``allow`` column is
    present, §2.2.2 most-specific-match precedence — the longest
    matching rule wins, Allow winning length ties (an Allow can
    re-open a subtree of a Disallowed prefix)."""
    from pyspark.sql import functions as F

    # collision-proof temp names: an input df that already carries a
    # ``disallow``/``allow`` column must neither collide nor be dropped
    tmp = "___robots_domain"
    while tmp in df.columns:
        tmp += "_"
    dis_col = "___robots_disallow"
    while dis_col in df.columns:
        dis_col += "_"
    alw_col = "___robots_allow"
    while alw_col in df.columns:
        alw_col += "_"
    has_allow = "allow" in robots_df.columns
    path = url_match_target(url_col)
    tagged = df.withColumn(tmp, url_host(url_col))
    dim_cols = [
        F.col("domain").alias(tmp),
        F.transform("disallow", _robots_rule_struct).alias(dis_col),
    ]
    drop_cols = [tmp, dis_col]
    if has_allow:
        dim_cols.append(F.transform("allow", _robots_rule_struct).alias(alw_col))
        drop_cols.append(alw_col)
    joined = tagged.join(F.broadcast(robots_df.select(*dim_cols)), tmp, "left")
    best_dis = _best_rule_len(F.col(dis_col), path)
    if has_allow:
        blocked = best_dis > _best_rule_len(F.col(alw_col), path)
    else:
        blocked = best_dis > 0
    return joined.where(~F.coalesce(blocked, F.lit(False))).drop(*drop_cols)


def filter_blocked_domains(df, blocklist_df, url_col: str = "url"):
    """Drop rows whose registered domain (eTLD+1) appears in a
    blocklist table — the standard crawl-hygiene step (spam/adult/
    malware domain lists). The blocklist side is small by definition →
    broadcast LEFT ANTI join; the corpus side never shuffles.
    ``blocklist_df`` must have a ``domain`` column."""
    from pyspark.sql import functions as F

    # collision-proof temp column: an input df that already carries
    # ``_domain`` must not be clobbered (ADVICE r2)
    tmp = "___blocklist_domain"
    while tmp in df.columns:
        tmp += "_"
    tagged = df.withColumn(tmp, registered_domain(url_col))
    out = tagged.join(
        F.broadcast(blocklist_df.select(F.col("domain").alias(tmp))),
        tmp,
        "left_anti",
    )
    return out.drop(tmp)


def extract_anchors(html: Column | str) -> Column:
    """``array<struct<href,text>>`` — anchor-target pairs, the labeled
    edge of the web graph (anchor-text harvesting is the classic
    relevance/query-doc training signal). Same JVM-regex heuristic
    family as :func:`extract_outlinks` (quoted hrefs, double- then
    single-quoted in document order, case-insensitive, ``(?s)`` so
    anchors spanning lines match); inner markup is stripped and
    whitespace collapsed in the anchor text."""
    col = F.col(html) if isinstance(html, str) else html
    col = col.cast("string")

    def pairs(quote: str) -> Column:
        pat = F.lit(
            r"(?is)<a\s[^>]*href\s*=\s*" + quote + r"([^" + quote + r"]*)"
            + quote + r"[^>]*>(.*?)</a>"
        )
        hrefs = F.regexp_extract_all(col, pat, 1)
        texts = F.transform(
            F.regexp_extract_all(col, pat, 2),
            lambda t: F.trim(
                F.regexp_replace(
                    F.regexp_replace(t, r"<[^>]*>", ""), r"\s+", " "
                )
            ),
        )
        return F.arrays_zip(hrefs.alias("href"), texts.alias("text"))

    return F.concat(pairs('"'), pairs("'"))


def parse_crawl_delay(content: str | bytes | None, agent: str = "*") -> float | None:
    """``Crawl-delay`` (seconds) for ``agent`` from a robots.txt body —
    same RFC 9309 group semantics as :func:`parse_robots_rules` (exact
    agent group supersedes ``*``); the last delay among the applicable
    groups wins; invalid/absent → None. Feeds
    ``crawl.fetch_schedule_with_delays`` as the per-host rate dim."""
    delay: float | None = None
    for field, value in _robots_directives(content, agent):
        if field != "crawl-delay":
            continue
        try:
            parsed = float(value)
        except ValueError:
            continue
        if parsed >= 0:
            delay = parsed
    return delay
