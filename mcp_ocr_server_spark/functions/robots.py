"""robots.txt parsing (RFC 9309) — the text half of crawl-time URL
admission.

The url family's gate (queries.robots_verdict) consumes per-host rule
ARRAYS; until now those were planted test fixtures standing in for
"the fetched robots store".  This module builds that store from the
actual file a crawler fetches: group splitting on User-agent lines
(consecutive UA lines share one group), case-insensitive directive
names, comment stripping, BOM tolerance, unknown-directive skipping,
and the two selection rules real crawlers get wrong — the MOST
SPECIFIC user-agent match wins (longest token, '*' only as fallback),
and ALL groups matching that agent combine (RFC 9309 §2.2.1).

Pattern matching: RFC 9309 patterns carry two metacharacters — '*'
(any span) and a trailing '$' (end anchor).  `rule_regex` translates a
pattern into an anchored regex in the shared Java/RE2/DuckDB subset;
the SAME translated string is stored in the golden and consumed by
both engines, so Spark `rlike` and DuckDB `regexp_matches` can never
drift on escaping.  Precedence stays RFC: longest PATTERN wins,
allow wins exact ties.

Sitemap: lines are extracted as their own rows — they are the
discovery link INTO functions/sitemap.py (robots.txt is where a
crawler learns the sitemap URL).

Refuse-loudly: only genuine refusals refuse — a file over the RFC's
500 KiB minimum-processing bound, or bytes that are not text at all
(NUL bytes).  Everything else parses totally: robots.txt in the wild
is messy and a parser that errors on mess admits nothing.

Scale shape: one robots.txt per row (per HOST at crawl scale), parsed
in a zero-shuffle row-local fan-out; the parsed (host -> rules array)
table is exactly the broadcast side robots_verdict already joins.
"""

from __future__ import annotations

import re

MAX_ROBOTS_BYTES = 500 * 1024  # RFC 9309 §2.5 minimum processing bound

ROBOTS_SCHEMA = (
    "media_ref string, row_idx int, kind string, agent string,"
    " allow boolean, pattern string, regex string, sitemap_url string,"
    " error string"
)

_DIRECTIVE_RE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def rule_regex(pattern: str) -> str:
    """Anchored regex for an RFC 9309 path pattern, in the common
    Java/RE2/DuckDB syntax subset: '*' spans anything, a trailing '$'
    anchors the end, every other char is literal."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = ["^"]
    for ch in body:
        if ch == "*":
            out.append(".*")
        elif ch in r"\.^$|?+()[]{}":
            out.append("\\" + ch)
        else:
            out.append(ch)
    if anchored:
        out.append("$")
    return "".join(out)


def parse_robots(data: bytes) -> tuple[list[dict], list[str]]:
    """(groups, sitemap_urls).  Each group:
    {agents: [lowercased tokens], rules: [(allow: bool, pattern: str)]}.
    Raises ValueError for oversize or non-text payloads."""
    data = bytes(data)
    if len(data) > MAX_ROBOTS_BYTES:
        raise ValueError("robots.txt over the 500 KiB processing bound")
    if b"\x00" in data:
        raise ValueError("robots.txt contains NUL bytes: not text")
    if data[:3] == b"\xef\xbb\xbf":
        data = data[3:]
    text = data.decode("utf-8", "replace")
    groups: list[dict] = []
    sitemaps: list[str] = []
    cur: dict | None = None
    ua_run = False  # consecutive User-agent lines share one group
    for raw in text.splitlines():
        line = raw.split("#", 1)[0]
        m = _DIRECTIVE_RE.match(line)
        if m is None:
            continue
        key, val = m.group(1).lower(), m.group(2)
        if key == "user-agent":
            if not ua_run:
                cur = dict(agents=[], rules=[])
                groups.append(cur)
            cur["agents"].append(val.strip().lower())
            ua_run = True
            continue
        ua_run = False
        if key in ("allow", "disallow"):
            if cur is None:
                continue  # rule before any User-agent line: skipped
            if val == "":
                # empty value is a no-op for BOTH directives (empty
                # Disallow = allow everything; empty Allow matches
                # nothing useful)
                continue
            cur["rules"].append((key == "allow", val))
        elif key == "sitemap":
            if val:
                sitemaps.append(val)
        # crawl-delay and unknown directives: ignored per RFC
    return groups, sitemaps


def effective_rules(
    groups: list[dict], product_token: str
) -> tuple[str, list[tuple[bool, str]]]:
    """(matched_agent, rules) for one crawler per RFC 9309 §2.2.1: the
    most specific matching user-agent token wins (longest token that
    is a case-insensitive prefix-token match or '*'), and ALL groups
    carrying that token combine in file order."""
    token = product_token.strip().lower()
    best = ""
    best_len = -1
    for g in groups:
        for a in g["agents"]:
            if a == "*":
                if best_len < 0:
                    best, best_len = "*", 0
            elif token.startswith(a) and len(a) > best_len:
                best, best_len = a, len(a)
    if best_len < 0:
        return "", []
    rules: list[tuple[bool, str]] = []
    for g in groups:
        if best in g["agents"]:
            rules.extend(g["rules"])
    return best, rules


def admission_fold():
    """The RFC 9309 winner as ONE shared Spark expression — a
    row-local filter/transform/array_max fold over a joined `rules`
    array (struct<…, pattern, regex, allow>) against a `path` column:
    regex matching via the translation above, longest-PATTERN
    precedence, allow wins exact ties, empty path matches as '/'.
    One expression so queries.q_frontier_admission and its unit test
    (test_robots.py) run the same fold.  Aggregates nothing: the
    verdict is a projection after the broadcast rules join."""
    from pyspark.sql import functions as F

    return F.expr(
        "array_max(transform("
        " filter(rules, r -> if(path = '', '/', path) rlike r.regex),"
        " r -> struct(length(r.pattern) * 2 + int(r.allow) AS score,"
        "             r.allow AS allow, r.pattern AS pattern)))"
    )


def robots_rows(
    ref: str, data: bytes, product_token: str = "synthcrawler"
) -> list[dict]:
    """One robots.txt file's typed rows — shared VERBATIM by the Spark
    stage (queries.q_robots_rules) and the golden generator.  Row
    kinds: 'rule' (the EFFECTIVE rules for product_token, file order,
    with the engine-shared regex translation) and 'sitemap' (discovery
    links).  A file whose groups match nothing for this crawler yields
    zero rule rows (default-allow downstream); document-level refusals
    yield ONE error row."""
    base = dict(media_ref=ref, row_idx=None, kind=None, agent=None,
                allow=None, pattern=None, regex=None, sitemap_url=None,
                error=None)
    try:
        groups, sitemaps = parse_robots(bytes(data))
    except Exception as exc:
        return [dict(base, error=str(exc))]
    agent, rules = effective_rules(groups, product_token)
    rows: list[dict] = []
    for allow, pattern in rules:
        rows.append(dict(base, row_idx=len(rows), kind="rule",
                         agent=agent, allow=allow, pattern=pattern,
                         regex=rule_regex(pattern)))
    for url in sitemaps:
        rows.append(dict(base, row_idx=len(rows), kind="sitemap",
                         sitemap_url=url))
    return rows
