"""Web-graph construction operators over crawled HTML.

The step between ingestion (``sources/warc.py``) and the graph
analytics (``graph_query.pagerank`` over host edges): pull outbound
links from page HTML.  Composes with ``text_analysis.canonicalize_urls``
(dedup keys + PSL registrable domains) and ``filter_urls`` (blocklists)
— extract here, canonicalize there, aggregate to (src_domain,
dst_domain) edges, rank with pagerank: the classic crawl-frontier /
host-authority pipeline.

Pure ``pyspark.sql.functions`` (regexp_extract_all + explode) — whole-
stage codegen, embarrassingly partition-parallel, RE2-safe regex (no
lookarounds — the oracle-engine invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: quoted href attribute values, case-insensitive attribute name.
#: Unquoted hrefs are not extracted (documented contract — generators
#: quote; an unquoted-attribute arm would need a different value
#: terminator and buys almost nothing on real crawls).
HREF_RE = "(?i)href\\s*=\\s*[\"']([^\"']+)[\"']"


def extract_links(
    df: DataFrame, id_col: str, html_col: str
) -> DataFrame:
    """Distinct absolute outbound links per page -> ``(id, link)``.

    Only absolute ``http(s)://`` targets survive (relative references
    need RFC 3986 base resolution — a downstream join against the
    page's own canonical URL, deliberately out of this operator);
    ``mailto:``/``javascript:``/fragment-only hrefs drop.  Pages with
    no links emit no rows (the keyword-extraction contract).

    Scale shape: one projection (regexp_extract_all) + explode + a
    distinct keyed by (id, link) — the only shuffle, map-side
    combinable; no Python, no joins."""
    links = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(HREF_RE), 1)
        ).alias("link"),
    )
    return links.filter(F.col("link").rlike("^https?://")).distinct()


# the product token this crawler's robots.txt groups are matched by
ROBOTS_AGENT = "ontokg"


def compile_robots(df: DataFrame, host_col: str, content_col: str) -> DataFrame:
    """Parse robots.txt files (RFC 9309) -> one row per rule that applies
    to ROBOTS_AGENT: ``(host, allow, pattern, pattern_len, like_pattern)``.

    Group semantics per the RFC: lines are grouped under their
    ``User-agent`` stanzas; the MOST SPECIFIC matching agent's group(s)
    apply (exact product token beats ``*``; if any specific group
    exists, the ``*`` groups are ignored); comments (``#``) strip,
    unknown directives (crawl-delay, sitemap) are ignored, an empty
    ``Disallow:`` is a no-op rule.  ``like_pattern`` is the path
    expression compiled to a SQL LIKE pattern (``*`` -> ``%``, a
    trailing ``$`` anchors, ``%``/``_``/``\\`` escaped) so the
    per-URL match in :func:`robots_check` stays JVM-side.

    Parsing is an Arrow ``mapInPandas`` stage (robots files are small
    and per-host — the Python cost is per FILE, never per URL)."""
    import pandas as pd

    agent_low = ROBOTS_AGENT.lower()

    def _rules(content: str):
        groups = []  # (agent_tokens, rules)
        cur_agents, cur_rules, in_group_header = [], [], False
        for raw in (content or "").splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, _, val = line.partition(":")
            key = key.strip().lower()
            val = val.strip()
            if key == "user-agent":
                if not in_group_header and cur_agents:
                    groups.append((cur_agents, cur_rules))
                    cur_agents, cur_rules = [], []
                cur_agents.append(val.lower())
                in_group_header = True
            elif key in ("allow", "disallow"):
                in_group_header = False
                if cur_agents:
                    cur_rules.append((key == "allow", val))
            else:
                in_group_header = False
        if cur_agents:
            groups.append((cur_agents, cur_rules))
        specific = [
            r for a, rs in groups for r in rs
            if any(t != "*" and t in agent_low for t in a)
        ]
        if any(
            any(t != "*" and t in agent_low for t in a) for a, _ in groups
        ):
            chosen = specific
        else:
            chosen = [
                r for a, rs in groups for r in rs if "*" in a
            ]
        return [(al, p) for al, p in chosen if p]  # empty = no-op

    def _like(pattern: str) -> str:
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        out = []
        for ch in body:
            if ch == "*":
                out.append("%")
            elif ch in ("%", "_", "\\"):
                out.append("\\" + ch)
            else:
                out.append(ch)
        if not anchored:
            out.append("%")
        return "".join(out)

    def _parse(batches):
        for pdf in batches:
            hosts, allows, pats, lens, likes = [], [], [], [], []
            for host, content in zip(pdf[host_col], pdf[content_col]):
                for allow, pat in _rules(content):
                    hosts.append(host)
                    allows.append(allow)
                    pats.append(pat)
                    lens.append(len(pat))
                    likes.append(_like(pat))
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "allow": allows,
                    "pattern": pats,
                    "pattern_len": lens,
                    "like_pattern": likes,
                }
            )

    return df.select(host_col, content_col).mapInPandas(
        _parse,
        schema="host string, allow boolean, pattern string, "
        "pattern_len long, like_pattern string",
    )


def robots_check(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str,
    host_col: str,
    path_col: str,
) -> DataFrame:
    """Evaluate every URL against compiled robots rules ->
    ``(id, host, path, allowed)`` — RFC 9309 precedence: among matching
    rules the LONGEST pattern wins, ties go to Allow; a URL whose host
    has no matching rule (or no robots at all) is allowed.

    Scale shape: one hash join on the host (rules frames are
    crawl-host-sized — hint-broadcast when they fit) + a per-URL
    ``max(struct(pattern_len, allow))`` aggregation; the LIKE match is
    whole-stage codegen, no Python per URL."""
    rules_r = rules.withColumnRenamed("host", "_rule_host")
    joined = (
        urls.select(F.col(id_col), F.col(host_col), F.col(path_col))
        .join(rules_r, F.col(host_col) == F.col("_rule_host"), "left")
        .drop("_rule_host")
    )
    # the match condition lives INSIDE the aggregate (never a filter):
    # a URL whose host has rules but matches none must still reach the
    # groupBy and default to allowed
    matches = F.col("like_pattern").isNotNull() & F.expr(
        f"{path_col} LIKE like_pattern ESCAPE '\\\\'"
    )
    return (
        joined.groupBy(id_col, host_col, path_col)
        .agg(
            F.max(
                F.when(
                    matches,
                    F.struct(
                        F.col("pattern_len").alias("l"),
                        F.col("allow").alias("a"),
                    ),
                )
            ).alias("m")
        )
        .select(
            id_col,
            host_col,
            path_col,
            F.coalesce(F.col("m.a"), F.lit(True)).alias("allowed"),
        )
    )
