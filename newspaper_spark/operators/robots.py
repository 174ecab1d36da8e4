"""robots.txt parsing + URL gating — the crawl-politeness stage every
web-scale corpus pipeline runs before (or while re-validating) a
fetch. The reference fetches pages without a robots check
(newspaper3k network.py issues plain GETs), so this is a
beyond-reference pipeline operator; the semantics mirrored are the
Python stdlib's ``urllib.robotparser`` — the original 1994 REP
prefix-match rules, verified against it in tests:

* groups: consecutive ``User-agent`` lines share the rule block that
  follows; a ``User-agent`` after rules opens a new group;
* group selection for an agent: the first group (file order) whose
  user-agent token is ``*`` or a substring of the agent name, with
  ``*`` groups considered only after every named group (robotparser's
  ``default_entry``-last behavior); a group listing ``*`` among its
  user-agents is DEMOTED to the default entry even when it also names
  the agent, and only the first such group counts (robotparser's
  ``_add_entry`` keeps one ``default_entry`` and discards later ones);
* rule evaluation INSIDE the group: **first rule in line order whose
  path is a prefix of the URL path wins** — a later, more specific
  ``Allow`` does NOT override an earlier ``Disallow`` (stdlib
  semantics, unlike Google's longest-match RFC 9309 extension — this
  is deliberate fidelity, documented divergence);
* an empty ``Disallow:`` is an allow-everything rule (path ``''``
  matches every URL), exactly as robotparser stores it;
* no rule matches → allowed.

Not mirrored (documented): robotparser URL-quotes rule paths and the
probe path before comparing, and ``%``-unquotes the probe first —
byte-level no-ops for ASCII paths; wildcard ``*``/``$`` patterns are
an RFC 9309 extension robotparser itself does not implement.

Scale shape: parsing is pure Catalyst (split + posexplode + regexes —
no UDF); group numbering uses ONE window partitioned by host and
bounded by lines-per-robots-file (tens — never corpus-wide); the gate
is one plan for batch and streaming URLs: a broadcast join of each URL
to its host's line-ordered rule array and a first-prefix-match filter.
Aggregates run on the rules side only (group selection and the
per-host pack, a few rows per host); URLs and raw pages never shuffle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_robots", "robots_gate"]

#: explicit horizontal-whitespace class — NEVER \\s cross-engine
#: (CLAUDE.md); robots directives are single-line so \\n can't occur
_HWS = "[ \\t\\r]"

_DIRECTIVE_RE = (
    "^(?i)(user-agent|allow|disallow)" + _HWS + "*:" + _HWS + "*(.*)$"
)


def parse_robots(
    df: DataFrame, robots_col: str = "robots", host_col: str = "host"
) -> DataFrame:
    """Parse robots.txt bodies into a rule relation: one row per
    recognized directive, ``(host, line_no, entry_id, directive,
    value)`` — ``directive`` in {'user-agent','allow','disallow'}
    lowercased, ``value`` comment-stripped and trimmed, ``entry_id``
    the 0-based group number per the grouping rule above. Unrecognized
    lines (comments, blanks, other directives) are dropped, exactly as
    robotparser ignores them."""
    from pyspark.sql import Window as W

    lines = F.split(F.coalesce(F.col(robots_col), F.lit("")), r"\n")
    parsed = df.select(
        F.col(host_col), F.posexplode(lines).alias("line_no", "raw")
    ).select(
        host_col,
        "line_no",
        # robotparser strips each line after comment removal, so an
        # INDENTED directive ('  Disallow: /x') still parses — strip
        # leading whitespace before the anchored directive match
        # (ADVICE r5)
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), "#.*$", ""),
            "^" + _HWS + "+",
            "",
        ).alias("clean"),
    ).select(
        host_col,
        "line_no",
        F.lower(F.regexp_extract("clean", _DIRECTIVE_RE, 1)).alias("directive"),
        F.regexp_replace(
            F.regexp_extract("clean", _DIRECTIVE_RE, 2),
            _HWS + "+$",
            "",
        ).alias("value"),
    ).filter(F.col("directive") != "")
    # group numbering: a user-agent line whose predecessor (among
    # recognized lines) is NOT a user-agent line opens a new entry;
    # window is per-host and bounded by lines-per-robots-file
    w = W.partitionBy(host_col).orderBy("line_no")
    is_ua = (F.col("directive") == "user-agent").cast("int")
    prev_ua = F.lag(is_ua, 1, 0).over(w)
    opens = ((is_ua == 1) & (prev_ua == 0)).cast("int")
    return parsed.withColumn(
        "entry_id",
        F.sum(opens).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ) - 1,
    )


def _chosen_rules(rules: DataFrame, agent: str, host_col: str) -> DataFrame:
    """The selected group's rules for ``agent``, per host:
    ``(host, line_no, rule_path, rule_allow)`` — group selection per
    the module-docstring semantics (named beats demoted-star, earlier
    beats later, mixed groups demoted)."""
    agent_norm = agent.split("/")[0].lower()

    ua = rules.filter(F.col("directive") == "user-agent").select(
        host_col, "entry_id", F.lower(F.col("value")).alias("ua")
    )
    # robotparser DEMOTES any entry listing '*' among its user-agents
    # to the default ('*') entry — even when it also names the agent —
    # and keeps only the FIRST such entry (ADVICE r5: the demotion is
    # per ENTRY, not per user-agent line, so flags aggregate per entry
    # before selection). Named groups beat the default; earlier groups
    # beat later ones; rule evaluation is first-match inside the group.
    entry_flags = ua.groupBy(host_col, "entry_id").agg(
        F.max((F.col("ua") == "*").cast("int")).alias("has_star"),
        F.max(
            (
                (F.col("ua") != "*")
                & F.lit(agent_norm).contains(F.col("ua"))
            ).cast("int")
        ).alias("named_match"),
    )
    pick = (
        entry_flags.filter(
            ((F.col("has_star") == 0) & (F.col("named_match") == 1))
            | (F.col("has_star") == 1)
        )
        .groupBy(host_col)
        .agg(
            F.min(
                F.struct(
                    F.col("has_star").alias("is_star"),
                    F.col("entry_id").alias("entry_id"),
                )
            ).alias("p")
        )
        .select(host_col, F.col("p.entry_id").alias("picked_entry"))
    )
    return rules.filter(F.col("directive") != "user-agent").join(
        pick,
        on=[host_col],
    ).filter(F.col("entry_id") == F.col("picked_entry")).select(
        host_col,
        "line_no",
        F.col("value").alias("rule_path"),
        # robotparser's RuleLine flips an EMPTY Disallow into an
        # allow-everything rule at construction ('' , True) — mirror it
        ((F.col("directive") == "allow") | (F.col("value") == "")).alias(
            "rule_allow"
        ),
    )


def _probe_path(url_col: str):
    """URL → probe path — everything from the first '/' after the
    authority, defaulting to '/' for path-less URLs (robotparser
    defaults the empty probe path to '/', so 'Disallow: /' matches —
    ADVICE r5). The synthetic-universe URLs are plain ASCII so
    robotparser's quoting round-trip is a byte no-op (module
    docstring)."""
    raw_path = F.regexp_extract(F.col(url_col), "^[a-z]+://[^/]*(/.*)?$", 1)
    return F.when(raw_path == "", F.lit("/")).otherwise(raw_path)


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """Gate ``urls`` (must carry ``host_col`` and ``url_col``) against
    a :func:`parse_robots` relation for ``agent``. Returns the input
    id/url/host plus ``allowed`` (boolean; hosts with no robots rules
    default to allowed) and ``matched_rule`` (the deciding rule's path
    prefix, NULL when no rule matched). ``agent`` is normalized the
    robotparser way: text before the first '/' lowercased.

    Map-only: each host's chosen-group rules are packed into one
    line-ordered array (rules side), broadcast-joined onto the URLs by
    host, and the first prefix match is taken with a Column filter. No
    aggregate and no state on the URL side, so ``urls`` may be a
    streaming DataFrame (``rules`` is batch state, as a crawl loop
    holds robots.txt snapshots), and every row gets its own verdict
    whether or not ``id_col`` is unique. The HOF filter is interpreted
    per element (CLAUDE.md), but over <= rules-per-robots-file
    elements — bounded, not corpus-sized.
    """
    grp = _chosen_rules(rules, agent, host_col)
    per_host = grp.groupBy(host_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("line_no").alias("line_no"),
                    F.col("rule_path").alias("p"),
                    F.col("rule_allow").alias("a"),
                )
            )
        ).alias("_rules")
    )
    probe = urls.withColumn("_path", _probe_path(url_col)).join(
        F.broadcast(per_host), host_col, "left"
    )
    # try_element_at: a host WITH rules where none prefix-match yields
    # an EMPTY filtered array — ANSI element_at raises there; the
    # no-rules host yields NULL and both must fall through to allowed
    first = F.try_element_at(
        F.filter(
            F.col("_rules"),
            lambda r: F.col("_path").startswith(r["p"]),
        ),
        F.lit(1),
    )
    return probe.select(
        id_col,
        url_col,
        host_col,
        F.coalesce(first["a"], F.lit(True)).alias("allowed"),
        first["p"].alias("matched_rule"),
    )
