"""URL-level curation: canonicalization, URL-exact dedup, domain rules.

The crawl-pipeline stage that runs BEFORE any text processing: CCNet
(Wenzek et al. 2020 §2) dedups by URL before paragraph hashing, C4
filters by domain, and RefinedWeb (§G.1) canonicalizes + filters URLs
and caps domains before extraction.  The reference engine
(amzn/rheoceros) has no URL stage — this family is part of the
LLM-data-pipeline extension surface, composing with the existing
text/embedding dedup operators (``dedup.py``) and ``domain_cap``
(``curation.py``).

Canonicalization contract (RFC 3986 syntax-based normalization, the
subset expressible as pure column algebra — every rule is a per-row
scalar expression, ZERO shuffle at any corpus size):

* scheme and host lowercased; userinfo (``user:pass@``) dropped
* default ports stripped (``http:80``, ``https:443``); other ports
  kept with leading zeros removed (``:0080`` → ``:80``)
* fragment dropped
* path: ``%``-escape hex uppercased (``%2f`` → ``%2F``), trailing
  slashes stripped (``/a/`` → ``/a``), empty path → ``/``
* query: ``%``-escape hex uppercased, empty params dropped, tracker
  params removed (``utm_*`` prefix + the explicit id set below),
  remaining params sorted bytewise, rejoined with ``&``; an
  emptied-out query drops its ``?``
* not canonicalizable (NULL, no ``://``, malformed scheme, empty
  host) → NULL — callers route such rows explicitly, like
  ``dedup_exact``'s NULL-text rule

Out of scope (documented, not silently wrong): IDN hosts are
lowercased but NOT punycode-converted (no pure-SQL punycode; hosts
already in ``xn--`` form canonicalize fine), and dot-segments
(``/a/../b``) are preserved — resolving them requires the reference
URL context RFC 3986 §5 defines, which a crawl record doesn't carry.

Two mirrored SQL builders produce the SAME logic for Spark and DuckDB
(function-name seams: ``split``/``string_split``, ``rlike``/
``regexp_matches``, ``array_join``/``array_to_string`` + its
empty-list→NULL seam).  The builders share structure, so the real
independence check is tests/test_urls.py's hand-written
expected-canonical matrix — literal in/out pairs a human wrote, not
engine-derived.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from rheoceros_spark.operators.scale import checkpoint, plan_barrier

#: explicit tracker/click-id params stripped by canonicalization, on
#: top of the ``utm_`` prefix rule.  The usual cross-site suspects
#: (Google/Facebook/Microsoft click ids, mail-campaign ids); extend
#: per-corpus via the ``trackers`` argument.
DEFAULT_TRACKER_PARAMS: tuple[str, ...] = (
    "fbclid",
    "gclid",
    "gclsrc",
    "dclid",
    "msclkid",
    "mc_eid",
    "igshid",
    "yclid",
    "_ga",
    "ref",
    "ref_src",
)

#: param-name prefixes stripped (prefix match on the lowercased key)
TRACKER_PREFIXES: tuple[str, ...] = ("utm_",)


def _tracker_cond_sql(key_expr: str, trackers: Sequence[str], prefixes: Sequence[str]) -> str:
    """SQL condition: is ``key_expr`` (a lowercased param name) a
    tracker?  Portable — identical string works in Spark and DuckDB."""
    parts = [
        f"substr({key_expr}, 1, {len(p)}) = '{p}'" for p in prefixes
    ]
    if trackers:
        quoted = ", ".join(f"'{t}'" for t in trackers)
        parts.append(f"{key_expr} IN ({quoted})")
    return "(" + " OR ".join(parts) + ")"


def _pct_upper_sql(parts_expr: str, *, duck: bool) -> str:
    """Uppercase the hex of every valid %-escape, given ``parts_expr``
    = the input already split on '%' (materialize the split ONCE in a
    projection — referencing it K times here is then safe on both
    engines).  Invalid escapes ('%zz', trailing '%') pass through."""
    if duck:
        first = f"list_extract({parts_expr}, 1)"
        rest = f"({parts_expr})[2:]"
        fix = (
            f"list_transform({rest}, __p -> '%' || "
            f"(CASE WHEN regexp_matches(substr(__p, 1, 2), '^[0-9A-Fa-f]{{2}}$') "
            f"THEN upper(substr(__p, 1, 2)) ELSE substr(__p, 1, 2) END) || substr(__p, 3))"
        )
        joined = f"coalesce(array_to_string({fix}, ''), '')"
        size = f"len({parts_expr})"
    else:
        first = f"element_at({parts_expr}, 1)"
        rest = f"slice({parts_expr}, 2, size({parts_expr}) - 1)"
        fix = (
            f"transform({rest}, __p -> '%' || "
            f"(CASE WHEN substr(__p, 1, 2) RLIKE '^[0-9A-Fa-f]{{2}}$' "
            f"THEN upper(substr(__p, 1, 2)) ELSE substr(__p, 1, 2) END) || substr(__p, 3))"
        )
        joined = f"array_join({fix}, '')"
        size = f"size({parts_expr})"
    return f"(CASE WHEN {size} <= 1 THEN {first} ELSE {first} || {joined} END)"


def url_canonicalize(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canonical_url",
    trackers: Sequence[str] = DEFAULT_TRACKER_PARAMS,
    tracker_prefixes: Sequence[str] = TRACKER_PREFIXES,
) -> DataFrame:
    """Add ``out_col`` = the canonical form of ``url_col`` (module
    docstring has the full rule list); NULL when not canonicalizable.

    Pure per-row column algebra — zero shuffle, fully codegen'd, scans
    stay pruned; the plan survives any corpus size unchanged.  The
    multi-reference intermediates (the '%'-split arrays, param lists)
    are materialized as projected columns, not repeated inside one
    expression, so each split/explode evaluates once per row
    (CollapseProject keeps multi-ref non-cheap aliases projected).
    """
    scheme_at = "instr(__u0, '://')"
    d = (
        df.withColumn("__u0", F.expr(f"nullif(trim({url_col}), '')"))
        .withColumn(
            "__scheme",
            F.expr(f"CASE WHEN {scheme_at} > 0 THEN lower(substr(__u0, 1, {scheme_at} - 1)) END"),
        )
        .withColumn("__rest", F.expr(f"substr(__u0, {scheme_at} + 3)"))
        .withColumn("__auth", F.expr("regexp_extract(__rest, '^[^/?#]*', 0)"))
        .withColumn("__tail", F.expr("substr(__rest, length(__auth) + 1)"))
        .withColumn(
            "__hostport",
            F.expr(
                "CASE WHEN instr(__auth, '@') > 0 "
                "THEN regexp_extract(__auth, '([^@]*)$', 1) ELSE __auth END"
            ),
        )
        .withColumn("__port", F.expr("regexp_extract(__hostport, ':([0-9]+)$', 1)"))
        .withColumn(
            "__host",
            F.expr(
                "lower(CASE WHEN __port <> '' "
                "THEN substr(__hostport, 1, length(__hostport) - length(__port) - 1) "
                "ELSE __hostport END)"
            ),
        )
        # ports are ≤5 digits in the wild; longer digit runs are
        # malformed — keep them verbatim rather than risk a cast error
        .withColumn(
            "__portc",
            F.expr(
                "CASE WHEN __port = '' THEN '' "
                "WHEN length(__port) <= 5 THEN CAST(CAST(__port AS BIGINT) AS STRING) "
                "ELSE __port END"
            ),
        )
        .withColumn(
            "__tailnf",
            F.expr(
                "CASE WHEN instr(__tail, '#') > 0 "
                "THEN substr(__tail, 1, instr(__tail, '#') - 1) ELSE __tail END"
            ),
        )
        .withColumn(
            "__praw",
            F.expr(
                "CASE WHEN instr(__tailnf, '?') > 0 "
                "THEN substr(__tailnf, 1, instr(__tailnf, '?') - 1) ELSE __tailnf END"
            ),
        )
        .withColumn(
            "__qraw",
            F.expr(
                "CASE WHEN instr(__tailnf, '?') > 0 "
                "THEN substr(__tailnf, instr(__tailnf, '?') + 1) ELSE '' END"
            ),
        )
        .withColumn("__pparts", F.expr("split(__praw, '%', -1)"))
        .withColumn("__ppct", F.expr(_pct_upper_sql("__pparts", duck=False)))
        # %-uppercasing can't create or destroy '&'/'=' (both escape to
        # %26/%3D and stay escaped), so normalizing BEFORE the param
        # split is equivalent to per-param normalization — and one pass
        .withColumn("__qparts", F.expr("split(__qraw, '%', -1)"))
        .withColumn("__qpct", F.expr(_pct_upper_sql("__qparts", duck=False)))
        .withColumn("__pstrip", F.expr("regexp_replace(__ppct, '/+$', '')"))
        .withColumn(
            "__params",
            F.expr(
                "filter(split(__qpct, '&', -1), __q -> __q <> '' AND NOT "
                + _tracker_cond_sql(
                    "lower(CASE WHEN instr(__q, '=') > 0 "
                    "THEN substr(__q, 1, instr(__q, '=') - 1) ELSE __q END)",
                    trackers,
                    tracker_prefixes,
                )
                + ")"
            ),
        )
        .withColumn("__qstr", F.expr("array_join(array_sort(__params), '&')"))
    )
    canon = (
        "__scheme || '://' || __host || "
        "(CASE WHEN __portc <> '' AND NOT ((__scheme = 'http' AND __portc = '80') "
        "OR (__scheme = 'https' AND __portc = '443')) THEN ':' || __portc ELSE '' END) || "
        "(CASE WHEN __pstrip = '' THEN '/' ELSE __pstrip END) || "
        "(CASE WHEN __qstr <> '' THEN '?' || __qstr ELSE '' END)"
    )
    out = d.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN __u0 IS NULL OR {scheme_at} <= 0 "
            "OR __scheme NOT RLIKE '^[a-z][a-z0-9+.-]*$' "
            f"OR __host = '' THEN NULL ELSE {canon} END"
        ),
    )
    return out.drop(
        "__u0", "__scheme", "__rest", "__auth", "__tail", "__hostport",
        "__port", "__host", "__portc", "__tailnf", "__praw", "__qraw",
        "__pparts", "__ppct", "__qparts", "__qpct", "__pstrip",
        "__params", "__qstr",
    )


def canonical_url_duckdb_query(
    source_sql: str,
    url_expr: str,
    keep: Sequence[str],
    out_col: str = "canonical_url",
    trackers: Sequence[str] = DEFAULT_TRACKER_PARAMS,
    tracker_prefixes: Sequence[str] = TRACKER_PREFIXES,
) -> str:
    """The DuckDB mirror of :func:`url_canonicalize`, as a full SELECT
    over ``source_sql`` — embed it as a subquery/CTE in oracle SQL.

    STAGED nested subqueries with the same intermediates as the Spark
    side, never one scalar expression: textual substitution of each
    level into the next multiplies — the scalar form of this mirror
    reached 1.1 MB of SQL over a 1 KB input expression and hung
    DuckDB's binder.  Seams vs Spark: ``string_split`` for ``split``,
    ``regexp_matches`` for ``RLIKE``, ``array_to_string`` + its
    empty-list→NULL ``coalesce`` for ``array_join``;
    tests/test_urls.py pins both engines to the same hand-written
    expected outputs.

    ``keep``: passthrough column names projected alongside
    ``out_col``.
    """
    cols = ", ".join(keep) + ", " if keep else ""
    key = "lower(CASE WHEN instr(__q, '=') > 0 THEN substr(__q, 1, instr(__q, '=') - 1) ELSE __q END)"
    levels = [
        f"SELECT {cols}({url_expr}) AS __url FROM {source_sql}",
        f"SELECT {cols}nullif(trim(__url), '') AS __u0 FROM __L__",
        (
            f"SELECT {cols}__u0, instr(__u0, '://') AS __at FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, "
            "CASE WHEN __at > 0 THEN lower(substr(__u0, 1, __at - 1)) END AS __scheme, "
            "substr(__u0, __at + 3) AS __rest FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __rest, "
            "regexp_extract(__rest, '^[^/?#]*') AS __auth FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, "
            "substr(__rest, length(__auth) + 1) AS __tail, "
            "CASE WHEN instr(__auth, '@') > 0 "
            "THEN regexp_extract(__auth, '([^@]*)$', 1) ELSE __auth END AS __hostport "
            "FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __tail, __hostport, "
            "regexp_extract(__hostport, ':([0-9]+)$', 1) AS __port FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __tail, "
            "lower(CASE WHEN __port <> '' "
            "THEN substr(__hostport, 1, length(__hostport) - length(__port) - 1) "
            "ELSE __hostport END) AS __host, "
            "CASE WHEN __port = '' THEN '' "
            "WHEN length(__port) <= 5 THEN CAST(CAST(__port AS BIGINT) AS STRING) "
            "ELSE __port END AS __portc FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __host, __portc, "
            "CASE WHEN instr(__tail, '#') > 0 "
            "THEN substr(__tail, 1, instr(__tail, '#') - 1) ELSE __tail END AS __tailnf "
            "FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __host, __portc, "
            "CASE WHEN instr(__tailnf, '?') > 0 "
            "THEN substr(__tailnf, 1, instr(__tailnf, '?') - 1) ELSE __tailnf END AS __praw, "
            "CASE WHEN instr(__tailnf, '?') > 0 "
            "THEN substr(__tailnf, instr(__tailnf, '?') + 1) ELSE '' END AS __qraw "
            "FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __host, __portc, "
            "string_split(__praw, '%') AS __pparts, "
            "string_split(__qraw, '%') AS __qparts FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __host, __portc, "
            f"{_pct_upper_sql('__pparts', duck=True)} AS __ppct, "
            f"{_pct_upper_sql('__qparts', duck=True)} AS __qpct FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __host, __portc, "
            "regexp_replace(__ppct, '/+$', '') AS __pstrip, "
            f"filter(string_split(__qpct, '&'), __q -> __q <> '' AND NOT "
            f"{_tracker_cond_sql(key, trackers, tracker_prefixes)}) AS __params "
            "FROM __L__"
        ),
        (
            f"SELECT {cols}__u0, __at, __scheme, __host, __portc, __pstrip, "
            "coalesce(array_to_string(array_sort(__params), '&'), '') AS __qstr "
            "FROM __L__"
        ),
    ]
    q = levels[0]
    for lvl in levels[1:]:
        q = lvl.replace("__L__", f"({q})")
    canon = (
        "__scheme || '://' || __host || "
        "(CASE WHEN __portc <> '' AND NOT ((__scheme = 'http' AND __portc = '80') "
        "OR (__scheme = 'https' AND __portc = '443')) THEN ':' || __portc ELSE '' END) || "
        "(CASE WHEN __pstrip = '' THEN '/' ELSE __pstrip END) || "
        "(CASE WHEN __qstr <> '' THEN '?' || __qstr ELSE '' END)"
    )
    return (
        f"SELECT {cols}CASE WHEN __u0 IS NULL OR __at <= 0 "
        "OR NOT regexp_matches(__scheme, '^[a-z][a-z0-9+.-]*$') "
        f"OR __host = '' THEN NULL ELSE {canon} END AS {out_col} "
        f"FROM ({q})"
    )


def url_domain_duckdb_sql(expr: str, strip_www: bool = True) -> str:
    """The DuckDB mirror of :func:`url_domain` as one scalar SQL
    expression over ``expr`` (pass a plain column name — the text
    repeats it a few times)."""
    at = f"instr({expr}, '://')"
    auth = f"regexp_extract(substr({expr}, {at} + 3), '^[^/?#]*')"
    hp = (
        f"(CASE WHEN instr({auth}, '@') > 0 "
        f"THEN regexp_extract({auth}, '([^@]*)$', 1) ELSE {auth} END)"
    )
    h = f"lower(regexp_replace({hp}, ':[0-9]+$', ''))"
    if strip_www:
        h = f"(CASE WHEN substr({h}, 1, 4) = 'www.' THEN substr({h}, 5) ELSE {h} END)"
    return f"(CASE WHEN {at} > 0 AND {h} <> '' THEN {h} END)"


def url_domain(
    df: DataFrame,
    url_col: str = "canonical_url",
    out_col: str = "domain",
    strip_www: bool = True,
) -> DataFrame:
    """Add ``out_col`` = the lowercased host of ``url_col`` (userinfo
    and port stripped), optionally minus one leading ``www.`` — the
    grouping key for ``domain_cap`` / :func:`domain_filter`.  Accepts
    raw or canonical URLs; per-row algebra, zero shuffle.

    Built as STAGED projections, never one nested expression: each
    level references the previous a bounded number of times, so a
    downstream predicate that Catalyst pushes through the chain
    (PushDownPredicates inlines project aliases into the condition
    with no cost guard) grows linearly, not exponentially — the
    single-expression form of this function optimized to a 14 MB plan
    under one ``WHERE``."""
    d = (
        df.withColumn(
            "__da",
            F.expr(f"regexp_extract(substr({url_col}, instr({url_col}, '://') + 3), '^[^/?#]*', 0)"),
        )
        .withColumn(
            "__dhp",
            F.expr(
                "CASE WHEN instr(__da, '@') > 0 "
                "THEN regexp_extract(__da, '([^@]*)$', 1) ELSE __da END"
            ),
        )
        .withColumn("__dh", F.expr("lower(regexp_replace(__dhp, ':[0-9]+$', ''))"))
    )
    host = (
        "(CASE WHEN substr(__dh, 1, 4) = 'www.' THEN substr(__dh, 5) ELSE __dh END)"
        if strip_www
        else "__dh"
    )
    return d.withColumn(
        out_col,
        F.expr(f"CASE WHEN instr({url_col}, '://') > 0 AND {host} <> '' THEN {host} END"),
    ).drop("__da", "__dhp", "__dh")


def dedup_exact_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    score_col: str | None = None,
    trackers: Sequence[str] = DEFAULT_TRACKER_PARAMS,
) -> DataFrame:
    """URL-exact dedup: canonicalize, then keep one row per canonical
    URL — min id, or the best ``score_col`` (ties → min id) when given,
    reusing ``dedup_exact_best``'s order-independent
    ``min(struct(−score, id))`` winner rule.

    This is CCNet's first dedup stage (URL-level, §2), run before any
    text hashing — at crawl scale most duplicates are re-crawls of the
    same canonical URL, and dropping them here avoids ever shuffling
    their text.  Scale shape: the winner shuffle carries
    (32-byte md5(canonical), score, id) — never documents or even
    URLs; rows that don't canonicalize (NULL result) pass through
    untouched, exactly like ``dedup_exact``'s NULL-text rule, and the
    output keeps the input schema plus ``canonical_url``.
    """
    keyed_df = url_canonicalize(df, url_col=url_col, out_col="canonical_url", trackers=trackers)
    # pushdown barrier: the IS [NOT] NULL filters and
    # the md5 key below would otherwise have the full canonicalization
    # chain inlined into them (measured 410 KB of optimized plan)
    keyed_df = plan_barrier(keyed_df, "dedup_exact_url_rows_in")
    key = F.md5(F.col("canonical_url")).alias("__key")
    if score_col is None:
        nsc = F.lit(0.0).alias("__nsc")
    else:
        nsc = (
            -F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf")))
        ).alias("__nsc")
    keyed = keyed_df.select(F.col(id_col), key, nsc).where(F.col("__key").isNotNull())
    winners = keyed.groupBy("__key").agg(
        F.min(F.struct(F.col("__nsc"), F.col(id_col).alias("__id"))).alias("__w")
    )
    winner_ids = winners.select(F.col("__w.__id").alias(id_col))
    # NULL-canonical rows are EXCLUDED from the semi-join input, not
    # just appended — under non-unique ids a NULL-url row sharing a
    # survivor's id would otherwise be emitted twice (the dedup_exact
    # double-emission fix, applied here from the start)
    survivors = keyed_df.where(F.col("canonical_url").isNotNull()).join(
        winner_ids, on=id_col, how="left_semi"
    )
    passthrough = keyed_df.where(F.col("canonical_url").isNull())
    return survivors.unionByName(passthrough)


def domain_filter(
    df: DataFrame,
    blocked: Sequence[str] | DataFrame,
    domain_col: str = "domain",
    mode: str = "block",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-rule filtering (RefinedWeb §G.1 / C4 badlist style): drop
    (``mode='block'``) or keep (``mode='allow'``) rows whose
    ``domain_col`` equals a listed domain OR is any subdomain of one
    (the standard suffix rule: ``example.com`` also matches
    ``a.b.example.com``).

    Suffix matching without a quadratic LIKE scan: each row's domain
    expands to its dot-suffix set (``a.b.c`` → {a.b.c, b.c, c} — ≤ ~10
    short strings), checked against the rule set.  A Python sequence
    becomes a broadcast-literal array (``arrays_overlap``, ZERO
    shuffle, whole-stage codegen); a DataFrame rule list (columns:
    ``domain``) joins its exploded suffixes broadcast — rule lists are
    MBs even at millions of rules, so the corpus never shuffles either
    way.  NULL domains are never matched by rules: they are dropped
    under ``mode='allow'`` (provenance unknown ⇒ not allowlisted) and
    kept under ``mode='block'``.
    """
    if mode not in ("block", "allow"):
        raise ValueError(f"domain_filter: mode must be 'block' or 'allow', got {mode!r}")
    d = df.withColumn("__dparts", F.expr(f"split({domain_col}, '[.]', -1)"))
    d = d.withColumn(
        "__dsuf",
        F.expr(
            "transform(sequence(1, size(__dparts)), "
            "__i -> array_join(slice(__dparts, __i, size(__dparts) - __i + 1), '.'))"
        ),
    )
    # Pushdown barrier: domain_col is typically itself a computed
    # column (url_domain over url_canonicalize — a deep chain of
    # projections), and PushPredicateThroughNonJoin substitutes project
    # aliases into a pushed condition with NO cost guard — pushing this
    # predicate inlines the whole chain multiplicatively (measured:
    # a 14 MB optimized plan and a 76 s optimizer pass on a 2-row
    # frame; a non-deterministic pin does NOT help — the rule pushes
    # through a deterministic Project regardless).  Nothing
    # is lost: every op below the barrier is per-row, so there is no
    # scan-level pruning for this predicate to reach.  Composition
    # note: apply scan-selective filters BEFORE domain_filter — a
    # later WHERE cannot push below the barrier either.
    d = plan_barrier(d, "domain_filter_rows_in")
    if isinstance(blocked, DataFrame):
        rules = blocked.select(F.lower(F.col("domain")).alias("__rule")).distinct()
        exploded = d.select(id_col, F.explode("__dsuf").alias("__s"))
        hit_ids = (
            exploded.join(F.broadcast(rules), exploded["__s"] == rules["__rule"], "inner")
            .select(id_col)
            .distinct()
        )
        how = "left_anti" if mode == "block" else "left_semi"
        return d.join(hit_ids, on=id_col, how=how).drop("__dparts", "__dsuf")
    if not blocked:
        # no rules: block-mode passes everything, allow-mode nothing
        out = df if mode == "block" else df.where(F.lit(False))
        return out
    rule_arr = F.array(*[F.lit(str(b).lower()) for b in blocked])
    hit = F.arrays_overlap(F.col("__dsuf"), rule_arr)
    cond = ~F.coalesce(hit, F.lit(False)) if mode == "block" else F.coalesce(hit, F.lit(False))
    return d.where(cond).drop("__dparts", "__dsuf")


#: fingerprint scheme tag recorded in every URL index row — a batch
#: probing an index built under a different canonicalization would
#: silently re-admit every re-crawled URL
URL_INDEX_ALGO = "md5_rfc3986_canonical_v1"


def url_index_write(
    df: DataFrame,
    path: str | None = None,
    url_col: str = "url",
    mode: str = "overwrite",
    trackers: Sequence[str] = DEFAULT_TRACKER_PARAMS,
) -> DataFrame:
    """Persist the corpus's canonical-URL fingerprint index — the
    standing state a continuous crawl ingest probes each micro-batch
    against (:func:`~rheoceros_spark.streaming.stream.stream_dedup_url`)
    without ever rescanning accepted documents, the URL-granular
    sibling of :func:`~rheoceros_spark.operators.curation.
    fingerprint_index_write`.

    The index is DISTINCT (fp, fp_algo) rows — 32-char md5(canonical)
    + the scheme tag — so the 100 TB crawl persists as a ~GB-scale
    index; ``mode="append"`` is the incremental step for newly
    accepted batches (appends are deduplicated per batch, and a fp
    appearing in two appends is harmless: the probe is an anti-join).
    Rows that don't canonicalize contribute nothing.  Pass
    ``path=None`` for the unpersisted index plan.
    """
    keyed = url_canonicalize(df, url_col=url_col, out_col="__canon", trackers=trackers)
    keyed = plan_barrier(keyed, "url_index_rows_in")
    idx = (
        keyed.where(F.col("__canon").isNotNull())
        .select(F.md5(F.col("__canon")).alias("fp"))
        .distinct()
        .select("fp", F.lit(URL_INDEX_ALGO).alias("fp_algo"))
    )
    if path is not None:
        idx.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return idx


def check_url_index(index: DataFrame) -> None:
    """Fail fast on a structurally wrong or scheme-mismatched URL
    index (the ``_check_fp_index`` / ``_check_index_params``
    discipline: a mismatch tokenizes VALIDLY but wrongly, so it must
    be loud)."""
    if "fp" not in index.columns:
        raise ValueError(
            "URL index is missing the 'fp' column — expected the "
            "(fp, fp_algo) layout written by url_index_write"
        )
    if "fp_algo" in index.columns:
        # distinct, not limit(1): an APPEND-maintained index can mix
        # schemes across appends
        algos = sorted(
            r[0] for r in index.select("fp_algo").distinct().collect() if r[0]
        )
        if algos and algos != [URL_INDEX_ALGO]:
            raise ValueError(
                f"URL index carries fp_algo values {algos!r}, this engine "
                f"computes {URL_INDEX_ALGO!r} — URLs indexed under another "
                "canonicalization would silently re-admit every re-crawl; "
                "rebuild the index under one scheme"
            )


# ---------------------------------------------------------------------------
# fuzzy host-level mirror detection (Bharat & Broder 1999)
# ---------------------------------------------------------------------------

def url_mirror_pairs(
    df: DataFrame,
    url_col: str = "url",
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    max_hosts: int | None = 64,
    trackers: Sequence[str] = DEFAULT_TRACKER_PARAMS,
) -> DataFrame:
    """Detect MIRRORED HOSTS — distinct domains serving near-identical
    path sets (Bharat & Broder 1999, "Mirror, mirror on the Web: a
    study of host pairs with replicated content": mirror candidates
    from URL-string feature overlap, verified by content).  Crawl
    dedup wants this BEFORE text hashing: a mirrored site re-crawled
    under a second domain duplicates every page, and URL-exact dedup
    (:func:`dedup_exact_url`) cannot see it because the canonical
    URLs differ in host.

    Pipeline (every step engine-exact integer algebra):

    1. canonicalize (:func:`url_canonicalize`) and split into
       ``domain`` (:func:`url_domain`, www-stripped) + the canonical
       path-and-query string; hash the latter to the FULL 60-bit
       portable path id (``h64``) — the exact verify must not count
       hash collisions as shared paths, and at 32 bits two
       million-path hosts would share ~|A|·|B|/2³² ≈ hundreds of
       spurious intersections; at 60 bits the rate is negligible.
    2. ``max_hosts`` df-cap (default 64, ``None`` opts out): a path
       id present on more than ``max_hosts`` distinct domains ('/',
       '/index.html', …) is dropped from BOTH the signatures and the
       verify — the stop-fingerprint rule of the winnowing index,
       without which a ubiquitous path makes every host pair a
       candidate AND fans the verify join out by the number of
       domains serving it.  Defaulted (the winnowing convention)
       because the unbounded form is never the right call at scale.
    3. per-domain MinHash signature over the path ids REDUCED to 32
       bits (the affine multipliers are ≤ 2·num_hashes−1, so
       31·2³² < 2³⁷ never overflows a BIGINT; signature-side
       collisions only nudge candidate recall, which the exact
       verify re-filters) → banded buckets → candidate domain pairs.
       Fuzzy by construction: mirrors need only SHARE most paths.
    4. exact verify on the candidates: FULL-width path-id equi-join
       intersection counts, Jaccard = |A∩B| / (|A|+|B|−|A∩B|) over
       exact BIGINTs.

    Scale shape: signatures shuffle one row per (domain, path) —
    never URLs or text; the banded self-join is the LSH-certified
    candidate generator; the verify join shuffles 8-byte path ids of
    CANDIDATE domains only (semi-join restricted).  Returns
    (domain_a, domain_b, n_paths_a, n_paths_b, n_shared, jaccard_r)
    with domain_a < domain_b and jaccard ≥ ``threshold``."""
    from rheoceros_spark.functions.portable import h64
    from rheoceros_spark.operators.dedup import (
        MINHASH_P,
        minhash_band_buckets,
    )
    from rheoceros_spark.operators.scale import ensure_parallelism

    canon = url_canonicalize(df, url_col=url_col, out_col="__curl", trackers=trackers)
    canon = plan_barrier(canon, "url_mirror_pairs_rows_in")
    parts = url_domain(
        canon.where(F.col("__curl").isNotNull()).select("__curl"),
        url_col="__curl",
        out_col="domain",
        strip_www=True,
    ).select(
        "domain",
        F.regexp_extract(F.col("__curl"), "^[a-z0-9+.-]+://[^/]*(/.*)$", 1).alias(
            "__path"
        ),
    )
    # three consumers (signatures + both verify legs), each of which
    # would replay the full URL canonicalization chain over the corpus
    # (measured 18.8 s vs ~2 s for the verify stage at sf0.1)
    paths = checkpoint(
        ensure_parallelism(parts.where(F.col("domain").isNotNull()))
        .select("domain", h64(F.col("__path")).alias("ph"))
        .distinct()
    )
    if max_hosts is not None:
        wide = paths.groupBy("ph").agg(
            F.count(F.lit(1)).alias("__nh")
        ).where(F.col("__nh") > max_hosts).select("ph")
        paths = paths.join(F.broadcast(wide), "ph", "left_anti")
    # signatures + per-domain path counts from ONE aggregate; the
    # 32-bit reduction lives ONLY here (overflow headroom for the
    # affine multipliers) — the verify joins full-width ids
    ph32 = F.col("ph") % F.lit(4294967296)
    mins = [
        F.min((F.lit(2 * i + 1) * ph32 + F.lit(i)) % F.lit(MINHASH_P)).alias(
            f"__m{i}"
        )
        for i in range(num_hashes)
    ]
    sigs = checkpoint(paths.groupBy("domain").agg(
        *mins, F.count(F.lit(1)).cast("bigint").alias("n_paths")
    ).select(
        "domain",
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
        "n_paths",
    ))
    buckets = minhash_band_buckets(
        sigs, id_col="domain", bands=bands, rows_per_band=rows_per_band
    )
    # consumed by the domain restriction (twice) and the final join;
    # candidate pairs are host-count-sized
    cands = checkpoint(
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .where(F.col("x.domain") < F.col("y.domain"))
        .select(
            F.col("x.domain").alias("domain_a"), F.col("y.domain").alias("domain_b")
        )
        .distinct()
    )
    cand_domains = cands.select(F.col("domain_a").alias("domain")).union(
        cands.select("domain_b")
    ).distinct()
    cpaths = paths.join(cand_domains, "domain", "left_semi")
    inter = (
        cpaths.select(F.col("domain").alias("domain_a"), "ph")
        .join(cpaths.select(F.col("domain").alias("domain_b"), "ph"), "ph")
        .where(F.col("domain_a") < F.col("domain_b"))
        .groupBy("domain_a", "domain_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    na = sigs.select(F.col("domain").alias("domain_a"), F.col("n_paths").alias("n_paths_a"))
    nb = sigs.select(F.col("domain").alias("domain_b"), F.col("n_paths").alias("n_paths_b"))
    jac = (
        F.col("n_shared").cast("double")
        / (F.col("n_paths_a") + F.col("n_paths_b") - F.col("n_shared")).cast("double")
    )
    return (
        cands.join(inter, ["domain_a", "domain_b"])
        .join(na, "domain_a")
        .join(nb, "domain_b")
        .withColumn("jaccard_r", F.round(jac, 6))
        .where(F.col("jaccard_r") >= threshold)
        .select(
            "domain_a", "domain_b", "n_paths_a", "n_paths_b", "n_shared", "jaccard_r"
        )
    )


# ---------------------------------------------------------------------------
# robots/consent gate (RFC 9309 longest-match semantics)
# ---------------------------------------------------------------------------

def robots_gate(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    default_allow: bool = True,
    max_rules_per_domain: int | None = 4096,
    trackers: Sequence[str] = DEFAULT_TRACKER_PARAMS,
) -> DataFrame:
    """Per-document crawl-consent gate against a rules table — the
    RFC 9309 (robots.txt) match semantics a compliant training-data
    pipeline applies before keeping a page: for each document's
    canonical URL, find the rules of its domain whose ``path_prefix``
    prefixes the canonical path-and-query, and let the MOST SPECIFIC
    rule win — longest prefix in octets; on a length tie, allow beats
    disallow (RFC 9309 §2.2.2).  A document whose domain has no rules,
    whose rules all miss, or whose URL is NULL/uncanonicalizable gets
    ``default_allow`` (the no-robots.txt default; pass ``False`` for
    an opt-in consent regime).

    ``rules`` columns: ``domain`` (exact, www-stripped, as
    :func:`url_domain` emits), ``path_prefix``, ``allow`` (boolean or
    0/1).  Rows with a NULL domain or prefix are ignored.  The empty
    path normalizes to ``'/'`` (RFC 9309 §2.2.2's empty-pattern
    equivalence), so a bare ``https://host`` is governed by ``/``
    rules.

    Returns ``df``'s columns plus ``domain``, ``allowed`` (0/1
    bigint) and ``matched_len`` (octet length of the winning prefix,
    NULL when no rule matched).  The winning PREFIX string is
    deliberately not returned: two distinct same-length prefixes with
    the same verdict tie, and surfacing an arbitrary one of them
    would be nondeterministic.

    Scale shape: the corpus NEVER shuffles — rules aggregate to one
    array row per domain (a rules-sized shuffle), broadcast onto the
    corpus, and the winner resolves per row with array HOFs inside
    the scan stage.  ``max_rules_per_domain`` (default 4096 — well
    past RFC 9309's 500 KiB robots.txt ceiling) refuses loudly when a
    domain's rule array would bloat every broadcast copy; ``None``
    opts out."""
    need = {"domain", "path_prefix", "allow"}
    if not need <= set(rules.columns):
        raise ValueError(
            f"robots_gate: rules must carry columns {sorted(need)}, got "
            f"{rules.columns}"
        )
    rarr = checkpoint(
        rules.where(F.col("domain").isNotNull() & F.col("path_prefix").isNotNull())
        .select(
            "domain",
            F.struct(
                (
                    F.length("path_prefix").cast("bigint") * 2
                    + F.col("allow").cast("int").cast("bigint")
                ).alias("key"),
                F.col("path_prefix").alias("prefix"),
            ).alias("__rule"),
        )
        .groupBy("domain")
        .agg(F.collect_list("__rule").alias("__rules"))
    )
    if max_rules_per_domain is not None:
        # one rules-sized aggregate; the collect is a single scalar
        # (bounded-artifact rule) and it materializes the checkpoint
        # the broadcast join reuses
        worst = rarr.select(
            F.max(F.size("__rules")).alias("m")
        ).collect()[0]["m"]
        if worst is not None and worst > max_rules_per_domain:
            raise ValueError(
                f"robots_gate: a domain carries {worst} rules, over "
                f"max_rules_per_domain={max_rules_per_domain} — every broadcast "
                "copy pays for the array; dedupe the rules table (or pass "
                "max_rules_per_domain=None to accept the cost knowingly)"
            )
    canon = url_canonicalize(df, url_col=url_col, out_col="__curl", trackers=trackers)
    canon = plan_barrier(canon, "robots_gate_rows_in")
    with_dom = url_domain(canon, url_col="__curl", out_col="domain", strip_www=True)
    path_raw = F.regexp_extract(F.col("__curl"), "^[a-z0-9+.-]+://[^/]*(/.*)$", 1)
    with_path = with_dom.withColumn(
        "__path", F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    )
    # Second barrier DIRECTLY under the join: the optimizer's
    # dynamic-partition-pruning pass (and any other PhysicalOperation
    # consumer) substitutes aliases through every Project between a
    # join and its scan, and the domain/path chain's multi-reference
    # steps make that substitution tree grow exponentially with depth
    # — measured 4.3 s of PartitionPruning time PER CALL (flat, data-
    # independent) at sf0.001, 0.2 s with the barrier.  CollectMetrics
    # stops the walk; the join itself is unchanged.
    with_path = plan_barrier(with_path, "robots_gate_join_in")
    joined = with_path.join(F.broadcast(rarr), "domain", "left")
    matches = F.filter(
        F.col("__rules"),
        lambda r: F.col("__path").startswith(r["prefix"]),
    )
    wk = F.aggregate(
        matches,
        F.lit(-1).cast("bigint"),
        lambda acc, r: F.greatest(acc, r["key"]),
    )
    out = (
        joined.withColumn("__wk", wk)
        .withColumn(
            "allowed",
            F.when(
                F.col("__wk").isNull() | (F.col("__wk") < 0),
                F.lit(1 if default_allow else 0),
            )
            .otherwise(F.col("__wk") % 2)
            .cast("bigint"),
        )
        .withColumn(
            "matched_len",
            F.when(F.col("__wk") >= 0, F.floor(F.col("__wk") / 2)).cast("bigint"),
        )
    )
    return out.drop("__curl", "__path", "__rules", "__wk")
