"""Data-curation operators for LLM training pipelines: deterministic
sampling, PII redaction, vocabulary statistics, benchmark
decontamination, and duplicate clustering.

These extend the reference's batch-ETL surface (it stops at the
signal/slot layer — reference ``api_ext.py`` hands raw DataFrames to
user Spark code) with the corpus-curation operations a 100 TB
training-data pipeline runs *inside* those slots.  Design rules:

* Every deterministic operator is a pure built-in-function composition
  (whole-stage codegen, no Python UDFs) built from
  :mod:`rheoceros_spark.functions.portable`, so each has an exact
  DuckDB oracle.
* Per-row operators (sampling, redaction) are shuffle-free.
* ``vocab_top_tokens`` is the wordcount shape: map-side partial
  aggregation carries (group, token) partial counts, then a per-group
  top-k window — the full count never collects to one node.
* ``contamination_ngrams`` broadcasts the benchmark's n-gram set (eval
  suites are MBs; the corpus is the 100 TB side), so the scan stays a
  broadcast-hash join with no corpus shuffle.
* ``dup_clusters`` is iterative min-label propagation (GraphX-style
  connected components) with per-iteration ``localCheckpoint`` to
  truncate lineage; rounds are O(cluster diameter), which for dup
  clusters is tiny (dups of one page chain through shared pages).
"""

from __future__ import annotations

import math
import weakref
from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rheoceros_spark.functions.portable import (
    h64,
    normalize_text,
    tokens,
    word_ngrams,
)
from rheoceros_spark.operators.scale import checkpoint, collect_local, observed_checkpoint

# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

#: denominator for hash-bucket sampling rates (1e-6 rate resolution)
SAMPLE_BUCKETS = 1_000_000


def _bucket(key: Column, seed: int) -> Column:
    """Uniform bucket in [0, SAMPLE_BUCKETS) from the portable hash —
    the same row lands in the same bucket on every run and engine, so
    samples are reproducible and subset-monotone (rate 0.1 ⊂ rate 0.2)."""
    return h64(key.cast("string"), seed=seed) % F.lit(SAMPLE_BUCKETS)


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic ``rate``-fraction sample keyed on ``key_col``.

    Unlike ``df.sample()`` (partition-order dependent), the decision is
    a pure function of the key — stable across retries, re-runs, and
    engines, which is what makes train/eval splits reproducible."""
    # round, not int(): 0.3 * 1e6 is 299999.99999999994 in binary fp
    return df.where(_bucket(F.col(key_col), seed) < round(rate * SAMPLE_BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 50% of English, 10% of everything else).  Shuffle-free: the
    stratum only selects the threshold, the bucket is still keyed on
    ``key_col``."""
    thr: Column = F.lit(round(default_rate * SAMPLE_BUCKETS))
    for stratum, rate in rates.items():
        thr = (
            F.when(F.col(strata_col) == stratum, F.lit(round(rate * SAMPLE_BUCKETS)))
            .otherwise(thr)
        )
    return df.where(_bucket(F.col(key_col), seed) < thr)


def _alpha_sixteenths(alpha: float) -> int:
    """Validate ``alpha`` onto the 1/16 dyadic grid and return k = 16α.

    General ``pow(x, a)`` is refused for the same reason
    :func:`source_mixture_weights` refuses it: Java's and C's libm
    disagree in the last ulp, which would break the bit-exact oracle
    gate.  On the 1/16 grid every power is a fixed composition of IEEE
    ``sqrt`` (correctly rounded on every engine) and double
    multiplications (exact IEEE ops), so both engines compute the
    identical bits.  5/16 = 0.3125 sits on the grid next to the
    XLM-R/mT5 α = 0.3."""
    k = round(alpha * 16)
    if not 0 <= k <= 16 or abs(alpha * 16 - k) > 1e-12:
        raise ValueError(
            "temperature_mix: alpha must lie on the 1/16 grid in [0, 1] "
            f"(k/16 — sqrt-composable, engine-exact; see source_mixture_weights "
            f"for why raw pow is refused), got {alpha}"
        )
    return k


def _sqrt_pow(x: Column, k16: int) -> Column:
    """``x^(k16/16)`` for x > 0 as a product of k-fold IEEE sqrts:
    x^(k/16) = Π over set bits b_i of (sqrt∘…∘sqrt)(x), i applications
    for bit value 1/2^i — every factor correctly rounded, the product
    order fixed, so the result is bit-identical across engines."""
    if k16 == 16:
        return x
    out: Optional[Column] = None
    r = x
    for i in range(1, 5):  # r = x^(1/2^i)
        r = F.sqrt(r)
        if (k16 >> (4 - i)) & 1:
            out = r if out is None else out * r
    return out if out is not None else F.lit(1.0)


def sqrt_pow_sql(expr: str, k16: int) -> str:
    """DuckDB twin of :func:`_sqrt_pow` — identical factor and product
    order."""
    if k16 == 16:
        return expr
    parts = []
    for i in range(1, 5):
        if (k16 >> (4 - i)) & 1:
            parts.append("sqrt(" * i + expr + ")" * i)
    return " * ".join(parts) if parts else "1.0"


def temperature_mix_plan(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.3125,
    target_frac: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-smoothed sampling plan: per-group keep-rates that
    reshape the corpus mixture toward ``q_g ∝ p_g^alpha`` (Conneau et
    al. 2020, XLM-R §3.1; Xue et al. 2021, mT5 §3.2 — the standard
    low-resource-language upsampling every multilingual pretraining
    run applies before drawing batches).

    With per-group counts ``n_g`` (``N = Σ n_g``) and a total budget of
    ``target_frac·N`` documents, the smoothed mixture weight is
    ``q_g = n_g^α / Σ n^α`` and the per-group keep-rate
    ``r_g = min(1, target_frac·N·q_g / n_g)`` — α→1 preserves the
    natural mixture, α→0 flattens it toward uniform.  ``α`` must lie
    on the 1/16 dyadic grid (default 5/16 ≈ the papers' 0.3): the
    power is then a fixed composition of IEEE-correctly-rounded sqrts
    instead of the engine-divergent libm ``pow`` (the
    :func:`source_mixture_weights` determinism rule).  ``n_g^α`` is
    quantized to the 1e-6 grid BEFORE the cross-group normalization
    sum so ``Σ n^α`` is an exact BIGINT (addition-order independent —
    a raw double sum would depend on which engine adds the groups in
    which order), and the final rate lands on the SAMPLE_BUCKETS grid,
    so the downstream hash gate is cross-engine exact.

    Returns one row per non-NULL group: (group, n_docs, rate_q,
    alpha_k16, target_frac_q) with ``rate_q`` in micro-units
    ([0, 1e6]).  The trailing two columns STAMP the parameters the plan
    was computed under (α in sixteenths, target_frac in micro-units) so
    :func:`temperature_mix` can reject a plan that disagrees with the
    caller's request instead of silently sampling under stale
    parameters — the :func:`_check_winnow_params` artifact discipline.

    Scale shape: ONE groups-sized count aggregate (map-combined
    partials — the corpus never shuffles); the normalization window
    runs on the groups frame (≤ thousands of rows, plan-gate-safe
    because the aggregate precedes it)."""
    k16 = _alpha_sixteenths(alpha)
    if not 0.0 < target_frac <= 1.0:
        raise ValueError(
            f"temperature_mix: target_frac must be in (0, 1], got {target_frac}"
        )
    groups = (
        df.where(F.col(id_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # overflow: pa_q ≤ 1e6·n_g^α ≤ 1e6·n_g and Σ pa_q ≤ 1e6·N — a 9.2e18
    # BIGINT holds Σ pa_q for any corpus under 9.2e12 docs (100 TB of
    # 10 KB docs is 1e10), so the exact integer normalization sum is safe.
    pa_q = F.floor(
        _sqrt_pow(F.col("n_docs").cast("double"), k16) * SAMPLE_BUCKETS
        + F.lit(0.5)
    ).cast("bigint")
    w = Window.partitionBy()
    planned = (
        groups.withColumn("__pa_q", pa_q)
        .withColumn("__sa", F.sum("__pa_q").over(w))
        .withColumn("__n", F.sum("n_docs").over(w))
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(target_frac)
        * F.col("__n").cast("double")
        * F.col("__pa_q").cast("double")
        / F.col("__sa").cast("double")
        / F.col("n_docs").cast("double"),
    )
    out = planned.select(
        group_col,
        "n_docs",
        F.floor(rate * SAMPLE_BUCKETS + F.lit(0.5)).cast("bigint").alias("rate_q"),
        F.lit(k16).cast("bigint").alias("alpha_k16"),
        F.lit(int(math.floor(target_frac * SAMPLE_BUCKETS + 0.5)))
        .cast("bigint")
        .alias("target_frac_q"),
    )
    # single-stamp by construction (both stamps are literals) — no
    # validation job needed when this exact frame is sampled from
    _TRUSTED_MIX_PLANS.add(out)
    return out


#: Plans known to carry exactly ONE (alpha_k16, target_frac_q) stamp
#: pair: frames built by :func:`temperature_mix_plan` in this process
#: (stamps are literals) plus frames that already passed the one-time
#: mixed-stamp check below.  Identity-keyed and weakly held, so a
#: UNION of two plans — a new DataFrame object — is never trusted by
#: accident and gets validated on first use.
_TRUSTED_MIX_PLANS: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def trust_mix_plan(plan: DataFrame) -> DataFrame:
    """Mark a DERIVED mix plan (e.g. a ``localCheckpoint`` of a
    just-built :func:`temperature_mix_plan` frame — a new DataFrame
    object, so the automatic by-construction trust doesn't carry over)
    as single-stamp, skipping :func:`temperature_mix`'s one-time
    mixed-stamp validation job.  Deliberately explicit and greppable:
    the caller asserts provenance; plans read back from storage or
    assembled by union should NOT be passed here — for those the
    one-time check is the point.  Returns ``plan`` for chaining."""
    _TRUSTED_MIX_PLANS.add(plan)
    return plan


def _check_mix_plan_params(
    plan: DataFrame,
    alpha: Optional[float] = None,
    target_frac: Optional[float] = None,
) -> None:
    """Loud mismatch between a precomputed sampling plan and the
    caller's request.  Two tiers, so the invariant "mixed stamps are
    always rejected" holds without a per-call driver job:

    - No explicit parameters (``None``/``None`` — the trust-the-plan
      calling convention): plans in :data:`_TRUSTED_MIX_PLANS` (built
      in-process, or already validated once) skip entirely; any OTHER
      stamped plan — e.g. one accidentally unioned from two parameter
      sets, exactly the case the caller cannot notice — pays ONE
      plan-tiny ``distinct().collect()``, and on passing is added to
      the trusted set so repeat calls (the streaming gate's) are free.
    - Explicit ``alpha``/``target_frac``: always validated against the
      stamps — a stale plan must not silently produce a sample
      inconsistent with the request.

    Plans from before the stamps were recorded (no such columns) are
    accepted as-is.  The distinct read, when it runs, is plan-tiny
    (one row per parameter pair)."""
    if alpha is None and target_frac is None and plan in _TRUSTED_MIX_PLANS:
        return
    if not {"alpha_k16", "target_frac_q"} <= set(plan.columns):
        return
    built = sorted(
        (r["alpha_k16"], r["target_frac_q"])
        for r in plan.select("alpha_k16", "target_frac_q").distinct().collect()
    )
    if not built:
        return
    if len(built) > 1:
        raise ValueError(
            f"temperature_mix: plan holds MIXED parameter stamps "
            f"(alpha_k16, target_frac_q) ∈ {built} — refuse to sample under "
            "an inconsistent plan; rebuild it with one parameter set"
        )
    if alpha is None and target_frac is None:
        # single stamp verified — repeat calls with this object skip
        _TRUSTED_MIX_PLANS.add(plan)
        return
    got_k16, got_tfq = built[0]
    if alpha is not None and _alpha_sixteenths(alpha) != got_k16:
        raise ValueError(
            f"temperature_mix: plan was computed with alpha_k16={got_k16} but "
            f"the call requested alpha={alpha} "
            f"(k16={_alpha_sixteenths(alpha)}) — the sample would not match "
            "the requested mixture; pass matching alpha or recompute the plan"
        )
    if target_frac is not None:
        want_tfq = int(math.floor(target_frac * SAMPLE_BUCKETS + 0.5))
        if want_tfq != got_tfq:
            raise ValueError(
                f"temperature_mix: plan was computed with "
                f"target_frac_q={got_tfq} but the call requested "
                f"target_frac={target_frac} (q={want_tfq}) — the sample would "
                "not match the requested budget; pass matching target_frac "
                "or recompute the plan"
            )


def temperature_mix(
    df: DataFrame,
    group_col: str = "lang",
    alpha: Optional[float] = None,
    target_frac: Optional[float] = None,
    id_col: str = "doc_id",
    seed: int = 0,
    plan: Optional[DataFrame] = None,
) -> DataFrame:
    """Draw the temperature-smoothed sample: compute the
    :func:`temperature_mix_plan` rates, broadcast them back onto the
    corpus, and keep rows through the deterministic hash gate
    (``_bucket(id) < rate_q`` — the same subset-monotone, engine-exact
    gate every sampler in this module uses).  Rows with a NULL group
    or NULL id are dropped (no rate is defined for them).

    Pass a precomputed ``plan`` (the :func:`temperature_mix_plan`
    frame, or one read back from storage) to skip the counting pass —
    a caller that also REPORTS the plan would otherwise aggregate the
    corpus twice.  A passed plan's parameter stamps (``alpha_k16`` /
    ``target_frac_q``, written by :func:`temperature_mix_plan`) are
    validated against any EXPLICITLY passed ``alpha``/``target_frac``
    and a mismatch raises — a stale plan must not silently produce a
    sample inconsistent with the requested mixture.  Omitting both
    (``None``) treats the plan as the artifact of record (the
    streaming-gate calling convention) — but a stamped plan of unknown
    provenance still pays ONE plan-tiny mixed-stamp check the first
    time it is sampled from (an accidentally-unioned two-parameter
    plan is rejected, never silently under-sampled); in-process plans
    and :func:`trust_mix_plan`-asserted derivatives skip even that.
    With no plan, omitted parameters fall back to α=5/16,
    target_frac=0.5.

    Scale shape: the plan is groups-sized and broadcast; the corpus
    pass is a per-row hash + filter — zero corpus shuffle, runs inside
    the scan stage."""
    if plan is None:
        plan = temperature_mix_plan(
            df,
            group_col=group_col,
            alpha=0.3125 if alpha is None else alpha,
            target_frac=0.5 if target_frac is None else target_frac,
            id_col=id_col,
        )
    else:
        _check_mix_plan_params(plan, alpha, target_frac)
    from pyspark.sql.functions import broadcast

    return (
        df.where(F.col(id_col).isNotNull())
        .join(broadcast(plan.select(group_col, "rate_q")), group_col)
        .where(_bucket(F.col(id_col), seed) < F.col("rate_q"))
        .drop("rate_q")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: (tag, regex) applied in order; regex syntax restricted to the
#: Java-regex ∩ RE2 common subset so Spark and DuckDB agree exactly.
DEFAULT_PII_PATTERNS: Sequence[tuple[str, str]] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("SSN", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("PHONE", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"),
    ("IP", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
)


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    patterns: Optional[Sequence[tuple[str, str]]] = None,
    out_col: str = "redacted",
    count_hits: bool = True,
) -> DataFrame:
    """Replace PII spans with ``<TAG>`` placeholders; optionally add a
    ``hits_<tag>`` count per pattern.

    Semantics are **order-dependent**: each pattern counts and redacts
    the text as already redacted by the patterns before it, so a span
    consumed by an earlier pattern is invisible to later ones (e.g.
    with the defaults, the IP-shaped local part of ``10.0.0.1@x.com``
    is swallowed by EMAIL and never counted as an IP).  Order
    ``patterns`` most-specific-first.

    Chained ``regexp_replace`` — per-row, codegen'd, shuffle-free."""
    pats = list(patterns if patterns is not None else DEFAULT_PII_PATTERNS)
    out = df
    col: Column = F.col(text_col)
    for tag, pat in pats:
        if count_hits:
            out = out.withColumn(f"hits_{tag.lower()}", F.regexp_count(col, F.lit(pat)))
        col = F.regexp_replace(col, pat, f"<{tag}>")
    return out.withColumn(out_col, col)


# ---------------------------------------------------------------------------
# vocabulary statistics
# ---------------------------------------------------------------------------

def vocab_top_tokens(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Top-``k`` most frequent tokens per group (vocabulary building /
    corpus-mix QA).  Deterministic: ties broken by token ascending.

    explode → groupBy(group, token) → per-group row_number window.
    The explode fans out before the aggregate, partial counts combine
    map-side, and the window partitions by group — no global sort."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "token", "cnt", "rank")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contamination_ngrams(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-corpus-doc overlap with a benchmark's word ``n``-gram set —
    the standard eval-decontamination check (count of distinct corpus
    n-grams that also appear anywhere in the benchmark).

    Returns (id, total_ngrams, contaminated, contamination_ratio).

    Scale shape: the benchmark gram set is hashed, deduped, and
    **broadcast** (eval suites are ~MBs against a ~100 TB corpus), so
    the corpus side is scan → explode → broadcast-hash semi-probe →
    partial agg; the corpus never shuffles its text."""
    grams = F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
    bench_grams = (
        benchmark.select(F.explode(grams).alias("g"))
        .select(h64(F.col("g")).alias("gh"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(id_col, h64(F.col("g")).alias("gh"))
    flagged = corpus_grams.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "gh", "left"
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("contaminated"),
    )
    return agg.select(
        id_col,
        "total_ngrams",
        "contaminated",
        (F.col("contaminated").cast("double") / F.col("total_ngrams").cast("double")).alias(
            "contamination_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# duplicate clustering (connected components)
# ---------------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
    escalate_after: int = 6,
) -> DataFrame:
    """Group near-dup *pairs* into clusters: connected components by
    iterative min-label propagation, labels = min reachable node id.
    Returns (doc_id, cluster_id), one row per node seen in ``pairs``.

    Pair emitters (minhash/simhash/embedding LSH) yield edges, but
    dedup policy wants *components* — "keep one doc per cluster" —
    which pairwise output can't express when dups chain (a~b, b~c).

    The pair-producing DAG (often a full LSH pipeline) is materialized
    ONCE via ``localCheckpoint`` before the loop — iterations must not
    re-run candidate generation.  Per iteration after that: one join +
    one partial-agg shuffle on the node id, with ``localCheckpoint`` on
    the labels so plan depth stays O(1) instead of O(iterations).
    Convergence detected via sum(xxhash64(label)) equality between
    rounds — one scalar agg per round, no old-vs-new join, and
    **type-agnostic** (string doc ids sum to NULL under a plain
    ``sum(label)``, which would mask the fixpoint forever); decimal
    accumulator so the 64-bit hash sum cannot overflow.  Rounds needed = cluster diameter; near-dup
    clusters are shallow (docs chain through shared near-copies), so
    this converges in a handful of rounds at any corpus size.

    **Adversarially long chains escalate automatically**: after
    ``escalate_after`` rounds without fixpoint (near-dup ladders,
    boilerplate that pairs only adjacently), the graph is *contracted*
    by the current labels — each original edge (u, v) becomes
    (label(u), label(v)), self-loops dropped — and the remaining
    components are resolved with the O(log²·n)
    :func:`dup_clusters_star` alternation on that (much smaller)
    quotient graph, then composed back onto the per-node labels.  The
    contraction is exact: a label class is connected through its label
    node, so quotient components are in bijection with original
    components and the quotient minimum IS the component minimum.
    This makes the default entry point safe at unknown topology while
    keeping the cheap per-round shape (one join + one partial-agg
    shuffle) for the shallow clusters real corpora produce.  Pass
    ``escalate_after=None`` to disable; exhausting ``max_iter``
    without escalation emits a ``RuntimeWarning`` — the returned
    labels would under-merge."""
    import warnings

    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    # the edge frame stays a LAZY checkpoint: the initial-labels
    # materialization right below runs through it and caches its blocks
    edges = checkpoint(e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    # the emptiness probe rides the initial labels' materializing pass
    labels, (n_nodes,) = observed_checkpoint(
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label")),
        F.count(F.lit(1)).alias("n"),
    )
    out_cols = [F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")]
    if not n_nodes:
        return labels.select(*out_cols)
    prev_sum = None
    converged = False
    rounds = 0
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nl"))
        )
        # the convergence hash-sum rides the round's materializing pass
        labels, (cur_sum,) = observed_checkpoint(
            labels.join(neigh_min, labels["node"] == neigh_min["u"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                    "label"
                ),
            ),
            F.sum(F.xxhash64("label").cast("decimal(38,0)")).alias("s"),
        )
        rounds += 1
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
        if escalate_after is not None and rounds >= escalate_after:
            break
    if not converged and escalate_after is not None and rounds >= escalate_after:
        # Quotient the graph by the k-hop labels and finish with the
        # round-bounded star alternation.  Labels already merged to a
        # single supernode produce no quotient edge and keep their
        # label through the coalesce.
        lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
        lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
        quotient = (
            edges.join(lu, "u")
            .join(lv, "v")
            .where(F.col("lu") != F.col("lv"))
            .select("lu", "lv")
            .distinct()
        )
        roots = dup_clusters_star(quotient, a_col="lu", b_col="lv").select(
            F.col("doc_id").alias("label"), F.col("cluster_id").alias("root")
        )
        return (
            labels.join(roots, "label", "left")
            .select(
                F.col("node").alias("doc_id"),
                F.coalesce(F.col("root"), F.col("label")).alias("cluster_id"),
            )
        )
    if not converged:
        warnings.warn(
            f"dup_clusters: no fixpoint after max_iter={max_iter} rounds; "
            "components wider than that diameter are under-merged — raise "
            "max_iter (or switch to dup_clusters_star for long chains)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(*out_cols)


def dup_clusters_star(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by **large-star/small-star alternation**
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the adversarial-chain-safe twin of :func:`dup_clusters`.  Same
    contract: (doc_id, cluster_id), cluster_id = min node id of the
    component, one row per node seen in ``pairs``.

    Min-label propagation needs O(diameter) rounds — a 100k-node chain
    (pathological boilerplate that pairs only adjacently) would need
    100k joins.  Star alternation contracts components in O(log²·n)
    rounds regardless of shape:

    * **large-star** (per node u): link every *strictly larger*
      neighbor to m = min(Γ(u) ∪ {u}) — hangs heavy subtrees directly
      under local minima while provably never disconnecting anything.
    * **small-star** (per node u, edges oriented large→small): link
      all smaller neighbors and u itself to m — flattens the remaining
      short chains into stars.

    At fixpoint every component is a star centered at its minimum;
    the edge list IS the label map.  Per round: two grouped mins + two
    equi-joins, all shuffling (node, 8-byte neighbor) rows, map-side
    combinable; ``localCheckpoint`` per round keeps plan depth O(1).
    Convergence = hash-sum equality of the canonical edge set (one
    scalar agg, type-agnostic — same scheme as :func:`dup_clusters`).
    """
    # the emptiness probe rides the edge frame's materializing pass
    e, (n_edges,) = observed_checkpoint(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    out_cols = [F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")]
    if not n_edges:
        return e.select(*out_cols)

    prev_sum = None
    converged = False
    for _ in range(max_iter):
        # --- large-star: symmetric neighborhoods ---
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_lg = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        e_lg = (
            sym.join(m_lg, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: edges oriented large -> small ---
        oriented = e_lg.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m_sm = oriented.groupBy("u").agg(F.min("v").alias("m"))
        # the convergence hash-sum rides the round's materializing pass
        e, (cur_sum,) = observed_checkpoint(
            oriented.join(m_sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_sm.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct(),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        )
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        import warnings

        warnings.warn(
            f"dup_clusters_star: no fixpoint after max_iter={max_iter} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # Fixpoint edges are stars (node -> center); centers label themselves.
    # The min-aggregate (instead of a plain distinct) guarantees ONE row
    # per node even when max_iter exhausts mid-contraction — there the
    # edge set is not yet a star and a node may still carry several
    # tentative labels; collapsing to the minimum keeps the output a
    # well-formed (possibly under-merged) label map instead of a fan-out
    # hazard for downstream joins on doc_id.  At fixpoint the aggregate
    # degenerates to the distinct union (u and v sets are disjoint).
    centers = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (
        e.union(centers)
        .groupBy("u")
        .agg(F.min("v").alias("v"))
        .select(*out_cols)
    )


# ---------------------------------------------------------------------------
# training-data serving: deterministic shuffle + sequence packing
# ---------------------------------------------------------------------------

def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Deterministic global shuffle for training-data serving: adds
    ``sort_key`` (seeded portable hash of the id) and ``shard``
    (``sort_key % n_shards``).

    A training run needs the corpus in a reproducible pseudorandom
    order, split into shards a loader fleet can claim.  Hash-derived
    keys make that a **pure projection** — no Spark shuffle happens
    here; only the final materialization repartitions, once, by
    ``shard`` (``df.repartition(n_shards, "shard")
    .sortWithinPartitions("shard", "sort_key", id_col)``).  Same
    epoch-reshuffle trick as sampling (`hash_sample`): bump ``seed``
    for a new order; every engine and retry produces the identical
    permutation (the hash has an exact DuckDB twin — h64_sql)."""
    key = h64(F.col(id_col).cast("string"), seed=seed)
    return df.withColumn("sort_key", key).withColumn(
        "shard", (F.col("sort_key") % F.lit(n_shards)).cast("int")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    shard_col: str = "shard",
    order_col: str = "sort_key",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy streaming-fill sequence packing: within each shard, walk
    documents in the deterministic shuffle order, accumulate token
    counts, and start a new ``bin_id`` whenever the running total
    crosses a multiple of ``budget`` — a document is assigned to the
    bin its *first* token lands in.

    This is the packing distributed pretraining pipelines actually run
    (one window pass per shard; a bin may overflow by at most one
    document, which the trainer truncates/wraps) — NOT optimal
    bin-packing, which is inherently sequential.  The window partitions
    by ``shard``, so state per task is one running sum — scale-safe at
    any corpus size; there is no global (unpartitioned) window."""
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    return df.withColumn(
        "bin_id",
        F.floor((cum - F.col(token_col)) / F.lit(budget)).cast("bigint"),
    )


def source_mixture_weights(
    df: DataFrame,
    source_col: str = "source",
    token_col: str = "n_tokens",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled data-mixture weights per corpus source:
    ``p(source) ∝ share(source)^alpha`` — the alpha-sampling rule
    multilingual/multi-corpus pretraining uses to up-weight small
    sources (Lample & Conneau 2019 §3.1; the Pile's per-set epochs).

    Returns one row per source: ``n_docs``, ``n_tokens``, ``share``
    (token fraction), and the normalized ``mix_weight``.  The heavy
    pass is a single map-side-combined groupBy on ``source``; the
    totals joined back are 1-row / sources-sized broadcasts, so the
    operator costs one scan + one tiny exchange at any corpus size.

    Only ``alpha = 0.5`` (sqrt) and ``alpha = 1.0`` (proportional) are
    accepted: general ``pow(x, a)`` is not bit-identical across
    engines (Java vs C libm), which would break the oracle gate —
    ``sqrt`` is IEEE-754 correctly rounded everywhere.
    """
    if alpha not in (0.5, 1.0):
        raise ValueError(f"source_mixture_weights: alpha must be 0.5 or 1.0, got {alpha}")
    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col)).cast("bigint").alias("n_tokens"),
    )
    # The totals are unpartitioned-window sums over the ALREADY-AGGREGATED
    # frame (one row per source) — histogram-sized, not data-sized, like
    # the grid-quantile cumulative pass.  An agg + crossJoin(broadcast)
    # formulation re-evaluates the groupBy subtree per consumer and
    # plans three corpus scans; the window keeps it to exactly one.
    # Both window sums are over BIGINTs (token totals, pico-quantized
    # weights) — integer sums are exact in any addition order, so the
    # result is engine/partitioning-independent (same determinism trick
    # as the TPC-H cents() helper).
    w_all = Window.partitionBy()
    out = per.withColumn("__tot", F.sum("n_tokens").over(w_all)).withColumn(
        "share", F.col("n_tokens").cast("double") / F.col("__tot").cast("double")
    )
    wt = F.sqrt(F.col("share")) if alpha == 0.5 else F.col("share")
    out = out.withColumn("__wt", F.round(wt * F.lit(1e12)).cast("bigint"))
    out = out.withColumn("__wsum", F.sum("__wt").over(w_all))
    return out.select(
        source_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("share"), 6).alias("share"),
        F.round(F.col("__wt").cast("double") / F.col("__wsum").cast("double"), 6).alias(
            "mix_weight"
        ),
    )


def _funnel_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang: str,
    min_quality: float,
    max_dup_token_frac: float,
) -> DataFrame:
    """Shared gate core of the filter funnel: the input frame plus the
    cumulative pass flags ``__p1``..``__p4`` (lang → quality →
    repetition → first-per-fingerprint exact dedup) and the content
    fingerprint ``__fp``.  :func:`filter_funnel` aggregates these into
    stage counts; :func:`funnel_survivors` filters on the final gate —
    one definition, so the counts and the survivor set can never
    disagree."""
    from rheoceros_spark.operators.text_analysis import (
        lang_id,
        quality_score,
        repetition_metrics,
    )

    d = repetition_metrics(
        quality_score(lang_id(df, text_col), text_col), text_col
    )
    d = d.withColumn("__fp", F.md5(normalize_text(F.col(text_col))))
    p1 = F.col("lang_pred") == lang
    p2 = p1 & (F.col("quality") >= min_quality)
    p3 = p2 & (F.col("dup_token_frac") <= max_dup_token_frac)
    d = (
        d.withColumn("__p1", p1.cast("int"))
        .withColumn("__p2", p2.cast("int"))
        .withColumn("__p3", p3.cast("int"))
    )
    first_pass_id = F.min(F.when(F.col("__p3") == 1, F.col(id_col))).over(
        Window.partitionBy("__fp")
    )
    return d.withColumn(
        "__p4",
        ((F.col("__p3") == 1) & (F.col(id_col) == first_pass_id)).cast("int"),
    )


def funnel_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.55,
    max_dup_token_frac: float = 0.5,
) -> DataFrame:
    """The documents that make it through every :func:`filter_funnel`
    stage — the survivor FRAME the downstream pipeline (near-dup purge,
    decontamination, mixing) consumes, where ``filter_funnel`` reports
    only the per-stage counts.  Same gates, same single-scan +
    one-fingerprint-shuffle cost; returns the input's own columns."""
    flagged = _funnel_flags(
        df, text_col, id_col, lang, min_quality, max_dup_token_frac
    )
    return flagged.where(F.col("__p4") == 1).select(*df.columns)


def filter_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.55,
    max_dup_token_frac: float = 0.5,
) -> DataFrame:
    """End-to-end pretraining filter funnel — the stage pipeline a real
    corpus-curation job runs, with per-stage survivor counts:

    0. ``ingest``      — all documents
    1. ``lang``        — language-ID keeps ``lang`` documents
    2. ``quality``     — heuristic quality score ≥ ``min_quality``
    3. ``repetition``  — Gopher dup-token fraction ≤ ``max_dup_token_frac``
    4. ``dedup``       — first surviving document per exact content
       fingerprint (md5 of normalized text)

    Returns 5 rows: ``(stage, stage_name, n_docs)``.  Stages 1-3 are
    row-local flag columns over one scan; stage 4 is one window over the
    content fingerprint (the same hash-partition shuffle exact dedup
    costs); the count rollup is a single-row aggregate — so the whole
    funnel is one scan + one shuffle at any corpus size.  Each gate is
    cumulative (a stage only sees prior survivors), matching how the
    stages compose in production.
    """
    d = _funnel_flags(df, text_col, id_col, lang, min_quality, max_dup_token_frac)
    agg = d.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("__p1").alias("n1"),
        F.sum("__p2").alias("n2"),
        F.sum("__p3").alias("n3"),
        F.sum("__p4").alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 0, 'ingest', n0, 1, 'lang', n1, 2, 'quality', n2, "
            "3, 'repetition', n3, 4, 'dedup', n4) AS (stage, stage_name, n_docs)"
        )
    ).select(
        F.col("stage").cast("bigint").alias("stage"),
        "stage_name",
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.1,
    nbits: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-level benchmark decontamination: corpus vectors whose
    cosine to ANY benchmark vector reaches ``threshold`` — the semantic
    counterpart of :func:`contamination_ngrams` (n-gram overlap misses
    paraphrases; eval-similar documents are what actually leak).

    Returns matched ``(id, bench_id, cos_r)`` pairs.  Scale shape is
    bipartite LSH blocking: both sides get the deterministic
    hyperplane signature, the benchmark side (eval suites are MBs
    against a 100 TB corpus) is **broadcast**, candidates share a
    bucket, and the exact cosine runs only inside buckets — the corpus
    is one scan with no shuffle.  Same planes as ``ann_lsh_topk``, so
    the construction stays oracle-checkable."""
    from rheoceros_spark.operators.similarity import plane_matrix, signature_col

    from rheoceros_spark.operators.similarity import _check_vec_dim

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"semantic_contamination: threshold must be in [0, 1], got {threshold}")
    # a dim mismatch silently NULLs every plane dot -> one shared bucket
    # -> the O(n*m) cross product the blocking exists to prevent
    _check_vec_dim(corpus, vec_col, dim, "semantic_contamination(corpus)")
    _check_vec_dim(benchmark, vec_col, dim, "semantic_contamination(benchmark)")
    planes = plane_matrix(nbits, dim)
    # r14 norm hoist (guide §1.2, the cosine_topk_multi shape): both
    # norms are loop-invariant across bucket-matched pairs — corpus
    # norm projected once per row below the join, benchmark norm once
    # inside the broadcast build.  try_divide(dot(c, b), nc·nb) keeps
    # the same IEEE operand order cosine() used, so cos_r is
    # bit-identical.
    from rheoceros_spark.functions.portable import dot

    v = F.col(vec_col)
    c = corpus.select(
        F.col(id_col),
        v,
        signature_col(vec_col, planes).alias("__bkt"),
        F.sqrt(dot(v, v)).alias("__nc"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        v.alias("__bv"),
        signature_col(vec_col, planes).alias("__bkt"),
        F.sqrt(dot(v, v)).alias("__nb"),
    )
    return (
        c.join(F.broadcast(b), "__bkt")
        .select(
            F.col(id_col),
            F.col("bench_id"),
            F.round(
                F.try_divide(
                    dot(v, F.col("__bv")), F.col("__nc") * F.col("__nb")
                ),
                6,
            ).alias("cos_r"),
        )
        .where(F.col("cos_r") >= threshold)
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    ngram: int = 2,
) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): per raw document, the hashed-n-gram log importance
    ratio ``log p_target(doc) − log p_raw(doc)`` under bag-of-buckets
    unigram models over ``n_buckets`` hashed word-``ngram`` features,
    each model Laplace-smoothed (+1 per bucket).  High weight = the
    document looks like the target distribution; feed the weights to
    ``hash_sample``-style top-k or Gumbel resampling to select a
    target-like pretraining subset from a raw crawl.

    Scale shape: both corpora explode to hashed bucket ids (the feature
    space is *fixed-width* by construction — that is DSIR's trick) —
    the target model and raw model are each ONE map-side-combinable
    aggregate of ≤ ``n_buckets`` rows; their joined log-ratio table is
    KBs and **broadcasts** into the per-document scoring join, so the
    raw corpus is never reshuffled: explode → per-(doc, bucket) local
    count → broadcast-join → per-doc sum.

    Determinism: per-bucket log-ratios are quantized to 1e-7 before the
    per-doc sum (integer addition commutes; the unigram_nll pattern),
    so results are bit-identical across engines and run orders.

    Returns one row per raw doc: (id, n_feats, dsir_logw); documents
    with no features (shorter than ``ngram`` tokens after
    normalization… they still emit one partial gram, matching
    ``word_ngrams`` semantics) always score.
    """
    if n_buckets < 2:
        raise ValueError(f"dsir_weights: n_buckets must be >= 2, got {n_buckets}")

    from rheoceros_spark.operators.scale import ensure_parallelism

    def feats(df: DataFrame) -> DataFrame:
        # fan out before the n-gram/hash explode: a single-file corpus
        # otherwise runs the whole feature pipeline on one core
        return ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col),
            F.explode(
                F.transform(
                    word_ngrams(tokens(F.col(text_col)), ngram),
                    lambda g: h64(g) % F.lit(n_buckets),
                )
            ).alias("bkt"),
        )

    t_counts = feats(target).groupBy("bkt").agg(F.count(F.lit(1)).alias("__tc"))
    raw_feats = feats(raw)
    # two consumers (the bucket totals and the per-doc scoring join)
    # branch from the narrow (id, bkt, n) per-doc aggregate
    per_doc = checkpoint(
        raw_feats.groupBy(id_col, "bkt").agg(F.count(F.lit(1)).alias("__n"))
    )
    r_counts = per_doc.groupBy("bkt").agg(F.sum("__n").alias("__rc"))
    t_total = t_counts.agg(F.sum("__tc").alias("__T"))
    r_total = r_counts.agg(F.sum("__rc").alias("__R"))
    # bucket model: full outer join of the two ≤ n_buckets-row count
    # tables (a bucket seen only in one corpus still needs its smoothed
    # ratio); totals cross-joined in — everything here is KB-sized.
    # an empty target (or raw) corpus would make its total NULL and every
    # log-ratio NULL — importance resampling would then silently select
    # on an all-NULL weight column; fail loudly at run time instead
    # (raise_error keeps the plan lazy — no construction-time job)
    lr = (
        F.log(
            (F.coalesce(F.col("__tc"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("__T") + F.lit(n_buckets)).cast("double")
        )
        - F.log(
            (F.coalesce(F.col("__rc"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("__R") + F.lit(n_buckets)).cast("double")
        )
    ) * F.lit(1e7)
    model = (
        t_counts.join(r_counts, "bkt", "full")
        .crossJoin(t_total)
        .crossJoin(r_total)
        .select(
            "bkt",
            F.when(
                F.col("__T").isNull() | F.col("__R").isNull(),
                F.raise_error(
                    F.lit(
                        "dsir_weights: target or raw corpus produced no "
                        "features — cannot fit the bucket models"
                    )
                ).cast("double"),
            )
            .otherwise(F.round(lr))
            .cast("bigint")
            .alias("__lr"),
        )
    )
    scored = per_doc.join(F.broadcast(model), "bkt").groupBy(id_col).agg(
        F.sum("__n").cast("bigint").alias("n_feats"),
        # NOT re-rounded to 6dp: the integer sum / 1e7 is the same IEEE
        # division on every engine (identical bits), while a round() at
        # a decimal half-way point splits between Java's BigDecimal
        # HALF_UP and DuckDB's double rounding — one sf1 row (quantized
        # sum ...2599255) landed exactly on that boundary
        (F.sum(F.col("__n") * F.col("__lr")).cast("double") / F.lit(1e7)).alias(
            "dsir_logw"
        ),
    )
    return (
        raw.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias("n_feats"),
            "dsir_logw",
        )
    )


def gumbel_topk_resample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Importance resampling: draw ``k`` documents WITHOUT replacement
    with probability ∝ exp(weight) via the Gumbel-top-k trick (Vieira
    2014; the selection step of DSIR — Xie et al. 2023 sample by
    importance weight exactly this way).  Adding independent Gumbel
    noise to each log-weight and taking the top-k is distributionally
    identical to sequential weighted sampling without replacement.

    Deterministic at any parallelism: the "noise" is a seeded portable
    hash of the id mapped to (0,1) — ``u = (h64(seed:id) + 0.5)/2^60``
    — so every engine, retry, and partitioning draws the same sample
    (the ``hash_sample`` philosophy applied to weighted sampling), and
    a bumped ``seed`` is a fresh epoch.  The perturbed key is quantized
    to a 1e-7 integer grid before ranking so cross-engine float
    last-ulp drift cannot flip an ordering; ties break on ascending id.

    Scale shape: one projection + one global top-k — Spark plans
    ``orderBy(...).limit(k)`` as per-partition TakeOrdered partials and
    a k-row driver merge, so nothing corpus-sized ever sorts globally
    or collects.

    Returns the sampled rows: (id, weight, gumbel_key) — join back to
    the corpus on the id to carry full rows.
    """
    if k < 1:
        raise ValueError(f"gumbel_topk_resample: k must be >= 1, got {k}")
    two60 = float(1 << 60)
    u = (h64(F.col(id_col).cast("string"), seed=seed).cast("double") + F.lit(0.5)) / F.lit(two60)
    gumbel = -F.log(-F.log(u))
    key_q = (
        F.round(F.col(weight_col) * F.lit(1e7)).cast("bigint")
        + F.round(gumbel * F.lit(1e7)).cast("bigint")
    )
    return (
        df.where(F.col(weight_col).isNotNull() & F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(weight_col),
            key_q.alias("__key_q"),
        )
        .orderBy(F.col("__key_q").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            weight_col,
            # NOT re-rounded: key_q/1e7 is the same IEEE division on
            # both engines (identical bits), while a round() at a
            # decimal tie splits between HALF_UP (Java) and half-even
            (F.col("__key_q").cast("double") / F.lit(1e7)).alias("gumbel_key"),
        )
    )


# ---------------------------------------------------------------------------
# corpus shaping: per-domain caps, leakage-safe splits, negative mining,
# per-source boilerplate
# ---------------------------------------------------------------------------

def domain_cap(
    df: DataFrame,
    source_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` documents per
    ``source_col``, chosen by seeded-hash order — the RefinedWeb /
    CCNet defense against a single domain (spam farms, auto-generated
    mirrors) dominating the training mix.

    The kept subset is deterministic and epoch-independent: rank within
    each source by the portable hash of the id (``seed`` reshuffles),
    so re-runs, retries, and incremental rebuilds all keep the same
    documents.  Returns the surviving rows plus their ``src_rank``.

    Scale shape: the ``row_number() <= cap`` filter sits directly above
    its window, which Spark rewrites into ``WindowGroupLimit`` — each
    map task keeps a per-source top-``cap`` heap BEFORE the exchange,
    so the shuffle carries O(sources × cap × tasks) rows instead of the
    corpus, and the reduce side never full-sorts a mega-domain
    (plan-gated by tests/test_plan_quality.py).
    """
    if cap < 1:
        raise ValueError(f"domain_cap: cap must be >= 1, got {cap}")
    w = Window.partitionBy(source_col).orderBy(
        h64(F.col(id_col).cast("string"), seed=seed), F.col(id_col)
    )
    return (
        df.withColumn("src_rank", F.row_number().over(w))
        .where(F.col("src_rank") <= cap)
    )


def group_split(
    df: DataFrame,
    group_col: str = "source",
    splits: Sequence[tuple] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    seed: int = 0,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every row of a group
    (domain, author, near-dup cluster id, …) lands in the SAME split,
    so templated or near-duplicate documents cannot straddle the
    train/eval boundary — the standard guard against split
    contamination when row-level random splits leak via duplicates.

    The group's hash bucket (portable ``h64 % 1e6``) is compared
    against cumulative fraction thresholds; assignment is a pure
    projection — zero shuffle, reproducible across engines and runs,
    and adding rows to a group never moves the group (stable under
    incremental ingest).  Fractions must sum to 1.

    Rows with a NULL group value land — explicitly, not by CASE
    fall-through — in the LAST split: they form one cohort (group
    identity unknown ⇒ must stay together to be leakage-safe), and the
    last split is the eval side under the conventional
    (train, …, test) ordering, so unknown-provenance rows can never
    contaminate training.
    """
    total = sum(fr for _, fr in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"group_split: fractions must sum to 1, got {total}")
    bucket = _bucket(F.col(group_col), seed)
    expr = F.lit(splits[-1][0])  # remainder bucket absorbs rounding
    cum = 0.0
    cases = []
    for name, frac in splits[:-1]:
        cum += frac
        cases.append((int(round(cum * SAMPLE_BUCKETS)), name))
    for threshold, name in reversed(cases):
        expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
    expr = F.when(F.col(group_col).isNull(), F.lit(splits[-1][0])).otherwise(expr)
    return df.withColumn("split", expr)


def negative_samples(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_buckets: int = 8,
    id_col: str = "doc_id",
    source_col: str = "source",
    query_id_col: str = "query_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic random negative mining for contrastive /
    retrieval training: for each query document, pick ``k``
    pseudo-random corpus documents from a DIFFERENT source (so
    "negatives" are never same-site near-positives).

    Sampling is bucketed so no crossJoin of query × corpus ever forms:
    each corpus doc hashes into one of ``n_buckets`` pools, each query
    probes exactly one pool (an equi-join on the bucket id), and the
    per-query ranking hash picks ``k`` winners from that ~1/n_buckets
    hash-sample of the corpus.  ``n_buckets`` is the pool-size knob: at
    100 TB set it so a pool is ~10-100k docs (corpus_docs / n_buckets);
    candidates scanned are |queries| × pool, never |queries| × corpus.

    The ``row_number() <= k`` filter sits directly above its window →
    ``WindowGroupLimit`` keeps a map-side top-k heap per query, so the
    final shuffle carries O(queries × k) rows.  Everything is
    hash-derived: the same (seed, corpus, queries) always yields the
    same pairs, and a retry of one partition cannot change another's.

    Returns (query_id, neg_id, neg_source, neg_rank).  ``neg_rank`` may
    stop SHORT of ``k`` (down to zero) when a query's single probed
    pool holds fewer than ``k`` cross-source docs — a function of
    ``n_buckets`` vs corpus size (expected pool ≈ corpus/n_buckets
    docs), by design: probing a second pool on under-fill would make a
    query's negatives depend on global pool occupancy, losing the
    retry-stable per-partition determinism.  Size ``n_buckets`` so
    pools are ≫ k (the 10-100k guidance above) and under-fill is a
    non-event; callers that must guarantee k can re-mine the shortfall
    with ``seed+1``.
    """
    if k < 1 or n_buckets < 1:
        raise ValueError(f"negative_samples: k and n_buckets must be >= 1")
    cand = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(source_col).alias("neg_source"),
        (h64(F.col(id_col).cast("string"), seed=seed) % n_buckets).alias("__b"),
    )
    probes = queries.select(
        F.col(query_id_col),
        F.col(source_col).alias("__qsrc"),
        (h64(F.col(query_id_col).cast("string"), seed=seed + 1) % n_buckets).alias("__b"),
    )
    joined = cand.join(probes, "__b").where(F.col("neg_source") != F.col("__qsrc"))
    w = Window.partitionBy(query_id_col).orderBy(
        h64(
            F.concat_ws(":", F.col(query_id_col).cast("string"), F.col("neg_id").cast("string")),
            seed=seed + 2,
        ),
        F.col("neg_id"),
    )
    return (
        joined.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select(query_id_col, "neg_id", "neg_source", "neg_rank")
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source boilerplate measurement: an n-gram is *boilerplate*
    when it appears in ≥ ``min_docs`` distinct documents of the SAME
    source — site chrome, navigation, license banners, template
    headers.  Per document, returns how much of its distinct n-gram
    vocabulary is source-boilerplate: the line-dedup signal CCNet /
    trafilatura-style cleaners act on, grouped by origin because
    boilerplate is a property of the site, not the corpus.

    Scale shape: within-doc dedup is ``array_distinct`` BEFORE the
    explode (row-local, no shuffle), so the exploded stream is one row
    per (doc, distinct n-gram) — document-frequency counting is then a
    plain map-side-combined ``groupBy(source, gram)`` count with no
    count-distinct.  The boilerplate join is an equi-join on
    (source, gram) — AQE skew-split applies when one template gram
    covers a whole mega-site (a window over the gram partition would
    serialize it onto one task).  No pair of documents is ever
    compared; the whole operator is corpus-linear.

    Returns (id, source, n_grams, n_boiler, boiler_frac).  A non-empty
    document with fewer than ``n`` tokens still emits exactly ONE
    (truncated) gram — ``word_ngrams`` floors the window count at 1 —
    so only NULL-text / NULL-id documents report ``n_grams = 0`` (and
    NULL frac).
    """
    if n < 1 or min_docs < 2:
        raise ValueError(
            f"boilerplate_ngrams: need n >= 1 and min_docs >= 2, got {n}, {min_docs}"
        )
    from rheoceros_spark.operators.scale import ensure_parallelism

    # NULL text is filtered explicitly: size/greatest over a NULL token
    # array otherwise manufactures one empty-string "gram" per NULL row
    # (and DuckDB's greatest treats NULLs differently — the oracle
    # would diverge); NULL-text docs report 0 grams via the left join
    stream = (
        ensure_parallelism(df.select(id_col, source_col, text_col))
        .where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            id_col,
            source_col,
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
            ).alias("gram"),
        )
    )
    counts = stream.groupBy(source_col, "gram").agg(
        F.count(F.lit(1)).alias("__df")
    )
    boiler = counts.where(F.col("__df") >= min_docs).select(
        source_col, "gram", F.lit(1).alias("__is_boiler")
    )
    flagged = stream.join(boiler, [source_col, "gram"], "left")
    per_doc = flagged.groupBy(id_col, source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.coalesce(F.col("__is_boiler"), F.lit(0))).cast("bigint").alias("n_boiler"),
    )
    return (
        df.select(id_col, source_col)
        .join(per_doc, [id_col, source_col], "left")
        .select(
            id_col,
            source_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("bigint").alias("n_boiler"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.round(
                    F.col("n_boiler").cast("double") / F.col("n_grams").cast("double"), 6
                ),
            ).alias("boiler_frac"),
        )
    )


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """The actionable end of the dedup pipeline: one row per document
    with its cluster representative (``keep_id``) and a ``is_dup``
    purge flag — what a curation job actually filters on, rather than
    raw pairs or cluster labels.

    ``keep_id`` is the minimum doc id of the document's near-dup
    component (itself when it appears in no pair), so exactly one
    representative survives per cluster and re-runs always pick the
    same one.  Composes any pair emitter (MinHash / SimHash / n-gram /
    embedding LSH) → :func:`dup_clusters` (auto-escalating connected
    components) → one left join back to the corpus on the id — the
    corpus-sized side joins against a clustered-docs-sized table, never
    pair-sized.
    """
    # dup_clusters' output columns are fixed (doc_id, cluster_id);
    # rename to the caller's id column so the join resolves for any id
    clusters = dup_clusters(pairs, a_col=a_col, b_col=b_col).withColumnRenamed(
        "doc_id", id_col
    )
    return (
        df.select(F.col(id_col))
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("keep_id"),
            (
                F.coalesce(F.col("cluster_id"), F.col(id_col)) != F.col(id_col)
            ).alias("is_dup"),
        )
    )


def budget_mix_select(
    df: DataFrame,
    token_budget: int,
    alpha: float = 0.5,
    source_col: str = "source",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Assemble a training mix to a token budget: give each source its
    alpha-temperature share (:func:`source_mixture_weights`) of
    ``token_budget`` tokens, then fill each source's quota with a
    deterministic hash-ordered sample of its documents — the
    "build the N-token corpus at the declared mixture" step that turns
    mixture *weights* into an actual document list.

    A document is selected while its source's running token total has
    not yet reached the quota — the first document crossing the quota
    is still included (pack_sequences' fill rule; the trainer trims),
    so every source with a nonzero quota contributes at least one
    document.  Re-runs, retries, and engines all pick the same
    documents; bump ``seed`` to draw a fresh epoch.

    Scale shape: the weights come from one map-side-combined groupBy
    (sources-sized); quotas join back as a broadcast.  Selection is one
    window pass per source (running sum in hash order) — the same
    shard-partitioned window shape ``pack_sequences`` uses, linear per
    source.  The quota is derived from the integer weight table with
    ``floor((wq · budget) / wsum)`` evaluated in doubles — identical
    IEEE ops on every engine, no decimal re-round (the dsir_weights
    lesson).

    Returns the selected rows: (id, source, tokens, sel_rank, quota).
    """
    if token_budget < 1:
        raise ValueError(f"budget_mix_select: token_budget must be >= 1")
    # NULL-source rows are excluded BEFORE the weights: they can never
    # join a per-source quota (NULL = NULL never matches), so letting
    # them into the groupBy would inflate __wsum and silently shrink
    # every real source's quota — an unfillable budget share
    df = df.where(F.col(source_col).isNotNull())
    per = df.groupBy(source_col).agg(
        F.sum(F.col(token_col)).cast("bigint").alias("__nt")
    )
    # totals over the ALREADY-AGGREGATED sources-sized frame (see the
    # source_mixture_weights comment for why this beats agg+crossJoin:
    # one corpus scan, exact BIGINT sums).  WindowExec's data-sized-
    # window warning is a false positive for this tiny-by-construction
    # frame — a constant partition key does NOT silence it (Catalyst
    # folds literals out of the partition spec), so the bench harness
    # scopes that logger down instead and the plan gates stay the real
    # guard against accidental data-sized windows.
    w_all = Window.partitionBy()
    wt = (
        F.sqrt(F.col("__nt").cast("double") / F.col("__tot").cast("double"))
        if alpha == 0.5
        else (F.col("__nt").cast("double") / F.col("__tot").cast("double"))
    )
    if alpha not in (0.5, 1.0):
        raise ValueError(f"budget_mix_select: alpha must be 0.5 or 1.0, got {alpha}")
    quotas = (
        per.withColumn("__tot", F.sum("__nt").over(w_all))
        .withColumn("__wq", F.round(wt * F.lit(1e12)).cast("bigint"))
        .withColumn("__wsum", F.sum("__wq").over(w_all))
        .select(
            source_col,
            F.floor(
                (F.col("__wq").cast("double") * F.lit(float(token_budget)))
                / F.col("__wsum").cast("double")
            )
            .cast("bigint")
            .alias("quota"),
        )
    )
    key = h64(F.col(id_col).cast("string"), seed=seed)
    w = Window.partitionBy(source_col).orderBy(key, F.col(id_col))
    ranked = (
        df.select(id_col, source_col, token_col)
        .join(F.broadcast(quotas), source_col)
        .withColumn("sel_rank", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "__cum_before",
            F.coalesce(
                F.sum(F.col(token_col)).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    return ranked.where(F.col("__cum_before") < F.col("quota")).select(
        id_col, source_col, token_col, "sel_rank", "quota"
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Audit two corpus snapshots: per document id, whether it was
    ``added``, ``removed``, ``changed`` (same id, different normalized
    content), or ``unchanged`` — the incremental-ingest diff a managed
    corpus pipeline reports between versions (what re-embeds, what
    re-indexes, what purges downstream).

    Content identity is the md5 of the normalized text (exact dedup's
    fingerprint), so whitespace/case churn does not read as change.
    Scale shape: each side reduces to ``(id, fp)`` in its scan, then one
    full-outer hash join on the id — two narrow shuffles, corpus-linear,
    AQE-skew-safe; no text ever shuffles.

    Returns (id, status, old_fp, new_fp).
    """
    # presence is tracked with explicit flags, NOT fingerprint nullity:
    # a NULL-text doc has a NULL fp on both sides, and fp-nullity
    # presence tests would misread it as 'added' even when it exists
    # only in the old snapshot (review-caught).  Content comparison is
    # null-safe for the same reason: two NULL-text versions of a doc
    # are 'unchanged'.
    o = old.where(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("old_fp"),
        F.lit(True).alias("__in_old"),
    )
    n = new.where(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("new_fp"),
        F.lit(True).alias("__in_new"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(id_col, status.alias("status"), "old_fp", "new_fp")


#: fingerprint scheme recorded in persisted indexes — md5 over
#: whitespace/case-normalized text (exact dedup's identity).  Bump the
#: tag if the normalization ever changes so stale indexes fail loudly.
FINGERPRINT_ALGO = "md5_norm_v1"


def fingerprint_index_write(
    df: DataFrame,
    path: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Persist a corpus snapshot's ``(id, fp)`` fingerprint index — the
    standing state an incremental-ingest pipeline diffs each new crawl
    against (:func:`corpus_diff_indexed`) without ever rescanning the
    old corpus text.

    The index is narrow (id + 32-char fp + algo tag), i.e. ~50 bytes a
    document vs the corpus's KBs — the 100 TB corpus persists as a
    ~GB-scale index.  ``mode="append"`` is the incremental step for
    newly accepted documents; ids must stay unique across appends
    (append only the ``added`` output of the previous diff — an id
    appended twice would fan out in later diff joins).

    The fingerprint scheme is recorded in the ``fp_algo`` column;
    :func:`corpus_diff_indexed` rejects an index built under a
    different scheme (silent mismatches would misread every unchanged
    document as ``changed``).

    Pass ``path=None`` to get the unpersisted index plan for custom
    sinks (e.g. a managed dataset partition).
    """
    idx = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("fp"),
        F.lit(FINGERPRINT_ALGO).alias("fp_algo"),
    )
    if path is not None:
        idx.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return idx


def _check_fp_index(index: DataFrame, id_col: str) -> None:
    """Fail fast on a structurally wrong or scheme-mismatched
    fingerprint index (one limit-1 driver-side read, mirroring
    dedup's ``_check_index_params``)."""
    missing = {id_col, "fp"} - set(index.columns)
    if missing:
        raise ValueError(
            f"fingerprint index is missing column(s) {sorted(missing)} — "
            f"expected the ({id_col}, fp) layout written by fingerprint_index_write"
        )
    if "fp_algo" in index.columns:
        # distinct, not limit(1): an APPEND-maintained index can mix
        # schemes across appends (half written under a future algo) —
        # a single-row sample would pass and silently misclassify the
        # other half's documents as 'changed'.  The distinct of a
        # one-(or few-)valued column is a tiny driver read.
        algos = sorted(
            r[0] for r in index.select("fp_algo").distinct().collect() if r[0]
        )
        if algos and algos != [FINGERPRINT_ALGO]:
            raise ValueError(
                f"fingerprint index carries fp_algo values {algos!r}, this "
                f"engine computes {FINGERPRINT_ALGO!r} — documents indexed "
                "under another scheme would misread as 'changed'; rebuild "
                "the index under one algorithm"
            )


def corpus_diff_indexed(
    new: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`corpus_diff` against a PERSISTED fingerprint index instead
    of the old snapshot itself: the managed-pipeline shape, where the
    previous corpus exists only as its ``(id, fp)`` index
    (:func:`fingerprint_index_write`, APPEND-maintained) and each new
    crawl diffs against it — ``added`` feeds ingestion + an index
    append, ``changed`` re-embeds/re-indexes, ``removed`` purges.

    Scale shape: the new crawl reduces to ``(id, fp)`` inside its scan
    (text never shuffles); the index is already that narrow — one
    full-outer hash join on the id, both sides corpus-count-sized but
    ~50 B/row.  Old text cost: zero scans.

    Returns (id, status, old_fp, new_fp) — identical semantics to
    :func:`corpus_diff` when the index matches the old snapshot.
    """
    _check_fp_index(index, id_col)
    o = index.where(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.col("fp").alias("old_fp"),
        F.lit(True).alias("__in_old"),
    )
    n = new.where(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("new_fp"),
        F.lit(True).alias("__in_new"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(id_col, status.alias("status"), "old_fp", "new_fp")


def ngram_novelty(
    corpus: DataFrame,
    reference: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty against an EXISTING training corpus: the
    fraction of a document's distinct word ``n``-grams that appear
    nowhere in ``reference`` — the freshness signal used when deciding
    how much of a new crawl actually adds information on top of data
    already trained on (the inverse view of contamination, against a
    different adversary).

    The deliberate contrast with :func:`contamination_ngrams`: there the
    benchmark gram set is MB-sized and **broadcasts**; here the
    reference is another 100 TB corpus, so membership is an **equi-join
    on the gram hash** — both sides shuffle by the hash, AQE skew-split
    handles boilerplate grams, and nothing corpus-sized ever
    concentrates on the driver or in a broadcast.  Within-doc dedup is
    ``array_distinct`` before the explode (row-local), and the
    reference side reduces to DISTINCT hashes before the join, so join
    input is vocabulary-sized per side, not occurrence-sized.

    Returns (id, n_grams, n_novel, novelty_ratio); documents with NULL
    text report 0 grams and NULL ratio.
    """
    if n < 1:
        raise ValueError(f"ngram_novelty: n must be >= 1, got {n}")
    from rheoceros_spark.operators.scale import ensure_parallelism

    grams = (
        ensure_parallelism(
            corpus.where(
                F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
            ).select(id_col, text_col)
        )
        .select(
            id_col,
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
            ).alias("__g"),
        )
        .select(id_col, h64(F.col("__g")).alias("gh"))
    )
    ref = (
        ensure_parallelism(
            reference.where(F.col(text_col).isNotNull()).select(text_col)
        )
        .select(
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
            ).alias("__g")
        )
        .select(h64(F.col("__g")).alias("gh"))
        .distinct()
        .select("gh", F.lit(1).alias("__seen"))
    )
    per_doc = (
        grams.join(ref, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        corpus.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_grams").cast("double"), 6
                ),
            ).alias("novelty_ratio"),
        )
    )


def cluster_profile(
    docs: DataFrame,
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Corpus cartography: profile the corpus per LEARNED semantic
    cluster — the reporting layer of the SemDeDup/clustered-curation
    recipe (what is each region of embedding space made of, and is it
    worth keeping?).  Trains Lloyd cells on the embeddings (or reuses
    ``cents``), assigns every document, and aggregates per cell:
    document count, total whitespace tokens, mean heuristic quality
    (×1e6-quantized, integer division), and the dominant source with
    its count (ties on ascending source name).

    Scale shape: the codebook is ≤k rows (broadcast); assignment is
    the max_by argmax scan; ONE doc_id equi-shuffle joins documents to
    their cell; both aggregates are map-side combined, and the
    dominant-source pick is a WindowGroupLimit over (cell, source)
    counts — cells × sources rows, never corpus rows.  Output is
    k rows.  All counters exact BIGINTs; quality quantized half-up
    (floor(x+0.5)) with NULL-text documents contributing 0 — the
    cross-engine discipline."""
    from rheoceros_spark.functions.portable import tokens
    from rheoceros_spark.operators.similarity import ivf_assign, kmeans_centroids
    from rheoceros_spark.operators.text_analysis import quality_score

    base = emb.where(F.col(vec_id_col).isNotNull()).select(vec_id_col, vec_col)
    if cents is None:
        cents = kmeans_centroids(base, k, iters, vec_col, vec_id_col)
    cents = checkpoint(cents)
    assigned = ivf_assign(base, k, vec_col, vec_id_col, cents=cents).select(
        F.col(vec_id_col).alias(doc_id_col), "cell"
    )
    scored = quality_score(docs.where(F.col(doc_id_col).isNotNull()), text_col)
    d = scored.select(
        F.col(doc_id_col),
        F.col(source_col),
        F.coalesce(
            F.floor(F.col("quality") * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("__qq"),
        F.coalesce(
            F.size(tokens(F.col(text_col))).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("__ntok"),
    )
    j = d.join(assigned, on=doc_id_col)
    cells = j.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__ntok").alias("total_tokens"),
        F.sum("__qq").alias("__sq"),
    )
    cells = cells.select(
        "cell",
        "n_docs",
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.expr("__sq div n_docs").cast("bigint").alias("mean_quality_q"),
    )
    srcs = j.groupBy("cell", source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("__cnt").desc(), F.col(source_col).asc()
    )
    top = (
        srcs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "cell",
            F.col(source_col).alias("top_source"),
            F.col("__cnt").alias("top_source_docs"),
        )
    )
    return cells.join(top, on="cell")


def ppl_buckets(
    df: DataFrame,
    score_col: str = "nll",
    group_col: str = "source",
    head_pct: int = 30,
    tail_pct: int = 30,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3): split
    each group's documents into ``head`` / ``middle`` / ``tail`` by LM
    score percentile — head = lowest-NLL (most fluent) ``head_pct``
    percent, tail = highest ``tail_pct`` percent.  CCNet keeps head+
    middle for pretraining and inspects the tail.

    Value-granular by design: the cut is on the SCORE value's
    cumulative frequency, so all rows sharing a score land in one
    bucket and the labeling is independent of partitioning, row order,
    and engine — no row_number tie-break lottery.  A boundary score
    whose cumulative count crosses the cut belongs to the higher
    bucket (exact integer comparison ``100·cum ≤ pct·n``; no float
    percentile seam).  Rows with NULL score get a NULL bucket.

    Scale shape: the corpus-sized work is ONE map-side-combined
    groupBy to the (group, quantized-score) histogram; the cumulative
    window runs over that frame only, and — because the cut is
    monotone in the score — the histogram collapses to a GROUPS-sized
    threshold table (:func:`ppl_thresholds`) before anything is
    broadcast back: labeling is :func:`ppl_bucket_assign` against two
    cut values per group.  (The earlier form broadcast the full
    (group, distinct-score) label frame — near-corpus-sized for
    1e-6-quantized NLL scores, where per-document scores are almost
    all distinct; review-caught and fixed.)  Known shape limit shared
    with any exact percentile: the cumulative window runs one task
    per group over that group's distinct scores — CCNet itself cuts
    on a sample; pre-bucket the score (coarser quantization) if a
    single group's distinct-score count is a problem.  The input is
    consumed twice (histogram + label join): cache or
    ``localCheckpoint`` an expensive upstream (e.g. a bigram_nll
    chain) before calling.

    Reference-extension operator (SURVEY.md §2.12).
    """
    thr = ppl_thresholds(df, score_col, group_col, head_pct, tail_pct)
    return ppl_bucket_assign(df, thr, score_col, group_col)


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 8,
) -> DataFrame:
    """Pairwise cross-source n-gram overlap matrix — the corpus-
    cartography view that tells a multi-source 100 TB pretraining mix
    which sources are near-copies of each other (mirror crawls, shared
    boilerplate, republished content) BEFORE mixture weights are
    assigned: two sources with high containment contribute less
    marginal data than their token counts suggest (the cross-SOURCE
    counterpart of per-document dedup, and the symmetric view of
    :func:`ngram_novelty`'s corpus-vs-reference membership).

    One row per unordered source pair: distinct-gram counts, the
    common-gram count, both containments (``common/|A|``, ``common/|B|``)
    and Jaccard — ratios integer-quantized (``·1e6 div n``, one IEEE
    division) so the matrix is engine-exact.  Pairs sharing no gram
    still appear (zero row) — an all-pairs report with holes reads as
    "forgot to check", not "checked, disjoint".

    Scale shape: per-row ``array_distinct`` before the explode, one
    DISTINCT to the (source, gram)-vocabulary frame, then per-gram
    sorted source-sets via ``collect_set`` (bounded by the source
    count, NOT corpus size) exploded into pairs — per-gram cost is
    ≤ k² for k sources, so total work is vocabulary-linear with a tiny
    constant; the final aggregates and joins are all k- or k²-sized.
    No corpus-sized self-join: the gram×gram equi-join formulation is
    kept only in the DuckDB oracle.

    Reference-extension operator (SURVEY.md §2.12).
    """
    if n < 1:
        raise ValueError(f"source_overlap: n must be >= 1, got {n}")
    from rheoceros_spark.operators.scale import ensure_parallelism

    # empty/whitespace-only rows are excluded BEFORE gram extraction:
    # tokens('') is [''] and word_ngrams pads it to one '' gram, which
    # would otherwise count as "shared content" between any two sources
    # that each contain a blank row (review-caught)
    d = (
        ensure_parallelism(
            df.where(
                F.col(text_col).isNotNull()
                & F.col(source_col).isNotNull()
                & (F.length(normalize_text(F.col(text_col))) > 0)
            ).select(source_col, text_col)
        )
        .select(
            F.col(source_col).alias("__s"),
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
            ).alias("__g"),
        )
        .select("__s", h64(F.col("__g")).alias("__gh"))
    )
    # ONE vocabulary-sized exchange: collect_set dedups (gram, source)
    # occurrences during the partial aggregation, so a separate
    # DISTINCT pass (a second full-vocabulary shuffle) is unnecessary —
    # per-source totals then come from the already-deduped sets via a
    # k-keyed map-side-combined count, and the frame feeds both
    # consumers off the same exchange
    sets_all = d.groupBy("__gh").agg(
        F.sort_array(F.collect_set("__s")).alias("__ss")
    )
    per = (
        sets_all.select(F.explode("__ss").alias("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    # per-gram sorted source set (≤ k elements) → unordered pairs
    sets = sets_all.where(F.size("__ss") >= 2)
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("__ss") - 1),
            lambda i: F.transform(
                F.slice(F.col("__ss"), i + F.lit(1), F.size("__ss")),
                lambda b: F.struct(
                    F.element_at(F.col("__ss"), i).alias("a"), b.alias("b")
                ),
            ),
        )
    )
    common = (
        sets.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.a").alias("source_a"), F.col("__p.b").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    # complete k×k/2 matrix: zero-common pairs included
    pa = per.select(F.col("__s").alias("source_a"), F.col("__n").alias("n_grams_a"))
    pb = per.select(F.col("__s").alias("source_b"), F.col("__n").alias("n_grams_b"))
    allp = pa.crossJoin(pb).where(F.col("source_a") < F.col("source_b"))
    out = allp.join(F.broadcast(common), ["source_a", "source_b"], "left").withColumn(
        "n_common", F.coalesce(F.col("n_common"), F.lit(0).cast("bigint"))
    )
    q6 = lambda num, den: F.expr(f"{num} * 1000000L div {den}").cast("double") / F.lit(
        1e6
    )
    return out.select(
        "source_a",
        "source_b",
        "n_grams_a",
        "n_grams_b",
        "n_common",
        q6("n_common", "n_grams_a").alias("containment_a"),
        q6("n_common", "n_grams_b").alias("containment_b"),
        F.expr(
            "n_common * 1000000L div (n_grams_a + n_grams_b - n_common)"
        ).cast("double").alias("__jq"),
    ).withColumn("jaccard", F.col("__jq") / F.lit(1e6)).drop("__jq")


def source_overlap_minhash(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 8,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash sketch sibling of :func:`source_overlap` — the 100 TB
    scale path: per-SOURCE MinHash signatures over the distinct-gram
    stream (Broder 1997), pairwise Jaccard then ESTIMATED as the
    fraction of matching signature components.  The exact operator
    shuffles the (source, gram) vocabulary; this one shuffles exactly
    ``sources × num_hashes`` integers — per-partition partial mins
    combine map-side, so one row per source per partition crosses the
    wire no matter the corpus size (the dedup minhash_sigs shape,
    grouped by source instead of document).

    Deterministic and engine-exact by construction: the same portable
    h64 gram hashes and affine permutations
    (``(2i+1)·h32 + i mod 2³¹−1``) as the dedup family — min over a
    set is order-independent, so the signature is bit-identical in
    any engine, and the ESTIMATE itself is certified by the oracle
    (accuracy vs the exact matrix is a separate statistical pytest).

    Returns one row per unordered source pair: ``n_matches``,
    ``est_jaccard`` (``·1e6 div num_hashes``-quantized).  Sources with
    no grams (all-empty text) produce all-identical degenerate
    signatures — filter empty sources upstream if that matters.
    """
    if n < 1 or num_hashes < 1:
        raise ValueError(
            f"source_overlap_minhash: n and num_hashes must be >= 1, "
            f"got {n}, {num_hashes}"
        )
    from rheoceros_spark.operators.dedup import MINHASH_P
    from rheoceros_spark.operators.scale import ensure_parallelism

    # same blank-row guard as source_overlap: a padded '' gram from
    # empty text must not make two all-blank sources estimate 1.0
    ex = (
        ensure_parallelism(
            df.where(
                F.col(text_col).isNotNull()
                & F.col(source_col).isNotNull()
                & (F.length(normalize_text(F.col(text_col))) > 0)
            ).select(source_col, text_col)
        )
        .select(
            F.col(source_col).alias("__s"),
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
            ).alias("__g"),
        )
        .select("__s", (h64(F.col("__g")) % F.lit(4294967296)).alias("__h"))
    )
    mins = [
        F.min(
            (F.lit(2 * i + 1) * F.col("__h") + F.lit(i)) % F.lit(MINHASH_P)
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    sigs = ex.groupBy("__s").agg(*mins)
    sig_arr = F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
    sigs = sigs.select(F.col("__s"), sig_arr.alias("__sig"))
    a = sigs.select(F.col("__s").alias("source_a"), F.col("__sig").alias("__sa"))
    b = sigs.select(F.col("__s").alias("source_b"), F.col("__sig").alias("__sb"))
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("source_a") < F.col("source_b"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("bigint")
    return pairs.select(
        "source_a", "source_b", matches.alias("n_matches")
    ).withColumn(
        "est_jaccard",
        F.expr(f"n_matches * 1000000L div {num_hashes}").cast("double") / F.lit(1e6),
    )


def ppl_thresholds(
    df: DataFrame,
    score_col: str = "nll",
    group_col: str = "source",
    head_pct: int = 30,
    tail_pct: int = 30,
) -> DataFrame:
    """The per-group CUT VALUES behind :func:`ppl_buckets` as a tiny
    persistable table — the production CCNet shape: thresholds are
    trained once on a reference crawl, persisted, and applied to every
    new crawl / stream micro-batch without recomputing the histogram
    (the corpus_diff_indexed standing-artifact pattern).

    Returns one row per group: ``head_max_q`` / ``mid_max_q`` — the
    largest 1e-6-quantized scores whose cumulative share stays within
    ``head_pct`` / ``100 − tail_pct`` — and ``n_scored``.  A NULL
    ``head_max_q`` means the group's smallest score already crosses
    the head cut (no head bucket), same for ``mid_max_q``.  By
    monotonicity of the cumulative count, ``score_q ≤ head_max_q`` is
    EXACTLY ppl_buckets' ``100·cum ≤ head_pct·n`` labeling —
    :func:`ppl_bucket_assign` + these thresholds reproduce
    :func:`ppl_buckets` bit-for-bit (parity-pinned in pytest).

    Same scale shape as ppl_buckets' internal histogram: one map-side-
    combined groupBy, cumulative windows over the histogram frame only,
    groups-sized output.
    """
    if not (0 < head_pct and 0 < tail_pct and head_pct + tail_pct < 100):
        raise ValueError(
            f"ppl_thresholds: need 0 < head_pct, 0 < tail_pct, head_pct + "
            f"tail_pct < 100; got {head_pct}/{tail_pct}"
        )
    mid_pct = 100 - tail_pct
    sq = F.round(F.col(score_col) * F.lit(1e6)).cast("bigint")
    hist = (
        df.withColumn("__sq", sq)
        .where(F.col("__sq").isNotNull())
        .groupBy(group_col, "__sq")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("__sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    cum = hist.withColumn("__cum", F.sum("__c").over(w_cum)).withColumn(
        "__n", F.sum("__c").over(w_all)
    )
    return cum.groupBy(group_col).agg(
        F.max(
            F.when(
                F.lit(100) * F.col("__cum") <= F.lit(head_pct) * F.col("__n"),
                F.col("__sq"),
            )
        ).alias("head_max_q"),
        F.max(
            F.when(
                F.lit(100) * F.col("__cum") <= F.lit(mid_pct) * F.col("__n"),
                F.col("__sq"),
            )
        ).alias("mid_max_q"),
        F.max("__n").alias("n_scored"),
    )


def ppl_bucket_assign(
    df: DataFrame,
    thresholds: DataFrame,
    score_col: str = "nll",
    group_col: str = "source",
) -> DataFrame:
    """Label rows head/middle/tail against a PERSISTED
    :func:`ppl_thresholds` table — stateless per-row work after one
    broadcast join (thresholds are groups-sized), so it applies
    unchanged to new crawls and to Structured Streaming micro-batches
    (streaming/stream.py stream_ppl_gate).  Rows whose group is absent
    from the thresholds table, or with NULL score, get a NULL bucket.
    """
    sq = F.round(F.col(score_col) * F.lit(1e6)).cast("bigint")
    # namespace the threshold columns before the join: the scored frame
    # commonly carries its own n_scored (bigram_nll emits one) and an
    # un-aliased join would be AMBIGUOUS_REFERENCE
    thr = thresholds.select(
        F.col(group_col),
        F.col("head_max_q").alias("__thr_head"),
        F.col("mid_max_q").alias("__thr_mid"),
        F.col("n_scored").alias("__thr_n"),
    )
    j = df.withColumn("__sq", sq).join(F.broadcast(thr), group_col, "left")
    bucket = (
        F.when(F.col("__sq").isNull() | F.col("__thr_n").isNull(), F.lit(None))
        .when(
            F.col("__thr_head").isNotNull() & (F.col("__sq") <= F.col("__thr_head")),
            F.lit("head"),
        )
        .when(
            F.col("__thr_mid").isNotNull() & (F.col("__sq") <= F.col("__thr_mid")),
            F.lit("middle"),
        )
        .otherwise(F.lit("tail"))
    )
    return j.withColumn("ppl_bucket", bucket).drop(
        "__sq", "__thr_head", "__thr_mid", "__thr_n"
    )


def corpus_datasheet(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Datasheet-for-the-corpus rollup (Gebru et al. 2021, "Datasheets
    for Datasets"): one row per ``group_col`` with the composition
    stats every dataset card reports — the first artifact a curation
    run publishes and the one a 100 TB pipeline recomputes per crawl:

    * ``n_docs`` / ``n_empty``  — documents, and those with NULL or
      whitespace-only text (they survive filters surprisingly often)
    * ``total_tokens`` / ``total_chars`` — whitespace-token and raw
      character volume (empty docs contribute 0, not 1 — the
      ``string_split('')`` = ``['']`` trap both engines share)
    * ``n_distinct`` — distinct normalized-text fingerprints, i.e.
      what exact dedup would keep
    * ``dup_rate_q`` — (n_docs − n_distinct)·1e6 // n_docs
    * ``n_langs`` / ``top_lang`` / ``top_lang_docs`` — language mix
      and the dominant language (ties on ascending lang; NULL langs
      count as a real group — at crawl scale un-identified is a class)

    The group key is stringified with NULL → ``(null)`` BEFORE
    aggregating: the rollup stitches three aggregates back together by
    the key, and a NULL key would silently vanish from the null-unsafe
    equi-joins in any engine — precisely the rows a datasheet exists
    to surface.

    Scale shape: three corpus-linear, map-side-combined aggregations —
    groupBy(group), groupBy(group, fp), groupBy(group, lang) — each
    carrying counters only (the 32-byte md5 fingerprint shuffles, the
    text never does); everything after is groups- or langs-sized,
    with the dominant-language pick a WindowGroupLimit over the
    (group, lang) counts.  Output is groups-sized.  All counters exact
    BIGINTs; the ratio is ×1e6 integer-division quantized.
    # overflow: total_tokens / total_chars ≤ corpus bytes (< 2^63 for
    # any real corpus — 9.2 EB); dup_rate numerator ≤ n_docs·1e6 ≤
    # 1e13·1e6 = 1e19 > 2^63 only past 9.2e12 docs per group, so the
    # numerator is computed in decimal(38,0) and the quotient (≤ 1e6)
    # returns to BIGINT.
    """
    norm = normalize_text(F.col(text_col))
    d = df.select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("(null)")).alias(
            group_col
        ),
        F.coalesce(F.col(lang_col), F.lit("(null)")).alias("__lang"),
        F.md5(norm).alias("__fp"),
        F.coalesce(F.length(norm), F.lit(0)).alias("__nlen"),
        F.coalesce(F.length(F.col(text_col)).cast("bigint"), F.lit(0).cast("bigint")).alias(
            "__nchars"
        ),
        F.size(F.split(norm, " ")).alias("__rawtok"),
    ).withColumn(
        "__ntok",
        F.when(F.col("__nlen") == 0, F.lit(0).cast("bigint")).otherwise(
            F.col("__rawtok").cast("bigint")
        ),
    )
    # three aggregates consume this projection; the checkpointed frame
    # is the NARROW (group, lang, 32-byte fp, counters) shape, ~1-2% of
    # corpus bytes
    d = checkpoint(d)
    base = d.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("__nlen") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty"),
        F.sum("__ntok").cast("bigint").alias("total_tokens"),
        F.sum("__nchars").cast("bigint").alias("total_chars"),
    )
    # distinct fingerprints via a sub-aggregation instead of
    # count(DISTINCT ...) in `base`: multiple distinct aggregates make
    # Catalyst Expand the corpus N× — two separate map-combined
    # shuffles are strictly cheaper at scale.  NULL fp (NULL text)
    # matches count(DISTINCT) semantics: not a fingerprint.
    distinct_fp = (
        d.where(F.col("__fp").isNotNull())
        .groupBy(group_col, "__fp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    )
    langs = d.groupBy(group_col, "__lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    n_langs = langs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_langs")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__cnt").desc(), F.col("__lang").asc()
    )
    top = (
        langs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            group_col,
            F.col("__lang").alias("top_lang"),
            F.col("__cnt").alias("top_lang_docs"),
        )
    )
    return (
        base.join(distinct_fp, group_col, "left")
        .join(n_langs, group_col)
        .join(top, group_col)
        .select(
            group_col,
            "n_docs",
            "n_empty",
            "total_tokens",
            "total_chars",
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("bigint")).alias(
                "n_distinct"
            ),
            F.expr(
                "CAST(CAST(n_docs - coalesce(n_distinct, 0) AS DECIMAL(38,0))"
                " * 1000000 div n_docs AS BIGINT)"
            ).alias("dup_rate_q"),
            "n_langs",
            "top_lang",
            "top_lang_docs",
        )
    )


def snapshot_drift(
    df: DataFrame,
    snapshot_col: str = "snapshot",
    text_col: str = "text",
    lang_col: str = "lang",
    bucket_width: int = 10,
    max_bucket: int = 20,
) -> DataFrame:
    """Distribution drift between CONSECUTIVE crawl snapshots — the
    corpus-QA monitor a rolling pipeline runs before admitting a new
    crawl (did the length profile or language mix shift?).  Two
    feature histograms per snapshot:

    * ``len_bucket`` — whitespace-token count bucketed as
      ``least(n_tokens // bucket_width, max_bucket)`` (pure integer
      bucketing: no libm, no data-dependent quantiles)
    * ``lang``       — the language label (NULL as ``(null)``)

    and per (snapshot s, snapshot s+1, feature) one drift row with the
    ×1e6-quantized chi-square-style statistic

        ``chi2_q = Σ_values ((a−b)² · 1e6) // (a+b)``

    — a polynomial in exact integer counts (the PSI/KL alternatives
    need data-dependent logarithms, a libm seam this codebase does not
    cross; the chi-square form ranks drift identically for monitoring
    purposes).  Missing values contribute their full count (b=0 side).

    Scale shape: ONE corpus-linear map-side-combined groupBy
    (snapshot, feature, value) — both features unpivoted in the same
    pass — then a full-outer self-join and rollup on the
    histogram-sized frame (snapshots × values rows, never corpus
    rows).  Output is (snapshot pairs × 2) rows.
    # overflow: (a−b)²·1e6 with a,b ≤ docs-per-(snapshot,value) —
    # overflows 2^63 past ~3e6 docs per cell, so the numerator is
    # decimal(38,0); each summand ≤ max(a,b)·1e6 and the sum ≤
    # n_docs·1e6 < 2^63 below 9.2e12 docs per snapshot, so the
    # returned chi2_q stays BIGINT.
    """
    if bucket_width < 1 or max_bucket < 1:
        raise ValueError(
            f"snapshot_drift: bucket_width/max_bucket must be >= 1, got "
            f"{bucket_width}/{max_bucket}"
        )
    norm = normalize_text(F.col(text_col))
    ntok = F.when(
        F.coalesce(F.length(norm), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(norm, " ")))
    d = df.where(F.col(snapshot_col).isNotNull()).select(
        F.col(snapshot_col).cast("bigint").alias("__snap"),
        F.least(
            (ntok / F.lit(bucket_width)).cast("bigint"), F.lit(max_bucket).cast("bigint")
        )
        .cast("string")
        .alias("__len_bucket"),
        F.coalesce(F.col(lang_col), F.lit("(null)")).alias("__lang"),
    )
    unpivoted = d.select(
        "__snap",
        F.explode(
            F.create_map(
                F.lit("len_bucket"),
                F.col("__len_bucket"),
                F.lit("lang"),
                F.col("__lang"),
            )
        ).alias("feature", "value"),
    )
    # the shift-join reads the histogram twice and the valid-snapshot
    # probe once more
    hist = checkpoint(unpivoted.groupBy("__snap", "feature", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ))
    a = hist.select(
        F.col("__snap").alias("snap_a"),
        "feature",
        "value",
        F.col("cnt").alias("__a"),
    )
    b = hist.select(
        (F.col("__snap") - F.lit(1)).alias("snap_a"),
        "feature",
        "value",
        F.col("cnt").alias("__b"),
    )
    joined = a.join(b, ["snap_a", "feature", "value"], "full_outer").select(
        "snap_a",
        "feature",
        F.coalesce(F.col("__a"), F.lit(0).cast("bigint")).alias("__a"),
        F.coalesce(F.col("__b"), F.lit(0).cast("bigint")).alias("__b"),
    )
    # keep only pairs where BOTH snapshots exist in the data: the
    # full-outer join also manufactures (min_snap − 1) and max_snap
    # pseudo-pairs from the shift, which have an empty side by
    # construction, not by drift
    # snapshots derive from the (already materialized) histogram, not
    # from another corpus scan
    snaps = hist.select("__snap").distinct()
    valid = snaps.alias("s").join(
        snaps.select((F.col("__snap") - F.lit(1)).alias("__snap")).alias("n"),
        "__snap",
    ).select(F.col("__snap").alias("snap_a"))
    return (
        joined.join(F.broadcast(valid), "snap_a")
        .groupBy("snap_a", "feature")
        .agg(
            F.sum(F.when(F.col("__a") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_values_a"),
            F.sum(F.when(F.col("__b") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_values_b"),
            F.sum("__a").cast("bigint").alias("n_a"),
            F.sum("__b").cast("bigint").alias("n_b"),
            F.sum(
                F.expr(
                    "CAST(CAST((__a - __b) AS DECIMAL(38,0)) * (__a - __b)"
                    " * 1000000 div (__a + __b) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("chi2_q"),
        )
        .select(
            "snap_a",
            (F.col("snap_a") + F.lit(1)).cast("bigint").alias("snap_b"),
            "feature", "n_a", "n_b",
            "n_values_a", "n_values_b", "chi2_q",
        )
    )


def epoch_plan(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    token_col: str = "n_tokens",
    alpha: float = 0.5,
    max_epochs_q: int = 4_000_000,
) -> DataFrame:
    """Per-source epoch table: how many passes over each source a
    ``budget_tokens`` training run draws under α-temperature mixture
    weights — the planning artifact every pretraining paper publishes
    (The Pile §1 Table 1's per-set epochs; LLaMA Table 1's sampling
    proportions × epochs; Gopher/MassiveText A3.1).

    Per group: token volume ``T_g`` (exact BIGINT sum), mixture weight
    ``q_g ∝ share_g^α`` with α on the 1/16 sqrt-composable grid
    (:func:`temperature_mix_plan`'s determinism rule — libm pow is
    refused) quantized to 1e-12 BIGINTs before the normalization sum,
    target tokens ``floor(budget·q_g)``, and epochs over the source
    ``floor(1e6·target/T_g)`` capped at ``max_epochs_q`` micro-epochs
    (repeating a small source beyond ~4 epochs measurably degrades
    models — Muennighoff et al. 2023, "Scaling Data-Constrained LMs").
    ``capped`` groups report the cap and their actually-drawn tokens;
    the single-pass plan does NOT silently redistribute a capped
    group's undershoot — re-run with the residual budget over the
    uncapped groups to water-fill, each pass a groups-sized frame.

    overflow: targets are doubles below 2^53 for any budget under
    9e15 tokens (100 TB of text is ~2e13 tokens) — asserted below;
    token sums are exact BIGINTs.

    Scale shape: ONE groups-sized sum aggregate over (group, tokens);
    everything after runs on the groups frame."""
    k16 = _alpha_sixteenths(alpha)
    if not 0 < budget_tokens < 2**53:
        raise ValueError(
            f"epoch_plan: budget_tokens must be in (0, 2^53), got {budget_tokens}"
        )
    if max_epochs_q < 1:
        raise ValueError(f"epoch_plan: max_epochs_q must be >= 1, got {max_epochs_q}")
    per = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.sum(F.col(token_col)).cast("bigint").alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
    )
    w_all = Window.partitionBy()
    out = per.withColumn("__tot", F.sum("n_tokens").over(w_all)).withColumn(
        "__share",
        F.col("n_tokens").cast("double") / F.col("__tot").cast("double"),
    )
    # q_g ∝ share^α quantized to exact 1e-12 BIGINTs BEFORE the
    # normalization sum (the temperature_mix_plan pattern — integer
    # sums are addition-order free)
    out = out.withColumn(
        "__wq",
        F.floor(_sqrt_pow(F.col("__share"), k16) * F.lit(1e12) + F.lit(0.5)).cast(
            "bigint"
        ),
    ).withColumn("__wsum", F.sum("__wq").over(w_all))
    target = F.floor(
        F.lit(float(budget_tokens))
        * (F.col("__wq").cast("double") / F.col("__wsum").cast("double"))
    ).cast("bigint")
    out = out.withColumn("target_tokens", target)
    epochs_q = F.floor(
        F.col("target_tokens").cast("double")
        * F.lit(1e6)
        / F.col("n_tokens").cast("double")
    ).cast("bigint")
    out = out.withColumn("__eq", epochs_q)
    capped = F.col("__eq") > max_epochs_q
    drawn = F.when(
        capped,
        F.floor(
            F.col("n_tokens").cast("double") * F.lit(float(max_epochs_q)) / F.lit(1e6)
        ).cast("bigint"),
    ).otherwise(F.col("target_tokens"))
    return out.select(
        group_col,
        "n_tokens",
        F.round(
            F.col("__wq").cast("double") / F.col("__wsum").cast("double"), 6
        ).alias("mix_weight"),
        "target_tokens",
        F.least(F.col("__eq"), F.lit(max_epochs_q)).alias("epochs_q"),
        capped.alias("capped"),
        drawn.alias("drawn_tokens"),
    )


# ---------------------------------------------------------------------------
# in-context pretraining ordering (Shi et al. 2024)
# ---------------------------------------------------------------------------

def icp_order(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    m: int = 4,
    cents: Optional[DataFrame] = None,
    max_cell_size: Optional[int] = 200_000,
    salt: Optional[int] = None,
) -> DataFrame:
    """In-context pretraining document ordering (Shi et al. 2024,
    "In-Context Pretraining: Language Modeling Beyond Document
    Boundaries"): order the corpus so retrieval-related documents land
    adjacent — the published recipe builds a top-``m`` semantic
    neighbor graph and walks it greedily (their traveling-salesman
    heuristic), so consecutive documents in a packed context window
    are topically linked instead of i.i.d.

    Scale adaptation (the SemDeDup cell discipline): a corpus-global
    greedy walk is inherently sequential, so the walk runs PER
    TRAINED k-means CELL — ``kmeans_centroids`` (deterministic
    hash-sampled seeds, quantized means) bounds both the candidate
    pair set (self-equi-join on ``cell``, never cartesian) and the
    walk state.  Within a cell: top-``m`` neighbors per document by
    exact cosine (quantized to micro-unit BIGINTs so every comparison
    the walk makes is integer-exact across engines), then the greedy
    chain from the smallest id — repeatedly hop to the unvisited
    neighbor with the largest ``sim_q`` (ties to the smallest id);
    when the frontier is exhausted, restart at the smallest unvisited
    id with a NULL link.  The walk itself is an Arrow-batched
    cogrouped ``applyInPandas`` over INTEGER edges only — no float
    enters Python — and costs O(cell · m) per task.  At 100 TB, size
    ``k`` so cells are ~10-100k docs (the SemDeDup sizing): pair
    generation is the certified semantic_dup_pairs shape and each
    cell's walk is one bounded task.  That sizing contract is
    ENFORCED, not advisory: after assignment one k-sized aggregate
    checks the largest cell against ``max_cell_size`` (default 200k)
    and refuses loudly past it — the Bloom-saturation discipline,
    because a silently mis-sized k turns the within-cell pair join
    quadratic.  Pass ``max_cell_size=None`` to accept the cost
    knowingly.

    The within-cell pair join is skew-salted when ``k`` is below
    cluster width (``salt`` tasks per cell, derived from
    ``defaultParallelism``; explicit ``salt=1`` pins the unsalted
    plan): with few cells the O(cell²) cosine stage otherwise lands on
    k tasks regardless of cores, and AQE cannot split a single join
    key below its size thresholds.  The pair set — and so every edge,
    sim_q and walk step — is identical under any salt.

    Zero-norm and NULL embeddings produce NULL cosines; those edges
    are dropped at the edge build (the dedup.py NULL-cosine rule), so
    such documents still appear in the output — ordered through the
    restart path with a NULL ``link_sim_q`` — instead of feeding NaN
    into the integer walk.

    Returns (vec_id, cell, pos, link_sim_q): global order is
    (cell, pos); ``link_sim_q`` is the quantized similarity to the
    PREVIOUS document (NULL at cell starts and restarts).  Feed the
    (cell, pos) order into :func:`pack_sequences` for ICP-ordered
    context packing."""
    import pandas as pd

    from rheoceros_spark.functions.portable import dot
    from rheoceros_spark.operators.scale import ensure_parallelism
    from rheoceros_spark.operators.similarity import ivf_assign, kmeans_centroids

    if m < 1:
        raise ValueError(f"icp_order: m must be >= 1, got {m}")
    base = ensure_parallelism(
        df.where(F.col(id_col).isNotNull()).select(id_col, vec_col)
    )
    if cents is None:
        cents = kmeans_centroids(base, k, iters, vec_col, id_col)
    cents, _ = collect_local(cents)
    # three consumers (both pair branches + the id list) read the
    # broadcast-assign argmax
    assigned = checkpoint(ivf_assign(base, k, vec_col, id_col, cents=cents))
    if max_cell_size is not None:
        # one k-sized aggregate (bounded artifact — k rows reach the
        # driver); the count also materializes the lazy checkpoint the
        # pair branches reuse, so the guard costs no extra corpus pass
        sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__n")).collect()
        worst = max((int(r["__n"]) for r in sizes), default=0)
        if worst > max_cell_size:
            raise ValueError(
                f"icp_order: largest k-means cell holds {worst} docs, over "
                f"max_cell_size={max_cell_size} — within-cell pair generation "
                "is O(cell^2), so raise k until cells sit in the ~10-100k-doc "
                "SemDeDup band (or pass max_cell_size=None to accept the "
                "quadratic cost knowingly)"
            )
    v = F.col(vec_col)
    e = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        # scalar norm, not a pre-normalized vector (the Catalyst
        # inlining measurement in embedding_dup_pairs_blocked)
        F.sqrt(dot(v, v)).alias("__n"),
    )
    a = e.select(
        "cell", F.col("__id").alias("a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = e.select(
        F.col("cell").alias("__cellb"),
        F.col("__id").alias("b"),
        F.col("__v").alias("vb"),
        F.col("__n").alias("nb"),
    )
    sim_q = F.round(
        F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")) * 1e6,
        0,
    ).cast("bigint")
    # Skew salt (guide-§2.5 shape): the pair join's only key is `cell`,
    # so with few cells — k below cluster width, exactly the small-k
    # regime this operator's fixed-k contract allows — the O(cell²)
    # dot-product stage lands on k tasks no matter how many cores
    # exist (AQE cannot split a single join key below its size
    # thresholds).  Salting the a-side by hash(a) and exploding the
    # b-side `salt` ways splits every cell into `salt` tasks; the pair
    # set is unchanged (each (a, b) pair joins exactly once, under a's
    # salt).  `salt` is derived from cluster width, NOT a constant: it
    # collapses to 1 (plan unchanged, no b-side duplication) as soon as
    # k alone spreads the join — at 100 TB-scale k (cells ~10-100k
    # docs ⇒ k ≫ cores) the salt is a no-op, while a small-k run gets
    # every core.  Measured at sf0.1 (k=8, 32 cores): the
    # pairs+top-m stage 8.8 s → 4.1 s.  ``salt=None`` derives from
    # cluster width; pass an explicit value to pin it (1 disables).
    if salt is None:
        # r15: 4x-cores numerator (was 1x, cap 16).  With the r14
        # global 64 KB AQE-coalescing floor removed (it taxed every
        # small shuffle in the suite — see session.py), the salted
        # pair stage must carry enough post-shuffle bytes that AQE's
        # DEFAULT byte-based coalescing keeps it wide: the b-side
        # explode multiplies its exchange by `salt`, so a larger salt
        # is precisely what keeps the |cell|² CPU spread (measured at
        # sf0.1 k=8/32 cores: salt=16 ~7.5 s vs salt=4 ~10.4 s for
        # icp_order).  Still collapses to 1 — no duplication, plan
        # unchanged — once k >= 4x cluster width, the 100 TB regime;
        # the pair set is salt-invariant (tested).
        salt = max(
            1,
            min(
                32,
                -(-(4 * df.sparkSession.sparkContext.defaultParallelism) // max(k, 1)),
            ),
        )
    elif salt < 1:
        raise ValueError(f"icp_order: salt must be >= 1, got {salt}")
    if salt > 1:
        a = a.withColumn("__salt", F.pmod(F.xxhash64("a"), F.lit(salt)).cast("int"))
        b = b.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        directed = a.join(
            b, (a["cell"] == b["__cellb"]) & (a["__salt"] == b["__salt"])
        )
    else:
        directed = a.join(b, a["cell"] == b["__cellb"])
    directed = (
        directed.where(F.col("a") != F.col("b"))
        .select("cell", "a", "b", sim_q.alias("sim_q"))
        # zero-norm / NULL embeddings: try_divide yields NULL — such
        # edges would outrank nothing (NULLS LAST) yet still slip into
        # the top-m whenever a doc has < m non-null neighbors, then
        # reach the walk as NaN in an int conversion.  Drop them; the
        # affected docs enter the order via the restart path.
        .where(F.col("sim_q").isNotNull())
    )
    w = Window.partitionBy("cell", "a").orderBy(
        F.col("sim_q").desc(), F.col("b").asc()
    )
    edges = (
        directed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= m)
        # the cogroup pairs edges with ids, both descended from
        # `assigned` — rename the edge side's grouping key so the two
        # grouped children share NO attribute (the analyzer rejects a
        # self-referential cogroup as an ambiguous self-join otherwise)
        .select(F.col("cell").alias("__ecell"), "a", "b", "sim_q")
    )
    ids = assigned.select("cell", F.col(id_col).alias("vec_id"))

    def _walk(idpdf: pd.DataFrame, edpdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(idpdf["cell"].iloc[0])
        unvisited = set(int(x) for x in idpdf["vec_id"])
        adj: dict[int, list[tuple[int, int]]] = {}
        if len(edpdf):
            for aa, bb, qq in zip(edpdf["a"], edpdf["b"], edpdf["sim_q"]):
                adj.setdefault(int(aa), []).append((int(qq), int(bb)))
        order: list[tuple[int, Optional[int]]] = []
        cur: Optional[int] = None
        while unvisited:
            if cur is not None:
                cands = [(q, bb) for q, bb in adj.get(cur, []) if bb in unvisited]
            else:
                cands = []
            if cands:
                q, nxt = max(cands, key=lambda t: (t[0], -t[1]))
                order.append((nxt, q))
            else:
                nxt = min(unvisited)
                order.append((nxt, None))
            unvisited.discard(nxt)
            cur = nxt
        return pd.DataFrame(
            {
                "vec_id": pd.Series([o[0] for o in order], dtype="int64"),
                "cell": pd.Series([cell] * len(order), dtype="int64"),
                "pos": pd.Series(range(len(order)), dtype="int64"),
                "link_sim_q": pd.Series([o[1] for o in order], dtype="Int64"),
            }
        )

    return (
        ids.groupBy("cell")
        .cogroup(edges.groupBy("__ecell"))
        .applyInPandas(
            _walk, "vec_id bigint, cell bigint, pos bigint, link_sim_q bigint"
        )
    )
