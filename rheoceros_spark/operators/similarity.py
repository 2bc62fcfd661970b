"""Similarity search over embedding columns (``array<float>``).

Two tiers:

* :func:`cosine_topk` — exact brute-force top-k: broadcast the query
  vector, one pass over the table, per-row fold for the dot product
  (JVM-side ``zip_with`` + ``aggregate``, no Python), then
  ``ORDER BY sim DESC LIMIT k`` which Spark executes as a
  **TakeOrdered** (per-partition heap + driver merge) — no full sort,
  no full shuffle.  This is the right plan even at 100 TB: cost is one
  scan, and the scan prunes to (id, vec) columns.
* :func:`hyperplane_buckets` / :func:`ann_lsh_topk` — the scale path:
  random-hyperplane (sign) LSH.  The plane matrix is a tiny
  deterministic constant (derived from md5, materialized as a literal
  — broadcast for free in the plan); each row computes a ``nbits``-bit
  signature with per-row folds, candidates share the query's bucket,
  exact rerank inside the bucket.  Deterministic-approximate: same
  construction in any engine yields the same result, so it is still
  oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rheoceros_spark.functions.portable import cosine, dot, h64
from rheoceros_spark.operators.scale import checkpoint, collect_local


def plane_matrix(nbits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign from md5 of ``"{i}:{d}"``.

    Matches ``CAST(('0x'||substr(md5(i||':'||d),1,15)) AS BIGINT) & 1``
    in SQL, so an oracle can rebuild the identical matrix.
    """
    return [
        [
            1.0 if int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:15], 16) & 1 else -1.0
            for d in range(dim)
        ]
        for i in range(nbits)
    ]


def _ranked_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Shared top-k contract of every similarity entry point: order by
    (cos desc, id asc) — total, reproducible — take k, emit (id, rank,
    cos_r).  The post-limit window runs over ≤ k rows, so the
    unpartitioned Window is k-sized, never data-sized."""
    order = [F.col("cos").desc(), F.col(id_col).asc()]
    return (
        scored.orderBy(*order)
        .limit(k)
        .select(
            F.col(id_col),
            F.row_number().over(Window.orderBy(*order)).alias("rank"),
            F.round("cos", 6).alias("cos_r"),
        )
    )


def _check_vec_dim(df: DataFrame, vec_col: str, dim: int, what: str) -> None:
    """Fail LOUDLY when ``dim`` disagrees with the actual vector
    length.  ``zip_with`` pads the shorter array with NULLs, so a
    mismatch makes every plane dot NULL → every signature 0 → one
    global bucket → the O(n²) self-join the blocking exists to
    prevent, with no error.  One driver-side 1-row probe."""
    row = df.select(F.size(F.col(vec_col)).alias("n")).take(1)
    if row and row[0]["n"] != dim:
        raise ValueError(
            f"{what}: dim={dim} but {vec_col!r} vectors have "
            f"{row[0]['n']} elements — signatures would degenerate to one bucket"
        )


def _one_query_row(q: DataFrame, what: str):
    """Fail LOUDLY when the query id matches nothing — an empty
    broadcast side would otherwise produce a plausible empty top-k,
    indistinguishable from 'no neighbors'.  One driver-side take(1)
    on a 1-row frame."""
    if not q.take(1):
        raise ValueError(f"{what}: query id matched no row")


def cosine_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k most-cosine-similar rows to ``query_id`` (excluded).

    Returns (id, rank, cos_r) ordered by (sim desc, id asc) — ties
    broken by id so the result is total-ordered and reproducible.
    """
    # r14 norm hoist (guide §1.2): the query-side norm is the same for
    # every corpus row — compute it once inside the 1-row broadcast
    # instead of re-folding dot(q, q) per row.  try_divide(dot(v, q),
    # sqrt(dot(v, v))·nq) is the same operations in the same IEEE order
    # cosine() used, so every value is bit-identical.
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nq"),
    )
    _one_query_row(q, "cosine_topk")
    v = F.col(vec_col)
    sims = (
        df.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.try_divide(
                dot(v, F.col("__qv")),
                F.sqrt(dot(v, v)) * F.col("__nq"),
            ).alias("cos"),
        )
    )
    return _ranked_topk(sims, id_col, k)


def cosine_topk_multi(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Batch exact top-k: the multi-query form of :func:`cosine_topk`
    — every query in ``queries`` (a (query_id, vec) frame) scored
    against the corpus in ONE plan.  The query frame **broadcasts**
    (query batches are ~KBs against a ~100 TB corpus, the bm25_topk
    vocabulary argument), the corpus side is scan → broadcast-join →
    cosine → per-query WindowGroupLimit top-k — the corpus is read
    once for the whole batch instead of once per query, and never
    shuffles by itself: the only exchange carries ≤ |queries| × |corpus
    matched| scored rows hashed by query.

    ``exclude_self`` drops the ``id == query_id`` row (the
    :func:`cosine_topk` convention when queries are corpus members).
    Ties break on ascending id; ``cos_r`` is the 6-dp rounded cosine,
    ordering happens on the raw ordered-fold value (bit-identical in
    the SQL twin).  Returns (query_id, id, rank, cos_r)."""
    if k < 1:
        raise ValueError(f"cosine_topk_multi: k must be >= 1, got {k}")
    qv = query_vec_col or vec_col
    # r14 norm hoist (guide §1.2): both sides' norms are loop-invariant
    # across the |queries| × |corpus| fan-out — the corpus norm is
    # projected once per corpus row BELOW the broadcast join and the
    # query norm once per query row inside the broadcast build, so the
    # per-pair work drops from three dim-wide folds to one dot fold.
    # try_divide(dot(c, q), nc·nq) keeps cosine()'s exact operand
    # order, so every value is bit-identical.
    q = queries.select(
        F.col(query_id_col),
        F.col(qv).alias("__qv"),
        F.sqrt(dot(F.col(qv), F.col(qv))).alias("__nq"),
    ).where(F.col(query_id_col).isNotNull())
    v = F.col(vec_col)
    corpus = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col), v, F.sqrt(dot(v, v)).alias("__nc")
    )
    joined = corpus.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.try_divide(
            dot(v, F.col("__qv")), F.col("__nc") * F.col("__nq")
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "rank", F.round("cos", 6).alias("cos_r")
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): combine any number
    of per-query rankings — sparse BM25, dense ANN, whatever emits
    (query, id, rank) — by ``score(d) = Σ_lists 1/(k_rrf + rank_l(d))``,
    the standard hybrid-retrieval merge (rank-based, so the lists'
    incomparable score scales never need calibration).

    Bit-exact across engines by the house discipline: each list
    contribution is ``floor(1e7 / (k_rrf + rank))`` — one IEEE-exact
    division then floor, no half-way rounding cases at ANY k_rrf —
    summed as integers (addition-order independent), divided back once
    at the end.  Ties break on ascending id.

    Scale shape: inputs are already per-query top-k frames (k-bounded
    per query), so the union + groupBy shuffles ≤ |lists|·k rows per
    query — query-batch-sized, never corpus-sized.  Returns
    (query, id, rrf_score, n_lists, rank ≤ k)."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k < 1 or k_rrf < 1:
        raise ValueError(f"rrf_fuse: k and k_rrf must be >= 1, got {k}, {k_rrf}")
    from functools import reduce

    contribs = [
        r.select(
            F.col(query_col),
            F.col(id_col),
            F.floor(
                F.lit(1e7) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))
            )
            .cast("bigint")
            .alias("__c"),
        )
        for r in rankings
    ]
    u = reduce(DataFrame.unionByName, contribs)
    agg = u.groupBy(query_col, id_col).agg(
        F.sum("__c").alias("__rrf_q"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("__rrf_q").desc(), F.col(id_col).asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            query_col,
            id_col,
            (F.col("__rrf_q").cast("double") / F.lit(1e7)).alias("rrf_score"),
            "n_lists",
            "rank",
        )
    )


def _dcg_weights_q(k: int) -> list[int]:
    """Quantized DCG position weights: ``round(1e7·ln2/ln(r+1))`` for
    ranks 1..k — computed ONCE in Python and embedded as plan literals
    in BOTH engines, so the weights are bit-equal by construction (no
    per-engine log2 evaluation anywhere)."""
    import math

    return [round(1e7 * math.log(2.0) / math.log(r + 1.0)) for r in range(1, k + 1)]


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Per-query retrieval-quality metrics over any (query, id, rank)
    result frame — BM25, dense ANN, hybrid RRF, MMR all emit this shape
    — against a binary relevance table ``qrels`` (query, id):

    * ``n_rel``          — relevant docs for the query (from qrels)
    * ``hits_at_k``      — relevant docs inside the top-k
    * ``precision_at_k`` / ``recall_at_k`` — the usual ratios
    * ``first_rel_rank`` — rank of the first relevant hit (0 if none —
      kept non-nullable: nullable ints degrade to float in Arrow/pandas
      consumers, the pr_curve rule)
    * ``mrr``            — 1/first_rel_rank (0.0 if none in top-k)
    * ``ndcg``           — DCG@k / ideal-DCG@k (NULL when n_rel = 0)

    Bit-exact by the house discipline, with one twist for the log:
    the DCG position weights ``1/log2(rank+1)`` are NOT evaluated by
    either engine — :func:`_dcg_weights_q` quantizes them once in
    Python and both the Spark plan and the SQL oracle embed the SAME
    integer literals, so there is no libm seam at all.  DCG is then an
    exact integer sum of table lookups; the ideal DCG is the prefix sum
    of the same table at ``min(k, n_rel)`` (binary relevance makes the
    ideal ranking a closed form); ratios are ``·1e6 div``-quantized.

    Ranks are 1-BASED (row_number convention — every ranking operator
    here emits it); rows with rank < 1 or > k are filtered out rather
    than crashing the DCG table lookup on a 0-based frame.

    A retrieval system can return ZERO rows for a query (BM25 with no
    matching term) — such queries are absent from ``results`` and
    would silently vanish from the metric frame, overstating averages
    by excluding exactly the complete misses (review-caught).  Pass
    ``queries`` (a frame with ``query_col``, e.g. the query set you
    evaluated) to report those as explicit zero rows: hits 0, mrr 0.0,
    recall/ndcg 0.0 when the query has relevant docs (NULL when it has
    none to find).

    Scale shape: ``results`` is k-bounded per query and ``qrels`` joins
    by (query, id) equi-keys — everything downstream of retrieval is
    query-batch-sized; the corpus is never touched.  Queries present in
    ``results`` but absent from ``qrels`` report ``n_rel`` 0.
    """
    if k < 1:
        raise ValueError(f"retrieval_metrics: k must be >= 1, got {k}")
    w_q = _dcg_weights_q(k)
    idcg_prefix = [0]
    for v in w_q:
        idcg_prefix.append(idcg_prefix[-1] + v)
    weights = F.array(*[F.lit(v) for v in w_q])
    ideal = F.array(*[F.lit(v) for v in idcg_prefix])

    rel = qrels.select(
        F.col(query_col), F.col(id_col), F.lit(1).alias("__rel")
    ).distinct()
    n_rel = rel.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    # qrels are judgment labels — human- or heuristic-label-bounded
    # (KBs..MBs), never corpus-sized — so both the relevance probe and
    # the per-query totals broadcast: the metric layer adds ZERO
    # shuffles on top of the retrieval output
    j = (
        results.where((F.col(rank_col) >= 1) & (F.col(rank_col) <= k))
        .join(F.broadcast(rel), [query_col, id_col], "left")
        .withColumn("__hit", F.coalesce(F.col("__rel"), F.lit(0)))
    )
    per = j.groupBy(query_col).agg(
        F.sum("__hit").cast("bigint").alias("hits_at_k"),
        F.coalesce(
            F.min(F.when(F.col("__hit") == 1, F.col(rank_col))), F.lit(0)
        ).alias("first_rel_rank"),
        F.sum(
            F.when(
                F.col("__hit") == 1, F.element_at(weights, F.col(rank_col))
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__dcg_q"),
    )
    if queries is not None:
        universe = queries.select(query_col).distinct()
        per = universe.join(per, query_col, "left").select(
            F.col(query_col),
            F.coalesce(F.col("hits_at_k"), F.lit(0).cast("bigint")).alias(
                "hits_at_k"
            ),
            F.coalesce(F.col("first_rel_rank"), F.lit(0)).alias("first_rel_rank"),
            F.coalesce(F.col("__dcg_q"), F.lit(0).cast("bigint")).alias("__dcg_q"),
        )
    out = (
        per.join(F.broadcast(n_rel), query_col, "left")
        .withColumn("n_rel", F.coalesce(F.col("n_rel"), F.lit(0).cast("bigint")))
        .withColumn(
            "__idcg_q",
            F.element_at(
                ideal, F.least(F.lit(k), F.col("n_rel").cast("int")) + F.lit(1)
            ).cast("bigint"),
        )
    )
    q6 = lambda num, den: F.expr(f"{num} * 1000000L div {den}").cast("double") / F.lit(
        1e6
    )
    return out.select(
        query_col,
        "n_rel",
        "hits_at_k",
        q6("hits_at_k", str(k)).alias("precision_at_k"),
        F.when(F.col("n_rel") > 0, F.expr("hits_at_k * 1000000L div n_rel"))
        .cast("double")
        .alias("__rq"),
        "first_rel_rank",
        F.coalesce(
            F.expr("1000000L div nullif(first_rel_rank, 0)").cast("double")
            / F.lit(1e6),
            F.lit(0.0),
        ).alias("mrr"),
        F.when(F.col("n_rel") > 0, F.expr("__dcg_q * 1000000L div __idcg_q"))
        .cast("double")
        .alias("__nq"),
    ).select(
        query_col,
        "n_rel",
        "hits_at_k",
        "precision_at_k",
        (F.col("__rq") / F.lit(1e6)).alias("recall_at_k"),
        "first_rel_rank",
        "mrr",
        (F.col("__nq") / F.lit(1e6)).alias("ndcg"),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the compressed-store
    path for a standing ~100 TB embedding corpus: 4× fewer scan bytes
    than float32, and downstream similarity becomes exact INTEGER
    arithmetic (see :func:`qdot`), which is what makes a quantized
    index oracle-checkable at all.

    ``q_i = floor(v_i·127/maxabs + 0.5)`` (half-up via the IEEE-exact
    ``floor(x + 0.5)`` — never the engine's ``round``, whose half-even
    vs half-away behavior differs across engines), codes in
    ``[-127, 127]``; ``scale = maxabs/127`` dequantizes.  An all-zero
    vector yields all-zero codes with scale 0.0.  Per-vector scales
    cancel in cosine, so quantized ranking needs only the codes.

    Pure per-row projection — no shuffle, no Python; runs inside the
    scan stage, so writing the quantized store is a single pass."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    codes = F.when(
        maxabs == F.lit(0.0),
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            v,
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / maxabs + F.lit(0.5)
            ).cast("int"),
        )
    )
    return df.select(
        F.col(id_col),
        codes.alias(code_col),
        (maxabs / F.lit(127.0)).alias(scale_col),
    )


def qdot(a, b):
    """Integer dot product of two int-code arrays as BIGINT — exact,
    accumulation-order independent, bit-identical in any engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def qcosine(a, b):
    """Cosine over int8 codes: exact integer dots, one IEEE-exact
    sqrt/division pair on top — deterministic across engines.  NULL on
    a zero-code vector (sorts last desc), like :func:`~rheoceros_spark.
    functions.portable.cosine`."""
    return F.try_divide(
        qdot(a, b).cast("double"),
        F.sqrt(qdot(a, a).cast("double")) * F.sqrt(qdot(b, b).cast("double")),
    )


def ann_int8_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    candidates: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact-rerank top-k over the int8-quantized corpus — the
    production scan-compressed ANN shape: the hot scan touches only
    (id, int8 codes) (~4× fewer bytes than the fp32 store), quantized
    cosine picks ``candidates`` (default 4k) via TakeOrdered, then the
    fp32 vectors of ONLY those candidates are re-read (broadcast
    id-semijoin — candidate-bounded, never a second full-corpus
    shuffle) for exact cosine rerank.

    Candidate selection is deterministic (exact integer dots, ties on
    id), so the whole operator stays bit-identical across engines
    despite being two-stage approximate-then-exact.  Returns
    (id, rank, cos_r) — the ANN-family contract."""
    if k < 1:
        raise ValueError(f"ann_int8_topk: k must be >= 1, got {k}")
    n_cand = candidates if candidates is not None else 4 * k
    if n_cand < k:
        raise ValueError(
            f"ann_int8_topk: candidates={n_cand} must be >= k={k}"
        )
    qz = quantize_embeddings(df, vec_col=vec_col, id_col=id_col)
    q = qz.where(F.col(id_col) == query_id).select(F.col("qvec").alias("__qq"))
    _one_query_row(q, "ann_int8_topk")
    cand = (
        qz.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), qcosine(F.col("qvec"), F.col("__qq")).alias("qcos"))
        .orderBy(F.col("qcos").desc(), F.col(id_col).asc())
        .limit(n_cand)
        .select(id_col)
    )
    qv = df.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("__qv"))
    rer = (
        df.join(F.broadcast(cand), on=id_col, how="inner")
        .crossJoin(F.broadcast(qv))
        .select(F.col(id_col), cosine(F.col(vec_col), F.col("__qv")).alias("cos"))
    )
    return _ranked_topk(rer, id_col, k)


def mmr_rerank(
    cands: DataFrame,
    k: int = 5,
    lam_q: int = 700,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "qrel",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998) — the standard rerank between retrieval and a RAG
    context window: greedily pick ``k`` of each query's candidates,
    trading relevance against redundancy with what's already picked:
    ``score(d) = lam·rel(d) − (1−lam)·max_{s∈S} sim(d, s)``.

    Inputs are per-query candidate frames (query, id, ``rel_col`` a
    BIGINT-quantized relevance, vector) — k-bounded per query from a
    top-k retrieval stage, so every join here is query-batch-sized;
    the corpus is never touched.  Pairwise candidate sims are computed
    once by a per-query self-join (c² rows per query, c = candidate
    count), quantized ``floor(cos·1e7)``; ``lam_q`` is λ·1000, and the
    greedy scores are exact integer arithmetic — the selection is
    bit-reproducible in any engine, which is what lets a DuckDB twin
    replay it CTE-by-CTE.  Greedy selection is inherently sequential in
    k, so the k rounds are unrolled into the plan (k is small by
    construction: a context window holds a handful of passages).

    Step 1 picks argmax relevance (the empty-set convention); ties
    break on ascending id at every step.  Returns (query, id, step ∈
    1..k, mmr_score = score/1e7).

    Execution shape (r14 rewrite, guide §1.2/§2.4): the pairwise sims
    stay a JVM self-join (floats never enter Python), but the k greedy
    rounds — previously unrolled into the plan as k·(anti-join +
    maxsim join + window + union + checkpoint), i.e. ~4k tiny stages
    and a driver job per checkpoint over query-batch-sized frames —
    collapse into ONE cogrouped Arrow ``applyInPandas`` per query
    (the icp_order walk shape).  Only INTEGERS cross the boundary
    (``rel_col``/qsim are BIGINT by contract), every comparison the
    greedy makes is integer-exact, and the score→double division
    happens in the JVM exactly as before, so the output is
    bit-identical to the unrolled plan (parity: the same DuckDB oracle
    replays the rounds CTE-by-CTE).  Measured at sf0.1: 3.0 s → ~1 s
    per call; at any scale the candidate frames are query-batch-sized,
    so one shuffle beats 4k of them."""
    import pandas as pd

    if k < 1:
        raise ValueError(f"mmr_rerank: k must be >= 1, got {k}")
    if not 0 <= lam_q <= 1000:
        raise ValueError(f"mmr_rerank: lam_q must be in [0, 1000], got {lam_q}")
    base = checkpoint(
        cands.select(F.col(query_col), F.col(id_col), F.col(rel_col), F.col(vec_col))
    )
    a = base.select(
        F.col(query_col),
        F.col(id_col).alias("__a"),
        F.col(vec_col).alias("__va"),
    )
    b = base.select(
        F.col(query_col),
        F.col(id_col).alias("__b"),
        F.col(vec_col).alias("__vb"),
    )
    pair = (
        a.join(b, on=query_col)
        .where(F.col("__a") != F.col("__b"))
        .select(
            # the cogroup pairs rels with pairs, both descended from
            # `base` — alias EVERY pair-side column so the two grouped
            # children share no attribute (the icp_order cogroup rule)
            F.col(query_col).alias("__pq"),
            "__a",
            "__b",
            F.floor(cosine(F.col("__va"), F.col("__vb")) * F.lit(1e7))
            .cast("bigint")
            .alias("__qsim"),
        )
    )
    rels = base.select(query_col, id_col, rel_col)
    lam, one_m_lam = int(lam_q), 1000 - int(lam_q)
    schema = cands.schema
    qt = schema[query_col].dataType.simpleString()
    it = schema[id_col].dataType.simpleString()

    def _to_int(x):
        return None if pd.isna(x) else int(x)

    def _greedy(rpdf: pd.DataFrame, ppdf: pd.DataFrame) -> pd.DataFrame:
        # NULL-safe orderings replicated from the window spec: score
        # DESC NULLS LAST, id ASC NULLS FIRST — a None score loses to
        # any integer, a None id wins an id tie
        def beats(cand, best):
            (s1, i1), (s2, i2) = cand, best
            if (s1 is None) != (s2 is None):
                return s2 is None
            if s1 != s2 and s1 is not None:
                return s1 > s2
            if (i1 is None) != (i2 is None):
                return i1 is None
            return i1 is not None and i1 < i2

        rel: dict = {}
        qval = None
        for qv, iv, rv in zip(
            rpdf[query_col], rpdf[id_col], rpdf[rel_col]
        ):
            qval = qv
            iid = None if pd.isna(iv) else iv
            rel[iid] = _to_int(rv)
        # qsim lookup keyed by picked id: picked → {other → qsim}
        sims: dict = {}
        if len(ppdf):
            for aa, bb, qq in zip(ppdf["__a"], ppdf["__b"], ppdf["__qsim"]):
                if pd.isna(aa) or pd.isna(bb):
                    continue  # NULL endpoints never join back to an id
                sims.setdefault(bb, {})[aa] = _to_int(qq)
        out_q, out_i, out_s, out_sc = [], [], [], []
        remaining = dict(rel)
        picked: list = []
        for step in range(1, k + 1):
            best = None
            best_key = (None, None)
            for iid, rv in remaining.items():
                if step == 1:
                    score = None if rv is None else lam * rv
                else:
                    # step ≥ 2: the maxsim join is INNER on the id, so
                    # a NULL-id candidate (never equi-joinable) drops out
                    if iid is None:
                        continue
                    mx, seen = None, False
                    for p in picked:
                        m = sims.get(p, {})
                        if iid in m:
                            v = m[iid]
                            if v is not None and (mx is None or v > mx):
                                mx = v
                            seen = True
                    if not seen:
                        continue  # no pair row at all → inner join drops it
                    score = (
                        None
                        if rv is None or mx is None
                        else lam * rv - one_m_lam * mx
                    )
                    if rv is not None and mx is None:
                        # lam*rel − oml*NULL is NULL in SQL
                        score = None
                key = (score, iid)
                if best is None or beats(key, best_key):
                    best, best_key = iid, key
            if best is None and not remaining:
                break
            if step >= 2 and best is None:
                break  # every remaining candidate dropped by the inner join
            out_q.append(qval)
            out_i.append(best)
            out_s.append(step)
            out_sc.append(best_key[0])
            picked.append(best)
            remaining.pop(best, None)
            if not remaining:
                break
        return pd.DataFrame(
            {
                query_col: pd.Series(out_q),
                id_col: pd.Series(out_i),
                "step": pd.Series(out_s, dtype="int32"),
                "__score": pd.Series(out_sc, dtype="Int64"),
            }
        )

    selected = (
        rels.groupBy(query_col)
        .cogroup(pair.groupBy("__pq"))
        .applyInPandas(
            _greedy,
            f"{query_col} {qt}, {id_col} {it}, step int, __score bigint",
        )
    )
    return selected.select(
        F.col(query_col),
        F.col(id_col),
        F.col("step"),
        (F.col("__score").cast("double") / F.lit(1e7 * 1000.0)).alias(
            "mmr_score"
        ),
    )


def signature_col(vec_col: str, planes: list[list[float]]):
    """``nbits``-bit bucket signature of a vector column: bit i =
    (v · plane_i) > 0, folded per-row, planes as literal arrays.

    Built as ONE SQL expression string: each higher-order-function
    Column costs ~10 ms of py4j round-trips at plan-build time, and
    tables × nbits of them made driver-side CONSTRUCTION the dominant
    cost of the LSH-blocked operators (measured 1.3–1.4 s of
    dedup_embedding_blocked / semantic_decon wall; execution was
    0.3–0.9 s).  One ``F.expr`` parses JVM-side in a single round-trip
    and yields the identical analyzed expression — same left-fold dot,
    same bit weights."""
    terms = []
    vec_ref = f"`{vec_col}`"  # backquote: F.col-style resolution for any name
    for i, plane in enumerate(planes):
        lits = ", ".join(_dlit(v) for v in plane)
        d = (
            f"aggregate(zip_with({vec_ref}, array({lits}), "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << i}L ELSE 0L END)")
    return F.expr(" + ".join(terms))


def hyperplane_buckets(
    df: DataFrame,
    nbits: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``bucket`` (bigint) — the LSH partition key for co-locating
    similar vectors (repartition on it for bucket-local joins)."""
    return df.withColumn("bucket", signature_col(vec_col, plane_matrix(nbits, dim)))


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic IVF 'centroids': the ``n_centroids`` vectors whose
    ids hash lowest — a hash-sample of the corpus.  A production
    deployment trains k-means offline and ships the codebook; the
    cell-assignment / probe machinery below is identical either way,
    and hash-sampling keeps the whole operator reproducible (and
    oracle-checkable) with zero training state."""
    return (
        df.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            h64(F.col(id_col).cast("string")).alias("__hk"),
        )
        .orderBy("__hk", "cid")
        .limit(n_centroids)
        .drop("__hk")
    )


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (``cell``) with
    ZERO shuffle of the corpus (guide §2.3/§2.4): the ≤k-row centroid
    table is packed into ONE broadcast row holding a cid-sorted
    ``array<struct<cid, cv>>``, attached by a single-row broadcast
    nested-loop join, and the argmax is a row-local fold over that
    array.  The r14 rewrite: the previous shape
    (``crossJoin(k) → groupBy(id).agg(max_by(...))``) shuffled n rows
    *carrying the full embedding payload* through the argmax aggregate
    — one full-corpus exchange per assignment, and k-means training
    paid it every Lloyd round.  The fold reproduces
    ``max_by(cid, struct(sim, -cid))`` exactly: NULL cosines (zero-norm
    vectors, ``try_divide``) rank below every real similarity, ties
    break to the lowest cid, and an all-NULL row lands in the lowest
    cid — the accumulator seeds at (NULL sim, first cid of the sorted
    array) and only a strictly-greater non-NULL similarity replaces it.
    At 100 TB, repartition the output by ``cell`` and persist: probes
    then scan only matching cells (partition pruning on the inverted
    file)."""
    if cents is None:
        cents = ivf_centroids(df, n_centroids, vec_col, id_col)
    # one row: cid-sorted centroid array (collect_list order is
    # nondeterministic; array_sort on the (cid, cv) struct pins it —
    # sorted FIRST, then the per-centroid scalar norm is attached by a
    # transform so the sort comparator never sees the extra field).
    # r14 norm hoist (guide §1.2 per-task work): the fold previously
    # evaluated cosine() per (row, centroid) — THREE dim-wide folds
    # each, recomputing sqrt(dot(c, c)) for every corpus row and
    # sqrt(dot(v, v)) for every centroid.  The centroid norm is packed
    # once into the broadcast row and the vector norm is projected
    # once per row BELOW the join (the join keeps the projections
    # apart, so CollapseProject cannot inline the norm into the k-way
    # lambda), leaving one dot fold per (row, centroid): ~3× less fold
    # CPU per assignment, paid again every Lloyd round.  Bit-identical:
    # try_divide(dot(v, c), nv·nc) is the same operations in the same
    # IEEE order cosine() used.
    packed = F.broadcast(
        cents.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cv")))
            ).alias("__c0")
        )
        .select(
            F.transform(
                F.col("__c0"),
                lambda c: F.struct(
                    c["cid"].alias("cid"),
                    c["cv"].alias("cv"),
                    F.sqrt(dot(c["cv"], c["cv"])).alias("nc"),
                ),
            ).alias("__cents")
        )
    )
    v = F.col(vec_col)
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            F.try_divide(dot(v, c["cv"]), F.col("__nv") * c["nc"]).alias("s"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        # seed: (NULL sim, lowest cid) — F.get is NULL-safe on an empty
        # array, so a (pathological) empty codebook yields cell = NULL;
        # seeded from __cents, not `scored`, so the cosines are not
        # evaluated a second time just to read the first cid
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.get(F.col("__cents"), F.lit(0))["cid"].alias("cid"),
        ),
        lambda acc, x: F.when(
            x["s"].isNotNull() & (acc["s"].isNull() | (x["s"] > acc["s"])), x
        ).otherwise(acc),
    )
    return (
        df.select(
            F.col(id_col), F.col(vec_col), F.sqrt(dot(v, v)).alias("__nv")
        )
        .crossJoin(packed)
        .select(F.col(id_col), F.col(vec_col), best["cid"].alias("cell"))
    )


def ivf_write(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: DataFrame | None = None,
) -> None:
    """Build and persist the IVF index under ``path`` — the scale path
    the :func:`ivf_assign` docstring promises:

    * ``path/cells`` — ``(id, vec, cell)`` parquet, hive-partitioned by
      ``cell`` (and ``repartition("cell")``-ed first so each cell is a
      contiguous file set, not one shard per upstream task).  A probe
      then reads ONLY its ``n_probe`` cell directories — at 100 TB the
      corpus is scanned once at build time and never again.
    * ``path/centroids`` — the tiny codebook plus literal build params
      (``n_centroids``/``vec_col``/``id_col``) so a probe with
      mismatched expectations fails loudly (same contract as the
      MinHash incremental index in dedup.py).

    Pass ``cents`` (e.g. :func:`kmeans_centroids`' trained codebook) to
    index under trained centroids instead of the hash-sampled default —
    probes, appends, and streaming ingest all read the codebook back
    from ``path/centroids``, so they work identically either way.
    """
    if cents is None:
        cents = ivf_centroids(df, n_centroids, vec_col, id_col)
    else:
        # the manifest must record the CODEBOOK's actual size, not the
        # default parameter — a trained codebook of a different k would
        # otherwise persist a lying n_centroids
        cents, n_centroids = collect_local(cents)
    assigned = ivf_assign(df, n_centroids, vec_col, id_col, cents=cents)
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/cells")
    )
    (
        cents.select(
            "cid",
            "cv",
            F.lit(n_centroids).alias("n_centroids"),
            F.lit(vec_col).alias("vec_col"),
            F.lit(id_col).alias("id_col"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path + "/centroids")
    )


def ivf_probe(
    spark,
    path: str,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
    exclude_id=None,
) -> DataFrame:
    """Top-k probe against a persisted :func:`ivf_write` index, reading
    ONLY the probed cells.

    Probe selection is a driver-side rank over the codebook (a handful
    of rows — the cosine fold replicates :func:`~rheoceros_spark.functions.portable.dot`'s
    left-to-right double accumulation exactly, so probe choice matches
    the in-plan :func:`ivf_topk` bit-for-bit).  The probed cells are
    then read as explicit ``cell=<cid>`` directories (``basePath`` keeps
    the partition column), so the scan provably touches only
    ``n_probe/n_centroids`` of the index files — ``inputFiles()`` is
    asserted in tests.  Exact cosine rerank inside, same
    (sim desc, id asc) total order as every other top-k here.
    """
    import math

    from rheoceros_spark.sources.io import _fs_exists

    cents = spark.read.parquet(path + "/centroids").collect()
    if not cents:
        raise ValueError(f"empty IVF centroid codebook at {path}/centroids")
    vec_col = cents[0]["vec_col"]
    id_col = cents[0]["id_col"]

    qv = [float(x) for x in query_vec]

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    qnorm = math.sqrt(_dot(qv, qv))

    def _cos(c):
        # zero-norm query/centroid: the in-plan cosine yields NULL and
        # sorts last; mirror that with -inf instead of ZeroDivisionError
        denom = math.sqrt(_dot(c, c)) * qnorm
        return _dot(c, qv) / denom if denom > 0.0 else float("-inf")

    ranked = sorted(((-_cos(list(r["cv"])), r["cid"]) for r in cents))
    probes = [cid for _, cid in ranked[:n_probe]]

    cell_dirs = [f"{path}/cells/cell={cid}" for cid in probes]
    # a centroid whose vector duplicates a lower-cid centroid assigns to
    # the lower cell, leaving its own directory absent — skip those.
    # Existence goes through the Hadoop FileSystem so the persisted
    # index works on object stores (s3a://, hdfs://), not just local FS.
    existing = [d for d in cell_dirs if _fs_exists(spark, d)]
    if not existing:
        raise ValueError(f"none of the probed cells {probes} exist under {path}/cells")
    cells = spark.read.option("basePath", path + "/cells").parquet(*existing)
    if exclude_id is not None:
        cells = cells.where(F.col(id_col) != exclude_id)
    scored = cells.select(F.col(id_col), cosine(F.col(vec_col), F.lit(qv)).alias("cos"))
    return _ranked_topk(scored, id_col, k)


def ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: rank centroids against the query, scan
    only the ``n_probe`` nearest cells, exact cosine rerank inside.
    Candidate set is ~``n_probe/n_centroids`` of the corpus — the
    standard recall/cost dial."""
    cents = ivf_centroids(df, n_centroids, vec_col, id_col)
    # thread the codebook through (ivf_assign would otherwise recompute
    # ivf_centroids — a second full corpus scan of the priciest stage)
    assigned = ivf_assign(df, n_centroids, vec_col, id_col, cents=cents)
    # r14 norm hoist (guide §1.2): the query norm rides in the 1-row
    # broadcast instead of being re-folded per rerank candidate; same
    # IEEE operand order as cosine(), so every value is bit-identical.
    qv = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nq"),
    )
    _one_query_row(qv, "ivf_topk")
    probes = (
        cents.crossJoin(F.broadcast(qv))
        .orderBy(cosine(F.col("cv"), F.col("__qv")).desc(), F.col("cid").asc())
        .limit(n_probe)
        .select(F.col("cid").alias("__probe"))
    )
    v = F.col(vec_col)
    cands = (
        assigned.join(F.broadcast(probes), assigned.cell == F.col("__probe"))
        .where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col),
            F.try_divide(
                dot(v, F.col("__qv")), F.sqrt(dot(v, v)) * F.col("__nq")
            ).alias("cos"),
        )
    )
    return _ranked_topk(cands, id_col, k)


def ann_lsh_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    nbits: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then
    exact cosine rerank within the bucket.

    ``probe_hamming`` enables **multi-probe**: buckets within that
    hamming distance of the query's signature are also probed
    (``probe_hamming=1`` ≙ flipping each signature bit once), trading
    candidate-set size for recall without re-hashing.  Expressed as a
    ``bit_count(xor)`` filter — one codegen'd comparison per row, and
    degenerates to the exact-bucket equality at 0.  On a bucket-
    partitioned layout the probe set prunes partitions instead."""
    _check_vec_dim(df, vec_col, dim, "ann_lsh_topk")
    bucketed = hyperplane_buckets(df, nbits, dim, vec_col)
    qrow = bucketed.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"), F.col("bucket").alias("__qb")
    )
    _one_query_row(qrow, "ann_lsh_topk")
    cands = (
        bucketed.crossJoin(F.broadcast(qrow))
        .where(
            (F.bit_count(F.col("bucket").bitwiseXOR(F.col("__qb"))) <= probe_hamming)
            & (F.col(id_col) != query_id)
        )
        .select(F.col(id_col), cosine(F.col(vec_col), F.col("__qv")).alias("cos"))
    )
    return _ranked_topk(cands, id_col, k)


# ---------------------------------------------------------------------------
# product quantization (PQ) with asymmetric-distance search
# ---------------------------------------------------------------------------

def _normalize_py(vec: list[float]) -> list[float]:
    """L2-normalize with the exact arithmetic the SQL oracle uses: norm²
    is a left fold of ``x*x`` from 0.0 (element order), ``sqrt`` is
    IEEE-correctly-rounded everywhere, and a zero vector maps to zeros
    (mirroring the CASE/when guards) — bit-identical on every engine."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    if acc <= 0.0:
        return [0.0 for _ in vec]
    import math

    nrm = math.sqrt(acc)
    return [x / nrm for x in vec]


def pq_codebook(
    df: DataFrame,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Driver-side PQ codebook: the ``n_codes`` corpus vectors whose ids
    hash lowest, L2-normalized, in sampling order (Jégou et al. 2011's
    trained per-subspace k-means is replaced by the same deterministic
    hash-sample stand-in :func:`ivf_centroids` uses, keeping the
    operator oracle-checkable; a production deployment ships trained
    codebooks through the same shape).  Vectors are L2-normalized
    because ADC approximates **L2**, and only on unit vectors is the L2
    ordering the cosine ordering the rerank grades against
    (``L2² = 2 − 2·cos``).  Quantization quality is then whatever the
    codebook earns: on clustered corpora a sampled codebook recovers
    cluster-mates; on near-isotropic data (like the synthetic test
    embeddings, max pairwise cos ≈ 0.37) recall is bounded by the
    ``rerank`` budget and a trained codebook is what a deployment
    would tune.  ``n_codes × dim`` floats — always driver-sized."""
    rows = (
        df.select(
            F.col(vec_col).alias("cv"),
            h64(F.col(id_col).cast("string")).alias("__hk"),
            F.col(id_col).alias("__id"),
        )
        .orderBy("__hk", "__id")
        .limit(n_codes)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebook: empty input")
    return [_normalize_py([float(x) for x in r["cv"]]) for r in rows]


def _dlit(v: float) -> str:
    """SQL double literal with exact round-trip (string→double parse ==
    Python float, both IEEE shortest-repr semantics)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _pq_subdist_expr(vec_sql: str, codevec: list[float], start: int, sub: int) -> str:
    """L2² between ``vec[start:start+sub]`` and the literal code
    subvector — a ``zip_with`` diff-square plus the same left fold from
    0.0 the portable dot uses, so the accumulation order (and therefore
    every bit of the result) is reproducible in the SQL oracle.
    ``vec_sql`` must reference an already double-typed (normalized)
    column.

    Built as a SQL STRING, not nested pyspark lambdas: each
    higher-order-function Column costs ~10 ms of py4j round-trips, and
    n_codes × m of them made plan CONSTRUCTION the dominant cost of
    pq_topk (measured 2.3 s of a 2.9 s call; execution was 0.5 s).  One
    ``F.expr`` per subspace parses JVM-side in one round-trip and
    yields the identical analyzed expression."""
    lits = ", ".join(_dlit(v) for v in codevec[start : start + sub])
    return (
        f"aggregate(zip_with(slice({vec_sql}, {start + 1}, {sub}), array({lits}), "
        f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def pq_encode(
    df: DataFrame,
    codebook: list[list[float]],
    m: int = 4,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Add ``code_0..code_{m-1}`` columns: per subspace, the 1-based
    sampling-order index of the nearest (L2) code subvector over the
    **normalized** vector (ties to the earliest code —
    ``array_position`` returns the first minimum).  Pure per-row column
    math over a literal codebook: zero shuffle, zero Python, compresses
    ``dim`` floats to ``m`` small ints — the point of PQ at 100 TB (a
    64-d float corpus stored as 4 bytes/vector plus one shared
    codebook).

    ``normalize=False`` encodes the raw (double-cast) vector instead —
    the residual-PQ path (:func:`ivfpq_write`), where the input is
    already a centered residual and L2 on it IS the target metric, so
    unit-sphere projection would only destroy the geometry."""
    dim = len(codebook[0])
    if dim % m != 0:
        raise ValueError(f"pq_encode: dim {dim} not divisible by m={m}")
    sub = dim // m
    vec0 = F.col(vec_col)
    if normalize:
        # stage the squared norm as a NAMED column: referenced inside the
        # normalize lambda it is a cheap bound reference, while an inlined
        # fold would be re-evaluated per element (dim× the work per row)
        nsq = F.aggregate(
            F.transform(vec0, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = df.withColumn("__nsq", nsq).withColumn(
            "__vn",
            F.when(
                F.col("__nsq") > 0,
                F.transform(vec0, lambda x: x.cast("double") / F.sqrt(F.col("__nsq"))),
            ).otherwise(F.transform(vec0, lambda x: F.lit(0.0))),
        )
    else:
        out = df.withColumn("__nsq", F.lit(0.0)).withColumn(
            "__vn", F.transform(vec0, lambda x: x.cast("double"))
        )
    for s in range(m):
        darr = F.expr(
            "array("
            + ", ".join(
                _pq_subdist_expr("__vn", cv, s * sub, sub) for cv in codebook
            )
            + ")"
        )
        # stage the distance array as a NAMED column before the argmin:
        # array_position(darr, array_min(darr)) references darr twice,
        # and an inline darr is re-evaluated per reference — measured as
        # 128 zip_with folds per row in the optimized plan instead of
        # 64 (2× the whole encode CPU).  A staged expensive column
        # survives CollapseProject (multi-reference, non-cheap), so each
        # subdist fold runs once.
        out = out.withColumn(f"__d_{s}", darr).withColumn(
            f"code_{s}",
            F.array_position(F.col(f"__d_{s}"), F.array_min(F.col(f"__d_{s}"))),
        )
    return out.drop("__vn", "__nsq", *[f"__d_{s}" for s in range(m)])


def pq_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    n_codes: int = 16,
    m: int = 4,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ approximate top-k with asymmetric distance (ADC) + exact
    rerank:

    1. encode the L2-normalized corpus (per-row, shuffle-free),
    2. build the ``m × n_codes`` query→code distance table driver-side
       (tiny) and embed it as literals,
    3. approximate distance = fixed-order sum of ``m`` table lookups —
       a TakeOrdered over one scan picks the ``rerank`` best
       (on unit vectors ``L2² = 2 − 2·cos``, so the ADC ordering
       approximates the cosine ordering directly),
    4. exact cosine rerank of those candidates → top ``k``.

    The scan never touches more than (id, vec) columns and the only
    ordering is per-partition-heap TakeOrdered — no full sort or
    shuffle at any corpus size.  Every arithmetic step is an
    order-fixed fold, so a SQL oracle reproduces the result exactly.
    """
    cb = pq_codebook(df, n_codes, vec_col, id_col)
    dim = len(cb[0])
    if dim % m != 0:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m={m}")
    sub = dim // m
    qrow = df.where(F.col(id_col) == query_id).select(vec_col).take(1)
    if not qrow:
        raise ValueError("pq_topk: query id matched no row")
    q = _normalize_py([float(x) for x in qrow[0][0]])
    # ADC table, computed with the same diff-square left fold as
    # _pq_subdist_expr / the SQL oracle (x*x, never pow())
    dtab = []
    for s in range(m):
        row = []
        for cv in cb:
            acc = 0.0
            for j in range(s * sub, (s + 1) * sub):
                d = q[j] - cv[j]
                acc = acc + d * d
            row.append(acc)
        dtab.append(row)

    encoded = pq_encode(df.select(id_col, vec_col), cb, m, vec_col)
    adist = None
    for s in range(m):
        lookup = F.element_at(
            F.lit(dtab[s]), F.col(f"code_{s}").cast("int")
        )
        adist = lookup if adist is None else adist + lookup
    # the raw vector rides along through the TakeOrdered (rerank × dim
    # floats — driver-merge-sized), so the exact rerank needs NO second
    # corpus scan / join-back
    cands = (
        encoded.where(F.col(id_col) != query_id)
        .select(F.col(id_col), F.col(vec_col), adist.alias("__adist"))
        # nulls LAST (a malformed vector yields a NULL distance): Spark's
        # asc default is nulls-first, SQL oracles' is nulls-last
        .orderBy(F.col("__adist").asc_nulls_last(), F.col(id_col).asc())
        .limit(rerank)
    )
    # the query vector was already collected for the ADC table — embed it
    # as a literal instead of re-scanning the corpus for one row
    qv_lit = F.lit([float(x) for x in qrow[0][0]])
    scored = cands.select(
        F.col(id_col), cosine(F.col(vec_col), qv_lit).alias("cos")
    )
    return _ranked_topk(scored, id_col, k)


def ivf_append(spark, df: DataFrame, path: str) -> None:
    """Append new vectors to a persisted :func:`ivf_write` index without
    rebuilding it — the embedding-side twin of the incremental MinHash
    dedup index (dedup.py ``dedup_against_index``): a crawl keeps
    producing vectors; re-clustering 100 TB per batch is not an option.

    The batch is assigned against the index's OWN persisted codebook
    (read back, not recomputed — recomputing from ``df`` would give a
    different codebook and silently split the index across two
    clusterings), then appended into the hive ``cell=`` directories,
    where subsequent :func:`ivf_probe` calls pick it up with the same
    n_probe-cells-only scan.  Id uniqueness across batches is the
    caller's contract, as with the dedup index."""
    meta = spark.read.parquet(path + "/centroids")
    head = meta.take(1)
    if not head:
        raise ValueError(f"empty IVF centroid codebook at {path}/centroids")
    vec_col, id_col = head[0]["vec_col"], head[0]["id_col"]
    if vec_col not in df.columns or id_col not in df.columns:
        raise ValueError(
            f"ivf_append: batch must carry the index's columns "
            f"({id_col!r}, {vec_col!r}); got {df.columns}"
        )
    cents = meta.select("cid", "cv")
    assigned = ivf_assign(df, vec_col=vec_col, id_col=id_col, cents=cents)
    (
        assigned.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path + "/cells")
    )


def _kmeans_update(base, k, vec_col, id_col, cents):
    """One Lloyd round: broadcast-assign, then component-mean update.

    The update is a ``posexplode`` into (cell, pos, val) rows feeding a
    plain hash aggregate — map-side combine collapses each task's
    contribution to ≤ k×dim rows before the exchange, so per-cluster
    vector state never concentrates on one task (a ``collect_list`` of
    member vectors would).  Each component is quantized to the 1e-7
    integer grid BEFORE the sum, so the aggregate commutes exactly and
    the mean is one IEEE division — the refined centroids are
    bit-identical across engines and partitionings, which is what makes
    an *iterative float* algorithm oracle-checkable.  An empty cluster
    keeps its previous centroid (left join + coalesce), the standard
    Lloyd fallback."""
    assigned = ivf_assign(base, k, vec_col, id_col, cents=cents)
    comp = assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
    means = (
        comp.groupBy("cell", "pos")
        .agg(
            F.sum(
                F.round(F.col("val").cast("double") * F.lit(1e7)).cast("bigint")
            ).alias("__sq"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .select(
            "cell",
            "pos",
            (
                F.col("__sq").cast("double")
                / (F.col("__cnt").cast("double") * F.lit(1e7))
            ).alias("__mean"),
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__mean"))),
                lambda s: s["__mean"],
            ).alias("__cv_new")
        )
    )
    return cents.join(means, cents["cid"] == means["cell"], "left").select(
        "cid", F.coalesce(F.col("__cv_new"), F.col("cv")).alias("cv")
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Distributed Lloyd k-means training — the codebook trainer the
    IVF / PQ docstrings defer to ("a production deployment trains
    k-means offline"): start from the deterministic hash-sampled seeds
    (:func:`ivf_centroids`) and run ``iters`` assign→update rounds.
    Returns the trained ``(cid, cv)`` centroid table — drop-in for the
    ``cents`` parameter of ``ivf_assign`` / ``ivf_write`` /
    ``pq_codebook``.  Per round the ≤k-row centroid table broadcasts
    into the argmax assignment (the :func:`ivf_assign` max_by shape —
    the shuffle carries n rows, never the n×k crossJoin) and the
    update aggregate is corpus-linear; see :func:`_kmeans_update` for
    the determinism argument.  Ties in the argmax break to the lowest
    centroid id."""
    if k < 1 or iters < 0:
        raise ValueError(f"kmeans_centroids: need k >= 1 and iters >= 0, got {k}, {iters}")
    base = df.where(F.col(id_col).isNotNull()).select(id_col, vec_col)
    if cents is None:
        cents = ivf_centroids(base, k, vec_col, id_col)
    for _ in range(iters):
        cents = _kmeans_update(base, k, vec_col, id_col, cents)
        if iters > 3:
            # truncate the per-round lineage of the ≤ k-row table
            cents = checkpoint(cents)
    return cents


def kmeans_refine(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Final ``(id, cell)`` assignment under :func:`kmeans_centroids`'
    trained codebook — the operator form of "train k-means, then
    partition the corpus by cell" that IVF persistence consumes."""
    base = df.where(F.col(id_col).isNotNull()).select(id_col, vec_col)
    trained = kmeans_centroids(base, k, iters, vec_col, id_col, cents=cents)
    return ivf_assign(base, k, vec_col, id_col, cents=trained).select(id_col, "cell")


# ---------------------------------------------------------------------------
# IVF-PQ composite index: coarse k-means cells + per-cell PQ residuals
# ---------------------------------------------------------------------------

def residual_codebook(
    resid: DataFrame,
    n_codes: int = 16,
    res_col: str = "__res",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Driver-side residual-PQ codebook: the residual vectors of the
    ``n_codes`` ids that hash lowest, in sampling order — the same
    deterministic hash-sample stand-in :func:`pq_codebook` uses, but
    WITHOUT L2 normalization: a residual is already centered on its
    cell and plain L2 on it is the metric ADC approximates
    (``||q−x||² = ||(q−c)−(x−c)||²`` within a cell), so unit-sphere
    projection would destroy exactly the geometry PQ needs.  Always
    ``n_codes × dim`` doubles — driver-sized at any corpus scale."""
    rows = (
        resid.select(
            F.col(res_col).alias("cv"),
            h64(F.col(id_col).cast("string")).alias("__hk"),
            F.col(id_col).alias("__id"),
        )
        .orderBy("__hk", "__id")
        .limit(n_codes)
        .collect()
    )
    if not rows:
        raise ValueError("residual_codebook: empty input")
    return [[float(x) for x in r["cv"]] for r in rows]


def ivfpq_write(
    df: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 2,
    n_codes: int = 16,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: DataFrame | None = None,
) -> None:
    """Build and persist the IVF-PQ composite index — the actual 100 TB
    ANN architecture (Jégou et al. 2011's IVFADC): coarse k-means cells
    for pruning, per-cell PQ-encoded **residuals** for in-cell scanning.

    Composition of the already-certified pieces: the coarse codebook is
    :func:`kmeans_centroids`' trained Lloyd output (broadcast-assign +
    quantized component means — bit-exact across engines), the layout
    is :func:`ivf_write`'s hive ``cell=`` partitioning (probes read
    only their ``n_probe`` cell directories), and the in-cell code is
    :func:`pq_encode` over ``x − c_cell`` with ``normalize=False``.

    Persists under ``path``:

    * ``cells/`` — ``(id, vec, code_0..m-1, cell)`` parquet partitioned
      by ``cell``.  The raw vector rides along for the exact rerank —
      at 100 TB the ADC scan reads only (id, codes) thanks to parquet
      column pruning; the vectors of the ``rerank`` winners are read
      by position from the same row groups.
    * ``centroids/`` — trained coarse codebook + literal build params
      (``n_cells``/``m``/``n_codes``/``vec_col``/``id_col``) so a
      mismatched probe fails loudly (``_check_index_params`` contract).
    * ``codebook/`` — the ``(ord, cv)`` residual code vectors in
      sampling order (``ord`` is 1-based, matching the 1-based
      ``array_position`` codes).

    Everything heavier than a ≤``n_codes``-row collect is corpus-linear:
    one training pass per Lloyd round, one assign, one encode-and-write;
    the only shuffles are the assign argmax aggregate and the
    ``repartition("cell")`` layout write.
    """
    base = df.where(F.col(id_col).isNotNull()).select(id_col, vec_col)
    if cents is None:
        cents = kmeans_centroids(base, n_cells, iters, vec_col, id_col)
    # every consumer below (count, assign, residuals, manifest) reads
    # the trained codebook
    cents, n_cells = collect_local(cents)
    assigned = ivf_assign(base, n_cells, vec_col, id_col, cents=cents)
    resid = assigned.join(
        F.broadcast(cents), assigned["cell"] == cents["cid"]
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        # component-wise double subtraction: exact IEEE, reproducible
        # in any engine — no fold, no rounding
        F.zip_with(
            F.col(vec_col), F.col("cv"), lambda x, y: x.cast("double") - y
        ).alias("__res"),
    )
    cb = residual_codebook(resid, n_codes, "__res", id_col)
    # a corpus smaller than n_codes yields a shorter codebook; record
    # the ACTUAL size in the manifest or every later probe would fail
    # its len(codebook) == n_codes consistency check with a misleading
    # "rebuild it" error on a perfectly good index
    n_codes = len(cb)
    encoded = pq_encode(resid, cb, m, "__res", normalize=False).select(
        id_col, vec_col, "cell", *[f"code_{s}" for s in range(m)]
    )
    (
        encoded.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/cells")
    )
    (
        cents.select(
            "cid",
            "cv",
            F.lit(n_cells).alias("n_cells"),
            F.lit(n_codes).alias("n_codes"),
            F.lit(m).alias("m"),
            F.lit(vec_col).alias("vec_col"),
            F.lit(id_col).alias("id_col"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path + "/centroids")
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(i + 1, cv) for i, cv in enumerate(cb)], "ord INT, cv ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/codebook")


def ivfpq_append(spark, df: DataFrame, path: str) -> None:
    """Append new vectors to a persisted :func:`ivfpq_write` index
    without rebuilding it — the IVF-PQ completion of the incremental
    family (:func:`ivf_append` for plain IVF, curation.py
    ``corpus_diff_indexed`` for fingerprints): a crawl keeps producing
    embeddings; re-training cells and residual codebooks per batch at
    100 TB is not an option.

    The batch is encoded against the index's OWN persisted artifacts —
    coarse assignment against the stored ``centroids/``, residuals
    against the assigned centroid, PQ codes against the stored
    ``codebook/`` (read back, never recomputed: a recomputed codebook
    would differ and silently split the index across two quantizers, so
    appended codes are bit-equal to what a fresh :func:`ivfpq_write`
    of the union would produce under the SAME trained artifacts).
    Appended rows land in the hive ``cell=`` directories, where
    :func:`ivfpq_probe` picks them up with the unchanged
    n_probe-cells-only scan.  Mismatched batches fail loudly: missing
    index columns, wrong vector dimension, or an inconsistent
    manifest/codebook all raise before anything is written.  Id
    uniqueness across batches is the caller's contract, as everywhere
    in the index family."""
    meta = spark.read.parquet(path + "/centroids")
    head = meta.take(1)
    if not head:
        raise ValueError(f"empty IVF-PQ centroid manifest at {path}/centroids")
    vec_col, id_col = head[0]["vec_col"], head[0]["id_col"]
    m, n_codes = int(head[0]["m"]), int(head[0]["n_codes"])
    if vec_col not in df.columns or id_col not in df.columns:
        raise ValueError(
            f"ivfpq_append: batch must carry the index's columns "
            f"({id_col!r}, {vec_col!r}); got {df.columns}"
        )
    cb_rows = spark.read.parquet(path + "/codebook").orderBy("ord").collect()
    if len(cb_rows) != n_codes:
        raise ValueError(
            f"IVF-PQ codebook at {path}/codebook has {len(cb_rows)} codes, "
            f"manifest says {n_codes} — index is inconsistent, rebuild it"
        )
    cb = [[float(x) for x in r["cv"]] for r in cb_rows]
    dim = len(cb[0])
    sample = df.where(F.col(id_col).isNotNull()).select(vec_col).take(1)
    if sample and sample[0][0] is not None and len(sample[0][0]) != dim:
        raise ValueError(
            f"ivfpq_append: batch vector dim {len(sample[0][0])} != index "
            f"dim {dim}"
        )
    cents = meta.select("cid", "cv")
    base = df.where(F.col(id_col).isNotNull()).select(id_col, vec_col)
    assigned = ivf_assign(base, vec_col=vec_col, id_col=id_col, cents=cents)
    resid = assigned.join(
        F.broadcast(cents), assigned["cell"] == cents["cid"]
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        F.zip_with(
            F.col(vec_col), F.col("cv"), lambda x, y: x.cast("double") - y
        ).alias("__res"),
    )
    encoded = pq_encode(resid, cb, m, "__res", normalize=False).select(
        id_col, vec_col, "cell", *[f"code_{s}" for s in range(m)]
    )
    (
        encoded.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path + "/cells")
    )


def ivfpq_probe(
    spark,
    path: str,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 50,
    exclude_id=None,
) -> DataFrame:
    """Top-k probe of a persisted :func:`ivfpq_write` index: rank the
    coarse cells driver-side, read ONLY the ``n_probe`` nearest cell
    directories, ADC-scan their codes against per-cell query-residual
    distance tables, exact cosine rerank of the ``rerank`` best.

    The per-cell ADC tables are ``n_probe × m × n_codes`` doubles built
    driver-side from the tiny persisted codebooks (the query's residual
    differs per cell — IVFADC's asymmetric trick), embedded as literals
    so the scan is pure column math: table lookup per subspace, fixed
    left-to-right sum, TakeOrdered — no shuffle, no Python, and parquet
    prunes the scan to (id, codes[, vec]) columns.  Every arithmetic
    step is an order-fixed fold, so a SQL oracle reproduces the result
    exactly."""
    import math

    from rheoceros_spark.sources.io import _fs_exists

    meta = spark.read.parquet(path + "/centroids").collect()
    if not meta:
        raise ValueError(f"empty IVF-PQ centroid manifest at {path}/centroids")
    vec_col, id_col = meta[0]["vec_col"], meta[0]["id_col"]
    m, n_codes = int(meta[0]["m"]), int(meta[0]["n_codes"])
    cb_rows = spark.read.parquet(path + "/codebook").orderBy("ord").collect()
    if len(cb_rows) != n_codes:
        raise ValueError(
            f"IVF-PQ codebook at {path}/codebook has {len(cb_rows)} codes, "
            f"manifest says {n_codes} — index is inconsistent, rebuild it"
        )
    cb = [[float(x) for x in r["cv"]] for r in cb_rows]
    dim = len(cb[0])
    sub = dim // m
    qv = [float(x) for x in query_vec]
    if len(qv) != dim:
        raise ValueError(f"ivfpq_probe: query dim {len(qv)} != index dim {dim}")

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    qnorm = math.sqrt(_dot(qv, qv))

    def _cos(c):
        denom = math.sqrt(_dot(c, c)) * qnorm
        return _dot(c, qv) / denom if denom > 0.0 else float("-inf")

    cents = {int(r["cid"]): [float(x) for x in r["cv"]] for r in meta}
    ranked = sorted((-_cos(cv), cid) for cid, cv in cents.items())
    probes = [cid for _, cid in ranked[:n_probe]]

    cell_dirs = [f"{path}/cells/cell={cid}" for cid in probes]
    existing = [d for d in cell_dirs if _fs_exists(spark, d)]
    if not existing:
        raise ValueError(f"none of the probed cells {probes} exist under {path}/cells")
    cells = spark.read.option("basePath", path + "/cells").parquet(*existing)
    if exclude_id is not None:
        cells = cells.where(F.col(id_col) != exclude_id)

    # per probed cell: q's residual against THAT cell, then the m ×
    # n_codes subspace distance table (same left-to-right diff-square
    # fold as pq_topk's ADC table and the SQL oracle)
    dtab: dict[int, list[list[float]]] = {}
    for cid in probes:
        cv = cents[cid]
        qres = [qv[j] - cv[j] for j in range(dim)]
        rows = []
        for s in range(m):
            row = []
            for code in cb:
                acc = 0.0
                for j in range(s * sub, (s + 1) * sub):
                    d = qres[j] - code[j]
                    acc = acc + d * d
                row.append(acc)
            rows.append(row)
        dtab[cid] = rows

    adist = None
    for s in range(m):
        lookup = None
        for cid in probes:
            hit = F.element_at(F.lit(dtab[cid][s]), F.col(f"code_{s}").cast("int"))
            branch = F.when(F.col("cell") == cid, hit)
            lookup = branch if lookup is None else lookup.when(F.col("cell") == cid, hit)
        adist = lookup if adist is None else adist + lookup
    cands = (
        cells.select(F.col(id_col), F.col(vec_col), adist.alias("__adist"))
        .orderBy(F.col("__adist").asc_nulls_last(), F.col(id_col).asc())
        .limit(rerank)
    )
    scored = cands.select(
        F.col(id_col), cosine(F.col(vec_col), F.lit(qv)).alias("cos")
    )
    return _ranked_topk(scored, id_col, k)


def recall_at_k(
    approx: DataFrame, exact: DataFrame, id_col: str = "vec_id"
) -> float:
    """Fraction of the exact top-k ids the approximate top-k recovered —
    the retrieval-quality number the ANN family's determinism
    certificates deliberately do not cover.  Both inputs are ≤k-row
    top-k frames (:func:`cosine_topk`-shaped), so the comparison is a
    trivial driver-side set op; use scripts/ann_recall.py to sweep
    (n_probe, rerank) and produce the evidence table in BASELINE.md."""
    want = {r[id_col] for r in exact.select(id_col).collect()}
    if not want:
        raise ValueError("recall_at_k: exact top-k is empty")
    got = {r[id_col] for r in approx.select(id_col).collect()}
    return len(got & want) / len(want)
