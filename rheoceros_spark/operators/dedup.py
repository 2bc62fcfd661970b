"""Deduplication operators for large-scale training-data pipelines.

Five families, each a ``DataFrame -> DataFrame`` transform built from
built-in column functions (JVM-side, codegen-friendly, no Python in
the hot path) over the portable primitives in
:mod:`rheoceros_spark.functions.portable` — so each operator has an
exactly-equivalent SQL oracle.

Scale design (100 TB):

* **exact** — one hash-aggregate on the normalized text; Spark does a
  map-side partial min per partition, so the shuffle carries one row
  per distinct key, not per row.
* **MinHash + LSH** — shingles are exploded to (id, shingle) rows,
  hashed **once** (one md5 per shingle), and the ``num_hashes``
  signature lanes are cheap affine permutations ``(aᵢ·h + bᵢ) mod p``
  of that single base hash, min-reduced per doc by a hash aggregate.
  The shuffle carries compact (id, 8-byte hash) rows and the mins are
  combined map-side (partial aggregation), so the exchange is one row
  per doc per partition — this is the shape that survives 100 TB,
  unlike a per-row nested-HOF fold, which re-evaluates the shingle
  array once per lane.  Candidate generation explodes ``bands`` rows
  per doc and self-joins on the band key: the classic
  shingle→minhash→band→bucket-join; cost is O(docs × bands) shuffle
  rows instead of O(docs²) pairs.  Skewed buckets (boilerplate text)
  are handled by AQE skew-join; a bucket cap can be added by salting
  the band key.
* **SimHash** — same explode shape: one hash per token, 32 per-bit
  ±1 sums in a single grouped aggregate (partial map-side), folded
  into a 32-bit signature; candidate pairs via 4-chunk blocking,
  which is **exact** for hamming distance ≤ 3 by pigeonhole
  (3 differing bits can touch at most 3 of 4 chunks).
* **n-gram Jaccard** — the verifier primitive; all-pairs is quadratic,
  so at scale it runs behind the MinHash band blocker
  (``blocked=True``), which is the standard recall/cost trade.
* **embedding cosine** — exact all-pairs for small inputs; at scale
  use the random-hyperplane bucketing from
  :mod:`rheoceros_spark.operators.similarity`.

Dedup policy is deterministic everywhere: the survivor of a duplicate
set is the **smallest id**; a row is dropped iff it pairs with any
smaller-id row (no connected-component chasing, stable under
parallelism).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rheoceros_spark.functions.portable import (
    cosine,
    h64,
    jaccard,
    normalize_text,
    tokens,
    word_ngrams,
)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: survivor = min id per group.

    Groups on ``md5(normalized_text)`` (128-bit, collision-negligible)
    instead of the text itself so the shuffle carries 32-byte keys, not
    documents — the difference between shuffling 100 TB and shuffling
    ~3% of it.  groupBy-min + semi-join rather than ``dropDuplicates``
    so the winner is deterministic under any partitioning.

    NULL ``text`` never equals anything — all NULL-text rows pass
    through untouched rather than collapsing into one "duplicate"
    group (groupBy would merge NULL keys; the MinHash/SimHash paths
    already keep such rows, so the families stay consistent).

    Ids identify DOCUMENTS: if the input carries several rows with the
    winning id (the same document ingested twice), the id-keyed
    semi-join keeps every copy — truly identical rows are
    indistinguishable without an aggregate over all columns.
    Pre-dedupe rows (``dropDuplicates``) before calling if row-level
    uniqueness is required; the NULL-text guard below only prevents
    the same physical row from being EMITTED twice via the union.
    """
    key = F.md5(normalize_text(F.col(text_col))).alias("__key")
    keyed = df.select(F.col(id_col), key).where(F.col("__key").isNotNull())
    winners = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    # NULL-text rows are excluded from the semi-join input (not just
    # appended): under non-unique ids a NULL-text row sharing a
    # survivor's id would otherwise be emitted twice — the
    # dedup_exact_best fix, applied to this twin too
    survivors = df.where(F.col(text_col).isNotNull()).join(
        winners.select(id_col), on=id_col, how="left_semi"
    )
    null_rows = df.where(F.col(text_col).isNull())
    return survivors.unionByName(null_rows)


def dedup_exact_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dedup_exact` with a QUALITY survivor rule: within each
    exact-duplicate group keep the row with the highest ``score_col``
    (ties broken by min id) — what real curation runs do when the
    copies differ in the metadata that matters (a cleaner mirror, a
    higher classifier score, a later crawl with fixed mojibake) and
    "first id wins" would throw the better copy away.

    Same scale shape as dedup_exact: the shuffle carries
    (32-byte key, score, id) — never documents — and the winner is an
    order-independent ``min(struct(−score, id))`` aggregate (min of
    the NEGATED score is the max score; the struct's second field then
    takes the min id on ties), so the survivor is deterministic under
    any partitioning and the id column keeps its own type — string ids
    work exactly like dedup_exact's.  NULL scores coalesce to −∞
    (negated: +∞), so a scored copy always beats an unscored one.
    NULL-text rows pass through untouched, as in dedup_exact.
    """
    key = F.md5(normalize_text(F.col(text_col))).alias("__key")
    keyed = df.select(
        F.col(id_col),
        key,
        (-F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf")))).alias(
            "__nsc"
        ),
    ).where(F.col("__key").isNotNull())
    winners = keyed.groupBy("__key").agg(
        F.min(F.struct(F.col("__nsc"), F.col(id_col).alias("__id"))).alias("__w")
    )
    winner_ids = winners.select(F.col("__w.__id").alias(id_col))
    # NULL-text rows are excluded from the semi-join input (not just
    # appended after): under non-unique ids a NULL-text row sharing a
    # survivor's id would otherwise be emitted twice — once via the
    # semi-join, once via the union
    survivors = df.where(F.col(text_col).isNotNull()).join(
        winner_ids, on=id_col, how="left_semi"
    )
    null_rows = df.where(F.col(text_col).isNull())
    return survivors.unionByName(null_rows)


def dedup_snapshot_scoped(
    df: DataFrame,
    snapshot_col: str = "snapshot",
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_snapshot: bool = False,
) -> DataFrame:
    """Crawl-snapshot-scoped exact dedup: :func:`dedup_exact`'s min-id
    winner rule applied WITHIN each ``snapshot_col`` partition — the
    FineWeb finding (Penedo et al. 2024 §4.4) that deduplicating each
    crawl snapshot independently yields better training data than one
    global cross-snapshot dedup (global dedup preferentially deletes
    the high-quality pages that recur across snapshots).

    ``cross_snapshot=True`` adds the incremental-pipeline semantic on
    top: a content group also survives only in the EARLIEST snapshot
    containing it (``snapshot_col`` must sort in crawl order) — exactly
    what an APPEND-maintained fingerprint index produces when each new
    snapshot is probed against it (:func:`~rheoceros_spark.operators.
    curation.fingerprint_index_write` + anti-join, equality pinned in
    tests/test_dedup_scoped.py), without ever rescanning old text.

    Scale shape: ONE (snapshot, 32-byte md5) shuffle for the winner
    aggregate (never text); ``cross_snapshot`` adds one fp-keyed
    min-snapshot aggregate over the same narrow frame.  NULL-text rows
    pass through untouched, and a NULL snapshot forms its own scope
    (groupBy keeps NULL keys) — unscoped strays dedup among
    themselves, never against a real snapshot.
    """
    key = F.md5(normalize_text(F.col(text_col))).alias("__key")
    keyed = df.select(F.col(id_col), F.col(snapshot_col), key).where(
        F.col("__key").isNotNull()
    )
    winners = keyed.groupBy(snapshot_col, "__key").agg(F.min(id_col).alias(id_col))
    if cross_snapshot:
        first = keyed.groupBy("__key").agg(
            F.min(snapshot_col).alias("__first_snap")
        )
        winners = winners.join(first, "__key").where(
            F.col(snapshot_col).eqNullSafe(F.col("__first_snap"))
        )
    survivors = df.where(F.col(text_col).isNotNull()).join(
        winners.select(id_col), on=id_col, how="left_semi"
    )
    null_rows = df.where(F.col(text_col).isNull())
    return survivors.unionByName(null_rows)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: prime modulus for the affine permutation family; (2i+1)·h32 + i stays
#: well under 2^63 because h32 < 2^32 — no overflow even under ANSI mode.
MINHASH_P = 2147483647  # 2^31 - 1


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Validated ``num_hashes / bands``.  Unchecked, ``bands >
    num_hashes`` gives 0-row band slices — EVERY doc hashes to the md5
    of an empty slice, one global bucket, and the candidate join goes
    O(n²); a non-divisible combination silently drops trailing
    signature lanes and changes recall.  Both are refused loudly."""
    if bands <= 0 or num_hashes <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a positive multiple of "
            f"bands={bands} (rows_per_band = num_hashes/bands)"
        )
    return num_hashes // bands


def _minhash_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """(id, sig, sh): signature lanes **and** the hashed-shingle set
    from one aggregate — explode distinct word n-grams, hash each
    **once** (h64 = md5-based, DuckDB-portable), then per-doc mins of
    ``num_hashes`` affine permutations ``((2i+1)·h32 + i) mod P`` plus
    ``collect_set`` of the base hashes.

    One hash aggregate: partial min/set per doc map-side, so the
    shuffle moves one row per doc per partition regardless of document
    length; when several branches of a plan need it (buckets + both
    verify sides) the exchange subtree is computed once and reused
    (ReuseExchange).  The set is bigint, so the verify join shuffles
    8-byte elements and intersects ints, not n-gram strings."""
    from rheoceros_spark.operators.scale import ensure_parallelism

    shingles = F.array_distinct(word_ngrams(tokens(F.col(text_col)), ngram))
    # the shingle HOFs are interpreted (not codegen'd): fan the scan out
    # to cluster width first or a single-file input runs them on 1 core
    ex = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(shingles).alias("__s")
    )
    hashed = ex.select(
        F.col(id_col), (h64(F.col("__s")) % F.lit(4294967296)).alias("__h")
    )
    mins = [
        F.min(
            (F.lit(2 * i + 1) * F.col("__h") + F.lit(i)) % F.lit(MINHASH_P)
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    agg = hashed.groupBy(id_col).agg(*mins, F.collect_set("__h").alias("sh"))
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
        "sh",
    )


def minhash_sigs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """(id, sig) signatures; see :func:`_minhash_docs` (the unused set
    aggregate is pruned by Catalyst)."""
    return _minhash_docs(df, text_col, id_col, num_hashes, ngram).select(
        F.col(id_col), "sig"
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """Compat shape: original rows with a ``sig`` column appended.
    LEFT join: a NULL-text row produces no shingles and hence no
    signature — it stays in the output with ``sig`` NULL instead of
    silently vanishing (the append-a-column contract)."""
    return df.join(minhash_sigs(df, text_col, id_col, num_hashes, ngram), id_col, "left")


def minhash_band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each doc into (band, bucket) keys: bucket = h64 of the
    band's signature slice.  Docs sharing any (band, bucket) are
    candidate duplicates.  ``keep`` columns ride along on every band
    row (the index carries the shingle set this way, without a join
    back to the signatures)."""
    bucketed = sig_df.select(
        id_col,
        *keep,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.conv(
                    F.substring(
                        F.md5(F.concat_ws(",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        ).alias("band", "bucket"),
    )
    return bucketed


def _capped_candidates(
    buckets: DataFrame,
    id_col: str,
    max_bucket: int | None,
    broadcast_oversized: bool = True,
) -> DataFrame:
    """Distinct (a, b) candidate pairs (a < b) from band-bucket
    collisions, with the quadratic blow-up of oversized buckets capped.

    A boilerplate mega-bucket (N near-identical docs sharing a band
    signature) yields N² pre-verify candidates — at 100 TB that is the
    job-killer AQE skew-join does NOT fix (it splits partitions; it
    cannot shrink the pair count).  Buckets with ≤ ``max_bucket`` docs
    keep exact all-pairs; larger buckets switch to **star pairing** —
    every doc pairs with the bucket's smallest id — which bounds
    candidates at N-1 per bucket while preserving the dedup contract
    (every non-minimal doc still meets a smaller-id candidate; min-id
    survivor unchanged).  The recall trade: within an oversized bucket,
    a pair of docs that are near-dups of each other but NOT of the
    anchor is missed — only possible when a mega-bucket is a signature
    collision of dissimilar docs, which the band construction makes
    vanishingly rare.  Bucket sizing is one narrow map-side-combinable
    aggregate (band, bucket, count, min-id) joined back to the bucket
    stream; a window-rank over the full bucket stream was measured
    3-5x slower and is deliberately avoided.
    """
    if max_bucket is None:
        a, b = buckets.alias("a"), buckets.alias("b")
        return (
            a.join(b, on=["band", "bucket"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
            .distinct()
        )
    # Oversized buckets are usually rare outliers (a band bucket over
    # max_bucket docs means max_bucket near-identical signatures), so
    # find them with one narrow map-side-combinable aggregate and
    # broadcast-tag the bucket stream (a map-side lookup).  The hint
    # matters: leaving the join for AQE to convert was measured ~3x
    # slower end-to-end — the planned shuffle join exchanges the
    # corpus-sized bucket stream once per consumer of `tagged` (both
    # self-join sides + the star pairs).  An eager count-guarded
    # checkpoint was also tried and rejected: it executes the full
    # minhash pipeline at DataFrame-CONSTRUCTION time (explain-only
    # callers pay real jobs) and checkpointed partitions have no
    # lineage fallback under executor loss.  For the pathological
    # corpus where the oversized set itself is huge (millions of
    # distinct boilerplate templates, each its own mega-bucket), pass
    # ``broadcast_oversized=False`` to take the shuffle tag join
    # instead of an unbounded broadcast.
    oversized = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min(id_col).alias("__anchor"))
        .where(F.col("__cnt") > max_bucket)
        .select("band", "bucket", "__anchor")
    )
    tag = F.broadcast(oversized) if broadcast_oversized else oversized
    tagged = buckets.join(tag, on=["band", "bucket"], how="left")
    small = tagged.where(F.col("__anchor").isNull()).select("band", "bucket", id_col)
    sa, sb = small.alias("a"), small.alias("b")
    cand_small = (
        sa.join(sb, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
    )
    # star pairs fall straight out of the broadcast tag: no extra shuffle
    cand_big = (
        tagged.where(F.col("__anchor").isNotNull() & (F.col(id_col) != F.col("__anchor")))
        .select(F.col("__anchor").alias("a"), F.col(id_col).alias("b"))
    )
    return cand_small.unionByName(cand_big).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 256,
    broadcast_oversized: bool = True,
) -> DataFrame:
    """Candidate pairs from band-bucket collisions, verified with exact
    n-gram Jaccard ≥ threshold.  Returns (a, b, jaccard), a < b.

    ``max_bucket`` caps oversized buckets via star pairing (see
    :func:`_capped_candidates`) so boilerplate text cannot go quadratic
    pre-verify; ``None`` disables the cap (exact all-collisions, for
    oracle verification on small inputs).  ``broadcast_oversized``
    picks the oversized-bucket tag-join strategy — broadcast map-side
    lookup (default; the oversized set is tiny for real corpora) vs
    shuffle join (for corpora with unbounded distinct mega-buckets)."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    # r14 (guide §2.4 / §3.3): the (id, sig, sh) aggregate feeds SIX
    # plan branches — the bucket stream via _capped_candidates'
    # oversized-tag diamond (4 consumers) plus both verify sides — and
    # the hoped-for ReuseExchange NEVER fires (each branch prunes
    # different columns, so the canonicalized exchanges differ: the
    # sf0.001 plan showed 8 corpus scans, 0 ReusedExchange).  One lazy
    # localCheckpoint materializes the shingle-explode + per-doc
    # min-hash pass ONCE; every branch then reads narrow (id, sig, sh)
    # blocks instead of re-tokenizing and re-hashing the corpus.  At
    # sf0.1 the redundant branches mostly overlap on idle cores
    # (interleaved min-of-4: 2.92 s → 2.36 s); the real term is the
    # 6× scan+hash amplification at corpus scale.  Same trade the
    # sibling operators already accept (semantic_dup_pairs,
    # dup_clusters): disk-backed blocks, no lineage fallback.
    docs = _minhash_docs(df, text_col, id_col, num_hashes, ngram).localCheckpoint(
        eager=False
    )
    sh_df = docs.select(F.col(id_col), "sh")
    buckets = minhash_band_buckets(docs, id_col, bands, rows_per_band)
    cand = _capped_candidates(buckets, id_col, max_bucket, broadcast_oversized)
    left = sh_df.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    right = sh_df.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(left, "a")
        .join(right, "b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Drop every row that near-dup-pairs with a smaller id."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_sigs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, simhash) signatures: bit b is set iff the sum over tokens
    of ±1 (per token-hash bit b) is positive.  Frequency-weighted (raw
    tokens, not distinct).

    Explode → one h64 per token → single grouped aggregate computing
    all ``bits`` ±1 sums (partial map-side), then fold the sums into
    one bigint.  One hash per token instead of ``bits`` per token."""
    from rheoceros_spark.operators.scale import ensure_parallelism

    ex = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    hashed = ex.select(F.col(id_col), h64(F.col("__t")).alias("__h"))
    sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*sums)
    bit_terms = [
        F.when(F.col(f"__b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for b in range(bits)
    ]
    return agg.select(
        F.col(id_col), reduce(lambda x, y: x + y, bit_terms).alias("simhash")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Compat shape: original rows with a ``simhash`` column appended
    (LEFT join — NULL-text rows keep their row, ``simhash`` NULL)."""
    return df.join(simhash_sigs(df, text_col, id_col, bits), id_col, "left")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via chunk blocking.

    With ``chunks > max_hamming`` the blocking is exact (pigeonhole):
    a pair within the distance budget must agree on ≥1 chunk, so the
    chunk self-join loses nothing vs all-pairs.
    """
    assert chunks > max_hamming, "chunk blocking only exact when chunks > max_hamming"
    chunk_bits = bits // chunks
    # r14: both self-join sides consume the signature frame — without
    # materialization the tokenize + 32-bit-sum aggregate runs TWICE.
    # One lazy localCheckpoint of the narrow (id, simhash) rows halves
    # the corpus-scale work (the minhash_lsh_pairs rationale); at
    # sf0.1 it is timing-neutral (the duplicate pass overlapped on
    # idle cores), kept for the 2× scan term at 100 TB.
    sh = simhash_sigs(df, text_col, id_col, bits).localCheckpoint(eager=False)
    chunked = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a"),
            F.col(f"b.{id_col}").alias("b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kwargs) -> DataFrame:
    pairs = simhash_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (verifier primitive)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.5,
    blocked: bool = True,
) -> DataFrame:
    """Pairs with word-n-gram Jaccard ≥ threshold.

    ``blocked=True`` (default — the only sane setting at scale) routes
    candidate generation through MinHash band buckets; band parameters
    (16 hashes, 4 bands × 4 rows) give ~50% collision probability at
    J=0.5 per band. ``blocked=False`` is exact all-pairs — quadratic,
    for small inputs / oracle verification only.
    """
    if blocked:
        return minhash_lsh_pairs(
            df, text_col, id_col, num_hashes=16, bands=4, ngram=ngram, threshold=threshold
        )
    # jaccard over *hashed* n-gram sets (32-bit, collision-negligible):
    # int intersections, and bit-identical to the blocked path's sets
    sh = F.array_distinct(
        F.transform(
            word_ngrams(tokens(F.col(text_col)), ngram),
            lambda g: h64(g) % F.lit(4294967296),
        )
    )
    docs = df.select(F.col(id_col), sh.alias("sh"))
    a = docs.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs_blocked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    tables: int = 4,
    nbits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Near-dup pairs via multi-table random-hyperplane LSH blocking —
    the 100 TB path (no cartesian product anywhere in the plan).

    Each vector gets one ``nbits``-bit sign signature per table
    (``tables`` disjoint slices of a deterministic plane matrix); a
    candidate pair must collide in at least one table, and is then
    exactly rerank-ed with cosine.  Cost is O(Σ bucket²) instead of
    O(n²); the signature join shuffles on (table, sig) — a 16-byte
    key — and ``nbits`` dials bucket size against recall.  For cosine
    ≥ 0.95 (angle ≤ 18°, per-plane split prob ≈ 0.1) the defaults give
    per-table collision ≈ 0.9^8 ≈ 0.43 and 4-table recall ≈ 0.90.

    Deterministic-approximate: the plane matrix is the same md5
    construction as :func:`similarity.plane_matrix`, so an oracle can
    rebuild the identical candidate set.
    """
    from rheoceros_spark.functions.portable import dot
    from rheoceros_spark.operators.scale import ensure_parallelism
    from rheoceros_spark.operators.similarity import _check_vec_dim, plane_matrix, signature_col

    _check_vec_dim(df, vec_col, dim, "embedding_dup_pairs_blocked")
    # a single-file corpus scans as ONE task, and the broadcast bucket
    # join preserves stream-side partitioning — without fan-out the
    # whole Σ bucket² rerank runs on one core (measured 3× of the total)
    df = ensure_parallelism(df)
    planes = plane_matrix(tables * nbits, dim)
    sigs = F.array(
        *[signature_col(vec_col, planes[t * nbits:(t + 1) * nbits]) for t in range(tables)]
    )
    # Pre-compute the SCALAR norm once per vector (n rows) so the
    # per-candidate rerank is a single dot product plus one multiply —
    # the rerank is the dominant cost (Σ bucket² pairs × dim ops) and
    # this cuts it 3×.  Deliberately NOT a pre-normalized vector: a
    # dim-wide normalized array would reference the dim-term norm from
    # every element and Catalyst's project collapsing can inline it
    # dim× (measured: a dim²-term expression, 5 MB task binaries, 2×
    # SLOWER).  A scalar carries 8 bytes through the join and keeps
    # the per-candidate expression a single fold.
    v = F.col(vec_col)
    e = df.select(
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        F.sqrt(dot(v, v)).alias("__n"),
        sigs.alias("__sigs"),
    ).select("__id", "__v", "__n", "__sigs", F.posexplode("__sigs").alias("t", "sig"))
    a = e.select(
        F.col("__id").alias("a"), F.col("__v").alias("va"), F.col("__n").alias("na"),
        F.col("__sigs").alias("sa"), "t", "sig",
    )
    b = e.select(
        F.col("__id").alias("b"), F.col("__v").alias("vb"), F.col("__n").alias("nb"),
        F.col("__sigs").alias("sb"), "t", "sig",
    )
    # keep a pair only at its FIRST colliding table: no earlier-table
    # signature match.  This both deduplicates the candidate set BEFORE
    # the rerank (a near-dup collides in most tables — up to `tables`×
    # redundant cosine work) and removes the post-rerank distinct
    # shuffle entirely.  Spelled as a flat OR over the (static) earlier
    # table indices so it codegens with the rest of the filter.
    earlier_match = F.lit(False)
    for i in range(1, tables):  # 1-based array index i == earlier table i-1
        earlier_match = earlier_match | (
            (F.col("t") >= i) & (F.element_at("sa", i) == F.element_at("sb", i))
        )
    # try_divide: zero-norm → NULL cos → dropped by the threshold,
    # same as cosine()'s contract (the oracle divides plainly — no
    # zero-norm vectors exist, which the try_ keeps non-fatal anyway)
    return (
        a.join(b, on=["t", "sig"])
        .where((F.col("a") < F.col("b")) & ~earlier_match)
        .withColumn(
            "cos",
            F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
        )
        .where(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos_r"))
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (a < b).  Quadratic — the
    verification oracle for :func:`embedding_dup_pairs_blocked`, which
    is the path to use at scale."""
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos_r"))
    )


def embedding_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    blocked: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicate vectors (min-id survivor).  ``blocked=True``
    (default — the only sane setting at scale) generates candidates via
    LSH blocking; ``blocked=False`` is exact all-pairs for small inputs
    / oracle verification only."""
    if blocked:
        pairs = embedding_dup_pairs_blocked(df, vec_col, id_col, threshold, **lsh_kwargs)
    else:
        pairs = embedding_dup_pairs(df, vec_col, id_col, threshold)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# incremental dedup against a persisted corpus index
# ---------------------------------------------------------------------------

def _index_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    ngram: int,
) -> DataFrame:
    """The index row builder: ``(id, band, bucket, sh, num_hashes,
    bands, ngram)``, one row per doc per band.  The index, a probe and
    the streaming gate's append all take their rows from here, so a
    batch hashed once can be probed and appended without re-hashing."""
    docs = _minhash_docs(df, text_col, id_col, num_hashes, ngram)
    return minhash_band_buckets(
        docs, id_col, bands, _rows_per_band(num_hashes, bands), keep=("sh",)
    ).select(
        id_col, "band", "bucket", "sh",
        F.lit(num_hashes).alias("num_hashes"),
        F.lit(bands).alias("bands"),
        F.lit(ngram).alias("ngram"),
    )


def _write_index(rows: DataFrame, path: str, mode: str) -> None:
    """Write index rows hive-partitioned by ``band``.  The repartition
    on (band, bucket) lets AQE coalesce a small batch to one writer
    task, so an append adds about one file per band instead of one per
    shuffle partition, while a large batch keeps its width.  An empty
    ``rows`` writes no data file."""
    rows.repartition("band", "bucket").write.mode(mode).partitionBy("band").parquet(path)


def _probe_index(rows: DataFrame, index: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """``(new_id, dup_of, jaccard)`` for every pair of a batch's index
    rows and an indexed doc that share a (band, bucket) and reach
    ``threshold`` exact Jaccard on their shingle sets.  A pair that
    collides in several bands appears once per shared band: callers
    that need unique pairs deduplicate the (small) verified output,
    so no shuffle ever carries the shingle arrays, and a caller that
    only anti-joins on ``new_id`` needs no shuffle at all."""
    n = rows.select(
        F.col(id_col).alias("new_id"),
        F.col("band"), F.col("bucket"), F.col("sh").alias("sh_n"),
    )
    ix = index.select(
        F.col(id_col).alias("dup_of"),
        F.col("band"), F.col("bucket"), F.col("sh").alias("sh_i"),
    )
    return (
        n.join(ix, on=["band", "bucket"])
        .select("new_id", "dup_of", jaccard(F.col("sh_n"), F.col("sh_i")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def build_minhash_index(
    df: DataFrame,
    path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    mode: str = "overwrite",
) -> DataFrame:
    """One-time (or per-merge) corpus index for incremental dedup:
    exploded ``(band, bucket, id, sh)`` rows — one row per doc per
    band, carrying the doc's hashed-shingle set for exact verification,
    plus literal ``num_hashes``/``bands``/``ngram`` columns so a probe
    with mismatched parameters fails loudly instead of silently finding
    no collisions.

    At 100 TB you build this once over the existing corpus and append
    each accepted batch; ``dedup_against_index`` then probes new
    batches WITHOUT recomputing the corpus.  With ``path`` the index is
    written to parquet (hive-partitioned by ``band`` so a probe prunes
    to the bands it needs, about one file per band for a small corpus;
    bucket co-location would additionally need
    ``write_bucketed``/``bucketBy``, which requires a metastore table)
    and the RETURNED DataFrame reads from that path — so downstream
    probes scan the materialized index, never the corpus recompute
    plan.  Pass ``path=None`` to get the unpersisted plan for custom
    sinks (e.g. a managed dataset partition).

    ``mode`` follows Spark save-mode semantics and defaults to
    ``overwrite`` for the one-time full build; the incremental append
    step is ``mode="append"`` — pointing an overwrite build at a live
    index replaces the whole corpus index with just this batch, so
    incremental callers must be explicit."""
    idx = _index_rows(df, text_col, id_col, num_hashes, bands, ngram)
    if path is not None:
        _write_index(idx, path, mode)
        return df.sparkSession.read.parquet(path)
    return idx


def _check_index_params(index: DataFrame, num_hashes: int, bands: int, ngram: int) -> None:
    """Fail fast if the probe parameters disagree with the ones the
    index was built with (recorded as literal columns).  Checks ALL
    distinct parameter triples — a limit(1) over a multi-file parquet
    index is nondeterministic and would pass an index accidentally
    appended with different settings, the silent-under-match failure
    this guard exists to make loud.  The distinct frame is index-tiny
    (one row per triple ever written), but computing it scans the
    index; indexes from before the params were recorded (no such
    columns) are accepted as-is."""
    cols = set(index.columns)
    if not {"num_hashes", "bands", "ngram"} <= cols:
        return
    built = sorted(
        (r["num_hashes"], r["bands"], r["ngram"])
        for r in index.select("num_hashes", "bands", "ngram").distinct().collect()
    )
    if not built:
        return
    if len(built) > 1:
        raise ValueError(
            f"minhash index holds MIXED build parameters (num_hashes, bands, "
            f"ngram) ∈ {built} — an append used different settings than the "
            "original build; band buckets across segments would never "
            "collide.  Rebuild the index with one parameter set."
        )
    if built[0] != (num_hashes, bands, ngram):
        raise ValueError(
            f"minhash index was built with (num_hashes, bands, ngram)={built[0]}, "
            f"probe requested {(num_hashes, bands, ngram)} — band buckets would "
            "never collide; rebuild the index or match the parameters"
        )


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Match a NEW batch against an existing corpus index: returns
    ``(new_id, dup_of, jaccard)`` — every new doc whose exact n-gram
    Jaccard against some indexed doc is ≥ ``threshold`` (candidates
    from shared LSH band buckets, so the join is an equi-join on
    (band, bucket), never all-pairs).

    The incremental path: the corpus is never re-hashed — the probe
    costs one scan of the index plus O(batch × bands) shuffle rows
    joined into it.  Filter the batch with a left-anti on ``new_id``
    to accept only novel docs.

    Probe parameters are validated against the ones recorded in the
    index (``ValueError`` on mismatch — mismatched bucketing would
    silently find nothing).  The check is one more scan of the index
    per call; :func:`~rheoceros_spark.streaming.stream.stream_dedup_against_index`
    runs it once, on its first micro-batch."""
    _check_index_params(index, num_hashes, bands, ngram)
    rows = _index_rows(new_df, text_col, id_col, num_hashes, bands, ngram)
    return _probe_index(rows, index, id_col, threshold).dropDuplicates(["new_id", "dup_of"])


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> DataFrame:
    """Exact-substring duplicate detection: per document, how much of it
    is covered by token windows that occur elsewhere in the corpus.

    The scalable stand-in for suffix-array ExactSubstr dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every overlapping ``window``-token span is hashed; a span
    is *duplicated* when its hash occurs more than once corpus-wide
    (cross-document boilerplate AND in-document repetition both count,
    matching ExactSubstr's definition of a repeated substring).  Unlike
    MinHash (whole-doc near-dup), this localizes duplication to spans —
    the signal used to cut licenses/navigation chrome out of otherwise
    unique pages.

    Scale shape: explode is O(tokens) rows (stride 1, hash-only — the
    span string is hashed immediately, never shuffled).  The exploded
    stream is first reduced to per-(doc, span-hash) occurrence counts;
    corpus-wide span counts then aggregate FROM that reduction, so the
    expensive scan→explode→md5 subtree appears once in the plan and
    its exchange is reused by both consumers (the unigram_nll trick —
    without it the corpus is tokenized and hashed twice).  One
    equi-join on the span hash (group-by + join, not a window over the
    hash partition, so AQE skew-split still applies when one
    boilerplate span occurs a billion times), one per-doc rollup.  No
    pairs are ever materialized — corpus-linear at 100 TB.

    Documents shorter than ``window`` tokens have no spans: they return
    ``n_windows = 0`` and NULL ``dup_window_frac`` (left join back to
    the full input keeps the row).

    Returns (id, n_windows, n_dup_windows, dup_window_frac).
    """
    if window < 2:
        raise ValueError(f"substring_dup_spans: window must be >= 2, got {window}")
    toks = tokens(F.col(text_col))
    # explode positions, then hash — deliberately NOT
    # explode(transform(..., lambda ...)): a higher-order-function
    # lambda carries fresh NamedLambdaVariable ids per plan branch,
    # which defeats exchange canonicalization and makes AQE re-run the
    # scan→explode→md5 stage for every consumer (measured: 0 reused
    # stages with the lambda, 1 without).
    # the explicit isnotnull(id) matters for plan reuse, not just
    # semantics: the per-doc branch inherits isnotnull(id) from the
    # final left join while the corpus-count branch would not, and that
    # one-filter difference breaks exchange canonicalization (AQE then
    # runs the scan→explode→md5 stage twice); NULL-id rows are excluded
    # from span statistics either way (they still get an output row
    # with 0 windows via the left join).
    from rheoceros_spark.operators.scale import ensure_parallelism

    spans = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("__t"))
        .where(F.col(id_col).isNotNull() & (F.size(F.col("__t")) >= window))
        .select(
            id_col,
            F.col("__t"),
            F.explode(
                F.sequence(F.lit(1), F.size(F.col("__t")) - F.lit(window - 1))
            ).alias("__pos"),
        )
        .select(
            id_col,
            h64(
                F.concat_ws(" ", F.slice(F.col("__t"), F.col("__pos"), F.lit(window)))
            ).alias("gh"),
        )
    )
    per_gram = spans.groupBy(id_col, "gh").agg(F.count(F.lit(1)).alias("__n"))
    counts = per_gram.groupBy("gh").agg(F.sum("__n").alias("__cnt"))
    per_doc = (
        per_gram.join(counts, "gh")
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("bigint").alias("n_windows"),
            F.sum(
                F.when(F.col("__cnt") > 1, F.col("__n")).otherwise(F.lit(0))
            ).cast("bigint").alias("n_dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.when(
                F.col("n_windows").isNotNull(),
                F.round(
                    F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double"),
                    6,
                ),
            ).alias("dup_window_frac"),
        )
    )


def semantic_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    k: int = 8,
    iters: int = 2,
    cents: DataFrame | None = None,
    salt: int | None = None,
) -> DataFrame:
    """SemDeDup-style near-dup pairs (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): TRAINED k-means cells bound the candidate set — a
    pair must share a coarse cluster — then an exact cosine rerank
    inside the cell.  The trained-cluster complement of
    :func:`embedding_dup_pairs_blocked`'s random-hyperplane blocking:
    LSH buckets are metric-blind slices with tunable recall, while
    learned cells concentrate semantic neighborhoods, which is why the
    SemDeDup recipe prunes training corpora with cluster blocking.

    Scale shape: the coarse codebook is :func:`similarity.kmeans_centroids`'
    trained Lloyd output (broadcast-assign, quantized component means —
    bit-exact across engines), assignment is the max_by argmax (shuffle
    carries n rows), candidates come from a self-equi-join on ``cell``
    (no cartesian node anywhere), and each pair costs one dot product
    against pre-computed scalar norms — the same rerank economics as
    the LSH-blocked path.  Within-cell pair count is O(Σ cell²); size
    ``k`` so cells are ~10-100k docs at the target corpus (SemDeDup
    used 100k clusters for LAION-scale), and AQE's skew-join split
    handles a hot cell.  When ``k`` is below cluster width the pair
    join is skew-salted (the icp_order shape — a-side hashed, b-side
    exploded ``salt`` ways) so the O(cell²) dot stage uses every core;
    the pair set is identical under any salt.

    Returns (a, b, cell, cos_r) with a < b and cosine ≥ ``threshold``.
    Deterministic end-to-end (hash-sampled seeds, quantized means,
    ordered folds) — a SQL oracle reproduces the exact pair set.
    """
    from rheoceros_spark.functions.portable import dot
    from rheoceros_spark.operators.scale import ensure_parallelism
    from rheoceros_spark.operators.similarity import ivf_assign, kmeans_centroids

    base = ensure_parallelism(
        df.where(F.col(id_col).isNotNull()).select(id_col, vec_col)
    )
    if cents is None:
        cents = kmeans_centroids(base, k, iters, vec_col, id_col)
    # multi-round training lineage: materialize once, then assignment +
    # both join branches read the <= k-row table.  The table is
    # MODEL-sized (k rows), so it comes back as a LocalRelation via one
    # bounded collect (r14, the classifier-trainer rationale): the old
    # lazy localCheckpoint planned the whole multi-round training DAG a
    # second time at construction (~1 s of driver latency) and ran a
    # broadcast-build job over the checkpointed RDD per consumer.
    # Doubles round-trip bit-exactly through collect/createDataFrame.
    spark = df.sparkSession
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    assigned = ivf_assign(base, k, vec_col, id_col, cents=cents)
    v = F.col(vec_col)
    e = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        # scalar norm, NOT a pre-normalized vector — see
        # embedding_dup_pairs_blocked for the Catalyst-inlining measurement
        F.sqrt(dot(v, v)).alias("__n"),
    # both self-join branches consume the assignment: materialize it
    # once (lazy — computed on first action) or the broadcast-assign +
    # argmax aggregate would run TWICE, one full corpus pass per branch
    ).localCheckpoint(eager=False)
    a = e.select(
        "cell", F.col("__id").alias("a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = e.select(
        F.col("cell").alias("__cellb"),
        F.col("__id").alias("b"), F.col("__v").alias("vb"), F.col("__n").alias("nb"),
    )
    # Skew salt (the icp_order r14 shape, guide §2.5): with k below
    # cluster width the cell-equi-join runs its O(cell²) dot stage on
    # k tasks no matter how many cores exist — salt the a-side by
    # hash(a), explode the b-side `salt` ways, and every cell splits
    # into `salt` tasks while each (a, b) pair still joins exactly
    # once.  Collapses to the unsalted plan (salt=1, no b-side
    # duplication) once k alone spreads the join — the 100 TB regime.
    # ``salt=None`` derives from cluster width; explicit value pins it
    # (1 disables) — the pair set is identical under any salt.
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
        raise ValueError(f"semantic_dup_pairs: salt must be >= 1, got {salt}")
    if salt > 1:
        a = a.withColumn("__salt", F.pmod(F.xxhash64("a"), F.lit(salt)).cast("int"))
        b = b.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        joined = a.join(
            b, (a["cell"] == b["__cellb"]) & (a["__salt"] == b["__salt"])
        )
    else:
        joined = a.join(b, a["cell"] == b["__cellb"])
    return (
        joined
        .where(F.col("a") < F.col("b"))
        .withColumn(
            "cos",
            F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
        )
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cell", F.round("cos", 6).alias("cos_r"))
    )


# ---------------------------------------------------------------------------
# paragraph / span-granular dedup (C4 / RefinedWeb-style)
# ---------------------------------------------------------------------------

def paragraph_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str | None = None,
    span_tokens: int | None = None,
) -> DataFrame:
    """Segment documents into ordered, NON-overlapping spans — the unit
    :func:`paragraph_dedup` fingerprints and purges.

    Exactly one segmentation mode:

    * ``delim`` — split on a LITERAL delimiter string (``"\\n\\n"`` for
      real paragraph-structured corpora).  Empty segments are kept
      (they carry the document's structure: joining all segments with
      ``delim`` reproduces the original bytes exactly); they are never
      counted or purged.
    * ``span_tokens`` — fixed windows of whitespace tokens, stride ==
      window (no overlap), trailing span shorter.  Joining all span
      texts with a single space reproduces the normalized token
      stream.  The mode for corpora without explicit paragraph
      delimiters.

    Scale shape: pure per-row split/explode — corpus-linear,
    shuffle-free, codegen'd.  Returns (id, span_id [0-based],
    span_text) for non-NULL ids; NULL text yields no rows (the caller
    left-joins originals back).
    """
    if (delim is None) == (span_tokens is None):
        raise ValueError(
            "paragraph_segments: pass exactly one of delim / span_tokens"
        )
    from rheoceros_spark.operators.scale import ensure_parallelism

    base = ensure_parallelism(
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull()).select(
            id_col, text_col
        )
    )
    if delim is not None:
        if delim == "":
            # an empty delimiter would split per-character (Java regex
            # "\Q\E" matches the empty string) — reject it loudly
            raise ValueError("paragraph_segments: delim must be non-empty")
        # \Q..\E literal-quotes the delimiter for Java's regex split, so
        # the split/join duality (the reassembly invariant) holds for
        # any delimiter string, regex metacharacters included.  A
        # literal "\E" inside the delimiter would terminate the quote
        # early, so it is re-escaped the way java.util.regex
        # Pattern.quote does: close the quote, emit an escaped \E,
        # reopen the quote.
        quoted = "\\Q" + delim.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        return base.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(text_col), quoted, -1)
            ).alias("span_id", "span_text"),
        )
    if span_tokens < 1:
        raise ValueError(
            f"paragraph_segments: span_tokens must be >= 1, got {span_tokens}"
        )
    toks = tokens(F.col(text_col))
    staged = base.select(F.col(id_col), toks.alias("__t")).where(
        # tokens("") == [""] — treat empty/whitespace-only text like
        # chunk_documents does: no spans (not one phantom "" span)
        (F.size(F.col("__t")) > 1)
        | (F.element_at(F.col("__t"), 1) != F.lit(""))
    )
    return staged.select(
        F.col(id_col),
        F.col("__t"),
        F.posexplode(
            F.sequence(
                F.lit(1), F.size(F.col("__t")), F.lit(int(span_tokens))
            )
        ).alias("span_id", "__start"),
    ).select(
        F.col(id_col),
        F.col("span_id"),
        F.concat_ws(
            " ", F.slice(F.col("__t"), F.col("__start"), F.lit(int(span_tokens)))
        ).alias("span_text"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    delim: str | None = None,
    span_tokens: int | None = None,
    keep_first: bool = True,
) -> DataFrame:
    """Span-granular dedup: purge REPEATED SPANS across documents while
    keeping the documents — the C4 line-dedup / RefinedWeb
    repeated-span removal that document-level dedup cannot express
    (licence blocks, navigation chrome, boilerplate paragraphs
    embedded in otherwise-unique pages).  C4 (Raffel et al. 2020 §2.2)
    discards all but one occurrence of any repeated line; RefinedWeb
    (Penedo et al. 2023 §3.4) removes duplicated spans in-place.
    Reference slot surface: the same whole-DataFrame curation hook
    that runs doc-level dedup (reference api_ext.py:107-190).

    A span is *boilerplate* when its normalized fingerprint occurs in
    at least ``min_docs`` DISTINCT documents (in-document repetition
    alone never purges).  With ``keep_first`` the single occurrence at
    the globally least ``(id, span_id)`` survives — deterministic, no
    connected components, stable under parallelism (the house survivor
    rule); with ``keep_first=False`` every occurrence is purged.

    Scale shape: segmentation is a shuffle-free explode; fingerprint
    statistics are ONE hash-shuffle on the span fingerprint with
    map-side partial aggregation (one row per distinct span per
    partition crosses the wire); marking is an equi-join on the
    fingerprint against the (usually tiny, but never assumed
    broadcastable) boilerplate set; reassembly is one per-document
    aggregate whose state is bounded by document length.  No pairs,
    nothing quadratic, no driver state — corpus-linear at 100 TB.

    Returns one row per non-NULL-id input document: (id, clean_text,
    n_spans, n_purged, purged_span_ids CSV-string).  NULL-text
    documents keep NULL clean_text and 0 spans.  Reassembly invariant
    (pinned by tests): joining kept+purged spans back in span order
    reproduces the original bytes (``delim`` mode) / the normalized
    token stream (``span_tokens`` mode) exactly.
    """
    if min_docs < 2:
        raise ValueError(f"paragraph_dedup: min_docs must be >= 2, got {min_docs}")
    segs = paragraph_segments(df, text_col, id_col, delim, span_tokens)
    fp = F.md5(normalize_text(F.col("span_text")))
    eligible = segs.where(
        F.length(normalize_text(F.col("span_text"))) > 0
    ).select(F.col(id_col), F.col("span_id"), fp.alias("__fp"))
    stats = (
        eligible.groupBy("__fp")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.min(F.struct(F.col(id_col), F.col("span_id"))).alias("__keeper"),
        )
        .where(F.col("__nd") >= min_docs)
        .select("__fp", "__keeper")
    )
    marked = (
        segs.select(
            F.col(id_col), F.col("span_id"), F.col("span_text"), fp.alias("__fp")
        )
        .join(stats, "__fp", "left")
        .select(
            F.col(id_col),
            F.col("span_id"),
            F.col("span_text"),
            (
                F.col("__keeper").isNotNull()
                & ~(
                    F.lit(bool(keep_first))
                    & (F.col("__keeper") == F.struct(F.col(id_col), F.col("span_id")))
                )
            ).alias("__purge"),
        )
    )
    sep = delim if delim is not None else " "
    return _rebuild_spans(df, marked, id_col, sep)


def _rebuild_spans(df: DataFrame, marked: DataFrame, id_col: str, sep: str) -> DataFrame:
    """Shared reassembly tail of the span-purge operators
    (:func:`paragraph_dedup`, :func:`decontaminate_spans`): per-document
    sort-by-span-id rebuild of kept spans + purge bookkeeping, left-
    joined back to every non-NULL-id input row.  ``marked`` is
    (id, span_id, span_text, __purge boolean); aggregate state is
    bounded by document length."""
    arr = F.sort_array(
        F.collect_list(F.struct(F.col("span_id"), F.col("span_text"), F.col("__purge")))
    )
    rebuilt = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("__purge").cast("int")).cast("bigint").alias("n_purged"),
        F.array_join(
            F.transform(
                F.filter(arr, lambda x: ~x["__purge"]), lambda x: x["span_text"]
            ),
            sep,
        ).alias("clean_text"),
        F.array_join(
            F.transform(
                F.filter(arr, lambda x: x["__purge"]),
                lambda x: x["span_id"].cast("string"),
            ),
            ",",
        ).alias("purged_span_ids"),
    )
    return (
        df.where(F.col(id_col).isNotNull())
        .select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_purged"), F.lit(0)).cast("bigint").alias("n_purged"),
            F.coalesce(F.col("purged_span_ids"), F.lit("")).alias("purged_span_ids"),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str | None = None,
    span_tokens: int | None = None,
) -> DataFrame:
    """Span-granular eval decontamination: REMOVE the spans that share
    a word ``n``-gram with the benchmark while KEEPING the documents —
    the surgical variant of :func:`~rheoceros_spark.operators.curation.
    contamination_ngrams` (which only flags whole documents).  Real
    pipelines prefer removal when a page is largely clean but quotes a
    benchmark item verbatim (GPT-3 appendix C and the FLAN collection
    both describe span/substring-level decontamination).

    Segmentation and reassembly are :func:`paragraph_segments` /
    the :func:`paragraph_dedup` rebuild (same modes, same reassembly
    invariant: kept+purged spans in span order reproduce the original);
    the purge criterion is a BROADCAST probe of the benchmark's
    distinct gram hashes — eval suites are MBs against a 100 TB
    corpus, so the corpus never shuffles its text: explode spans →
    explode span grams → broadcast semi-join → distinct contaminated
    (id, span_id) → mark → per-doc rebuild.  Gram convention matches
    contamination_ngrams (padded partial gram for < n-token texts,
    applied on BOTH sides).

    Returns one row per non-NULL-id corpus document: (id, clean_text,
    n_spans, n_purged, purged_span_ids).
    """
    if n < 1:
        raise ValueError(f"decontaminate_spans: n must be >= 1, got {n}")
    grams = F.array_distinct(word_ngrams(tokens(F.col(text_col)), n))
    bench = (
        benchmark.where(F.col(text_col).isNotNull())
        .select(F.explode(grams).alias("__g"))
        .select(h64(F.col("__g")).alias("__gh"))
        .distinct()
    )
    segs = paragraph_segments(corpus, text_col, id_col, delim, span_tokens)
    span_grams = F.array_distinct(word_ngrams(tokens(F.col("span_text")), n))
    hits = (
        segs.where(F.length(normalize_text(F.col("span_text"))) > 0)
        .select(F.col(id_col), F.col("span_id"), F.explode(span_grams).alias("__g"))
        .select(id_col, "span_id", h64(F.col("__g")).alias("__gh"))
        .join(F.broadcast(bench), "__gh", "left_semi")
        .select(id_col, "span_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    marked = segs.join(hits, [id_col, "span_id"], "left").select(
        F.col(id_col),
        F.col("span_id"),
        F.col("span_text"),
        F.col("__hit").isNotNull().alias("__purge"),
    )
    sep = delim if delim is not None else " "
    return _rebuild_spans(corpus, marked, id_col, sep)


def semantic_keep_list(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    k: int = 8,
    iters: int = 2,
    cents: DataFrame | None = None,
) -> DataFrame:
    """The actionable end of SemDeDup (Abbas et al. 2023 §3: keep ONE
    exemplar per semantic-duplicate cluster): :func:`semantic_dup_pairs`
    → connected components → per-document (``keep_id``, ``is_dup``) —
    the frame a curation job filters on, composed exactly like the
    MinHash pipeline's :func:`~rheoceros_spark.operators.curation.
    dedup_keep_list` but with TRAINED k-means cells bounding the
    candidate set instead of LSH bands.

    Scale shape: inherits semantic_dup_pairs' economics (broadcast
    codebook, cell-equi-join candidates, O(Σ cell²) bounded by the
    cell sizing rule) plus dup_clusters' O(log² n) label-propagation
    rounds; the final left join is corpus × clustered-docs, never
    pair-sized.  Deterministic end-to-end — representative is the
    minimum id of the component, so re-runs and engines agree.
    """
    from rheoceros_spark.operators.curation import dedup_keep_list

    pairs = semantic_dup_pairs(
        df, vec_col=vec_col, id_col=id_col, threshold=threshold, k=k,
        iters=iters, cents=cents,
    )
    return dedup_keep_list(
        df.where(F.col(id_col).isNotNull()), pairs, id_col=id_col
    )


def ngram_hotspots(
    df: DataFrame,
    n: int = 8,
    min_df: int = 2,
    top: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Memorization-risk report: the word ``n``-grams that recur across
    the most DOCUMENTS.  Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") and Carlini et al. 2022 both tie
    verbatim LM memorization to exactly these cross-document repeated
    sequences — this is the *audit* counterpart of the span-dedup
    operators: instead of rewriting the corpus it surfaces the heaviest
    offenders (boilerplate, licenses, chain letters) for a human or a
    targeted filter.

    Per document, the DISTINCT full-length n-grams (documents shorter
    than ``n`` tokens contribute nothing — a truncated gram would alias
    with real n-grams); then one (gram, doc) distinct aggregate counts
    documents per gram.  Grams seen in ≥ ``min_df`` documents rank by
    (n_docs desc, gram asc) and the top ``top`` are returned as
    (rank, gram, n_docs, first_doc).

    Scale shape: the same corpus-linear gram explode + fingerprint
    shuffle as ``substring_span_dedup`` (sf1 ratio 1.40) — shuffle rows
    are (gram, doc_id) with the gram text bounded at ``n`` words; the
    ranking window runs post-aggregate on the gram-count frame and is
    cut to ``min_df`` survivors first.  At petabyte scale, key the
    shuffle by ``h64(gram)`` and carry ``min(gram)`` as the exemplar to
    ship 8-byte keys instead of text — semantics identical modulo
    60-bit collisions; the text key keeps the report collision-free."""
    if n < 2:
        raise ValueError(f"ngram_hotspots: n must be >= 2, got {n}")
    if min_df < 2:
        raise ValueError(f"ngram_hotspots: min_df must be >= 2, got {min_df}")
    if top < 1:
        raise ValueError(f"ngram_hotspots: top must be >= 1, got {top}")
    toks_f = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    grams = F.when(
        F.size(toks_f) >= n, F.array_distinct(word_ngrams(toks_f, n))
    ).otherwise(F.array().cast("array<string>"))
    from pyspark.sql import Window as W

    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan out BEFORE the tokenize/explode CPU (the
    # _minhash_docs lesson); a pre-split input makes this a no-op
    counts = (
        ensure_parallelism(
            df.where(F.col(id_col).isNotNull()).select(id_col, text_col)
        )
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_df)
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(W.partitionBy().orderBy(F.desc("n_docs"), F.asc("gram"))),
    )
    return ranked.where(F.col("rank") <= top).select(
        F.col("rank").cast("bigint"), "gram", "n_docs", "first_doc"
    )


def winnow_fingerprints(
    df: DataFrame,
    n: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): hash every word ``n``-gram, slide a window of
    ``w`` consecutive hashes, keep each window's MINIMUM.  The paper's
    guarantee carries over verbatim: any shared run of at least
    ``w + n − 1`` words between two documents selects at least one
    common fingerprint, while only ~``2/(w+1)`` of the gram hashes are
    kept — the principled sparse alternative to
    :func:`substring_span_dedup`'s keep-every-window stream (position
    tiebreaks only decide which INSTANCE of a repeated minimum is
    charged; the selected hash VALUES — all dedup needs — are
    tiebreak-independent, so plain per-window mins suffice).

    Documents with fewer than ``w`` grams (but at least one) keep their
    single global minimum — short documents stay fingerprinted.

    Returns exploded (``id_col``, ``fp``) rows, distinct per document —
    ready for the pair join, a persisted index, or a bucket count.

    Scale shape: per-row O(w·L) window mins inside the scan stage, then
    ONE (fp, id) distinct shuffle of 8-byte keys at ~2/(w+1) gram
    density — corpus-linear, text never shuffles."""
    if n < 1:
        raise ValueError(f"winnow_fingerprints: n must be >= 1, got {n}")
    if w < 2:
        raise ValueError(f"winnow_fingerprints: w must be >= 2, got {w}")
    toks_f = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    grams = F.when(
        F.size(toks_f) >= n, word_ngrams(toks_f, n)
    ).otherwise(F.array().cast("array<string>"))
    h = F.transform(grams, lambda g: h64(g))
    # sel is built over the MATERIALIZED __h column — referencing the
    # gram-hash expression itself would re-tokenize and re-md5 the text
    # once per branch
    hc = F.col("__h")
    sel = (
        F.when(
            F.size(hc) >= w,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(__h) - {w} + 1), "
                    f"i -> array_min(slice(__h, i, {w})))"
                )
            ),
        )
        .when(F.size(hc) > 0, F.array(F.array_min(hc)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    from rheoceros_spark.operators.scale import ensure_parallelism

    return (
        ensure_parallelism(
            df.where(F.col(id_col).isNotNull()).select(id_col, text_col)
        )
        .withColumn("__h", h)
        .select(F.col(id_col), F.explode(sel).alias("fp"))
    )


def winnow_pairs(
    df: DataFrame,
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints: documents
    sharing ≥ ``min_shared`` selected fingerprints, with the shared
    count.  Fingerprints present in more than ``max_bucket`` documents
    are DROPPED before the join (stop-fingerprints — ubiquitous
    boilerplate mins that would otherwise square the bucket; the same
    bucket-bounding discipline as the banded MinHash-LSH join), as are
    singletons (no pair can come from them).

    Returns (doc_a, doc_b, shared) with doc_a < doc_b, ordered by
    (shared desc, doc_a asc, doc_b asc).

    Scale shape: fingerprint selection is corpus-linear
    (:func:`winnow_fingerprints`); the self-join runs on 8-byte
    fingerprint keys with every bucket ≤ ``max_bucket`` docs, so the
    pair fan-out is bounded per fingerprint and duplicate-driven, never
    corpus-quadratic."""
    if min_shared < 1:
        raise ValueError(f"winnow_pairs: min_shared must be >= 1, got {min_shared}")
    if max_bucket < 2:
        raise ValueError(f"winnow_pairs: max_bucket must be >= 2, got {max_bucket}")
    # fps fans out to THREE consumers (the bucket-size aggregate plus
    # both sides of the self-join) — truncate lineage so the corpus
    # tokenize/gram-hash/window-min pass runs once, not per consumer
    # (the winnow_match_spans / sif_embed dual-consumer discipline);
    # the frame is 8-byte keys at ~2/(w+1) gram density, so the
    # checkpoint is narrow (lazy: materializes on the first action)
    fps = winnow_fingerprints(
        df, n=n, w=w, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)
    # bucket-size gate: one (fp) count aggregate over the 8-byte keys;
    # 2..max_bucket survivors re-broadcast nothing — the join below is
    # a shuffle equi-join on fp with bounded buckets
    sized = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__b"))
    keep = sized.where((F.col("__b") >= 2) & (F.col("__b") <= max_bucket)).select("fp")
    bounded = fps.join(keep, "fp")
    a = bounded.select(F.col("fp"), F.col(id_col).alias("doc_a"))
    b = bounded.select(F.col("fp"), F.col(id_col).alias("doc_b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return pairs.orderBy(F.desc("shared"), F.asc("doc_a"), F.asc("doc_b"))


def winnow_index_write(
    df: DataFrame,
    path: str | None = None,
    n: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Persist the corpus's winnowing fingerprints as an incremental
    near-dup index: ``(id, fp)`` rows plus literal ``n``/``w`` columns
    so a probe with mismatched parameters fails loudly (the
    ``build_minhash_index`` discipline — mismatched windows would
    silently select disjoint fingerprints and find nothing).

    At 100 TB the index is built once and each accepted batch is
    APPENDED (``mode="append"``); :func:`dedup_winnow_against_index`
    then probes new batches without ever rescanning the corpus text.
    The index rows are 8-byte fingerprints + ids at ~2/(w+1) gram
    density — orders of magnitude narrower than the corpus."""
    fps = winnow_fingerprints(df, n=n, w=w, text_col=text_col, id_col=id_col)
    idx = fps.select(
        "*", F.lit(n).alias("n"), F.lit(w).alias("w")
    )
    if path is not None:
        idx.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return idx


def _check_winnow_params(index: DataFrame, n: int, w: int) -> None:
    """Loud mismatch on probe-vs-build parameters.  Checks ALL distinct
    (n, w) pairs in the index — a limit(1) over a multi-file parquet
    index is nondeterministic and would pass an index accidentally
    appended with different parameters than it was built with, which is
    exactly the silent-under-match failure this guard exists to make
    loud.  The distinct frame is index-tiny (one row per parameter
    combination ever written)."""
    if not {"n", "w"} <= set(index.columns):
        return
    built = sorted(
        (r["n"], r["w"]) for r in index.select("n", "w").distinct().collect()
    )
    if not built:
        return
    if len(built) > 1:
        raise ValueError(
            f"winnow index holds MIXED build parameters (n, w) ∈ {built} — "
            "an append used different settings than the original build; "
            "fingerprint selections across segments would never collide. "
            "Rebuild the index with one parameter set."
        )
    if built[0] != (n, w):
        raise ValueError(
            f"winnow index was built with (n, w)={built[0]}, probe requested "
            f"{(n, w)} — fingerprint selections would never collide; rebuild "
            "the index or match the parameters"
        )


def dedup_winnow_against_index(
    new_df: DataFrame,
    index: DataFrame,
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Match a NEW batch against a persisted winnow index: returns
    ``(new_id, dup_of, shared)`` — every new document sharing at least
    ``min_shared`` selected fingerprints with some indexed document.
    The incremental near-dup gate: accept the batch's left-anti on
    ``new_id``, append the accepted fingerprints
    (:func:`winnow_index_write` with ``mode="append"``), and the
    corpus text is never rescanned.

    Index-side stop-fingerprints (present in more than ``max_bucket``
    indexed documents) are dropped before the join — one narrow
    (fp)-count aggregate over the 8-byte index rows per probe, which
    bounds every join bucket; the probe cost is O(batch fingerprints)
    join rows, never corpus-sized."""
    _check_winnow_params(index, n, w)
    if min_shared < 1:
        raise ValueError(
            f"dedup_winnow_against_index: min_shared must be >= 1, got {min_shared}"
        )
    new_fps = winnow_fingerprints(
        new_df, n=n, w=w, text_col=text_col, id_col=id_col
    ).select(F.col(id_col).alias("new_id"), "fp")
    ix = index.select(F.col(id_col).alias("dup_of"), "fp")
    sized = ix.groupBy("fp").agg(F.count(F.lit(1)).alias("__b"))
    keep = sized.where(F.col("__b") <= max_bucket).select("fp")
    bounded = ix.join(keep, "fp")
    return (
        new_fps.join(bounded, "fp")
        .groupBy("new_id", "dup_of")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def winnow_match_spans(
    df: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    min_run: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Localize WHAT matched documents share — the report MOSS shows
    its users: for each (doc_a, doc_b) candidate pair, the maximal runs
    of consecutive identical word ``n``-grams, as
    (doc_a, doc_b, start_a, start_b, n_grams, n_words).

    ``pairs`` is a candidate frame (doc_a, doc_b) — typically
    :func:`winnow_pairs` output or :func:`dedup_winnow_against_index`
    matches renamed — so the expensive alignment only ever runs on
    ALREADY-MATCHED pairs, never the corpus cross product.

    Algorithm: gram streams WITH positions for exactly the documents
    appearing in ``pairs`` (semi-join prunes the corpus scan), equi-join
    a-side × b-side per pair on the gram text, then classic
    gaps-and-islands on each alignment diagonal (``pos_a − pos_b``
    constant, consecutive ``pos_a``): island id =
    ``pos_a − row_number()`` per (pair, diagonal), one aggregate per
    island.  A run of ``g`` consecutive shared n-grams covers
    ``g + n − 1`` shared words.  Runs shorter than ``min_run`` grams
    are dropped.

    Scale shape: the join is keyed on (pair-member doc ids × gram), so
    fan-out is bounded by per-pair shared-gram multiplicity; windows
    partition by (pair, diagonal) — alignment-sized, never
    corpus-sized.  Output ordered by (doc_a, doc_b, start_a)."""
    if min_run < 1:
        raise ValueError(f"winnow_match_spans: min_run must be >= 1, got {min_run}")
    from pyspark.sql import Window as W

    from rheoceros_spark.operators.scale import ensure_parallelism

    # THREE consumers read the candidate frame (members, the a-side
    # join, the b-side doc filter) — without lineage truncation the
    # whole upstream pair DAG (corpus-wide fingerprinting for
    # winnow_pairs input) re-executes per consumer; the frame itself is
    # match-bounded, so the checkpoint is cheap (lazy: materializes on
    # the first action).  Ids keep the pairs frame's NATIVE type (the
    # dedup_keep_list discipline) — an eager bigint cast turned string
    # doc ids to NULL and made the alignment joins silently match
    # nothing
    p = (
        pairs.select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    members = (
        p.select(F.col("doc_a").alias("__m"))
        .union(p.select(F.col("doc_b")))
        .distinct()
    )
    toks_f = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    grams = F.when(
        F.size(toks_f) >= n, word_ngrams(toks_f, n)
    ).otherwise(F.array().cast("array<string>"))
    # gpos feeds BOTH join sides — checkpoint so the member-pruned
    # tokenize/gram pass runs once (rows = member docs × grams, bounded
    # by the matches).  Grams are matched by their 60-bit h64 — the
    # family's standard key (winnowing itself is hash-equality) — so
    # the alignment shuffle ships 8-byte keys, not gram text
    gpos = (
        ensure_parallelism(
            df.where(F.col(id_col).isNotNull())
            .join(members, F.col(id_col) == F.col("__m"), "left_semi")
            .select(id_col, text_col)
        )
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .select(F.col(id_col), "pos", h64(F.col("gram")).alias("gh"))
        .localCheckpoint(eager=False)
    )
    a = p.join(gpos, p.doc_a == F.col(id_col)).select(
        "doc_a", "doc_b", F.col("pos").alias("pos_a"), "gh"
    )
    b = gpos.select(
        F.col(id_col).alias("__idb"), F.col("pos").alias("pos_b"),
        F.col("gh").alias("__ghb"),
    )
    m = a.join(
        b,
        (F.col("doc_b") == F.col("__idb")) & (F.col("gh") == F.col("__ghb")),
    ).select("doc_a", "doc_b", "pos_a", "pos_b")
    diag = (F.col("pos_a") - F.col("pos_b")).alias("__diag")
    w = W.partitionBy("doc_a", "doc_b", "__diag").orderBy("pos_a")
    islands = (
        m.select("*", diag)
        .withColumn("__isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "__diag", "__isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .where(F.col("n_grams") >= min_run)
    )
    return islands.select(
        "doc_a",
        "doc_b",
        "start_a",
        "start_b",
        "n_grams",
        (F.col("n_grams") + F.lit(n - 1)).cast("bigint").alias("n_words"),
    ).orderBy("doc_a", "doc_b", "start_a")


def intradoc_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """WITHIN-document repeated-line removal — the intra-document
    complement of :func:`paragraph_dedup`'s cross-document span dedup,
    and the self-cleaning rewrite C4-style pipelines apply before any
    page-level rule (menus, cookie banners and share bars repeat
    VERBATIM inside a page; dropping repeats before word/line counting
    keeps those gates honest).

    Per document: split on ``sep``, normalize each line to a match key
    (whitespace runs collapsed, trimmed — case and punctuation are
    PRESERVED, so only true repeats collapse), keep the FIRST
    occurrence of each key in document order, drop whitespace-only
    lines, and re-join the kept lines' ORIGINAL text with ``sep``
    (byte-exact reassembly of survivors, the ``c4_line_filter``
    contract).

    Adds ``clean_text``, ``n_lines`` (non-blank), ``n_kept`` and
    ``n_dup_lines`` (= n_lines − n_kept).

    Scale shape: entirely ROW-LOCAL — array HOFs inside one codegen'd
    scan stage, zero shuffle, nothing leaves the partition.  The
    first-occurrence test is O(L²) in the number of LINES of a single
    document (prefix scan per line) — L is tens for real pages, and the
    work stays per-row, so corpus cost is linear (the char-entropy
    lesson: per-row quadratic in a SMALL per-row quantity beats any
    shuffle; revisit only if L grows unbounded).  The input is plan-
    barriered: when ``text_col`` is itself an expensive computed column
    (e.g. HTML extraction), CollapseProject would otherwise inline that
    chain into EVERY reference inside the O(L²) prefix loop — measured
    as a 20× wall blowup in the markup pipeline."""
    from rheoceros_spark.operators.scale import plan_barrier

    raw = F.coalesce(F.col(text_col), F.lit(""))
    # F.split's pattern is a Java REGEX while reassembly (array_join)
    # and the DuckDB twin (string_split) treat ``sep`` literally — a
    # metacharacter sep ('.', '|') would mis-split and break byte-exact
    # reassembly.  Escape every regex-special character so all three
    # agree on the literal separator.
    sep_pattern = "".join(
        ("\\" + c) if c in ".\\^$|?*+()[]{}" else c for c in sep
    )
    lines = F.split(raw, sep_pattern)
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan before the per-row split/fold CPU (r14 — the
    # hash_embed note; no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    out = (
        plan_barrier(df, "intradoc_line_dedup_rows_in")
        .withColumn("__lines", lines)
        .withColumn(
            "__keys",
            F.transform(
                F.col("__lines"),
                lambda l: F.trim(F.regexp_replace(l, "[ \t\r\f]+", " ")),
            ),
        )
        .withColumn(
            "__kept_idx",
            F.expr(
                "filter(sequence(1, size(__keys)), i -> "
                "element_at(__keys, i) != '' AND NOT exists("
                "slice(__keys, 1, i - 1), k -> k = element_at(__keys, i)))"
            ),
        )
    )
    n_lines = F.size(F.filter(F.col("__keys"), lambda k: k != "")).cast("long")
    n_kept = F.size("__kept_idx").cast("long")
    return out.select(
        *[c for c in df.columns],
        F.array_join(
            F.expr("transform(__kept_idx, i -> element_at(__lines, i))"),
            sep,
        ).alias("clean_text"),
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept"),
        (n_lines - n_kept).alias("n_dup_lines"),
    )


def intradoc_line_dedup_duckdb_sql(text_expr: str, sep: str = "\n") -> dict[str, str]:
    """DuckDB twin of :func:`intradoc_line_dedup` (oracle-builder
    pattern): expressions for ``__lines``/``__keys``/``__kept_idx`` CTE
    columns plus the four output columns.  Index-based formulation is
    IDENTICAL on both engines (1-based element_at/list slicing)."""
    sep_sql = "chr(10)" if sep == "\n" else "'" + sep.replace("'", "''") + "'"
    lines = f"string_split(coalesce({text_expr}, ''), {sep_sql})"
    keys = (
        "list_transform(__lines, l -> "
        "trim(regexp_replace(l, '[ \\t\\r\\f]+', ' ', 'g')))"
    )
    kept_idx = (
        "list_filter(range(1, len(__keys) + 1), i -> "
        "__keys[i] <> '' AND NOT list_contains("
        "list_slice(__keys, 1, i - 1), __keys[i]))"
    )
    return {
        "lines": lines,
        "keys": keys,
        "kept_idx": kept_idx,
        "clean_text": (
            "coalesce(array_to_string("
            f"list_transform(__kept_idx, i -> __lines[i]), {sep_sql}), '')"
        ),
        "n_lines": "len(list_filter(__keys, k -> k <> ''))",
        "n_kept": "len(__kept_idx)",
    }


# ---------------------------------------------------------------------------
# Bloom-filter dedup gate (Dolma/DataComp-style memory-bounded dedup)
# ---------------------------------------------------------------------------

#: scheme tag persisted with every bloom filter — bump if the hash
#: family, word width, or position derivation ever changes, so a stale
#: artifact fails loudly instead of silently mis-probing
BLOOM_ALGO = "bloom_md5_32w_v1"

#: probe path switches from the plan-literal map fold to the broadcast
#: join above this many 32-bit words (Spark literal-map lookups are
#: LINEAR scans — the sif_embed large-table rule)
_BLOOM_ROWFOLD_MAX_WORDS = 256


def _bloom_positions(fp: F.Column, k: int, m_bits: int) -> F.Column:
    """Array of ``k`` bit positions for a fingerprint string — each an
    independently seeded portable h64 mod m (m a power of two, both
    operands non-negative, so ``%`` agrees across engines)."""
    return F.array(*[h64(fp, seed=i) % m_bits for i in range(k)])


def bloom_build(
    df: DataFrame,
    fp_col: str = "fp",
    m_bits: int = 1 << 13,
    k: int = 4,
    path: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Build a DETERMINISTIC Bloom filter over a fingerprint column —
    the memory-bounded dedup state of Dolma's deduper and the DataComp
    tooling: at 100 TB a full fingerprint index is terabytes, while a
    Bloom filter answering "definitely novel / maybe seen" fits in a
    few MB of broadcastable state with a chosen false-positive rate.

    Layout: sparse ``(word_idx, bits)`` rows over 32-bit words
    (positions ``p`` set bit ``p % 32`` of word ``p // 32`` — 32-bit
    words keep every mask in BIGINT-positive range, exact on both
    engines), plus literal ``m_bits`` / ``k`` / ``bloom_algo`` stamps
    validated on probe (the :func:`_check_winnow_params` discipline).
    Everything is md5-derived integer algebra — NO engine-private hash,
    so a DuckDB oracle reproduces the filter bit-for-bit.

    Sizing: optimal ``k ≈ (m/n)·ln2``; with the defaults (8192 bits,
    k=4) a 1k-document batch sits near fpp ≈ 0.2%.  Size ``m_bits`` to
    the corpus — :func:`bloom_fill_ratio` reports saturation, and the
    probe REFUSES a filter past 50% fill (a saturated filter flags
    everything as maybe-dup, silently gating nothing).

    Scale shape: one corpus-linear position explode → a ``bit_or``
    aggregate onto ≤ m/32 rows (map-side combined); the filter is the
    ONLY state that persists — the corpus text never shuffles and is
    never rescanned by later probes."""
    if m_bits < 64 or (m_bits & (m_bits - 1)) != 0:
        raise ValueError(f"bloom_build: m_bits must be a power of two >= 64, got {m_bits}")
    if not 1 <= k <= 16:
        raise ValueError(f"bloom_build: k must be in [1, 16], got {k}")
    pos = (
        df.where(F.col(fp_col).isNotNull())
        .select(F.explode(_bloom_positions(F.col(fp_col), k, m_bits)).alias("__p"))
    )
    filt = (
        pos.select(
            (F.col("__p") / 32).cast("bigint").alias("word_idx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (F.col("__p") % 32).cast("int")
            ).alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
        .select(
            "word_idx",
            "bits",
            F.lit(m_bits).cast("bigint").alias("m_bits"),
            F.lit(k).cast("bigint").alias("k"),
            F.lit(BLOOM_ALGO).alias("bloom_algo"),
        )
    )
    if path is not None:
        filt.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return filt


def _bloom_stats(filt: DataFrame, m_bits: int, k: int) -> tuple[int, int, float]:
    """Stamp validation + fill ratio in ONE driver job (the gate needs
    both; two collects doubled the fresh-JVM artifact-validation cost).
    Checks ALL distinct stamps — an appended-with-different-params
    filter probes garbage.  Pass ``m_bits=0, k=0`` to adopt the
    filter's own stamps (the artifact-of-record convention).  Returns
    (m_bits, k, fill_ratio)."""
    rows = (
        filt.groupBy("m_bits", "k", "bloom_algo")
        .agg(F.sum(F.bit_count("bits")).alias("__set"))
        .collect()
    )
    if not rows:
        raise ValueError("bloom probe: the filter frame is empty — build it first")
    if len(rows) > 1:
        stamps = sorted((r["m_bits"], r["k"], r["bloom_algo"]) for r in rows)
        raise ValueError(
            f"bloom probe: filter holds MIXED build stamps {stamps} — an "
            "append used different settings; rebuild with one parameter set"
        )
    bm, bk, algo = rows[0]["m_bits"], rows[0]["k"], rows[0]["bloom_algo"]
    if algo != BLOOM_ALGO:
        raise ValueError(
            f"bloom probe: filter was built by scheme {algo!r}, this code "
            f"implements {BLOOM_ALGO!r} — positions would not line up"
        )
    if (m_bits, k) != (0, 0) and (bm, bk) != (m_bits, k):
        raise ValueError(
            f"bloom probe: filter was built with (m_bits, k)=({bm}, {bk}), "
            f"probe requested ({m_bits}, {k}) — bit positions would never "
            "collide; rebuild or match the parameters"
        )
    return int(bm), int(bk), (rows[0]["__set"] or 0) / float(bm)


def _check_bloom_params(filt: DataFrame, m_bits: int, k: int) -> tuple[int, int]:
    """Stamp-only variant of :func:`_bloom_stats` (kept for callers
    that don't need the fill ratio)."""
    bm, bk, _ = _bloom_stats(filt, m_bits, k)
    return bm, bk


def bloom_fill_ratio(filt: DataFrame) -> float:
    """Fraction of set bits — the saturation diagnostic.  fpp ≈
    fill^k; past ~50% the filter stops discriminating."""
    row = filt.select(
        F.sum(F.bit_count("bits")).alias("set"), F.max("m_bits").alias("m")
    ).collect()[0]
    return (row["set"] or 0) / float(row["m"])


def dedup_bloom_gate(
    new_df: DataFrame,
    filt: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    max_fill: float = 0.5,
) -> DataFrame:
    """Gate a NEW batch against a persisted Bloom filter: adds
    ``maybe_dup`` (1 = every probed bit set — seen before OR a false
    positive; 0 = DEFINITELY novel, the Bloom guarantee).  The
    production two-tier shape: accept the definite-novel rows
    outright, send only the (tiny) maybe set to an exact verifier
    (:func:`dedup_against_index` / an fp semi-join) — the expensive
    exact state is probed by a fraction fpp of the stream.

    Probe path by filter size (the sif_embed dual-path rule): ≤ 256
    words → per-row fold over a broadcast plan-literal word map (zero
    shuffle, zero joins); larger → one broadcast word-lookup join PER
    SEED (k left joins against the same MB-scale broadcast relation —
    ReuseExchange ships it once).  Both paths are PER-ROW: a batch may
    probe the same ``id_col`` (or the same fingerprint) any number of
    times and each row gets its own verdict — an earlier grouped-
    explode formulation aggregated hits per id, so two inserted
    fingerprints sharing an id summed to 2k ≠ k and reported
    ``maybe_dup=0``, a false negative that broke the Bloom guarantee.
    Both paths are pinned equal (incl. duplicate-id batches) in pytest.

    Refuses a filter past ``max_fill`` saturation — a flooded filter
    flags everything and silently gates nothing (the loud-artifact
    discipline)."""
    m_bits, k, fill = _bloom_stats(filt, 0, 0)
    if fill > max_fill:
        raise ValueError(
            f"bloom probe: filter is {fill:.0%} full (max_fill={max_fill:.0%})"
            " — false-positive rate is degenerate; rebuild with larger m_bits"
        )
    n_words = m_bits // 32
    pos = _bloom_positions(F.col(fp_col), k, m_bits)
    base = new_df.where(F.col(id_col).isNotNull())
    if n_words <= _BLOOM_ROWFOLD_MAX_WORDS:
        words = {
            int(r["word_idx"]): int(r["bits"]) for r in filt.select("word_idx", "bits").collect()
        }
        mapping = F.create_map(
            *[F.lit(v) for kv in words.items() for v in kv]
        ) if words else F.create_map()
        hit = F.aggregate(
            pos,
            F.lit(0),
            lambda acc, p: acc
            + F.when(
                F.coalesce(
                    mapping[(p / 32).cast("bigint")], F.lit(0).cast("bigint")
                ).bitwiseAND(
                    F.call_function(
                        "shiftleft", F.lit(1).cast("bigint"), (p % 32).cast("int")
                    )
                )
                != 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        return base.withColumn("maybe_dup", (hit == k).cast("int"))
    out = base
    hit_tests = []
    drop_cols = []
    for i in range(k):
        p_i = h64(F.col(fp_col), seed=i) % m_bits
        out = out.withColumn(f"__bw{i}", (p_i / 32).cast("bigint"))
        side = filt.select(
            F.col("word_idx").alias(f"__bfw{i}"), F.col("bits").alias(f"__bfb{i}")
        )
        out = out.join(
            F.broadcast(side), out[f"__bw{i}"] == side[f"__bfw{i}"], "left"
        )
        hit_tests.append(
            F.when(
                F.coalesce(F.col(f"__bfb{i}"), F.lit(0).cast("bigint")).bitwiseAND(
                    F.call_function(
                        "shiftleft", F.lit(1).cast("bigint"), (p_i % 32).cast("int")
                    )
                )
                != 0,
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        drop_cols += [f"__bw{i}", f"__bfw{i}", f"__bfb{i}"]
    hit = hit_tests[0]
    for h in hit_tests[1:]:
        hit = hit + h
    return out.withColumn("maybe_dup", (hit == k).cast("int")).drop(*drop_cols)


def bloom_duckdb_sql(fp_expr: str, m_bits: int, k: int) -> dict[str, str]:
    """DuckDB twin expressions (oracle-builder pattern): ``positions``
    (list of k bit positions over ``fp_expr``), plus build/probe
    fragments documented at the call sites — the filter is md5-derived
    integer algebra, so DuckDB reproduces it bit-for-bit."""
    from rheoceros_spark.functions.portable import h64_sql

    plist = ", ".join(
        f"({h64_sql(fp_expr, seed=str(i))} % {m_bits})" for i in range(k)
    )
    return {
        "positions": f"[{plist}]",
        "word_bits": (
            "SELECT CAST(p // 32 AS BIGINT) AS word_idx, "
            "bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits "
            "FROM pos GROUP BY 1"
        ),
    }
