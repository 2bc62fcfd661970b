"""Structured Streaming building blocks (SURVEY §2.9, Spark mapping).

The reference's event-driven layer is partition-grain (driver-side
routing, :mod:`rheoceros_spark.streaming.routing`); *row-grain*
streaming maps onto Spark Structured Streaming:

* **sources** — `readStream` over the same dataset descriptors the
  batch layer uses (file sources need a declared schema);
* **late data** — watermarks + windowed aggregates (the reference's
  "late partition event re-consumed idempotently" becomes "late row
  within watermark merged into its window");
* **sinks** — ``foreachBatch`` partition-overwrite writes so replays
  stay idempotent (the streaming twin of the managed batch sink
  S12-S16, reference ``glueetl_default_ABI.py:383-409``);
* **custom stateful operators** — ``applyInPandasWithState`` with
  timeouts (the reference's TTL'd pending state,
  ``routing_runtime_constructs.py:1446-1459``, at row grain).

All transformations between source and sink are plain DataFrame ops,
so the streaming plans go through the same incremental Catalyst
optimization as batch.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from rheoceros_spark.sources.datasets import DatasetDescriptor
from rheoceros_spark.sources.io import _fs_exists, save_content, write_dataset


def stream_source(
    spark: SparkSession,
    descriptor: DatasetDescriptor,
    schema: Optional[StructType] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """``readStream`` over a dataset descriptor's root directory.

    File streams require a declared schema (descriptor ``schema_def``
    or the ``schema`` argument) — inference is a batch-only luxury.
    Partition dirs are globbed; new files appearing under the root are
    discovered per microbatch."""
    schema = schema or descriptor.spark_schema()
    if schema is None:
        raise ValueError("streaming file sources need a declared schema")
    # root = everything before the LAST '/' preceding the first "{}",
    # so hive-style formats (".../region={}/day={}") glob the real
    # parent dir instead of a nonexistent ".../region=" prefix
    head = descriptor.path_format.split("{}")[0]
    root = head[: head.rfind("/")] if "/" in head else head
    reader = (
        spark.readStream.format(descriptor.data_format)
        .schema(schema)
        .options(**descriptor.spark_options())
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    n_dims = len(descriptor.spec)
    glob = root + "/*" * n_dims if n_dims else root
    return reader.load(glob)


def windowed_aggregate(
    sdf: DataFrame,
    aggs: Sequence,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "1 hour",
    dims: Sequence[str] = (),
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation — the streaming
    twin of the batch metric-period aggregate.  Late rows within the
    watermark merge into their window; beyond it they are dropped
    (bounded state)."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*dims, win.alias("window"))
        .agg(*aggs)
    )


def partition_overwrite_sink(
    sdf: DataFrame,
    path_for_batch: Callable[[DataFrame, int], dict[str, DataFrame]],
    checkpoint_dir: str,
    data_format: str = "parquet",
    trigger_available_now: bool = False,
):
    """``foreachBatch`` sink with **idempotent partition overwrites**:
    ``path_for_batch(batch_df, batch_id)`` returns {partition_path:
    partition_df}; each is (re)written whole, so microbatch replays
    after failure converge instead of duplicating (streaming twin of
    the managed batch sink S12-S16)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        for path, part_df in path_for_batch(batch_df, batch_id).items():
            write_dataset(part_df, path, data_format=data_format)

    writer = sdf.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def stream_dedup(
    sdf: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of exact dedup: first occurrence of each key
    survives; repeats within the watermark horizon are dropped, and
    state for keys older than the watermark is evicted (bounded state —
    the property that makes exact streaming dedup viable at 100 TB:
    state is O(keys per watermark window), not O(all keys ever)).

    For content dedup pass a hash column as the key
    (``F.md5(normalize_text(...))``), mirroring the batch operator.

    ``dropDuplicatesWithinWatermark`` is load-bearing: plain
    ``dropDuplicates(keys)`` without the event-time column in the
    subset NEVER evicts its state (the watermark doesn't apply), which
    at 100 TB is one state entry per key ever seen → OOM."""
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(key_cols))


def sessionize(
    sdf: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: session windows by inactivity gap via
    ``applyInPandasWithState`` (the (b)-tier of SURVEY §7's custom-
    operator ladder — built-ins can't express gap sessions with
    per-key state + timeout eviction).

    Emits one row per closed session: (key, session_start,
    session_end, n_events).  A session closes when the next event for
    the key is more than ``gap_seconds`` later (event time, including
    gaps *inside* one microbatch), or when the **event-time** timeout
    fires — the timeout is anchored to ``session_end + gap`` against
    the watermark, so a historical stream replayed at any speed (1
    micro-batch or 50) closes sessions at identical event-time
    boundaries; wall-clock never enters the semantics.  State is one
    (start, end, count) triple per key — O(active keys),
    executor-distributed.

    All timestamp arithmetic is integer microseconds (epoch-ns are
    > 2⁵³, so float division silently loses precision — same bug
    class as the ns→µs normalization in ``sources/io.py``)."""
    key_type = sdf.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, session_start timestamp, session_end timestamp, n_events bigint"
    )
    state_schema = "start bigint, end bigint, n bigint"
    gap_us = int(gap_seconds) * 1_000_000

    def emit(key, sessions):
        return pd.DataFrame(
            {
                key_col: [key[0]] * len(sessions),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                "n_events": [c for _, _, c in sessions],
            }
        )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield emit(key, [(start, end, n)])
            return
        stamps: list[int] = []
        for pdf in pdfs:
            # pandas datetime64[ns] → integer µs (exact; // not /)
            stamps.extend((pdf[ts_col].astype("int64") // 1000).tolist())
        if not stamps:
            return
        stamps.sort()
        open_session = tuple(state.get) if state.exists else None
        closed: list[tuple] = []
        for t in stamps:
            if open_session is None:
                open_session = (t, t, 1)
            elif t - open_session[1] > gap_us:
                closed.append(open_session)
                open_session = (t, t, 1)
            else:
                open_session = (open_session[0], max(open_session[1], t), open_session[2] + 1)
        state.update(open_session)
        # close when the watermark passes session_end + gap (event
        # time); Spark requires the timeout timestamp be beyond the
        # current watermark, so clamp for sessions already expired.
        timeout_ms_abs = (open_session[1] + gap_us) // 1000
        state.setTimeoutTimestamp(max(timeout_ms_abs, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield emit(key, closed)

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup_against_index(
    sdf: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    accept: Callable[[DataFrame, int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    trigger_available_now: bool = False,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
):
    """Continuous-ingest near-dup gate: each micro-batch probes the
    persisted MinHash band-bucket index (see
    :func:`rheoceros_spark.operators.dedup.build_minhash_index`), novel
    docs are handed to ``accept(novel_df, batch_id)`` AND appended to
    the index — so later batches (and later docs in the stream) dedup
    against everything accepted so far, not just the initial corpus.

    Scale shape: a micro-batch is hashed once into its
    ``(id, band, bucket, sh)`` index rows; the probe joins those rows
    against one scan of the index (O(batch × bands) probe rows, the
    accumulated corpus is never re-hashed), and the append writes the
    same rows minus the duplicates — about one file per band per
    batch.  The index parameters are checked once, on the first
    micro-batch (``ValueError`` on a mismatch, surfaced through
    ``query.exception()``); later batches read the index with the
    schema that check saw, so they run no schema-inference or
    parameter job, and the gate's own appends carry the same
    parameters by construction.

    Exactly-once is inherited from foreachBatch checkpointing **as
    long as** ``accept`` is idempotent (e.g. partition overwrite keyed
    on batch_id); the index append itself is made idempotent with a
    per-batch marker under ``<index_path>/_batches/`` (underscore
    dirs are invisible to parquet readers, like ``_SUCCESS``): a
    replayed batch re-probes and re-``accept``s, but skips the append,
    so the index never accumulates duplicate rows.

    Uses ``foreachBatch`` because the probe is a batch join against a
    mutable external table — a shape Structured Streaming's stateful
    operators don't express (state here is the *index*, owned by the
    pipeline, not per-key operator state)."""
    from rheoceros_spark.operators.dedup import (
        _check_index_params,
        _index_rows,
        _probe_index,
        _write_index,
    )

    index_schema: Optional[StructType] = None  # set by the first batch's check

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal index_schema
        spark = batch_df.sparkSession
        if index_schema is not None:
            index = spark.read.schema(index_schema).parquet(index_path)
        else:
            index = spark.read.parquet(index_path)
            _check_index_params(index, num_hashes, bands, ngram)
            index_schema = index.schema
        # The batch is read once, hashed once and probed once: `accept`
        # and the append both reuse these three cached frames.  A
        # replayed batch whose append already landed would self-match
        # at jaccard 1.0; dropping identity matches keeps `novel` (and
        # hence what `accept` sees) identical between the original run
        # and the replay.  `losers` may repeat an id (one row per
        # shared band), which an anti-join ignores.
        rows = _index_rows(batch_df, text_col, id_col, num_hashes, bands, ngram)
        losers = (
            _probe_index(rows, index, id_col, threshold)
            .where(F.col("new_id") != F.col("dup_of"))
            .select(F.col("new_id").alias(id_col))
        )
        cached = (batch_df, rows, losers)
        for df in cached:
            df.persist()
        try:
            accept(batch_df.join(losers, on=id_col, how="left_anti"), batch_id)
            # markers must go through the Hadoop FS: on an object-store
            # index_path os.path would never see them and every replay
            # would re-append the batch (the exact duplication the
            # marker prevents).  NOTE the append→marker pair is not
            # atomic: a crash between them duplicates this one batch's
            # rows on replay — acceptable for a dedup index (extra
            # candidates, same survivors); a transaction log would be
            # the table-format answer.
            marker = index_path.rstrip("/") + "/_batches/" + str(batch_id)
            if _fs_exists(spark, marker):
                return  # replay: this batch's rows are already in the index
            _write_index(rows.join(losers, on=id_col, how="left_anti"), index_path, "append")
            save_content(spark, b"", marker)
        finally:
            for df in cached:
                df.unpersist()

    writer = sdf.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def stream_quality_gate(
    sdf: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.55,
    max_dup_token_frac: float = 0.5,
) -> DataFrame:
    """Streaming twin of the batch filter funnel's row-local stages
    (curation.filter_funnel minus the dedup stage, which needs global
    state — chain :func:`stream_dedup` on a content-hash column for
    that): adds the lang/quality/repetition columns plus an
    ``accepted`` flag.  All gates are pure column expressions, so the
    stream stays stateless — no watermark, no state store, identical
    incremental plan to the batch one."""
    from rheoceros_spark.operators.text_analysis import (
        lang_id,
        quality_score,
        repetition_metrics,
    )

    d = repetition_metrics(quality_score(lang_id(sdf, text_col), text_col), text_col)
    accepted = (
        (F.col("lang_pred") == lang)
        & (F.col("quality") >= min_quality)
        & (F.col("dup_token_frac") <= max_dup_token_frac)
    )
    return d.withColumn("accepted", accepted)


def stream_gopher_rules(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming twin of the Gopher quality-rule flags
    (text_analysis.gopher_rules): per-micro-batch-row rule evaluation —
    pure column expressions, exact integer threshold comparisons,
    stateless (no watermark, no state store), so the incremental plan
    is the batch expression tree verbatim and batch≡stream parity is
    structural, not coincidental (parity-tested in
    tests/test_streaming.py)."""
    from rheoceros_spark.operators.text_analysis import gopher_rules

    return gopher_rules(sdf, text_col)


def stream_c4_lines(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming twin of the C4 line-level cleaner
    (text_analysis.c4_line_filter): per-micro-batch-row line filtering
    + clean_text reassembly — pure column expressions, stateless, the
    batch expression tree verbatim (parity-tested in
    tests/test_streaming.py)."""
    from rheoceros_spark.operators.text_analysis import c4_line_filter

    return c4_line_filter(sdf, text_col)


def stream_ppl_gate(
    sdf: DataFrame,
    thresholds: DataFrame,
    score_col: str = "nll",
    group_col: str = "source",
) -> DataFrame:
    """Streaming twin of the CCNet perplexity gate: label each
    micro-batch row head/middle/tail against a PERSISTED
    ppl_thresholds table (curation.ppl_bucket_assign — the trained-
    thresholds counterpart of stream_classifier_score's trained-weights
    pattern).  ``thresholds`` is a BATCH frame, broadcast into the
    incremental plan; the stream stays stateless — no watermark, no
    state store."""
    from rheoceros_spark.operators.curation import ppl_bucket_assign

    return ppl_bucket_assign(sdf, thresholds, score_col, group_col)


def quality_split_sink(
    sdf: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """``foreachBatch`` sink that routes gated rows to
    ``out_root/accepted/batch=<id>`` and ``out_root/rejected/batch=<id>``
    — rejects are kept, not dropped, because curation pipelines audit
    and re-threshold them.  Each microbatch is persisted once (the two
    filters would otherwise recompute the batch), and each partition is
    overwritten whole via the managed writer, so a replayed batch id
    converges instead of duplicating (same idempotence contract as
    :func:`partition_overwrite_sink`)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            write_dataset(
                batch_df.where(F.col("accepted")).drop("accepted"),
                f"{out_root}/accepted/batch={batch_id}",
            )
            write_dataset(
                batch_df.where(~F.col("accepted")).drop("accepted"),
                f"{out_root}/rejected/batch={batch_id}",
            )
        finally:
            batch_df.unpersist()

    writer = sdf.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def stream_ivf_append(
    sdf: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Continuous embedding ingest into a persisted IVF index
    (:func:`rheoceros_spark.operators.similarity.ivf_write`): each
    micro-batch is assigned against the index's OWN persisted codebook
    and appended into the hive cell directories — probes pick new
    vectors up immediately with the same n_probe-cells-only scan, and
    the accumulated index is never re-clustered or rescanned.

    Replay idempotence mirrors the MinHash stream gate: a per-batch
    marker under ``<index_path>/_batches/`` (Hadoop-FS probed, so
    object-store paths work) makes a replayed batch a no-op — without
    it every checkpoint recovery would duplicate that batch's vectors
    in their cells.  The append→marker pair is not atomic; a crash
    between them duplicates one batch on replay, which for ANN means
    duplicate candidates (dedupe on id downstream if that matters) —
    a transaction log is the table-format answer.

    ``foreachBatch`` for the same reason as the dedup gate: the state
    is the pipeline-owned index, not per-key operator state."""
    from rheoceros_spark.operators.similarity import ivf_append

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = index_path.rstrip("/") + "/_batches/" + str(batch_id)
        if _fs_exists(spark, marker):
            return  # replay: this batch is already in the index
        if batch_df.limit(1).count() > 0:
            ivf_append(spark, batch_df, index_path)
        save_content(spark, b"", marker)

    writer = sdf.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def stream_chunk_documents(
    sdf: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Streaming twin of :func:`~rheoceros_spark.operators.text_analysis.chunk_documents`:
    per-row explode into overlapping fixed-token chunks.  Stateless —
    no watermark, no state store — so a micro-batched ingest emits
    exactly the chunks the batch operator would (``(id, chunk_id)``
    keys are derived per row, independent of batching).  Shares the
    batch operator's filter + chunking core; only the batch-side
    ``ensure_parallelism`` wrapper is skipped (repartition of a
    streaming DataFrame would force a stateful shuffle per batch;
    micro-batches arrive pre-parallelized by the source)."""
    from rheoceros_spark.operators.text_analysis import _chunk_filter, _chunk_select

    if chunk_tokens < 2 or overlap < 0 or overlap >= chunk_tokens:
        raise ValueError(
            f"stream_chunk_documents: need chunk_tokens >= 2 and 0 <= overlap < "
            f"chunk_tokens, got {chunk_tokens}, {overlap}"
        )
    if tokens_col is not None:
        # precomputed token arrays (e.g. bpe_encode's bpe_tokens — the
        # pandas UDF is stream-capable, so BPE→chunk composes in-stream)
        base = sdf.where(
            F.col(id_col).isNotNull() & (F.size(F.col(tokens_col)) > 0)
        ).select(id_col, tokens_col)
        return _chunk_select(base, chunk_tokens, overlap, text_col, id_col, tokens_col)
    return _chunk_select(
        _chunk_filter(sdf, text_col, id_col), chunk_tokens, overlap, text_col, id_col
    )


def stream_classifier_score(
    sdf: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    logit_threshold: float = 0.0,
) -> DataFrame:
    """Streaming twin of the LEARNED quality filter (the trained-model
    counterpart of :func:`stream_quality_gate`'s heuristics): scores
    each micro-batch row under a trained logreg_train weight table via
    the row-local literal-map fold (text_analysis.
    classifier_score_rowlocal) — stateless, no state store, no
    watermark, and bit-equal to the batch scorer (parity-tested).
    ``weights`` is a BATCH frame (the persisted model), collected once
    at plan-build time into the incremental plan."""
    from rheoceros_spark.operators.text_analysis import classifier_score_rowlocal

    return classifier_score_rowlocal(
        sdf,
        weights,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        seed=seed,
        logit_threshold=logit_threshold,
    )


def stream_bigram_score(
    sdf: DataFrame,
    bigram_counts: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.1,
) -> DataFrame:
    """Streaming twin of :func:`~rheoceros_spark.operators.text_analysis.
    bigram_nll`'s fixed-model path: per-row NLL via the broadcast-model
    token-pair fold (text_analysis.bigram_score_rowlocal) — the batch
    path's per-(doc, v, w) groupBy would need a state store; the fold
    is stateless and bit-equal to it (parity-tested).  ``bigram_counts``
    is a BATCH frame (the persisted reference LM) joined in as one
    broadcast map row; input columns pass through with (n_scored, nll)
    appended."""
    from rheoceros_spark.operators.text_analysis import bigram_score_rowlocal

    return bigram_score_rowlocal(
        sdf,
        bigram_counts,
        vocab_size,
        text_col=text_col,
        id_col=id_col,
        k=k,
        passthrough=True,
    )


def stream_curation_gate(
    sdf: DataFrame,
    classifier_weights: DataFrame,
    ppl_thresholds: DataFrame,
    bigram_counts: DataFrame,
    vocab_size: int,
    *,
    k: float = 0.1,
    n_buckets: int = 64,
    seed: int = 0,
    logit_threshold: float = 0.0,
    allowed_buckets: tuple[str, ...] = ("head", "middle"),
    chunk_tokens: int = 32,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """The curation pipeline's STATELESS prefix as one streaming
    operator — raw crawl rows → Gopher document rules ∧ C4 line
    cleaning ∧ CCNet perplexity gate ∧ trained-classifier keep →
    fixed-token chunking of the C4-cleaned text.  Every stage is a
    pure column expression against PERSISTED model artifacts (the
    trained logreg weights, the ppl threshold table, the reference
    bigram LM), so the whole chain runs in ONE stateless micro-batch
    stage: no watermark, no state store, no shuffle — the incremental
    plan is the batch expression tree verbatim, and batch≡stream
    parity is structural (parity-tested against the same stages
    composed in batch, tests/test_streaming.py).

    The stages that need GLOBAL state stay batch-side by design:
    near-dup purge (pair graph), budget mix (corpus quotas), packing
    (bin state) — the reference routes those through the scheduler's
    materialized nodes, and :func:`stream_dedup_against_index` covers
    the incremental-dedup seam.

    Returns the chunk frame of surviving documents: (id, chunk_id,
    n_chunk_tokens, chunk_text) over ``clean_text``."""
    g = stream_gopher_rules(sdf, text_col)
    c = stream_c4_lines(g, text_col)
    n = stream_bigram_score(
        c, bigram_counts, vocab_size, text_col=text_col, id_col=id_col, k=k
    )
    p = stream_ppl_gate(n, ppl_thresholds, score_col="nll", group_col=group_col)
    from rheoceros_spark.operators.text_analysis import classifier_score_rowlocal

    s = classifier_score_rowlocal(
        p,
        classifier_weights,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        seed=seed,
        logit_threshold=logit_threshold,
        passthrough=True,
    )
    gated = s.where(
        (F.col("gopher_pass") == 1)
        & (F.col("c4_pass") == 1)
        & F.col("ppl_bucket").isin(*allowed_buckets)
        & (F.col("keep") == 1)
    )
    return stream_chunk_documents(
        gated.select(F.col(id_col), F.col("clean_text")),
        chunk_tokens=chunk_tokens,
        overlap=overlap,
        text_col="clean_text",
        id_col=id_col,
    )


def stream_lang_classify(
    sdf: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    ngram_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Streaming twin of the TRAINED language classifier: label each
    micro-batch row with its argmax language via the row-local
    per-class literal-map folds (text_analysis.lang_classify_rowlocal)
    — the batch scorer's broadcast-join + groupBy(id, class) would
    need a state store; the fold is stateless and bit-equal to it
    (parity-tested).  ``weights`` is a BATCH frame (the persisted
    lang_classifier_train model), collected once at plan-build time;
    input columns pass through with (pred_lang, logit_q) appended —
    the label-at-ingest step of a CCNet-style streaming pipeline."""
    from rheoceros_spark.operators.text_analysis import lang_classify_rowlocal

    return lang_classify_rowlocal(
        sdf,
        weights,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        seed=seed,
        passthrough=True,
        ngram_range=ngram_range,
    )


def stream_ccnet_gate(
    sdf: DataFrame,
    lang_weights: DataFrame,
    ppl_thresholds: DataFrame,
    bigram_counts: DataFrame,
    vocab_size: int,
    *,
    k: float = 0.1,
    n_buckets: int = 64,
    seed: int = 0,
    allowed_buckets: tuple[str, ...] = ("head", "middle"),
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Streaming label-at-ingest twin of
    ``pipeline_ccnet_corpus``'s scoring surface (the CCNet shape:
    classify the language, score LM fluency, keep head+middle of the
    language's perplexity distribution — Wenzek et al. 2020 §3):
    each micro-batch row gets (pred_lang, logit_q, n_scored, nll,
    ppl_bucket) from PERSISTED artifacts — the trained
    lang_classifier_train weights, the reference bigram LM, and a
    ppl_thresholds table keyed by ``pred_lang`` — then rows outside
    ``allowed_buckets`` are dropped.  Every stage is stateless (two
    row-local folds + one broadcast threshold join), so the
    incremental plan is the batch expression tree verbatim; training
    the artifacts stays batch-side, exactly how the batch pipeline
    derives them (parity-tested in tests/test_streaming.py)."""
    labeled = stream_lang_classify(
        sdf, lang_weights, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, seed=seed, ngram_range=ngram_range,
    )
    scored = stream_bigram_score(
        labeled, bigram_counts, vocab_size, text_col=text_col,
        id_col=id_col, k=k,
    )
    gated = stream_ppl_gate(
        scored, ppl_thresholds, score_col="nll", group_col="pred_lang"
    )
    return gated.where(F.col("ppl_bucket").isin(*allowed_buckets))


def stream_bpe_tokenize(
    sdf: DataFrame,
    merges,
    text_col: str = "text",
    impl: str = "sql",
) -> DataFrame:
    """Streaming twin of :func:`~rheoceros_spark.operators.text_analysis.
    bpe_encode` under a PERSISTED tokenizer artifact: tokenize each
    micro-batch row with a FIXED merge table — the tokenize-everywhere
    half of the train-once/tokenize-everywhere split
    (``bpe_table_write`` / ``bpe_table_read``).  Stateless: both impls
    are per-row (the SQL fold is pure column algebra; the Arrow UDF is
    stream-capable), no state store, no watermark, so micro-batched
    output is bit-equal to the batch encoder (parity-tested in
    tests/test_dedup_scoped.py).

    ``merges`` is the artifact: a ``bpe_table_write`` frame (validated
    + collected once at plan-build time — vocab-shaped, never data) or
    an already-validated merge list."""
    from rheoceros_spark.operators.text_analysis import bpe_encode, bpe_table_read

    if isinstance(merges, DataFrame):
        merges = bpe_table_read(merges)
    return bpe_encode(sdf, merges, text_col=text_col, impl=impl)


def stream_char_entropy_gate(
    sdf: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_entropy_q: int = 1_500_000,
) -> DataFrame:
    """Streaming twin of the character-entropy gibberish gate
    (text_analysis.char_entropy): per-micro-batch-row quantized
    entropy + keep verdict — the sorted-run histogram fold is pure
    column algebra, stateless (no watermark, no state store), so the
    incremental plan is the batch expression tree verbatim
    (parity-tested in tests/test_mixture_audit.py)."""
    from rheoceros_spark.operators.text_analysis import char_entropy

    return char_entropy(
        sdf, text_col=text_col, id_col=id_col, min_entropy_q=min_entropy_q
    )


def stream_temperature_gate(
    sdf: DataFrame,
    plan: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of the temperature-mixture sampler
    (curation.temperature_mix): gate each micro-batch row against a
    PERSISTED rate plan (``temperature_mix_plan`` output — the
    trained-artifact pattern of stream_ppl_gate/stream_classifier
    _score).  ``plan`` is a BATCH frame broadcast into the incremental
    plan; the keep decision is the deterministic subset-monotone hash
    gate, so the stream stays stateless and the accepted set over any
    micro-batch split equals the batch sampler's (parity-tested in
    tests/test_mixture_audit.py)."""
    from rheoceros_spark.operators.curation import temperature_mix

    return temperature_mix(
        sdf, group_col=group_col, id_col=id_col, seed=seed, plan=plan
    )


def stream_robots_gate(
    sdf: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    default_allow: bool = True,
) -> DataFrame:
    """Streaming twin of the RFC 9309 consent gate
    (urls.robots_gate): verdict each micro-batch row against a BATCH
    rules table.  The gate is stateless per-row algebra over a
    broadcast stream-static join — the stream_temperature_gate
    calling convention — so the accepted set over any micro-batch
    split equals the batch gate's (parity-tested in
    tests/test_urls.py)."""
    from rheoceros_spark.operators.urls import robots_gate

    return robots_gate(
        sdf, rules, url_col=url_col, id_col=id_col, default_allow=default_allow
    )


def stream_dedup_url(
    sdf: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    accept: Callable[[DataFrame, int], None],
    url_col: str = "url",
    id_col: str = "doc_id",
    trigger_available_now: bool = False,
):
    """Continuous-ingest URL-exact gate — the streaming twin of
    :func:`~rheoceros_spark.operators.urls.dedup_exact_url` against a
    persisted canonical-URL fingerprint index
    (:func:`~rheoceros_spark.operators.urls.url_index_write`): each
    micro-batch canonicalizes its URLs, keeps one row per canonical
    URL within the batch (min-id winner), anti-joins the survivors'
    fingerprints against the index (accepted crawls are never
    rescanned — the index IS their URL memory), hands novel rows to
    ``accept(novel_df, batch_id)``, and appends their fingerprints so
    later batches dedup against everything accepted so far.

    Semantics pinned in pytest: with ids ascending across batches, the
    accepted set over a batch sequence equals ONE batch
    ``dedup_exact_url`` over the concatenated ingest minus the initial
    corpus — earliest-batch-wins composes with min-id-within-batch
    exactly like the global min-id winner.  Rows that don't
    canonicalize pass through every batch (the batch twin's NULL rule)
    and never enter the index.

    Scale shape: per micro-batch cost is one (32-byte md5) winner
    shuffle within the batch plus an anti-join against the narrow
    (fp, algo) index; the append is batch-sized.  Exactly-once via the
    ``_batches/`` marker protocol of ``stream_dedup_against_index``
    (replayed batches re-probe and re-``accept`` but skip the append;
    ``accept`` must be idempotent).
    """
    from rheoceros_spark.operators.urls import (
        URL_INDEX_ALGO,
        check_url_index,
        dedup_exact_url,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = spark.read.parquet(index_path)
        check_url_index(index)
        kept = dedup_exact_url(batch_df, url_col=url_col, id_col=id_col)
        keyed = kept.withColumn("__fp", F.md5(F.col("canonical_url")))
        # NULL __fp (un-canonicalizable) rows never equi-match → the
        # left_anti keeps them, matching the batch twin's passthrough
        novel = keyed.join(
            index.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
        ).persist()
        try:
            accept(novel.drop("__fp"), batch_id)
            marker = index_path.rstrip("/") + "/_batches/" + str(batch_id)
            if _fs_exists(spark, marker):
                return  # replay: this batch's fps are already indexed
            new_fps = (
                novel.where(F.col("__fp").isNotNull())
                .select(F.col("__fp").alias("fp"))
                .distinct()
                .select("fp", F.lit(URL_INDEX_ALGO).alias("fp_algo"))
            )
            if new_fps.limit(1).count() > 0:
                new_fps.write.mode("append").parquet(index_path)
            save_content(spark, b"", marker)
        finally:
            novel.unpersist()

    writer = sdf.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def stream_html_extract(
    sdf: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_block_chars: int = 25,
    min_block_words: int = 3,
    max_link_density_pct: int = 33,
    min_alpha_pct: int = 40,
) -> DataFrame:
    """Streaming twin of the HTML main-content extractor
    (operators/html.py html_extract_text): per-micro-batch-row block
    classification — the whole extraction is pure column algebra, so
    the operator is STATELESS (no watermark, no state store) and the
    incremental plan is the batch expression tree verbatim
    (parity-tested in tests/test_html.py).  This is extract-at-ingest:
    a crawl firehose lands as main-content text without a second
    corpus pass."""
    from rheoceros_spark.operators.html import html_extract_text

    return html_extract_text(
        sdf,
        html_col=html_col,
        id_col=id_col,
        min_block_chars=min_block_chars,
        min_block_words=min_block_words,
        max_link_density_pct=max_link_density_pct,
        min_alpha_pct=min_alpha_pct,
    )


def stream_intradoc_line_dedup(
    sdf: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Streaming twin of the within-document line self-dedup
    (operators/dedup.py intradoc_line_dedup): the first-occurrence
    rewrite is row-local (a document's repeats are inside the row), so
    the gate is stateless and batch≡stream by construction
    (parity-tested in tests/test_html.py)."""
    from rheoceros_spark.operators.dedup import intradoc_line_dedup

    return intradoc_line_dedup(sdf, text_col=text_col, id_col=id_col, sep=sep)


def stream_bloom_gate(
    sdf: DataFrame,
    filt: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    max_fill: float = 0.5,
) -> DataFrame:
    """Streaming twin of the Bloom dedup gate (dedup.dedup_bloom_gate):
    gate each micro-batch row against a PERSISTED Bloom filter (the
    trained-artifact pattern — ``filt`` is a BATCH frame; its word
    table broadcasts into the incremental plan).  Dolma's deduper shape
    at ingest: definitely-novel rows flow through, only the fpp-sized
    maybe set needs exact verification downstream.  Stateless — the
    probe is row-local against broadcast state — so batch≡stream by
    construction (parity-tested in tests/test_bloom.py)."""
    from rheoceros_spark.operators.dedup import dedup_bloom_gate

    return dedup_bloom_gate(
        sdf, filt, fp_col=fp_col, id_col=id_col, max_fill=max_fill
    )


def stream_image_dedup_gate(
    sdf: DataFrame,
    index: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_index_rows: int = 4_000_000,
) -> DataFrame:
    """Streaming twin of the incremental image dedup gate
    (multimodal.dedup_images_against_index): hash each micro-batch's
    images through the real decode path and verdict them against a
    PERSISTED dHash index.  The batch operator's per-new-row
    min-Hamming reduce is a streaming AGGREGATION (unsupported in
    append mode without a watermark), so the stream twin runs the
    whole gate PER ROW inside one stateless Arrow ``mapInPandas``.

    Index state is genuinely broadcast-tier: identical hashes are
    reduced JVM-side to one row carrying the smallest indexed id
    (exactly the row the min-(hamming, id) reduce would pick), the
    distinct rows arrive as THREE packed int64 numpy arrays via
    Arrow — never a driver-side list of Row objects — and ship
    through an explicit ``SparkContext.broadcast`` instead of a
    pickled task closure, so executors fetch them once.  At the
    default ``max_index_rows`` cap of 4M distinct hashes that is
    ~100 MB of arrays plus four sorted band views (~200 MB total);
    past the cap the loud reject routes callers to the batch operator
    inside ``foreachBatch``, whose banded join holds no per-executor
    state at all.  Verdicts are identical to the batch gate by
    construction (parity-pinned in tests/test_image_dedup.py)."""
    import numpy as np

    from rheoceros_spark.operators.multimodal import (
        _dhash_of_blob,
        check_dhash_index,
    )

    check_dhash_index(index)
    distinct = (
        index.groupBy("dhash_hi", "dhash_lo")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "dhash_hi", "dhash_lo")
    )
    n = distinct.count()
    if n > max_index_rows:
        raise ValueError(
            f"stream_image_dedup_gate: index holds {n} distinct hashes, over "
            f"the broadcastable tier ({max_index_rows}) — gate with "
            "dedup_images_against_index inside foreachBatch instead"
        )
    pdf_idx = distinct.toPandas()
    iid = pdf_idx["doc_id"].to_numpy(dtype=np.int64)
    ihi = pdf_idx["dhash_hi"].to_numpy(dtype=np.int64)
    ilo = pdf_idx["dhash_lo"].to_numpy(dtype=np.int64)
    # per band position: sorted 16-bit band values + the permutation
    # into (iid, ihi, ilo), so probes are two binary searches
    band_vals = [
        ilo & 65535,
        (ilo >> 16) & 65535,
        ihi & 65535,
        (ihi >> 16) & 65535,
    ]
    views = []
    for bv in band_vals:
        perm = np.argsort(bv, kind="stable").astype(np.int64)
        views.append((bv[perm].astype(np.int64), perm))
    bc = sdf.sparkSession.sparkContext.broadcast((iid, ihi, ilo, views))

    def gate(it):
        import pandas as pd

        ws_iid, ws_ihi, ws_ilo, ws_views = bc.value
        for pdf in it:
            out = []
            for doc_id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                hi, lo = _dhash_of_blob(bytes(blob))
                best = None
                for bidx, band in enumerate(
                    (lo & 65535, (lo >> 16) & 65535, hi & 65535, (hi >> 16) & 65535)
                ):
                    sb, perm = ws_views[bidx]
                    s = int(np.searchsorted(sb, band, "left"))
                    e = int(np.searchsorted(sb, band, "right"))
                    for p in perm[s:e]:
                        ham = bin(lo ^ int(ws_ilo[p])).count("1") + bin(
                            hi ^ int(ws_ihi[p])
                        ).count("1")
                        cand = (ham, int(ws_iid[p]))
                        if ham <= max_hamming and (best is None or cand < best):
                            best = cand
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "dhash_hi": hi,
                        "dhash_lo": lo,
                        "min_hamming": None if best is None else best[0],
                        "dup_of": None if best is None else best[1],
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "dhash_hi", "dhash_lo", "min_hamming", "dup_of"],
            )

    return sdf.select(id_col, content_col).mapInPandas(
        gate,
        schema=(
            "doc_id bigint, dhash_hi bigint, dhash_lo bigint, "
            "min_hamming bigint, dup_of bigint"
        ),
    )


def stream_audio_dedup_gate(
    sdf: DataFrame,
    index: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_seg_diff: int = 2,
    max_index_rows: int = 4_000_000,
) -> DataFrame:
    """Streaming twin of the incremental AUDIO dedup gate
    (multimodal.dedup_audio_against_index) — the audio member of the
    gate-at-ingest family, sharing stream_image_dedup_gate's state
    design: distinct index fingerprints reduce JVM-side to one row
    carrying the smallest indexed id, ship as packed int64 numpy
    arrays through an explicit ``SparkContext.broadcast`` (never a
    pickled Row closure), and each micro-batch row decodes through
    the REAL stdlib-wave path (the shared ``_aphash_of_blob``, so
    stream and batch verdicts cannot drift) and probes four sorted
    16-bit band views by binary search.  The verify is the
    differing-SEGMENT nibble count, the distance that matches the
    fingerprint's semantics.  Past ``max_index_rows`` distinct
    fingerprints (~200 MB of broadcast state) the loud reject routes
    callers to the batch operator inside ``foreachBatch``, which
    holds no per-executor state at all."""
    import numpy as np

    from rheoceros_spark.operators.multimodal import (
        _aphash_of_blob,
        check_aphash_index,
    )

    check_aphash_index(index)
    if not 0 <= max_seg_diff <= 3:
        raise ValueError(
            f"stream_audio_dedup_gate: the 4-band pigeonhole guarantee "
            f"holds for max_seg_diff <= 3, got {max_seg_diff}"
        )
    distinct = (
        index.groupBy("aph_hi", "aph_lo")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "aph_hi", "aph_lo")
    )
    n = distinct.count()
    if n > max_index_rows:
        raise ValueError(
            f"stream_audio_dedup_gate: index holds {n} distinct fingerprints, "
            f"over the broadcastable tier ({max_index_rows}) — gate with "
            "dedup_audio_against_index inside foreachBatch instead"
        )
    pdf_idx = distinct.toPandas()
    iid = pdf_idx["doc_id"].to_numpy(dtype=np.int64)
    ihi = pdf_idx["aph_hi"].to_numpy(dtype=np.int64)
    ilo = pdf_idx["aph_lo"].to_numpy(dtype=np.int64)
    band_vals = [
        ilo & 65535,
        (ilo >> 16) & 65535,
        ihi & 65535,
        (ihi >> 16) & 65535,
    ]
    views = []
    for bv in band_vals:
        perm = np.argsort(bv, kind="stable").astype(np.int64)
        views.append((bv[perm].astype(np.int64), perm))
    bc = sdf.sparkSession.sparkContext.broadcast((iid, ihi, ilo, views))

    def _nib(a: int, b: int) -> int:
        x = a ^ b
        return sum(1 for k in range(8) if (x >> (4 * k)) & 15)

    def gate(it):
        import pandas as pd

        ws_iid, ws_ihi, ws_ilo, ws_views = bc.value
        for pdf in it:
            out = []
            for doc_id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                got = _aphash_of_blob(bytes(blob))
                if got is None:
                    continue
                hi, lo = got
                best = None
                for bidx, band in enumerate(
                    (lo & 65535, (lo >> 16) & 65535, hi & 65535, (hi >> 16) & 65535)
                ):
                    sb, perm = ws_views[bidx]
                    s = int(np.searchsorted(sb, band, "left"))
                    e = int(np.searchsorted(sb, band, "right"))
                    for p in perm[s:e]:
                        sd = _nib(lo, int(ws_ilo[p])) + _nib(hi, int(ws_ihi[p]))
                        cand = (sd, int(ws_iid[p]))
                        if sd <= max_seg_diff and (best is None or cand < best):
                            best = cand
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "aph_hi": hi,
                        "aph_lo": lo,
                        "min_seg_diff": None if best is None else best[0],
                        "dup_of": None if best is None else best[1],
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "aph_hi", "aph_lo", "min_seg_diff", "dup_of"],
            )

    return sdf.select(id_col, content_col).mapInPandas(
        gate,
        schema=(
            "doc_id bigint, aph_hi bigint, aph_lo bigint, "
            "min_seg_diff bigint, dup_of bigint"
        ),
    )
