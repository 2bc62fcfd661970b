"""Structured Streaming layer: file stream source → watermarked window
agg → idempotent foreachBatch partition sink; stateful sessionize."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from rheoceros_spark import Dimension, DimensionType, ParquetDataset
from rheoceros_spark.streaming.stream import (
    partition_overwrite_sink,
    sessionize,
    stream_source,
    windowed_aggregate,
)

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_stream_root(spark, sf_dir, tmp_path_factory):
    from rheoceros_spark.sources.io import normalize_ns_timestamps

    root = str(tmp_path_factory.mktemp("stream_events"))
    ev = normalize_ns_timestamps(
        spark.read.parquet(f"{sf_dir}/events.parquet"), f"{sf_dir}/events.parquet"
    )
    for day in ["2024-01-01", "2024-01-02"]:
        ev.where(F.to_date("ts") == day).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{day}"
        )
    return root


def test_stream_window_agg_to_partition_sink(spark, events_stream_root, tmp_path):
    desc = ParquetDataset(
        events_stream_root + "/{}",
        Dimension("day", DimensionType.DATETIME, {"format": "%Y-%m-%d"}),
    )
    sdf = stream_source(spark, desc, schema=EVENTS_SCHEMA and spark.createDataFrame([], EVENTS_SCHEMA).schema)
    agg = windowed_aggregate(
        sdf,
        aggs=[F.count("*").alias("n"), F.sum("value").alias("total")],
        ts_col="ts",
        window="1 day",
        watermark="1 hour",
        dims=["event_type"],
    )
    out_root = str(tmp_path / "out")

    def route(batch_df, batch_id):
        days = [r[0] for r in batch_df.select(F.to_date("window.start").alias("d")).distinct().collect()]
        return {
            f"{out_root}/{d}": batch_df.where(F.to_date("window.start") == F.lit(d)).drop("window")
            for d in days
        }

    q = partition_overwrite_sink(
        agg, route, checkpoint_dir=str(tmp_path / "ckpt"), trigger_available_now=True
    ).start()
    q.awaitTermination(120)

    # batch equivalence: same agg over a plain read
    written = spark.read.parquet(f"{out_root}/2024-01-01")
    expect = (
        spark.read.schema(EVENTS_SCHEMA).parquet(events_stream_root + "/2024-01-01")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    got = {r.event_type: r.n for r in written.collect()}
    exp = {r.event_type: r.n for r in expect.collect()}
    assert got == exp
    assert os.path.exists(f"{out_root}/2024-01-01/_SUCCESS")


def test_stream_sink_idempotent_replay(spark, events_stream_root, tmp_path):
    """Re-running from a fresh checkpoint rewrites the same partitions
    (overwrite), not duplicates."""
    desc = ParquetDataset(
        events_stream_root + "/{}",
        Dimension("day", DimensionType.DATETIME, {"format": "%Y-%m-%d"}),
    )
    schema = spark.createDataFrame([], EVENTS_SCHEMA).schema
    out_root = str(tmp_path / "out")

    def run(ckpt):
        sdf = stream_source(spark, desc, schema=schema)
        agg = windowed_aggregate(
            sdf, aggs=[F.count("*").alias("n")], window="1 day", watermark="1 hour"
        )

        def route(batch_df, batch_id):
            days = [r[0] for r in batch_df.select(F.to_date("window.start").alias("d")).distinct().collect()]
            return {
                f"{out_root}/{d}": batch_df.where(F.to_date("window.start") == F.lit(d)).drop("window")
                for d in days
            }

        q = partition_overwrite_sink(
            agg, route, checkpoint_dir=str(tmp_path / ckpt), trigger_available_now=True
        ).start()
        q.awaitTermination(120)

    run("ckpt1")
    first = spark.read.parquet(f"{out_root}/2024-01-01").collect()
    run("ckpt2")  # full replay
    second = spark.read.parquet(f"{out_root}/2024-01-01").collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_sessionize_stateful(spark, tmp_path):
    """Two bursts 2h apart with a 30-min gap → two sessions for user 1.

    Event-time semantics: session 2 closes when the WATERMARK (driven
    by user 3's later event) passes session_end + gap — never
    wall-clock."""
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 02:00:00"),
        (2, "2024-01-01 00:05:00"),
        (3, "2024-01-01 06:00:00"),  # advances watermark to 05:50
    ]
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "batch0"))

    sdf = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .parquet(str(src_dir / "*"))
    )
    sessions = sessionize(sdf, gap_seconds=1800, watermark="10 minutes")
    out = []

    q = (
        sessions.writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="2 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 90
        # in-data gap close emits session 1; watermark-timeout close
        # emits user 1's second session and user 2's lone session
        while time.time() < deadline and len(out) < 3:
            time.sleep(2)
    finally:
        q.stop()

    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end, r.n_events))
    assert 1 in by_user
    u1 = sorted(by_user[1])
    # first burst closed by the in-data gap: 2 events, 00:00-00:10
    assert u1[0][2] == 2
    assert u1[0][0].minute == 0 and u1[0][1].minute == 10
    # watermark-closed: single event at 02:00, and user 2's lone event
    assert len(u1) == 2 and u1[1][2] == 1
    assert by_user[2][0][2] == 1
    # user 3's session end+gap (06:30) is past the final watermark
    # (05:50) → still open, correctly NOT emitted
    assert 3 not in by_user


def test_sessionize_replay_reproducible(spark, tmp_path):
    """The same input replayed in 1 vs 3 micro-batches emits identical
    session rows — event-time timeouts make boundaries a function of
    the data, not of micro-batch pacing (reference semantics: replays
    of historical streams are deterministic)."""
    batches = [
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"), (2, "2024-01-01 00:02:00")],
        [(1, "2024-01-01 02:00:00"), (2, "2024-01-01 02:01:00"), (2, "2024-01-01 02:20:00")],
        [(1, "2024-01-01 09:00:00")],  # drives watermark past every earlier timeout
    ]
    import time

    def run(tag, max_files):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
                "user_id", F.to_timestamp("ts_s").alias("ts")
            )
            df.coalesce(1).write.parquet(str(src / f"b{i}"))
            time.sleep(1.1)  # distinct mtimes → deterministic file order
        reader = spark.readStream.schema("user_id bigint, ts timestamp")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        sdf = reader.parquet(str(src / "*"))
        out = []
        q = (
            sessionize(sdf, gap_seconds=1800, watermark="10 minutes")
            .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted((r.user_id, r.session_start, r.session_end, r.n_events) for r in out)

    fast = run("one_batch", None)     # whole history in 1 micro-batch
    slow = run("per_file", 1)         # replayed file-by-file
    assert fast == slow, f"\nfast={fast}\nslow={slow}"
    # sanity: the closed sessions are the expected four
    assert len(fast) == 4


def test_stream_dedup_against_growing_index(spark, tmp_path):
    """Continuous-ingest near-dup gate: batch 2's dup of a doc accepted
    in batch 1 is caught because the index grows per micro-batch."""
    import time

    from rheoceros_spark.operators.dedup import build_minhash_index
    from rheoceros_spark.streaming.stream import stream_dedup_against_index

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    base = "the quick brown fox jumps over the lazy dog every single day"
    novel1 = "completely new content about adaptive query execution in spark"
    idx_path = str(tmp_path / "index")
    build_minhash_index(docs([(1, base), (2, "unrelated corpus filler text entirely")]),
                        path=idx_path)

    src = tmp_path / "stream_src"
    src.mkdir()
    # batch A: one dup of the corpus + one novel doc
    docs([(100, base), (101, novel1)]).coalesce(1).write.parquet(str(src / "a"))
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    # batch B: near-copy of the doc accepted in batch A
    docs([(102, novel1)]).coalesce(1).write.parquet(str(src / "b"))

    accepted = []
    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_dedup_against_index(
        sdf,
        idx_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        accept=lambda df, bid: accepted.extend(r.doc_id for r in df.collect()),
        trigger_available_now=True,
    ).start()
    q.awaitTermination(180)

    assert sorted(accepted) == [101], accepted
    # the accepted doc is now part of the persisted index
    idx = spark.read.parquet(idx_path)
    assert idx.where(F.col("doc_id") == 101).count() > 0


def test_incremental_index_equals_batch_rebuilt_index(spark, tmp_path):
    """The incrementally-appended index (per-micro-batch novel-doc
    appends through the streaming gate) must be row-identical to an
    index batch-REBUILT from scratch over the surviving corpus, and
    the accept/reject decisions must match a sequential batch replay
    of the same ingest — the certificate that incremental dedup both
    consults AND grows the index without drifting from the batch
    semantics."""
    import time

    from rheoceros_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )
    from rheoceros_spark.streaming.stream import stream_dedup_against_index

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    base = "the quick brown fox jumps over the lazy dog every single day"
    novel1 = "completely new content about adaptive query execution in spark"
    novel2 = "vectorized parquet readers amortize decoding across row groups"
    corpus = [(1, base), (2, "unrelated corpus filler text entirely")]
    b1 = [(100, base), (101, novel1)]  # 100 dups the corpus, 101 novel
    b2 = [(102, novel1), (103, novel2)]  # 102 dups batch-1's accept, 103 novel

    inc_path = str(tmp_path / "inc_index")
    build_minhash_index(docs(corpus), path=inc_path)

    src = tmp_path / "src"
    src.mkdir()
    docs(b1).coalesce(1).write.parquet(str(src / "a"))
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    docs(b2).coalesce(1).write.parquet(str(src / "b"))

    accepted = []
    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_dedup_against_index(
        sdf,
        inc_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        accept=lambda df, bid: accepted.extend(r.doc_id for r in df.collect()),
        trigger_available_now=True,
    ).start()
    q.awaitTermination(180)

    # sequential BATCH replay of the same ingest: probe each batch
    # against an index rebuilt over everything surviving so far
    surviving = list(corpus)
    batch_accepted = []
    for batch in (b1, b2):
        idx = build_minhash_index(docs(surviving), path=None)
        dups = dedup_against_index(docs(batch), idx)
        losers = {
            r.new_id
            for r in dups.where(F.col("new_id") != F.col("dup_of")).collect()
        }
        survivors = [r for r in batch if r[0] not in losers]
        batch_accepted.extend(r[0] for r in survivors)
        surviving += survivors

    assert sorted(accepted) == sorted(batch_accepted) == [101, 103]

    # index equality: every (band, bucket, doc, params, shingle-set)
    # row of the incrementally-appended index appears in the rebuild
    # and vice versa
    def canon(df):
        return sorted(
            (
                int(r.band),
                int(r.bucket),
                int(r.doc_id),
                int(r.num_hashes),
                int(r.bands),
                int(r.ngram),
                tuple(sorted(r.sh)),
            )
            for r in df.select(
                "band", "bucket", "doc_id", "num_hashes", "bands", "ngram", "sh"
            ).collect()
        )

    rebuilt = build_minhash_index(docs(surviving), path=None)
    assert canon(spark.read.parquet(inc_path)) == canon(rebuilt)


def _run_dedup_stream(spark, src, idx_path, ckpt, accepted, **kwargs):
    """Drain ``src`` through ``stream_dedup_against_index`` with one file
    per micro-batch; ``accepted`` collects the novel ids per batch."""
    from rheoceros_spark.streaming.stream import stream_dedup_against_index

    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    return stream_dedup_against_index(
        sdf,
        idx_path,
        checkpoint_dir=ckpt,
        accept=lambda df, bid: accepted.setdefault(bid, []).extend(
            r.doc_id for r in df.collect()
        ),
        trigger_available_now=True,
        **kwargs,
    ).start()


def _band_files(idx_path):
    return {
        os.path.basename(d): sorted(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(idx_path, "band=*"))
    }


def _write_batches(spark, src, batches):
    import time

    src.mkdir()
    for i, (name, rows) in enumerate(batches):
        if i:
            time.sleep(1.1)  # distinct mtimes → deterministic file order
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.parquet(
            str(src / name)
        )


def test_stream_dedup_against_index_replays_idempotently(spark, tmp_path):
    """Re-running the same source with a fresh checkpoint re-delivers
    every batch: ``accept`` must see the same novel ids, and the
    per-batch markers must keep the index from growing — still
    ``bands`` rows per indexed doc, no new file in any band directory.
    Each append also adds at most one file per band."""
    from rheoceros_spark.operators.dedup import build_minhash_index

    base = "the quick brown fox jumps over the lazy dog every single day"
    novel1 = "completely new content about adaptive query execution in spark"
    novel2 = "vectorized parquet readers amortize decoding across row groups"

    def fillers(first, n):
        return [(first + i, f"filler document {first + i} about w{i}a w{i}b w{i}c w{i}d")
                for i in range(n)]

    corpus = [(1, base)] + fillers(10, 40)
    fresh = fillers(200, 30)  # enough novel rows that a wide append would split
    idx_path = str(tmp_path / "index")
    build_minhash_index(
        spark.createDataFrame(corpus, "doc_id bigint, text string"), path=idx_path
    )
    built = _band_files(idx_path)
    assert len(built) == 4 and all(len(f) == 1 for f in built.values()), built

    src = tmp_path / "src"
    _write_batches(spark, src, [("a", [(100, base), (101, novel1)] + fresh),
                                ("b", [(102, novel1), (103, novel2)])])
    expected = {0: sorted([101] + [d for d, _ in fresh]), 1: [103]}

    first: dict[int, list[int]] = {}
    _run_dedup_stream(spark, src, idx_path, str(tmp_path / "ckpt_a"), first).awaitTermination(180)
    assert {b: sorted(ids) for b, ids in first.items()} == expected
    grown = _band_files(idx_path)
    assert grown.keys() == built.keys()
    assert all(len(grown[b]) <= len(built[b]) + 2 for b in built), grown

    def rows_per_doc():
        idx = spark.read.parquet(idx_path)
        return {r.doc_id: r.n for r in idx.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}

    indexed = {d for d, _ in corpus} | set(expected[0]) | {103}
    assert rows_per_doc() == {d: 4 for d in indexed}

    replay: dict[int, list[int]] = {}
    _run_dedup_stream(spark, src, idx_path, str(tmp_path / "ckpt_b"), replay).awaitTermination(180)
    assert {b: sorted(ids) for b, ids in replay.items()} == expected
    assert rows_per_doc() == {d: 4 for d in indexed}
    assert _band_files(idx_path) == grown


def test_stream_dedup_all_duplicate_batch_writes_marker_only(spark, tmp_path):
    """A batch whose every doc is a known duplicate appends no data
    file, but its ``_batches/<id>`` marker still lands, so a replay
    skips it like any other batch."""
    from rheoceros_spark.operators.dedup import build_minhash_index

    base = "the quick brown fox jumps over the lazy dog every single day"
    other = "unrelated corpus filler text entirely about something else"
    idx_path = str(tmp_path / "index")
    build_minhash_index(
        spark.createDataFrame([(1, base), (2, other)], "doc_id bigint, text string"),
        path=idx_path,
    )
    before = _band_files(idx_path)

    src = tmp_path / "src"
    _write_batches(spark, src, [("a", [(100, base), (101, other)])])
    accepted: dict[int, list[int]] = {}
    _run_dedup_stream(spark, src, idx_path, str(tmp_path / "ckpt"), accepted).awaitTermination(180)

    assert accepted == {0: []}
    assert os.path.exists(os.path.join(idx_path, "_batches", "0"))
    assert _band_files(idx_path) == before
    assert not glob.glob(os.path.join(idx_path, "*.parquet"))


def test_stream_dedup_param_mismatch_fails_first_batch(spark, tmp_path):
    """A stream probing an index built with other (num_hashes, bands,
    ngram) fails on its first batch with the index guard's ValueError,
    before anything is accepted or appended."""
    from rheoceros_spark.operators.dedup import build_minhash_index

    idx_path = str(tmp_path / "index")
    build_minhash_index(
        spark.createDataFrame([(1, "a b c d e f g h")], "doc_id bigint, text string"),
        path=idx_path,
        bands=8,
    )
    before = _band_files(idx_path)

    src = tmp_path / "src"
    _write_batches(spark, src, [("a", [(100, "a b c d e f g h")])])
    accepted: dict[int, list[int]] = {}
    q = _run_dedup_stream(spark, src, idx_path, str(tmp_path / "ckpt"), accepted, bands=4)
    with pytest.raises(Exception):
        q.awaitTermination(180)
    assert "built with" in str(q.exception())
    assert accepted == {}
    assert _band_files(idx_path) == before
    assert not os.path.exists(os.path.join(idx_path, "_batches"))


def test_stream_quality_gate_matches_batch_and_replays_idempotently(spark, sf_dir, tmp_path):
    """The streaming gate must agree row-for-row with the batch funnel's
    row-local stages, and a replay from a fresh checkpoint must
    converge to the same files (partition-overwrite idempotence)."""
    from rheoceros_spark.streaming.stream import quality_split_sink, stream_quality_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = str(tmp_path / "docs_src")
    docs.coalesce(2).write.mode("overwrite").parquet(src_dir)

    # batch expectation: same gates, same thresholds
    from rheoceros_spark.operators.text_analysis import (
        lang_id,
        quality_score,
        repetition_metrics,
    )

    b = repetition_metrics(quality_score(lang_id(docs)))
    expected_accept = {
        r.doc_id
        for r in b.where(
            (F.col("lang_pred") == "en")
            & (F.col("quality") >= 0.55)
            & (F.col("dup_token_frac") <= 0.5)
        ).collect()
    }

    out_root = str(tmp_path / "gated")

    def run(tag):
        sdf = spark.readStream.schema(docs.schema).parquet(src_dir)
        gated = stream_quality_gate(sdf)
        q = quality_split_sink(
            gated, out_root, str(tmp_path / f"ckpt_{tag}"), trigger_available_now=True
        ).start()
        q.awaitTermination(120)

    run("a")
    acc = spark.read.parquet(f"{out_root}/accepted/batch=*")
    rej = spark.read.parquet(f"{out_root}/rejected/batch=*")
    got_accept = {r.doc_id for r in acc.select("doc_id").collect()}
    assert got_accept == expected_accept
    assert acc.count() + rej.count() == docs.count()
    # gate columns survive into both outputs for re-thresholding audits
    assert "quality" in rej.columns and "dup_token_frac" in rej.columns

    # replay with a FRESH checkpoint: batch ids restart, partitions are
    # overwritten whole, totals must not double
    run("b")
    acc2 = spark.read.parquet(f"{out_root}/accepted/batch=*")
    assert {r.doc_id for r in acc2.select("doc_id").collect()} == expected_accept


def test_stream_ivf_append_grows_index_and_replays_idempotently(spark, sf_dir, tmp_path):
    from rheoceros_spark.operators.similarity import ivf_probe, ivf_write
    from rheoceros_spark.streaming.stream import stream_ivf_append

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_idx")
    ivf_write(emb.where(F.col("vec_id") % 2 == 0), idx, n_centroids=8)

    src = str(tmp_path / "vec_src")
    emb.where(F.col("vec_id") % 2 == 1).coalesce(2).write.mode("overwrite").parquet(src)

    def run(tag):
        sdf = spark.readStream.schema(emb.schema).parquet(src)
        q = stream_ivf_append(
            sdf, idx, str(tmp_path / f"ckpt_{tag}"), trigger_available_now=True
        ).start()
        q.awaitTermination(120)

    run("a")
    qv = [float(x) for x in emb.where("vec_id = 0").head()["embedding"]]
    ids = {r.vec_id for r in ivf_probe(spark, idx, qv, k=100, n_probe=8, exclude_id=0).collect()}
    assert any(v % 2 == 1 for v in ids), "streamed vectors never surfaced in probes"
    n_rows = spark.read.option("basePath", idx + "/cells").parquet(idx + "/cells").count()
    assert n_rows == emb.count()

    # replay with a FRESH checkpoint: markers make the re-delivered
    # batches no-ops — the index must not grow
    run("b")
    n_rows2 = spark.read.option("basePath", idx + "/cells").parquet(idx + "/cells").count()
    assert n_rows2 == n_rows


def test_stream_chunk_documents_matches_batch(spark, sf_dir, tmp_path):
    """Micro-batched chunking emits exactly the batch operator's chunk
    set — stateless, so batching cannot change (id, chunk_id) keys or
    chunk contents."""
    from rheoceros_spark.operators.text_analysis import chunk_documents
    from rheoceros_spark.streaming.stream import stream_chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    src_dir = str(tmp_path / "docs_chunk_src")
    docs.coalesce(4).write.mode("overwrite").parquet(src_dir)
    batch_docs = spark.read.parquet(src_dir)

    expected = {
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(batch_docs, chunk_tokens=32, overlap=8).collect()
    }

    sdf = spark.readStream.schema(batch_docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    out_dir = str(tmp_path / "chunks_out")
    q = (
        stream_chunk_documents(sdf, chunk_tokens=32, overlap=8)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "chunk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expected and expected


def test_stream_bpe_chunk_composition_matches_batch(spark, sf_dir, tmp_path):
    """Real-token streaming composition: bpe_encode (Arrow pandas UDF —
    stream-capable) feeding stream_chunk_documents(tokens_col=…) emits
    exactly the batch pipeline's chunk set, with budgets counted in BPE
    tokens."""
    from rheoceros_spark.operators.text_analysis import bpe_encode, chunk_documents
    from rheoceros_spark.streaming.stream import stream_chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    src_dir = str(tmp_path / "docs_bpe_src")
    docs.coalesce(3).write.mode("overwrite").parquet(src_dir)
    batch_docs = spark.read.parquet(src_dir)

    expected = {
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(
            bpe_encode(batch_docs), chunk_tokens=16, overlap=4, tokens_col="bpe_tokens"
        ).collect()
    }

    sdf = spark.readStream.schema(batch_docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    out_dir = str(tmp_path / "bpe_chunks_out")
    q = (
        stream_chunk_documents(
            bpe_encode(sdf), chunk_tokens=16, overlap=4, tokens_col="bpe_tokens"
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "bpe_chunk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expected and expected


def test_stream_classifier_score_matches_batch_scorer_bit_for_bit(
    spark, sf_dir, tmp_path
):
    """The row-local literal-map fold (streaming scorer) must produce
    the SAME (doc_id, logit, keep) rows as the batch explode→join→
    groupBy scorer: integer addition is commutative, so per-token and
    per-bucket summation agree exactly."""
    from rheoceros_spark.operators.text_analysis import (
        classifier_score_rowlocal,
        logreg_train,
        quality_classifier_score,
    )
    from rheoceros_spark.streaming.stream import stream_classifier_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id").isNotNull()
    )
    labeled = docs.withColumn(
        "__label", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    )
    w = logreg_train(labeled, "__label", n_buckets=64, iters=2, lr=0.5)
    batch = {
        r.doc_id: (r.logit, r.keep)
        for r in quality_classifier_score(docs, w, n_buckets=64).collect()
    }
    rowlocal = {
        r.doc_id: (r.logit, r.keep)
        for r in classifier_score_rowlocal(docs, w, n_buckets=64).collect()
    }
    assert rowlocal == batch

    # streaming: same rows through a real micro-batch plan
    src = str(tmp_path / "score_src")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    out = []
    sdf = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        stream_classifier_score(sdf, w, n_buckets=64)
        .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cls"))
        .start()
    )
    q.awaitTermination(120)
    streamed = {r.doc_id: (r.logit, r.keep) for r in out}
    assert streamed == batch


def test_rowlocal_scorer_validates_empty_weights(spark):
    from rheoceros_spark.operators.text_analysis import classifier_score_rowlocal

    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    empty = spark.createDataFrame([], "bucket int, wq bigint")
    import pytest as _pt

    with _pt.raises(ValueError, match="empty weight table"):
        classifier_score_rowlocal(docs, empty)


def test_stream_curation_gate_matches_batch_prefix(spark, sf_dir, tmp_path):
    """The composed stateless gate (gopher ∧ C4 ∧ ppl ∧ classifier →
    chunk) must emit exactly the chunks the same stages produce in
    batch — each stage is a pure column expression over persisted
    model artifacts, so parity is structural."""
    from rheoceros_spark.functions.portable import tokens
    from rheoceros_spark.operators.curation import ppl_bucket_assign, ppl_thresholds
    from rheoceros_spark.operators.text_analysis import (
        bigram_nll,
        c4_line_filter,
        chunk_documents,
        gopher_rules,
        logreg_train,
        quality_classifier_score,
    )
    from rheoceros_spark.streaming.stream import stream_curation_gate

    # a constructed crawl: the driver corpus is punctuation-free word
    # soup that fails C4/Gopher wholesale, which would make the parity
    # vacuous — this one has known survivors AND known rejects
    good_line = "the cat sat on the mat with a hat and that was nice to see."
    good = " \n".join([good_line] * 6)  # 6 clean lines, 72 words, stops
    rows = []
    for i in range(30):
        if i % 3 == 0:
            rows.append((i, good, "en", "web"))
        elif i % 3 == 1:
            rows.append((i, "short no end", "en", "web"))  # fails C4+Gopher
        else:
            rows.append((i, good + "\n{ code }", "de", "books"))  # brace
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    # persisted artifacts, trained batch-side as the pipeline would
    labeled = docs.withColumn(
        "__label", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    )
    weights = logreg_train(labeled, "__label", n_buckets=64, iters=2, lr=0.5)
    t = docs.select("doc_id", tokens(F.col("text")).alias("__t"))
    model = (
        t.where(F.size("__t") >= 2)
        .select(
            "__t",
            F.explode(F.sequence(F.lit(1), F.size("__t") - 1)).alias("__p"),
        )
        .select(
            F.element_at("__t", F.col("__p")).alias("v"),
            F.element_at("__t", F.col("__p") + 1).alias("w"),
        )
        .where((F.col("v") != "") & (F.col("w") != ""))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    vocab = (
        t.select(F.explode("__t").alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.countDistinct("tok"))
        .collect()[0][0]
    )
    scored = docs.join(
        bigram_nll(docs, bigram_counts=model, vocab_size=vocab), "doc_id"
    )
    thr = ppl_thresholds(scored, score_col="nll", group_col="source")

    # ---- batch composition of the same stages ----
    b = c4_line_filter(gopher_rules(docs), "text")
    b = b.join(
        bigram_nll(docs, bigram_counts=model, vocab_size=vocab), "doc_id"
    )
    b = ppl_bucket_assign(b, thr, score_col="nll", group_col="source")
    b = b.join(
        quality_classifier_score(docs, weights, n_buckets=64).select(
            "doc_id", "keep"
        ),
        "doc_id",
    )
    gated = b.where(
        (F.col("gopher_pass") == 1)
        & (F.col("c4_pass") == 1)
        & F.col("ppl_bucket").isin("head", "middle")
        & (F.col("keep") == 1)
    )
    batch_chunks = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(
            gated.select("doc_id", "clean_text"),
            chunk_tokens=32,
            overlap=0,
            text_col="clean_text",
        ).collect()
    }
    assert batch_chunks, "batch prefix produced no chunks — test is vacuous"

    # ---- the streaming twin over a real micro-batch plan ----
    src = str(tmp_path / "gate_src")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    out = []
    sdf = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        stream_curation_gate(
            sdf, weights, thr, model, vocab,
            chunk_tokens=32, overlap=0,
        )
        .writeStream.foreachBatch(lambda b_, i: out.extend(b_.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_gate"))
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text) for r in out
    }
    assert streamed == batch_chunks
    # the gate actually discriminates: survivors exist and rejects exist
    surviving_docs = {d for d, _ in streamed}
    assert surviving_docs and surviving_docs < {r[0] for r in rows}


def test_stream_ccnet_gate_matches_batch_scoring_surface(spark, sf_dir, tmp_path):
    """The CCNet label-at-ingest twin must emit exactly the rows the
    batch stages produce from the same persisted artifacts: trained
    lang classifier + reference bigram LM + per-language thresholds."""
    from rheoceros_spark.functions.portable import tokens
    from rheoceros_spark.operators.curation import ppl_bucket_assign, ppl_thresholds
    from rheoceros_spark.operators.text_analysis import (
        bigram_nll,
        lang_classifier_score,
        lang_classifier_train,
    )
    from rheoceros_spark.streaming.stream import stream_ccnet_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id").isNotNull()
    )
    train = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)

    # artifacts trained batch-side, the pipeline_ccnet_corpus way
    w = lang_classifier_train(train, "lang", n_buckets=64, iters=2, lr=2.0)
    t = train.select("doc_id", tokens(F.col("text")).alias("__t"))
    model = (
        t.where(F.size("__t") >= 2)
        .select("__t", F.explode(F.sequence(F.lit(1), F.size("__t") - 1)).alias("__p"))
        .select(
            F.element_at("__t", F.col("__p")).alias("v"),
            F.element_at("__t", F.col("__p") + 1).alias("w"),
        )
        .where((F.col("v") != "") & (F.col("w") != ""))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    vocab = (
        t.select(F.explode("__t").alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.countDistinct("tok"))
        .collect()[0][0]
    )
    train_scored = lang_classifier_score(train, w, n_buckets=64).join(
        bigram_nll(train, bigram_counts=model, vocab_size=vocab), "doc_id"
    )
    thr = ppl_thresholds(train_scored, score_col="nll", group_col="pred_lang")

    # batch labeling of the NEW slice under the same artifacts
    b = lang_classifier_score(new, w, n_buckets=64).join(
        bigram_nll(new, bigram_counts=model, vocab_size=vocab), "doc_id"
    )
    b = ppl_bucket_assign(b, thr, score_col="nll", group_col="pred_lang")
    batch = {
        r.doc_id: (r.pred_lang, r.logit_q, r.n_scored, r.nll, r.ppl_bucket)
        for r in b.where(F.col("ppl_bucket").isin("head", "middle")).collect()
    }
    assert batch, "batch gate kept nothing — test is vacuous"
    assert len(batch) < new.count(), "batch gate dropped nothing — test is vacuous"

    src = str(tmp_path / "ccnet_src")
    new.coalesce(2).write.mode("overwrite").parquet(src)
    out = []
    sdf = spark.readStream.schema(new.schema).parquet(src)
    q = (
        stream_ccnet_gate(sdf, w, thr, model, vocab, n_buckets=64)
        .writeStream.foreachBatch(lambda b_, i: out.extend(b_.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ccnet"))
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        r.doc_id: (r.pred_lang, r.logit_q, r.n_scored, r.nll, r.ppl_bucket)
        for r in out
    }
    assert streamed == batch
