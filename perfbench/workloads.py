"""The three benchmark workloads.

Each workload has one operation kind.  ``prepare`` makes the inputs
and defines the pipeline, ``warm`` runs warm-up passes on inputs of
the operation's shape, ``op(i)`` runs one timed operation and returns
the items it completed, and ``check`` verifies every output against a
computation made apart from the engine (DuckDB or plain Python) and
returns the indices of the operations whose outputs failed.

The workloads reach the engine only through its public API:
``Application``, ``rheoceros_spark.operators.*``,
``rheoceros_spark.streaming.stream.*`` and ``sources.io``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import time
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq

from tracing import BUILD_GROUP, EXEC_GROUP, OP_PROPERTY
from inputs import DAYS, DocMaker, write_customer, write_docs, write_events


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


def _same(got: list[tuple], exp: list[tuple], tol: float = 1e-6) -> bool:
    if len(got) != len(exp):
        return False
    for g, e in zip(got, exp):
        if len(g) != len(e):
            return False
        for a, b in zip(g, e):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=tol, abs_tol=tol):
                    return False
            elif a != b:
                return False
    return True


class Workload:
    name = ""
    #: batches outside the timed operations whose outputs failed a check
    bad_untimed: set[int] = frozenset()

    def __init__(self, spark, work: str, seed: int, smoke: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def stage(self, i: int) -> None:
        """Untimed preparation of operation ``i``'s input."""

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self) -> set[int]:
        raise NotImplementedError

    def close(self) -> None:
        """Stop background work; called after the last operation, before
        the heap reading, and again when the run ends."""

    def wrap_layers(self, spans) -> None:
        """Traced mode: wrap the engine functions this workload calls."""
        from pyspark.sql.classic.dataframe import DataFrame

        import rheoceros_spark.application as app_mod
        import rheoceros_spark.sources.io as io_mod
        import rheoceros_spark.streaming.routing as routing_mod

        spans.wrap("io.load", io_mod, "load_signal", app_mod)
        spans.wrap("io.write", io_mod, "write_dataset", app_mod)
        spans.wrap("io.ready", io_mod, "partition_ready", app_mod, routing_mod)
        for name in ("localCheckpoint", "checkpoint", "collect", "toPandas"):
            spans.wrap(f"scale.{name}", DataFrame, name)

    def layer_metrics(self, i: int, s: dict) -> dict[str, float]:
        """Traced mode: per-layer figures of operation ``i`` derived
        from its span sums ``s``."""
        return {
            "io.ready_probes": s["io.ready_calls"],
            "scale.checkpoints": s["scale.localCheckpoint_calls"] + s["scale.checkpoint_calls"],
            "scale.collects": s["scale.collect_calls"] + s["scale.toPandas_calls"],
        }

    def op_of_job(self, props: dict, submitted_ms: float) -> int | None:
        """Traced mode: the operation a Spark job belongs to, from the
        ``perfbench.op`` local property the benchmark sets around each
        operation, or None."""
        op = props.get(OP_PROPERTY)
        return None if op is None else int(op)



# ---------------------------------------------------------------------------
# route_backfill
# ---------------------------------------------------------------------------

DAILY_SQL = (
    "SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value "
    "FROM events GROUP BY event_type"
)
TRAILING_SQL = (
    "SELECT event_type, sum(n) AS n, round(sum(total_value), 4) AS total_value "
    "FROM daily_agg GROUP BY event_type"
)
USER_SQL = (
    "SELECT user_id, count(*) AS n, round(sum(value), 4) AS total_value, "
    "count(DISTINCT event_type) AS n_types FROM events GROUP BY user_id"
)


def _segment_join(inputs, ctx):
    from pyspark.sql import functions as F

    ev, cust = inputs["events"], inputs["customer"]
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


class RouteBackfill(Workload):
    """One ``Application.process(events[day])`` per operation; the day
    fires four routes (daily aggregate, customer join, trailing 3-day
    union over the daily aggregate, user rollup)."""

    name = "route_backfill"
    ROUTES = ("daily_agg", "segment_join", "trailing_3day", "user_rollup")
    #: six days: the trailing 3-day route runs from the third on, and the
    #: per-event time still falls by ~35% over the next three (seed 4005:
    #: 2.3, 1.8, 1.6 s, then 1.35-1.65 s), so those stay out of the timing
    WARM_DAYS = 6

    def prepare(self) -> None:
        from rheoceros_spark import (
            Application,
            Dimension,
            DimensionType,
            ParquetDataset,
            Spark,
            SparkSQL,
        )
        from rheoceros_spark.sources.datasets import IntegrityProtocol

        self.ev_root = f"{self.work}/events"
        self.cust_path = f"{self.work}/customer/customer.parquet"
        write_events(self.ev_root, self.seed, rows_per_day=300 if self.smoke else 3333)
        write_customer(self.cust_path, self.seed, n=1500 if self.smoke else 15000)

        app = Application("perfbench_route", storage_root=f"{self.work}/app", spark=self.spark)
        day = Dimension("day", DimensionType.DATETIME, {"format": "%Y-%m-%d"})
        events = app.marshal_external_data(
            ParquetDataset(self.ev_root + "/{}", day, integrity=IntegrityProtocol.SUCCESS_FILE),
            id="events",
        )
        customer = app.marshal_external_data(ParquetDataset(self.cust_path), id="customer")
        daily = app.create_data(id="daily_agg", inputs=[events], compute_targets=[SparkSQL(DAILY_SQL)])
        app.create_data(
            id="segment_join", inputs=[events, customer.ref], compute_targets=[Spark(_segment_join)]
        )
        app.create_data(id="trailing_3day", inputs=[daily[:-3].range_check(True)], compute_targets=[SparkSQL(TRAILING_SQL)])
        app.create_data(id="user_rollup", inputs=[events], compute_targets=[SparkSQL(USER_SQL)])
        app.activate()
        self.app, self.events = app, events
        self.done: dict[int, tuple[str, list[str]]] = {}  # op -> (day, outputs)

    def _process(self, day: str) -> list[str]:
        return self.app.process(self.events[day])

    def warm(self) -> None:
        for day in DAYS[: self.WARM_DAYS]:
            self._process(day)

    def op(self, i: int) -> int:
        span = len(DAYS) - self.WARM_DAYS
        day = DAYS[self.WARM_DAYS + i % span]
        outputs = self._process(day)
        self.done[i] = (day, outputs)
        return len(outputs)

    def check(self) -> set[int]:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT *, CAST(ts AS DATE) AS day "
            f"FROM read_parquet('{self.ev_root}/*/*.parquet')"
        )
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{self.cust_path}')")
        failed = set()
        for i, (day, outputs) in self.done.items():
            by_route = {r: p for p in outputs for r in self.ROUTES if f"/{r}/" in p}
            if sorted(by_route) != sorted(self.ROUTES) or len(outputs) != len(self.ROUTES):
                failed.add(i)
                continue
            first = DAYS[max(0, DAYS.index(day) - 2)]
            exp = {
                "daily_agg": (
                    "SELECT event_type, n, total_value FROM ({q})".format(
                        q=DAILY_SQL.replace("FROM events", f"FROM events WHERE day = DATE '{day}'")
                    )
                ),
                "segment_join": (
                    "SELECT c_mktsegment, count(*), round(sum(value), 4), count(DISTINCT user_id) "
                    f"FROM events e JOIN customer c ON e.user_id = c.c_custkey "
                    f"WHERE day = DATE '{day}' GROUP BY c_mktsegment"
                ),
                "trailing_3day": (
                    "SELECT event_type, sum(n), round(sum(tv), 4) FROM ("
                    "SELECT day, event_type, count(*) AS n, round(sum(value), 4) AS tv FROM events "
                    f"WHERE day BETWEEN DATE '{first}' AND DATE '{day}' GROUP BY day, event_type"
                    ") GROUP BY event_type"
                ),
                "user_rollup": USER_SQL.replace("FROM events", f"FROM events WHERE day = DATE '{day}'"),
            }
            for route, sql in exp.items():
                got = _rows(con, f"SELECT * FROM read_parquet('{by_route[route]}/*.parquet')")
                if not _same(got, _rows(con, sql)):
                    failed.add(i)
        con.close()
        return failed

    def wrap_layers(self, spans) -> None:
        import rheoceros_spark.compute as compute_mod
        from rheoceros_spark import Application

        super().wrap_layers(spans)
        spans.wrap("compute.run", compute_mod.Spark, "run")
        spans.wrap("compute.sql_run", compute_mod.SparkSQL, "run")
        spans.wrap("routing.process", Application, "process")

    def layer_metrics(self, i: int, s: dict) -> dict[str, float]:
        inner = s["io.load_ms"] + s["io.write_ms"] + s["io.ready_ms"] + s["compute.run_ms"] + s["compute.sql_run_ms"]
        return {
            **super().layer_metrics(i, s),
            "routing.self_ms": s["routing.process_ms"] - inner,
            "routing.executions": len(self.done[i][1]) if i in self.done else 0,
            "compute.run_ms": s["compute.run_ms"] + s["compute.sql_run_ms"],
            "compute.run_py4j": s["compute.run_py4j"] + s["compute.sql_run_py4j"],
        }


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

CCNET_HEAD, CCNET_TAIL = 30, 30


class CorpusCuration(Workload):
    """One curation pass over the corpus per operation: the CCNet
    pipeline (trained language classifier -> bigram NLL -> per-language
    perplexity cut, keep head+middle) and the near-dup keep-list
    (MinHash LSH pairs -> connected components), each written."""

    name = "corpus_curation"

    def prepare(self) -> None:
        self.n_docs = 250 if self.smoke else 500
        self.docs = DocMaker(self.seed).take(self.n_docs)
        write_docs(self.docs, f"{self.work}/corpus/documents.parquet")
        self.outputs: dict[int, tuple[str, str]] = {}

    def _pass(self, tag: str) -> tuple[str, str]:
        from pyspark.sql import functions as F

        from rheoceros_spark.operators import curation, dedup, text_analysis
        from rheoceros_spark.sources import io

        spans = getattr(self, "spans", None)
        sc = self.spark.sparkContext
        if spans is not None:
            sc.setJobGroup(BUILD_GROUP, "construction", False)
            c0 = spans.py4j.calls
        t0 = time.perf_counter()
        docs = io.load_table(self.spark, f"{self.work}/corpus", "documents")
        w = text_analysis.lang_classifier_train(
            docs, "lang", n_buckets=64, iters=2, lr=2.0, train_frac=0.5
        )
        pred = text_analysis.lang_classifier_score(docs, w, n_buckets=64).select("doc_id", "pred_lang")
        nll = text_analysis.bigram_nll(docs, k=0.1)
        scored = pred.join(nll, "doc_id").localCheckpoint(eager=False)
        ccnet = (
            curation.ppl_buckets(
                scored, score_col="nll", group_col="pred_lang",
                head_pct=CCNET_HEAD, tail_pct=CCNET_TAIL,
            )
            .where(F.col("ppl_bucket").isin("head", "middle"))
            .select("doc_id", "pred_lang", "n_scored", "nll", "ppl_bucket")
        )
        keep = curation.dedup_keep_list(docs, dedup.minhash_lsh_pairs(docs, threshold=0.5))
        t1 = time.perf_counter()
        if spans is not None:
            spans.add("operators.build_ms", (t1 - t0) * 1000.0)
            spans.add("operators.build_py4j", spans.py4j.calls - c0)
            sc.setJobGroup(EXEC_GROUP, "execution", False)
        out = (f"{self.work}/out/{tag}/ccnet", f"{self.work}/out/{tag}/keep_list")
        io.write_dataset(ccnet, out[0])
        io.write_dataset(keep, out[1])
        if spans is not None:
            spans.add("operators.exec_ms", (time.perf_counter() - t1) * 1000.0)
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def warm(self) -> None:
        # one pass: a second one steadied op times a little but added
        # ~8 s to every run, which the run budget cannot carry
        self._pass("warm")

    def op(self, i: int) -> int:
        self.outputs[i] = self._pass(f"op{i}")
        return self.n_docs

    def check(self) -> set[int]:
        """Properties checked in plain Python against each pass's
        outputs (the DuckDB compositions for these two pipelines take
        ~1 min at 5k docs, longer than a run):

        * CCNet: every kept ``nll`` equals an add-0.1 bigram model
          trained on the corpus and evaluated here; ``n_scored`` is the
          token count minus one; ids are unique input ids; within each
          predicted language every head score lies below every middle
          score; at most 70% of the corpus is kept.
        * keep-list: one row per input doc; ``keep_id`` is the smallest
          id of its cluster and keeps itself; ``is_dup`` is
          ``keep_id != doc_id``; every cluster is connected by pairs
          whose exact word-3-gram Jaccard is >= 0.5.
        """
        expected_nll = self._bigram_nll()
        shingles = {d["doc_id"]: _shingles(d["text"]) for d in self.docs}
        failed = set()
        for i, (ccnet_path, keep_path) in self.outputs.items():
            ok = self._check_ccnet(pq.read_table(ccnet_path).to_pylist(), expected_nll)
            ok = ok and self._check_keep(pq.read_table(keep_path).to_pylist(), shingles)
            if not ok:
                failed.add(i)
        return failed

    def _bigram_nll(self) -> dict[int, tuple[int, float]]:
        k = 0.1
        toks = {d["doc_id"]: d["text"].split(" ") for d in self.docs}
        big, pre, vocab = defaultdict(int), defaultdict(int), set()
        for t in toks.values():
            vocab.update(t)
            for v, w in zip(t, t[1:]):
                big[v, w] += 1
                pre[v] += 1
        V = len(vocab)
        out = {}
        for doc_id, t in toks.items():
            pairs = list(zip(t, t[1:]))
            if not pairs:
                continue
            q = sum(
                round(-math.log((big[v, w] + k) / (pre[v] + k * V)) * 1e7) for v, w in pairs
            )
            out[doc_id] = (len(pairs), q / 1e7 / len(pairs))
        return out

    def _check_ccnet(self, rows: list[dict], expected: dict) -> bool:
        ids = [r["doc_id"] for r in rows]
        if len(set(ids)) != len(ids) or not set(ids) <= set(expected):
            return False
        if not 0 < len(rows) <= (100 - CCNET_TAIL) * self.n_docs // 100:
            return False
        by_lang = defaultdict(lambda: {"head": [], "middle": []})
        for r in rows:
            n, nll = expected[r["doc_id"]]
            if r["n_scored"] != n or not math.isclose(r["nll"], nll, rel_tol=1e-9, abs_tol=1e-6):
                return False
            by_lang[r["pred_lang"]][r["ppl_bucket"]].append(r["nll"])
        return all(
            not b["head"] or not b["middle"] or max(b["head"]) <= min(b["middle"])
            for b in by_lang.values()
        )

    def _check_keep(self, rows: list[dict], shingles: dict) -> bool:
        if sorted(r["doc_id"] for r in rows) != sorted(shingles):
            return False
        keep = {r["doc_id"]: r["keep_id"] for r in rows}
        clusters = defaultdict(list)
        for r in rows:
            if r["is_dup"] != (r["keep_id"] != r["doc_id"]) or r["keep_id"] > r["doc_id"]:
                return False
            if keep.get(r["keep_id"]) != r["keep_id"]:
                return False
            clusters[r["keep_id"]].append(r["doc_id"])
        for members in clusters.values():
            if len(members) > 1 and not _connected(members, shingles):
                return False
        return True

    def wrap_layers(self, spans) -> None:
        from rheoceros_spark.operators import curation, dedup, text_analysis

        super().wrap_layers(spans)
        self.spans = spans
        for mod, name in (
            (text_analysis, "lang_classifier_train"),
            (text_analysis, "lang_classifier_score"),
            (text_analysis, "bigram_nll"),
            (curation, "ppl_buckets"),
            (dedup, "minhash_lsh_pairs"),
            (curation, "dedup_keep_list"),
        ):
            spans.wrap(f"operators.{name}", mod, name)


def _shingles(text: str, n: int = 3) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i : i + n]) for i in range(max(1, len(t) - n + 1))}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def _connected(members: list[int], shingles: dict, threshold: float = 0.5) -> bool:
    """True if the members form one component under exact-Jaccard
    edges >= threshold."""
    seen, todo = {members[0]}, [members[0]]
    while todo:
        u = todo.pop()
        for v in members:
            if v not in seen and _jaccard(shingles[u], shingles[v]) >= threshold:
                seen.add(v)
                todo.append(v)
    return len(seen) == len(members)


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    """One micro-batch per operation: a parquet shard lands in the
    stream's source directory, and the operation ends when the batch's
    commit is written.  The query is ``stream_quality_gate`` ->
    accepted docs -> ``stream_dedup_against_index`` against a MinHash
    index seeded in set-up; novel docs are appended to the index and
    written by the ``accept`` callback through ``write_dataset``."""

    name = "stream_ingest"
    #: the first batch pays the cold start (~10 s).  The timed batch is
    #: the second, which still runs ~25% slower than later ones; a second
    #: warm-up batch would add ~7 s to every run, more than the run
    #: budget (README.md) can carry
    WARM_BATCHES = 1
    BANDS = 4

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from rheoceros_spark import Dimension, DimensionType, ParquetDataset
        from rheoceros_spark.operators import dedup
        from rheoceros_spark.sources import io
        from rheoceros_spark.streaming import stream

        self.shard_docs = 50 if self.smoke else 200
        n_seed = 300 if self.smoke else 1000
        self.maker = DocMaker(self.seed)
        self.seed_docs = self.maker.take(n_seed)
        seed_dir = f"{self.work}/seed"
        write_docs(self.seed_docs, f"{seed_dir}/documents.parquet")
        self.index_path = f"{self.work}/index"
        self.src_root = f"{self.work}/source"
        self.out_root = f"{self.work}/accepted"
        self.ckpt = f"{self.work}/checkpoint"
        os.makedirs(self.src_root)
        dedup.build_minhash_index(
            io.load_table(self.spark, seed_dir, "documents"), path=self.index_path, bands=self.BANDS
        )
        self.shards: list[list[dict]] = []  # shard k is micro-batch k
        self.op_batch: dict[int, int] = {}

        desc = ParquetDataset(self.src_root + "/{}", Dimension("shard", DimensionType.LONG))
        schema = self.spark.read.parquet(f"{seed_dir}/documents.parquet").schema
        sdf = stream.stream_source(self.spark, desc, schema=schema, max_files_per_trigger=1)
        gated = stream.stream_quality_gate(sdf).where(F.col("accepted"))

        def accept(novel, batch_id):
            io.write_dataset(novel, f"{self.out_root}/batch={batch_id}")

        writer = stream.stream_dedup_against_index(
            gated, self.index_path, self.ckpt, accept, bands=self.BANDS
        )
        self.query = writer.start()

    def _stage(self) -> int:
        """Write the next shard into a staging directory; ``_land``
        moves it into the source directory in one rename."""
        k = len(self.shards)
        docs = self.maker.take(self.shard_docs, pool=self.seed_docs)
        self.shards.append(docs)
        write_docs(docs, f"{self.work}/staging/{k}/part-00000.parquet")
        return k

    def _land(self, k: int) -> None:
        os.rename(f"{self.work}/staging/{k}", f"{self.src_root}/{k}")
        commit = f"{self.ckpt}/commits/{k}"
        start = time.monotonic()
        # poll the file system only: a py4j status call per poll would
        # add timing-dependent driver traffic to the measured batch
        while not os.path.exists(commit):
            waited = time.monotonic() - start
            if waited > 30 and not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            if waited > 60:
                raise TimeoutError(f"micro-batch {k} did not commit")
            time.sleep(0.005)

    def warm(self) -> None:
        for _ in range(self.WARM_BATCHES):
            self._land(self._stage())

    def stage(self, i: int) -> None:
        self.op_batch[i] = self._stage()

    def op(self, i: int) -> int:
        self._land(self.op_batch[i])
        return self.shard_docs

    def check(self) -> set[int]:
        """Properties, with the stream stopped:

        * the docs written by ``accept`` are unique input docs, and each
          carries the same gate columns as the batch
          ``stream_quality_gate`` computes on the same docs, which
          accepts it; so every doc is exactly one of gate-rejected,
          accepted, or dropped as a duplicate;
        * every dropped doc has an exact word-3-gram Jaccard >= 0.5
          partner among the seed docs or the docs accepted in earlier
          batches (computed here in plain Python);
        * the index holds ``bands`` rows for every seed and accepted
          doc, and no other doc.
        """
        from rheoceros_spark.streaming import stream

        self.close()
        batch_of = {d["doc_id"]: k for k, docs in enumerate(self.shards) for d in docs}
        op_of_batch = self.op_of_batch = {k: i for i, k in self.op_batch.items()}
        bad_batches: set[int] = set()

        files = [f"{self.src_root}/{k}/part-00000.parquet" for k in range(len(self.shards))]
        gate = {
            r["doc_id"]: r
            for r in stream.stream_quality_gate(self.spark.read.parquet(*files))
            .select("doc_id", "lang_pred", "quality", "dup_token_frac", "accepted")
            .collect()
        }
        accepted: dict[int, int] = {}  # doc -> batch
        for k in range(len(self.shards)):
            path = f"{self.out_root}/batch={k}"
            if not os.path.exists(path):
                bad_batches.add(k)
                continue
            for r in pq.read_table(path).to_pylist():
                g = gate.get(r["doc_id"])
                if (
                    r["doc_id"] in accepted
                    or batch_of.get(r["doc_id"]) != k
                    or g is None
                    or not g["accepted"]
                    or (r["lang_pred"], r["quality"], r["dup_token_frac"])
                    != (g["lang_pred"], g["quality"], g["dup_token_frac"])
                ):
                    bad_batches.add(k)
                accepted[r["doc_id"]] = k

        # dropped docs need a near-duplicate among seed + earlier accepted
        shingles = {d["doc_id"]: _shingles(d["text"]) for d in self.seed_docs}
        postings: dict[str, set[int]] = defaultdict(set)
        for doc_id, sh in shingles.items():
            for s in sh:
                postings[s].add(doc_id)
        for k, docs in enumerate(self.shards):
            for d in docs:
                if d["doc_id"] in accepted or not gate.get(d["doc_id"], {"accepted": False})["accepted"]:
                    continue
                sh = _shingles(d["text"])
                cands = set().union(*(postings.get(s, ()) for s in sh))
                if not any(_jaccard(sh, shingles[c]) >= 0.5 for c in cands):
                    bad_batches.add(k)
            for d in docs:  # this batch's accepted docs join the index
                if accepted.get(d["doc_id"]) == k:
                    sh = shingles[d["doc_id"]] = _shingles(d["text"])
                    for s in sh:
                        postings[s].add(d["doc_id"])

        con = duckdb.connect()
        per_doc = dict(
            con.execute(
                f"SELECT doc_id, count(*) FROM read_parquet('{self.index_path}/*/*.parquet', "
                "hive_partitioning = true) GROUP BY doc_id"
            ).fetchall()
        )
        con.close()
        indexed = {d["doc_id"] for d in self.seed_docs} | set(accepted)
        for doc_id in set(per_doc) | indexed:
            if per_doc.get(doc_id) != self.BANDS or doc_id not in indexed:
                k = batch_of.get(doc_id)
                bad_batches.add(-1 if k is None else k)
        self.bad_untimed = {k for k in bad_batches if k not in op_of_batch}
        return {op_of_batch[k] for k in bad_batches if k in op_of_batch}

    def wrap_layers(self, spans) -> None:
        from rheoceros_spark.operators import dedup

        super().wrap_layers(spans)
        spans.wrap("dedup.probe", dedup, "dedup_against_index")

    def op_of_job(self, props: dict, submitted_ms: float) -> int | None:
        """Micro-batch jobs carry their batch id, but an idle file
        stream also launches listing jobs under its last batch id; only
        jobs inside the batch's trigger (from its progress) count."""
        batch = props.get("streaming.sql.batchId")
        op = None if batch is None else self.op_of_batch.get(int(batch))
        if op is None:
            return None
        start, duration = self.trigger_span[int(batch)]
        return op if start <= submitted_ms <= start + duration else None

    def layer_metrics(self, i: int, s: dict) -> dict[str, float]:
        d = self.progress.get(self.op_batch[i], {})
        add_batch = d.get("addBatch", 0.0)
        return {
            **super().layer_metrics(i, s),
            "stream.trigger_ms": d.get("triggerExecution", 0.0),
            "stream.planning_ms": d.get("queryPlanning", 0.0),
            "stream.add_batch_ms": add_batch,
            "dedup.append_ms": add_batch - s["dedup.probe_ms"] - s["io.write_ms"],
        }

    def close(self) -> None:
        if getattr(self, "query", None) is not None:
            progress = [json.loads(p.json) for p in self.query.recentProgress]
            self.progress = {p["batchId"]: p["durationMs"] for p in progress}
            self.trigger_span = {
                p["batchId"]: (
                    dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0,
                    p["durationMs"]["triggerExecution"],
                )
                for p in progress
            }
            self.query.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (RouteBackfill, CorpusCuration, StreamIngest)}
