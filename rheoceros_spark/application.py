"""The Application API — graph build + execution entry points.

Re-expresses the reference's ``Application`` surface (reference
``src/intelliflow/core/application/application.py``, 4700 LoC) minus
the AWS control plane: nodes become **named DataFrame pipelines** over
partition domains, ``execute()`` runs one partition-grain batch job,
``process()`` feeds the in-process routing runtime (event-driven mode,
:mod:`rheoceros_spark.streaming.routing`).

Lifecycle mapping (SURVEY §3):

* ``marshal_external_data`` → a :class:`Signal` over a dataset
  descriptor with a declared dimension filter
  (reference ``application.py:1067-1160``).
* ``create_data`` → build a :class:`SignalLinkNode` (+ auto links),
  output spec/links, compute slots → an :class:`InternalDataNode`
  (reference ``application.py:1197-1542``).
* ``execute(target)`` → back-derive material inputs from the output
  via the link matrix (reference ``signal.py:1105``,
  ``application.py:3100-3129``), load partitions, run slots, managed
  write, return the materialized path (reference
  ``application.py:2981-3260``).  ``recursive=True`` backfills missing
  ancestor partitions; ``update_dependency_tree=True`` re-executes
  descendants (reference ``application.py:2981-3060``).
* ``process(signal)`` → inject one event into the routing table
  (reference ``application.py:1877-1980``).
* ``poll`` / ``materialize`` / ``load_data`` / ``preview_data`` →
  output introspection (reference ``application.py:2051-2267,
  3810-3953, 4121-4460``).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from rheoceros_spark.compute import (
    ComputeContext,
    ComputeDescriptor,
    ComputeKilledError,
    ComputeRetryableInternalError,
    InlinedCompute,
    Spark,
    restore_confs,
    snapshot_confs,
)
from rheoceros_spark.dimensions import (
    Dimension,
    DimensionFilter,
    DimensionSpec,
    DimensionType,
    chain_spec_from_dict,
)
from rheoceros_spark.session import get_session
from rheoceros_spark.signals import (
    EQUALS,
    OutputDimensionLink,
    Signal,
    SignalDimensionLink,
    SignalLinkNode,
    expand_literal_lists,
)
from rheoceros_spark.sources.datasets import (
    DatasetDescriptor,
    DatasetType,
    IntegrityProtocol,
    ParquetDataset,
)
from rheoceros_spark.sources.io import (
    METADATA_FILE,
    load_signal,
    partition_ready,
    write_dataset,
)


@dataclass
class RouteRetention:
    """Output-partition retention policy (reference ``RouteRetention``,
    ``routing_runtime_constructs.py:784-803``; enforcement
    ``constructs.py:3476,3710-3760``).

    ``condition`` receives the partition's RAW dimension values (typed,
    not strings — reference ``check_output_retention`` passes
    ``raw_value=True``) and returns True to KEEP it.  Two enforcement
    points, both mirrored here: (1) executions targeting an
    out-of-retention partition are **skipped** before any compute
    (``on_exec_skipped`` hook fires), and (2)
    :meth:`Application.apply_retention` sweeps materialized partitions
    and deletes those the condition rejects (the reference's
    RETENTION_DELETION_REQUEST feedback loop, collapsed in-process).

    ``refresh_period_in_secs`` rate-limits the sweep per node (the
    reference's ``next_retention_check_time`` scheduling) —
    ``apply_retention`` becomes a no-op for a node swept more recently
    than the period unless called with ``force=True``.  ``rip_hook``
    fires per deleted partition path, ``refresh_hook`` once per sweep
    of the node (reference ``rip_hook``/``refresh_hook`` Slots)."""

    condition: Optional[Callable[[dict], bool]] = None
    refresh_period_in_secs: Optional[float] = None
    rip_hook: Optional[Callable[[str, dict], Any]] = None
    refresh_hook: Optional[Callable[[str], Any]] = None


@dataclass
class InternalDataNode:
    """One materialized-view pipeline: join → trigger → compute → write
    (reference Route/InternalDataNode, routing_runtime_constructs.py:1172-1227)."""

    id: str
    link_node: SignalLinkNode
    output_signal: Signal
    output_links: list[OutputDimensionLink]
    slots: list[ComputeDescriptor]
    hooks: dict[str, Callable] = field(default_factory=dict)
    output_retention: Optional[RouteRetention] = None

    def upstream_aliases(self) -> list[str]:
        return [s.alias for s in self.link_node.signals]


class ComputeRecordState(str, Enum):
    """In-process projection of the reference's compute session states
    (``definitions/compute.py:154-163`` + ``FORCE_STOPPED``)."""

    PROCESSING = "PROCESSING"
    COMPLETED = "COMPLETED"
    FAILED = "FAILED"
    KILLED = "KILLED"


@dataclass
class ComputeRecord:
    """One execution of one node partition (reference RoutingTable
    active/inactive compute records, constructs.py:2698-2841)."""

    node_id: str
    out_values: dict[str, Any]
    state: ComputeRecordState
    exec_id: str = ""
    attempts: int = 0  # failure-retries consumed (number_of_attempts_on_failure)
    error: Optional[str] = None
    path: Optional[str] = None
    detail: Optional[str] = None  # e.g. retention-skip note; never an error
    #: materialized input signals of this execution (reference compute
    #: records expose the same — ``materialized_inputs`` asserted in
    #: test_aws_application_output_parametrization.py:93-110); lets
    #: callers audit what execute/process back-derived for each input
    materialized_inputs: list = field(default_factory=list)
    #: wall-clock completion time (None while PROCESSING) — the search
    #: key of the reference's inactive-record interval scan
    #: (``dependency_tree_scan_end``)
    completed_at: Optional[float] = None


class ApplicationState(str, Enum):
    """Reference ``ApplicationState`` (core/application/context.py):
    the dev/active lifecycle of the whole app.  PAUSED gates event
    ingestion only (``process``/``receive_raw``); TERMINATED is not a
    distinct state — ``terminate()`` returns to INACTIVE, the
    "never activated" state, per the reference's contract."""

    INACTIVE = "INACTIVE"
    ACTIVE = "ACTIVE"
    PAUSED = "PAUSED"
    DELETED = "DELETED"


class Application:
    def __init__(
        self,
        id: str,
        storage_root: Optional[str] = None,
        spark: Optional[SparkSession] = None,
        transient_retry_limit: int = 3,
    ):
        self.id = id
        self.storage_root = (storage_root or os.path.join(tempfile.gettempdir(), "rheoceros_spark", id)).rstrip("/")
        self._spark = spark
        self._external: dict[str, Signal] = {}
        self._nodes: dict[str, InternalDataNode] = {}
        self._node_args: dict[str, dict] = {}  # create_data kwargs, for update/patch
        self.state = ApplicationState.INACTIVE
        self._routing = None  # built lazily on activate()/process()
        #: bound on ComputeRetryableInternalError retries per slot (the
        #: reference re-queues TRANSIENT failures every cycle, unbounded)
        self.transient_retry_limit = transient_retry_limit
        self._records: list[ComputeRecord] = []
        self._kill_requested: set[tuple] = set()
        self._retention_checked: dict[str, float] = {}
        self._metric_defs: set[str] = set()
        self._alarms: dict[str, dict] = {}
        self._composites: dict[str, Any] = {}
        self._alarm_last: dict[str, str] = {}
        self._async_threads: dict[str, threading.Thread] = {}

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = get_session(app_name=self.id)
        return self._spark

    # ------------------------------------------------------------------
    # graph build
    # ------------------------------------------------------------------
    def marshal_external_data(
        self,
        descriptor: DatasetDescriptor,
        id: Optional[str] = None,
        dimension_filter: Any = None,
    ) -> Signal:
        """External dataset → Signal; ``dimension_filter`` narrows the
        declared domain (F7, reference application.py:1067-1160)."""
        alias = id or os.path.basename(descriptor.path_format.replace("{}", "").rstrip("/")) or "ext"
        filt = DimensionFilter.load_raw(descriptor.spec, dimension_filter)
        sig = Signal(alias, descriptor, descriptor.spec, filt)
        self._external[alias] = sig
        return sig.clone()

    def add_timer(
        self,
        id: str,
        granularity: str = "day",
        date_format: Optional[str] = None,
    ) -> Signal:
        """Timer signal: single DATETIME dimension, no storage binding
        (S9, reference application.py:1023-1052 /
        signal_source.py:1103-1160 — EventBridge schedule becomes a
        scheduled ``process(timer[...])`` injection stamping the run
        date)."""
        params: dict[str, Any] = {"granularity": granularity}
        if date_format:
            params["format"] = date_format
        dim = Dimension("time", DimensionType.DATETIME, params)
        sig = Signal(id, None, DimensionSpec([dim]))
        self._external[id] = sig
        return sig.clone()

    def add_notification_topic(self, id: str, *dimensions: Dimension) -> Signal:
        """S10 — external notification topic as a signal (reference
        SNS source, signal_source.py:1161-1241): no storage binding,
        arbitrary dimension domain; events arrive via ``process()`` or
        ``receive_raw()`` with a ``topic://<id>/<dim>/...`` path.  A
        route triggered by a topic signal reads its *other* inputs —
        the topic contributes trigger + dimension values only."""
        dims = list(dimensions) or [
            Dimension("time", DimensionType.DATETIME, {"format": "%Y-%m-%d"})
        ]
        sig = Signal(id, None, DimensionSpec(dims))
        self._external[id] = sig
        return sig.clone()

    # ------------------------------------------------------------------
    # diagnostics: metrics, alarms, composite alarms as first-class
    # signals (reference create_metric/create_alarm/
    # create_composite_alarm, application.py:826-1022; alarm signals
    # feed create_data inputs — the alarm-ingestion reactor pattern,
    # test_aws_application_alarming_and_metrics.py:500-663)
    # ------------------------------------------------------------------
    def create_metric(self, id: str):
        """Declare an internal metric group; returns a
        :class:`~rheoceros_spark.diagnostics.MetricDef` to index into
        alarm selectors (``m["ERRORS"][stat][period]``) and to
        ``emit_metric`` against."""
        from rheoceros_spark.diagnostics import MetricDef

        self._metric_defs.add(id)
        return MetricDef(id)

    def _metric_store(self, metric_id: str) -> str:
        return os.path.join(self.storage_root, "metrics", metric_id)

    def emit_metric(self, metric, name: str, value: float, ts=None) -> None:
        """Append one datapoint to a metric group's internal store
        (reference custom-metric ``emit``; storage is an append-only
        parquet series per group — the in-process stand-in for CW)."""
        from rheoceros_spark.diagnostics import MetricDef

        metric_id = metric.metric_id if isinstance(metric, MetricDef) else str(metric)
        if metric_id not in self._metric_defs:
            raise ValueError(f"create_metric({metric_id!r}) first")
        self._append_metric_rows(metric_id, [(str(name), float(value))], ts)

    def _append_metric_rows(self, metric_id: str, rows, ts=None) -> None:
        """Shared datapoint append for emit_metric / emit_route_metrics
        — one place owns the store schema and timestamp normalization."""
        import datetime as _dt

        ts = ts or _dt.datetime.now()
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        df = self.spark.createDataFrame(
            [(n, v, ts) for n, v in rows], "name string, value double, ts timestamp"
        )
        df.coalesce(1).write.mode("append").parquet(self._metric_store(metric_id))

    def create_alarm(
        self,
        id: str,
        target_metric_or_expression,
        metrics: Optional[dict] = None,
        threshold: float = 1.0,
        comparison_operator: str = ">=",
        number_of_evaluation_periods: int = 1,
        number_of_datapoint_periods: Optional[int] = None,
    ) -> Signal:
        """Declare a metric alarm.  Two spellings, as in the reference:
        a single complete metric selector
        (``m["ERRORS"][SUM][MINUTES(5)]``), or a metric-math
        ``expression`` string over named ``metrics`` selectors
        (``"errors > 0 OR failures > 0"``).  Returns the alarm's
        Signal — one STRING ``state`` dimension — usable directly as a
        ``create_data`` input (``alarm["ALARM"]`` reactors)."""
        from rheoceros_spark.diagnostics import (
            COMPARISON_ALIASES,
            MetricSelector,
        )

        comparison = COMPARISON_ALIASES.get(comparison_operator, comparison_operator)
        if isinstance(target_metric_or_expression, MetricSelector):
            operands = {"m": target_metric_or_expression.require_complete()}
            expression = None
        else:
            if not metrics:
                raise ValueError(
                    "create_alarm: an expression alarm needs `metrics` selectors"
                )
            operands = {
                alias: sel.require_complete() for alias, sel in metrics.items()
            }
            expression = str(target_metric_or_expression)
        for alias, sel in operands.items():
            if sel.metric_id not in self._metric_defs:
                raise ValueError(
                    f"create_alarm: unknown metric {sel.metric_id!r} for operand {alias!r}"
                )
        sig = Signal(id, None, DimensionSpec([Dimension("state", DimensionType.STRING)]))
        self._external[id] = sig
        self._alarms[id] = {
            "operands": operands,
            "expression": expression,
            "threshold": float(threshold),
            "comparison": comparison,
            "evaluation_periods": int(number_of_evaluation_periods),
            "datapoints": int(
                number_of_datapoint_periods
                if number_of_datapoint_periods is not None
                else number_of_evaluation_periods
            ),
        }
        return sig.clone()

    def create_composite_alarm(self, id: str, alarm_rule) -> Signal:
        """Composite alarm over member alarms via an
        :class:`~rheoceros_spark.diagnostics.AlarmRule` tree
        (``AlarmRule.of("a") & ~AlarmRule.of("b")``) — member names
        are alarm ids declared with :meth:`create_alarm`."""
        unknown = [n for n in alarm_rule.leaf_names() if n not in self._alarms]
        if unknown:
            raise ValueError(f"create_composite_alarm: unknown member alarms {unknown}")
        sig = Signal(id, None, DimensionSpec([Dimension("state", DimensionType.STRING)]))
        self._external[id] = sig
        self._composites[id] = alarm_rule
        return sig.clone()

    def _alarm_current_state(self, alarm_id: str) -> str:
        from pyspark.sql import functions as F

        from rheoceros_spark.diagnostics import (
            AlarmState,
            alarm_state,
            metric_math,
            metric_period_stats,
        )

        d = self._alarms[alarm_id]
        frames = {}
        min_period = min(sel.period_secs for sel in d["operands"].values())
        for alias, sel in d["operands"].items():
            store = self._metric_store(sel.metric_id)
            if not os.path.exists(store):
                return AlarmState.INSUFFICIENT_DATA.value
            series = self.spark.read.parquet(store).where(F.col("name") == sel.name)
            stats = metric_period_stats(
                series, period=f"{sel.period_secs} seconds", stats=[sel.stat]
            )
            frames[alias] = stats.select(
                "period_start", F.col(sel.stat).alias("value")
            )
        if d["expression"] is not None:
            val = metric_math(frames, d["expression"]).select(
                "period_start", F.col("value").cast("double").alias("value")
            )
        else:
            val = frames["m"]
        st = alarm_state(
            val.where(F.col("value").isNotNull()),
            "value",
            d["threshold"],
            d["comparison"],
            d["evaluation_periods"],
            d["datapoints"],
            period_seconds=min_period,
        )
        rows = st.orderBy(F.col("period_start").desc()).limit(1).collect()
        if not rows:
            return AlarmState.INSUFFICIENT_DATA.value
        return rows[0]["state"]

    def evaluate_alarms(self) -> dict[str, str]:
        """Evaluate every alarm and composite against the metric
        stores; on a state TRANSITION, inject the alarm's own signal
        into the routing table so reactor nodes
        (``inputs=[alarm["ALARM"]]``) trigger — the reference's
        alarm-ingestion loop (CW alarm events → Lambda), collapsed to
        an explicit tick.  Returns {alarm_id: state}."""
        from rheoceros_spark.diagnostics import AlarmState

        states: dict[str, str] = {}
        for alarm_id in self._alarms:
            states[alarm_id] = self._alarm_current_state(alarm_id)

        def _rule_state(rule) -> str:
            if rule.op == "LEAF":
                return states[rule.leaf]
            member = [_rule_state(r) for r in rule.operands]
            if rule.op == "AND":
                ok = all(s == AlarmState.ALARM.value for s in member)
            elif rule.op == "OR":
                ok = any(s == AlarmState.ALARM.value for s in member)
            else:  # NOT
                ok = member[0] != AlarmState.ALARM.value
            return AlarmState.ALARM.value if ok else AlarmState.OK.value

        for comp_id, rule in self._composites.items():
            states[comp_id] = _rule_state(rule)

        for sig_id, state in states.items():
            prev = self._alarm_last.get(sig_id)
            if prev != state and state != AlarmState.INSUFFICIENT_DATA.value:
                if self.state == ApplicationState.ACTIVE and self._routing is not None:
                    # record-then-inject ONLY when the event can be
                    # delivered: an evaluation before activate() must
                    # not swallow the transition, or the reactor would
                    # never fire until the alarm flapped again
                    self._alarm_last[sig_id] = state
                    self.process(self._external[sig_id].materialize([state]))
            else:
                self._alarm_last[sig_id] = state
        return states

    def emit_route_metrics(self, metric=None, ts=None) -> None:
        """Snapshot every route's orchestration counters (events /
        triggers / completions / failures) into a metric group, so
        alarms can watch orchestration health the way the reference
        exposes routing-table hook metrics as alarmable signals
        (test_aws_application_alarming_and_metrics.py:757-830).
        Datapoint names are ``<node_id>.<counter>``; the group defaults
        to an auto-created ``routing_table``."""
        from rheoceros_spark.diagnostics import MetricDef

        if metric is None:
            if "routing_table" not in self._metric_defs:
                self.create_metric("routing_table")
            metric_id = "routing_table"
        else:
            metric_id = metric.metric_id if isinstance(metric, MetricDef) else str(metric)
            if metric_id not in self._metric_defs:
                raise ValueError(f"create_metric({metric_id!r}) first")
        if self._routing is None:
            # silent empty snapshots would leave alarms in
            # INSUFFICIENT_DATA with no diagnostic
            raise RuntimeError("emit_route_metrics: activate() the application first")
        rows = [
            (f"{node_id}.{counter}", float(v))
            for node_id, counters in self.get_route_metrics().items()
            for counter, v in counters.items()
        ]
        if rows:
            self._append_metric_rows(metric_id, rows, ts)

    def receive_raw(self, resource_path: str, **kwargs) -> list[str]:
        """Raw event ingestion (§2.9): map a physical resource path
        (e.g. an object-created notification) onto the external signal
        whose descriptor's path format matches, extract typed dimension
        values from the path, and inject the materialized signal
        (reference processor path→signal mapping,
        drivers/processor/aws.py:182-238 → RoutingTable.receive,
        constructs.py:3293-3433).  Completion-marker filenames are
        stripped first, so an ``_SUCCESS`` upload event triggers the
        partition.  Returns triggered output paths; [] if no signal
        claims the path.  No-op while PAUSED."""
        if self.state == ApplicationState.PAUSED:
            return []
        path = resource_path.rstrip("/")
        base = path.rsplit("/", 1)[-1]
        is_marker_event = base in ("_SUCCESS", "manifest")
        is_part_event = base.startswith("part-")
        if is_marker_event or is_part_event:
            path = path.rsplit("/", 1)[0]
        if path.startswith("topic://"):
            body = path[len("topic://"):]
            topic_id, _, rest = body.partition("/")
            sig = self._external.get(topic_id)
            if sig is None or sig.source is not None:
                return []
            values = rest.split("/") if rest else []
            if len(values) != len(sig.spec):
                return []
            return self.process(sig.materialize(values), **kwargs)
        for sig in self._external.values():
            desc = sig.source
            if desc is None:
                continue
            dims = desc.extract_dimensions(path)
            if dims is None:
                continue
            # a part-file upload on a dataset with a declared completion
            # protocol proves data is ARRIVING, not that the partition
            # is complete — only the marker event (or any event on a
            # protocol-less dataset) may seed the completed-range cache
            from rheoceros_spark.sources.datasets import IntegrityProtocol as _IP

            proves = is_marker_event or not (
                is_part_event and desc.integrity != _IP.NONE
            )
            return self.process(
                sig.materialize(list(dims.values())),
                proves_completion=proves,
                **kwargs,
            )
        return []

    def project(
        self,
        id: str,
        input: Signal,
        dim_name: str,
        values: Sequence[Any],
        dim_type: DimensionType = DimensionType.STRING,
        compute_targets: Optional[Union[ComputeDescriptor, Sequence[ComputeDescriptor]]] = None,
    ) -> Signal:
        """Projection: fan one signal out over a new dimension domain
        with literal values (reference application.py:4532-4660).  Each
        input partition event triggers one execution per literal value;
        default compute is identity (explode over a literal domain)."""
        compute = compute_targets or Spark(lambda inputs, ctx: next(iter(inputs.values())))
        out_spec = DimensionSpec(
            [Dimension(d.name, d.type, d.params) for d in input.spec]
            + [Dimension(dim_name, dim_type)]
        )
        return self.create_data(
            id,
            inputs=[input],
            compute_targets=compute,
            output_dimension_spec=out_spec,
            output_dim_links=[(dim_name, list(values))],
        )

    def import_upstream(
        self, upstream: "Application", node_id: str, id: Optional[str] = None
    ) -> Signal:
        """Cross-application signal import (S20/J10, reference
        application.py:3954-4010): the upstream node's output (or
        external) signal participates in this app's graph identically —
        loads read the upstream storage, and events keep the upstream
        resource identity so ``process()`` routes them."""
        sig = upstream[node_id]
        alias = id or node_id
        sig = sig.with_alias(alias)
        self._external[alias] = sig
        return sig.clone()

    def create_data(
        self,
        id: str,
        inputs: Union[Sequence[Signal], dict[str, Signal]],
        compute_targets: Union[ComputeDescriptor, Sequence[ComputeDescriptor]],
        output_dimension_spec: Optional[Union[DimensionSpec, dict]] = None,
        output_dim_links: Optional[Sequence[Union[OutputDimensionLink, tuple]]] = None,
        input_dim_links: Optional[Sequence[Union[SignalDimensionLink, tuple]]] = None,
        dataset_type: Union[str, "DatasetType"] = "REPLACE",
        output_retention: Optional[RouteRetention] = None,
        **hooks: Callable,
    ) -> Signal:
        self._check_not_deleted()
        if id in self._nodes:
            raise ValueError(f"node {id!r} already exists")
        # node_args are captured at the END of this method (only once the
        # definition validated and registered) — recording them up front
        # left a stale invalid entry behind when the create-time link
        # validation below raised, which poisoned dev-state save/replay
        # and let patch_data pass its existence gate for a node that was
        # never created
        # inputs: dict keys are aliases (reference application.py:1325-1360)
        signals: list[Signal] = []
        if isinstance(inputs, dict):
            for alias, sig in inputs.items():
                signals.append(sig.with_alias(alias))
        else:
            signals = [s.clone() for s in inputs]

        link_node = SignalLinkNode(signals)
        for link in input_dim_links or []:
            if isinstance(link, tuple):
                link = SignalDimensionLink(*link)
            link_node.add_link(link)
        link_node.compensate_missing_links()

        # output spec defaults to the first independent input's spec
        if output_dimension_spec is None:
            indep = link_node.independent_signals or signals
            out_spec = DimensionSpec([Dimension(d.name, d.type, d.params) for d in indep[0].spec])
        elif isinstance(output_dimension_spec, dict):
            # same dual-form dict loader as dataset descriptors (nested
            # pretty = chain; flat = insertion-order chain) — a nested
            # dict must not silently drop the inner dimension
            out_spec = chain_spec_from_dict(output_dimension_spec)
        else:
            out_spec = output_dimension_spec

        # output links: explicit, then auto by dimension name
        # (reference application.py:1426-1499)
        links: list[OutputDimensionLink] = []
        for ol in output_dim_links or []:
            if isinstance(ol, tuple):
                if isinstance(ol[0], (tuple, list)):
                    # ((input_alias, input_dim), output_dim[, func]) —
                    # REVERSE link: input ← func(output), the reference's
                    # bidirectional non-trivial linking (needed for
                    # execute-by-output when the forward link is a
                    # non-invertible lambda)
                    (alias, in_dim), out_dim = ol[0], ol[1]
                    func = ol[2] if len(ol) > 2 else EQUALS
                    ol = OutputDimensionLink.to_input(alias, in_dim, out_dim, func)
                elif len(ol) == 2:  # (output_dim, literal)
                    ol = OutputDimensionLink.from_literal(*ol)
                else:  # (output_dim, input_alias, input_dim[, func])
                    out_dim, alias, in_dim = ol[0], ol[1], ol[2]
                    func = ol[3] if len(ol) > 3 else EQUALS
                    ol = OutputDimensionLink.from_input(out_dim, alias, in_dim, func)
            links.append(ol)
        # create-time endpoint validation (reference
        # test_aws_application_advanced_dimension_linking.py:209-260 —
        # "output linking pitfalls": bad declarations must fail HERE,
        # not as cryptic activation/runtime errors)
        out_dim_names = {d.name for d in out_spec}
        in_aliases = {sig.alias: set(sig.dimension_names()) for sig in signals}
        for l in links:
            if not isinstance(l.output_dim, str) or l.output_dim not in out_dim_names:
                raise ValueError(
                    f"output_dim_links: {l.output_dim!r} is not an output dimension "
                    f"(declared: {sorted(out_dim_names)})"
                )
            for alias, dim in l.rhs:
                if alias not in in_aliases:
                    raise ValueError(
                        f"output_dim_links: unknown input alias {alias!r} "
                        f"(inputs: {sorted(in_aliases)})"
                    )
                if dim not in in_aliases[alias]:
                    raise ValueError(
                        f"output_dim_links: input {alias!r} has no dimension {dim!r} "
                        f"(has: {sorted(in_aliases[alias])})"
                    )
        # reverse links derive inputs, not the output dim — they must not
        # suppress the auto-link that materializes the output side
        linked = {l.output_dim for l in links if not l.reverse}
        for dim in out_spec:
            if dim.name in linked:
                continue
            for sig in signals:
                if dim.name in sig.dimension_names():
                    links.append(OutputDimensionLink.from_input(dim.name, sig.alias, dim.name))
                    break

        out_desc = ParquetDataset(
            self.storage_root + f"/internal_data/{id}" + "/{}" * len(out_spec),
            *[Dimension(d.name, d.type, d.params) for d in out_spec],
            integrity=IntegrityProtocol.SUCCESS_FILE,
            dataset_type=DatasetType(dataset_type),
        )
        output_signal = Signal(id, out_desc, out_desc.spec)

        slots = list(compute_targets) if isinstance(compute_targets, (list, tuple)) else [compute_targets]
        node = InternalDataNode(
            id, link_node, output_signal, links, slots, dict(hooks), output_retention
        )
        self._nodes[id] = node
        # captured for update_data/patch_data (reference keeps the dev
        # context's Instruction list for the same purpose,
        # application.py:1301-1322)
        self._node_args[id] = dict(
            inputs=inputs,
            compute_targets=compute_targets,
            output_dimension_spec=output_dimension_spec,
            output_dim_links=output_dim_links,
            input_dim_links=input_dim_links,
            dataset_type=dataset_type,
            output_retention=output_retention,
            hooks=hooks,
        )
        self._routing = None  # graph changed; rebuild routing lazily
        return output_signal.clone()

    @staticmethod
    def _spec_signature(spec) -> tuple:
        """The output's *signalling properties*: ordered (name, type,
        params) triples — params matter too (a DATETIME format change
        re-renders every partition path, which breaks dependents just
        as surely as a rename; callable params compare by repr)."""
        return tuple(
            (d.name, d.type, tuple(sorted((k, repr(v)) for k, v in d.params.items())))
            for d in spec.dimensions
        )

    def update_data(
        self, id: str, *, enforce_referential_integrity: bool = True, **kwargs
    ) -> Signal:
        """Replace an existing node's definition wholesale (reference
        application.py:1544-1667): same signature as ``create_data``;
        the node keeps its id and storage location, downstream nodes
        that reference its output signal by alias keep working, and the
        routing table is rebuilt lazily on the next event.

        When the update CHANGES the output's signalling properties
        (dimension names/types) and other nodes consume this output,
        the dependents' stored input references go stale — with
        ``enforce_referential_integrity`` (the default, mirroring the
        reference's create_and_query suite) that raises ``ValueError``
        naming the dependents.  Pass ``False`` to force the change;
        ``activate()`` then refuses (``TypeError``) until every
        dependent is re-patched with the new reference."""
        self._check_not_deleted()
        if id not in self._nodes:
            raise ValueError(f"node {id!r} does not exist; use create_data")
        old_node = self._nodes.pop(id)
        old_args = self._node_args.pop(id)
        try:
            out = self.create_data(id, **kwargs)
        except Exception:
            # failed rebuild must not leave the app without the node: put
            # the previous (working) definition back — with create-time
            # link validation a typo'd patch_data would otherwise
            # permanently delete the node
            self._nodes[id] = old_node
            self._node_args[id] = old_args
            raise
        if enforce_referential_integrity:
            old_sig = self._spec_signature(old_node.output_signal.spec)
            new_sig = self._spec_signature(self._nodes[id].output_signal.spec)
            dependents = [n.id for n in self._descendants(id)]
            if old_sig != new_sig and dependents:
                self._nodes[id] = old_node
                self._node_args[id] = old_args
                raise ValueError(
                    f"update_data({id!r}) changes the output dimension spec "
                    f"{list(old_sig)} -> {list(new_sig)} while {dependents} "
                    "consume it; update the dependents too (pass "
                    "enforce_referential_integrity=False to force, then "
                    "re-patch each dependent before activate())"
                )
        return out

    def patch_data(
        self, id: str, *, enforce_referential_integrity: bool = True, **kwargs
    ) -> Signal:
        """Partial update (reference application.py:1668-1744): only the
        given ``create_data`` keyword arguments are replaced; everything
        else is retained from the node's current definition."""
        self._check_not_deleted()
        if id not in self._node_args:
            raise ValueError(f"node {id!r} does not exist; use create_data")
        merged = dict(self._node_args[id])
        hooks = dict(merged.pop("hooks", {}) or {})
        hooks.update(kwargs.pop("hooks", {}) or {})
        unknown = set(kwargs) - set(merged)
        if unknown:
            raise TypeError(f"patch_data: unknown create_data arguments {sorted(unknown)}")
        merged.update(kwargs)
        return self.update_data(
            id,
            enforce_referential_integrity=enforce_referential_integrity,
            **merged,
            **hooks,
        )

    def validate(self) -> list[str]:
        """Dev-context integrity check without activation (reference
        application.py:3665-3809 runs the same class of checks during
        activate): returns a list of human-readable issues — empty
        means the graph is activation-ready.

        Checks per node: at least one compute slot; every output
        dimension resolvable from a literal or an input link; every
        link referencing a declared input alias/dimension; reference
        inputs not the only inputs (references never seed executions,
        so such a node could never trigger)."""
        issues: list[str] = []
        for node_id, node in self._nodes.items():
            if not node.slots:
                issues.append(f"{node_id}: no compute slots")
            aliases = {s.alias: s for s in node.link_node.signals}
            linked = set()
            for link in node.output_links:
                if not link.reverse:
                    linked.add(link.output_dim)
                if link.literal is not None:
                    continue
                for alias, dim in link.rhs:
                    sig = aliases.get(alias)
                    if sig is None:
                        issues.append(
                            f"{node_id}: output link {link.output_dim!r} references "
                            f"unknown input alias {alias!r}"
                        )
                    elif dim not in sig.dimension_names():
                        issues.append(
                            f"{node_id}: output link {link.output_dim!r} references "
                            f"unknown dimension {alias}.{dim}"
                        )
            # no-input (ground-tethered) nodes take output dims from the
            # material view at execute()/ground() time — nothing to link
            if node.link_node.signals:
                for dim in node.output_signal.dimension_names():
                    if dim not in linked:
                        issues.append(
                            f"{node_id}: output dimension {dim!r} has no link or literal — "
                            "execute()/process() cannot materialize it"
                        )
            # ref AND nearest inputs are both dependent — neither seeds an
            # execution (reference test_aws_application_advanced_input_modes
            # .py:854 rejects nearest-only nodes for the same reason).  The
            # earlier check read a nonexistent ``reference`` attribute
            # (the field is ``is_reference``) and so never fired.
            non_dependent = [
                s
                for s in node.link_node.signals
                if not (s.is_reference or s.nearest_in_range)
            ]
            if node.link_node.signals and not non_dependent:
                issues.append(
                    f"{node_id}: every input is dependent (ref/nearest) — dependent "
                    "inputs never seed executions, so this node can only be run via "
                    "execute()/ground(), never by events"
                )
        return issues

    def execute_batch(
        self,
        targets: Sequence[Signal],
        recursive: bool = False,
        update_dependency_tree: bool = False,
    ) -> list[str]:
        """Execute several material views concurrently (reference
        application.py:2888-2980): every target is launched async, then
        polled to completion; raises the first failure after all have
        settled.  Returns materialized paths in input order."""
        paths = [
            self.execute(
                t, wait=False, recursive=recursive,
                update_dependency_tree=update_dependency_tree,
            )
            for t in targets
        ]
        errors: list[str] = []
        for t in targets:
            path, _ = self.poll(t, wait=True)
            if path is None:
                recs = [r for r in self._records if r.node_id == t.alias]
                detail = f"{recs[-1].state.value}: {recs[-1].error}" if recs else "no record"
                errors.append(f"{t.alias} ({detail})")
        if errors:
            raise RuntimeError("execute_batch failures: " + "; ".join(errors))
        return paths

    def save_dev_state(self) -> str:
        """Persist the dev context — external signals + node definitions
        — to the app's storage (reference application.py:168-180 pickles
        the dev context the same way via core/serialization.py).  Slots
        holding module-level functions / SQL strings round-trip; slots
        built on lambdas or closures raise here, exactly as the
        reference's pickle-based serializer would."""
        import pickle

        self._check_not_deleted()
        path = os.path.join(self.storage_root, "dev_state.pkl")
        os.makedirs(self.storage_root, exist_ok=True)
        state = {"external": self._external, "node_args": self._node_args}
        with open(path, "wb") as f:
            pickle.dump(state, f)
        return path

    def load_dev_state(self) -> bool:
        """Restore a previously saved dev context (reference
        application.py:173-180): rebuilds every node through
        ``create_data`` so validation and link inference re-run.
        Returns False when no saved state exists."""
        import pickle

        self._check_not_deleted()
        path = os.path.join(self.storage_root, "dev_state.pkl")
        if not os.path.exists(path):
            return False
        with open(path, "rb") as f:
            state = pickle.load(f)
        self._external = dict(state["external"])
        self._nodes.clear()
        self._node_args.clear()
        self._routing = None
        for node_id, args in state["node_args"].items():
            kwargs = dict(args)
            hooks = kwargs.pop("hooks", {}) or {}
            self.create_data(node_id, **kwargs, **hooks)
        return True

    @classmethod
    def attach(
        cls, id: str, storage_root: Optional[str] = None, spark: Optional[SparkSession] = None
    ) -> "Application":
        """Reconstruct an application from its persisted dev state
        (reference application.py:164-167 — 'attach' to an existing
        app): a new object with the same id/storage picks up where
        ``save_dev_state`` left off."""
        app = cls(id, storage_root=storage_root, spark=spark)
        app.load_dev_state()
        return app

    def ground(self, view: Signal, is_async: bool = True) -> list[str]:
        """Feed the ground signal for a dangling (no-input) node
        (reference application.py:1844-1876): satisfies the node's own
        trigger condition and launches its compute with the output
        dimensions taken from the material ``view`` — unlike
        ``process(view)``, which injects the view to satisfy nodes
        that *depend* on it.  NOOP (returns ``[]``) when the node has
        input dependencies, per the reference contract; ``is_async``
        mirrors the reference's fire-and-forget default (use
        ``poll(view)`` to await)."""
        self._check_not_deleted()
        node = self._nodes.get(view.alias)
        if node is None or node.link_node.signals:
            return []
        if is_async:
            return [self.execute(view, wait=False)]
        return [self.execute(view, wait=True)]

    def get_active_routes(self) -> list[dict[str, Any]]:
        """Routing-table introspection (reference
        application.py:1995-2050): one row per route with pending-node
        and active-record counts."""
        if self._routing is None:
            return []
        active = [r for r in self._records if r.state == ComputeRecordState.PROCESSING]
        return [
            {
                "node_id": node_id,
                "pending_nodes": len(route.pending_nodes),
                "active_records": sum(1 for r in active if r.node_id == node_id),
            }
            for node_id, route in self._routing.routes.items()
        ]

    def get_route_metrics(self, route: Union[str, Signal, None] = None) -> dict[str, dict[str, int]]:
        """Per-route runtime counters — events offered, trigger
        materializations, completed and failed executions (reference
        application.py:429-531 surfaces the same series from the
        platform's metric store; in-process they are plain counts).
        Pass a node id / output signal to select one route."""
        if self._routing is None:
            return {}
        key = route.alias if isinstance(route, Signal) else route
        return {
            node_id: dict(r.metrics)
            for node_id, r in self._routing.routes.items()
            if key is None or node_id == key
        }

    def apply_retention(
        self, node_id: Optional[str] = None, force: bool = False
    ) -> dict[str, list[str]]:
        """Sweep materialized output partitions against each node's
        :class:`RouteRetention` condition and DELETE the rejected ones
        (reference ``check_route_retention`` scan + the
        RETENTION_DELETION_REQUEST feedback loop,
        ``constructs.py:3710-3775``, collapsed to an in-process sweep).

        Returns {node_id: [deleted partition paths]}.  Partitions with
        an in-flight compute record are never deleted (reference skips
        ``has_active_records_on`` targets).  Local-FS storage roots
        only — matching the engine's managed-storage layout."""
        out: dict[str, list[str]] = {}
        targets = [self._nodes[node_id]] if node_id else list(self._nodes.values())
        now = time.monotonic()
        for node in targets:
            r = node.output_retention
            if r is None or r.condition is None:
                continue
            if r.refresh_period_in_secs is not None and not force:
                last = self._retention_checked.get(node.id)
                if last is not None and now - last < r.refresh_period_in_secs:
                    continue
            self._retention_checked[node.id] = now
            if r.refresh_hook:
                r.refresh_hook(node.id)
            desc = node.output_signal.source
            pattern = desc.path_format.replace("{}", "*")
            # paths with an in-flight record, compared at the path level
            # so raw-vs-string dimension value types can't mismatch
            active_paths = set()
            for rec in self._records:
                if rec.node_id == node.id and rec.state == ComputeRecordState.PROCESSING:
                    f = DimensionFilter.load_raw(
                        node.output_signal.spec,
                        [rec.out_values[d] for d in node.output_signal.dimension_names()],
                    ).finalize()
                    active_paths.add(desc.materialize_paths(f)[0])
            deleted: list[str] = []
            for path in sorted(_glob.glob(pattern)):
                if not os.path.isdir(path):
                    continue
                vals = desc.extract_dimensions(path)
                if vals is None:
                    continue
                if path in active_paths:
                    continue
                if not r.condition(vals):
                    shutil.rmtree(path, ignore_errors=True)
                    deleted.append(path)
                    if r.rip_hook:
                        r.rip_hook(path, vals)
            if deleted:
                out[node.id] = deleted
                # deleted partitions must leave the routing layer's
                # completed-path cache, else range checks on downstream
                # routes keep treating them as existing and trigger
                # executions that crash on the missing inputs
                if self._routing is not None:
                    self._routing.completed_paths.difference_update(deleted)
        return out

    def __getitem__(self, node_id: str) -> Signal:
        if node_id in self._nodes:
            return self._nodes[node_id].output_signal.clone()
        if node_id in self._external:
            return self._external[node_id].clone()
        raise KeyError(node_id)

    # ------------------------------------------------------------------
    # execution
    # ------------------------------------------------------------------
    def execute(
        self,
        target: Signal,
        material_inputs: Optional[Sequence[Signal]] = None,
        wait: bool = True,
        recursive: bool = False,
        update_dependency_tree: bool = False,
        dependency_tree_scan_end=None,
    ) -> str:
        """Run one partition-grain batch for ``target`` (an internal
        node view with material dimension values).  Returns the
        materialized output path.

        ``material_inputs`` optionally supplies explicit input views
        (reference execute(), application.py:2981-3260 — the
        with-material-inputs path, execution_control suite :761-903):
        each is matched to a declared input by alias (or source
        resource), must be material, and must actually map to ``target``
        through the output link matrix — an input tuple that could never
        trigger this output partition is refused rather than silently
        computing mismatched data.  Unsupplied inputs are back-derived
        as usual."""
        node = self._nodes.get(target.alias)
        if node is None:
            raise KeyError(f"{target.alias!r} is not an internal data node")
        # validate BEFORE the root runs: a bad scan bound must not leave
        # the dependency tree half-refreshed mid-propagation
        dependency_tree_scan_end = _coerce_scan_end(dependency_tree_scan_end)

        out_filter = target.filter.finalize()
        if not out_filter.is_material:
            raise ValueError(
                f"execute target must be material; got {target.filter!r} "
                "(index the view, e.g. node['NA']['2024-01-01'])"
            )
        out_values = dict(zip(node.output_signal.dimension_names(), out_filter.tip() or ()))

        provided: Optional[dict[str, Signal]] = None
        if material_inputs:
            provided = {}
            by_alias = {s.alias: s for s in node.link_node.signals}
            for given in material_inputs:
                alias = given.alias if given.alias in by_alias else None
                if alias is None:
                    matches = [
                        s.alias
                        for s in node.link_node.signals
                        if s.resource_id == given.resource_id
                    ]
                    if len(matches) != 1:
                        raise ValueError(
                            f"execute: material input {given.alias!r} does not "
                            f"match exactly one declared input of {node.id!r} "
                            f"(candidates: {matches})"
                        )
                    alias = matches[0]
                fin = given.filter.finalize()
                if not fin.is_material:
                    raise ValueError(
                        f"execute: material input {alias!r} is not material: {given.filter!r}"
                    )
                m = by_alias[alias].clone()
                m.filter = fin
                provided[alias] = m
            # trigger feasibility (reference validates on a cloned
            # RuntimeLinkNode, application.py:3141-3177): the supplied
            # tips must map to THIS output partition
            seeds = {
                alias: dict(zip([d.name for d in sig.spec], sig.filter.tip() or ()))
                for alias, sig in provided.items()
            }
            known = node.link_node.propagate(seeds)
            for link in node.output_links:
                if link.literal is not None:
                    continue
                if link.reverse:
                    # input ← f(output): verify a PROVIDED input tip
                    # matches what this output would back-derive —
                    # reverse links otherwise bypass feasibility
                    alias, dim = link.rhs[0]
                    given_val = known.get(alias, {}).get(dim)
                    want_val = out_values.get(link.output_dim)
                    if given_val is None or alias not in provided or want_val is None:
                        continue
                    expect = (link.func or EQUALS)(want_val)
                    if str(expect) != str(given_val):
                        raise ValueError(
                            f"execute: material input {alias}.{dim}={given_val!r} "
                            f"does not match the target's back-derived value "
                            f"{expect!r} — these inputs could never trigger this "
                            "partition"
                        )
                    continue
                if not all(r[0] in known and r[1] in known[r[0]] for r in link.rhs):
                    continue
                mapped = (link.func or EQUALS)(*[known[r[0]][r[1]] for r in link.rhs])
                want = out_values.get(link.output_dim)
                if want is not None and str(mapped) != str(want):
                    raise ValueError(
                        f"execute: material inputs map output dim "
                        f"{link.output_dim!r} to {mapped!r}, but the target is "
                        f"{want!r} — these inputs could never trigger this partition"
                    )

        if not wait:
            # async execution (reference execute/poll split,
            # application.py:2051-2267): pre-register the compute record
            # so kill()/has_active_record()/poll() observe the execution
            # from the moment this call returns, then run on a daemon
            # thread.  Failures are captured on the record and surfaced
            # by poll(), mirroring the reference's poll-side reporting.
            self._kill_requested.discard(self._exec_key(node.id, out_values))
            record = ComputeRecord(
                node_id=node.id,
                out_values=dict(out_values),
                state=ComputeRecordState.PROCESSING,
                exec_id=f"{node.id}-{uuid.uuid4().hex[:12]}",
            )
            self._records.append(record)

            def _runner():
                try:
                    self._run_node(node, out_values, recursive=recursive, record=record, material_inputs=provided)
                    if update_dependency_tree:
                        self._propagate_dependency_tree(
                            node, out_values, scan_end=dependency_tree_scan_end
                        )
                except Exception:
                    pass  # state + error already captured on the record

            t = threading.Thread(target=_runner, daemon=True, name=record.exec_id)
            self._async_threads[record.exec_id] = t
            t.start()
            return node.output_signal.source.materialize_paths(out_filter)[0]

        path = self._run_node(node, out_values, recursive=recursive, material_inputs=provided)
        if update_dependency_tree:
            self._propagate_dependency_tree(node, out_values, scan_end=dependency_tree_scan_end)
        return path

    def _run_node(
        self,
        node: InternalDataNode,
        out_values: dict[str, Any],
        recursive: bool,
        record: Optional[ComputeRecord] = None,
        material_inputs: Optional[dict[str, Signal]] = None,
    ) -> str:
        out_filter = DimensionFilter.load_raw(
            node.output_signal.spec, [out_values[d] for d in node.output_signal.dimension_names()]
        )
        # retention gate (reference constructs.py:3476): an execution
        # targeting a partition the retention condition rejects is
        # skipped BEFORE any work — before input materialization and
        # recursive backfill, so expired inputs can't crash the skip and
        # upstream compute is never run for a rejected target.  Raw
        # (typed) dimension values, matching check_output_retention's
        # raw_value=True.
        if node.output_retention is not None and node.output_retention.condition is not None:
            raw_vals = dict(
                zip(node.output_signal.dimension_names(), out_filter.values()[0] if len(out_filter) else ())
            )
            if not node.output_retention.condition(raw_vals):
                skipped_hook = node.hooks.get("on_exec_skipped")
                if skipped_hook:
                    skipped_hook(node, dict(out_values))
                if record is not None:
                    # async pre-registered record must not stay PROCESSING
                    # forever: poll() spins on has_active_record and the
                    # retention sweep treats PROCESSING as in-flight
                    record.state = ComputeRecordState.COMPLETED
                    record.completed_at = time.time()
                    record.detail = "skipped: output_retention rejected target"
                return node.output_signal.source.materialize_paths(out_filter)[0]

        materialized = self._materialize_inputs(node, out_values, provided=material_inputs)

        if recursive:
            # backfill missing internal ancestors first
            # (reference application.py:2981-3060, recursive execute)
            for sig in materialized:
                up = self._nodes.get(sig.alias)
                if up is None:
                    continue
                for branch in sig.filter.finalize().values():
                    up_sig = up.output_signal.clone()
                    up_sig.filter = DimensionFilter.load_raw(up_sig.spec, list(branch))
                    p = up.output_signal.source.materialize_paths(up_sig.filter.finalize())[0]
                    if not partition_ready(self.spark, up.output_signal.source, p):
                        up_values = dict(zip(up.output_signal.dimension_names(), branch))
                        self._run_node(up, up_values, recursive=True)

        # source-less signals (timers) contribute dimension values only
        inputs_df = {
            sig.alias: load_signal(self.spark, sig)
            for sig in materialized
            if sig.source is not None
        }
        # {dim} parametrization sees the *formatted* value (e.g. the
        # dim's declared strftime), matching path rendering
        formatted = dict(zip(node.output_signal.dimension_names(), out_filter.formatted_values()[0] if len(out_filter) else ()))
        ctx = ComputeContext(self.spark, dimensions=formatted, output_alias=node.id)

        hook = node.hooks.get("on_exec_begin")
        if hook:
            hook(node, dict(out_values))
        started = time.monotonic()

        # compute-record lifecycle (reference RoutingTable active/inactive
        # compute records, constructs.py:2698-2841): one record per
        # execution, observable via compute_records()/has_active_record()
        key = self._exec_key(node.id, out_values)
        if record is None:
            self._kill_requested.discard(key)  # stale kill doesn't poison a new run
            record = ComputeRecord(
                node_id=node.id,
                out_values=dict(out_values),
                state=ComputeRecordState.PROCESSING,
                exec_id=f"{node.id}-{uuid.uuid4().hex[:12]}",
            )
            self._records.append(record)
        record.materialized_inputs = [m.clone() for m in materialized]
        # job group → Application.kill can interrupt in-flight Spark jobs
        self.spark.sparkContext.setJobGroup(record.exec_id, f"rheoceros {node.id} {out_values}", True)
        # resource hints (shuffle partitions, --conf pairs) apply for THIS
        # execution only — snapshot now, restore after the terminal write
        # action (reads are lazy: the conf at action time is what counts)
        conf_snapshot = snapshot_confs(self.spark, node.slots)

        out_df: Optional[DataFrame] = None
        try:
            for slot in node.slots:
                attempt = 0
                while True:
                    self._raise_if_killed(key)
                    try:
                        if isinstance(slot, InlinedCompute):
                            # inlined slots see the *formatted* dim values, same
                            # rendering as paths and {dim} SQL parametrization
                            slot.run_inlined({s.alias: s for s in materialized}, node.output_signal, dict(formatted))
                        else:
                            out_df = slot.run(inputs_df, ctx)
                        break
                    except ComputeKilledError:
                        raise
                    except Exception as e:
                        if key in self._kill_requested:
                            # the failure is the kill interruption surfacing
                            # (cancelJobGroup aborts the in-flight action)
                            raise ComputeKilledError(str(e)) from e
                        attempt += 1
                        record.attempts = max(record.attempts, attempt)
                        # retry contract (reference constructs.py:4400 +
                        # application.py:467): retry_count forces retries on
                        # ANY failure; TRANSIENT errors additionally retry up
                        # to the app-level bound (the reference re-queues them
                        # every orchestration cycle, unbounded)
                        allowed = slot.max_retry_count + (
                            self.transient_retry_limit
                            if isinstance(e, ComputeRetryableInternalError)
                            else 0
                        )
                        if attempt > allowed:
                            raise
                        # RouteExecutionHook.on_compute_retry parity
                        # (reference execution-hook suite,
                        # test_aws_application_execution_hooks.py:440-546:
                        # fires per granted retry; a retry_count=0 slot
                        # fails straight to on_failure without it)
                        retry_hook = node.hooks.get("on_compute_retry")
                        if retry_hook:
                            retry_hook(node, dict(out_values), slot, attempt, e)
                hook = node.hooks.get("on_compute_success")
                if hook:
                    hook(node, dict(out_values), slot)

            # execution checkpoints: [(elapsed_secs, callback), ...] fire for
            # every threshold the (synchronous) execution crossed (reference
            # RouteExecutionHook checkpoints, routing_runtime_constructs.py:728-1160
            # — the reference fires them from poll; in-process the batch is
            # synchronous so they fire on completion)
            elapsed = time.monotonic() - started
            for threshold, cb in node.hooks.get("checkpoints") or []:
                if threshold <= elapsed:
                    cb(node, dict(out_values), threshold, elapsed)
            if out_df is None:
                raise ValueError(f"node {node.id!r} has no batch compute slot producing an output")

            out_desc = node.output_signal.source
            path = out_desc.materialize_paths(out_filter)[0]
            self._raise_if_killed(key)
            write_dataset(
                out_df,
                path,
                data_format=out_desc.data_format,
                # APPEND datasets accumulate into the partition (reference
                # DatasetType, signal_source.py:550-553); REPLACE overwrites
                mode="append" if out_desc.dataset_type == DatasetType.APPEND else "overwrite",
            )
        except ComputeKilledError as e:
            record.state = ComputeRecordState.KILLED
            record.completed_at = time.time()
            record.error = str(e)
            hook = node.hooks.get("on_failure")
            if hook:
                hook(node, dict(out_values), e)
            raise
        except Exception as e:
            if key in self._kill_requested:
                # kill interrupted the terminal write action — it
                # surfaces as a job-cancelled error, not our own type
                record.state = ComputeRecordState.KILLED
                record.completed_at = time.time()
                record.error = str(e)
                hook = node.hooks.get("on_failure")
                if hook:
                    hook(node, dict(out_values), e)
                raise ComputeKilledError(str(e)) from e
            # RouteExecutionHook.on_compute_failure / on_failure parity
            # (reference routing_runtime_constructs.py:856-1160)
            record.state = ComputeRecordState.FAILED
            record.completed_at = time.time()
            record.error = str(e)
            hook = node.hooks.get("on_failure")
            if hook:
                hook(node, dict(out_values), e)
            raise
        finally:
            restore_confs(self.spark, conf_snapshot)
            # the whole group (id, description, interruptOnCancel) — the
            # next execution's first job must not carry this one's label
            self.spark.sparkContext._jsc.clearJobGroup()
            self._kill_requested.discard(key)

        record.state = ComputeRecordState.COMPLETED
        record.completed_at = time.time()
        record.path = path
        hook = node.hooks.get("on_success")
        if hook:
            hook(node, dict(out_values), path)
        return path

    def _materialize_inputs(
        self,
        node: InternalDataNode,
        out_values: dict[str, Any],
        provided: Optional[dict[str, Signal]] = None,
    ) -> list[Signal]:
        """Back-derive material inputs from output values via the output
        link matrix, then propagate across the input link matrix
        (reference get_materialized_inputs_for_output, signal.py:1105).

        ``provided`` (alias → material signal) overrides derivation for
        those inputs — the reference's ``execute(target,
        material_inputs)`` path: user-supplied views are used verbatim
        (their full range filters, not just tips), and their tip values
        seed the link propagation so the remaining inputs derive
        consistently."""
        provided = provided or {}
        seeds: dict[str, dict[str, Any]] = {}
        for alias, psig in provided.items():
            tip = psig.filter.finalize().tip() or ()
            for d, v in zip(psig.spec, tip):
                seeds.setdefault(alias, {})[d.name] = v
        for link in node.output_links:
            if link.output_dim not in out_values:
                continue
            if link.literal is not None:
                continue
            if link.reverse:
                # declared inverse: input ← func(output) — covers forward
                # lambdas that equality inversion below cannot.
                # setdefault, NOT assignment: an explicitly provided
                # material input's tip must win over the back-derived
                # value, or the provided view and its link-propagated
                # siblings would silently target different partitions
                alias, dim = link.rhs[0]
                seeds.setdefault(alias, {}).setdefault(
                    dim, (link.func or EQUALS)(out_values[link.output_dim])
                )
            elif link.func is EQUALS and len(link.rhs) == 1:
                alias, dim = link.rhs[0]
                seeds.setdefault(alias, {}).setdefault(dim, out_values[link.output_dim])
        known = node.link_node.propagate(seeds)

        out: list[Signal] = []
        for sig in node.link_node.signals:
            if sig.alias in provided:
                m = provided[sig.alias].clone()
                m.filter = m.filter.finalize()
                out.append(m)
                continue
            values = [known.get(sig.alias, {}).get(d.name, "*") for d in sig.spec]
            m = sig.materialize(values)
            if not m.domain_is_material:
                raise ValueError(
                    f"cannot back-derive material values for input {sig.alias!r} "
                    f"from output {out_values!r}; add input_dim_links/output_dim_links"
                )
            out.append(m)
        return out

    @staticmethod
    def _upstream_node_ids(node: InternalDataNode) -> set[str]:
        """Producer node ids this node consumes.  Aliases alone are NOT
        enough: dict-keyed inputs rename the alias (``{"b_today": b}``),
        and an alias-only walk would miss the edge entirely — the
        ``resource_id`` always carries the producer's node id."""
        ids: set[str] = set()
        for s in node.link_node.signals:
            ids.add(s.alias)
            rid = getattr(s, "resource_id", None)
            if rid:
                ids.add(rid)
        return ids

    def _descendants(self, node_id: str) -> list[InternalDataNode]:
        # iterative BFS with a visited set: the naive recursion
        # recomputed shared subtrees once per parent — exponential on
        # stacked diamonds — and dependency-tree execute walks this on
        # every call
        out: list[InternalDataNode] = []
        seen: set[str] = set()
        frontier = [node_id]
        while frontier:
            nid = frontier.pop(0)
            for node in self._nodes.values():
                if node.id not in seen and nid in self._upstream_node_ids(node):
                    seen.add(node.id)
                    out.append(node)
                    frontier.append(node.id)
        return out

    def _descendants_topo(self, root_id: str) -> list[InternalDataNode]:
        """Descendants in TOPOLOGICAL order (Kahn over the descendant
        subgraph).  The raw DFS order runs a diamond's join node before
        its second parent — it would read a stale or missing partition.
        Both the in-degree count and the decrement use
        ``_upstream_node_ids`` (aliases + producer resource ids): mixing
        the two (decrementing on aliases only) deadlocks any node
        consumed solely under a renamed alias — it never reaches
        in-degree 0 and is silently dropped."""
        desc = {n.id: n for n in self._descendants(root_id)}
        indeg = {
            nid: sum(1 for up in self._upstream_node_ids(n) if up in desc)
            for nid, n in desc.items()
        }
        ready = sorted(nid for nid, d in indeg.items() if d == 0)
        out: list[InternalDataNode] = []
        while ready:
            nid = ready.pop(0)
            out.append(desc[nid])
            for mid, m in desc.items():
                if nid in self._upstream_node_ids(m):
                    indeg[mid] -= 1
                    if indeg[mid] == 0:
                        ready.append(mid)
        return out

    def _propagate_dependency_tree(
        self,
        node: InternalDataNode,
        out_values: dict[str, Any],
        scan_end=None,
    ) -> None:
        """Run every descendant of ``node`` for the partitions implied
        by this execution (reference execute(update_dependency_tree=True),
        dependency-tree suite).

        Each descendant derives its partition values from ITS OWN just-
        materialized parents — not from the root — so grandchildren and
        diamond joins propagate (the flat root-only derivation silently
        skipped any descendant that doesn't input the root directly).
        The walk is topological, and a node reachable through multiple
        parents (diamond) runs ONCE per derived partition, after all its
        in-tree parents."""
        done: dict[str, list[dict[str, Any]]] = {node.id: [dict(out_values)]}
        for child in self._descendants_topo(node.id):
            child_vals: list[dict[str, Any]] = []
            # seed the link matrix by the child's OWN alias for each
            # input signal produced by an already-propagated parent —
            # a renamed alias ({"b_today": b}) seeds as "b_today", and a
            # parent consumed under several aliases derives once per
            # alias with equal values deduped (reference dtree
            # ranged-access-same-input: no redundant executions)
            for sig in child.link_node.signals:
                rid = getattr(sig, "resource_id", None)
                parent_id = rid if rid in done else (sig.alias if sig.alias in done else None)
                if parent_id is None:
                    continue
                for pv in done[parent_id]:
                    for cv in self._derive_child_values(child, sig.alias, pv):
                        if cv not in child_vals:
                            child_vals.append(cv)
            # PAST executions that transitively consumed an updated
            # partition through a RANGE also refresh (reference
            # dtree update_past_executions: C over b[:-7] re-runs its
            # three existing weekly partitions when one covered B day
            # changes): scan completed records' recorded materialized
            # inputs for any just-refreshed parent partition.  The
            # forward link derivation alone only reaches the tip-linked
            # partition.
            for cv in self._past_consumer_values(child, done, scan_end):
                if cv not in child_vals:
                    child_vals.append(cv)
            for cv in child_vals:
                self._run_node(child, cv, recursive=False)
            if child_vals:
                done[child.id] = child_vals

    def _past_consumer_values(
        self,
        child: InternalDataNode,
        done: dict[str, list[dict[str, Any]]],
        scan_end=None,
    ) -> list[dict[str, Any]]:
        """Output values of ``child``'s COMPLETED past executions whose
        recorded materialized inputs contain any refreshed parent
        partition in ``done`` (matched by producer id + stringified
        branch values over the input's finalized — range-expanded —
        filter)."""
        refreshed: dict[str, set[tuple]] = {}
        for pid, vals in done.items():
            refreshed[pid] = {tuple(str(v) for v in pv.values()) for pv in vals}
        out: list[dict[str, Any]] = []
        for rec in list(self._records):
            if rec.node_id != child.id or rec.state != ComputeRecordState.COMPLETED:
                continue
            if (
                scan_end is not None
                and rec.completed_at is not None
                and rec.completed_at > scan_end
            ):
                # reference execute(dependency_tree_scan_end=...): the
                # past-execution search interval ends here — later
                # completions are out of scope
                continue
            hit = False
            for m in rec.materialized_inputs:
                rid = getattr(m, "resource_id", None) or m.alias
                targets = refreshed.get(rid) or refreshed.get(m.alias)
                if not targets:
                    continue
                try:
                    branches = m.filter.finalize().values()
                except Exception:
                    continue
                if any(tuple(str(v) for v in b) in targets for b in branches):
                    hit = True
                    break
            if hit and dict(rec.out_values) not in out:
                out.append(dict(rec.out_values))
        return out

    def _derive_child_values(
        self, child: InternalDataNode, parent_id: str, parent_values: dict[str, Any]
    ) -> list[dict[str, Any]]:
        known = child.link_node.propagate({parent_id: dict(parent_values)})
        out_values = {}
        for link in child.output_links:
            if link.reverse:
                continue
            if link.literal is not None:
                out_values[link.output_dim] = link.literal
            elif all(r[0] in known and r[1] in known[r[0]] for r in link.rhs):
                out_values[link.output_dim] = (link.func or EQUALS)(*[known[r[0]][r[1]] for r in link.rhs])
        if set(out_values) != set(child.output_signal.dimension_names()):
            return []
        return expand_literal_lists(out_values)

    # ------------------------------------------------------------------
    # event-driven mode
    # ------------------------------------------------------------------
    def activate(self):
        """Register all nodes into the in-process routing table
        (reference activate(), application.py:201-294).

        Refuses (``TypeError``) when any node's stored input reference
        no longer matches its internal producer's current output spec —
        the half-updated-topology state a forced
        ``update_data(..., enforce_referential_integrity=False)``
        leaves behind until every dependent is re-patched (reference
        create_and_query referential-integrity scenario)."""
        from rheoceros_spark.streaming.routing import RoutingTable

        self._check_not_deleted()
        stale = []
        for node in self._nodes.values():
            for sig in node.link_node.signals:
                producer = self._nodes.get(sig.resource_id)
                if producer is None or producer.id == node.id:
                    continue
                if self._spec_signature(sig.spec) != self._spec_signature(
                    producer.output_signal.spec
                ):
                    stale.append(
                        f"{node.id}: input {sig.alias!r} holds spec "
                        f"{list(self._spec_signature(sig.spec))} but producer "
                        f"{producer.id!r} now outputs "
                        f"{list(self._spec_signature(producer.output_signal.spec))}"
                    )
        if stale:
            raise TypeError(
                "activate(): stale input references after a forced node "
                "update — re-patch the dependents: " + "; ".join(stale)
            )
        if self._routing is None:
            self._routing = RoutingTable(self)
        if self.state == ApplicationState.INACTIVE:
            self.state = ApplicationState.ACTIVE
        return self._routing

    def pause(self) -> None:
        """Suspend event ingestion (reference application.py:383-391):
        ``process``/``receive_raw`` become no-ops until ``resume``;
        dev-side ``execute`` stays available, like the reference's
        processor-only pause."""
        if self.state == ApplicationState.ACTIVE:
            self.state = ApplicationState.PAUSED
        else:
            import logging

            logging.getLogger(__name__).warning(
                "cannot pause: application state is %s (needs ACTIVE)", self.state.value
            )

    def resume(self) -> None:
        """Re-enable event ingestion (reference application.py:392-400)."""
        if self.state == ApplicationState.PAUSED:
            self.state = ApplicationState.ACTIVE
        else:
            import logging

            logging.getLogger(__name__).warning(
                "cannot resume: application state is %s (needs PAUSED)", self.state.value
            )

    def terminate(self, wait_for_active_routes: bool = False) -> None:
        """Graceful inverse of activation (reference
        application.py:295-356): nullify the active state — routing
        table, pending nodes, compute records, async executions — while
        keeping the dev context (nodes/externals) AND all materialized
        data intact.  Re-calling ``activate()`` (or any event entry
        point) rebuilds the same active state; repeated calls are safe.

        ``wait_for_active_routes`` drains in-flight async executions
        first (the reference pauses, waits for steady state, then
        tears down)."""
        if self.state not in (ApplicationState.ACTIVE, ApplicationState.PAUSED):
            # INACTIVE terminate is a no-op by contract (idempotent)
            if self.state == ApplicationState.DELETED:
                raise RuntimeError("cannot terminate a DELETED application")
        if wait_for_active_routes:
            for t in list(self._async_threads.values()):
                t.join()
        self._routing = None
        self._records.clear()
        self._kill_requested.clear()
        self._async_threads.clear()
        if self.state != ApplicationState.DELETED:
            self.state = ApplicationState.INACTIVE

    def delete(self) -> None:
        """Remove the application's internal storage (reference
        application.py:357-382 — separate from ``terminate`` as a
        guard against deleting data that outlives the app).  Only an
        INACTIVE (terminated or never-activated) app can be deleted;
        afterwards this object refuses further use."""
        import shutil

        if self.state != ApplicationState.INACTIVE:
            raise RuntimeError(
                "only an INACTIVE (terminated) application can be deleted; "
                f"state is {self.state.value} — call terminate() first"
            )
        if os.path.isdir(self.storage_root):
            shutil.rmtree(self.storage_root)
        self.state = ApplicationState.DELETED

    def _check_not_deleted(self) -> None:
        if self.state == ApplicationState.DELETED:
            raise RuntimeError(f"application {self.id!r} has been deleted")

    def process(
        self, signal: Signal, processing_mode: str = "ONLY_HEAD", **kwargs
    ) -> list[str]:
        """Inject one materialized signal event; returns output paths of
        every route that triggered (reference application.py:1877-1980).

        ``processing_mode='FULL_RANGE'`` explodes a ranged signal into
        one routing cycle per partition (reference ``:1913-1946``);
        the default ``ONLY_HEAD`` injects the tip only.  While PAUSED,
        events are dropped with a warning (reference pauses the
        processor; in-process we have no durable queue to hold them)."""
        if self.state == ApplicationState.PAUSED:
            import logging

            logging.getLogger(__name__).warning(
                "application %s is PAUSED; dropping event for %r", self.id, signal.alias
            )
            return []
        routing = self.activate()
        if processing_mode == "FULL_RANGE":
            outputs: list[str] = []
            final = signal.filter.finalize()
            for branch in final.values():
                one = signal.clone()
                one.filter = DimensionFilter.load_raw(one.spec, list(branch))
                outputs.extend(routing.receive(one, **kwargs))
            return outputs
        return routing.receive(signal, **kwargs)

    # ------------------------------------------------------------------
    # introspection
    # ------------------------------------------------------------------
    def list_data(self, external: bool = True, internal: bool = True) -> list[str]:
        """All node/signal ids (reference query APIs exercised by
        test_aws_application_create_and_query.py)."""
        out: list[str] = []
        if external:
            out.extend(self._external)
        if internal:
            out.extend(self._nodes)
        return out

    def search_data(self, keyword: str) -> list[str]:
        """Substring search over node/signal ids AND their source specs
        (case-insensitive) — the reference's ``search_data`` matches
        ``repr(access_spec())`` too (application.py:1830-1843), so a
        path fragment like a bucket or folder name also finds the node."""
        kw = keyword.lower()
        out = []
        for i in self.list_data():
            hay = i.lower()
            sig = self.get_data(i)
            if sig is not None and sig.source is not None:
                hay += " " + repr(sig.source).lower()
            if kw in hay:
                out.append(i)
        return out

    def get_data(self, id: str) -> Optional[Signal]:
        """Signal by id, or None (non-raising twin of ``app[id]``)."""
        try:
            return self[id]
        except KeyError:
            return None

    def get_upstream(self, id: str) -> list[str]:
        """Input ids of an internal node."""
        node = self._nodes.get(id)
        return node.upstream_aliases() if node else []

    def get_downstream(self, id: str) -> list[str]:
        """Transitive consumers of a node/signal."""
        return [n.id for n in self._descendants(id)]

    # ------------------------------------------------------------------
    # compute-record lifecycle: kill / active-record polling
    # ------------------------------------------------------------------
    @staticmethod
    def _exec_key(node_id: str, out_values: dict[str, Any]) -> tuple:
        return (node_id, tuple(sorted((k, str(v)) for k, v in out_values.items())))

    def _raise_if_killed(self, key: tuple) -> None:
        if key in self._kill_requested:
            raise ComputeKilledError(f"execution force-stopped: {key[0]} {dict(key[1])}")

    def _target_values(self, target: Signal, op: str) -> tuple[InternalDataNode, dict[str, Any]]:
        if not isinstance(target, Signal):
            # reference kill/poll validations reject raw ids — the API
            # takes materialized VIEWS, not strings
            raise ValueError(
                f"{op} takes a materialized node view (Signal), got {type(target).__name__}"
            )
        node = self._nodes.get(target.alias)
        if node is None:
            raise KeyError(f"{target.alias!r} is not an internal data node")
        out_filter = target.filter.finalize()
        if not out_filter.is_material:
            raise ValueError(f"{op} target must be a materialized view of {target.alias!r}")
        return node, dict(zip(node.output_signal.dimension_names(), out_filter.tip() or ()))

    def kill(self, target: Signal) -> bool:
        """Force-stop active executions of a materialized node view
        (reference ``Application.kill``, application.py:2342;
        ``RoutingTable.kill``, constructs.py:4934).

        In-flight Spark jobs are interrupted via their job group; the
        execution surfaces as :class:`ComputeKilledError` and its
        compute record transitions to ``KILLED``.  Driver-side inlined
        slots notice the kill flag between slots/retries.  Returns True
        iff an active execution was found and signalled.
        """
        node, out_values = self._target_values(target, "kill")
        active = [
            r
            for r in self._records
            if r.node_id == node.id
            and r.out_values == out_values
            and r.state == ComputeRecordState.PROCESSING
        ]
        if not active:
            return False
        self._kill_requested.add(self._exec_key(node.id, out_values))
        for r in active:
            self.spark.sparkContext.cancelJobGroup(r.exec_id)
        return True

    def has_active_record(self, target: Signal) -> bool:
        """Is an execution for this materialized view in flight?
        (reference ``has_active_record_for``, application.py:2339).

        Imported upstream / external signals have no local executions —
        they answer False rather than raising (the reference's
        poll-on-upstream scenario checks exactly this)."""
        if target.alias not in self._nodes:
            return False
        node, out_values = self._target_values(target, "has_active_record")
        return any(
            r.node_id == node.id
            and r.out_values == out_values
            and r.state == ComputeRecordState.PROCESSING
            for r in self._records
        )

    def compute_records(
        self, node_id: Optional[str] = None, state: Optional[ComputeRecordState] = None
    ) -> list[ComputeRecord]:
        """Execution history (active + inactive records, newest last)."""
        return [
            r
            for r in self._records
            if (node_id is None or r.node_id == node_id) and (state is None or r.state == state)
        ]

    def get_active_compute_records(self, node=None) -> list[ComputeRecord]:
        """In-flight records — reference RoutingTable active-record query
        (execution_control suite).  ``node`` may be a node id, a Signal,
        or an internal node handle."""
        return self.compute_records(self._node_id_of(node), ComputeRecordState.PROCESSING)

    def get_inactive_compute_records(self, node=None) -> list[ComputeRecord]:
        """Terminal (completed/failed/killed) records — reference
        inactive-record search, the dependency-tree scan's source."""
        nid = self._node_id_of(node)
        return [
            r
            for r in self.compute_records(nid)
            if r.state != ComputeRecordState.PROCESSING
        ]

    @staticmethod
    def _node_id_of(node) -> Optional[str]:
        if node is None or isinstance(node, str):
            return node
        # resource_id first: it is the stable producer identity across
        # per-node aliasing — a renamed-alias view ({"b_today": b}) has
        # alias "b_today" while records store node_id "B"
        return (
            getattr(node, "resource_id", None)
            or getattr(node, "id", None)
            or getattr(node, "alias", None)
        )

    def materialize(self, view: Signal) -> list[str]:
        sig = self[view.alias]
        desc = sig.source
        return desc.materialize_paths(view.filter.finalize())

    def poll(self, view: Signal, wait: bool = True) -> tuple[Optional[str], Optional[dict]]:
        """(materialized path, metadata) if the partition is complete,
        else (None, None) (reference application.py:2051-2267).

        Active-execution aware, like the reference: an in-flight
        ``execute(wait=False)`` for this view is awaited first
        (``wait=False`` returns immediately instead); if the most
        recent execution FAILED or was KILLED, poll reports
        (None, None) even when stale partition data exists."""
        node = self._nodes.get(view.alias)
        if node is not None:
            try:
                _, out_values = self._target_values(view, "poll")
            except (KeyError, ValueError):
                out_values = None
            if out_values is not None:
                while wait and self.has_active_record(view):
                    time.sleep(0.05)
                recs = [
                    r
                    for r in self._records
                    if r.node_id == node.id and r.out_values == out_values
                ]
                if recs and recs[-1].state in (
                    ComputeRecordState.FAILED,
                    ComputeRecordState.KILLED,
                ):
                    return None, None
        desc = self[view.alias].source
        for path in self.materialize(view):
            if partition_ready(self.spark, desc, path):
                meta = None
                meta_path = path.rstrip("/") + "/" + METADATA_FILE
                if os.path.exists(meta_path):
                    with open(meta_path) as f:
                        meta = json.load(f)
                return path, meta
        return None, None

    def load_data(self, view: Signal, limit: Optional[int] = None) -> DataFrame:
        sig = self[view.alias]
        sig.filter = view.filter.finalize()
        df = load_signal(self.spark, sig)
        return df.limit(limit) if limit else df

    def preview_data(self, view: Signal, limit: int = 20, columns: Optional[list[str]] = None):
        df = self.load_data(view, limit)
        if columns:
            df = df.select(*columns)
        return df.toPandas()


def _coerce_scan_end(scan_end) -> Optional[float]:
    """``dependency_tree_scan_end`` → epoch seconds.  Accepts datetime,
    date, a day string in the same formats users index partitions with,
    or an epoch number; rejects anything else loudly."""
    if scan_end is None or isinstance(scan_end, (int, float)):
        return scan_end
    if isinstance(scan_end, str):
        from datetime import datetime as _dt

        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return _dt.strptime(scan_end, fmt).timestamp()
            except ValueError:
                continue
        raise TypeError(
            f"dependency_tree_scan_end: unparseable datetime string {scan_end!r}"
        )
    if hasattr(scan_end, "timestamp"):
        return scan_end.timestamp()
    import datetime as _d

    if isinstance(scan_end, _d.date):
        return _d.datetime(scan_end.year, scan_end.month, scan_end.day).timestamp()
    raise TypeError(
        f"dependency_tree_scan_end must be a datetime/date/day-string/epoch, "
        f"got {type(scan_end).__name__}"
    )
