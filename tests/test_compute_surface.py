"""§2.10 surface: notification targets, module-reference slots,
resource-conf hints, execution lifecycle hooks."""

import json

import pytest
from pyspark.sql import functions as F

from rheoceros_spark import (
    EMAIL,
    Application,
    Dimension,
    DimensionType,
    ParquetDataset,
    Slack,
    Spark,
    SparkSQL,
    scala_script,
    sql_module,
)
from rheoceros_spark.sources.datasets import IntegrityProtocol


@pytest.fixture()
def events_by_day(spark, sf_dir, tmp_path):
    from rheoceros_spark.sources.io import normalize_ns_timestamps

    root = str(tmp_path / "ev")
    ev = normalize_ns_timestamps(
        spark.read.parquet(f"{sf_dir}/events.parquet"), f"{sf_dir}/events.parquet"
    )
    for day in ["2024-01-01", "2024-01-02"]:
        ev.where(F.to_date("ts") == day).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{day}"
        )
    return root


def _events_signal(app, root):
    return app.marshal_external_data(
        ParquetDataset(
            root + "/{}",
            Dimension("day", DimensionType.DATETIME, {"format": "%Y-%m-%d"}),
            integrity=IntegrityProtocol.SUCCESS_FILE,
        ),
        id="events",
    )


def test_email_and_slack_actions_render_dims_into_outbox(spark, events_by_day, tmp_path):
    outbox = str(tmp_path / "outbox.jsonl")
    app = Application("notify_app", str(tmp_path / "store"), spark)
    events = _events_signal(app, events_by_day)
    node = app.create_data(
        id="daily_notify",
        inputs=[events["2024-01-01":"2024-01-03"]],
        compute_targets=[
            SparkSQL("SELECT event_type, count(*) AS n FROM events GROUP BY event_type"),
            EMAIL(sender="pipeline@example.com", recipient_list=["oncall@example.com"]).action(
                subject="daily_notify {day} done", body="partition {day} written", outbox=outbox
            ),
            Slack(recipient_list=["https://hooks.example/wf1"]).action(
                message="daily_notify {day} ok", outbox=outbox
            ),
        ],
    )
    app.execute(node["2024-01-02"])
    records = [json.loads(l) for l in open(outbox)]
    kinds = {r["kind"] for r in records}
    assert kinds == {"email", "slack"}
    email = next(r for r in records if r["kind"] == "email")
    assert email["subject"] == "daily_notify 2024-01-02 done"
    assert email["recipient_list"] == ["oncall@example.com"]
    slack = next(r for r in records if r["kind"] == "slack")
    assert slack["message"] == "daily_notify 2024-01-02 ok"


def test_sql_module_file_and_scala_rejection(tmp_path):
    sql_file = tmp_path / "q.sql"
    sql_file.write_text("SELECT 1 AS one")
    desc = sql_module(str(sql_file))
    assert desc.code == "SELECT 1 AS one"
    with pytest.raises(NotImplementedError):
        scala_script("object X {}")


def test_resource_conf_hints_split_and_apply(spark, events_by_day, tmp_path):
    app = Application("resource_app", str(tmp_path / "store"), spark)
    events = _events_signal(app, events_by_day)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    observed = {}
    code = (
        "args['observe']['shuffle'] = spark.conf.get('spark.sql.shuffle.partitions')\n"
        "args['observe']['broadcast'] = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')\n"
        "output = events.groupBy('event_type').count()"
    )
    slot = Spark(
        code,
        NumberOfWorkers=100,
        WorkerType="G.2X",
        spark_submit_args=["--conf", "spark.sql.autoBroadcastJoinThreshold=20971520"],
        observe=observed,
    )
    # resource hints are separated from user args (reference api_ext.py:107-190)
    assert slot.resource_conf["NumberOfWorkers"] == 100
    assert slot.args == {"observe": observed}
    node = app.create_data(id="sized", inputs=[events["2024-01-01":"2024-01-03"]], compute_targets=slot)
    app.execute(node["2024-01-02"])
    # 100 workers → shuffle sized to 2 tasks/worker, visible DURING the slot
    assert observed["shuffle"] == "200"
    assert observed["broadcast"] == "20971520"
    # ...and restored afterwards: one node's hints must not leak into the
    # next execution (conf active at action time is what applies)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None) is None


def test_lifecycle_hooks_fire_once_per_execution(spark, events_by_day, tmp_path):
    calls = []
    app = Application("hook_app", str(tmp_path / "store"), spark)
    events = _events_signal(app, events_by_day)
    node = app.create_data(
        id="hooked",
        inputs=[events["2024-01-01":"2024-01-03"]],
        compute_targets=SparkSQL("SELECT count(*) AS n FROM events"),
        on_exec_begin=lambda n, dims: calls.append(("begin", f"{dims['day']:%Y-%m-%d}")),
        on_compute_success=lambda n, dims, slot: calls.append(("compute", f"{dims['day']:%Y-%m-%d}")),
        on_success=lambda n, dims, path: calls.append(("success", f"{dims['day']:%Y-%m-%d}")),
        checkpoints=[(0.0, lambda n, dims, t, e: calls.append(("checkpoint", t)))],
    )
    # event-driven path must fire the same hooks exactly once (hooks see
    # raw typed dim values; notification payloads see formatted ones)
    app.process(events["2024-01-02"])
    assert calls == [
        ("begin", "2024-01-02"),
        ("compute", "2024-01-02"),
        ("checkpoint", 0.0),
        ("success", "2024-01-02"),
    ]


def test_pending_node_created_hook(spark, events_by_day, tmp_path):
    created = []
    app = Application("pending_app", str(tmp_path / "store"), spark)
    events = _events_signal(app, events_by_day)
    other_root = str(tmp_path / "other")
    # second input never arrives → the route stays pending
    other = app.marshal_external_data(
        ParquetDataset(
            other_root + "/{}",
            Dimension("day", DimensionType.DATETIME, {"format": "%Y-%m-%d"}),
        ),
        id="other",
    )
    app.create_data(
        id="joined",
        inputs=[events["2024-01-01":"2024-01-03"], other["2024-01-01":"2024-01-03"]],
        compute_targets=SparkSQL("SELECT 1 AS one"),
        on_pending_node_created=lambda n, pending: created.append(n.id),
    )
    app.process(events["2024-01-02"])
    assert created == ["joined"]


def test_execution_clears_its_job_group(spark, events_by_day, tmp_path):
    # the next execution's first job (its input schema read) must not
    # carry this execution's "rheoceros <node> {dims}" label
    app = Application("label_app", str(tmp_path / "store"), spark)
    events = _events_signal(app, events_by_day)
    node = app.create_data(
        id="labelled",
        inputs=[events["2024-01-01":"2024-01-03"]],
        compute_targets=SparkSQL("SELECT count(*) AS n FROM events"),
    )
    app.execute(node["2024-01-02"])
    sc = spark.sparkContext
    for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        assert sc.getLocalProperty(prop) is None, prop
