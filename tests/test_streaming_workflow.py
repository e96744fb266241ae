"""Tests for the L6 workflow slice: poll guards, two-batch streaming state
transitions with at-least-once idempotence, watermark throughput, and the
U5/U6/U8 document transforms.

Streaming is not DuckDB-oracle-able (SURVEY §5); these tests are the gate.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_engineering_examples_spark.functions.documents import (
    convert_bundle_to_message,
    convert_legacy_qr,
    operation_outcome_failed,
)
from data_engineering_examples_spark.sources.fhir import FIXTURES_DIR, load_fhir_tables
from data_engineering_examples_spark.streaming.drain import drain
from data_engineering_examples_spark.streaming.tasks import (
    TASK_SCHEMA,
    TaskStateMachine,
    poll_tasks,
    task_throughput,
)


def test_poll_guards_and_topk(spark):
    tasks = load_fhir_tables(spark, ["tasks"])["tasks"]
    page = poll_tasks(tasks, page_size=5).collect()
    assert len(page) == 5
    assert all(r.status == "accepted" for r in page)
    assert all(r.version_id <= 1000 for r in page)
    assert all(str(r.authored_on) > "2025-07-01" for r in page)
    times = [r.authored_on for r in page]
    assert times == sorted(times, reverse=True)  # newest first


def _task_row(i, status="accepted", version=1):
    return (
        f"t{i}",
        status,
        None,
        version,
        "sys",
        f"ENC-{i}",
        json.dumps([{"time": "2025-07-01T00:00:00+00:00", "text": "created"}]),
        "[]",
        "{}",
    )


def test_state_machine_two_batches_and_idempotence(spark, tmp_path):
    in_dir, state_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(in_dir)
    sm = TaskStateMachine(spark, state_dir, now_utc="2025-08-01 00:00:00")

    # batch 1: two accepted tasks, one completed (terminal), one runaway
    b1 = spark.createDataFrame(
        [
            _task_row(1),
            _task_row(2),
            _task_row(3, status="completed"),
            _task_row(4, version=1001),
        ],
        TASK_SCHEMA,
    )
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    sm.run_available(in_dir, ckpt)

    s1 = {r.id: r for r in sm.state().collect()}
    assert s1["t1"].status == "in-progress"
    assert s1["t2"].status == "in-progress"
    assert "t3" not in s1  # terminal on arrival: never transitions
    assert "t4" not in s1  # version runaway guard
    notes = json.loads(s1["t1"].note)
    assert [n["text"] for n in notes] == ["created", "transition"]

    # batch 2: t1 re-delivered (at-least-once) + new task t5
    b2 = spark.createDataFrame([_task_row(1), _task_row(5)], TASK_SCHEMA)
    b2.coalesce(1).write.mode("append").parquet(in_dir)
    sm.run_available(in_dir, ckpt)

    s2 = {r.id: r for r in sm.state().collect()}
    # t1 advanced exactly one more step (state won, not the stale redelivery)
    assert s2["t1"].status == "completed"
    assert s2["t5"].status == "in-progress"
    assert s2["t2"].status == "in-progress"  # untouched by batch 2
    assert [n["text"] for n in json.loads(s2["t1"].note)] == [
        "created",
        "transition",
        "transition",
    ]

    # batch 3: re-deliver t1 again — terminal state must not regress
    b3 = spark.createDataFrame([_task_row(1)], TASK_SCHEMA)
    b3.coalesce(1).write.mode("append").parquet(in_dir)
    sm.run_available(in_dir, ckpt)
    assert {r.id: r.status for r in sm.state().collect()}["t1"] == "completed"


def test_task_throughput_watermark(spark, tmp_path):
    in_dir, ckpt = str(tmp_path / "in2"), str(tmp_path / "ck2")
    os.makedirs(in_dir)
    tasks = load_fhir_tables(spark, ["tasks"])["tasks"]
    tasks.limit(50).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(tasks.schema).parquet(in_dir)
    agg = task_throughput(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tp")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode only emits closed windows; the plan must at least run and
    # carry the watermark node
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    assert spark.table("tp").columns == ["window_start", "status", "count"]


def test_legacy_qr_conversion_shapes():
    legacy = {
        "resourceType": "QuestionnaireResponse",
        "status": "completed",
        "item": [
            {"linkId": "q1", "text": "Presenting complaint", "answer": [{"valueString": "cough"}]},
            {"linkId": "q2", "answer": [{"valueString": "3 days"}]},  # no text → linkId
            {
                "linkId": "probs",
                "item": [
                    {"answer": [{"valueCoding": {"code": "URTI"}}]},  # no linkId → problemCode
                    {"linkId": "sub", "item": [{"linkId": "problemStatus", "answer": [{"valueString": "active"}]}]},
                ],
            },
        ],
    }
    out = json.loads(convert_legacy_qr(json.dumps(legacy)))
    assert out["questionnaire"].endswith("ClinicalManagementPlan")
    comments, problems = out["item"][0], out["item"][1]
    assert comments["linkId"] == "LOINC/61149-1"
    qa = comments["item"]
    assert qa[0]["item"][0]["answer"][0]["valueString"] == "Presenting complaint"
    assert qa[1]["item"][0]["answer"][0]["valueString"] == "q2"  # text fallback
    assert qa[1]["item"][1]["answer"] == [{"valueString": "3 days"}]
    assert problems["linkId"] == "LOINC/11450-4"
    pitems = problems["item"][0]["item"]
    assert pitems[0]["linkId"] == "problemCode"
    assert pitems[1]["linkId"] == "problemStatus"

    # new-shape QR (no flat answers, no problem subitems) → empty comments,
    # no problem section
    new_shape = {"resourceType": "QuestionnaireResponse", "item": [{"linkId": "61149-1", "item": [{"linkId": "x"}]}]}
    out2 = json.loads(convert_legacy_qr(json.dumps(new_shape)))
    assert len(out2["item"]) == 1


def test_bundle_to_message():
    bundles = None
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(FIXTURES_DIR, "encounter_bundles.parquet"))
    bundle_json = tbl.column("bundle_json")[0].as_py()
    out = json.loads(convert_bundle_to_message(bundle_json, "fixed-uuid-1234"))
    assert out["type"] == "message"
    assert out["identifier"]["value"] == "urn:uuid:fixed-uuid-1234"
    header = out["entry"][0]["resource"]
    assert header["resourceType"] == "MessageHeader"
    assert header["eventCoding"]["code"] == "A04"
    enc_urls = [
        e["fullUrl"]
        for e in out["entry"][1:]
        if e["resource"]["resourceType"] == "Encounter"
    ]
    assert [f["reference"] for f in header["focus"]] == enc_urls
    # idempotent identity: same uuid → same message
    assert convert_bundle_to_message(bundle_json, "fixed-uuid-1234") == json.dumps(
        out, separators=(",", ":")
    )


def test_operation_outcome_triage(spark):
    mk = lambda issues: json.dumps({"resourceType": "OperationOutcome", "issue": issues})
    rows = spark.createDataFrame(
        [
            ("warn_only", mk([{"severity": "warning", "details": {"text": "style"}}])),
            ("hard_error", mk([{"severity": "error", "details": {"text": "bad profile"}}])),
            ("allowlisted", mk([{"severity": "error", "details": {"text": "code 307321000000107 known"}}])),
            ("mixed", mk([
                {"severity": "warning", "details": {"text": "w"}},
                {"severity": "error", "details": {"text": "fatal"}},
            ])),
        ],
        ["name", "outcome"],
    )
    res = {r.name: r.failed for r in rows.select("name", operation_outcome_failed("outcome").alias("failed")).collect()}
    assert res == {"warn_only": False, "hard_error": True, "allowlisted": False, "mixed": True}


def test_stateful_progress_two_restarts(spark, tmp_path):
    """applyInPandasWithState keeps per-key state in the CHECKPOINT across
    query restarts: batch 2 must see batch 1's counters."""
    from data_engineering_examples_spark.streaming.tasks import (
        task_progress_stateful,
    )

    in_dir, ckpt = str(tmp_path / "in3"), str(tmp_path / "ck3")
    out = str(tmp_path / "out3")
    os.makedirs(in_dir)

    def run_once():
        stream = spark.readStream.schema(TASK_SCHEMA).parquet(in_dir)
        drain(task_progress_stateful(stream), ckpt, out)

    b1 = spark.createDataFrame(
        [_task_row(1, version=1), _task_row(1, version=2), _task_row(2, version=1)],
        TASK_SCHEMA,
    )
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    run_once()

    # batch 2: re-delivery of t1 v2 (dup) plus a newer v3
    b2 = spark.createDataFrame(
        [_task_row(1, version=2), _task_row(1, version=3)], TASK_SCHEMA
    )
    b2.coalesce(1).write.mode("append").parquet(in_dir)
    run_once()

    rows = {
        (r.id, r.n_updates, r.max_version)
        for r in spark.read.parquet(out).collect()
    }
    # batch1 emissions: t1 has 2 deliveries/maxv2, t2 has 1/v1
    assert ("t1", 2, 2) in rows and ("t2", 1, 1) in rows
    # batch2 emission proves state carried over: 2+2=4 deliveries, maxv3
    assert ("t1", 4, 3) in rows


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    from data_engineering_examples_spark.streaming.tasks import dedup_stream

    import datetime as dt

    in_dir, ckpt = str(tmp_path / "in4"), str(tmp_path / "ck4")
    out = str(tmp_path / "out4")
    os.makedirs(in_dir)

    def row(version):
        # dropDuplicatesWithinWatermark needs a real event time
        base = list(_task_row(1, version=version))
        base[2] = dt.datetime(2025, 7, 1, 12, 0, 0)
        return tuple(base)

    b1 = spark.createDataFrame([row(1), row(1), row(2)], TASK_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(TASK_SCHEMA).parquet(in_dir)
    drain(dedup_stream(stream), ckpt, out)
    got = [(r.id, r.version_id) for r in spark.read.parquet(out).collect()]
    assert sorted(got) == [("t1", 1), ("t1", 2)]


def test_trigger_rule_gate_semantics(spark):
    """Airflow TriggerRule parity over settled upstream states: the
    reference's one_success join (ConsultationNoteWritebackX.py:256-262)
    must fire when ANY branch succeeded, all_success only when every
    branch did, none_failed regardless of skips."""
    from data_engineering_examples_spark.operators.gates import gate_decisions

    rows = [
        # key, state  — k1: all success; k2: one failed; k3: skip only;
        # k4: mixed success+skip (one_success fires, all_success not)
        ("k1", "success"), ("k1", "success"),
        ("k2", "success"), ("k2", "failed"),
        ("k3", "skipped"), ("k3", "skipped"),
        ("k4", "success"), ("k4", "skipped"),
    ]
    df = spark.createDataFrame(rows, "id string, state string")
    got = {
        r.id: (r.all_success, r.one_success, r.none_failed, r.all_done)
        for r in gate_decisions(
            df, ["id"], rules=("all_success", "one_success", "none_failed", "all_done")
        ).collect()
    }
    assert got == {
        "k1": (True, True, True, True),
        "k2": (False, True, False, True),
        "k3": (False, False, True, True),
        "k4": (False, True, True, True),
    }


def test_trigger_rule_gate_rejects_unknown_rule(spark):
    import pytest

    from data_engineering_examples_spark.operators.gates import gate_decisions

    df = spark.createDataFrame([("k", "success")], "id string, state string")
    with pytest.raises(ValueError, match="unknown trigger rules"):
        gate_decisions(df, ["id"], rules=("sometimes_success",))


def test_task_state_machine_recovers_mid_swap_crash(spark, tmp_path):
    """Chaos: kill the state store between its two renames — live state
    dir missing, pre-batch state only at the old-side path, half-written
    tmp present. state() must transparently restore the PRE-batch state
    (the checkpoint would replay the batch), and a rerun must advance it
    exactly once from there."""
    import os
    import shutil

    from data_engineering_examples_spark.streaming.tasks import TaskStateMachine

    base = str(tmp_path / "sm")
    inp = f"{base}/in"
    os.makedirs(inp)
    shutil.copy(f"{FIXTURES_DIR}/tasks.parquet", f"{inp}/tasks.parquet")

    sm = TaskStateMachine(spark, f"{base}/state", now_utc="2025-09-01T00:00:00")
    sm.run_available(inp, f"{base}/ckpt")
    before = {(r.id, r.status, r.version_id) for r in sm.state().collect()}
    assert before  # the batch advanced something

    # crash state: live dir renamed aside, tmp half-written
    os.rename(f"{base}/state", f"{base}/state.__swap_old__")
    os.makedirs(f"{base}/state.__swap_tmp__")
    open(f"{base}/state.__swap_tmp__/part-half.parquet", "w").close()

    sm2 = TaskStateMachine(spark, f"{base}/state", now_utc="2025-09-01T00:00:00")
    after = {(r.id, r.status, r.version_id) for r in sm2.state().collect()}
    assert after == before  # restored, not lost, not double-advanced

    # replay the same input through a FRESH checkpoint (as the restarted
    # job would re-process the unacknowledged batch): terminal states
    # must not regress and versions advance monotonically
    sm2.run_available(inp, f"{base}/ckpt2")
    final = {r.id: r.version_id for r in sm2.state().collect()}
    for r_id, v in {r[0]: r[2] for r in before}.items():
        assert final[r_id] >= v


def test_transform_with_state_end_to_end_parity(spark, tmp_path):
    """E2E transformWithState drain: requires the public protobuf package
    (Spark's TWS Python client speaks a proto-serialized state protocol)
    plus the RocksDB state store provider. Not installable in this
    sandbox — skips cleanly here, runs unchanged on a protobuf-equipped
    deployment. Parity contract: the final per-user running aggregates
    from the stateful stream must equal the same fixture's batch
    groupBy — the same guarantee the q75 foreachBatch/MERGE path proves
    for the task state machine."""
    import pytest as _pytest

    _pytest.importorskip("google.protobuf")

    from pyspark.sql import functions as F

    from data_engineering_examples_spark.streaming.tws import (
        ROCKSDB_PROVIDER,
        user_running_agg,
    )

    base = str(tmp_path / "tws")
    inp = f"{base}/in"
    os.makedirs(inp)
    src = spark.range(200).select(
        (F.col("id") % 7).alias("user_id"),
        ((F.col("id") * 37) % 1000).alias("vm"),
    )
    src.coalesce(2).write.parquet(inp)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = spark.readStream.schema("user_id long, vm long").parquet(inp)
        out: dict[int, tuple[int, int]] = {}

        def sink(df, _bid):
            for r in df.collect():
                out[r.user_id] = (r.n_events, r.max_value_millis)

        q = (
            user_running_agg(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    batch = {
        r.user_id: (r.n, r.mx)
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("vm").alias("mx"))
        .collect()
    }
    assert out == batch


def test_stateful_progress_parity_under_rocksdb_provider(spark):
    """The production state store: q83's applyInPandasWithState drain
    must produce identical results under the RocksDB provider (the one
    a real cluster runs — on-disk state, not executor-heap HDFSBacked)
    and under the default provider. RocksDB ships in OSS Spark 4, so
    unlike transformWithState this path needs no extra package."""
    from data_engineering_examples_spark.plans.registry import all_specs
    from data_engineering_examples_spark.streaming.tws import ROCKSDB_PROVIDER

    fn = all_specs()["q83_stateful_progress"].fn
    sf = "/root/testdata/sf0.001"

    default_rows = {tuple(r) for r in fn(spark, sf).collect()}
    assert default_rows

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        rocks_rows = {tuple(r) for r in fn(spark, sf).collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert rocks_rows == default_rows
