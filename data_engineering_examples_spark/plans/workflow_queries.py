"""L4/L6 — workflow + distribution queries (SURVEY §2 S4, T4, A5, P8).

* **q36** — the FHIR REST task poll as a compiled search-param dict
  (``search/params.py``; reference params at
  ``dags/ConsultationNoteWritebackX.py:63-68``): filters push to the
  scan, `_sort`+`_count` become TakeOrderedAndProject.
* **q39** — the branch-task routing decision (T4/P8,
  ``dags/ConsultationNoteWritebackX.py:401-411``: version runaway,
  already-completed, PROCEED) as a per-row tag column — the set-based
  form of Airflow's ``@task.branch``.
* **q40** — per-group value distribution (A5; the reference's
  ``groupby('gender').AGE.plot(kind='kde')`` cells) via exact
  ``percentile`` — interpolation parity with DuckDB ``quantile_cont``
  verified bit-exact. At scale: one partial+final agg shuffle, the
  percentile state is per-group sorted digests, no row explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..search.params import compile_search
from ..sources.fhir import FIXTURES_DIR
from ..sources.tables import load_tables
from .registry import register

FX = FIXTURES_DIR

_POLL_PARAMS = {
    "_sort": "-authored-on",
    "authored-on": "gt2025-07-01",
    "_count": "5",
    "status": "accepted",
}


@register(
    "q36_task_search",
    oracle=f"""
    SELECT id, status, authored_on, version_id
    FROM read_parquet('{FX}/tasks.parquet')
    WHERE status = 'accepted' AND authored_on > TIMESTAMP '2025-07-01 00:00:00'
    ORDER BY authored_on DESC, id LIMIT 5
    """,
    doc="FHIR search params compiled to filter+sort+limit (S4)",
    tags=("workflow", "S4", "W1"),
)
def q36_task_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    tasks = load_tables(spark, FX, ["tasks"])["tasks"]
    hits = compile_search(tasks, _POLL_PARAMS)
    return hits.select("id", "status", "authored_on", "version_id")


@register(
    "q39_task_branching",
    oracle=f"""
    SELECT id, status, version_id,
      CASE WHEN version_id > 1000 THEN 'SKIP_RUNAWAY'
           WHEN status = 'completed' THEN 'SKIP_COMPLETED'
           WHEN status = 'accepted'
                AND authored_on > TIMESTAMP '2025-07-01 00:00:00' THEN 'PROCEED'
           ELSE 'SKIP_OTHER' END AS branch
    FROM read_parquet('{FX}/tasks.parquet')
    """,
    doc="branch-task routing as a per-row tag (T4/P8)",
    tags=("workflow", "T4", "P8"),
)
def q39_task_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    tasks = load_tables(spark, FX, ["tasks"])["tasks"]
    branch = (
        F.when(tasks.version_id > 1000, "SKIP_RUNAWAY")
        .when(tasks.status == "completed", "SKIP_COMPLETED")
        .when(
            (tasks.status == "accepted")
            & (tasks.authored_on > F.lit("2025-07-01").cast("timestamp_ntz")),
            "PROCEED",
        )
        .otherwise("SKIP_OTHER")
    )
    return tasks.select("id", "status", "version_id", branch.alias("branch"))


@register(
    "q40_event_value_distribution",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.50) AS p50,
           quantile_cont(value, 0.75) AS p75,
           quantile_cont(value, 0.90) AS p90,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc="per-group distribution via exact percentiles (A5); one scalar column "
    "per quantile — the driver's canonicalizer hashes scalar cells only",
    tags=("agg", "A5"),
)
def q40_event_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("value", 0.25).alias("p25"),
        F.percentile("value", 0.50).alias("p50"),
        F.percentile("value", 0.75).alias("p75"),
        F.percentile("value", 0.90).alias("p90"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# q46/q47 — the two workflow document UDF stages as registry entries
# (X2/X3; U5/U6). The Spark side runs the fully general recursive JSON
# restructuring as an Arrow-batched pandas UDF (functions/documents.py);
# the oracle rebuilds the SAME output JSON byte-for-byte with DuckDB
# json functions + string assembly over the fixture bundles' entry
# layout (Patient, Encounter, Observation, QR — the position the Spark
# query itself relies on). Compact JSON formatting and key order match
# ``json.dumps(..., separators=(",", ":"))`` because DuckDB's json type
# round-trips order-preserving and space-free. The general recursion
# (problem-list subitems etc., never triggered by the fixtures) is
# pinned by tests/test_streaming_workflow.py. The message uuid is
# DERIVED (md5 of the encounter identifier), not random: replays mint
# the same identity (T2 idempotence; F17 notes uuid() exists for when
# global uniqueness is the requirement).

_ODS_SYS = "https://fhir.nhs.uk/Id/ods-organization-code"


@register(
    "q46_legacy_qr_batch",
    oracle=f"""
    WITH b AS (
      SELECT encounter_identifier,
             json_extract(bundle_json, '$.entry[3].resource') AS qr
      FROM read_parquet('{FX}/encounter_bundles.parquet')
    ),
    items AS (
      SELECT b.encounter_identifier, i AS idx,
             json_extract(b.qr, '$.item[' || i || ']') AS it
      FROM b, (SELECT unnest(range(0, 50)) AS i) r
      WHERE i < json_array_length(b.qr, '$.item')
    ),
    qitems AS (
      SELECT encounter_identifier,
             string_agg(
               '{{"linkId":"questions","item":[{{"linkId":"question","answer":[{{"valueString":"'
               || coalesce(json_extract_string(it, '$.text'), json_extract_string(it, '$.linkId'))
               || '"}}]}},{{"linkId":"answer","answer":' || CAST(json_extract(it, '$.answer') AS VARCHAR) || '}}]}}',
               ',' ORDER BY idx) AS qs
      FROM items
      WHERE json_extract(it, '$.answer') IS NOT NULL
      GROUP BY encounter_identifier
    )
    SELECT b.encounter_identifier,
           '{{"resourceType":"QuestionnaireResponse","id":"' || json_extract_string(b.qr, '$.id')
           || '","status":"completed","questionnaire":"https://fhir.virtually.healthcare/Questionnaire/ClinicalManagementPlan","item":[{{"linkId":"LOINC/61149-1","text":"Comments and advice","item":['
           || coalesce(q.qs, '') || ']}}]}}' AS converted_qr
    FROM b LEFT JOIN qitems q ON q.encounter_identifier = b.encounter_identifier
    """,
    doc="legacy QuestionnaireResponse conversion over bundle QR entries (X2/U5)",
    tags=("workflow", "U5", "X2"),
)
def q46_legacy_qr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.documents import register_document_udfs

    register_document_udfs(spark)
    b = load_tables(spark, FX, ["encounter_bundles"])["encounter_bundles"]
    # the QR sits at a fixed entry position in the collection bundles
    # (gen_fixtures emits Patient, Encounter, Observation, QR)
    qr = F.get_json_object("bundle_json", "$.entry[3].resource")
    return b.select(
        "encounter_identifier",
        F.call_udf("legacy_qr_convert", qr).alias("converted_qr"),
    ).filter(F.col("converted_qr").isNotNull())


@register(
    "q47_bundle_to_message",
    oracle=f"""
    WITH b AS (
      SELECT encounter_identifier, bundle_json,
             md5(encounter_identifier) AS msg_uuid
      FROM read_parquet('{FX}/encounter_bundles.parquet')
    ),
    entries AS (
      SELECT b.encounter_identifier, i AS idx,
             json_extract(b.bundle_json, '$.entry[' || i || ']') AS e
      FROM b, (SELECT unnest(range(0, 100)) AS i) r
      WHERE i < json_array_length(b.bundle_json, '$.entry')
    ),
    agg AS (
      SELECT encounter_identifier,
             string_agg(CAST(e AS VARCHAR), ',' ORDER BY idx) AS entries_inner,
             string_agg(
               '{{"reference":"' || json_extract_string(e, '$.fullUrl') || '","type":"Encounter"}}',
               ',' ORDER BY idx)
               FILTER (json_extract_string(e, '$.resource.resourceType') = 'Encounter') AS focus
      FROM entries GROUP BY encounter_identifier
    )
    SELECT b.encounter_identifier,
      '{{"resourceType":"Bundle","type":"message","entry":[{{"fullUrl":"urn:uuid:' || b.msg_uuid
      || '","resource":{{"resourceType":"MessageHeader","eventCoding":{{"system":"http://terminology.hl7.org/CodeSystem/v2-0003","code":"A04"}},"destination":[{{"endpoint":"https://example.invalid/emis","receiver":{{"identifier":{{"system":"{_ODS_SYS}","value":"F83004"}}}}}}],"sender":{{"identifier":{{"system":"{_ODS_SYS}","value":"F83004"}}}},"source":{{"endpoint":"https://example.invalid/emis"}},"focus":['
      || coalesce(a.focus, '') || ']}}}},' || a.entries_inner
      || '],"identifier":{{"system":"urn:ietf:rfc:3986","value":"urn:uuid:' || b.msg_uuid || '"}}}}' AS message_json
    FROM b JOIN agg a ON a.encounter_identifier = b.encounter_identifier
    """,
    doc="collection Bundle -> FHIR message with A04 MessageHeader (X3/U6)",
    tags=("workflow", "U6", "X3", "F17"),
)
def q47_bundle_to_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.documents import register_document_udfs

    register_document_udfs(spark)
    b = load_tables(spark, FX, ["encounter_bundles"])["encounter_bundles"]
    # replay-stable message identity: derived, not minted per run
    msg_uuid = F.md5(F.col("encounter_identifier"))
    return b.select(
        "encounter_identifier",
        F.call_udf("bundle_to_message", F.col("bundle_json"), msg_uuid).alias("message_json"),
    )


# ---------------------------------------------------------------------------
# q68 — trigger-rule gates (T4): the multi-branch join pattern. Each task's
# child flow settles three upstream branches (the runaway guard, the
# freshness check, the writeback eligibility), and the downstream join
# evaluates Airflow-style trigger rules over their terminal states —
# ``operators/gates.py``; reference join at
# ``dags/ConsultationNoteWritebackX.py:256-262`` (one_success after the
# skip/write branches, all_success on linear edges).


@register(
    "q68_trigger_gates",
    oracle=f"""
    WITH o AS (
      SELECT id,
        CASE WHEN version_id <= 1000 THEN 1 ELSE 0 END AS guard_ok,
        CASE WHEN version_id > 1000 THEN 1 ELSE 0 END AS guard_failed,
        CASE WHEN authored_on > TIMESTAMP '2025-07-01 00:00:00' THEN 1 ELSE 0 END AS fresh_ok,
        CASE WHEN authored_on > TIMESTAMP '2025-07-01 00:00:00' THEN 0 ELSE 1 END AS fresh_skipped,
        CASE WHEN status IN ('accepted', 'in-progress') THEN 1 ELSE 0 END AS write_ok,
        CASE WHEN status IN ('accepted', 'in-progress') THEN 0 ELSE 1 END AS write_skipped
      FROM read_parquet('{FX}/tasks.parquet')
    )
    SELECT id,
           CAST(3 AS BIGINT) AS n_upstream,
           CAST(guard_ok + fresh_ok + write_ok AS BIGINT) AS n_success,
           CAST(guard_failed AS BIGINT) AS n_failed,
           CAST(fresh_skipped + write_skipped AS BIGINT) AS n_skipped,
           (guard_ok + fresh_ok + write_ok) = 3 AS all_success,
           (guard_ok + fresh_ok + write_ok) >= 1 AS one_success,
           guard_failed = 0 AS none_failed
    FROM o
    """,
    doc="Airflow trigger-rule gates over settled branch states (T4)",
    tags=("workflow", "T4"),
)
def q68_trigger_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gates import gate_decisions

    tasks = load_tables(spark, FX, ["tasks"])["tasks"]
    ok = lambda c: F.when(c, "success")  # noqa: E731
    branch_states = F.array(
        F.struct(
            F.lit("guard").alias("branch"),
            ok(tasks.version_id <= 1000).otherwise("failed").alias("state"),
        ),
        F.struct(
            F.lit("fresh").alias("branch"),
            ok(
                tasks.authored_on > F.lit("2025-07-01").cast("timestamp_ntz")
            ).otherwise("skipped").alias("state"),
        ),
        F.struct(
            F.lit("write").alias("branch"),
            ok(tasks.status.isin("accepted", "in-progress"))
            .otherwise("skipped")
            .alias("state"),
        ),
    )
    outcomes = tasks.select(
        "id", F.explode(branch_states).alias("b")
    ).select("id", F.col("b.state").alias("state"))
    return gate_decisions(outcomes, ["id"], rules=("all_success", "one_success", "none_failed"))


# ---------------------------------------------------------------------------
# q71 — OperationOutcome triage (U8): the validation-response gate
# (``functions/documents.py:operation_outcome_failed``; reference logic
# at ``dags/ConsultationNoteWritebackX.py:434-468``). A response fails
# iff ANY issue has severity 'error' whose details.text does NOT carry
# the allowlisted concept code; warnings and detail-less non-errors
# never fail. Pure codegen (from_json + exists) — the oracle replays the
# same rule with DuckDB json functions over the issue array.

_ALLOW_CODE = "307321000000107"


@register(
    "q71_outcome_triage",
    oracle=f"""
    WITH o AS (
      SELECT outcome_id, task_id, outcome_json,
             json_array_length(outcome_json, '$.issue') AS n_issues
      FROM read_parquet('{FX}/outcomes.parquet')
    ),
    iss AS (
      SELECT o.outcome_id, json_extract(o.outcome_json, '$.issue[' || i || ']') AS it
      FROM o, (SELECT unnest(range(0, 16)) AS i) r
      WHERE i < o.n_issues
    ),
    verdict AS (
      SELECT outcome_id,
             bool_or(json_extract_string(it, '$.severity') = 'error'
                     AND NOT contains(coalesce(json_extract_string(it, '$.details.text'), ''),
                                      '{_ALLOW_CODE}')) AS failed
      FROM iss GROUP BY outcome_id
    )
    SELECT o.outcome_id, o.task_id, CAST(o.n_issues AS INT) AS n_issues, v.failed
    FROM o JOIN verdict v ON v.outcome_id = o.outcome_id
    """,
    doc="OperationOutcome validation triage (U8): allowlist-aware error gate",
    tags=("workflow", "U8"),
)
def q71_outcome_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.documents import operation_outcome_failed

    o = load_tables(spark, FX, ["outcomes"])["outcomes"]
    n_issues = F.size(
        F.from_json(F.get_json_object("outcome_json", "$.issue"), "array<string>")
    )
    return o.select(
        "outcome_id",
        "task_id",
        n_issues.alias("n_issues"),
        operation_outcome_failed(F.col("outcome_json")).alias("failed"),
    )


# ---------------------------------------------------------------------------
# q75 — the task-queue micro-batch state machine END-TO-END under the
# oracle: the query stages the tasks fixture as a stream input, drains it
# with Trigger.AvailableNow through TaskStateMachine (T1 poll trigger,
# T3 transitions + audit notes, S9 status writeback, T2 dedup/terminal
# guards — streaming/tasks.py), then returns the resulting state table.
# The oracle replays the same algebra in SQL: latest version per id,
# runaway guard, non-terminal advance one step, version bump, and the
# audit-note JSON append (rebuilt entry-by-entry compact, because Spark's
# from_json→to_json normalizes the fixture's spaced JSON while DuckDB
# stores raw text). The injected clock makes the appended note
# deterministic. Stream state lands in a per-call temp dir (left for the
# lazy result DataFrame to read; /tmp-lifetime).

_Q75_NOW = "2025-09-01T00:00:00"


@register(
    "q75_task_stream_state",
    oracle=f"""
    WITH latest AS (
      SELECT * FROM (
        SELECT id, status, version_id, note,
               row_number() OVER (PARTITION BY id ORDER BY version_id DESC) AS rn
        FROM read_parquet('{FX}/tasks.parquet')
      ) WHERE rn = 1 AND version_id <= 1000
    ),
    adv AS (
      SELECT * FROM latest
      WHERE status NOT IN ('completed', 'failed', 'cancelled', 'rejected')
    ),
    els AS (
      SELECT a.id, i AS idx, json_extract(a.note, '$[' || i || ']') AS el
      FROM adv a, (SELECT unnest(range(0, 8)) AS i) r
      WHERE i < json_array_length(a.note)
    ),
    notes AS (
      SELECT id,
             string_agg('{{"time":"' || json_extract_string(el, '$.time')
                        || '","text":"' || json_extract_string(el, '$.text') || '"}}',
                        ',' ORDER BY idx) AS existing
      FROM els GROUP BY id
    )
    SELECT a.id,
           CASE a.status WHEN 'accepted' THEN 'in-progress'
                         WHEN 'in-progress' THEN 'completed'
                         ELSE a.status END AS status,
           a.version_id + 1 AS version_id,
           '[' || coalesce(n.existing || ',', '')
               || '{{"time":"{_Q75_NOW}+00:00","text":"transition"}}]' AS note
    FROM adv a LEFT JOIN notes n ON n.id = a.id
    """,
    doc="streaming task state machine drained availableNow (T1/T3/S9/T2)",
    tags=("workflow", "T1", "T3", "S9", "T2"),
)
def q75_task_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..scratch import scratch_dir
    from ..streaming.tasks import TaskStateMachine

    base = scratch_dir("q75_stream")
    inp = f"{base}/in"
    import os as _os

    _os.makedirs(inp)
    shutil.copy(f"{FX}/tasks.parquet", f"{inp}/tasks.parquet")
    sm = TaskStateMachine(spark, f"{base}/state", now_utc=_Q75_NOW)
    sm.run_available(inp, f"{base}/ckpt")
    return sm.state().select("id", "status", "version_id", "note")


# ---------------------------------------------------------------------------
# q83 — the applyInPandasWithState form of the task queue (SURVEY §1.1
# task-queue row; streaming/tasks.py task_progress_stateful): per-key
# operator state lives in the checkpointed state store instead of an
# external table. The fixture is delivered TWICE (two files, one file per
# micro-batch), so the oracle's n_updates = 2 proves state actually
# persisted across batches — a stateless pipeline would report 1.
#
# Scale: state is hash-partitioned by task id across executors; each
# micro-batch shuffles only its arrivals, state never rewrites in full.


@register(
    "q83_stateful_progress",
    oracle=f"""
    SELECT id, status, CAST(2 AS INT) AS n_updates, version_id AS max_version
    FROM read_parquet('{FX}/tasks.parquet')
    """,
    doc="applyInPandasWithState per-task progress over a redelivered "
        "stream drained availableNow (T1/T2/T3 operator-state form)",
    tags=("workflow", "streaming", "T2", "T3"),
)
def q83_stateful_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil

    from pyspark.sql import Window
    from ..scratch import scratch_dir
    from ..streaming.drain import drain
    from ..streaming.tasks import TASK_SCHEMA, task_progress_stateful

    base = scratch_dir("q83_stream")
    inp = f"{base}/in"
    _os.makedirs(inp)
    # two identical files = an at-least-once redelivery of every task
    shutil.copy(f"{FX}/tasks.parquet", f"{inp}/delivery_a.parquet")
    shutil.copy(f"{FX}/tasks.parquet", f"{inp}/delivery_b.parquet")

    stream = (
        spark.readStream.schema(TASK_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one delivery per micro-batch
        .parquet(inp)
    )
    # the task queue is small by nature (a poll page, not a corpus):
    # fewer state-store partitions cut per-batch fixed overhead
    emissions = drain(
        task_progress_stateful(stream), f"{base}/ckpt", f"{base}/out", partitions=4
    )
    last = Window.partitionBy("id").orderBy(F.desc("n_updates"))
    return (
        emissions.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select("id", "status", "n_updates", "max_version")
    )


# ---------------------------------------------------------------------------
# q84 — watermark-bounded streaming dedup (streaming/tasks.py
# dedup_stream): duplicate (id, version_id) deliveries are dropped IN the
# stream by dropDuplicatesWithinWatermark, so downstream consumers see
# each delivery once. Redelivered rows are removed either as in-horizon
# duplicates (state hit) or as late data (watermark passed) — both paths
# emit nothing, so the drained output equals the distinct delivery set.
#
# Scale: dedup state is bounded by arrival rate × ttl (watermark
# reclaims it), never by stream history — the trap plain
# dropDuplicates() on a stream walks into.


@register(
    "q84_stream_dedup",
    oracle=f"""
    SELECT id, status, version_id
    FROM read_parquet('{FX}/tasks.parquet')
    """,
    doc="dropDuplicatesWithinWatermark over a redelivered task stream "
        "drained availableNow (T2: at-least-once -> effectively-once)",
    tags=("workflow", "streaming", "T2", "T5"),
)
def q84_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil

    from ..scratch import scratch_dir
    from ..streaming.drain import drain
    from ..streaming.tasks import TASK_SCHEMA, dedup_stream

    base = scratch_dir("q84_stream")
    inp = f"{base}/in"
    _os.makedirs(inp)
    shutil.copy(f"{FX}/tasks.parquet", f"{inp}/delivery_a.parquet")
    shutil.copy(f"{FX}/tasks.parquet", f"{inp}/delivery_b.parquet")

    stream = (
        spark.readStream.schema(TASK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = drain(dedup_stream(stream), f"{base}/ckpt", f"{base}/out", partitions=4)
    return out.select("id", "status", "version_id")


# ---------------------------------------------------------------------------
# q86 — the external-service sink (S10) under audit. The reference POSTs
# each assembled message to a branch-chosen endpoint ($send-EMISOpen /
# TPP / GPConnect, dags/ConsultationNoteWritebackX.py:486-519 + :293-295).
# Here the data plane is fully deterministic — message assembly (U6),
# endpoint routing (T4), and a transport whose accept/reject decision is
# a pure function of the payload bytes — so the DuckDB oracle can
# recompute the per-endpoint send/fail tallies that the sink's
# accumulators report. The transport itself stays injected
# (sinks/external.py): one connection per partition, rows never visit
# the driver; only the counters do.


@register(
    "q86_external_send_audit",
    oracle=None,  # replaced below: composes q47's oracle as a CTE
    doc="per-endpoint send/fail audit of the foreachPartition external "
        "sink over routed message payloads (S10/T4/U6)",
    tags=("workflow", "S10", "T4"),
)
def q86_external_send_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.external import post_partitionwise
    from .dedup_queries import _md5_int

    payloads = q47_bundle_to_message(spark, sf_dir)
    h = _md5_int(F.concat_ws("", F.lit("route:"), F.col("encounter_identifier")))
    # materialize once: three per-endpoint sink passes must not re-run
    # the message-assembly UDF per pass
    from ..scratch import materialize

    routed = materialize(
        payloads.withColumn(
            "endpoint",
            F.element_at(
                F.array(F.lit("emis"), F.lit("gpconnect"), F.lit("tpp")),
                (h % 3 + 1).cast("int"),
            ),
        ),
        "q86_routed_payloads",
    )

    def transport_factory():
        # deterministic stand-in for an HTTP session: rejects payloads
        # whose byte length hits the modulus — a pure function of the
        # data, so the oracle can predict every status code
        return lambda payload: 500 if len(payload) % 97 == 0 else 201

    rows = []
    for ep in ("emis", "gpconnect", "tpp"):
        part = routed.filter(F.col("endpoint") == ep)
        sent, failed = post_partitionwise(part, "message_json", transport_factory)
        if sent + failed:
            rows.append((ep, sent + failed, sent, failed))
    return spark.createDataFrame(
        rows, "endpoint string, n_payloads long, n_sent long, n_failed long"
    )


def _q86_oracle() -> str:
    from .dedup_queries import _duck_md5_int
    from .registry import _REGISTRY

    q47 = _REGISTRY["q47_bundle_to_message"].oracle
    return f"""
    WITH msg AS ({q47}),
    routed AS (
      SELECT message_json,
        CASE {_duck_md5_int("'route:' || encounter_identifier")} % 3
          WHEN 0 THEN 'emis' WHEN 1 THEN 'gpconnect' ELSE 'tpp' END AS endpoint
      FROM msg
    )
    SELECT endpoint,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(count(*) FILTER (len(message_json) % 97 <> 0) AS BIGINT) AS n_sent,
           CAST(count(*) FILTER (len(message_json) % 97 = 0) AS BIGINT) AS n_failed
    FROM routed GROUP BY endpoint
    """


def _patch_q86_oracle() -> None:
    from .registry import _REGISTRY

    _REGISTRY["q86_external_send_audit"].oracle = _q86_oracle()


_patch_q86_oracle()


# ---------------------------------------------------------------------------
# q97 — stream-stream interval join under watermarks: click→purchase
# attribution within a 30-minute window, as a Structured Streaming join
# (the batch interval join is q65/q66's territory; THIS is the streaming
# operator — two unbounded sources, per-side watermarks, and a join
# whose buffered state the time-range condition lets Spark evict).
#
# Both sides are drained availableNow in a single micro-batch, so the
# watermark never drops a row and the drained output equals the batch
# join bit-for-bit — that equivalence IS the oracle. The watermarks are
# still load-bearing for the operator: without both, Spark rejects the
# append-mode stream-stream join outright at analysis time (state would
# be unbounded); with them, click state older than watermark + 30 min
# is reclaimed every trigger at scale.
#
# Scale shape: both streams hash-partition on user_id; the join state
# per key is bounded by the interval width × arrival rate. No driver
# collection anywhere — the native file sink appends partition-wise to
# parquet.

ATTRIB_WINDOW_MIN = 30


@register(
    "q97_stream_attribution",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts - c.ts) AS BIGINT) AS lag_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE
    """,
    doc="watermarked stream-stream interval join (click->purchase "
    "attribution), drained availableNow; state bounded by the interval",
    tags=("workflow", "streaming", "T5", "J1"),
)
def q97_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stream_attribution(spark, sf_dir, production=False)


def _stream_attribution(
    spark: SparkSession, sf_dir: str, production: bool
) -> DataFrame:
    """Two input shapes, one streaming join:

    * ``production=False`` (the oracle-gated registry entry): each side
      lands as ONE file → one micro-batch per source under availableNow,
      so every row is processed before any watermark advances — nothing
      is late, and streaming output == batch join bit-for-bit. The
      ``coalesce(1)`` funnel is determinism plumbing for the oracle, not
      the production shape.
    * ``production=True`` (pytest-exercised): each side lands as
      TIME-ORDERED slices consumed one file per micro-batch
      (``maxFilesPerTrigger=1``) — the real multi-trigger shape where
      watermarks advance BETWEEN batches and join state is actually
      evicted. Time-ordered delivery is watermark-safe: a click is
      evicted only once the purchase-side watermark passes click_ts +
      30 min, and ordered slices guarantee every purchase still able to
      match has already arrived (late-arriving UNORDERED feeds are
      exactly what the 10-min delay absorbs in production). The pytest
      case asserts multi-batch output == the single-batch/batch-join
      result, proving the eviction discipline drops nothing."""
    from ..scratch import scratch_dir
    from ..streaming.drain import drain

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    base = scratch_dir("q97_stream_prod" if production else "q97_stream")
    clicks_in, purch_in = f"{base}/clicks", f"{base}/purchases"
    clicks_df = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        # watermarks require TIMESTAMP (LTZ); only DIFFERENCES reach the
        # output, so the wall-clock->instant reinterpretation is inert
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    purch_df = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )
    from ..concurrency import run_concurrently

    if production:
        # one appended file per time slice, written oldest-first —
        # sequential writes WITHIN a side give increasing mtimes, which
        # the file stream source's ordering respects, so micro-batches
        # replay each feed in event-time order (a Kafka topic's shape).
        # The two sides are independent directories staged concurrently
        # (guide §2.6): per-source file order is all that matters —
        # maxFilesPerTrigger=1 pairs files by index per source, never by
        # cross-side mtime.
        bounds = ev.select(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        n_slices = 3
        span = (bounds.hi - bounds.lo) / n_slices

        def _stage(df, ts_col: str, path: str) -> None:
            for i in range(n_slices):
                lo = bounds.lo + span * i
                hi = (
                    bounds.hi
                    if i == n_slices - 1
                    else bounds.lo + span * (i + 1)
                )
                upper = (
                    (F.col(ts_col) <= F.lit(hi))
                    if i == n_slices - 1
                    else (F.col(ts_col) < F.lit(hi))
                )
                df.filter((F.col(ts_col) >= F.lit(lo)) & upper).coalesce(
                    1
                ).write.mode("append").parquet(path)

        run_concurrently(
            lambda: _stage(clicks_df, "click_ts", clicks_in),
            lambda: _stage(purch_df, "purchase_ts", purch_in),
        )
    else:
        run_concurrently(
            lambda: clicks_df.coalesce(1).write.parquet(clicks_in),
            lambda: purch_df.coalesce(1).write.parquet(purch_in),
        )

    click_reader = spark.readStream.schema(
        "user_id long, click_id long, click_ts timestamp"
    )
    purch_reader = spark.readStream.schema(
        "p_user_id long, purchase_id long, purchase_ts timestamp"
    )
    if production:
        click_reader = click_reader.option("maxFilesPerTrigger", 1)
        purch_reader = purch_reader.option("maxFilesPerTrigger", 1)
    clicks = click_reader.parquet(clicks_in).withWatermark("click_ts", "10 minutes")
    purchases = purch_reader.parquet(purch_in).withWatermark(
        "purchase_ts", "10 minutes"
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTES"""
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        # microseconds: exact integers in both engines (DuckDB's
        # date_diff('second') counts BOUNDARY CROSSINGS, Spark's
        # timestampdiff counts elapsed units — they disagree inside a
        # second; epoch_us vs MICROSECOND diff are both exact)
        F.expr("timestampdiff(MICROSECOND, click_ts, purchase_ts)").alias("lag_us"),
    )

    return drain(joined, f"{base}/ckpt", f"{base}/out", partitions=8)


# ---------------------------------------------------------------------------
# q120 — STREAMING sessionization: q59's session_window operator run as
# a watermarked Structured Streaming aggregation (append mode), drained
# availableNow. Append-mode session aggregates emit only when the
# watermark passes the session end, and the watermark only advances at
# micro-batch boundaries — so the feed is staged as two time-ordered
# files consumed one per trigger (maxFilesPerTrigger=1): the real
# events, then ONE far-future sentinel event (user_id < 0) that pushes
# the watermark past every real session's end; the closing NO-DATA
# micro-batch (availableNow runs it because the stateful operator
# requests another batch whenever the watermark advanced) applies that
# watermark and flushes the final sessions — the classic append-mode
# flush gap, closed by the engine's own flush batch instead of a second
# staged sentinel. Sentinels are filtered from the output; the oracle
# is the batch gaps-and-islands derivation plus per-session value
# totals, so parity proves streaming emission == batch semantics.
#
# Scale: session state is hash-partitioned by user_id and merged
# map-side; the watermark bounds state to open sessions only. The
# sentinel trick is test plumbing — a production feed advances the
# watermark with its own arrivals.

SESSION_GAP_MIN = 30


@register(
    "q120_stream_sessions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 1000) AS BIGINT) AS vm
      FROM events
    ),
    flag AS (
      SELECT user_id, ts, vm,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT user_id, ts, vm,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM flag
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(vm) AS BIGINT) AS value_millis
    FROM sid
    GROUP BY user_id, s
    """,
    doc="streaming session_window aggregation (watermarked, append mode, "
    "availableNow drain) == batch gaps-and-islands sessions",
    tags=("workflow", "streaming", "T5", "session"),
)
def q120_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    from ..scratch import scratch_dir
    from ..streaming.drain import drain

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    base = scratch_dir("q120_sessions")
    inp = f"{base}/in"

    feed = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("vm"),
    )
    # file 1: the real feed; file 2: ONE watermark-advancing sentinel.
    # The sentinel batch's arrivals push the watermark past every real
    # session's end, and Spark's closing NO-DATA micro-batch (run by
    # availableNow exactly because stateful operators request another
    # batch when the watermark advanced) applies it and flushes the
    # final emissions — measured live: the no-data batch runs after the
    # last data batch in this exact drain, so the old SECOND sentinel
    # file (one more staged write + one more data micro-batch) bought
    # nothing (r14, guide §1 measure-first).  The feed max rides the
    # staging write as an observe() metric instead of a separate
    # aggregate job over the events scan (one pass, not two).
    # Sentinels are built JVM-side (range(1) + literals): a 1-row
    # createDataFrame pays ~5 s of Python-serialization setup per call,
    # which would dominate the whole query.
    from pyspark.sql import Observation

    obs = Observation()
    feed.observe(obs, F.max("ts").alias("hi")).coalesce(1).write.parquet(inp)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, vm long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
        .withWatermark("ts", "10 minutes")
    )
    sessions = (
        stream.groupBy(
            "user_id",
            F.session_window(F.col("ts"), f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vm").alias("value_millis"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "value_millis",
        )
    )

    hi = obs.get["hi"]
    if hi is None:
        # empty feed: no sessions to emit and no event-time max to place
        # the sentinel after (the source lists its files only at start())
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), sessions.schema)
    spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(hi + _dt.timedelta(hours=2)).cast("timestamp").alias("ts"),
        F.lit(0).cast("long").alias("vm"),
    ).coalesce(1).write.mode("append").parquet(inp)

    out = drain(sessions, f"{base}/ckpt", f"{base}/out", partitions=8)
    return out.filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# q130 — STREAMING incremental rollup through the MergeWriter seam: the
# events feed arrives as two micro-batches (maxFilesPerTrigger=1); an
# update-mode streaming aggregation emits each batch's CHANGED
# (event_type, day) cumulative rows, and foreachBatch upserts them into
# a parquet rollup table via ParquetSwapMergeWriter.merge_incoming with
# full_sync=False — the incremental form: keys untouched by a batch
# must survive, which is exactly the clause the full-sync (snapshot)
# merge would get wrong. The oracle recomputes the rollup from ALL
# events in one pass, so parity proves stream-maintained state ==
# batch truth. On Delta the foreachBatch body is the DELETE-less MERGE
# (DeltaMergeWriter.merge_sql(full_sync=False)).
#
# Scale: the aggregation state is |event_type × day| (bounded domain);
# each batch shuffles only its arrivals; the merge shuffles only
# changed keys. This is q90's batch algebra running live.


@register(
    "q130_stream_rollup_merge",
    oracle="""
    SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
    FROM events
    GROUP BY event_type, day
    """,
    doc="streaming incremental rollup: update-mode agg deltas upserted "
    "per micro-batch through MergeWriter (full_sync=False)",
    tags=("workflow", "streaming", "T2", "S7"),
)
def q130_stream_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..sinks.merge_writer import ParquetSwapMergeWriter
    from ..streaming.drain import drain

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    base = scratch_dir("q130_rollup")
    inp, target = f"{base}/in", f"{base}/rollup"

    feed = ev.select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("vm"),
        "event_id",
    )
    # two batches split by event id parity — each touches most days, so
    # the second batch exercises UPDATE paths, not just inserts.  The
    # feed staging (one directory, sequential appends) and the empty
    # rollup seed (a different directory) are independent: overlap them
    # from two driver threads (guide §2.6).
    from ..concurrency import run_concurrently

    def _stage_feed() -> None:
        feed.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(inp)
        feed.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def _seed_rollup() -> None:
        # JVM-side empty relation: range(0) projected to the rollup
        # schema (a Python-serialized createDataFrame([]) pays encoder
        # setup for nothing)
        spark.range(0).select(
            F.lit(None).cast("string").alias("event_type"),
            F.lit(None).cast("date").alias("day"),
            F.lit(None).cast("long").alias("n_events"),
            F.lit(None).cast("long").alias("value_millis"),
        ).write.parquet(target)

    run_concurrently(_stage_feed, _seed_rollup)
    writer = ParquetSwapMergeWriter(spark, target)

    stream = spark.readStream.schema(
        "event_type string, ts timestamp, vm long, event_id long"
    ).option("maxFilesPerTrigger", 1).parquet(inp)
    agg = stream.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vm").alias("value_millis"),
    )

    drain(
        agg,
        f"{base}/ckpt",
        lambda df, _bid: writer.merge_incoming(
            df, key=["event_type", "day"], full_sync=False
        ),
        partitions=8,
    )
    return writer.read()


# ---------------------------------------------------------------------------
# q144 — stream-static enrichment join: the canonical Structured
# Streaming dimension lookup. The event feed streams in micro-batches
# (maxFilesPerTrigger=1 over a 3-file input → 3 separate batches); each
# batch inner-joins the STATIC customer dimension — stateless, no
# watermark, no state store; Spark broadcasts the dim per batch exactly
# as it would on a cluster (at 100 TB/day the stream side never
# shuffles; only the bounded dim moves). Batch==streaming equivalence is
# the oracle: the same join + aggregate computed without streaming. The
# aggregate runs BATCH over the sink parquet, keeping the streaming leg
# append-only and stateless.

@register(
    "q144_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(e.value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    doc="stream-static dimension enrichment: micro-batched event feed "
    "inner-joins the static customer dim (stateless, per-batch broadcast, "
    "no state store); batch==streaming equivalence oracle",
    tags=("streaming", "J1"),
)
def q144_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..streaming.drain import drain

    t = load_tables(spark, sf_dir, ["events", "customer"])
    base = scratch_dir("q144_enrich")
    inp = f"{base}/in"

    feed = t["events"].select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("bigint").alias("vm"),
    )
    # three files → three micro-batches under maxFilesPerTrigger=1
    feed.repartition(3).write.parquet(inp)

    dim = t["customer"].select("c_custkey", "c_mktsegment")
    stream = (
        spark.readStream.schema("user_id long, event_type string, vm long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    enriched = stream.join(dim, stream.user_id == dim.c_custkey).select(
        "c_mktsegment", "event_type", "user_id", "vm"
    )

    return (
        drain(enriched, f"{base}/ckpt", f"{base}/out", partitions=8)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("vm").alias("value_millis"),
        )
    )


# ---------------------------------------------------------------------------
# q242 — stream-stream LEFT OUTER interval join: q97's click→purchase
# attribution, but every click is accounted for — matched rows emit
# immediately, UNMATCHED clicks emit NULL-padded exactly once, when the
# join watermark passes their last-possible-match instant (click_ts +
# window) and Spark evicts the buffered row.  This is the semantics
# batch LEFT JOIN gets for free and streaming has to EARN through state
# eviction — the operator production attribution pipelines need so that
# "no purchase" is a row, not an absence.
#
# Emission timing is the whole test: an outer-join NULL appears only in
# a micro-batch AFTER the one whose arrivals advanced the watermark
# (watermarks update at batch end and apply next batch — q120's flush
# gap).  The feed is therefore staged time-ordered at one file per
# trigger: the real rows, then ONE far-future sentinel file per side
# (user_id = -1, +2h) that pushes both sides' watermarks past every
# click's eviction point; the engine's closing no-data micro-batch
# applies it and emits the NULL rows.  Sentinels are filtered from the
# output; time-ordered
# delivery guarantees no real click evicts while a matching purchase is
# still undelivered (purchase_ts <= click_ts + window < global wm <=
# delivered-max - delay), so the drained stream equals the batch LEFT
# JOIN bit-for-bit — that equivalence is the oracle.
#
# Scale shape: identical to q97 (hash-partition on user_id, state
# bounded by interval width x arrival rate) plus the left-side rows
# held until watermark eviction — which is exactly the memory the
# NULL-emission contract costs on any engine.

Q242_SENTINEL_H = (2,)


@register(
    "q242_stream_attribution_outer",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts - c.ts) AS BIGINT) AS lag_us
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE
    WHERE c.event_type = 'click'
    """,
    doc="stream-stream LEFT OUTER interval join: matched rows emit "
    "immediately, unmatched clicks emit NULL-padded on watermark "
    "eviction (sentinel + no-data-batch flush); drained output == "
    "batch LEFT JOIN",
    tags=("workflow", "streaming", "T5", "J2"),
)
def q242_stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..streaming.drain import drain

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    base = scratch_dir("q242_stream_outer")
    clicks_in, purch_in = f"{base}/clicks", f"{base}/purchases"
    clicks_df = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    purch_df = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )
    # file 1 per side: all real rows (time-ordered delivery is trivial
    # with one real file); file 2: ONE far-future sentinel whose batch
    # pushes both sides' watermarks past every click's eviction point —
    # the NULL emissions then flush in the engine's closing NO-DATA
    # micro-batch (availableNow runs it because the join's state-cleanup
    # predicate requests another batch when the watermark advanced), so
    # the old SECOND sentinel pair (two staged writes + one data batch
    # per side) bought nothing (r14, guide §1 measure-first).  Each
    # side's event-time max rides its own staging write as an observe()
    # metric — no separate bounds aggregate over the events scan — and
    # the sentinel ts derives from max(click_ts, purchase_ts), which
    # bounds every click's eviction point just as the old whole-events
    # max did (sentinels are filtered from the output either way).
    # The two SIDES are independent feed directories: stage them from
    # two driver threads (guide §2.6) — within a side the writes stay
    # sequential (mtime order is load-bearing; concurrent appends to one
    # directory also race the output committer), across sides only the
    # per-source file ORDER matters, never cross-side mtimes
    # (maxFilesPerTrigger=1 pairs files by index per source).
    from pyspark.sql import Observation

    from ..concurrency import run_concurrently

    obs_c, obs_p = Observation(), Observation()

    def _stage_clicks() -> None:
        clicks_df.observe(obs_c, F.max("click_ts").alias("hi")).coalesce(
            1
        ).write.mode("append").parquet(clicks_in)

    def _stage_purchases() -> None:
        purch_df.observe(obs_p, F.max("purchase_ts").alias("hi")).coalesce(
            1
        ).write.mode("append").parquet(purch_in)

    run_concurrently(_stage_clicks, _stage_purchases)
    bounds = [h for h in (obs_c.get["hi"], obs_p.get["hi"]) if h is not None]
    if bounds:  # no rows on either side -> nothing buffered, no flush needed
        (h,) = Q242_SENTINEL_H
        sent = F.lit(max(bounds)) + F.expr(f"INTERVAL {h} HOURS")

        def _sent_clicks() -> None:
            spark.range(1).select(
                F.lit(-1).cast("long").alias("user_id"),
                F.lit(-1).cast("long").alias("click_id"),
                sent.alias("click_ts"),
            ).coalesce(1).write.mode("append").parquet(clicks_in)

        def _sent_purchases() -> None:
            spark.range(1).select(
                F.lit(-1).cast("long").alias("p_user_id"),
                F.lit(-1).cast("long").alias("purchase_id"),
                sent.alias("purchase_ts"),
            ).coalesce(1).write.mode("append").parquet(purch_in)

        run_concurrently(_sent_clicks, _sent_purchases)

    clicks = (
        spark.readStream.schema("user_id long, click_id long, click_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(clicks_in)
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        spark.readStream.schema(
            "p_user_id long, purchase_id long, purchase_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(purch_in)
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTES"""
        ),
        "leftOuter",
    )
    # 4 partitions, not q97's 8: the outer join holds EVERY click in
    # state until watermark eviction, so per-batch state-store commit
    # cost scales with partition count x batches; 8 -> 4 measured
    # 7.3s -> 4.2s at sf0.1 with identical output (state still fits
    # trivially; a production deployment sizes this to arrival rate)
    out = drain(joined, f"{base}/ckpt", f"{base}/out", partitions=4)
    # The streaming plan stays a BARE join: a user_id >= 0 filter
    # attached to it gets pushed below the EventTimeWatermark collection
    # (the key equality lets Catalyst derive p_user_id >= 0 for the right
    # side too), which silently deletes the sentinels' watermark
    # contribution — and the latest real click then never evicts.
    # Verified live: with the filter in-plan the drain emitted 209/210
    # rows, the missing row being the max-ts click's NULL emission.
    # Sentinel filtering and the output projection therefore run on the
    # drained rows, a plain batch read that cannot feed back into
    # watermark tracking.
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.expr("timestampdiff(MICROSECOND, click_ts, purchase_ts)").alias("lag_us"),
    )
