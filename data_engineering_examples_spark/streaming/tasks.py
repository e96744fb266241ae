"""L6 — workflow streaming: the consultation-writeback task queue as
Structured Streaming (SURVEY §2 T1-T5, S4, S9, P8; §7.1 L6).

The reference polls a FHIR server every minute from an Airflow DAG
(``dags/ConsultationNoteWritebackX.py:47-113``), fans out one child-DAG
run per accepted Task, and PUTs read-modify-write status transitions with
audit notes (``:128-234``). Here:

* **poll** (T1/W1/P8) — the search-param dict becomes a filter + sort +
  limit over the tasks table; the version runaway guard (versionId>1000,
  ``:88``) and the completed-skip (``:404-411``) are predicates.
* **stream** (S9: status writeback) — ``readStream`` over the tasks
  directory; each new file is a micro-batch (the 1-minute poll becomes
  an ``availableNow`` drain through ``streaming/drain.py``). State
  transitions run per micro-batch in ``TaskStateMachine.process_batch``,
  the drain's callable sink, through the same set-based changeset
  algebra as L5 — on a Delta sink this is a MERGE per micro-batch.
* **at-least-once guards** (T2) — batch-local ``dropDuplicates`` on task
  id (keep max version) + terminal-state check against the state table:
  re-delivered tasks transition at most once; completed/failed/cancelled
  never regress.
* **audit notes** (T3) — every transition appends ``{time, text}`` to the
  notes array (``array_union``-style concat), mirroring ``:137-141``.
* **watermark** (T5) — ``task_throughput`` shows the windowed-aggregation
  form with ``withWatermark`` bounding late arrivals.

Scale: state is keyed by task id — the MERGE shuffles on id only; the
poll filter pushes to the scan. No driver loops; fan-out parallelism is
partition parallelism, not one DAG run per task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import drain

VERSION_RUNAWAY = 1000  # poll guard, ConsultationNoteWritebackX.py:88
TERMINAL = ("completed", "failed", "cancelled", "rejected")

# accepted → in-progress → completed; the reference's failure/cancel
# callbacks write the corresponding terminal state instead.
NEXT_STATUS = {"accepted": "in-progress", "in-progress": "completed"}

TASK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("authored_on", T.TimestampNTZType()),
        T.StructField("version_id", T.IntegerType()),
        T.StructField("focus_identifier_system", T.StringType()),
        T.StructField("focus_identifier_value", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("output", T.StringType()),
        T.StructField("resource_string", T.StringType()),
    ]
)

_NOTE = T.ArrayType(
    T.StructType(
        [T.StructField("time", T.StringType()), T.StructField("text", T.StringType())]
    )
)


def poll_tasks(
    tasks: DataFrame,
    status: str = "accepted",
    authored_after: str = "2025-07-01",
    page_size: int = 5,
) -> DataFrame:
    """The FHIR search-param dict (`_sort=-authored-on, authored-on=gt…,
    _count=N, status=…`, ConsultationNoteWritebackX.py:63-68) as a plan:
    pushed filters + TakeOrderedAndProject top-k. Includes the version
    runaway guard (P8/T2)."""
    return (
        tasks.filter(
            (F.col("status") == status)
            & (F.col("authored_on") > F.lit(authored_after).cast("timestamp_ntz"))
            & (F.col("version_id") <= VERSION_RUNAWAY)
        )
        .orderBy(F.desc("authored_on"))
        .limit(page_size)
    )


def _append_note(notes_col, text: str, ts_col):
    """notes JSON string + one audit entry → JSON string (T3)."""
    parsed = F.coalesce(
        F.from_json(notes_col, _NOTE), F.array().cast(_NOTE)
    )
    entry = F.struct(
        F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss+00:00").alias("time"),
        F.lit(text).alias("text"),
    )
    return F.to_json(F.concat(parsed, F.array(entry)))


class TaskStateMachine:
    """MERGE-per-micro-batch task state store over parquet.

    ``process_batch`` is a ``foreachBatch`` target: it advances every
    non-terminal incoming task one transition, appends the audit note,
    and rewrites the state table. On Delta this whole body is one
    ``MERGE INTO state USING batch ON id WHEN MATCHED/NOT MATCHED``.
    """

    def __init__(self, spark: SparkSession, state_dir: str, now_utc: str | None = None):
        self.spark = spark
        self.state_dir = state_dir
        # injectable clock for replayable tests; prod passes None → now()
        self._now = (
            F.lit(now_utc).cast("timestamp_ntz")
            if now_utc
            else F.now().cast("timestamp_ntz")
        )

    def _recover(self) -> None:
        """Crash recovery for the rename swap: dying between the two
        renames leaves the only surviving state at the old-side path
        (live dir missing) — restore the PRE-batch state. The streaming
        checkpoint replays the unacknowledged batch, and replay-over-old
        recomputes the identical transition (the clock is injected);
        adopting the tmp dir instead would advance the batch twice.

        Runs once per batch entry (and per cold ``state()`` read), NOT
        per state-frame construction: a crash can only interleave with a
        swap, and ``process_batch`` swaps exactly once at its end — so
        the two state reads inside one batch see the same recovered
        layout, and an object store pays one existence probe (a LIST
        round-trip on S3/GCS) per batch instead of two."""
        from ..sources.layout import recover_swap

        recover_swap(self.state_dir)

    def state(self) -> DataFrame:
        self._recover()
        return self._state_frame()

    def _state_frame(self) -> DataFrame:
        """Plain read of the (already-recovered) state dir."""
        if os.path.exists(os.path.join(self.state_dir, "_SUCCESS")):
            return self.spark.read.schema(TASK_SCHEMA).parquet(self.state_dir)
        return self.spark.createDataFrame([], TASK_SCHEMA)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._recover()
        # T2: collapse re-deliveries inside the batch — keep max version
        latest = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.desc("version_id"))
                ),
            )
            .filter((F.col("_rn") == 1) & (F.col("version_id") <= VERSION_RUNAWAY))
            .drop("_rn")
        )

        # the state row (when present) is the truth a redelivery must NOT
        # overwrite — read-modify-write like the reference's GET-latest-
        # then-PUT (ConsultationNoteWritebackX.py:131-135), but set-based
        state = self._state_frame().select(
            "id", *[F.col(c).alias(f"st_{c}") for c in TASK_SCHEMA.names if c != "id"]
        )
        joined = latest.join(state, "id", "left")

        def cur(c: str):
            return F.coalesce(F.col(f"st_{c}"), F.col(c))

        # terminal states never regress (T2); others advance one step
        cur_status = cur("status")
        nxt = F.coalesce(
            *[
                F.when(cur_status == a, F.lit(b)).otherwise(F.lit(None))
                for a, b in NEXT_STATUS.items()
            ],
            cur_status,
        )
        advanced = joined.filter(~cur_status.isin(*TERMINAL)).select(
            "id",
            nxt.alias("status"),
            cur("authored_on").alias("authored_on"),
            (cur("version_id") + 1).alias("version_id"),
            cur("focus_identifier_system").alias("focus_identifier_system"),
            cur("focus_identifier_value").alias("focus_identifier_value"),
            _append_note(cur("note"), "transition", self._now).alias("note"),
            cur("output").alias("output"),
            cur("resource_string").alias("resource_string"),
        )

        new_state = (
            self._state_frame()
            .join(advanced.select("id"), "id", "left_anti")
            .unionByName(advanced)
        )
        # state_dir is both source and sink, so the new state is written
        # executor-side to a temp dir while the old dir is still readable,
        # then swapped in with two renames (sources/layout.py:swap_write,
        # which also owns the crash-recovery discipline) — no driver
        # materialization, so the state table can be arbitrarily large.
        # On Delta, MERGE makes this a transactional in-place upsert.
        from ..sources.layout import swap_write

        swap_write(new_state, self.state_dir)

    def run_available(self, input_dir: str, checkpoint_dir: str) -> None:
        """Drain all unprocessed files (T1: the poll trigger, run to the
        current end of stream)."""
        stream = self.spark.readStream.schema(TASK_SCHEMA).parquet(input_dir)
        drain(stream, checkpoint_dir, self.process_batch)


def task_throughput(stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Windowed task-arrival counts with a watermark bounding late data
    (T5): late arrivals beyond 10 minutes are dropped from closed
    windows instead of growing state forever."""
    return (
        stream.withColumn("ts", F.col("authored_on").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("w"), "status")
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            "status",
            "count",
        )
    )


# ---------------------------------------------------------------------------
# Advanced stateful form (SURVEY §1.1 task-queue row: "Structured Streaming
# source + applyInPandasWithState/foreachBatch upsert"). The MERGE-per-batch
# TaskStateMachine above is the simple, Delta-friendly form; this is the
# operator-state form — per-key state lives in the streaming state store
# (checkpointed, partitioned by key), so no external state table is read or
# rewritten per batch. Use it when per-key logic outgrows MERGE algebra
# (counters, timers, session-like accumulation).

TASK_PROGRESS_SCHEMA = (
    "id string, status string, n_updates int, max_version int"
)
_PROGRESS_STATE_SCHEMA = "n_updates int, max_version int, status string"


def task_progress_stateful(stream: DataFrame) -> DataFrame:
    """Per-task progress tracker: counts deliveries, keeps the
    highest-version status seen (at-least-once tolerant — re-deliveries
    bump ``n_updates`` but can never regress ``status`` to a lower
    version). State is (n_updates, max_version, status) per task id.

    Each micro-batch emits one progress snapshot per task it touched;
    the output is an append-only log of those snapshots (the latest per
    task has the largest ``n_updates``), so it drains into a plain
    append sink."""
    import pandas as pd  # local: executors import lazily

    def update(key, pdfs, state):
        if state.exists:
            n, vmax, status = state.get
        else:
            n, vmax, status = 0, -1, None
        for pdf in pdfs:
            for ver, st in zip(pdf["version_id"], pdf["status"]):
                n += 1
                v = -1 if ver is None or pd.isna(ver) else int(ver)
                if v > vmax:
                    vmax, status = v, st
        state.update((n, vmax, status))
        yield pd.DataFrame(
            [{"id": key[0], "status": status, "n_updates": n, "max_version": vmax}]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("id").applyInPandasWithState(
        update,
        TASK_PROGRESS_SCHEMA,
        _PROGRESS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def dedup_stream(stream: DataFrame, ttl: str = "30 minutes") -> DataFrame:
    """Streaming at-least-once → effectively-once (T2) via
    ``dropDuplicatesWithinWatermark``: duplicate (id, version_id)
    deliveries inside the watermark horizon are dropped IN the stream —
    state for a key is reclaimed once the watermark passes it, so the
    dedup store is bounded by arrival rate × ttl, not by history size
    (the unbounded-state trap of plain ``dropDuplicates`` on streams)."""
    return (
        stream.withColumn("ts", F.col("authored_on").cast("timestamp"))
        .withWatermark("ts", ttl)
        .dropDuplicatesWithinWatermark(["id", "version_id"])
        .drop("ts")
    )
