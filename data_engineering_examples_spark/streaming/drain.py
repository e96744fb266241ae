"""One ``availableNow`` drain for every streaming query.

The reference polls its task queue from an Airflow DAG once a minute;
here each streaming query runs until the current end of its sources
(``trigger(availableNow=True)``) and stops.  ``drain`` owns what every
such run repeats: the trigger, the checkpoint, the session confs the
run pins, and the sink.

* A **directory** sink is Spark's native parquet file sink (append
  mode): rows go from the executors straight to files, and the sink's
  ``_spark_metadata`` commit log makes a restart resume after the last
  committed batch.  The drained rows come back as a batch read that
  honours that log.
* A **callable** sink is a ``foreachBatch`` target in update mode, for
  drains whose per-batch work is more than an append (a merge, a state
  table swap).  Update mode equals append mode for a stateless stream.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

#: Watermarked drains (q120, q242) flush their final rows in the
#: engine's closing no-data micro-batch, so every drain pins this conf on
#: for its own run rather than inheriting whatever the session carries.
NO_DATA_BATCHES_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def drain(
    stream: DataFrame,
    checkpoint: str,
    sink: str | Callable[[DataFrame, int], None],
    *,
    partitions: int | None = None,
) -> DataFrame | None:
    """Run ``stream`` to the current end of its sources into ``sink``.

    ``partitions`` sets ``spark.sql.shuffle.partitions`` for this run
    (a checkpoint pins the state-store partition count on first start);
    the session's own values are restored afterwards.  Returns the
    drained rows for a directory sink, ``None`` for a callable."""
    spark = stream.sparkSession
    pinned = {NO_DATA_BATCHES_CONF: "true"}
    if partitions is not None:
        pinned["spark.sql.shuffle.partitions"] = str(partitions)
    prev = {k: spark.conf.get(k) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        w = stream.writeStream.option("checkpointLocation", checkpoint)
        if callable(sink):
            w = w.foreachBatch(sink).outputMode("update")
        else:
            w = w.format("parquet").option("path", sink)
        w.trigger(availableNow=True).start().awaitTermination()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    if callable(sink):
        return None
    return spark.read.schema(stream.schema).parquet(sink)
