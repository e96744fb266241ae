"""Set-up steps a workload needs before its first timed pass.

Each step pays a lazily created runtime's start-up cost once, so the timed
passes measure steady state: the JVM's first scan and shuffle, the Python
worker pool, the Python DataSource, the streaming state-store and
micro-batch machinery, and the dedup substrates that a production
pipeline builds once per corpus snapshot.
"""

from __future__ import annotations

import os
import zipfile

from workloads import SUBSTRATES


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def jvm(spark, data_dir: str) -> None:
    li = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    _noop(li.groupBy("l_returnflag").sum("l_quantity"))


def python(spark, data_dir: str) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    ident = pandas_udf(lambda s: s, "long")
    _noop(spark.range(64).select(ident(F.col("id"))))


def datasource(spark, data_dir: str) -> None:
    from data_engineering_examples_spark.scratch import scratch_dir
    from data_engineering_examples_spark.sources import ods_datasource

    ods_datasource.register(spark)
    path = os.path.join(scratch_dir("perfbench_warm_ds"), "warm.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m1.csv", "X1,n\n")
        z.writestr("m2.csv", "X2,n\n")
    _noop(spark.read.format("ods_zip").load(path))


def _count_state(key, pdfs, state):
    import pandas as pd

    n = sum(len(p) for p in pdfs)
    state.update((n,))
    yield pd.DataFrame([{"id": int(key[0]), "n": n}])


def streaming(spark, data_dir: str) -> None:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from data_engineering_examples_spark.scratch import scratch_dir

    base = scratch_dir("perfbench_warm_stream")
    spark.range(4).selectExpr("id", "id AS v").coalesce(1).write.parquet(f"{base}/in")
    q = (
        spark.readStream.schema("id long, v long").parquet(f"{base}/in")
        .groupBy("id")
        .applyInPandasWithState(_count_state, "id long, n int", "n int",
                                "update", GroupStateTimeout.NoTimeout)
        .writeStream.foreachBatch(lambda df, _b: df.count())
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def substrates(spark, data_dir: str) -> None:
    """Build the dedup substrates the workload's queries serve from."""
    from data_engineering_examples_spark.plans.substrates import substrate_builders

    builders = substrate_builders()
    for name in SUBSTRATES:
        builders[name](spark, data_dir)


STEPS = {
    "jvm": jvm,
    "python": python,
    "datasource": datasource,
    "streaming": streaming,
    "substrates": substrates,
}
