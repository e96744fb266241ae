"""A warm pass compiles nothing.

``get_spark`` sizes Spark's generated-code cache above the engine's
working set, so a query that ran before is served from the cache: its
whole-stage and expression classes are not compiled again.  At Spark's
default of 100 entries, the eight star-schema queries below compile
about 128 classes in every pass, because together they need more than
the cache holds and its LRU order evicts each class before its next use.
"""

from __future__ import annotations

from data_engineering_examples_spark.plans import all_specs
from data_engineering_examples_spark.session import codegen_compiles

#: the star-schema scan/join/aggregate and window queries of the
#: ``olap_star`` benchmark workload, by registry prefix
OLAP_STAR = "q01 q02 q53 q162 q265 q271 q59 q91".split()


def _pass(spark, specs, sf_dir) -> int:
    before = codegen_compiles(spark)
    for spec in specs:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark) - before


def test_third_pass_compiles_nothing(spark, sf_dir):
    by_prefix = {n.split("_")[0]: s for n, s in all_specs().items()}
    specs = [by_prefix[q] for q in OLAP_STAR]
    compiles = [_pass(spark, specs, sf_dir) for _ in range(3)]
    assert compiles[0] > 0, "the compile counter did not move at all"
    assert compiles[2] == 0, f"compiles per pass: {compiles}"
