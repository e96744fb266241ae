"""L1/L3 — FHIR document store sources (bronze + search projections).

Re-expresses the reference's two-layer FHIR storage model on parquet:

* **bronze** ``resources(id, key, resource_type, resource_string,
  last_updated, version_id)`` mirrors ``HSFHIR_X0001_R.Rsrc``
  (reference: ``notebooks/RaceAndEthnicCategorySQL.ipynb`` cell 3 queries
  ``from HSFHIR_X0001_R.Rsrc where ResourceType = 'Patient'``;
  ``OlderExamples/SQLConnections.ipynb`` cell 5). The resource JSON stays
  a string column, extracted lazily — ``get_json_object`` / ``from_json``
  / the FHIRPath UDFs — so the scan only pays for what a query touches.
* **silver** per-type search projections mirror ``HSFHIR_X0001_S.*``
  (``dags/ODSImport.py:119-123`` Organization, ``:356-360`` Practitioner,
  ``:485-490`` PractitionerRole; ``notebooks/DiabetesSQL.ipynb`` cell 3
  Patient/Condition) — one row per resource, one column per FHIR search
  parameter. The ``observation_value_quantity`` child table mirrors
  ``HSFHIR_X0001_S_Observation.valueQuantity``
  (``notebooks/DiabetesSQL.ipynb`` cell 23).

Fixture data is generated by ``tools/gen_fixtures.py`` (seed=42) into
``<repo>/fixtures``; schemas in FIXTURES.md.

100 TB design note: at scale the bronze table is partitioned by
``resource_type`` (partition pruning turns per-type scans into directory
listings) and the silver projections are materialized with
``partitionBy("resource_type")`` / bucketed by ``key`` so the
search-row⋈raw-JSON join (reference J1) is co-located. On the test
fixtures everything is one file; the query shapes are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .tables import read_immutable_parquet

FIXTURES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)

FHIR_TABLES = [
    "resources",
    "patients",
    "conditions",
    "observations",
    "observation_value_quantity",
    "organizations",
    "practitioners",
    "practitioner_roles",
    "tasks",
    "encounter_bundles",
    "compositions",
]


def load_fhir_tables(
    spark: SparkSession, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Lazy DataFrames for the FHIR fixture tables. Nothing is read until an
    action runs, so Catalyst pushes projections/predicates into the scan."""
    out: dict[str, DataFrame] = {}
    for name in names or FHIR_TABLES:
        path = os.path.join(FIXTURES_DIR, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = read_immutable_parquet(spark, path)
    return out


def resources_of_type(spark: SparkSession, resource_type: str) -> DataFrame:
    """Bronze scan restricted to one resource type — the reference's
    ``from Rsrc where ResourceType = '...'`` pattern. The filter is a
    pushed parquet predicate here and a partition-pruning directory pick
    on a type-partitioned bronze table at scale."""
    df = load_fhir_tables(spark, ["resources"])["resources"]
    return df.filter(df.resource_type == resource_type)
