"""L5 — ODS-import ETL queries: CSV master data vs FHIR repository
changesets (SURVEY §2 S1, S6-S8, U1, U4, J5-J8; reference
``dags/ODSImport.py``).

The reference's pipeline is: download positional CSV → SQL-extract
current orgs (+ regex ODS key) → pandas left merge → per-row loop that
POSTs creates and field-diff PUTs updates. Here the same semantics are
set-based and oracle-checked:

* **q33** — the full create/update/noop classification as ONE
  full-outer-join changeset (``operators/merge.py``): the reference's
  per-row isUpdate branches (postcode / partOf / active,
  ``dags/ODSImport.py:260-291``) become null-safe column diffs.
* **q34** — the row→Organization-JSON builder (U1) verified by field
  extraction: build with ``to_json(struct(...))``, read scalars back
  with ``get_json_object``; the oracle computes the expected values
  straight from the CSV. Conditional blocks (no postcode → no address;
  Closed → active=false) are exercised by fixture coverage.
* **q35** — delete-duplicates (S8): keep-newest per derived GMP, emit
  the rest as delete actions (the reference deletes them per-row over
  REST; ``notebooks/DeleteDuplicatesinIRISFHIRServer.ipynb`` cell 1).

Scale: the changeset is one shuffle on the ODS key; the CSV side reads
with an explicit schema (no inference pass); JSON building/extraction is
all codegen. No collect(), no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.merge import changeset
from ..sources.fhir import FIXTURES_DIR
from ..sources.ods import EPRACCUR_COLS, read_epraccur, with_organisation_json
from ..sources.tables import load_tables
from .dedup_queries import _duck_md5_int
from .fhir_queries import _ODS_RE
from .registry import register

FX = FIXTURES_DIR
_EP_CSV = f"{FX}/epraccur.csv"
_DUCK_EP_NAMES = "[" + ", ".join(f"'{c}'" for c in EPRACCUR_COLS) + "]"
_DUCK_EPRACCUR = (
    f"read_csv('{_EP_CSV}', header=false, names={_DUCK_EP_NAMES}, all_varchar=true)"
)

# current-state extraction from the stored Organization JSON — the fields
# the reference's isUpdate branches compare (dags/ODSImport.py:260-291)
_CURRENT_FIELDS = {
    "postal_code": "$.address[0].postalCode",
    "part_of": "$.partOf.identifier.value",
    "active": "$.active",
}


def _incoming(spark: SparkSession) -> DataFrame:
    ep = read_epraccur(spark, _EP_CSV)
    return ep.select(
        "ods",
        ep.organisation_name.alias("name"),
        ep.postcode.alias("postal_code"),
        ep.national_grouping.alias("part_of"),
        # Closed set → inactive (convertOrganisationFHIR, ODSImport.py:224)
        F.when(ep.closed.isNotNull() & (ep.closed != ""), "false")
        .otherwise("true")
        .alias("active"),
    )


def _current(spark: SparkSession) -> DataFrame:
    orgs = load_tables(spark, FX, ["organizations"])["organizations"]
    matched = F.filter(F.split(orgs.identifier, ","), lambda x: x.rlike(_ODS_RE))
    ods = F.get(F.split(F.get(matched, 0), "[|]"), 1).alias("ods")
    cur = orgs.select(
        ods,
        *[
            F.get_json_object("resource_string", path).alias(name)
            for name, path in _CURRENT_FIELDS.items()
        ],
    )
    return cur.filter(F.col("ods").isNotNull())


@register(
    "q33_ods_org_changeset",
    oracle=f"""
    WITH inc AS (
      SELECT ods, organisation_name AS name, postcode AS postal_code,
             national_grouping AS part_of,
             CASE WHEN closed IS NOT NULL AND closed <> '' THEN 'false'
                  ELSE 'true' END AS active
      FROM {_DUCK_EPRACCUR}
    ),
    cur AS (
      SELECT string_split(
               list_filter(string_split(identifier, ','),
                 x -> regexp_matches(x, '^https:.*ods-organization-code\\|[A-Za-z0-9].*$'))[1],
               '|')[2] AS ods,
             json_extract_string(resource_string, '$.address[0].postalCode') AS postal_code,
             json_extract_string(resource_string, '$.partOf.identifier.value') AS part_of,
             json_extract_string(resource_string, '$.active') AS active
      FROM read_parquet('{FX}/organizations.parquet')
      WHERE string_split(
               list_filter(string_split(identifier, ','),
                 x -> regexp_matches(x, '^https:.*ods-organization-code\\|[A-Za-z0-9].*$'))[1],
               '|')[2] IS NOT NULL
    ),
    j AS (
      SELECT coalesce(inc.ods, cur.ods) AS ods,
             inc.ods IS NOT NULL AS in_inc, cur.ods IS NOT NULL AS in_cur,
             list_filter([
               CASE WHEN cur.postal_code IS DISTINCT FROM inc.postal_code THEN 'postal_code' END,
               CASE WHEN cur.part_of     IS DISTINCT FROM inc.part_of     THEN 'part_of' END,
               CASE WHEN cur.active      IS DISTINCT FROM inc.active      THEN 'active' END
             ], x -> x IS NOT NULL) AS changed
      FROM cur FULL OUTER JOIN inc ON cur.ods = inc.ods
    )
    SELECT ods,
           CASE WHEN in_inc AND NOT in_cur THEN 'insert'
                WHEN in_cur AND NOT in_inc THEN 'delete'
                WHEN len(changed) > 0 THEN 'update'
                ELSE 'noop' END AS action,
           CASE WHEN len(changed) > 0 THEN array_to_string(changed, ',') END
             AS changed_fields
    FROM j
    """,
    doc="ODS org changeset (ODSImport.py:237-305 set-based): full-outer diff",
    tags=("etl", "S6", "S7", "U4", "J5"),
)
def q33_ods_org_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = changeset(
        _current(spark),
        _incoming(spark),
        key="ods",
        compare_cols=["postal_code", "part_of", "active"],
    )
    return cs.select(
        "ods",
        "action",
        F.array_join("changed_fields", ",").alias("changed_fields"),
    )


@register(
    "q34_org_fhir_build",
    oracle=f"""
    SELECT ods,
           organisation_name AS name,
           CASE WHEN closed IS NOT NULL AND closed <> '' THEN 'false'
                ELSE 'true' END AS active,
           postcode AS postal_code,
           national_grouping AS part_of_value,
           trim(phone_number) AS phone
    FROM {_DUCK_EPRACCUR}
    """,
    doc="row->Organization JSON builder (U1) verified by scalar extraction",
    tags=("etl", "U1", "U9", "S1"),
)
def q34_org_fhir_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ep = with_organisation_json(read_epraccur(spark, _EP_CSV))
    g = lambda p: F.get_json_object("organisation_json", p)  # noqa: E731
    return ep.select(
        "ods",
        g("$.name").alias("name"),
        g("$.active").alias("active"),
        g("$.address[0].postalCode").alias("postal_code"),
        g("$.partOf.identifier.value").alias("part_of_value"),
        g("$.telecom[0].value").alias("phone"),
    )


@register(
    "q35_practitioner_dedup_deletes",
    oracle=f"""
    WITH keyed AS (
      SELECT _id, _last_updated,
        string_split(
          list_filter(string_split(identifier, ','),
            x -> regexp_matches(x, '^https:.*gmp-number\\|G[0-9].*$'))[1],
          '|')[2] AS gmp
      FROM read_parquet('{FX}/practitioners.parquet')
    ),
    ranked AS (
      SELECT _id, gmp,
             row_number() OVER (PARTITION BY gmp
                                ORDER BY _last_updated DESC, _id) AS rn
      FROM keyed WHERE gmp IS NOT NULL
    )
    SELECT _id, gmp, 'delete' AS action FROM ranked WHERE rn > 1
    """,
    doc="delete-duplicates plan (S8): keep-newest per GMP, rest -> deletes",
    tags=("etl", "S8", "A3", "W4", "J8"),
)
def q35_practitioner_dedup_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pracs = load_tables(spark, FX, ["practitioners"])["practitioners"]
    gmp_re = "^https:.*gmp-number[|]G[0-9].*$"
    matched = F.filter(F.split(pracs.identifier, ","), lambda x: x.rlike(gmp_re))
    gmp = F.get(F.split(F.get(matched, 0), "[|]"), 1).alias("gmp")
    keyed = pracs.select("_id", "_last_updated", gmp).filter(F.col("gmp").isNotNull())
    w = Window.partitionBy("gmp").orderBy(F.desc("_last_updated"), F.asc("_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("_id", "gmp", F.lit("delete").alias("action"))
    )


# ---------------------------------------------------------------------------
# q55 — composite-key left merge (J6): the egpcur-derived incoming role
# rows merge against the repository's PractitionerRole rows on the
# COMPOSITE key (ods, gmp) — ``pd.merge(..., on=['ODS','GMP'])`` at
# dags/ODSImport.py:517 — and split into create-vs-exists actions (the
# `_id == ''` branch at :242/:257). Key derivation on the repository side
# is the J9 JSON path extraction; the join is one shuffle on the
# composite key (or zero against a (ods,gmp)-bucketed repository table).

_EG_CSV = f"{FX}/egpcur.csv"


@register(
    "q55_role_composite_merge",
    oracle=f"""
    WITH incoming AS (
      SELECT column14 AS ods, column00 AS gmp, column15 AS started
      FROM read_csv('{_EG_CSV}', header=false, all_varchar=true)
    ),
    existing AS (
      SELECT json_extract_string(resource_string, '$.organization.identifier.value') AS ods,
             json_extract_string(resource_string, '$.practitioner.identifier.value') AS gmp,
             _id
      FROM read_parquet('{FX}/practitioner_roles.parquet')
    )
    SELECT i.ods, i.gmp, i.started, e._id,
           CASE WHEN e._id IS NULL THEN 'create' ELSE 'exists' END AS action
    FROM incoming i LEFT JOIN existing e ON e.ods = i.ods AND e.gmp = i.gmp
    """,
    doc="composite-key (ods,gmp) left merge -> create/exists split (J6, ODSImport:517)",
    tags=("etl", "J6", "J9", "S6"),
)
def q55_role_composite_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ods import read_egpcur

    incoming = read_egpcur(spark, _EG_CSV).select("ods", "gmp", "started")
    roles = load_tables(spark, FX, ["practitioner_roles"])["practitioner_roles"]
    existing = roles.select(
        F.get_json_object("resource_string", "$.organization.identifier.value").alias("ods"),
        F.get_json_object("resource_string", "$.practitioner.identifier.value").alias("gmp"),
        "_id",
    )
    merged = incoming.join(existing, ["ods", "gmp"], "left")
    return merged.select(
        "ods",
        "gmp",
        "started",
        "_id",
        F.when(F.col("_id").isNull(), "create").otherwise("exists").alias("action"),
    )


# ---------------------------------------------------------------------------
# q69/q70 — the egpcur row→FHIR builders (U2/U3) verified by scalar
# extraction, same pattern as q34: build with to_json(struct(...)),
# read fields back with get_json_object, and have the oracle compute
# the expected values straight from the CSV columns. q69 exercises the
# surname/initials split (F13: 'SURNAME A B' → family + given list,
# single-token names → given omitted); q70 the YYYYMMDD period reslice
# (F14) and the literal Practitioner/Organization references.
# Reference: dags/ODSImport.py:388-431 (U2), :526-583 (U3).


@register(
    "q69_practitioner_fhir_build",
    oracle=f"""
    WITH eg AS (
      SELECT column00 AS gmp, column01 AS practitioner_name, column12 AS status
      FROM read_csv('{_EG_CSV}', header=false, all_varchar=true)
    ),
    toks AS (
      SELECT gmp, status, string_split(trim(practitioner_name), ' ') AS t FROM eg
    )
    SELECT gmp,
           t[1] AS family,
           CASE WHEN len(t) >= 2
                THEN '["' || array_to_string(t[2:], '","') || '"]'
           END AS given_json,
           CASE WHEN status = 'C' THEN 'true' ELSE 'false' END AS active
    FROM toks
    """,
    doc="row->Practitioner JSON builder (U2/F13) verified by scalar extraction",
    tags=("etl", "U2", "F13"),
)
def q69_practitioner_fhir_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ods import read_egpcur, with_practitioner_json

    eg = with_practitioner_json(read_egpcur(spark, _EG_CSV))
    g = lambda p: F.get_json_object("practitioner_json", p)  # noqa: E731
    return eg.select(
        "gmp",
        g("$.name[0].family").alias("family"),
        g("$.name[0].given").alias("given_json"),
        g("$.active").alias("active"),
    )


@register(
    "q70_practitioner_role_build",
    oracle=f"""
    WITH eg AS (
      SELECT column00 AS gmp, column12 AS status, column14 AS ods,
             column15 AS started, column16 AS ended
      FROM read_csv('{_EG_CSV}', header=false, all_varchar=true)
    )
    SELECT gmp,
           'Practitioner/' || gmp AS practitioner_ref,
           'Organization/' || ods AS organization_ref,
           CASE WHEN started IS NOT NULL THEN
             substr(started, 1, 4) || '-' || substr(started, 5, 2) || '-' || substr(started, 7, 2)
           END AS period_start,
           CASE WHEN started IS NOT NULL AND ended IS NOT NULL AND ended <> '' THEN
             substr(ended, 1, 4) || '-' || substr(ended, 5, 2) || '-' || substr(ended, 7, 2)
           END AS period_end,
           CASE WHEN status = 'C' THEN 'true' ELSE 'false' END AS active
    FROM eg
    """,
    doc="row->PractitionerRole JSON builder (U3/F14) verified by scalar extraction",
    tags=("etl", "U3", "F14"),
)
def q70_practitioner_role_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ods import practitioner_role_struct, read_egpcur

    eg = read_egpcur(spark, _EG_CSV)
    role_json = F.to_json(
        practitioner_role_struct(eg, eg.gmp, eg.ods), {"ignoreNullFields": "true"}
    )
    g = lambda p: F.get_json_object("role_json", p)  # noqa: E731
    return eg.withColumn("role_json", role_json).select(
        "gmp",
        g("$.practitioner.reference").alias("practitioner_ref"),
        g("$.organization.reference").alias("organization_ref"),
        g("$.period.start").alias("period_start"),
        g("$.period.end").alias("period_end"),
        g("$.active").alias("active"),
    )


# ---------------------------------------------------------------------------
# q89 — SCD Type-2 dimension merge: the versioned-history grade of the
# reference's field-diff conditional update (U4/S7, dags/ODSImport.py:258-305
# — which overwrites in place; warehouse dimension maintenance keeps the
# closed-out version instead).
#
# Update batch: every c_custkey % 10 == 3 changes segment (gets '-R'),
# every % 10 == 7 arrives UNCHANGED — the no-op branch must not open a
# new version (the same null-safe diff discipline as q33's changeset).
#
# Scale design: one broadcast left join (an update batch is small against
# the dimension by construction; were it not, the same plan degrades to a
# single hash-shuffle join on the key). Each input row then emits its 1-2
# version rows via inline(array(struct..)) — MAP-side row multiplication,
# no union-driven second scan of the dimension.

_SCD2_FROM = "2024-01-01"
_SCD2_AT = "2024-06-01"


@register(
    "q89_scd2_dimension",
    oracle=f"""
    WITH dim AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
    upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 3 THEN segment || '-R' ELSE segment END
               AS new_segment
      FROM dim WHERE c_custkey % 10 IN (3, 7)
    ),
    j AS (
      SELECT d.c_custkey, d.segment, u.new_segment,
             u.new_segment IS NOT NULL AND u.new_segment <> d.segment AS ch
      FROM dim d LEFT JOIN upd u USING (c_custkey)
    )
    SELECT c_custkey, segment, CAST(1 AS INT) AS version,
           DATE '{_SCD2_FROM}' AS eff_from,
           CASE WHEN ch THEN DATE '{_SCD2_AT}' END AS eff_to,
           NOT ch AS is_current
    FROM j
    UNION ALL
    SELECT c_custkey, new_segment, CAST(2 AS INT), DATE '{_SCD2_AT}', NULL, true
    FROM j WHERE ch
    """,
    doc="SCD2 versioned dimension merge: close changed rows, open new versions",
    tags=("etl", "U4", "S7", "scd2"),
)
def q89_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = load_tables(spark, sf_dir, ["customer"])["customer"].select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    upd = dim.filter((F.col("c_custkey") % 10).isin(3, 7)).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 10 == 3, F.concat(F.col("segment"), F.lit("-R"))
        )
        .otherwise(F.col("segment"))
        .alias("new_segment"),
    )
    joined = dim.join(F.broadcast(upd), "c_custkey", "left")
    changed = F.col("new_segment").isNotNull() & (
        F.col("new_segment") != F.col("segment")
    )

    def _version(seg, ver: int, frm: str, to, cur: bool):
        return F.struct(
            seg.alias("segment"),
            F.lit(ver).alias("version"),
            F.lit(frm).cast("date").alias("eff_from"),
            (F.lit(to).cast("date")).alias("eff_to"),
            F.lit(cur).alias("is_current"),
        )

    rows = F.when(
        changed,
        F.array(
            _version(F.col("segment"), 1, _SCD2_FROM, _SCD2_AT, False),
            _version(F.col("new_segment"), 2, _SCD2_AT, None, True),
        ),
    ).otherwise(F.array(_version(F.col("segment"), 1, _SCD2_FROM, None, True)))
    return joined.select("c_custkey", F.inline(rows))


# ---------------------------------------------------------------------------
# q128 — hierarchy closure by pointer doubling: every org resolved to its
# root ancestor with depth, via JOIN-based path doubling over a parent
# link table (the ODS partOf rollup shape: practice → PCN → ICB). The
# link relation is seeded deterministically (parent = id div 10 — the
# fixture carries no partOf) but the OPERATOR is data-driven: after
# seeding, ancestry is resolved purely by self-joins, exactly as it
# would be over arbitrary parent data. r rounds resolve chains of 2^r
# links (ids ≤ 999 ⇒ depth ≤ 3; 3 rounds cover 8), each round one
# key-partitioned self-join — O(log depth) shuffles, the closure shape
# that stays scale-correct on DEEP graphs (naive iteration — including
# Spark 4's native WITH RECURSIVE, which q188 exercises — is O(depth)
# rounds). The DuckDB oracle IS the recursive CTE, so convergence is
# verified, not assumed.


@register(
    "q128_org_hierarchy_closure",
    oracle=f"""
    WITH RECURSIVE chain AS (
      SELECT CAST(_id AS BIGINT) AS id, CAST(_id AS BIGINT) AS cur,
             CAST(0 AS BIGINT) AS depth
      FROM read_parquet('{FX}/organizations.parquet')
      UNION ALL
      SELECT id, cur // 10, depth + 1 FROM chain WHERE cur >= 10
    )
    SELECT id, cur AS root_id, depth
    FROM chain WHERE cur < 10
    """,
    doc="hierarchy closure (root ancestor + depth) via pointer-doubling "
    "self-joins; recursive-CTE oracle proves convergence",
    tags=("etl", "iterative", "J1"),
)
def q128_org_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.fhir import load_fhir_tables

    orgs = load_fhir_tables(spark, ["organizations"])["organizations"].select(
        F.col("_id").cast("long").alias("id")
    )
    # J holds (id, anc, steps): following `steps` parent links from id
    # lands on anc, where anc is either 2^r links away or already a root
    # (saturated — roots carry a self-loop of 0 steps so composition
    # leaves them fixed).
    j = orgs.select(
        "id",
        F.when(F.col("id") >= 10, F.expr("id div 10")).otherwise(F.col("id")).alias("anc"),
        F.when(F.col("id") >= 10, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("steps"),
    )
    from ..scratch import materialize

    for rnd in range(3):  # 2^3 = 8 >= max depth (ids <= 999 => depth <= 3)
        nxt = j.select(
            F.col("id").alias("m_id"),
            F.col("anc").alias("m_anc"),
            F.col("steps").alias("m_steps"),
        )
        j = materialize(
            j.join(nxt, j.anc == F.col("m_id")).select(
                "id",
                F.col("m_anc").alias("anc"),
                (F.col("steps") + F.col("m_steps")).alias("steps"),
            ),
            f"q128_closure_r{rnd}",
        )
    return j.select("id", F.col("anc").alias("root_id"), F.col("steps").alias("depth"))


# ---------------------------------------------------------------------------
# q132 — right-to-erasure cascade (GDPR Art.17 over a clinical store):
# given an erasure set (patients flagged by a deterministic rule standing
# in for received requests), remove their rows from every referencing
# table IN ONE COORDINATED PASS and emit the per-table erasure
# accounting an auditor signs off on — rows erased per table, rows
# surviving, and a checksum of the survivor keys proving the cascade
# touched exactly the right records (no over- nor under-deletion).
# Scale: the erasure set broadcasts; each fact table takes one scan +
# anti-join (no shuffle of the big side); accounting aggregates ride the
# same scans. On Delta each leg is a DELETE WHERE ... IN (broadcast
# semi-join) with the same plan shape.

ERASE_MOD = 31  # patient _id % 31 == 0 => erasure request received


@register(
    "q132_erasure_cascade",
    oracle=f"""
    WITH erase AS (
      SELECT key FROM read_parquet('{FX}/patients.parquet')
      WHERE CAST(_id AS BIGINT) % {ERASE_MOD} = 0
    ),
    acct AS (
      SELECT 'patients' AS tbl,
             CAST((SELECT count(*) FROM erase) AS BIGINT) AS n_erased,
             CAST((SELECT count(*) FROM read_parquet('{FX}/patients.parquet') p
                   WHERE p.key NOT IN (SELECT key FROM erase)) AS BIGINT) AS n_kept,
             CAST((SELECT bit_xor({_duck_md5_int('p.key')})
                   FROM read_parquet('{FX}/patients.parquet') p
                   WHERE p.key NOT IN (SELECT key FROM erase)) AS BIGINT) AS survivor_checksum
      UNION ALL
      SELECT 'conditions',
             CAST((SELECT count(*) FROM read_parquet('{FX}/conditions.parquet') c
                   WHERE c.patient IN (SELECT key FROM erase)) AS BIGINT),
             CAST((SELECT count(*) FROM read_parquet('{FX}/conditions.parquet') c
                   WHERE c.patient NOT IN (SELECT key FROM erase)) AS BIGINT),
             CAST((SELECT bit_xor({_duck_md5_int('CAST(c._id AS VARCHAR)')})
                   FROM read_parquet('{FX}/conditions.parquet') c
                   WHERE c.patient NOT IN (SELECT key FROM erase)) AS BIGINT)
      UNION ALL
      SELECT 'observations',
             CAST((SELECT count(*) FROM read_parquet('{FX}/observations.parquet') o
                   WHERE o.patient IN (SELECT key FROM erase)) AS BIGINT),
             CAST((SELECT count(*) FROM read_parquet('{FX}/observations.parquet') o
                   WHERE o.patient NOT IN (SELECT key FROM erase)) AS BIGINT),
             CAST((SELECT bit_xor({_duck_md5_int('CAST(o._id AS VARCHAR)')})
                   FROM read_parquet('{FX}/observations.parquet') o
                   WHERE o.patient NOT IN (SELECT key FROM erase)) AS BIGINT)
    )
    SELECT tbl, n_erased, n_kept, survivor_checksum FROM acct
    """,
    doc="right-to-erasure cascade: broadcast anti-join per referencing "
    "table + auditable per-table accounting with survivor checksums",
    tags=("etl", "S8", "A4"),
)
def q132_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import _md5_int
    from ..sources.fhir import load_fhir_tables

    t = load_fhir_tables(spark, ["patients", "conditions", "observations"])
    erase = (
        t["patients"]
        .filter(F.col("_id").cast("long") % ERASE_MOD == 0)
        .select("key")
    )
    b_erase = F.broadcast(erase.withColumn("_hit", F.lit(1)))

    def leg(df: DataFrame, ref_col: str, id_col, tbl: str) -> DataFrame:
        tagged = df.join(
            b_erase, df[ref_col] == b_erase["key"], "left"
        )
        hit = F.col("_hit").isNotNull()
        return tagged.agg(
            F.lit(tbl).alias("tbl"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_erased"),
            F.sum(F.when(~hit, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.bit_xor(F.when(~hit, _md5_int(id_col)))
            .cast("bigint")
            .alias("survivor_checksum"),
        )

    pts = t["patients"].select(F.col("key").alias("pkey"), F.col("key").alias("pid"))
    return (
        leg(pts, "pkey", F.col("pid"), "patients")
        .unionAll(
            leg(
                t["conditions"].select("patient", F.col("_id").cast("string").alias("cid")),
                "patient", F.col("cid"), "conditions",
            )
        )
        .unionAll(
            leg(
                t["observations"].select("patient", F.col("_id").cast("string").alias("oid")),
                "patient", F.col("oid"), "observations",
            )
        )
    )


# ---------------------------------------------------------------------------
# q133 — point-in-time (SCD2) dimension join: every order resolved
# against the customer-segment version THAT WAS VALID ON ITS ORDER DATE
# (eff_from <= t < eff_to), the correctness property that separates a
# warehouse from a lookup table — joining facts to the CURRENT dimension
# back-dates attributes and silently rewrites history. The versioned
# dimension is built with q89's SCD2 algebra (split mid-range so both
# versions receive facts); the join predicate is the half-open validity
# interval, and the rollup proves every order matched EXACTLY one
# version (n_orders sums to the fact count — an auditor's invariant).
# Scale: facts shuffle never — the versioned dim stays dimension-sized
# (<= 2 rows per key) and broadcasts; the validity predicate is a join
# residual evaluated map-side. On a 100 TB fact table this is one scan.

_PIT_FROM = "1995-01-01"
_PIT_SPLIT = "1998-01-01"


@register(
    "q133_point_in_time_join",
    oracle=f"""
    WITH dim AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
    j AS (
      SELECT c_custkey, segment,
             CASE WHEN c_custkey % 10 = 3 THEN segment || '-R' ELSE segment END
               AS new_segment,
             c_custkey % 10 = 3 AS ch
      FROM dim
    ),
    versions AS (
      SELECT c_custkey, segment, CAST(1 AS INT) AS version,
             TIMESTAMP '{_PIT_FROM} 00:00:00' AS eff_from,
             CASE WHEN ch THEN TIMESTAMP '{_PIT_SPLIT} 00:00:00' END AS eff_to
      FROM j
      UNION ALL
      SELECT c_custkey, new_segment, CAST(2 AS INT),
             TIMESTAMP '{_PIT_SPLIT} 00:00:00', NULL
      FROM j WHERE ch
    )
    SELECT v.segment, v.version,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM orders o
    JOIN versions v
      ON v.c_custkey = o.o_custkey
     AND o.o_orderdate >= v.eff_from
     AND (v.eff_to IS NULL OR o.o_orderdate < v.eff_to)
    GROUP BY v.segment, v.version
    """,
    doc="point-in-time SCD2 join: facts resolve the dimension version "
    "valid AT event time (half-open interval residual, broadcast dim)",
    tags=("etl", "scd2", "J1", "T5"),
)
def q133_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    dim = t["customer"].select("c_custkey", F.col("c_mktsegment").alias("segment"))
    ch = F.col("c_custkey") % 10 == 3
    new_segment = F.when(ch, F.concat(F.col("segment"), F.lit("-R"))).otherwise(
        F.col("segment")
    )

    def _version(seg, ver: int, frm, to):
        return F.struct(
            seg.alias("segment"),
            F.lit(ver).alias("version"),
            F.lit(frm).cast("timestamp_ntz").alias("eff_from"),
            F.lit(to).cast("timestamp_ntz").alias("eff_to"),
        )

    rows = F.when(
        ch,
        F.array(
            _version(F.col("segment"), 1, _PIT_FROM, _PIT_SPLIT),
            _version(new_segment, 2, _PIT_SPLIT, None),
        ),
    ).otherwise(F.array(_version(F.col("segment"), 1, _PIT_FROM, None)))
    versions = dim.select("c_custkey", F.inline(rows))

    o = t["orders"]
    valid = (
        (o.o_custkey == versions.c_custkey)
        & (o.o_orderdate >= F.col("eff_from"))
        & (F.col("eff_to").isNull() | (o.o_orderdate < F.col("eff_to")))
    )
    return (
        o.join(F.broadcast(versions), valid)
        .groupBy("segment", "version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "price_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q150 — write-audit-publish (WAP): the lakehouse governance pattern for
# "no bad batch ever becomes visible". The batch (an orders rollup with
# a derived quality flag) is materialized to a STAGING path; audits run
# against the staged files (non-empty, no null keys, counts reconcile
# with the source); only on pass does the atomic swap publish staging
# into the live path readers query. A failing audit leaves the previous
# live table untouched — the query returns the published state, so the
# oracle (the rollup computed directly from the source) also proves the
# audits passed and the publish happened. Staging + audit costs one
# extra pass over the BATCH (not the table); the swap is two renames.

WAP_AUDIT_MIN_ROWS = 1


@register(
    "q150_write_audit_publish",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY 1, 2
    """,
    doc="write-audit-publish: batch staged to a side path, audited "
    "(non-empty, null-free keys, source reconciliation), atomically "
    "swapped live only on pass; the result reads the PUBLISHED table",
    tags=("etl", "S6", "S7", "quality"),
)
def q150_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..sources.layout import swap_write

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    batch = (
        orders.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "price_cents"
            ),
        )
    )

    base = scratch_dir("q150_wap")
    staging, live = f"{base}/staging", f"{base}/live"
    batch.write.parquet(staging)

    # audits run on the STAGED FILES (what readers would see), not the plan
    staged = spark.read.parquet(staging)
    audit = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("o_orderpriority").isNull() | F.col("o_orderstatus").isNull())
            .cast("int")
        ).alias("null_keys"),
        F.sum("n_orders").alias("total_orders"),
    ).first()
    source_total = orders.filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("date")
    ).count()
    if (
        audit.n < WAP_AUDIT_MIN_ROWS
        or (audit.null_keys or 0) > 0
        or audit.total_orders != source_total
    ):
        raise AssertionError(f"WAP audit failed, batch NOT published: {audit}")

    swap_write(spark.read.parquet(staging), live)
    return spark.read.parquet(live)


# ---------------------------------------------------------------------------
# q184 — TRUD archive ingest via the Spark 4 PYTHON DATA SOURCE API
# (``sources/ods_datasource.py``): the reference's HTTP-ZIP acquisition
# leg (``dags/ODSImport.py:77-100``) re-expressed as a first-class
# ``spark.read.format("ods_zip")`` table instead of a driver-side unzip
# loop.  The archive (staged here from the epraccur fixture, split into
# TWO members to exercise the planner) yields one input partition per
# CSV member — parallel member decode — and the query's postcode-prefix
# + phone-present predicates are PUSHED into the Python reader
# (``pushFilters``), dropping rows during decode, before the
# Python→JVM Arrow hop.  The oracle reads the identical CSV directly.

@register(
    "q184_ods_zip_datasource",
    oracle=f"""
    SELECT national_grouping,
           CAST(count(*) AS BIGINT) AS n_orgs,
           CAST(count(DISTINCT postcode) AS BIGINT) AS n_postcodes,
           CAST(count(DISTINCT prac_ods) AS BIGINT) AS n_practices
    FROM {_DUCK_EPRACCUR}
    WHERE phone_number IS NOT NULL AND postcode LIKE 'SW%'
    GROUP BY national_grouping
    """,
    doc="ODS ZIP archive as a Python DataSource: per-member input "
    "partitions, EqualTo/IsNotNull/StartsWith pushed into the reader; "
    "S1 acquisition leg as a real Spark table",
    tags=("etl", "S1", "A4"),
)
def q184_ods_zip_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import zipfile

    from ..scratch import scratch_dir
    from ..sources import ods_datasource

    ods_datasource.register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    # scratch_dir() wipes per call: the archive is rebuilt unconditionally
    base = scratch_dir("q184_ods_zip")
    archive = os.path.join(base, "epraccur.zip")
    lines = open(_EP_CSV).read().splitlines(keepends=True)
    half = len(lines) // 2
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("epraccur_part1.csv", "".join(lines[:half]))
        z.writestr("epraccur_part2.csv", "".join(lines[half:]))

    df = (
        spark.read.format("ods_zip")
        .option("pushdown", "true")
        .load(archive)
    )
    return (
        df.filter(
            F.col("phone_number").isNotNull()
            & F.col("postcode").startswith("SW")
        )
        .groupBy("national_grouping")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orgs"),
            F.countDistinct("postcode").cast("bigint").alias("n_postcodes"),
            F.countDistinct("prac_ods").cast("bigint").alias("n_practices"),
        )
    )


# ---------------------------------------------------------------------------
# q185 — the TRUD archive FEED as a custom Python STREAMING source
# (``OdsZipStreamReader``): monthly ZIP drops become micro-batches with
# checkpointable offsets ({"processed": n} over the name-sorted archive
# list), one input partition per (archive, member).  Incremental-ingest
# semantics — a restart resumes AFTER already-committed drops — are
# asserted by a pytest restart scenario; this query drains a two-drop
# feed with availableNow and rolls the union up by national grouping,
# which the oracle recomputes from the identical CSV rows.

@register(
    "q185_ods_zip_stream",
    oracle=f"""
    SELECT national_grouping,
           CAST(count(*) AS BIGINT) AS n_orgs,
           CAST(count(DISTINCT postcode) AS BIGINT) AS n_postcodes
    FROM {_DUCK_EPRACCUR}
    GROUP BY national_grouping
    """,
    doc="streaming ZIP-archive feed via a Python DataSourceStreamReader: "
    "archive-count offsets, per-member partitions, availableNow drain "
    "(S1 + T1 modern form)",
    tags=("etl", "S1", "streaming", "T1"),
)
def q185_ods_zip_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import zipfile

    from ..scratch import scratch_dir
    from ..sources import ods_datasource
    from ..streaming.drain import drain

    ods_datasource.register(spark)
    base = scratch_dir("q185_ods_feed")
    feed = f"{base}/feed"
    # scratch_dir() wipes per call: the two-drop feed is rebuilt on
    # every invocation (tiny CSV zips; the drain is the measured work)
    lines = open(_EP_CSV).read().splitlines(keepends=True)
    half, quarter = len(lines) // 2, len(lines) // 4
    _os.makedirs(feed)
    with zipfile.ZipFile(f"{feed}/drop_2025_07.zip", "w") as z:
        z.writestr("m1.csv", "".join(lines[:quarter]))
        z.writestr("m2.csv", "".join(lines[quarter:half]))
    with zipfile.ZipFile(f"{feed}/drop_2025_08.zip", "w") as z:
        z.writestr("m1.csv", "".join(lines[half : half + quarter]))
        z.writestr("m2.csv", "".join(lines[half + quarter :]))

    stream = spark.readStream.format("ods_zip").load(feed)
    return (
        drain(stream, f"{base}/ckpt", f"{base}/out")
        .groupBy("national_grouping")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orgs"),
            F.countDistinct("postcode").cast("bigint").alias("n_postcodes"),
        )
    )


# ---------------------------------------------------------------------------
# q186 — archive WRITE round-trip through the Python DataSource's
# two-phase commit (``OdsZipWriter``): tasks stage per-partition CSV
# parts, the driver-side commit() zips them and atomically publishes —
# a reader can never observe a partial archive, and a failed job leaves
# the previous archive untouched (asserted by the abort pytest).  The
# query writes the epraccur rows out through the writer, reads the
# archive back with the batch reader, and rolls up by postcode area;
# the oracle computes the same rollup straight from the source CSV, so
# any row lost or damaged in the write→zip→read cycle breaks the hash.

@register(
    "q186_ods_zip_roundtrip",
    oracle=f"""
    SELECT split_part(postcode, ' ', 1) AS postcode_area,
           CAST(count(*) AS BIGINT) AS n_orgs,
           CAST(count(DISTINCT national_grouping) AS BIGINT) AS n_groupings
    FROM {_DUCK_EPRACCUR}
    WHERE postcode IS NOT NULL
    GROUP BY 1
    """,
    doc="write->zip->read round-trip via the Python DataSource writer's "
    "two-phase commit (staged parts, atomic publish); rollup by "
    "postcode area must hash-match the source CSV",
    tags=("etl", "S1", "S6", "A4"),
)
def q186_ods_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..scratch import scratch_dir
    from ..sources import ods_datasource

    ods_datasource.register(spark)
    base = scratch_dir("q186_ods_roundtrip")
    archive = _os.path.join(base, "epraccur_out.zip")

    src = read_epraccur(spark, _EP_CSV)
    # 4 partitions -> 4 archive members, exercising parallel member
    # assembly in commit() and parallel member decode on re-read
    src.repartition(4).write.format("ods_zip").mode("overwrite").save(archive)

    back = spark.read.format("ods_zip").load(archive)
    return (
        back.filter(F.col("postcode").isNotNull())
        .groupBy(
            F.substring_index("postcode", " ", 1).alias("postcode_area")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orgs"),
            F.countDistinct("national_grouping").cast("bigint").alias(
                "n_groupings"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q188 — the full ancestry closure via Spark 4's NATIVE recursive CTE
# (``WITH RECURSIVE`` landed in Spark 4.0): every (org, ancestor, hops)
# pair of the parent chain, written declaratively and executed by the
# engine's iterative-union operator.  The twin of q128, which computes
# root resolution by pointer doubling: native recursion runs O(depth)
# rounds (fine for org rollups — depth ≤ 4 by construction here, and
# single digits in real ODS hierarchies), while q128's doubling stays
# the O(log depth) path for deep chains.  Both engines run the SAME
# recursion text, so the oracle checks Spark's recursive execution
# end-to-end, not just a rewrite of it.

@register(
    "q188_recursive_ancestry",
    oracle=f"""
    WITH RECURSIVE chain AS (
      SELECT CAST(_id AS BIGINT) AS id, CAST(_id AS BIGINT) AS anc,
             CAST(0 AS BIGINT) AS hops
      FROM read_parquet('{FX}/organizations.parquet')
      UNION ALL
      SELECT id, anc // 10, hops + 1 FROM chain WHERE anc >= 10
    )
    SELECT id, anc, hops FROM chain
    """,
    doc="ancestry closure via Spark 4 native WITH RECURSIVE (iterative "
    "union, O(depth) rounds); q128's pointer doubling remains the "
    "O(log depth) deep-chain path; identical recursion text both engines",
    tags=("etl", "iterative", "J1"),
)
def q188_recursive_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.fhir import load_fhir_tables

    load_fhir_tables(spark, ["organizations"])["organizations"].select(
        F.col("_id").cast("long").alias("id")
    ).createOrReplaceTempView("q188_orgs")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT id, id AS anc, CAST(0 AS BIGINT) AS hops
          FROM q188_orgs
          UNION ALL
          SELECT id, anc div 10, hops + 1 FROM chain WHERE anc >= 10
        )
        SELECT id, anc, hops FROM chain
        """
    )


# ---------------------------------------------------------------------------
# q202 — CDC log apply (the change-data-capture consumer every lakehouse
# ingest runs): given an ORDERED event log of insert/update/delete
# operations per key, reconstruct the final table state.  The log is
# synthesized deterministically from orders (insert for every key, an
# update for keys ≡ 0 mod 3, a delete for keys ≡ 0 mod 7; LSN = version
# ordinal), so both engines derive the identical log without a fixture.
#
# Scale shape: ONE hash-partitioned aggregate on the key —
# max(struct(lsn, op, payload)) picks each key's latest op with no
# window and no per-key sort; map-side combine collapses the log before
# the shuffle.  This is how CDC compaction actually runs at 100 TB
# (same shape as q07's latest-event and q89's SCD2 current-row rules);
# deletes drop out AFTER the argmax, so a delete followed by nothing
# stays deleted and out-of-order deliveries fold correctly by LSN.
# Prices ride as exact integer cents.

@register(
    "q202_cdc_log_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
      FROM orders
    ),
    log AS (
      SELECT k, CAST(1 AS BIGINT) AS lsn, 'insert' AS op, pc FROM base
      UNION ALL
      SELECT k, CAST(2 AS BIGINT), 'update', pc + 100000 FROM base
      WHERE k % 3 = 0
      UNION ALL
      SELECT k, CAST(3 AS BIGINT), 'delete', CAST(NULL AS BIGINT) FROM base
      WHERE k % 7 = 0
    ),
    latest AS (
      SELECT k,
             max_by(op, lsn) AS last_op,
             max_by(pc, lsn) AS last_pc,
             count(*) AS n_versions
      FROM log GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS o_orderkey,
           CAST(last_pc AS BIGINT) AS final_price_cents,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM latest WHERE last_op <> 'delete'
    """,
    doc="CDC insert/update/delete log -> final state via one keyed "
    "argmax-by-LSN aggregate (no window, no per-key sort); deletes "
    "resolved after the fold so out-of-order deliveries converge",
    tags=("etl", "cdc", "T2", "A4"),
)
def q202_cdc_log_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    base = o.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("pc"),
    )
    log = (
        base.select("k", F.lit(1).cast("bigint").alias("lsn"),
                    F.lit("insert").alias("op"), "pc")
        .unionByName(
            base.filter(F.col("k") % 3 == 0).select(
                "k", F.lit(2).cast("bigint").alias("lsn"),
                F.lit("update").alias("op"),
                (F.col("pc") + 100000).alias("pc"),
            )
        )
        .unionByName(
            base.filter(F.col("k") % 7 == 0).select(
                "k", F.lit(3).cast("bigint").alias("lsn"),
                F.lit("delete").alias("op"),
                F.lit(None).cast("bigint").alias("pc"),
            )
        )
    )
    latest = log.groupBy("k").agg(
        F.max(F.struct("lsn", "op", "pc")).alias("last"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )
    return latest.filter(F.col("last.op") != "delete").select(
        F.col("k").alias("o_orderkey"),
        F.col("last.pc").alias("final_price_cents"),
        "n_versions",
    )


# ---------------------------------------------------------------------------
# q207 — STREAMING archive round-trip: the stream-write twin of q186.
# The epraccur rows flow through a file stream into the ods_zip
# STREAMING sink (``OdsZipStreamWriter``: one atomic drop_<batch>.zip
# per micro-batch, staged parts + rename publish), and the resulting
# feed is drained back through the ods_zip STREAMING source (archive-
# count offsets).  The rollup over the re-read rows must hash-match the
# same rollup computed straight from the source CSV — any row lost,
# duplicated, or damaged across stream-out → archive → stream-in breaks
# the driver's value hash.  The multi-batch boundary (one drop per
# micro-batch) is exercised by the pytest round-trip test.

@register(
    "q207_ods_zip_stream_write",
    oracle=f"""
    SELECT national_grouping,
           CAST(count(*) AS BIGINT) AS n_orgs,
           CAST(count(DISTINCT split_part(postcode, ' ', 1)) AS BIGINT)
             AS n_areas
    FROM {_DUCK_EPRACCUR}
    WHERE national_grouping IS NOT NULL
    GROUP BY 1
    """,
    doc="streaming write->drop-feed->streaming read round-trip via the "
    "Python DataSource stream writer (atomic drop per micro-batch); "
    "rollup by national grouping must hash-match the source CSV",
    tags=("etl", "S1", "S6", "streaming", "T1"),
)
def q207_ods_zip_stream_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..sources import ods_datasource
    from ..streaming.drain import drain

    ods_datasource.register(spark)
    base = scratch_dir("q207_stream_write")
    src_dir, feed = f"{base}/in", f"{base}/feed"

    src = read_epraccur(spark, _EP_CSV)
    # one drain each way keeps the registry entry lean; the multi-batch
    # boundary (one drop per batch, maxFilesPerTrigger=1) is exercised
    # by the pytest round-trip (tests/test_r5_new_queries.py)
    src.coalesce(1).write.parquet(src_dir)

    q = (
        spark.readStream.schema(src.schema)
        .parquet(src_dir)
        .writeStream.format("ods_zip")
        .option("checkpointLocation", f"{base}/ckpt_w")
        .trigger(availableNow=True)
        .start(feed)
    )
    q.awaitTermination()

    back = drain(
        spark.readStream.format("ods_zip").schema(src.schema).load(feed),
        f"{base}/ckpt_r",
        f"{base}/back",
    )
    return (
        back.filter(F.col("national_grouping").isNotNull())
        .groupBy("national_grouping")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orgs"),
            F.countDistinct(
                F.substring_index("postcode", " ", 1)
            ).cast("bigint").alias("n_areas"),
        )
    )


# ---------------------------------------------------------------------------
# q208 — dimension time travel over the versioned parquet layout
# (``sources/versioned.py``): publish the ODS dimension twice (v1 = the
# raw drop, v2 = the next month's drop simulated by deterministic
# mutations — renames for ods B%, postcode moves for ods ending '1',
# closures removed), then answer "what changed between the two drops"
# with two AS-OF reads + the same full-outer changeset that drives the
# merge sinks.  Exercises the snapshot layer end to end: version-dir
# write, atomic pointer publish, as-of read of a SUPERSEDED version
# after a newer one published.  The oracle recomputes both snapshots
# straight from the CSV, so a row lost by the versioned store (or a
# pointer pointing at the wrong snapshot) breaks the action counts.
#
# Scale shape: the store adds zero query-time overhead beyond reading
# the right directory; the diff is the one keyed full-outer join the
# changeset always was.

@register(
    "q208_dimension_time_travel",
    oracle=f"""
    WITH v1 AS (
      SELECT ods, organisation_name AS name, postcode
      FROM {_DUCK_EPRACCUR} WHERE ods IS NOT NULL
    ),
    v2 AS (
      SELECT ods,
             CASE WHEN ods LIKE 'B%' THEN upper(name) ELSE name END AS name,
             CASE WHEN ods LIKE '%1' THEN 'ZZ99 9ZZ' ELSE postcode END
               AS postcode
      FROM v1 WHERE NOT ods LIKE 'Y%'
    ),
    d AS (
      SELECT CASE WHEN v1.ods IS NULL THEN 'insert'
                  WHEN v2.ods IS NULL THEN 'delete'
                  WHEN v1.name IS DISTINCT FROM v2.name
                    OR v1.postcode IS DISTINCT FROM v2.postcode THEN 'update'
                  ELSE 'noop' END AS action
      FROM v1 FULL OUTER JOIN v2 ON v1.ods = v2.ods
    )
    SELECT action, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY action
    """,
    doc="as-of diff between two published versions of the ODS dimension "
    "(versioned parquet store: snapshot write + atomic pointer publish "
    "+ time-travel read); changeset action counts hash-match a CSV "
    "recompute of both snapshots",
    tags=("etl", "S1", "U4", "timetravel"),
)
def q208_dimension_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..sources.versioned import read_version, write_version

    base = scratch_dir("q208_versioned")
    table = f"{base}/ods_dim"

    v1_df = (
        read_epraccur(spark, _EP_CSV)
        .filter(F.col("ods").isNotNull())
        .select("ods", F.col("organisation_name").alias("name"), "postcode")
    )
    v1 = write_version(v1_df, table)
    v2_df = (
        v1_df.filter(~F.col("ods").startswith("Y"))
        .select(
            "ods",
            F.when(F.col("ods").startswith("B"), F.upper("name"))
            .otherwise(F.col("name"))
            .alias("name"),
            F.when(F.col("ods").endswith("1"), F.lit("ZZ99 9ZZ"))
            .otherwise(F.col("postcode"))
            .alias("postcode"),
        )
    )
    v2 = write_version(v2_df, table)

    # time travel: read the SUPERSEDED v1 after v2 published, plus latest
    old = read_version(spark, table, v1)
    new = read_version(spark, table)  # pointer must resolve to v2
    assert v2 == v1 + 1
    cs = changeset(old, new, key="ods", compare_cols=["name", "postcode"])
    return cs.groupBy("action").agg(F.count(F.lit(1)).cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# q209 — single-pass ingest metrics via ``DataFrame.observe``: the
# production pattern for audit counters.  A naive pipeline writes the
# data, then re-scans it (or the source) to compute row counts / null
# counts / value mass for the run manifest — at 100 TB that second scan
# is the cost of the first.  ``observe`` attaches named aggregates to
# the plan itself: the metrics accumulate ON the ingest's own pass and
# are read from the observation after the action, zero extra scans.
# The ingest here is a real parquet write of the cleaned slice; the
# returned 1-row frame is the run manifest.  The oracle recomputes the
# same aggregates declaratively, so a metric that drifted from the data
# actually written breaks the hash.  Exact integer cents for the mass.

@register(
    "q209_observed_ingest",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_returns,
           CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT)
             AS n_null_shipdate,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem WHERE l_quantity >= 10
    """,
    doc="single-pass ingest audit counters via DataFrame.observe: "
    "metrics accumulate on the write's own scan (no second pass); the "
    "1-row manifest hash-matches a declarative recompute",
    tags=("etl", "governance", "A4", "observe"),
)
def q209_observed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    from ..scratch import scratch_dir

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    cleaned = li.filter(F.col("l_quantity") >= 10)
    obs = Observation("ingest_audit")
    observed = cleaned.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("bigint")
        .alias("n_returns"),
        F.count(F.when(F.col("l_shipdate").isNull(), 1))
        .cast("bigint")
        .alias("n_null_shipdate"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("price_cents"),
    )
    out = scratch_dir("q209_ingest")
    observed.write.mode("overwrite").parquet(f"{out}/cleaned")
    m = obs.get  # blocks until the action's metrics arrive
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_returns"],
                m["n_null_shipdate"],
                m["price_cents"],
            )
        ],
        "n_rows bigint, n_returns bigint, n_null_shipdate bigint, "
        "price_cents bigint",
    )


# ---------------------------------------------------------------------------
# q213 — the ODS import's RE-RUN contract as an oracle-checked query.
# The reference pipeline is re-run-safe by construction: a second run of
# ``dags/ODSImport.py:258-305`` over the same master file finds every
# org already present with equal compared fields, so its per-row
# isUpdate branches all fall through and no HTTP call fires.  Here the
# same contract runs END TO END through the MergeWriter seam: the
# current-org projection is written to a scratch target, the epraccur
# snapshot is merged once (full-sync: inserts + field-diff updates +
# deletes of orgs absent from the feed), and the SECOND derivation of
# the changeset against the merged target is aggregated by verb.  The
# oracle pins the idempotence fixed point: zero inserts, zero updates,
# zero deletes, and exactly one noop row per feed key (the merged
# target IS the snapshot — both sides carry unique keys, verified by
# the q33 oracle's own cardinality).
#
# Scale shape: two changeset derivations = two key-partitioned
# full-outer joins; the merge rewrite is one swap_write.  At 100 TB the
# same plan runs with the Delta MERGE INTO impl behind the identical
# seam (sinks/merge_writer.py) and rewrites only key-matched files.


@register(
    "q213_merge_rerun_idempotence",
    oracle=f"""
    SELECT CAST(0 AS BIGINT) AS inserts,
           CAST(0 AS BIGINT) AS updates,
           CAST(0 AS BIGINT) AS deletes,
           CAST((SELECT count(*) FROM {_DUCK_EPRACCUR}) AS BIGINT) AS noops
    """,
    doc="ODS-import re-run safety end to end: apply the epraccur "
    "snapshot through ParquetSwapMergeWriter, re-derive the changeset "
    "against the merged target, return per-verb counts — the oracle "
    "pins inserts=updates=deletes=0 (ODSImport.py:258-305 re-run = "
    "no-op diff)",
    tags=("etl", "governance", "S6", "S7", "S8", "U4"),
)
def q213_merge_rerun_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..sinks.merge_writer import ParquetSwapMergeWriter

    target = f"{scratch_dir('q213_target')}/orgs"
    _current(spark).write.parquet(target)

    writer = ParquetSwapMergeWriter(spark, target)
    incoming = _incoming(spark)
    # first application: inserts + updates + deletes land in the target
    writer.merge_incoming(incoming, "ods")

    # second derivation against the merged target — the re-run
    cs2 = changeset(
        writer.read(),
        incoming,
        key="ods",
        compare_cols=["postal_code", "part_of", "active"],
    )
    verb = lambda v: F.count(F.when(F.col("action") == v, 1)).cast("bigint")  # noqa: E731
    return cs2.agg(
        verb("insert").alias("inserts"),
        verb("update").alias("updates"),
        verb("delete").alias("deletes"),
        verb("noop").alias("noops"),
    )
