"""L4 — FHIR analytic queries (the reference's healthcare workload).

Each query re-expresses one of the reference's IRIS SQL artifacts over the
FHIR fixture tables (``tools/gen_fixtures.py``, schemas in FIXTURES.md),
with a DuckDB oracle over the same parquet for the driver's correctness
gate. Reference citations give the exact source cell/line.

Scale design (these run against a 100 TB bronze store on a real cluster):

* every query filters ``resource_type`` / code **before** any join or UDF,
  so the predicate reaches the parquet scan (partition pruning on a
  type-partitioned bronze table);
* the reference's N-way self-join / left-join-per-code patterns are
  collapsed into single-pass conditional aggregations — one shuffle on
  ``patient`` instead of N join shuffles with fan-out;
* the FHIRPath pandas UDF (the one Python stage) always runs scan-local —
  after a pushed filter, before any shuffle — so it scales linearly with
  executors and never sits on a shuffle boundary;
* small dimension sides (compositions, code tables) are broadcast.

The fixture tables live in the repo (``<repo>/fixtures``) and do not scale
with ``sf_dir``; the callables accept ``sf_dir`` for driver-contract
uniformity and ignore it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import (
    age_years,
    fhir_contains,
    ifnull3,
    isnull2,
    piece,
    register_all,
)
from ..sources.fhir import FIXTURES_DIR, load_fhir_tables, resources_of_type
from .registry import register

FX = FIXTURES_DIR  # absolute path, embedded into the DuckDB oracle SQL

RACE_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"
ETH_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity"
SEX_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"
ODS_SYS = "https://fhir.nhs.uk/Id/ods-organization-code"
GMP_SYS = "https://fhir.hl7.org.uk/Id/gmp-number"
ROLE_SYS = "https://fhir.nhs.uk/CodeSystem/organisation-role"
DBID_SYS = "https://emis.com/Id/Patient/DBID"
ENC_SYS = "https://fhir.virtually.healthcare/Id/Encounter"


# ---------------------------------------------------------------------------
# q11 — diabetes cohort wide table
# Reference: notebooks/DiabetesSQL.ipynb cell 3 — Patient with 4 left outer
# joins to Condition, each with an IRIS contains residual
# (`diabetes.code [ '44054006'`), IFNULL3 presence flags, CASE gender
# recode, DATEDIFF('year') ages (SURVEY §2 J2, F6-F9, P3).
#
# The reference's per-code left joins fan out when a patient has several
# matching conditions. Here the four joins collapse into ONE conditional
# aggregation over conditions (flags + earliest onset per code) followed by
# a single left join — one shuffle on `patient`, no fan-out, AQE-skew-safe.
# Onset ages use the EARLIEST matching onset (deterministic where the
# reference's join order is not).

_COND_CODES = {
    "type2diabetes": "44054006",
    "hypertension": "59621000",
    "obese": "162864005",
    "very_obese": "408512008",
}


def _gender_uk(col):
    return (
        F.when(col == "male", 1)
        .when(col == "female", 2)
        .when(col == "other", 0)
        .otherwise(9)
        .cast("int")
    )


@register(
    "q11_diabetes_cohort",
    oracle=f"""
    WITH f AS (
      SELECT patient,
        {", ".join(
            f"max(CASE WHEN contains(code, '{code}') THEN 1 ELSE 0 END) AS {name}_flag, "
            f"min(CASE WHEN contains(code, '{code}') THEN CAST(onset_date_start AS DATE) END) AS {name}_onset"
            for name, code in _COND_CODES.items()
        )}
      FROM read_parquet('{FX}/conditions.parquet')
      GROUP BY patient
    )
    SELECT p._id, p.key,
      CAST(year(current_date) - year(p.birthdate) AS INT) AS age,
      p.gender,
      CAST(CASE p.gender WHEN 'male' THEN 1 WHEN 'female' THEN 2
                         WHEN 'other' THEN 0 ELSE 9 END AS INT) AS gender_uk,
      {", ".join(
          f"CAST(coalesce(f.{name}_flag, 0) AS INT) AS {name}, "
          f"CAST(year(f.{name}_onset) - year(p.birthdate) AS INT) AS {name}_age"
          for name in _COND_CODES
      )}
    FROM read_parquet('{FX}/patients.parquet') p
    LEFT JOIN f ON p.key = f.patient
    """,
    doc="diabetes cohort wide table (DiabetesSQL cell 3): J2x4 -> 1 agg",
    tags=("fhir", "J2", "F6", "F7", "F8", "F9", "P3"),
)
def q11_diabetes_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["patients", "conditions"])
    conds = t["conditions"]

    aggs = []
    for name, code in _COND_CODES.items():
        hit = fhir_contains(conds.code, code)
        aggs.append(F.max(F.when(hit, 1).otherwise(0)).alias(f"{name}_flag"))
        aggs.append(
            F.min(F.when(hit, F.to_date(conds.onset_date_start))).alias(f"{name}_onset")
        )
    flags = conds.groupBy("patient").agg(*aggs)

    p = t["patients"]
    out = p.join(flags, p.key == flags.patient, "left")
    cols = [
        p._id,
        p.key,
        age_years(p.birthdate).alias("age"),
        p.gender,
        _gender_uk(p.gender).alias("gender_uk"),
    ]
    for name in _COND_CODES:
        cols.append(
            F.coalesce(F.col(f"{name}_flag"), F.lit(0)).cast("int").alias(name)
        )
        # IFNULL(x._id, null, DATEDIFF('year', birthdate, onset)) — IRIS
        # year-boundary diff, NULL when the condition is absent.
        cols.append(
            (F.year(F.col(f"{name}_onset")) - F.year(p.birthdate))
            .cast("int")
            .alias(f"{name}_age")
        )
    return out.select(*cols)


# ---------------------------------------------------------------------------
# q12 — lipid panel per patient
# Reference: notebooks/DiabetesSQL.ipynb cell 23 — Observation self-joined
# x3 (LDL/HDL/Total, IRIS contains on LOINC codes), each joined to the
# HSFHIR_X0001_S_Observation.valueQuantity child table, group-by patient
# with max() (SURVEY §2 J3, J4, A1).
#
# The 6-way join collapses to: child-table equi-join on `key` (the J4
# parent-child edge, kept deliberately to exercise it) + ONE conditional
# aggregation. Inner-join existence semantics = HAVING all three panels
# non-null. At 100 TB: one shuffle on `key` (co-located if both sides are
# bucketed by key), one on `patient` — vs five shuffles with quadratic
# fan-out for the literal self-join plan.


@register(
    "q12_lipid_panel",
    oracle=f"""
    SELECT o.patient AS key,
           max(CASE WHEN contains(o.code, '18262-6') THEN v.value END) AS ldl_cholesterol,
           max(CASE WHEN contains(o.code, '2085-9')  THEN v.value END) AS hdl_cholesterol,
           max(CASE WHEN contains(o.code, '2093-3')  THEN v.value END) AS cholesterol
    FROM read_parquet('{FX}/observations.parquet') o
    JOIN read_parquet('{FX}/observation_value_quantity.parquet') v ON o.key = v.key
    WHERE contains(o.code, '18262-6') OR contains(o.code, '2085-9')
       OR contains(o.code, '2093-3')
    GROUP BY o.patient
    HAVING max(CASE WHEN contains(o.code, '18262-6') THEN v.value END) IS NOT NULL
       AND max(CASE WHEN contains(o.code, '2085-9')  THEN v.value END) IS NOT NULL
       AND max(CASE WHEN contains(o.code, '2093-3')  THEN v.value END) IS NOT NULL
    """,
    doc="lipid panel (DiabetesSQL cell 23): 3 self-joins + child joins -> 1 agg",
    tags=("fhir", "J3", "J4", "A1"),
)
def q12_lipid_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["observations", "observation_value_quantity"])
    o, v = t["observations"], t["observation_value_quantity"]

    is_ldl = fhir_contains(o.code, "18262-6")
    is_hdl = fhir_contains(o.code, "2085-9")
    is_tot = fhir_contains(o.code, "2093-3")
    # push the code filter below the child join: only panel rows join
    panel = o.filter(is_ldl | is_hdl | is_tot).join(v, "key")

    agg = panel.groupBy(o.patient.alias("key")).agg(
        F.max(F.when(fhir_contains(F.col("code"), "18262-6"), v.value)).alias("ldl_cholesterol"),
        F.max(F.when(fhir_contains(F.col("code"), "2085-9"), v.value)).alias("hdl_cholesterol"),
        F.max(F.when(fhir_contains(F.col("code"), "2093-3"), v.value)).alias("cholesterol"),
    )
    return agg.filter(
        F.col("ldl_cholesterol").isNotNull()
        & F.col("hdl_cholesterol").isNotNull()
        & F.col("cholesterol").isNotNull()
    )


# ---------------------------------------------------------------------------
# q13 — BMI per patient
# Reference: notebooks/DiabetesSQL.ipynb cell 24 — Observation ⋈ valueQuantity
# child table, WHERE code [ '39156-5', group-by patient max (SURVEY §2 A2, J4).


@register(
    "q13_bmi_per_patient",
    oracle=f"""
    SELECT o.patient AS key, max(v.value) AS bmi
    FROM read_parquet('{FX}/observations.parquet') o
    JOIN read_parquet('{FX}/observation_value_quantity.parquet') v ON o.key = v.key
    WHERE contains(o.code, '39156-5')
    GROUP BY o.patient
    """,
    doc="BMI per patient (DiabetesSQL cell 24): child-table join + max",
    tags=("fhir", "A2", "J4"),
)
def q13_bmi_per_patient(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["observations", "observation_value_quantity"])
    o, v = t["observations"], t["observation_value_quantity"]
    return (
        o.filter(fhir_contains(o.code, "39156-5"))  # pushed below the join
        .join(v, "key")
        .groupBy(o.patient.alias("key"))
        .agg(F.max(v.value).alias("bmi"))
    )


# ---------------------------------------------------------------------------
# q14 — race / ethnicity / birth-sex extraction (FHIRPath UDF)
# Reference: notebooks/RaceAndEthnicCategorySQL.ipynb cell 9 —
# GetFHIRPathOne over Rsrc.ResourceString for the 3 observed path shapes:
# nested extension('url').extension('url2').valueCoding.{code,display} and
# extension('url').valueCode (SURVEY §2 F3/F4, X1).
#
# The pandas UDF is the deliberate slow path (SURVEY §7.3): Arrow-batched,
# scan-local, placed AFTER the pushed `resource_type = 'Patient'` filter so
# only Patient rows cross the Python boundary. Filters on its output do not
# push down — none are used here.

_DUCK_EXT = (
    "list_filter(from_json(json_extract({src}, '$.extension'), '[\"JSON\"]'), "
    "x -> json_extract_string(x, '$.url') = '{url}')[1]"
)
_DUCK_EXT2 = (
    "list_filter(from_json(json_extract(" + _DUCK_EXT + ", '$.extension'), '[\"JSON\"]'), "
    "y -> json_extract_string(y, '$.url') = '{url2}')[1]"
)


def _duck_omb(url: str, leaf: str) -> str:
    e2 = _DUCK_EXT2.format(src="resource_string", url=url, url2="ombCategory")
    return f"json_extract_string({e2}, '$.valueCoding.{leaf}')"


@register(
    "q14_race_ethnicity",
    oracle=f"""
    SELECT key,
      {_duck_omb(RACE_URL, "display")} AS race,
      {_duck_omb(RACE_URL, "code")} AS race_code,
      {_duck_omb(ETH_URL, "display")} AS ethnic,
      {_duck_omb(ETH_URL, "code")} AS ethnic_code,
      json_extract_string({_DUCK_EXT.format(src="resource_string", url=SEX_URL)},
                          '$.valueCode') AS birth_sex
    FROM read_parquet('{FX}/resources.parquet')
    WHERE resource_type = 'Patient'
    """,
    doc="US-Core race/ethnicity/birth-sex via FHIRPath UDF (RaceAndEthnicCategorySQL cell 9)",
    tags=("fhir", "F3", "F4", "X1"),
)
def q14_race_ethnicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark)
    res = resources_of_type(spark, "Patient")

    # NOTE(perf, measured): all five fhirpath_one calls land in ONE
    # ArrowEvalPython node (one Arrow round trip, five flat string output
    # columns) — a combined "parse once, return array<string>" UDF was
    # ~3x SLOWER because list-array Arrow serialization of per-row Python
    # lists costs more than the five extra json.loads on ~1 KB docs.
    def fp(path: str, alias: str):
        return F.call_udf("fhirpath_one", F.col("resource_string"), F.lit(path)).alias(alias)

    return res.select(
        F.col("key"),
        fp(f"Patient.extension('{RACE_URL}').extension('ombCategory').valueCoding.display", "race"),
        fp(f"Patient.extension('{RACE_URL}').extension('ombCategory').valueCoding.code", "race_code"),
        fp(f"Patient.extension('{ETH_URL}').extension('ombCategory').valueCoding.display", "ethnic"),
        fp(f"Patient.extension('{ETH_URL}').extension('ombCategory').valueCoding.code", "ethnic_code"),
        fp(f"Patient.extension('{SEX_URL}').valueCode", "birth_sex"),
    )


# ---------------------------------------------------------------------------
# q15 — duplicate practitioners by GMP number
# Reference: notebooks/DeleteDuplicatesinIRISFHIRServer.ipynb cell 0 —
# Practitioner ⋈ Rsrc, GMP = GetFHIRPathOne(ResourceString,
# 'Practitioner.identifier[0].value'), IsNull(addressCountry,'') <> 'US',
# GROUP BY GMP HAVING count(*) > 1 (SURVEY §2 A3, F4, P4, J1).
#
# Plan: pushed type filter -> scan-local UDF -> single count shuffle on gmp.
# The delete step (S8) is the MERGE-delete branch in operators/merge.py.


@register(
    "q15_dup_practitioner_gmp",
    oracle=f"""
    SELECT json_extract_string(r.resource_string, '$.identifier[0].value') AS gmp,
           count(*) AS dup_count
    FROM read_parquet('{FX}/practitioners.parquet') p
    JOIN read_parquet('{FX}/resources.parquet') r ON r.key = p.key
    WHERE coalesce(p.address_country, '') <> 'US'
    GROUP BY 1 HAVING count(*) > 1
    """,
    doc="dup-GMP detection (DeleteDuplicates cell 0): UDF key + HAVING count>1",
    tags=("fhir", "A3", "F4", "P4", "J1"),
)
def q15_dup_practitioner_gmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark)
    t = load_fhir_tables(spark, ["practitioners"])
    p = t["practitioners"]
    r = resources_of_type(spark, "Practitioner")

    # the silver fixture carries its own resource_string copy — drop it so the
    # bronze-side column (the reference's Rsrc.ResourceString) is unambiguous
    joined = p.drop("resource_string").join(
        r.select("key", "resource_string"), "key"
    ).filter(isnull2(p.address_country, F.lit("")) != "US")
    gmp = F.call_udf(
        "fhirpath_one",
        F.col("resource_string"),
        F.lit("Practitioner.identifier[0].value"),
    ).alias("gmp")
    return (
        joined.select(gmp)
        .groupBy("gmp")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# q16 — ODS organization extract (search row ⋈ raw JSON projection)
# Reference: dags/ODSImport.py:119-123 — `select org._id, org.Key,
# org.Identifier, org._lastUpdated, resource.ResourceString, null as ODS
# from Organization org join Rsrc resource on resource.ID = org._id where
# org.type [ '...organisation-role|76' and IsNull(org.addressCountry,'')
# <> 'US'` (SURVEY §2 P1 incl. NULL literal, P3, P4, J1).


@register(
    "q16_org_extract",
    oracle=f"""
    SELECT o._id, o.key, o.identifier, o._last_updated,
           r.resource_string, CAST(NULL AS VARCHAR) AS ods
    FROM read_parquet('{FX}/organizations.parquet') o
    JOIN read_parquet('{FX}/resources.parquet') r ON r.key = o.key
    WHERE contains(o.type, '{ROLE_SYS}|76')
      AND coalesce(o.address_country, '') <> 'US'
    """,
    doc="ODS org extract (ODSImport.py:119-123): J1 + NULL literal + IsNull<>",
    tags=("fhir", "P1", "P3", "P4", "F10", "J1"),
)
def q16_org_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["organizations"])
    o = t["organizations"]
    r = resources_of_type(spark, "Organization").select("key", "resource_string")
    return (
        o.drop("resource_string")  # keep the bronze (Rsrc) copy unambiguous
        .filter(
            fhir_contains(o.type, f"{ROLE_SYS}|76")
            & (isnull2(o.address_country, F.lit("")) != "US")
        )
        .join(r, "key")
        .select(
            o._id,
            F.col("key"),
            o.identifier,
            o._last_updated,
            F.col("resource_string"),
            F.lit(None).cast("string").alias("ods"),
        )
    )


# ---------------------------------------------------------------------------
# q17 — observation unit pieces ($piece)
# Reference: OlderExamples/SQLConnections.ipynb cell 6 — nested `$piece`
# over the pipe-delimited unit/code index columns of the Observation
# search table + valueQuantity child join (SURVEY §2 F5, F12, J4, P3).


@register(
    "q17_obs_unit_piece",
    oracle=f"""
    SELECT o._id, o.key, o.patient,
           coalesce(string_split(o.code, ',')[1], '') AS code_short,
           coalesce(string_split(o.unit, '|')[3], '') AS unit_display,
           v.value
    FROM read_parquet('{FX}/observations.parquet') o
    JOIN read_parquet('{FX}/observation_value_quantity.parquet') v ON v.key = o.key
    WHERE contains(o.code, '38483-4')
    """,
    doc="$piece over delimited index columns (SQLConnections cell 6)",
    tags=("fhir", "F5", "F12", "J4", "P3"),
)
def q17_obs_unit_piece(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["observations", "observation_value_quantity"])
    o, v = t["observations"], t["observation_value_quantity"]
    return (
        o.filter(fhir_contains(o.code, "38483-4"))
        .join(v, "key")
        .select(
            o._id,
            F.col("key"),
            o.patient,
            piece(o.code, ",", 1).alias("code_short"),
            piece(o.unit, "|", 3).alias("unit_display"),
            v.value,
        )
    )


# ---------------------------------------------------------------------------
# q18 — join-key derivation from nested JSON (PractitionerRole)
# Reference: dags/ODSImport.py:500-515 — parse ResourceString, take
# practitioner.identifier.{system,value} / organization.identifier.{system,
# value}, keep the value only when the system matches (SURVEY §2 J9, F1/F2).
# get_json_object is JVM-side — no Python boundary, stays in codegen.


@register(
    "q18_role_key_derivation",
    oracle=f"""
    SELECT _id, key,
      CASE WHEN json_extract_string(resource_string, '$.practitioner.identifier.system')
                = '{GMP_SYS}'
           THEN json_extract_string(resource_string, '$.practitioner.identifier.value')
      END AS gmp,
      CASE WHEN json_extract_string(resource_string, '$.organization.identifier.system')
                = '{ODS_SYS}'
           THEN json_extract_string(resource_string, '$.organization.identifier.value')
      END AS ods
    FROM read_parquet('{FX}/practitioner_roles.parquet')
    """,
    doc="JSON join-key derivation (ODSImport.py:500-515): get_json_object + system guard",
    tags=("fhir", "J9", "F1", "F2"),
)
def q18_role_key_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    roles = load_fhir_tables(spark, ["practitioner_roles"])["practitioner_roles"]

    def keyed(path: str, system: str, alias: str):
        sys_c = F.get_json_object("resource_string", f"$.{path}.identifier.system")
        val_c = F.get_json_object("resource_string", f"$.{path}.identifier.value")
        return F.when(sys_c == system, val_c).alias(alias)

    return roles.select(
        "_id",
        "key",
        keyed("practitioner", GMP_SYS, "gmp"),
        keyed("organization", ODS_SYS, "ods"),
    )


# ---------------------------------------------------------------------------
# q19 — join-key derivation via regex over delimited identifiers
# Reference: dags/ODSImport.py:129-134 — python loop: split identifier on
# ',', regex-match the ods-organization-code entry, take split('|')[1].
# Vectorised with array higher-order functions — no loop, no UDF, fully
# codegen (SURVEY §2 J8, F11, F12).

_ODS_RE = "^https:.*ods-organization-code[|][A-Za-z0-9].*$"


@register(
    "q19_org_ods_regex",
    oracle=f"""
    SELECT _id, key,
      string_split(
        list_filter(string_split(identifier, ','),
                    x -> regexp_matches(x, '^https:.*ods-organization-code\\|[A-Za-z0-9].*$'))[1],
        '|')[2] AS ods
    FROM read_parquet('{FX}/organizations.parquet')
    """,
    doc="regex join-key derivation (ODSImport.py:129-134), vectorised",
    tags=("fhir", "J8", "F11", "F12"),
)
def q19_org_ods_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_fhir_tables(spark, ["organizations"])["organizations"]
    matched = F.filter(
        F.split(o.identifier, ","), lambda x: x.rlike(_ODS_RE)
    )
    # F.get: out-of-range / empty -> NULL (ANSI-safe, unlike element_at)
    ods = F.get(F.split(F.get(matched, 0), "[|]"), 1).alias("ods")
    return o.select("_id", "key", ods)


# ---------------------------------------------------------------------------
# q20 — bundle entry scan/extract
# Reference: dags/ConsultationNoteWritebackX.py:306-322 — loop over
# Bundle.entry pulling the Patient EMIS-DBID identifier and the Encounter
# identifier. Here: from_json to a typed partial schema + array
# higher-order filter — declarative, codegen, no UDF (SURVEY §2 U7, S5).

_BUNDLE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("fullUrl", T.StringType()),
            T.StructField(
                "resource",
                T.StructType(
                    [
                        T.StructField("resourceType", T.StringType()),
                        T.StructField("id", T.StringType()),
                        T.StructField(
                            "identifier",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("system", T.StringType()),
                                        T.StructField("value", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )
)


def _entry_ident(entries, rtype: str, system: str):
    res = F.get(
        F.filter(entries, lambda e: e.resource.resourceType == rtype), 0
    ).resource
    return F.get(F.filter(res.identifier, lambda i: i.system == system), 0).value


def _bundle_idents(spark: SparkSession) -> DataFrame:
    b = load_fhir_tables(spark, ["encounter_bundles"])["encounter_bundles"]
    entries = F.from_json(F.get_json_object("bundle_json", "$.entry"), _BUNDLE_SCHEMA)
    return b.select(
        "encounter_identifier",
        _entry_ident(entries, "Patient", DBID_SYS).alias("patient_dbid"),
        _entry_ident(entries, "Encounter", ENC_SYS).alias("encounter_ident"),
    )


_DUCK_ENTRY = (
    "list_filter(from_json(json_extract(bundle_json, '$.entry'), '[\"JSON\"]'), "
    "e -> json_extract_string(e, '$.resource.resourceType') = '{rtype}')[1]"
)
_DUCK_ENTRY_IDENT = (
    "json_extract_string(list_filter(from_json(json_extract("
    + _DUCK_ENTRY
    + ", '$.resource.identifier'), '[\"JSON\"]'), "
    "i -> json_extract_string(i, '$.system') = '{system}')[1], '$.value')"
)


@register(
    "q20_bundle_entry_extract",
    oracle=f"""
    SELECT encounter_identifier,
      {_DUCK_ENTRY_IDENT.format(rtype="Patient", system=DBID_SYS)} AS patient_dbid,
      {_DUCK_ENTRY_IDENT.format(rtype="Encounter", system=ENC_SYS)} AS encounter_ident
    FROM read_parquet('{FX}/encounter_bundles.parquet')
    """,
    doc="bundle entry identifier extract (ConsultationNoteWritebackX.py:306-322)",
    tags=("fhir", "U7", "S5"),
)
def q20_bundle_entry_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bundle_idents(spark)


# ---------------------------------------------------------------------------
# q21 — duplicate-consultation check (left-semi join)
# Reference: dags/ConsultationNoteWritebackX.py:297-333 — incoming
# encounter bundles are checked against existing Compositions on
# (patient DBID, encounter identifier); a hit routes to the DUPLICATE
# branch. Semantically a left-semi join (SURVEY §2.3 note, T2).
# compositions is tiny → broadcast; no shuffle of the probe side.


@register(
    "q21_duplicate_consultations",
    oracle=f"""
    SELECT b.encounter_identifier,
      {_DUCK_ENTRY_IDENT.format(rtype="Patient", system=DBID_SYS)} AS patient_dbid
    FROM read_parquet('{FX}/encounter_bundles.parquet') b
    WHERE EXISTS (
      SELECT 1 FROM read_parquet('{FX}/compositions.parquet') c
      WHERE c.patient_id =
        {_DUCK_ENTRY_IDENT.format(rtype="Patient", system=DBID_SYS)}
        AND c.encounter_identifier_value = b.encounter_identifier
    )
    """,
    doc="duplicate-consultation semi-join (ConsultationNoteWritebackX.py:297-333)",
    tags=("fhir", "T2", "J_semi"),
)
def q21_duplicate_consultations(spark: SparkSession, sf_dir: str) -> DataFrame:
    idents = _bundle_idents(spark)
    comps = load_fhir_tables(spark, ["compositions"])["compositions"]
    dup = idents.join(
        F.broadcast(comps),
        (idents.patient_dbid == comps.patient_id)
        & (idents.encounter_identifier == comps.encounter_identifier_value),
        "left_semi",
    )
    return dup.select("encounter_identifier", "patient_dbid")


# ---------------------------------------------------------------------------
# q37 — vital-signs time series (W3, F16)
# Reference: notebooks/VitalSignsREST.ipynb cell 4 /
# OlderExamples/SQLConnections.ipynb cell 7 — per-patient observation
# series ordered by effective time, values rounded for display. The
# ordering is a per-patient window sequence number, NOT a global sort —
# at 100 TB a global orderBy of a series extract is a pointless
# exchange+sort; the window shuffles once on patient and sorts locally.

from pyspark.sql import Window as _W  # noqa: E402


@register(
    "q37_vital_signs_series",
    oracle=f"""
    SELECT o.patient, o.key, o.date_start,
           round(v.value, 3) AS value,
           CAST(row_number() OVER (PARTITION BY o.patient
                                   ORDER BY o.date_start, o.key) AS INT) AS seq
    FROM read_parquet('{FX}/observations.parquet') o
    JOIN read_parquet('{FX}/observation_value_quantity.parquet') v ON v.key = o.key
    WHERE contains(o.code, '8302-2')
    """,
    doc="per-patient vital-signs time series (W3): window seq, no global sort",
    tags=("fhir", "W3", "F16", "J4"),
)
def q37_vital_signs_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["observations", "observation_value_quantity"])
    o, v = t["observations"], t["observation_value_quantity"]
    w = _W.partitionBy("patient").orderBy(F.asc("date_start"), F.asc("key"))
    return (
        o.filter(fhir_contains(o.code, "8302-2"))
        .join(v, "key")
        .select(
            o.patient,
            F.col("key"),
            o.date_start,
            F.round(v.value, 3).alias("value"),
        )
        .withColumn("seq", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# q38 — one-hot encoding of the cohort's categorical columns (F19/F20)
# Reference: notebooks/DiabetesSQL.ipynb cell 21 — OneHotEncoder on
# RaceCode/genderUK, concat back, rename to readable names
# (LatinoHispanic = EthnicCode=='2135-2'). Expressed as when() pivots —
# map-only, no encoder fit pass needed for a fixed vocabulary.

_RACE_ONEHOT = {
    "native": "1002-5",
    "black": "2054-5",
    "white": "2106-3",
    "asian": "2028-9",
}


@register(
    "q38_cohort_onehot",
    oracle=f"""
    WITH x AS (
      SELECT key,
        json_extract_string(resource_string, '$.gender') AS gender,
        {_duck_omb(RACE_URL, "code")} AS race_code,
        {_duck_omb(ETH_URL, "code")} AS ethnic_code
      FROM read_parquet('{FX}/resources.parquet')
      WHERE resource_type = 'Patient'
    )
    SELECT key,
      {", ".join(f"CAST(CASE WHEN race_code = '{code}' THEN 1 ELSE 0 END AS INT) AS race_{name}" for name, code in _RACE_ONEHOT.items())},
      CAST(CASE WHEN ethnic_code = '2135-2' THEN 1 ELSE 0 END AS INT) AS latino_hispanic,
      CAST(CASE WHEN gender = 'male' THEN 1 ELSE 0 END AS INT) AS gender_male,
      CAST(CASE WHEN gender = 'female' THEN 1 ELSE 0 END AS INT) AS gender_female
    FROM x
    """,
    doc="one-hot encode race/ethnicity/gender (F19/F20) as when() pivots",
    tags=("fhir", "F19", "F20", "X1"),
)
def q38_cohort_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark)
    res = resources_of_type(spark, "Patient")

    def fp(path: str, alias: str):
        return F.call_udf("fhirpath_one", F.col("resource_string"), F.lit(path)).alias(alias)

    x = res.select(
        "key",
        F.get_json_object("resource_string", "$.gender").alias("gender"),
        fp(f"Patient.extension('{RACE_URL}').extension('ombCategory').valueCoding.code", "race_code"),
        fp(f"Patient.extension('{ETH_URL}').extension('ombCategory').valueCoding.code", "ethnic_code"),
    )
    onehot = lambda cond, name: F.when(cond, 1).otherwise(0).cast("int").alias(name)  # noqa: E731
    return x.select(
        "key",
        *[onehot(F.col("race_code") == code, f"race_{name}") for name, code in _RACE_ONEHOT.items()],
        onehot(F.col("ethnic_code") == "2135-2", "latino_hispanic"),
        onehot(F.col("gender") == "male", "gender_male"),
        onehot(F.col("gender") == "female", "gender_female"),
    )


# ---------------------------------------------------------------------------
# q41 — bronze → silver derivation lineage
# The reference's HSFHIR_X0001_S.Patient table is maintained by the FHIR
# server; here the SAME projection is DERIVED from the bronze document
# store with get_json_object + the IRIS multi-value identifier encoding
# (fhir/views.py). This query is the lineage proof: silver is a pure
# function of bronze. At scale the view materializes incrementally from
# the ingest stream; the expressions are identical.


@register(
    "q41_patient_silver_from_bronze",
    oracle=f"""
    SELECT json_extract_string(resource_string, '$.id') AS _id,
           key,
           array_to_string(list_transform(
             from_json(json_extract(resource_string, '$.identifier'), '["JSON"]'),
             x -> json_extract_string(x, '$.system') || '|' || json_extract_string(x, '$.value')
           ), ',') AS identifier,
           CAST(json_extract_string(resource_string, '$.birthDate') AS DATE) AS birthdate,
           json_extract_string(resource_string, '$.gender') AS gender,
           json_extract_string(resource_string, '$.address[0].country') AS address_country
    FROM read_parquet('{FX}/resources.parquet')
    WHERE resource_type = 'Patient'
    """,
    doc="silver Patient projection derived from bronze JSON (L3 lineage)",
    tags=("fhir", "L3", "F1", "F2"),
)
def q41_patient_silver_from_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fhir.views import patient_view

    res = load_fhir_tables(spark, ["resources"])["resources"]
    return patient_view(res).select(
        "_id", "key", "identifier", "birthdate", "gender", "address_country"
    )


# ---------------------------------------------------------------------------
# q45 — $extract-collection: per-patient record assembly (S5)
# Reference: dags/ConsultationNoteWritebackX.py:264-291 — GET
# /Encounter/$extract-collection returns a Bundle holding the whole
# consultation (patient + conditions + observations…). The engine form:
# multi-way join of resource views on the patient key, collected into a
# sorted entry array (sorted so the assembly is deterministic — a real
# Bundle's entry order is producer-defined).
# Scale: two shuffles (conditions, observations each groupBy patient)
# then a join on patient; entry arrays stay bounded by per-patient
# fan-in, never a global collect.


@register(
    "q45_extract_collection",
    oracle=f"""
    WITH c AS (
      SELECT patient, list_sort(list('Condition/' || _id)) AS cond_list
      FROM read_parquet('{FX}/conditions.parquet') GROUP BY patient
    ),
    o AS (
      SELECT patient, count(*) AS n_obs
      FROM read_parquet('{FX}/observations.parquet') GROUP BY patient
    )
    SELECT p.key AS patient_key,
           coalesce(array_to_string(c.cond_list, ','), '') AS cond_entries,
           coalesce(o.n_obs, 0) AS n_obs,
           1 + len(coalesce(c.cond_list, [])) + coalesce(o.n_obs, 0) AS n_entries
    FROM read_parquet('{FX}/patients.parquet') p
    LEFT JOIN c ON c.patient = p.key
    LEFT JOIN o ON o.patient = p.key
    """,
    doc="$extract-collection assembly: joins collected into sorted entry lists (S5)",
    tags=("fhir", "S5", "A5"),
)
def q45_extract_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fhir_tables(spark, ["patients", "conditions", "observations"])
    conds = (
        t["conditions"]
        .groupBy("patient")
        .agg(F.array_sort(F.collect_list(F.concat(F.lit("Condition/"), F.col("_id")))).alias("cond_entries"))
    )
    obs = t["observations"].groupBy("patient").agg(F.count(F.lit(1)).alias("n_obs"))
    p = t["patients"]
    joined = p.join(conds, p.key == conds.patient, "left").join(
        obs, p.key == obs.patient, "left"
    )
    # Driver's order-insensitive hasher can't hash list cells, so the entry
    # array is serialized to a ','-joined string AFTER n_entries is computed
    # from the (already sorted) array — both engines serialize identically.
    cond_list = F.coalesce(F.col("cond_entries"), F.array().cast("array<string>"))
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0))
    return joined.select(
        p.key.alias("patient_key"),
        F.array_join(cond_list, ",").alias("cond_entries"),
        n_obs.alias("n_obs"),
        (F.lit(1) + F.size(cond_list) + n_obs).alias("n_entries"),
    )


# ---------------------------------------------------------------------------
# q131 — patient record linkage (entity resolution): the full
# blocking → pairwise scoring → transitive closure pipeline over the
# patient registry. The reference stops at exact-duplicate detection
# (A3, q15/q35); real registries need PROBABILISTIC linkage — records
# that agree on most-but-not-all identifiers. Shape:
#
# 1. **Block** on family name (candidate pairs only within a block —
#    the O(n²) killer; block sizes are bounded by surname frequency).
# 2. **Score** each in-block pair on field agreement: birthdate,
#    gender, given-initial — integers, no fuzzy floats, so the score
#    is cross-engine exact.
# 3. **Link** pairs scoring >= 2, then resolve transitive identity
#    with connected components (operators/graph.py — A~B~C links make
#    one identity even when A,C never directly matched).
#
# The oracle replays scoring in SQL and closes the link graph with a
# recursive CTE — closure convergence is verified, not assumed.
# Scale: one shuffle on the block key; pair generation never leaves a
# block; CC is O(log d) rounds over the (tiny) link set.

LINK_SCORE_MIN = 2


@register(
    "q131_patient_linkage",
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT CAST(_id AS BIGINT) AS id,
             json_extract_string(resource_string, '$.name[0].family') AS family,
             substr(json_extract_string(resource_string, '$.name[0].given[0]'), 1, 1) AS gi,
             birthdate, gender
      FROM read_parquet('{{fx}}/patients.parquet')
    ),
    pairs AS (
      SELECT a.id AS u, b.id AS v,
             (CASE WHEN a.birthdate = b.birthdate THEN 1 ELSE 0 END
              + CASE WHEN a.gender = b.gender THEN 1 ELSE 0 END
              + CASE WHEN a.gi = b.gi THEN 1 ELSE 0 END) AS score
      FROM p a JOIN p b ON a.family = b.family AND a.id < b.id
    ),
    e AS (SELECT u, v FROM pairs WHERE score >= {LINK_SCORE_MIN}),
    bidir AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    reach(id, label) AS (
      SELECT id, id FROM p
      UNION
      SELECT b.u, r.label FROM bidir b JOIN reach r ON r.id = b.v
    ),
    cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS patient_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM cc
    """.format(fx=FX),
    doc="patient record linkage: surname blocking -> integer field "
    "scoring -> transitive closure (entity resolution beyond exact dup)",
    tags=("fhir", "dedup", "A3", "graph"),
)
def q131_patient_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    pts = load_fhir_tables(spark, ["patients"])["patients"]
    p = pts.select(
        F.col("_id").cast("long").alias("id"),
        F.get_json_object("resource_string", "$.name[0].family").alias("family"),
        F.substring(
            F.get_json_object("resource_string", "$.name[0].given[0]"), 1, 1
        ).alias("gi"),
        "birthdate",
        "gender",
    )
    a, b = p.alias("a"), p.alias("b")
    score = (
        F.when(F.col("a.birthdate") == F.col("b.birthdate"), 1).otherwise(0)
        + F.when(F.col("a.gender") == F.col("b.gender"), 1).otherwise(0)
        + F.when(F.col("a.gi") == F.col("b.gi"), 1).otherwise(0)
    )
    edges = (
        a.join(
            b,
            (F.col("a.family") == F.col("b.family"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("u"), F.col("b.id").alias("v"), score.alias("score")
        )
        .filter(F.col("score") >= LINK_SCORE_MIN)
        .select("u", "v")
    )
    cc = connected_components(
        p.select("id"), edges, scratch_prefix="q131_cc"
    )
    return cc.select(
        F.col("id").alias("patient_id"),
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )
