"""L2 function surface unit tests (SURVEY §2.7), incl. IRIS semantics
edge cases called out in SURVEY §7.4 risk #2."""

from __future__ import annotations

import datetime
import json

from pyspark.sql import functions as F

from data_engineering_examples_spark import functions as fx
from data_engineering_examples_spark.functions.fhirpath import (
    eval_fhirpath,
    eval_fhirpath_one,
    parse_path,
)

PATIENT = {
    "resourceType": "Patient",
    "gender": "female",
    "identifier": [
        {"system": "https://github.com/synthetichealth/synthea", "value": "abc-123"},
        {"system": "urn:oid:2", "value": "999"},
    ],
    "extension": [
        {
            "url": "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race",
            "extension": [
                {"url": "ombCategory", "valueCoding": {"code": "2106-3", "display": "White"}},
                {"url": "text", "valueString": "White"},
            ],
        },
        {
            "url": "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex",
            "valueCode": "F",
        },
    ],
}


class TestFHIRPath:
    def test_parse_url_with_dots(self):
        segs = parse_path("Patient.extension('http://a.b/c-d').valueCode")
        assert [s[0] for s in segs] == ["Patient", "extension", "valueCode"]
        assert segs[1][1] == "http://a.b/c-d"

    def test_birthsex(self):
        p = "Patient.extension('http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex').valueCode"
        assert eval_fhirpath_one(json.dumps(PATIENT), p) == "F"

    def test_nested_extension_coding(self):
        race = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"
        assert (
            eval_fhirpath_one(
                json.dumps(PATIENT),
                f"Patient.extension('{race}').extension('ombCategory').valueCoding.code",
            )
            == "2106-3"
        )
        assert (
            eval_fhirpath_one(
                json.dumps(PATIENT),
                f"Patient.extension('{race}').extension('ombCategory').valueCoding.display",
            )
            == "White"
        )

    def test_indexer(self):
        assert eval_fhirpath_one(json.dumps(PATIENT), "identifier[0].value") == "abc-123"
        assert eval_fhirpath_one(json.dumps(PATIENT), "identifier[1].value") == "999"
        assert eval_fhirpath_one(json.dumps(PATIENT), "identifier[9].value") is None

    def test_resource_type_mismatch(self):
        assert eval_fhirpath_one(json.dumps(PATIENT), "Observation.gender") is None

    def test_missing_extension_null(self):
        bare = {"resourceType": "Patient", "gender": "male"}
        assert eval_fhirpath_one(json.dumps(bare), "Patient.extension('http://x').valueCode") is None

    def test_all_matches(self):
        assert eval_fhirpath(json.dumps(PATIENT), "identifier.value") == ["abc-123", "999"]

    def test_garbage_json(self):
        assert eval_fhirpath_one("{not json", "Patient.gender") is None
        assert eval_fhirpath_one(None, "Patient.gender") is None


class TestColumnHelpers:
    def test_fhir_contains(self, spark):
        df = spark.createDataFrame(
            [("38483-4,http://loinc.org|38483-4",), ("2085-9",), (None,)], ["code"]
        )
        got = df.select(fx.fhir_contains("code", "38483-4").alias("m")).collect()
        assert [r.m for r in got] == [True, False, None]

    def test_piece_literal_delims(self, spark):
        df = spark.createDataFrame([("http://loinc.org|38483-4|mg/dL",)], ["u"])
        row = df.select(
            fx.piece("u", "|", 2).alias("p2"),
            fx.piece("u", "|", 3).alias("p3"),
            fx.piece("u", "|", 9).alias("p9"),  # IRIS: missing piece -> ''
        ).first()
        assert (row.p2, row.p3, row.p9) == ("38483-4", "mg/dL", "")

    def test_age_years_is_calendar_boundary(self, spark):
        df = spark.createDataFrame(
            [(datetime.date(1999, 12, 31), datetime.date(2000, 1, 1))], ["bd", "asof"]
        )
        # IRIS DATEDIFF('year') counts year boundaries: 1, not 0
        assert df.select(fx.age_years("bd", F.col("asof")).alias("a")).first().a == 1

    def test_yyyymmdd(self, spark):
        df = spark.createDataFrame([("19991231",), (None,)], ["d"])
        got = [r.v for r in df.select(fx.yyyymmdd_to_date("d").alias("v")).collect()]
        assert got == [datetime.date(1999, 12, 31), None]

    def test_ifnull3(self, spark):
        df = spark.createDataFrame([("x",), (None,)], ["a"])
        got = [
            r.v
            for r in df.select(
                fx.ifnull3("a", F.lit(0), F.lit(1)).alias("v")
            ).collect()
        ]
        assert got == [1, 0]


class TestSQLRegistration:
    def test_sql_surface(self, spark):
        fx.register_all(spark)
        row = spark.sql(
            """SELECT fhir_contains('a,b|c', 'b|c') AS fc,
                      ifnull3(NULL, 'absent', 'present') AS i3,
                      ifnull3_int('42', 0, 1) AS flag,
                      isnull2(NULL, 'GB') AS i2,
                      piece('x|y|z', '|', 2) AS p,
                      age_years(DATE'1999-12-31', DATE'2000-01-01') AS age,
                      yyyymmdd_to_date('20240229') AS d"""
        ).first()
        assert row.fc is True
        assert row.i3 == "absent"
        assert row.flag == 1
        assert row.i2 == "GB"
        assert row.p == "y"
        assert row.age == 1
        assert row.d == datetime.date(2024, 2, 29)

    def test_fhirpath_udf_on_df(self, spark):
        fx.register_all(spark)
        df = spark.createDataFrame([(json.dumps(PATIENT),)], ["resource_string"])
        df.createOrReplaceTempView("_fp_test")
        row = spark.sql(
            """SELECT fhirpath_one(resource_string, 'identifier[0].value') AS v,
                      fhirpath(resource_string, 'identifier.value') AS all
               FROM _fp_test"""
        ).first()
        assert row.v == "abc-123"
        assert json.loads(row.all) == ["abc-123", "999"]
