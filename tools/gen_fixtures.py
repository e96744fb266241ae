"""Deterministic FHIR-shaped fixture generator (FIXTURES.md schemas).

Generates the healthcare-side test inputs the driver's TPC-H-ish tables
can't provide: a bronze ``resources`` document store, the per-type search
projections (mirroring the reference's ``HSFHIR_X0001_S.*`` tables), NHS
ODS master CSVs, and workflow tables. Written once to the repo's
``fixtures/`` directory and committed; every byte derives from ``random.Random(FIXED_SEED)`` so
regeneration is reproducible.

Run: ``python tools/gen_fixtures.py``
Reference shapes: ``dags/ODSImport.py:84-97`` (CSV columns),
``notebooks/RaceAndEthnicCategorySQL.ipynb`` cells 5/7/9 (US-Core
extensions), ``OlderExamples/SQLConnections.ipynb`` cell 5 (Observation
JSON), ``dags/ConsultationNoteWritebackX.py:63-96`` (Task fields).
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

N_PATIENTS = 1200
N_CONDITIONS = 2500
N_OBSERVATIONS = 20000
N_ORGS = 1600
N_PRACTITIONERS = 2000
N_ROLES = 2500
N_EPRACCUR = 1700
N_EGPCUR = 2200
N_TASKS = 200

RACE_CODES = [
    ("1002-5", "American Indian or Alaska Native"),
    ("2054-5", "Black or African American"),
    ("2106-3", "White"),
    ("2028-9", "Asian"),
    ("UNK", "Unknown"),
]
ETH_CODES = [("2135-2", "Hispanic or Latino"), ("2186-5", "Not Hispanic or Latino")]
RACE_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"
ETH_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity"
SEX_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"
SYNTHEA = "https://github.com/synthetichealth/synthea"
ODS_SYS = "https://fhir.nhs.uk/Id/ods-organization-code"
GMP_SYS = "https://fhir.hl7.org.uk/Id/gmp-number"
ROLE_SYS = "https://fhir.nhs.uk/CodeSystem/organisation-role"
LOINC = "http://loinc.org"
SNOMED = "http://snomed.info/sct"

# SNOMED codes from notebooks/DiabetesSQL.ipynb cell 3 + decoys that share
# prefixes/superstrings (contains-op edge cases: '44054006' substring-matches
# a hypothetical '440540061' in BOTH engines — faithful IRIS `[` semantics).
COND_CODES = [
    "44054006",   # type 2 diabetes
    "59621000",   # hypertension
    "162864005",  # obese (BMI 30+)
    "408512008",  # severely obese (BMI 40+)
    "73211009",   # diabetes mellitus (decoy: different code, related concept)
    "440540061",  # decoy: supercode containing 44054006
    "15777000",   # prediabetes
    "271737000",  # anemia
]
OBS_CODES = [
    "38483-4",  # creatinine
    "29463-7",  # weight
    "8302-2",   # height
    "85354-9",  # BP panel
    "39156-5",  # BMI
    "72514-3",  # pain
    "18262-6",  # LDL
    "2085-9",   # HDL
    "2093-3",   # total cholesterol
]
OBS_UNITS = {
    "38483-4": "mg/dL", "29463-7": "kg", "8302-2": "cm", "85354-9": "mmHg",
    "39156-5": "kg/m2", "72514-3": "{score}", "18262-6": "mg/dL",
    "2085-9": "mg/dL", "2093-3": "mg/dL",
}

SURNAMES = ["SMITH", "JONES", "KOYA", "PATEL", "BROWN", "TAYLOR", "WILSON", "DAVIES", "EVANS", "THOMAS"]
GIVEN = ["A", "B", "C", "J", "M", "R", "S", "MR", "DR"]


def _uuid(rng: random.Random) -> str:
    return "-".join(
        "".join(rng.choice("0123456789abcdef") for _ in range(n)) for n in (8, 4, 4, 4, 12)
    )


def _ts(rng: random.Random, start: datetime, days: int) -> datetime:
    return start + timedelta(seconds=rng.randrange(days * 86400), microseconds=rng.randrange(1000000))


def write_parquet(name: str, rows: list[dict], schema: pa.Schema) -> None:
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(OUT, f"{name}.parquet"))
    print(f"  {name}: {len(rows)} rows")


def gen_patients(rng: random.Random):
    patients, resources = [], []
    for i in range(N_PATIENTS):
        # birthday-boundary edge cases: force some Dec-31/Jan-1 births
        if i % 97 == 0:
            bd = date(1930 + (i % 90), 12, 31)
        elif i % 97 == 1:
            bd = date(1930 + (i % 90), 1, 1)
        else:
            bd = date(1930 + rng.randrange(95), rng.randrange(1, 13), rng.randrange(1, 29))
        gender = rng.choices(["male", "female", "other", None], [46, 46, 4, 4])[0]
        country = rng.choices(["US", "GB", None], [80, 15, 5])[0]
        syn_id = _uuid(rng)
        nhs = f"{rng.randrange(400000000, 499999999)}"
        identifier = f"{SYNTHEA}|{syn_id},https://fhir.nhs.uk/Id/nhs-number|{nhs}"
        last_upd = _ts(rng, datetime(2025, 1, 1), 180)

        exts = []
        if rng.random() < 0.85:  # some patients LACK the race extension
            code, disp = rng.choice(RACE_CODES)
            exts.append({
                "url": RACE_URL,
                "extension": [
                    {"url": "ombCategory", "valueCoding": {"system": "urn:oid:2.16.840.1.113883.6.238", "code": code, "display": disp}},
                    {"url": "text", "valueString": disp},
                ],
            })
        if rng.random() < 0.85:
            code, disp = rng.choices(ETH_CODES, [30, 70])[0]
            exts.append({
                "url": ETH_URL,
                "extension": [
                    {"url": "ombCategory", "valueCoding": {"system": "urn:oid:2.16.840.1.113883.6.238", "code": code, "display": disp}},
                    {"url": "text", "valueString": disp},
                ],
            })
        if rng.random() < 0.9:
            exts.append({"url": SEX_URL, "valueCode": rng.choice(["M", "F"])})

        doc = {
            "resourceType": "Patient",
            "id": str(i),
            "identifier": [
                {"system": SYNTHEA, "value": syn_id},
                {"system": "https://fhir.nhs.uk/Id/nhs-number", "value": nhs},
            ],
            "name": [{"family": rng.choice(SURNAMES).title(), "given": [rng.choice(GIVEN)]}],
            "gender": gender,
            "birthDate": bd.isoformat(),
            "address": [{"country": country}] if country else [],
        }
        if exts:
            doc["extension"] = exts
        patients.append({
            "_id": str(i), "key": f"Patient/{i}", "identifier": identifier,
            "birthdate": bd, "gender": gender, "address_country": country,
            "_last_updated": last_upd, "resource_string": json.dumps(doc, separators=(",", ":")),
        })
        resources.append(("Patient", str(i), patients[-1]["resource_string"], last_upd, rng.randrange(1, 5)))
    return patients, resources


def gen_conditions(rng: random.Random):
    conditions, resources = [], []
    for i in range(N_CONDITIONS):
        pid = rng.randrange(N_PATIENTS)
        code = rng.choices(COND_CODES, [15, 14, 12, 6, 10, 4, 10, 29])[0]
        # duplicate same-code conditions for some patients (fan-out check)
        onset = date(1990 + rng.randrange(35), rng.randrange(1, 13), rng.randrange(1, 29))
        code_col = f"{code},{SNOMED}|{code},{SNOMED}|"
        doc = {
            "resourceType": "Condition", "id": str(i),
            "code": {"coding": [{"system": SNOMED, "code": code}]},
            "subject": {"reference": f"Patient/{pid}"},
            "onsetDateTime": onset.isoformat(),
        }
        last_upd = _ts(rng, datetime(2025, 1, 1), 180)
        conditions.append({
            "_id": str(i), "key": f"Condition/{i}", "patient": f"Patient/{pid}",
            "code": code_col, "onset_date_start": onset.isoformat(),
        })
        resources.append(("Condition", str(i), json.dumps(doc, separators=(",", ":")), last_upd, 1))
    return conditions, resources


def gen_observations(rng: random.Random):
    observations, child, resources = [], [], []
    for i in range(N_OBSERVATIONS):
        pid = rng.randrange(N_PATIENTS)
        code = rng.choice(OBS_CODES)
        unit = OBS_UNITS[code]
        value = round(rng.uniform(0.5, 300.0), 2)
        eff = _ts(rng, datetime(2010, 1, 1), 5400)
        code_col = f"{code},{LOINC}|{code},{LOINC}|"
        unit_col = f"{LOINC}|{code}|{unit}"
        doc = {
            "resourceType": "Observation", "id": str(i), "status": "final",
            "category": [{"coding": [{"system": "http://terminology.hl7.org/CodeSystem/observation-category", "code": "vital-signs"}]}],
            "code": {"coding": [{"system": LOINC, "code": code}]},
            "subject": {"reference": f"Patient/{pid}"},
            "effectiveDateTime": eff.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            "valueQuantity": {"value": value, "unit": unit, "system": "http://unitsofmeasure.org", "code": unit},
        }
        observations.append({
            "_id": str(i), "key": f"Observation/{i}", "patient": f"Patient/{pid}",
            "code": code_col, "date_start": eff.strftime("%Y-%m-%dT%H:%M:%S"),
            "unit": unit_col, "vq_value": value, "vq_unit": unit,
        })
        child.append({"key": f"Observation/{i}", "value": value, "unit": unit})
        if i % 5 == 0:  # bronze holds a subset to keep resources.parquet small
            resources.append(("Observation", str(i), json.dumps(doc, separators=(",", ":")), eff, 1))
    return observations, child, resources


def gen_organizations(rng: random.Random):
    orgs, resources = [], []
    for i in range(N_ORGS):
        ods = f"F{82000 + i}" if rng.random() < 0.9 else None  # some lack an ODS code
        parts = []
        if ods:
            parts.append(f"{ODS_SYS}|{ods}")
        parts.append(f"urn:oid:1.2.3|{_uuid(rng)[:8]}")
        rng.shuffle(parts)
        identifier = ",".join(parts)
        role = rng.choices(["76", "177", "197"], [60, 25, 15])[0]
        type_col = f"{ROLE_SYS}|{role},{ROLE_SYS}|"
        country = rng.choices(["GB", "US", None], [85, 10, 5])[0]
        postal = f"SW{rng.randrange(1, 20)} {rng.randrange(1, 9)}AA"
        active = rng.random() < 0.9
        telecom_empty = rng.random() < 0.2
        has_partof = rng.random() < 0.3
        doc = {
            "resourceType": "Organization", "id": str(i),
            "identifier": ([{"system": ODS_SYS, "value": ods}] if ods else []) ,
            "name": f"Practice {i}",
            "active": active,
            "type": [{"coding": [{"system": ROLE_SYS, "code": role}]}],
            "address": [{"postalCode": postal, "country": country}],
        }
        if not telecom_empty:
            doc["telecom"] = [{"system": "phone", "value": f"0{rng.randrange(1000000000, 1999999999)}"}]
        if has_partof:
            doc["partOf"] = {"reference": f"Organization/{rng.randrange(N_ORGS)}"}
        last_upd = _ts(rng, datetime(2025, 1, 1), 180)
        js = json.dumps(doc, separators=(",", ":"))
        orgs.append({
            "_id": str(i), "key": f"Organization/{i}", "identifier": identifier,
            "type": type_col, "address_country": country, "_last_updated": last_upd,
            "resource_string": js,
        })
        resources.append(("Organization", str(i), js, last_upd, rng.randrange(1, 4)))
    return orgs, resources


def gen_practitioners(rng: random.Random):
    pracs, resources = [], []
    gmp_pool = [f"G{rng.randrange(1000000, 9999999)}" for _ in range(int(N_PRACTITIONERS * 0.85))]
    for i in range(N_PRACTITIONERS):
        # ~15% of rows reuse a pool GMP -> duplicate-GMP groups for the dedup query
        gmp = gmp_pool[i] if i < len(gmp_pool) else rng.choice(gmp_pool[:200])
        identifier = f"{GMP_SYS}|{gmp},urn:oid:2.5|{_uuid(rng)[:8]}"
        name = f"{rng.choice(SURNAMES)} {rng.choice(GIVEN)}"
        doc = {
            "resourceType": "Practitioner", "id": str(i),
            "identifier": [{"system": GMP_SYS, "value": gmp}],
            "name": [{"family": name.split(" ")[0], "given": name.split(" ")[1:]}],
            "active": rng.random() < 0.95,
        }
        last_upd = _ts(rng, datetime(2025, 1, 1), 180)
        js = json.dumps(doc, separators=(",", ":"))
        pracs.append({
            "_id": str(i), "key": f"Practitioner/{i}", "identifier": identifier,
            "address_country": rng.choices(["GB", None], [90, 10])[0],
            "_last_updated": last_upd, "resource_string": js,
        })
        resources.append(("Practitioner", str(i), js, last_upd, 1))
    return pracs, resources


def gen_roles(rng: random.Random):
    roles, resources = [], []
    for i in range(N_ROLES):
        gmp = f"G{rng.randrange(1000000, 9999999)}"
        ods = f"F{82000 + rng.randrange(N_ORGS)}"
        # some rows carry non-matching identifier systems (J9 guard coverage)
        gmp_sys = GMP_SYS if rng.random() < 0.9 else "urn:oid:0.0"
        ods_sys = ODS_SYS if rng.random() < 0.9 else "urn:oid:0.0"
        started = date(2000 + rng.randrange(25), rng.randrange(1, 13), rng.randrange(1, 29))
        doc = {
            "resourceType": "PractitionerRole", "id": str(i),
            "practitioner": {"identifier": {"system": gmp_sys, "value": gmp}},
            "organization": {"identifier": {"system": ods_sys, "value": ods}},
            "period": {"start": started.isoformat()},
            "active": True,
        }
        last_upd = _ts(rng, datetime(2025, 1, 1), 180)
        js = json.dumps(doc, separators=(",", ":"))
        roles.append({"_id": str(i), "key": f"PractitionerRole/{i}", "_last_updated": last_upd, "resource_string": js})
        resources.append(("PractitionerRole", str(i), js, last_upd, 1))
    return roles, resources


def gen_tasks(rng: random.Random):
    tasks, resources = [], []
    statuses = ["requested", "accepted", "in-progress", "completed", "failed", "cancelled", "rejected"]
    for i in range(N_TASKS):
        status = rng.choices(statuses, [15, 30, 10, 30, 5, 5, 5])[0]
        authored = _ts(rng, datetime(2025, 5, 1), 150)  # straddles 2025-07-01
        # version guards: a few runaway rows >100 and >1000
        version = rng.choices([rng.randrange(1, 20), rng.randrange(101, 200), rng.randrange(1001, 1100)], [92, 5, 3])[0]
        enc_val = f"ENC-{rng.randrange(40)}"
        tid = _uuid(rng)
        doc = {
            "resourceType": "Task", "id": tid, "status": status,
            "authoredOn": authored.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            "meta": {"versionId": str(version)},
            "focus": {"identifier": {"system": "https://fhir.virtually.healthcare/Id/Encounter", "value": enc_val}},
        }
        js = json.dumps(doc, separators=(",", ":"))
        tasks.append({
            "id": tid, "status": status, "authored_on": authored, "version_id": version,
            "focus_identifier_system": "https://fhir.virtually.healthcare/Id/Encounter",
            "focus_identifier_value": enc_val,
            "note": json.dumps([{"time": authored.strftime("%Y-%m-%dT%H:%M:%S+00:00"), "text": "created"}]),
            "output": "[]", "resource_string": js,
        })
        resources.append(("Task", tid, js, authored, version))
    return tasks, resources


def gen_bundles(rng: random.Random):
    bundles, compositions = [], []
    for i in range(40):
        enc_val = f"ENC-{i}"
        pid = rng.randrange(N_PATIENTS)
        has_dbid = rng.random() < 0.8
        patient_ident = [{"system": SYNTHEA, "value": _uuid(rng)}]
        if has_dbid:
            patient_ident.append({"system": "https://emis.com/Id/Patient/DBID", "value": str(10000 + pid)})
        legacy = rng.random() < 0.5
        qr_items = (
            [{"text": "Presenting complaint", "answer": [{"valueString": "cough"}]},
             {"text": "Problem", "answer": [{"valueString": "URTI"}]}]
            if legacy
            else [{"linkId": "61149-1", "text": "consultation", "item": [
                {"linkId": "q1", "text": "Presenting complaint", "answer": [{"valueString": "cough"}]}]}]
        )
        entries = [
            {"fullUrl": f"urn:uuid:{_uuid(rng)}", "resource": {"resourceType": "Patient", "id": str(pid), "identifier": patient_ident}},
            {"fullUrl": f"urn:uuid:{_uuid(rng)}", "resource": {
                "resourceType": "Encounter", "id": f"e{i}",
                "identifier": [{"system": "https://fhir.virtually.healthcare/Id/Encounter", "value": enc_val}]}},
            {"fullUrl": f"urn:uuid:{_uuid(rng)}", "resource": {
                "resourceType": "Observation", "id": f"o{i}",
                "code": {"coding": [{"system": LOINC, "code": "8302-2"}]},
                "valueQuantity": {"value": round(rng.uniform(150, 200), 1), "unit": "cm"}}},
            {"fullUrl": f"urn:uuid:{_uuid(rng)}", "resource": {
                "resourceType": "QuestionnaireResponse", "id": f"q{i}", "status": "completed", "item": qr_items}},
        ]
        bundle = {"resourceType": "Bundle", "type": "collection", "entry": entries}
        bundles.append({"encounter_identifier": enc_val, "bundle_json": json.dumps(bundle, separators=(",", ":"))})
        if rng.random() < 0.4:  # DUPLICATE branch rows for the semi-join check
            compositions.append({
                "patient_id": str(10000 + pid), "encounter_identifier_value": enc_val,
                "composition_json": json.dumps({"resourceType": "Composition", "id": f"c{i}",
                                                "subject": {"reference": f"Patient/{pid}"}}, separators=(",", ":")),
            })
    return bundles, compositions


def gen_ods_csvs(rng: random.Random, orgs, pracs):
    """Headerless positional CSVs per dags/ODSImport.py:84-97/:319-327.
    Overlap matrix vs the DB-side tables: rows only in CSV (create), in both
    equal (no-op), in both differing (update), only in DB (delete-candidate)."""
    ep_rows = []
    for i in range(N_EPRACCUR):
        ods = f"F{82000 + i}"  # i < N_ORGS overlap; i >= N_ORGS are CSV-only creates
        name = f"PRACTICE {i}"
        opened = 19900000 + rng.randrange(1, 12) * 100 + rng.randrange(1, 28) + rng.randrange(30) * 10000
        closed = "" if rng.random() < 0.9 else str(opened + 200000)
        postal = f"SW{rng.randrange(1, 20)} {rng.randrange(1, 9)}AA"
        phone = f" 0{rng.randrange(1000000000, 1999999999)} "  # leading/trailing spaces (strip target)
        # positional layout per dags/ODSImport.py:84-97 (26 cols):
        # 0 ODS, 1 Name, 2 NationalGrouping, 3 filler, 4-8 AddressLine_1..5,
        # 9 PostCode, 10 Opened, 11 Closed, 12-13 filler, 14 PRAC_ODS,
        # 15-16 filler, 17 PhoneNumber, 18-25 filler
        row = [ods, name, "Y56", "", f"{i} HIGH ST", "SUITE 1", f"TOWN{i % 50}", "COUNTY", "", postal,
               str(opened), closed, "", "4", f"F{82000 + (i % 100)}", "", "", phone, "", "0", "", "", "", "", "", ""]
        ep_rows.append(",".join('"' + c + '"' if "," in c else c for c in row))
    with open(os.path.join(OUT, "epraccur.csv"), "w") as f:
        f.write("\n".join(ep_rows) + "\n")
    print(f"  epraccur.csv: {len(ep_rows)} rows")

    eg_rows = []
    for i in range(N_EGPCUR):
        gmp = f"G{1000000 + i}"
        # single-token names exercise the given() edge case (ODSImport.py:328-334)
        name = rng.choice(SURNAMES) if rng.random() < 0.1 else f"{rng.choice(SURNAMES)} {rng.choice(GIVEN)} {rng.choice(GIVEN)}"
        ods = f"F{82000 + rng.randrange(N_EPRACCUR + 100)}"  # some dangling FKs
        started = 19900101 + rng.randrange(30) * 10000
        ended = "" if rng.random() < 0.85 else str(started + 150000)
        status = "C" if rng.random() < 0.9 else "L"
        # positional layout per dags/ODSImport.py:319-327 (27 cols):
        # 0 GMP, 1 Practitioner_Name, 2-3 filler, 4-8 AddressLine_1..5,
        # 9 PostCode, 10-11 filler, 12 Status, 13 filler, 14 ODS,
        # 15 Started, 16 Ended, 17 PhoneNumber, 18-26 filler
        postcode = f"E{rng.randrange(1, 20)} {rng.randrange(1, 9)}BB"
        phone = f"0{rng.randrange(1000000000, 1999999999)}"
        row = [gmp, name, "", "", f"{i} LOW ST", "", f"TOWN{i % 50}", "COUNTY", "", postcode,
               "", "", status, "4", ods, str(started), ended, phone, "", "0", "", "", "", "", "", "", ""]
        eg_rows.append(",".join(row))
    with open(os.path.join(OUT, "egpcur.csv"), "w") as f:
        f.write("\n".join(eg_rows) + "\n")
    print(f"  egpcur.csv: {len(eg_rows)} rows")


def gen_outcomes(rng: random.Random):
    """OperationOutcome responses from validation POSTs (U8 triage,
    dags/ConsultationNoteWritebackX.py:434-468): mixes of error/warning/
    information issues, some errors carrying the allowlisted concept code
    in details.text (those must NOT fail validation), some issues with
    no details at all (the null-tolerance path)."""
    allow = "307321000000107"
    rows = []
    for i in range(120):
        n_issues = rng.randrange(1, 4)
        issues = []
        for _ in range(n_issues):
            sev = rng.choice(["error", "warning", "information"])
            issue = {"severity": sev, "code": rng.choice(["invalid", "processing", "informational"])}
            r = rng.random()
            if r < 0.3:
                issue["details"] = {"text": f"Concept {allow} is allowlisted here"}
            elif r < 0.8:
                issue["details"] = {"text": f"Validation message {rng.randrange(100)}"}
            # else: no details block at all
            issues.append(issue)
        doc = {"resourceType": "OperationOutcome", "issue": issues}
        rows.append({
            "outcome_id": i,
            "task_id": f"T-{rng.randrange(40)}",
            "outcome_json": json.dumps(doc, separators=(",", ":")),
        })
    return rows


def gen_media(rng: random.Random):
    """Multimodal fixture: binary payloads + typed metadata (builder
    brief "Multimodal columns"). Image and audio payloads are REAL
    encodings (tools/media_encoders — BMP/PPM/PNG/baseline-JPEG/16-bit
    WAV) whose width/height/duration_ms metadata provably matches the
    bytes, so a decode-from-bytes vs declared-metadata cross-check is
    oracle-expressible (q222/q223). Video stays deterministic pseudo-
    content: no container parser is in scope, and an opaque modality
    keeps the payloads-never-shuffled discipline honest. Images are
    kept small (<=24 px) — the stdlib JPEG path is Python-speed and
    exists to pin semantics, not throughput."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.media_encoders import (
        bmp_encode,
        jpeg_encode,
        mp4_encode,
        png_encode,
        ppm_encode,
        wav_encode,
    )

    image_fmts = ["bmp", "ppm", "png", "jpeg"]
    kinds = ["image", "image", "audio", "video"]  # images weighted 2x
    rows = []
    for i in range(300):
        kind = rng.choice(kinds)
        if kind == "image":
            fmt = rng.choice(image_fmts)
            w, h = rng.randrange(4, 25), rng.randrange(4, 25)
            rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
            if fmt == "bmp":
                payload = bmp_encode(rgb, w, h)
            elif fmt == "ppm":
                payload = ppm_encode(rgb, w, h)
            elif fmt == "png":
                payload = png_encode(rgb, w, h)
            else:
                payload = jpeg_encode(rgb, w, h, subsample=rng.random() < 0.5)
            width, height, duration = w, h, None
        elif kind == "audio":
            fmt = "wav"
            rate = rng.choice([8000, 16000])
            duration = rng.randrange(5, 120)  # ms; frames/ms is integral
            n_frames = rate * duration // 1000
            payload = wav_encode(
                [rng.randrange(-(1 << 15), 1 << 15) for _ in range(n_frames)],
                rate=rate,
            )
            width = height = None
        else:
            fmt = "mp4"
            n = rng.randrange(200, 4000)
            # draw order is pinned (samples, then duration) so the rng
            # stream — and every later fixture — is unchanged from the
            # pre-container corpus; the random bytes become the opaque
            # mdat sample stream inside a REAL ISO BMFF box tree whose
            # mvhd/mdhd duration equals the declared metadata column
            # (q263 cross-checks the two).
            samples = bytes(rng.randrange(256) for _ in range(n))
            width = height = None
            duration = rng.randrange(500, 600000)
            payload = mp4_encode(samples, duration)
        rows.append({
            "media_id": i,
            "doc_id": rng.randrange(500),  # FK → documents (caption pairing)
            "kind": kind,
            "format": fmt,
            "payload": payload,
            "width": width,
            "height": height,
            "duration_ms": duration,
        })
    rows.extend(_gen_media_families(rng, next_id=len(rows)))
    rows.extend(_gen_audio_families(rng, next_id=len(rows)))
    rows.extend(_gen_decode_boundary_images(rng, next_id=len(rows)))
    # Caption alignment for the PAIR-dedup verdict (q264): a re-encoded
    # copy usually ships under its original caption, so the SECOND
    # member of each perceptual image family inherits the head's doc_id
    # (identical caption -> trigram Jaccard 1 -> 'pair'); later members
    # keep their own draw ('image_only' — near-dup image, fresh text).
    # Pure post-assignment, no rng consumed: every payload byte and
    # every other fixture row is unchanged.
    fam_state: dict = {}
    for row in rows:
        if row["kind"] == "image" and row.get("phash_family") is not None:
            st = fam_state.setdefault(
                row["phash_family"], {"head": row["doc_id"], "n": 0}
            )
            if st["n"] == 1:
                row["doc_id"] = st["head"]
            st["n"] += 1
    _stamp_media_dhash(rows)
    return rows


def _gen_decode_boundary_images(rng: random.Random, next_id: int) -> list:
    """Decode-boundary fixtures, one per seam state:

    * ``png-adam7`` — Adam7-interlaced PNG.  UNDECODABLE until r10,
      now a real decode (pass-by-pass deinterlace); kept as the
      regression pin for that closure.
    * ``webp`` — RIFF/WEBP wrapping an opaque ``VP8 `` (LOSSY) chunk.
      Still the graceful-skip seam: the decode audit reports
      decode_ok=false and the perceptual-hash queries skip it rather
      than crash (lossy VP8 could never meet the pixel-exact contract
      anyway — its coefficient quantizers are >= 4 by spec).
    * ``webp-vp8l`` — REAL lossless WebP (r11 encoder twin,
      tools/media_encoders.webp_vp8l_encode).  Decodes to the exact
      source pixels, so it carries true width/height metadata and a
      dhash like every other decodable row.
    * ``webp-vp8l-sclc`` — lossless WebP whose red/blue code lengths
      travel through a code-length code with EXACTLY ONE used symbol,
      the spec-tolerated degenerate CLC libwebp accepts (r12 verdict
      ask #2).  Decodes to the exact source pixels; pins the decoder's
      single-symbol CLC fallback at the fixture level so a regression
      shows up as a q222 decode_ok flip, not only in unit tests.

    The ``format`` metadata names the state so oracles can express the
    skip/decode split without parsing bytes."""
    from tools.media_encoders import (
        png_encode_adam7,
        webp_container,
        webp_vp8l_encode,
    )

    w, h = 13, 9  # partial Adam7 passes on both axes
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    lw, lh = 16, 12
    lossless_rgb = bytes(rng.randrange(256) for _ in range(lw * lh * 3))
    rows = [{
        "media_id": next_id,
        "doc_id": rng.randrange(500),
        "kind": "image",
        "format": "png-adam7",
        "payload": png_encode_adam7(rgb, w, h),
        "width": w, "height": h, "duration_ms": None,
    }, {
        "media_id": next_id + 1,
        "doc_id": rng.randrange(500),
        "kind": "image",
        "format": "webp",
        "payload": webp_container(bytes(rng.randrange(256) for _ in range(96))),
        "width": 16, "height": 12, "duration_ms": None,
    }, {
        "media_id": next_id + 2,
        "doc_id": rng.randrange(500),
        "kind": "image",
        "format": "webp-vp8l",
        "payload": webp_vp8l_encode(lossless_rgb, lw, lh),
        "width": lw, "height": lh, "duration_ms": None,
    }]
    # appended AFTER all prior draws so every earlier fixture row's
    # rng stream (and bytes) is unchanged by this r13 addition
    sw, sh = 11, 7
    sclc_rgb = bytes(rng.randrange(256) for _ in range(sw * sh * 3))
    rows.append({
        "media_id": next_id + 3,
        "doc_id": rng.randrange(500),
        "kind": "image",
        "format": "webp-vp8l-sclc",
        "payload": webp_vp8l_encode(sclc_rgb, sw, sh, single_symbol_clc=True),
        "width": sw, "height": sh, "duration_ms": None,
    })
    return rows


def _gen_audio_families(rng: random.Random, next_id: int) -> list:
    """Near-duplicate AUDIO families for the envelope-hash near-dup pass
    (q225): each base clip reappears at exactly half volume, quarter
    volume, and/or as a stereo upmix — different PCM bytes, different
    digest, identical loudness shape. Base samples are multiples of 4 so
    integer halving/quartering is EXACT scaling (energies scale by k²,
    every envelope comparison preserved)."""
    from tools.media_encoders import wav_encode

    from data_engineering_examples_spark.operators.media import (
        decode_audio,
        envelope_hash,
    )

    def build_family(seed: int) -> list:
        r = random.Random(seed)
        rate = r.choice([8000, 16000])
        duration = r.randrange(40, 101)  # ms
        n_frames = rate * duration // 1000
        # 33-window amplitude staircase with strong level contrast; the
        # square-wave carrier keeps per-window energy exactly A²·frames
        levels = [r.choice([624, 1824, 5424]) for _ in range(33)]
        base = [
            levels[min(32, f * 33 // n_frames)] * (1 if (f // 4) % 2 == 0 else -1)
            for f in range(n_frames)
        ]
        members = [(base, 1, rate, duration)]
        members.append(([s // 2 for s in base], 1, rate, duration))
        if r.random() < 0.6:
            members.append(([s // 4 for s in base], 1, rate, duration))
        if r.random() < 0.5:  # mono → stereo upmix: uniform 2x energy/frame
            inter = []
            for s in base:
                inter += [s, s]
            members.append((inter, 2, rate, duration))
        if r.random() < 0.5:  # edited section: one window re-gained 2x —
            # flips at most the two envelope comparisons at its borders
            wdw = r.randrange(33)
            edited = [
                s * 2 if min(32, f * 33 // n_frames) == wdw else s
                for f, s in enumerate(base)
            ]
            members.append((edited, 1, rate, duration))
        out = []
        for frames, n_ch, rt, dur in members:
            payload = wav_encode(frames, rate=rt, n_ch=n_ch)
            out.append((payload, dur, envelope_hash(decode_audio(payload))))
        return out

    def ham(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    rows = []
    taken = []
    for fam in range(16):
        fam_seed = rng.randrange(1 << 30)
        for salt in range(64):
            members = build_family(fam_seed * 64 + salt)
            hs = [m[2] for m in members]
            ok = all(
                ham(a, b) <= 3 for i, a in enumerate(hs) for b in hs[i + 1 :]
            ) and all(ham(a, t) >= 10 for a in hs for t in taken)
            if ok:
                break
        else:
            raise RuntimeError(f"no separated audio family found for fam={fam}")
        taken.extend(hs)
        for payload, dur, _ in members:
            rows.append({
                "media_id": next_id + len(rows),
                "doc_id": rng.randrange(500),
                "kind": "audio",
                "format": "wav",
                "payload": payload,
                "width": None,
                "height": None,
                "duration_ms": dur,
                "ahash_family": fam,
            })
    return rows


def _structured_rgb(r: random.Random, w: int, h: int) -> bytes:
    """Structured image for the perceptual-dup families: a directional
    gradient + checker overlay + per-pixel jitter. Unlike uniform random
    pixels (whose 9×8 cell means all hover near 127.5), these have large
    adjacent-cell luma contrasts, so their dHash is far from every other
    family's — the separation the generation-time assert enforces."""
    kind = r.randrange(4)
    fx, fy = r.randrange(2, 5), r.randrange(2, 5)
    px, py = r.randrange(8), r.randrange(8)
    amp = r.randrange(50, 90)
    pix = bytearray()
    for y in range(h):
        for x in range(w):
            if kind == 0:
                base = 40 + (160 * x) // max(1, w - 1)
            elif kind == 1:
                base = 200 - (160 * y) // max(1, h - 1)
            elif kind == 2:
                base = 40 + (160 * (x + y)) // max(1, w + h - 2)
            else:
                base = 40 + (160 * abs(2 * x - w)) // max(1, w)
            check = amp if (((x + px) * fx) // 4 + ((y + py) * fy) // 4) % 2 else 0
            v = base + check + r.randrange(-15, 16)
            v = max(25, min(225, v))  # headroom so brightness shifts never clamp
            pix += bytes([v, max(0, v - 12), min(255, v + 12)])
    return bytes(pix)


def _gen_media_families(rng: random.Random, next_id: int) -> list:
    """Near-duplicate IMAGE families for perceptual dedup (q224): each
    base image reappears re-encoded in another format (PNG↔JPEG↔BMP↔PPM
    — different bytes, different digest, same picture), brightness-
    shifted (monotone, non-clamping → identical dHash), or with a small
    block edited (a few flipped hash bits). Exact dedup (q160) sees
    none of these; that gap is exactly what the perceptual pass exists
    to close. Appended AFTER the legacy 300 rows with a continuing rng
    so historical fixture bytes are untouched."""
    from tools.media_encoders import bmp_encode, jpeg_encode, png_encode, ppm_encode

    from data_engineering_examples_spark.operators.media import decode_image, dhash

    enc = {
        "bmp": bmp_encode,
        "ppm": ppm_encode,
        "png": png_encode,
        "jpeg": lambda rgb, w, h: jpeg_encode(rgb, w, h, subsample=False),
    }
    fmts = list(enc)

    def build_family(seed: int) -> list:
        r = random.Random(seed)
        w, h = r.randrange(12, 25), r.randrange(10, 25)
        rgb = _structured_rgb(r, w, h)
        base_fmt = r.choice(fmts)
        members = [(base_fmt, rgb)]
        # re-encode: same pixels, different container
        members.append((r.choice([f for f in fmts if f != base_fmt]), rgb))
        if r.random() < 0.7:  # brightness shift (+5..+20, clamp-free by construction)
            d = r.randrange(5, 21)
            members.append((r.choice(fmts), bytes(min(255, b + d) for b in rgb)))
        if r.random() < 0.5:  # small block edit → a few dHash bits flip
            edited = bytearray(rgb)
            bx, by = r.randrange(max(1, w - 4)), r.randrange(max(1, h - 4))
            for y in range(by, min(h, by + 4)):
                for x in range(bx, min(w, bx + 4)):
                    o = (y * w + x) * 3
                    for c in range(3):
                        edited[o + c] = 255 - edited[o + c]
            members.append((r.choice(fmts), bytes(edited)))
        out = []
        for fmt, pix in members:
            payload = enc[fmt](pix, w, h)
            out.append((fmt, payload, w, h, dhash(decode_image(payload))))
        return out

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    rows = []
    taken = []  # dhashes of every accepted family image so far
    for fam in range(24):
        fam_seed = rng.randrange(1 << 30)
        # Deterministic rejection sampling: structured images from one
        # generator can land within the band join's reach of another
        # family by chance; re-roll (salted seed) until this family is
        # ≤ 7 bits wide internally and ≥ 11 bits from everything else.
        for salt in range(64):
            members = build_family(fam_seed * 64 + salt)
            hs = [m[4] for m in members]
            ok = all(
                ham(a, b) <= 7 for i, a in enumerate(hs) for b in hs[i + 1 :]
            ) and all(ham(a, t) >= 11 for a in hs for t in taken)
            if ok:
                break
        else:
            raise RuntimeError(f"no separated family found for fam={fam}")
        taken.extend(hs)
        for fmt, payload, w, h, _ in members:
            rows.append({
                "media_id": next_id + len(rows),
                "doc_id": rng.randrange(500),
                "kind": "image",
                "format": fmt,
                "payload": payload,
                "width": w,
                "height": h,
                "duration_ms": None,
                "phash_family": fam,
            })
    return rows


def _stamp_media_dhash(rows: list) -> None:
    """Write the ``dhash`` metadata column for every image row — the
    64-bit perceptual hash OF THE PAYLOAD AS DECODED (for lossy JPEG
    that is the only well-defined reading; for lossless formats it
    equals the source-pixel hash). The q224 oracle reads this column
    while Spark re-derives it from the binary payload through the
    distributed decode stage. Generation-time asserts pin the contract
    the query depends on: within-family Hamming ≤ 7 (the band join's
    pigeonhole bound) and every cross-family/legacy pair ≥ 11.

    Also stamps the thumbnail (q261) and resample (q262) expectations the
    same way: ``thumb_w/thumb_h/thumb_checksum`` are the exact-integer
    area-average 16-box thumbnail OF THE PAYLOAD AS DECODED, and
    ``rs4k_frames/rs4k_checksum`` the 4 kHz exact resample of the PCM —
    deterministic all-integer derivations, so the oracles read metadata
    while Spark re-derives everything from the binary column."""
    from data_engineering_examples_spark.operators.media import (
        decode_audio,
        decode_image,
        dhash,
        envelope_hash,
        pcm_checksum,
        pixel_checksum,
        resample_audio,
        thumbnail,
    )

    def _img_derived(payload: bytes):
        # undecodable seam formats (lossy-VP8 WebP) carry NO dhash or
        # thumbnail stamp — the perceptual-hash/resize queries report
        # them as decode_ok=false the same way
        try:
            img = decode_image(payload)
        except NotImplementedError:
            return None, None, None, None
        th = thumbnail(img, 16)
        return dhash(img), th.width, th.height, pixel_checksum(th)

    for row in rows:
        if row["kind"] == "image":
            (row["dhash"], row["thumb_w"], row["thumb_h"],
             row["thumb_checksum"]) = _img_derived(row["payload"])
        else:
            row["dhash"] = None
            row["thumb_w"] = row["thumb_h"] = row["thumb_checksum"] = None
        if row["kind"] == "audio":
            au = decode_audio(row["payload"])
            row["ahash"] = envelope_hash(au)
            rs = resample_audio(au, 4000)
            row["rs4k_frames"] = len(rs.samples) // rs.n_channels
            row["rs4k_checksum"] = pcm_checksum(rs)
        else:
            row["ahash"] = None
            row["rs4k_frames"] = row["rs4k_checksum"] = None
        row.setdefault("phash_family", None)
        row.setdefault("ahash_family", None)
    auds = [r for r in rows if r["kind"] == "audio"]
    for i, a in enumerate(auds):
        for b in auds[i + 1 :]:
            ham = bin(a["ahash"] ^ b["ahash"]).count("1")
            same = (
                a["ahash_family"] is not None
                and a["ahash_family"] == b["ahash_family"]
            )
            if same:
                assert ham <= 3, (a["media_id"], b["media_id"], ham)
            else:
                assert ham >= 4, (a["media_id"], b["media_id"], ham)
    imgs = [
        r for r in rows if r["kind"] == "image" and r["dhash"] is not None
    ]
    for i, a in enumerate(imgs):
        for b in imgs[i + 1 :]:
            ham = bin((a["dhash"] ^ b["dhash"]) & ((1 << 64) - 1)).count("1")
            same = (
                a["phash_family"] is not None
                and a["phash_family"] == b["phash_family"]
            )
            if same:
                assert ham <= 7, (a["media_id"], b["media_id"], ham)
            else:
                # family-vs-anything pairs carry the stronger ≥11 margin
                # (enforced during family generation); legacy random
                # pairs merely need to sit beyond the T=7 threshold.
                assert ham >= 8, (a["media_id"], b["media_id"], ham)


def gen_clinical_notes(rng: random.Random):
    """Free-text clinical notes with embedded synthetic PII (builder brief
    "Text analysis" — PII scrubbing is a standard pre-training redaction
    pass; the healthcare reference's consultation notes are exactly the
    kind of text it applies to, dags/ConsultationNoteWritebackX.py:336-399).
    Deterministic mix: emails, UK mobile numbers (Ofcom 07700 900xxx drama
    range), NHS numbers (### ### ####), and PII-free notes."""
    bodies = [
        "patient reviewed in clinic today and reports feeling much better",
        "bp stable medication dose unchanged review again in two weeks",
        "discussed results with patient no further action required",
        "referred to community physiotherapy for ongoing knee pain",
        "telephone consultation completed safety netting advice given",
    ]
    rows = []
    for i in range(800):
        parts = [rng.choice(bodies)]
        r = rng.random()
        if r < 0.35:
            parts.append(
                f"contact at {rng.choice(['pt', 'carer', 'gp'])}{rng.randrange(1000)}"
                f"@{rng.choice(['example.org', 'nhs.example.uk', 'mail.example.com'])}"
            )
        if 0.2 < r < 0.55:
            parts.append(f"mobile 07700 900{rng.randrange(1000):03d}")
        if 0.4 < r < 0.7:
            parts.append(
                f"nhs number {rng.randrange(400, 500)} {rng.randrange(100, 1000)} {rng.randrange(1000, 10000)}"
            )
        rng.shuffle(parts)
        rows.append({
            "note_id": i,
            "patient_ref": f"Patient/{rng.randrange(N_PATIENTS)}",
            "note_text": " ".join(parts),
        })
    return rows


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    rng = random.Random(SEED)
    print(f"writing fixtures to {OUT}")

    patients, r1 = gen_patients(rng)
    conditions, r2 = gen_conditions(rng)
    observations, child, r3 = gen_observations(rng)
    orgs, r4 = gen_organizations(rng)
    pracs, r5 = gen_practitioners(rng)
    roles, r6 = gen_roles(rng)
    tasks, r7 = gen_tasks(rng)
    bundles, compositions = gen_bundles(rng)

    ts = pa.timestamp("us")
    write_parquet("patients", patients, pa.schema([
        ("_id", pa.string()), ("key", pa.string()), ("identifier", pa.string()),
        ("birthdate", pa.date32()), ("gender", pa.string()), ("address_country", pa.string()),
        ("_last_updated", ts), ("resource_string", pa.string())]))
    write_parquet("conditions", conditions, pa.schema([
        ("_id", pa.string()), ("key", pa.string()), ("patient", pa.string()),
        ("code", pa.string()), ("onset_date_start", pa.string())]))
    write_parquet("observations", observations, pa.schema([
        ("_id", pa.string()), ("key", pa.string()), ("patient", pa.string()),
        ("code", pa.string()), ("date_start", pa.string()), ("unit", pa.string()),
        ("vq_value", pa.float64()), ("vq_unit", pa.string())]))
    write_parquet("observation_value_quantity", child, pa.schema([
        ("key", pa.string()), ("value", pa.float64()), ("unit", pa.string())]))
    write_parquet("organizations", orgs, pa.schema([
        ("_id", pa.string()), ("key", pa.string()), ("identifier", pa.string()),
        ("type", pa.string()), ("address_country", pa.string()), ("_last_updated", ts),
        ("resource_string", pa.string())]))
    write_parquet("practitioners", pracs, pa.schema([
        ("_id", pa.string()), ("key", pa.string()), ("identifier", pa.string()),
        ("address_country", pa.string()), ("_last_updated", ts), ("resource_string", pa.string())]))
    write_parquet("practitioner_roles", roles, pa.schema([
        ("_id", pa.string()), ("key", pa.string()), ("_last_updated", ts), ("resource_string", pa.string())]))
    write_parquet("tasks", tasks, pa.schema([
        ("id", pa.string()), ("status", pa.string()), ("authored_on", ts), ("version_id", pa.int32()),
        ("focus_identifier_system", pa.string()), ("focus_identifier_value", pa.string()),
        ("note", pa.string()), ("output", pa.string()), ("resource_string", pa.string())]))
    write_parquet("encounter_bundles", bundles, pa.schema([
        ("encounter_identifier", pa.string()), ("bundle_json", pa.string())]))
    write_parquet("compositions", compositions, pa.schema([
        ("patient_id", pa.string()), ("encounter_identifier_value", pa.string()), ("composition_json", pa.string())]))

    all_res = []
    rid = 0
    for rtype, key_id, js, last_upd, version in r1 + r2 + r3 + r4 + r5 + r6 + r7:
        all_res.append({
            "id": rid, "key": f"{rtype}/{key_id}", "resource_type": rtype,
            "resource_string": js, "last_updated": last_upd, "version_id": version,
        })
        rid += 1
    write_parquet("resources", all_res, pa.schema([
        ("id", pa.int64()), ("key", pa.string()), ("resource_type", pa.string()),
        ("resource_string", pa.string()), ("last_updated", ts), ("version_id", pa.int32())]))

    gen_ods_csvs(rng, orgs, pracs)

    media = gen_media(random.Random(SEED + 1))  # own stream: stable vs earlier tables
    write_parquet("media", media, pa.schema([
        ("media_id", pa.int64()), ("doc_id", pa.int64()), ("kind", pa.string()),
        ("format", pa.string()), ("payload", pa.binary()),
        ("width", pa.int32()), ("height", pa.int32()), ("duration_ms", pa.int64()),
        ("dhash", pa.int64()), ("phash_family", pa.int32()),
        ("ahash", pa.int64()), ("ahash_family", pa.int32()),
        ("thumb_w", pa.int32()), ("thumb_h", pa.int32()),
        ("thumb_checksum", pa.int64()),
        ("rs4k_frames", pa.int64()), ("rs4k_checksum", pa.int64())]))

    outcomes = gen_outcomes(random.Random(SEED + 2))  # own stream, like media
    write_parquet("outcomes", outcomes, pa.schema([
        ("outcome_id", pa.int64()), ("task_id", pa.string()), ("outcome_json", pa.string())]))

    notes = gen_clinical_notes(random.Random(SEED + 3))  # own stream, like media
    write_parquet("clinical_notes", notes, pa.schema([
        ("note_id", pa.int64()), ("patient_ref", pa.string()), ("note_text", pa.string())]))
    print("done")


if __name__ == "__main__":
    main()
