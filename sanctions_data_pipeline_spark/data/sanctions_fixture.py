"""Deterministic sanctions-like fixture (engine test data).

Shapes mirror the reference's inputs: XML entity aliases with optional
gender attributes (main.py:585-605), PDF-derived entries with Number /
Programme lines (main.py:421-522), row streams with duplicate names for
the neighbor-fill pass (main.py:950-1028), detail items (main.py:832-945)
and structured addresses (main.py:639-755).

The fixture is exposed two ways so the driver's correctness gate can
exercise the real reference semantics (accents, Cyrillic confusables,
variant matching) even though the synthetic star schema has none:
``spark_df(spark, name)`` and ``sql_cte(name)`` (a DuckDB VALUES CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sanctions_data_pipeline_spark.plans.helpers import local_frame

# (entity_id, alias_idx, whole_name, gender_attr, function)
ALIASES = [
    (1, 0, "José García-Moreno", None, "Minister of Finance"),
    (1, 1, "Jose Garcia Moreno", None, None),
    (2, 0, "Мохаммед Алиев", None, None),                # non-Latin first
    (2, 1, "Mohammed Aliyev", "M", "Commander"),
    (3, 0, "Іван Петренко", None, None),                 # Cyrillic І confusable
    (3, 1, "Ivan Petrenko", None, None),
    (4, 0, "Mullah Abdul Rahman", None, "Deputy  Minister"),
    (5, 0, "Maria   Lopez", "F", None),
    (6, 0, "FATIMA NOOR", None, None),
    (7, 0, "O’Neil–Smith, Patrick", None, None),          # curly quote + en dash
    (8, 0, "Müller, Jürgen", None, "(a) Head of unit, (b) Treasurer"),
    (9, 0, "Svetlana Ivanova", None, None),
    (10, 0, "Haji Gul Ahmad Ishakzai", None, None),
    (11, 0, "Ёлкин, Пётр", None, None),                  # non-Latin w/ confusable Ё
    (11, 1, "Pyotr Yolkin", None, None),
    (12, 0, "Anna-Maria Śliwińska", None, None),
    (13, 0, "UNKNOWN PERSON", None, None),
]

# (pdf_id, pdf_name, numbers, programme)
PDF_ENTRIES = [
    (1, "Jose Garcia Moreno", "EU.1234.5", "VEN"),
    (2, "Mohammed Aliyev", "EU.2222.1 / EU.2222.2", "SYR"),
    (3, "Ivan Petrenko", "EU.3333.7", "RUS"),
    (4, "Mullah Abdul Rahman", "EU.4444.9", "AFG"),
    (5, "Maria Lopez", "EU.5555.0", "VEN"),
    (6, "Fatima  Noor", "EU.6666.2", "SOM"),
    (7, "O'Neil-Smith, Patrick", "EU.7777.3", "GEN"),
    (8, "Muller, Jurgen", "EU.8888.4", "BLR"),            # accent-stripped form
    (9, "Pyotr  Yolkin", "EU.9999.5", "RUS"),
]

# (row_id, full_name, rem2_candidate) — duplicate names with gaps
MATCH_ROWS = [
    (1, "Jose Garcia Moreno", "Number: EU.1234.5; Programme: VEN"),
    (2, "Mohammed Aliyev", "Number: EU.2222.1; Programme: SYR"),
    (3, "Ivan Petrenko", ""),
    (4, "Ivan Petrenko", "Number: EU.3333.7; Programme: RUS"),
    (5, "Maria Lopez", "Number: EU.5555.0; Programme: VEN"),
    (6, "Maria Lopez", ""),
    (7, "Maria Lopez", "Number: EU.5555.0; Programme: VEN"),
    (8, "UNKNOWN", ""),
    (9, "Fatima Noor", ""),
    (10, "Fatima Noor", "Number: EU.6666.2; Programme: SOM"),
    (11, "Pyotr Yolkin", "Number: EU.9999.5; Programme: RUS"),
    (12, "Mullah Abdul Rahman", ""),
    # cascade block (main.py:950-993 in-pass candidate overwrite): row 14
    # fills with row 13/15's agreeing value, OVERWRITING its own
    # candidate in the working array, so row 15 sees X on both sides of
    # itself... but its next-original is row 16's Y -> stays empty. A
    # one-shot window (reading only original candidates) would wrongly
    # fill row 15 with Y (prev=row14's original Y, next=row16's Y).
    (13, "Sergei Volkov", "Number: EU.7777.1; Programme: MLI"),
    (14, "Sergei Volkov", "Number: EU.8888.3; Programme: BLR"),
    (15, "Sergei Volkov", "Number: EU.7777.1; Programme: MLI"),
    (16, "Amina Sow", "Number: EU.8888.3; Programme: BLR"),
]

# (entity_id, field, val, idx)
DETAILS_ITEMS = [
    (1, "Title", "Regulation (EU) 2023/123", 0),
    (1, "Title", "Minister", 1),
    (1, "Title", "minister", 2),                     # ci-duplicate -> dropped
    (1, "Birth date", "12-01-1965", 3),
    (1, "Birth place", "Caracas", 4),
    (1, "Remark", "Listed under programme VEN", 5),
    (2, "Title", "Commander", 0),
    (2, "Birth date", "1970", 1),
    (2, "Birth date", "1971 to 1973", 2),
    (2, "Citizenship", "Syrian Arab Republic", 3),
    (4, "Title", "Deputy Minister", 0),
    (4, "Remark", "Taliban regime", 1),
    (4, "Remark", "taliban regime", 2),              # ci-duplicate -> dropped
    (5, "Birth place", "Madrid", 0),
]

# (entity_id, addr_idx, city, country, region, street, place, zipcode)
ADDRESSES = [
    (1, 0, "Caracas City", "VENEZUELA", "Distrito Capital", "Av. Urdaneta 12", None, "1010"),
    (2, 0, "Damascus", "syrian arab republic", None, None, None, None),
    (4, 0, "Kandahar City Kandahar", "AFGHANISTAN", "Kandahar Province", None, None, None),
    (4, 1, "Quetta", "PAKISTAN", "Baluchistan Province", "Pashtunabad", None, None),
    (5, 0, "UNKNOWN", "Spain", "Madrid Province Madrid", None, None, None),
    (8, 0, "Minsk", "BELARUS", None, "Praspyekt 7", "Building 2", "220030"),
]

_SCHEMAS = {
    "aliases": ("entity_id int, alias_idx int, whole_name string, "
                "gender_attr string, function string"),
    "pdf_entries": "pdf_id int, pdf_name string, numbers string, programme string",
    "match_rows": "row_id int, full_name string, rem2_candidate string",
    "details_items": "entity_id int, field string, val string, idx int",
    "addresses": ("entity_id int, addr_idx int, city string, country string, "
                  "region string, street string, place string, zipcode string"),
}

_DATA = {
    "aliases": ALIASES,
    "pdf_entries": PDF_ENTRIES,
    "match_rows": MATCH_ROWS,
    "details_items": DETAILS_ITEMS,
    "addresses": ADDRESSES,
}


def spark_df(spark: SparkSession, name: str) -> DataFrame:
    return local_frame(_DATA[name], _SCHEMAS[name])


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def sql_cte(name: str) -> str:
    """``name(col, ...) AS (VALUES ...)`` fragment for a DuckDB WITH."""
    cols = [c.split()[0] for c in _SCHEMAS[name].split(", ")]
    rows = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in _DATA[name])
    return f"{name}({', '.join(cols)}) AS (SELECT * FROM (VALUES {rows}))"
