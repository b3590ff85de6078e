"""Sanctions-domain operator suite (SURVEY.md §2, block 2).

Each query re-expresses one reference behavior (file:line cited per
function) and is checked against a DuckDB oracle built from the SAME
shared character tables / dictionaries, over either the synthetic star
schema or the embedded sanctions fixture (which carries the accents,
Cyrillic confusables, duplicate names and alias structures the synthetic
tables lack).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.data import sanctions_fixture as fx
from sanctions_data_pipeline_spark.functions import address as adr
from sanctions_data_pipeline_spark.functions import gender as g
from sanctions_data_pipeline_spark.functions import names as nm
from sanctions_data_pipeline_spark.functions.dates import reformat_dob, sql_reformat_dob
from sanctions_data_pipeline_spark.operators.matching import (
    build_variant_mapping, neighbor_fill, variant_match,
)
from sanctions_data_pipeline_spark.plans.helpers import local_frame, persist
from sanctions_data_pipeline_spark.plans.registry import register


def _clean_name(col):
    """Reference clean_name (main.py:364-366): ws-collapse + title."""
    return F.initcap(nm.normalize_ws(col))


def _sql_clean_name(expr: str) -> str:
    return nm.sql_title_case(nm.sql_normalize_ws(expr))


# --------------------------------------------------------------------------
# s_clean_names — clean_fullname + is_latin over a real (scalable) table
# --------------------------------------------------------------------------
@register("s_clean_names", oracle=f"""
SELECT c_custkey,
       {nm.sql_clean_fullname("c_name")} AS name_clean,
       {nm.sql_is_latin_name("c_name")} AS is_latin
FROM customer
""")
def s_clean_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        nm.clean_fullname(F.col("c_name")).alias("name_clean"),
        nm.is_latin_name(F.col("c_name")).alias("is_latin"),
    )


# --------------------------------------------------------------------------
# s_clean_fixture — same functions over accent/confusable-bearing names
# --------------------------------------------------------------------------
@register("s_clean_fixture", oracle=f"""
WITH {fx.sql_cte("aliases")}
SELECT entity_id, alias_idx,
       {nm.sql_clean_fullname("whole_name")} AS name_clean,
       {nm.sql_is_latin_name("whole_name")} AS is_latin
FROM aliases
""")
def s_clean_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    al = fx.spark_df(spark, "aliases")
    return al.select(
        "entity_id", "alias_idx",
        nm.clean_fullname(F.col("whole_name")).alias("name_clean"),
        nm.is_latin_name(F.col("whole_name")).alias("is_latin"),
    )


# --------------------------------------------------------------------------
# s_name_variants — the 3 normalized match keys (main.py:393-418)
# --------------------------------------------------------------------------
@register("s_name_variants", oracle=f"""
WITH {fx.sql_cte("aliases")},
vk AS (SELECT entity_id, alias_idx,
              {nm.sql_variant_keys("whole_name")} AS v
       FROM aliases)
SELECT entity_id, alias_idx, CAST(i AS INT) AS variant_no, v[i] AS variant_key
FROM vk, LATERAL (SELECT generate_subscripts(v, 1) AS i) s
""")
def s_name_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    al = fx.spark_df(spark, "aliases")
    return al.select(
        "entity_id", "alias_idx",
        F.posexplode(nm.variant_keys(F.col("whole_name"))).alias("pos", "variant_key"),
    ).select(
        "entity_id", "alias_idx",
        (F.col("pos") + 1).cast("int").alias("variant_no"),
        "variant_key",
    )


# --------------------------------------------------------------------------
# s_gender_infer — full precedence chain (main.py:369-390, 773-787)
# --------------------------------------------------------------------------
@register("s_gender_infer", oracle=f"""
WITH {fx.sql_cte("aliases")},
{g.sql_gender_cte()},
lat AS (SELECT entity_id, alias_idx, whole_name FROM aliases
        WHERE {nm.sql_is_latin_name("whole_name")}),
sel AS (SELECT entity_id, min(alias_idx) AS sel_idx FROM lat GROUP BY entity_id),
nmd AS (SELECT s.entity_id, s.sel_idx,
               {_sql_clean_name("l.whole_name")} AS full_name
        FROM sel s JOIN lat l
          ON l.entity_id = s.entity_id AND l.alias_idx = s.sel_idx),
att AS (SELECT a.entity_id, a.gender_attr,
               ROW_NUMBER() OVER (PARTITION BY a.entity_id
                                  ORDER BY a.alias_idx DESC) AS rn
        FROM aliases a JOIN sel s ON a.entity_id = s.entity_id
        WHERE a.alias_idx <= s.sel_idx AND a.gender_attr IS NOT NULL)
SELECT n.entity_id, n.full_name,
       {g.sql_infer_gender("n.full_name", "x.gender_attr")} AS gender
FROM nmd n
LEFT JOIN (SELECT entity_id, gender_attr FROM att WHERE rn = 1) x
  ON n.entity_id = x.entity_id
LEFT JOIN gdict ON {g.sql_first_name("n.full_name")} = gd_name
""")
def s_gender_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    al = fx.spark_df(spark, "aliases")
    lat = al.filter(nm.is_latin_name(F.col("whole_name")))
    # sel feeds the name-selection join AND the gender-attr window
    # join: persist the narrow (entity_id, sel_idx) frame so the
    # latin-filter + min agg runs once (round-12 subtree lint)
    sel = persist(lat.groupBy("entity_id")
                  .agg(F.min("alias_idx").alias("sel_idx")))
    named = (
        sel.join(lat.select("entity_id", "alias_idx", "whole_name"),
                 (lat.entity_id == sel.entity_id) & (lat.alias_idx == sel.sel_idx))
        .select(sel.entity_id, "sel_idx", _clean_name(F.col("whole_name")).alias("full_name"))
    )
    # last gender attr seen up to the selected alias (reference keeps
    # overwriting xml_gender_value until it breaks, main.py:589-595)
    attw = W.partitionBy("entity_id").orderBy(F.desc("alias_idx"))
    att = (
        al.alias("a").join(sel.alias("s"),
                           (F.col("a.entity_id") == F.col("s.entity_id"))
                           & (F.col("a.alias_idx") <= F.col("s.sel_idx")))
        .filter(F.col("a.gender_attr").isNotNull())
        .select(F.col("a.entity_id").alias("entity_id"), "a.gender_attr", "a.alias_idx")
        .withColumn("rn", F.row_number().over(attw))
        .filter(F.col("rn") == 1)
        .select("entity_id", "gender_attr")
    )
    base = named.join(att, "entity_id", "left")
    return g.infer_gender(base, "full_name", "gender_attr").select(
        "entity_id", "full_name", "gender")


# --------------------------------------------------------------------------
# s_date_reformat — ISO -> dd-mm-yyyy (main.py:620-636)
# --------------------------------------------------------------------------
@register("s_date_reformat", oracle=f"""
SELECT o_orderkey, {sql_reformat_dob("o_orderdate")} AS dob
FROM orders
""")
def s_date_reformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", reformat_dob(F.col("o_orderdate")).alias("dob"))


# --------------------------------------------------------------------------
# s_variant_match — multi-variant priority match (main.py:421-522, 809-830)
# --------------------------------------------------------------------------
@register("s_variant_match", oracle=f"""
WITH {fx.sql_cte("aliases")},
{fx.sql_cte("pdf_entries")},
pm0 AS (SELECT pdf_id,
               'Number: ' || numbers || '; Programme: ' || programme AS rem2,
               {nm.sql_variant_keys(_sql_clean_name("pdf_name"))} AS v
        FROM pdf_entries),
pmx AS (SELECT pdf_id, rem2, v[i] AS match_key
        FROM pm0, LATERAL (SELECT generate_subscripts(v, 1) AS i) s
        WHERE v[i] != ''),
pmap AS (SELECT match_key, rem2 FROM
         (SELECT match_key, rem2,
                 ROW_NUMBER() OVER (PARTITION BY match_key ORDER BY pdf_id) AS rn
          FROM pmx) WHERE rn = 1),
cand0 AS (SELECT entity_id, alias_idx,
                 {nm.sql_variant_keys(_sql_clean_name("whole_name"))} AS v
          FROM aliases WHERE {nm.sql_is_latin_name("whole_name")}),
candx AS (SELECT entity_id, alias_idx, CAST(i AS INT) AS vpos, v[i] AS match_key
          FROM cand0, LATERAL (SELECT generate_subscripts(v, 1) AS i) s),
hits AS (SELECT entity_id, rem2,
                ROW_NUMBER() OVER (PARTITION BY entity_id
                                   ORDER BY alias_idx, vpos) AS rn
         FROM candx JOIN pmap USING (match_key))
SELECT e.entity_id, COALESCE(h.rem2, '') AS rem2
FROM (SELECT DISTINCT entity_id FROM aliases) e
LEFT JOIN (SELECT entity_id, rem2 FROM hits WHERE rn = 1) h
  ON e.entity_id = h.entity_id
""")
def s_variant_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    al = fx.spark_df(spark, "aliases")
    pdf = fx.spark_df(spark, "pdf_entries").select(
        "pdf_id",
        _clean_name(F.col("pdf_name")).alias("pdf_name"),
        F.concat(F.lit("Number: "), F.col("numbers"),
                 F.lit("; Programme: "), F.col("programme")).alias("rem2"),
    )
    mapping = build_variant_mapping(pdf, "pdf_name", "pdf_id", "rem2")
    candidates = (
        al.filter(nm.is_latin_name(F.col("whole_name")))
        .select("entity_id", "alias_idx",
                _clean_name(F.col("whole_name")).alias("cand_name"))
    )
    hits = variant_match(candidates, ["entity_id"], "cand_name",
                         "alias_idx", mapping, "rem2")
    entities = al.select("entity_id").distinct()
    return (
        entities.join(hits, "entity_id", "left")
        .select("entity_id", F.coalesce("rem2", F.lit("")).alias("rem2"))
    )


# --------------------------------------------------------------------------
# s_neighbor_fill — duplicate-name propagation (main.py:950-993)
# --------------------------------------------------------------------------
_NF_FILL = ("b.full_name <> 'UNKNOWN' AND b.n_occ > 1 AND s.carry <> '' "
            "AND COALESCE(nx.next_ne, '') <> '' AND s.carry = nx.next_ne")

# The oracle replays the reference's SEQUENTIAL row loop
# (main.py:950-993) as a recursive CTE: the carry is the last non-empty
# value in the WORKING array (fills overwrite candidates in place, so
# later rows see them), while the next-scan reads ORIGINAL candidates
# (rows to the right are unprocessed). A one-shot window over original
# candidates diverges on the fixture's cascade block (rows 13-16).
@register("s_neighbor_fill", oracle=f"""
WITH RECURSIVE {fx.sql_cte("match_rows")},
base AS (SELECT row_id, full_name, rem2_candidate,
                COUNT(*) OVER (PARTITION BY full_name) AS n_occ,
                ROW_NUMBER() OVER (ORDER BY row_id) AS rn
         FROM match_rows),
nxt AS (SELECT b.rn,
               (SELECT b2.rem2_candidate FROM base b2
                WHERE b2.rn > b.rn AND b2.rem2_candidate <> ''
                ORDER BY b2.rn LIMIT 1) AS next_ne
        FROM base b),
scan AS (
  SELECT CAST(0 AS BIGINT) AS rn, '' AS carry,
         CAST(NULL AS INTEGER) AS row_id, '' AS full_name,
         '' AS rem2_candidate, '' AS filled
  UNION ALL
  SELECT b.rn,
         CASE WHEN {_NF_FILL} THEN s.carry
              WHEN b.rem2_candidate <> '' THEN b.rem2_candidate
              ELSE s.carry END AS carry,
         b.row_id, b.full_name, b.rem2_candidate,
         CASE WHEN b.full_name = 'UNKNOWN' THEN ''
              WHEN b.n_occ = 1 THEN COALESCE(b.rem2_candidate, '')
              WHEN {_NF_FILL} THEN s.carry
              ELSE '' END AS filled
  FROM scan s
  JOIN base b ON b.rn = s.rn + 1
  LEFT JOIN nxt nx ON nx.rn = b.rn
)
SELECT row_id, full_name, filled,
       CASE WHEN filled <> '' AND filled <> COALESCE(rem2_candidate, '')
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
            END AS was_inferred
FROM scan WHERE rn > 0
""")
def s_neighbor_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    mr = fx.spark_df(spark, "match_rows")
    return neighbor_fill(mr, "row_id", "full_name", "rem2_candidate",
                         flag_col="was_inferred").select(
        "row_id", "full_name", "filled", "was_inferred")


# --------------------------------------------------------------------------
# s_details_agg — ordered, ci-deduped, ';'-joined blocks (main.py:832-945)
# --------------------------------------------------------------------------
_FIELD_ORDER_SQL = ("CASE field WHEN 'Title' THEN 1 WHEN 'Birth date' THEN 2 "
                    "WHEN 'Birth place' THEN 3 WHEN 'Citizenship' THEN 4 "
                    "WHEN 'Remark' THEN 5 ELSE 6 END")


@register("s_details_agg", oracle=f"""
WITH {fx.sql_cte("details_items")},
ded AS (SELECT entity_id, field, val, idx,
               ROW_NUMBER() OVER (PARTITION BY entity_id, field, lower(val)
                                  ORDER BY idx) AS rn
        FROM details_items),
pf AS (SELECT entity_id, field,
              string_agg(val, ' / ' ORDER BY idx) AS vals,
              {_FIELD_ORDER_SQL} AS forder
       FROM ded WHERE rn = 1 GROUP BY entity_id, field)
SELECT entity_id,
       string_agg(field || ': ' || vals, '; ' ORDER BY forder) AS details
FROM pf GROUP BY entity_id
""")
def s_details_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    di = fx.spark_df(spark, "details_items")
    dw = W.partitionBy("entity_id", "field", F.lower("val")).orderBy("idx")
    ded = di.withColumn("rn", F.row_number().over(dw)).filter(F.col("rn") == 1)
    per_field = (
        ded.groupBy("entity_id", "field")
        .agg(F.expr("array_join(transform(array_sort(collect_list(struct(idx, val))),"
                    " s -> s.val), ' / ')").alias("vals"))
        .withColumn("forder", F.expr(_FIELD_ORDER_SQL))
        .withColumn("block", F.concat(F.col("field"), F.lit(": "), F.col("vals")))
    )
    return (
        per_field.groupBy("entity_id")
        .agg(F.expr("array_join(transform(array_sort(collect_list(struct(forder, block))),"
                    " s -> s.block), '; ')").alias("details"))
    )


# --------------------------------------------------------------------------
# pipeline_e2e — full XML (+ PDF text) -> analyst table (rows-only: the
# input is the repo's XML/PDF fixtures, not SQL-visible parquet)
# --------------------------------------------------------------------------
# pipeline_e2e oracle: a FROZEN GOLDEN snapshot of the six-entity
# fixture output (round-7 conversion). Provenance: per-FIELD
# independence lives in tests/test_pipeline.py::test_pipeline_end_to_end
# (hand-written expectations for every behavior: alias selection,
# gender chain, DOB reformat, address tokens, neighbor-fill states);
# this literal freezes the full 30-column row set so the DRIVER gate
# hash-verifies the end-to-end pipeline each round — any drift in any
# stage breaks the hash even if no pytest field pin covers it.
_PIPELINE_E2E_GOLDEN = """SELECT CAST(entity_seq AS BIGINT) AS entity_seq, "FULL_NAME", "CATEGORY", "F_NAME", "M_NAME", "L_NAME", "GENDER", "DOB", "ADD_CITY", "ADD_COUNTRY", "STATE", "NATIONALITIES", "ADDRESS", "IDENTITY NUMBER", "IDENTITY TYPE", "REF_DATE", "DETAILS", "WEB_LINK", "VIOLATION_ID", "SOURCE", "ALIAS", "ASSOCIATES", "MAIN ACTIVITY", "CITIZENSHIP INFORMATION", "STATUS", "REM1", "REM2", "REM3", "REMARKS", "REM2_STATE"
FROM (VALUES (0, 'Jose Garcia Moreno', 'P', '', '', '', 'Male', '12-01-1965', 'Caracas', 'Venezuela', 'Distrito Capital', 'Venezuela', 'Venezuela Caracas City Av. Urdaneta 12 Distrito Capital 1010', '', '', '', 'Title: (EU) 2020/1; Birth date: 1966; Birth place: Caracas; Citizenship: Colombia; Remark: Listed under programme VEN', 'https://www.sanctionsmap.eu/#/main/travel/ban', '', 'EU TRAVEL BAN', 'Pepe Garcia', '', '', '', '', 'Designation: Minister of Finance', 'Number: EU.1234.5; Programme: VEN', '', '', 'filled'),
  (1, 'Mohammed Aliyev', 'P', '', '', '', 'Male', '05-03-1970', 'Damascus', '', '', 'Syrian Arab Republic', 'Damascus', '', '', '', 'Birth date: 06-04-1971', 'https://www.sanctionsmap.eu/#/main/travel/ban', '', 'EU TRAVEL BAN', '', '', '', '', '', 'Designation: Commander; Recruiter', 'Number: EU.2222.1 / EU.2222.2; Programme: SYR', '', '', 'filled'),
  (2, 'Mullah Abdul Rahman', 'P', '', '', '', 'Male', '', 'Kandahar', 'Afghanistan', '', '', 'Afghanistan Kandahar City Kandahar Province; Pakistan Quetta Baluchistan Province', '', '', '', 'Title: Mullah / Haji', 'https://www.sanctionsmap.eu/#/main/travel/ban', '', 'EU TRAVEL BAN', '', '', '', '', '', '', '', '', '', 'empty_unique'),
  (3, 'Maria Lopez', 'P', '', '', '', 'Female', '', '', '', '', '', '', '', '', '', 'Birth date: 1980', 'https://www.sanctionsmap.eu/#/main/travel/ban', '', 'EU TRAVEL BAN', '', '', '', '', '', '', '', '', '', 'conflict'),
  (4, 'Maria Lopez', 'P', '', '', '', 'Female', '', '', '', '', '', '', '', '', '', '', 'https://www.sanctionsmap.eu/#/main/travel/ban', '', 'EU TRAVEL BAN', '', '', '', '', '', '', '', '', '', 'conflict'),
  (5, 'UNKNOWN', 'UNKNOWN', '', '', '', 'Male', '', '', '', '', '', '', '', '', '', '', 'https://www.sanctionsmap.eu/#/main/travel/ban', '', 'EU TRAVEL BAN', '', '', '', '', '', '', '', '', '', 'empty_unique'))
     t("entity_seq", "FULL_NAME", "CATEGORY", "F_NAME", "M_NAME", "L_NAME", "GENDER", "DOB", "ADD_CITY", "ADD_COUNTRY", "STATE", "NATIONALITIES", "ADDRESS", "IDENTITY NUMBER", "IDENTITY TYPE", "REF_DATE", "DETAILS", "WEB_LINK", "VIOLATION_ID", "SOURCE", "ALIAS", "ASSOCIATES", "MAIN ACTIVITY", "CITIZENSHIP INFORMATION", "STATUS", "REM1", "REM2", "REM3", "REMARKS", "REM2_STATE")"""


@register("pipeline_e2e", oracle=_PIPELINE_E2E_GOLDEN)
def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.pipeline import run_pipeline

    with open(_fixture_path("travel_ban.txt"), encoding="utf-8") as fh:
        texts = local_frame([("travel_ban.pdf", fh.read())],
                            "doc_path string, text string")
    return run_pipeline(spark, _fixture_path("feed.xml"), texts)


# --------------------------------------------------------------------------
# s_address_clean — token-filtered address normalization (main.py:639-755)
# --------------------------------------------------------------------------
def _sql_part(expr: str) -> str:
    """ws-collapsed, comma-folded address part (main.py:742-750)."""
    return nm.sql_normalize_ws(f"replace({expr}, ',', ' ')")


def _spark_part(expr: str) -> str:
    return f"trim(regexp_replace(replace({expr}, ',', ' '), '\\\\s+', ' '))"


@register("s_address_clean", oracle=f"""
WITH {fx.sql_cte("addresses")},
per_addr AS (
  SELECT entity_id, addr_idx,
         concat_ws(' ',
           CASE WHEN {adr.sql_valid_field("country")}
                THEN {nm.sql_title_case(_sql_part("country"))} END,
           CASE WHEN {adr.sql_valid_field("city")} THEN {_sql_part("city")} END,
           CASE WHEN {adr.sql_valid_field("street")} THEN {_sql_part("street")} END,
           CASE WHEN {adr.sql_valid_field("region")} THEN {_sql_part("region")} END,
           CASE WHEN {adr.sql_valid_field("place")} THEN {_sql_part("place")} END,
           CASE WHEN {adr.sql_valid_field("zipcode")} THEN {_sql_part("zipcode")} END
         ) AS addr_str
  FROM addresses),
firsts AS (
  SELECT entity_id,
         CASE WHEN {adr.sql_valid_field("city")}
              THEN {adr.sql_token_clean("city")} ELSE '' END AS city_clean,
         CASE WHEN {adr.sql_valid_field("country")}
              THEN {nm.sql_title_case("trim(country)")} ELSE '' END AS country_clean,
         CASE WHEN {adr.sql_valid_field("region")}
              THEN {adr.sql_token_clean("region")} ELSE '' END AS state_clean
  FROM addresses WHERE addr_idx = 0)
SELECT f.entity_id, f.city_clean, f.country_clean, f.state_clean,
       COALESCE(a.address_all, '') AS address_all
FROM firsts f
LEFT JOIN (SELECT entity_id, string_agg(addr_str, '; ' ORDER BY addr_idx) AS address_all
           FROM per_addr WHERE addr_str != '' GROUP BY entity_id) a
  ON f.entity_id = a.entity_id
""")
def s_address_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ad = fx.spark_df(spark, "addresses")

    def part(col_name: str):
        return F.when(adr.valid_field(F.col(col_name)), F.expr(_spark_part(col_name)))

    per_addr = ad.select(
        "entity_id", "addr_idx",
        F.concat_ws(" ",
                    F.when(adr.valid_field(F.col("country")),
                           F.initcap(F.expr(_spark_part("country")))),
                    part("city"), part("street"), part("region"),
                    part("place"), part("zipcode")).alias("addr_str"),
    )
    agg = (
        per_addr.filter(F.col("addr_str") != "")
        .groupBy("entity_id")
        .agg(F.expr("array_join(transform(array_sort(collect_list(struct(addr_idx,"
                    " addr_str))), s -> s.addr_str), '; ')").alias("address_all"))
    )
    firsts = ad.filter(F.col("addr_idx") == 0).select(
        "entity_id",
        F.when(adr.valid_field(F.col("city")), adr.token_clean("city"))
         .otherwise("").alias("city_clean"),
        F.when(adr.valid_field(F.col("country")), F.initcap(F.trim(F.col("country"))))
         .otherwise("").alias("country_clean"),
        F.when(adr.valid_field(F.col("region")), adr.token_clean("region"))
         .otherwise("").alias("state_clean"),
    )
    return (
        firsts.join(agg, "entity_id", "left")
        .select("entity_id", "city_clean", "country_clean", "state_clean",
                F.coalesce("address_all", F.lit("")).alias("address_all"))
    )


# --------------------------------------------------------------------------
# xml_entity_extract / pdf_chunk_extract — source connectors over the
# repo fixtures (rows-only: inputs are XML/text fixtures, not the
# SQL-visible parquet tables; exact field values pinned in
# tests/test_pipeline.py)
# --------------------------------------------------------------------------
def _fixture_path(name: str) -> str:
    from sanctions_data_pipeline_spark.data.fixtures import fixture_path

    return fixture_path(name)


def _xml_entity_oracle() -> str:
    """VALUES oracle for xml_entity_extract (round-7 conversion): an
    import-time ElementTree walk of the fixture feed counting child
    elements per sanctionEntity — independent of both the Spark native
    XML source and sources/xml_source.py's struct transforms."""
    import xml.etree.ElementTree as ET

    def q(v):
        return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"

    rows = []
    root = ET.parse(_fixture_path("feed.xml")).getroot()
    for elem in root.iter():
        if elem.tag.rsplit("}", 1)[-1] != "sanctionEntity":
            continue
        counts = {}
        for ch in elem:
            counts[ch.tag.rsplit("}", 1)[-1]] = \
                counts.get(ch.tag.rsplit("}", 1)[-1], 0) + 1
        subject = elem.find("{*}subjectType")
        rows.append(
            f"({q(elem.get('euReferenceNumber'))}, "
            f"{q(subject.get('classificationCode') if subject is not None else None)}, "
            f"{counts.get('nameAlias', 0)}, {counts.get('birthdate', 0)}, "
            f"{counts.get('address', 0)}, {counts.get('citizenship', 0)})")
    return f"""
SELECT eu_ref, classification,
       CAST(n_aliases AS INTEGER) AS n_aliases,
       CAST(n_birthdates AS INTEGER) AS n_birthdates,
       CAST(n_addresses AS INTEGER) AS n_addresses,
       CAST(n_citizenships AS INTEGER) AS n_citizenships
FROM (VALUES {", ".join(rows)})
     t(eu_ref, classification, n_aliases, n_birthdates, n_addresses,
       n_citizenships)
"""


@register("xml_entity_extract", oracle=_xml_entity_oracle())
def xml_entity_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source -> typed entity table (reference main.py:149-180
    splits the feed with a driver loop; this is one distributed scan)."""
    from sanctions_data_pipeline_spark.sources.xml_source import (
        entities_table, read_entities,
    )

    ents = entities_table(read_entities(spark, _fixture_path("feed.xml")))
    return ents.select(
        "eu_ref", "classification",
        F.size("aliases").alias("n_aliases"),
        F.size("birthdates").alias("n_birthdates"),
        F.size("addresses").alias("n_addresses"),
        F.size("citizenships").alias("n_citizenships"),
    )


def _pdf_chunk_oracle() -> str:
    """VALUES oracle for pdf_chunk_extract: a pure-``re`` replica of
    the reference chunk/parse semantics (main.py:261-283, 444-511) run
    at import time over the .txt GROUND TRUTH the fixture PDF was
    generated from — so the oracle exercises none of the Spark path
    and none of the PDF decode; a regression anywhere in binaryFile
    scan -> vendored extractor -> chunker -> field parser breaks the
    value hash. (tests/test_pipeline.py separately pins decode<->txt
    equivalence and exact field values.)"""
    import re

    with open(_fixture_path("travel_ban.txt"), encoding="utf-8") as fh:
        text = fh.read()
    rows = []
    for i, chunk in enumerate(re.split(r"(?=Entity\s+\d+\b)", text)):
        c = chunk.strip(" ")  # Spark trim() strips spaces only
        if not c.lower().startswith("entity"):
            continue
        m = re.search(r"(?i)Programme\s*[:\-]\s*([A-Za-z0-9]+)", c)
        programme = m.group(1).upper() if m else "GEN"
        txt = c.replace(" ", " ").replace("\r", "\n")
        mi = re.search(r"(?i)Name/Alias\s*:[ \t]*(\S[^\n]*)", txt)
        mn = re.search(r"(?i)Name/Alias\s*:[ \t]*\n\s*(\S[^\n]*)", txt)
        raw = (mi.group(1) if mi and mi.group(1) else
               (mn.group(1) if mn else ""))
        pdf_name = re.split(
            r"(?i)\b(title|function|birth information|birth date|"
            r"citizenship information|contact information|"
            r"identity information|address|remark|url|programme)\b\s*:",
            raw)[0].strip(" ")
        numbers = " / ".join(re.findall(
            r"(?im)^\s*Number\s*:[ \t]*(\S[^\n]*)", c))
        mp = re.search(r"(?im)^\s*Programme\s*:[ \t]*(\S[^\n]*)", txt)
        prog_last = (mp.group(1).split("|")[-1].strip(" ") if mp else "")
        parts = ([f"Number: {numbers}"] if numbers else []) \
            + ([f"Programme: {prog_last}"] if prog_last else [])
        rem2 = "; ".join(parts)

        def q(v):
            return "'" + v.replace("'", "''") + "'"

        rows.append(f"('travel_ban.pdf', {i}, {q(programme)}, "
                    f"{q(pdf_name)}, {q(numbers)}, {q(rem2)})")
    return f"""
SELECT doc_path, CAST(chunk_idx AS INTEGER) AS chunk_idx, programme,
       pdf_name, numbers, rem2
FROM (VALUES {", ".join(rows)})
     t(doc_path, chunk_idx, programme, pdf_name, numbers, rem2)
"""


@register("pdf_chunk_extract", oracle=_pdf_chunk_oracle())
def pdf_chunk_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF bytes -> text -> entity chunker + field line-parser
    (reference main.py:250-258 page extraction, 261-283 chunking,
    421-522 field parse). The decode is a binaryFile scan + vendored
    extractor in mapInPandas — real PDF input, not pre-extracted text."""
    from sanctions_data_pipeline_spark.sources.pdf_source import (
        chunk_entities, extract_pdf_text, parse_chunk_fields,
    )

    texts = extract_pdf_text(spark, _fixture_path("travel_ban.pdf"))
    return parse_chunk_fields(chunk_entities(texts)).select(
        "doc_path", "chunk_idx", "programme", "pdf_name", "numbers", "rem2")


# --------------------------------------------------------------------------
# s_fuzzy_match — edit-distance fuzzy matching with blocking. The
# reference matches names only through exact normalized-variant keys
# (main.py:809-830); real sanctions screening also needs fuzzy hits.
# Blocking (here: same noun token + same size; for names: same surname
# key / phonetic bucket) is the scale strategy — the quadratic
# levenshtein compare runs only WITHIN blocks, so the join is an
# equi-join Catalyst hash-partitions by block key, never a cross join.
# --------------------------------------------------------------------------
@register("s_fuzzy_match", oracle="""
WITH p AS (
  SELECT p_partkey, p_name, p_size,
         string_split(p_name, ' ')[2] AS noun
  FROM part
)
SELECT a.p_partkey AS i, b.p_partkey AS j,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.noun = b.noun AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
""")
def s_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey", "p_name", "p_size",
        F.split("p_name", " ").getItem(1).alias("_noun"))
    a = p.alias("a")
    b = p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(b, (F.col("a._noun") == F.col("b._noun"))
               & (F.col("a.p_size") == F.col("b.p_size"))
               & (F.col("a.p_partkey") < F.col("b.p_partkey")))
        .filter(dist <= 4)
        .select(
            F.col("a.p_partkey").alias("i"),
            F.col("b.p_partkey").alias("j"),
            dist.cast("bigint").alias("dist"),
        )
    )


# --------------------------------------------------------------------------
# xml_pysource_split — the reference's feed-split step (main.py:149-180,
# a driver loop writing entity{N}.xml temp files) as a CUSTOM PYTHON
# DATA SOURCE (Spark 4 DataSource API): one row per sanctionEntity with
# file provenance, partition-per-feed-file parallelism, streamed
# ElementTree parse. Oracled (round-7): same VALUES-literal oracle as
# xml_stream_split (import-time ElementTree walk, datasource module
# never imported), file provenance 'feed.xml'; field values also
# pinned by tests/test_pipeline.py.
# --------------------------------------------------------------------------
def _xml_split_oracle(fname: str) -> str:
    import xml.etree.ElementTree as ET

    def q(v):  # SQL string literal or NULL
        return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"

    rows, seq = [], 0
    root = ET.parse(_fixture_path("feed.xml")).getroot()
    for elem in root.iter():
        if elem.tag.rsplit("}", 1)[-1] != "sanctionEntity":
            continue
        seq += 1
        subject = elem.find("{*}subjectType")
        rows.append(
            f"('{fname}', {seq}, {q(elem.get('euReferenceNumber'))}, "
            f"{q(subject.get('code') if subject is not None else None)}, "
            f"{sum(1 for x in elem.iter() if x.tag.rsplit('}', 1)[-1] == 'nameAlias')}, "
            f"{len(ET.tostring(elem, encoding='unicode'))})")
    vals = ", ".join(rows)
    return f"""
SELECT file, CAST(entity_seq AS INTEGER) AS entity_seq, eu_ref,
       subject_code, CAST(n_aliases AS INTEGER) AS n_aliases,
       CAST(xml_len AS INTEGER) AS xml_len
FROM (VALUES {vals})
     t(file, entity_seq, eu_ref, subject_code, n_aliases, xml_len)
"""


@register("xml_pysource_split", oracle=_xml_split_oracle("feed.xml"))
def xml_pysource_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    df = (spark.read.format("sanctions_feed")
          .option("path", _fixture_path("feed.xml")).load())
    return df.select("file", "entity_seq", "eu_ref", "subject_code",
                     "n_aliases", F.length("xml").alias("xml_len"))


# --------------------------------------------------------------------------
# xml_stream_split — the feed-split step as an INCREMENTAL stream
# (Spark 4 Python streaming data source, sources/python_datasource.py
# SanctionsFeedStreamReader): new snapshot files enter per micro-batch
# with monotone {"files_done"} offsets and deterministic replay.
# Oracled (round-7 conversion): the drained availableNow output is
# fully deterministic (the reader emits file BASENAMES), so the oracle
# is a VALUES literal produced by an import-time ElementTree walk of
# the same fixture — a parse that never touches the datasource module,
# so it cross-checks the whole Spark-side machinery (registration,
# partition planning, streaming offsets, append drain). The
# incremental-arrival + checkpoint-resume semantics stay pinned by
# tests/test_pipeline.py::test_streaming_datasource_incremental_arrival.
# --------------------------------------------------------------------------
@register("xml_stream_split", oracle=_xml_split_oracle("snap1.xml"))
def xml_stream_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sanctions_data_pipeline_spark.sources import python_datasource as pds
    from sanctions_data_pipeline_spark.streaming.ops import run_available_now

    feed_dir = tempfile.mkdtemp(prefix="feed_stream_")
    shutil.copy(_fixture_path("feed.xml"), os.path.join(feed_dir, "snap1.xml"))
    pds.register_stream(spark)
    sdf = (spark.readStream.format("sanctions_feed_stream")
           .option("path", feed_dir).load())
    out = run_available_now(
        sdf.selectExpr("file", "entity_seq", "eu_ref", "subject_code",
                       "n_aliases", "length(xml) AS xml_len"),
        output_mode="append")
    return out


# --------------------------------------------------------------------------
# s_watchlist_screen — the DOWNSTREAM use of the analyst table: screen
# an incoming name list against the sanctions watchlist. Tier 1 is an
# exact variant-key hit (any of the 3 normalized keys, the reference's
# own match rule); tier 2 is a fuzzy levenshtein<=2 match blocked by
# (first letter, length band) so the quadratic term stays inside tiny
# blocks. The screening list derives deterministically from the
# fixture (clean + typo'd copies) plus customer-name decoys that must
# NOT match. Highest-severity tier wins per (screened name, entity).
# --------------------------------------------------------------------------
@register("s_watchlist_screen", oracle=f"""
WITH {fx.sql_cte("aliases")},
wl AS (
  SELECT entity_id, {nm.sql_clean_fullname("whole_name")} AS wname
  FROM aliases WHERE {nm.sql_is_latin_name("whole_name")}
),
screen0 AS (
  SELECT 'clean:' || CAST(entity_id AS VARCHAR) || ':'
         || CAST(alias_idx AS VARCHAR) AS probe_id,
         {nm.sql_clean_fullname("whole_name")} AS pname
  FROM aliases WHERE {nm.sql_is_latin_name("whole_name")}
  UNION ALL
  SELECT 'typo:' || CAST(entity_id AS VARCHAR) || ':'
         || CAST(alias_idx AS VARCHAR),
         substr({nm.sql_clean_fullname("whole_name")}, 1, 1)
         || substr({nm.sql_clean_fullname("whole_name")}, 3)
  FROM aliases WHERE {nm.sql_is_latin_name("whole_name")}
    AND length({nm.sql_clean_fullname("whole_name")}) > 4
  UNION ALL
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
         {nm.sql_clean_fullname("c_name")}
  FROM customer WHERE c_custkey <= 200
),
vkeys AS (
  SELECT probe_id, pname, unnest({nm.sql_variant_keys("pname")}) AS vk
  FROM screen0
),
wkeys AS (
  SELECT entity_id, wname, unnest({nm.sql_variant_keys("wname")}) AS vk
  FROM wl
),
exact_hits AS (
  SELECT DISTINCT v.probe_id, w.entity_id, 'variant' AS match_type
  FROM vkeys v JOIN wkeys w ON v.vk = w.vk AND v.vk <> ''
),
fuzzy_hits AS (
  SELECT DISTINCT s.probe_id, w.entity_id, 'fuzzy' AS match_type
  FROM screen0 s JOIN wl w
    ON substr(s.pname, 1, 1) = substr(w.wname, 1, 1)
   AND abs(length(s.pname) - length(w.wname)) <= 2
  WHERE levenshtein(s.pname, w.wname) BETWEEN 1 AND 2
),
ranked AS (
  SELECT probe_id, entity_id, match_type,
         ROW_NUMBER() OVER (PARTITION BY probe_id, entity_id
                            ORDER BY CASE match_type WHEN 'variant' THEN 0
                                     ELSE 1 END) AS rk
  FROM (SELECT * FROM exact_hits UNION ALL SELECT * FROM fuzzy_hits)
)
SELECT probe_id, CAST(entity_id AS BIGINT) AS entity_id, match_type
FROM ranked WHERE rk = 1
""")
def s_watchlist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    al = fx.spark_df(spark, "aliases")
    lat = al.filter(nm.is_latin_name(F.col("whole_name")))
    wl = lat.select("entity_id",
                    nm.clean_fullname(F.col("whole_name")).alias("wname"))
    clean = lat.select(
        F.concat(F.lit("clean:"), F.col("entity_id").cast("string"),
                 F.lit(":"), F.col("alias_idx").cast("string")).alias("probe_id"),
        nm.clean_fullname(F.col("whole_name")).alias("pname"))
    base = nm.clean_fullname(F.col("whole_name"))
    # typo probe: drop the 2nd character of the cleaned name
    typo = (lat.filter(F.length(base) > 4)
            .select(
                F.concat(F.lit("typo:"), F.col("entity_id").cast("string"),
                         F.lit(":"), F.col("alias_idx").cast("string"))
                 .alias("probe_id"),
                F.concat(F.substring(base, 1, 1),
                         F.substring(base, 3, 10_000)).alias("pname")))
    decoys = (cust.filter(F.col("c_custkey") <= 200)
              .select(F.concat(F.lit("cust:"),
                               F.col("c_custkey").cast("string")).alias("probe_id"),
                      nm.clean_fullname(F.col("c_name")).alias("pname")))
    screen = clean.unionAll(typo).unionAll(decoys)
    vkeys = screen.select(
        "probe_id", "pname",
        F.explode(nm.variant_keys(F.col("pname"))).alias("vk")) \
        .filter(F.col("vk") != "")
    wkeys = wl.select(
        "entity_id", "wname",
        F.explode(nm.variant_keys(F.col("wname"))).alias("vk"))
    exact_hits = (vkeys.join(F.broadcast(wkeys), "vk")
                  .select("probe_id", "entity_id",
                          F.lit("variant").alias("match_type")).distinct())
    fuzzy = (screen.join(
        F.broadcast(wl),
        (F.substring(F.col("pname"), 1, 1) == F.substring(F.col("wname"), 1, 1))
        & (F.abs(F.length("pname") - F.length("wname")) <= 2))
        .filter(F.levenshtein(F.col("pname"), F.col("wname")).between(1, 2))
        .select("probe_id", "entity_id",
                F.lit("fuzzy").alias("match_type")).distinct())
    both = exact_hits.unionAll(fuzzy)
    w = W.partitionBy("probe_id", "entity_id").orderBy(
        F.when(F.col("match_type") == "variant", 0).otherwise(1))
    return (both.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("probe_id", F.col("entity_id").cast("bigint"),
                    "match_type"))


# --------------------------------------------------------------------------
# xml_xpath_extract — the SAME per-entity fields re-derived from the raw
# entity XML through Spark's JVM xpath functions (xpath_string /
# xpath_int with local-name() to stay namespace-agnostic), side by side
# with the Python DataSource's iterparse values. A cross-path parity
# surface (like cg_asof_pandas vs q_asof_join): two independent parsers
# must agree on every entity. JVM xpath is the scale path — codegen'd,
# no Python boundary — once the feed is split into per-entity rows.
# Rows-only (XML fixture input); equality of the *_x twins is pinned by
# tests/test_training_ext2.py.
# --------------------------------------------------------------------------
def _xml_xpath_oracle() -> str:
    """VALUES oracle for xml_xpath_extract (round-7 conversion): the
    same import-time ElementTree walk as _xml_split_oracle, with each
    field emitted TWICE — once for the datasource columns, once for
    the xpath_* cross-extraction columns. If Spark's XPath engine ever
    disagrees with the structural parse, the value hash breaks."""
    import xml.etree.ElementTree as ET

    def q(v):
        return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"

    rows, seq = [], 0
    root = ET.parse(_fixture_path("feed.xml")).getroot()
    for elem in root.iter():
        if elem.tag.rsplit("}", 1)[-1] != "sanctionEntity":
            continue
        seq += 1
        subject = elem.find("{*}subjectType")
        ref = elem.get("euReferenceNumber")
        code = subject.get("code") if subject is not None else None
        nal = sum(1 for x in elem.iter()
                  if x.tag.rsplit("}", 1)[-1] == "nameAlias")
        rows.append(f"({seq}, {q(ref)}, {q(code)}, {nal}, "
                    f"{q(ref or '')}, {q(code or '')}, {nal})")
    return f"""
SELECT CAST(entity_seq AS INTEGER) AS entity_seq, eu_ref, subject_code,
       CAST(n_aliases AS INTEGER) AS n_aliases, eu_ref_x, subject_code_x,
       CAST(n_aliases_x AS INTEGER) AS n_aliases_x
FROM (VALUES {", ".join(rows)})
     t(entity_seq, eu_ref, subject_code, n_aliases, eu_ref_x,
       subject_code_x, n_aliases_x)
"""


@register("xml_xpath_extract", oracle=_xml_xpath_oracle())
def xml_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    df = (spark.read.format("sanctions_feed")
          .option("path", _fixture_path("feed.xml")).load())
    ent = "/*[local-name()='sanctionEntity']"
    return df.select(
        "entity_seq", "eu_ref", "subject_code", "n_aliases",
        F.xpath_string("xml", F.lit(f"{ent}/@euReferenceNumber"))
         .alias("eu_ref_x"),
        F.xpath_string("xml", F.lit(f"{ent}/*[local-name()='subjectType']/@code"))
         .alias("subject_code_x"),
        F.xpath_int("xml", F.lit(f"count({ent}/*[local-name()='nameAlias'])"))
         .cast("int").alias("n_aliases_x"))


# --------------------------------------------------------------------------
# st_watchlist_screen — the screening tier as a STREAM: an onboarding
# feed of names (fixture aliases + customer decoys, materialized to
# parquet and read back with readStream) joins the broadcast watchlist
# variant keys per micro-batch. Stateless stream-static join → append
# mode, no watermark needed; at 100 TB/day of onboarding events the
# watchlist side stays a broadcast dim and the stream never shuffles.
# Oracle: the identical tier-1 match computed relationally in DuckDB.
# --------------------------------------------------------------------------
@register("st_watchlist_screen", oracle=f"""
WITH {fx.sql_cte("aliases")},
wl AS (
  SELECT entity_id, {nm.sql_clean_fullname("whole_name")} AS wname
  FROM aliases WHERE {nm.sql_is_latin_name("whole_name")}
),
wkeys AS (
  SELECT DISTINCT entity_id, unnest({nm.sql_variant_keys("wname")}) AS vk
  FROM wl
),
probes AS (
  SELECT 'alias:' || CAST(entity_id AS VARCHAR) || ':'
         || CAST(alias_idx AS VARCHAR) AS probe_id,
         {nm.sql_clean_fullname("whole_name")} AS pname
  FROM aliases WHERE {nm.sql_is_latin_name("whole_name")}
  UNION ALL
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR),
         {nm.sql_clean_fullname("c_name")}
  FROM customer WHERE c_custkey <= 200
),
pkeys AS (
  SELECT probe_id, unnest({nm.sql_variant_keys("pname")}) AS vk FROM probes
)
SELECT DISTINCT probe_id, CAST(entity_id AS BIGINT) AS entity_id
FROM pkeys JOIN wkeys USING (vk) WHERE vk <> ''
""")
def st_watchlist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sanctions_data_pipeline_spark.streaming.ops import run_available_now

    al = fx.spark_df(spark, "aliases")
    lat = al.filter(nm.is_latin_name(F.col("whole_name")))
    wl = lat.select("entity_id",
                    nm.clean_fullname(F.col("whole_name")).alias("wname"))
    wkeys = (wl.select("entity_id", F.explode(nm.variant_keys(F.col("wname")))
                       .alias("vk"))
             .filter(F.col("vk") != "").distinct())

    cust = load_table(spark, sf_dir, "customer")
    probes = (lat.select(
        F.concat(F.lit("alias:"), F.col("entity_id").cast("string"),
                 F.lit(":"), F.col("alias_idx").cast("string"))
         .alias("probe_id"),
        nm.clean_fullname(F.col("whole_name")).alias("pname"))
        .unionAll(cust.filter(F.col("c_custkey") <= 200).select(
            F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
             .alias("probe_id"),
            nm.clean_fullname(F.col("c_name")).alias("pname"))))
    import shutil

    feed_dir = tempfile.mkdtemp(prefix="onboard_feed_")
    try:
        probes.write.mode("overwrite").parquet(feed_dir)

        stream = spark.readStream.schema("probe_id string, pname string") \
            .parquet(feed_dir)
        hits = (stream.select("probe_id",
                              F.explode(nm.variant_keys(F.col("pname")))
                               .alias("vk"))
                .filter(F.col("vk") != "")
                .join(F.broadcast(wkeys), "vk")
                .select("probe_id", F.col("entity_id").cast("long")
                        .alias("entity_id")))
        # drain fully into the memory sink, then localize the result so
        # nothing references the feed dir before it is removed
        out = run_available_now(hits, output_mode="append").distinct()
        return local_frame(out.collect(), out.schema)
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)


# --------------------------------------------------------------------------
# s_phonetic_screen — Soundex phonetic watchlist screening (Russell
# 1918; the third matching channel next to s_watchlist_screen's exact
# variant keys and s_fuzzy_match's edit distance): incoming name
# spellings (the classic transliteration variants — Muhamad/Mohammed,
# Iwan/Ivan, Moeller/Muller...) probe the alias fixture by the Soundex
# code of the cleaned FIRST name token, catching spelling drift that
# exact keys miss and edit distance only catches at high cost. Spark's
# JVM soundex() encodes both sides map-side; the match is an equi-join
# on the 4-char code. Rows-only: DuckDB has no soundex; pytest replays
# the standard algorithm in python over every probe and alias.
#
# Scale: codes compute in one projection each side; the probe side is
# request-sized and broadcasts; the watchlist join is a hash join on
# the code — the dd_exact bounded-bucket profile.
# --------------------------------------------------------------------------
_PHONETIC_PROBES = (
    "Muhamad", "Jozef", "Iwan", "Marya", "Fatema", "Moeller",
    "Sfetlana", "Pjotr", "Habib",
)


def _sql_soundex(expr: str) -> str:
    """American Soundex in pure DuckDB SQL, value-identical to Spark's
    F.soundex on this op's domain (A-Z-leading first tokens): strip
    non-alpha, remove H/W from position 2+ (the H/W-transparent
    duplicate rule), translate to digit classes (vowels -> 0 so they
    SEPARATE duplicates), collapse runs WITH the first letter's digit
    participating, then drop zeros and pad."""
    u = f"regexp_replace(upper({expr}), '[^A-Z]', '', 'g')"
    full = f"(substr({u}, 1, 1) || regexp_replace(substr({u}, 2), '[HW]', '', 'g'))"
    digits = (f"translate({full}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
              f"'01230120022455012623010202')")
    # DuckDB regexp is RE2 (no backreferences): collapse
    # same-digit runs with one chained replace per digit class
    collapsed = digits
    for d in "0123456":
        collapsed = (f"regexp_replace({collapsed}, "
                     f"'{d}{d}+', '{d}', 'g')")
    tail = f"regexp_replace(substr({collapsed}, 2), '0', '', 'g')"
    return f"(substr({u}, 1, 1) || substr({tail} || '000', 1, 3))"


_PHONETIC_ORACLE_TMPL = """
WITH {aliases_cte},
wl0 AS (
  SELECT entity_id, alias_idx,
         string_split(trim(upper({clean})), ' ')[1] AS wl_name
  FROM aliases
),
wl AS (
  SELECT entity_id, alias_idx, wl_name, {wl_sdx} AS code
  FROM wl0
  WHERE length(wl_name) > 0 AND regexp_matches(wl_name, '^[A-Z]')
),
probes AS (
  SELECT probe, {probe_sdx} AS code
  FROM (VALUES {probe_vals}) p(probe)
)
SELECT p.probe, p.code, wl.entity_id, wl.alias_idx, wl.wl_name
FROM wl JOIN probes p ON wl.code = p.code
"""


def _phonetic_oracle() -> str:
    return _PHONETIC_ORACLE_TMPL.format(
        aliases_cte=fx.sql_cte("aliases"),
        clean=nm.sql_clean_fullname("whole_name"),
        wl_sdx=_sql_soundex("wl_name"),
        probe_sdx=_sql_soundex("upper(probe)"),
        probe_vals=", ".join(f"('{p}')" for p in _PHONETIC_PROBES))


@register("s_phonetic_screen", oracle=_phonetic_oracle())
def s_phonetic_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    al = fx.spark_df(spark, "aliases")
    first = F.element_at(F.split(F.trim(F.upper(
        nm.clean_fullname(F.col("whole_name")))), " "), 1)
    wl = (al.select("entity_id", "alias_idx", first.alias("wl_name"))
          .filter(F.length("wl_name") > 0)
          .filter(F.col("wl_name").rlike("^[A-Z]"))   # codeable names only
          .withColumn("code", F.soundex(F.col("wl_name"))))
    probes = (local_frame([(p,) for p in _PHONETIC_PROBES], "probe string")
              .withColumn("code", F.soundex(F.upper(F.col("probe")))))
    return (wl.join(F.broadcast(probes), "code")
            .select("probe", "code", "entity_id", "alias_idx", "wl_name"))
