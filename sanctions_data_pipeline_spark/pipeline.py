"""End-to-end sanctions pipeline (reference run_all + populate_full_name,
main.py:525-1144), Spark-first.

The reference iterates entity XML files on the driver and writes Excel
cells one by one; here every per-entity step is an array expression over
the typed entity row (no explode/reshuffle until the REM2 match), the
PDF mapping is a broadcast dimension, and the only global-order step
(duplicate neighbor-fill, passes 2+3) is one lazy plan: a range
exchange into contiguous chunks, per-chunk summaries composed in one
single-partition step, then a chunk kernel that applies both passes —
no unpartitioned window. Building the table starts no Spark job; the
entity lineage runs once, inside the sink's action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from sanctions_data_pipeline_spark.functions import names as nm
from sanctions_data_pipeline_spark.functions.address import (
    spark_token_clean, valid_field,
)
from sanctions_data_pipeline_spark.functions.gender import infer_gender
from sanctions_data_pipeline_spark.operators.matching import (
    build_variant_mapping, neighbor_fill, variant_match,
)
from sanctions_data_pipeline_spark.sources.pdf_source import (
    chunk_entities, parse_chunk_fields,
)
from sanctions_data_pipeline_spark.sources.xml_source import entities_table, read_entities

DEFAULT_WEB_LINK = "https://www.sanctionsmap.eu/#/main/travel/ban"
DEFAULT_SOURCE = "EU TRAVEL BAN"

# Final analyst layout (reference CSV_COLUMNS, main.py:61-67)
OUTPUT_COLUMNS = [
    "FULL_NAME", "CATEGORY", "F_NAME", "M_NAME", "L_NAME", "GENDER", "DOB",
    "ADD_CITY", "ADD_COUNTRY", "STATE", "NATIONALITIES", "ADDRESS",
    "IDENTITY NUMBER", "IDENTITY TYPE", "REF_DATE", "DETAILS", "WEB_LINK",
    "VIOLATION_ID", "SOURCE", "ALIAS", "ASSOCIATES", "MAIN ACTIVITY",
    "CITIZENSHIP INFORMATION", "STATUS", "REM1", "REM2", "REM3", "REMARKS",
]


def _valid(c: Column) -> Column:
    return valid_field(c)


def _clean_name(c: Column) -> Column:
    return F.initcap(nm.normalize_ws(c))


def _dedup_ci(arr: Column) -> Column:
    """Case-insensitive dedupe keeping first occurrence."""
    return F.filter(arr, lambda x, i: ~F.array_contains(
        F.transform(F.slice(arr, 1, i), lambda y: F.lower(y)), F.lower(x)))


def _idx_aliases() -> Column:
    return F.transform(
        F.col("aliases"),
        lambda a, i: F.struct(
            a["whole_name"].alias("whole_name"),
            a["function"].alias("function"),
            a["gender"].alias("gender"),
            a["title"].alias("title"),
            i.alias("idx"),
            (a["whole_name"].isNotNull()
             & nm.is_latin_name(a["whole_name"])).alias("is_latin"),
        ))


def select_entity_fields(entities: DataFrame) -> DataFrame:
    """Per-entity field extraction (main.py:553-947) as one projection."""
    ia = _idx_aliases()
    latins = F.filter(ia, lambda a: a["is_latin"])
    selected = F.try_element_at(latins, F.lit(1))
    full_name = F.when(selected.isNotNull(),
                       _clean_name(selected["whole_name"])).otherwise("UNKNOWN")
    sel_idx = F.when(selected.isNotNull(), selected["idx"]).otherwise(F.lit(2 ** 31 - 1))
    # last gender attribute seen before the loop breaks (main.py:589-595)
    attrs = F.filter(ia, lambda a: (a["idx"] <= sel_idx) & a["gender"].isNotNull())
    gender_attr = F.try_element_at(attrs, F.lit(-1))["gender"]

    first_cit = F.try_element_at(F.col("citizenships"), F.lit(1))
    nationality = F.when(_valid(first_cit), F.initcap(F.trim(first_cit))).otherwise("")

    first_bd = F.try_element_at(
        F.filter(F.col("birthdates"),
                 lambda b: b["birthdate"].isNotNull() & (F.trim(b["birthdate"]) != "")), F.lit(1))
    dob = F.when(
        first_bd.isNotNull() & first_bd["birthdate"].rlike(r"^\d{4}-\d{2}-\d{2}$"),
        F.concat_ws("-",
                    F.substring(first_bd["birthdate"], 9, 2),
                    F.substring(first_bd["birthdate"], 6, 2),
                    F.substring(first_bd["birthdate"], 1, 4)),
    ).otherwise("")

    addr1 = F.try_element_at(F.col("addresses"), F.lit(1))
    city = F.when(_valid(addr1["city"]),
                  F.expr(spark_token_clean("element_at(addresses, 1).city"))).otherwise("")
    country = F.when(_valid(addr1["country"]),
                     F.initcap(F.trim(addr1["country"]))).otherwise("")
    state = F.when(_valid(addr1["region"]),
                   F.expr(spark_token_clean("element_at(addresses, 1).region"))).otherwise("")

    def part(c: Column) -> Column:
        return F.when(_valid(c), nm.normalize_ws(F.replace(c, F.lit(","), F.lit(" "))))

    addr_strs = F.filter(
        F.transform(
            F.col("addresses"),
            lambda a: F.concat_ws(" ", F.when(_valid(a["country"]),
                                              F.initcap(part(a["country"]))),
                                  part(a["city"]), part(a["street"]),
                                  part(a["region"]), part(a["place"]),
                                  part(a["zipcode"]))),
        lambda s: s != "")
    address_all = F.array_join(addr_strs, "; ")

    other_alias = F.array_join(
        F.transform(
            F.filter(latins, lambda a: F.lower(F.trim(a["whole_name"]))
                     != F.lower(selected["whole_name"])),
            lambda a: _clean_name(a["whole_name"])), "; ")

    # REM1 designations (main.py:789-807): '(x)'-marked functions split
    funcs = F.flatten(F.transform(
        F.filter(ia, lambda a: a["function"].isNotNull()),
        lambda a: F.filter(
            F.transform(
                F.split(F.regexp_replace(F.trim(a["function"]),
                                         r"\([a-z]\)", "|"), r"\|"),
                lambda p: F.regexp_replace(F.trim(p), ",$", "")),
            lambda p: p != "")))
    rem1 = F.when(F.size(funcs) > 0,
                  F.concat(F.lit("Designation: "), F.array_join(funcs, "; "))
                  ).otherwise("")

    details = _details_column()

    return entities.select(
        "entity_seq", "eu_ref",
        F.coalesce(F.col("classification"), F.lit("UNKNOWN")).alias("category"),
        full_name.alias("full_name"),
        gender_attr.alias("gender_attr"),
        nationality.alias("nationality"),
        dob.alias("dob"),
        city.alias("add_city"), country.alias("add_country"), state.alias("state"),
        address_all.alias("address_all"),
        other_alias.alias("alias_list"),
        rem1.alias("rem1"),
        details.alias("details"),
        F.transform(latins, lambda a: _clean_name(a["whole_name"]))
         .alias("candidate_names"),
    )


def _details_column() -> Column:
    """DETAILS blocks (main.py:832-945): Title / Birth date / Birth place
    / Citizenship / Remark, each ci-deduped keep-first, ' / '-joined,
    blocks ';'-joined in fixed order."""
    titles = F.concat(
        F.transform(F.filter(F.col("regulation_titles"), lambda t: t.isNotNull()),
                    lambda t: F.trim(t)),
        F.flatten(F.transform(
            F.filter(F.col("aliases"), lambda a: a["title"].isNotNull()),
            lambda a: F.filter(
                F.transform(F.split(F.regexp_replace(a["title"], r"\(\w\)", ""), ","),
                            lambda p: F.trim(p)),
                lambda p: p != ""))),
    )
    fulls = F.filter(F.col("birthdates"),
                     lambda b: b["birthdate"].isNotNull() & (F.trim(b["birthdate"]) != ""))
    full_years = F.transform(fulls, lambda b: F.substring(b["birthdate"], 1, 4))
    extra_fulls = F.transform(
        F.slice(fulls, 2, F.greatest(F.size(fulls) - 1, F.lit(0))),
        lambda b: F.concat_ws("-",
                              F.substring(b["birthdate"], 9, 2),
                              F.substring(b["birthdate"], 6, 2),
                              F.substring(b["birthdate"], 1, 4)))
    years = F.transform(
        F.filter(F.col("birthdates"),
                 lambda b: b["year"].isNotNull() & b["year"].rlike(r"^\d+$")
                 & ~F.array_contains(full_years, b["year"])),
        lambda b: b["year"])
    ranges = F.transform(
        F.filter(F.col("birthdates"),
                 lambda b: b["year_from"].isNotNull() & b["year_to"].isNotNull()),
        lambda b: F.concat(b["year_from"], F.lit(" to "), b["year_to"]))
    birth_dates = F.concat(extra_fulls, years, ranges)
    places = F.transform(
        F.filter(F.col("birthdates"), lambda b: b["place"].isNotNull()),
        lambda b: F.trim(b["place"]))
    cits = F.transform(
        F.filter(F.col("citizenships"), lambda c: _valid(c)),
        lambda c: F.initcap(F.trim(c)))
    # second distinct citizenship only (main.py:897-905)
    citizenship = F.when(
        (F.size(cits) > 1)
        & (F.lower(F.trim(F.try_element_at(cits, F.lit(2)))) != F.lower(F.trim(F.try_element_at(cits, F.lit(1))))),
        F.array(F.try_element_at(cits, F.lit(2)))).otherwise(F.array().cast("array<string>"))
    remarks = F.transform(
        F.filter(F.col("remarks"),
                 lambda r: r.isNotNull() & (F.trim(r) != "")
                 & (F.lower(F.trim(r)) != "none")),
        lambda r: F.trim(r))

    def block(label: str, arr: Column) -> Column:
        d = _dedup_ci(arr)
        return F.when(F.size(d) > 0,
                      F.concat(F.lit(f"{label}: "),
                               F.array_join(F.transform(d, lambda v: F.trim(v)), " / ")))

    joined = F.concat_ws("; ",
                         block("Title", titles),
                         block("Birth date", birth_dates),
                         block("Birth place", places),
                         block("Citizenship", citizenship),
                         block("Remark", remarks))
    return nm.normalize_ws(F.regexp_replace(joined, r"[\n\r]", " "))


def match_rem2(fields: DataFrame, pdf_fields: DataFrame) -> DataFrame:
    """REM2: multi-variant match against the PDF mapping (main.py:421-522,
    809-830), then the two duplicate-name neighbor-fill passes
    (main.py:950-1028)."""
    latin_pdf = pdf_fields.filter(
        (F.col("pdf_name") != "") & nm.is_latin_name(F.col("pdf_name"))).select(
        F.col("chunk_idx").alias("pdf_id"),
        _clean_name(F.col("pdf_name")).alias("pdf_name"),
        "rem2")
    mapping = build_variant_mapping(latin_pdf, "pdf_name", "pdf_id", "rem2")
    cands = fields.select(
        "entity_seq",
        F.posexplode_outer(F.col("candidate_names")).alias("prio", "cand_name"))
    hits = variant_match(cands.filter(F.col("cand_name").isNotNull()),
                         ["entity_seq"], "cand_name", "prio", mapping, "rem2")
    joined = fields.join(hits.withColumnRenamed("rem2", "rem2_candidate"),
                         "entity_seq", "left").fillna({"rem2_candidate": ""})
    # passes 2+3 (main.py:950-1028), faithful sequential semantics
    # (in-pass writes visible to later rows), distributed chunk scan;
    # rem2_state carries the reference's yellow/red cell verdict
    # (main.py:994-1047): filled | empty_unique | conflict.
    return neighbor_fill(joined, "entity_seq", "full_name",
                         "rem2_candidate", out_col="rem2",
                         state_col="rem2_state", third_pass=True)


def finalize(enriched: DataFrame) -> DataFrame:
    """Assemble the 28-column analyst table; the final FULL_NAME pass
    applies clean_fullname (main.py:1042-1046)."""
    out = enriched.select(
        F.when(F.col("full_name") != "UNKNOWN",
               nm.clean_fullname(F.col("full_name")))
         .otherwise("UNKNOWN").alias("FULL_NAME"),
        F.col("category").alias("CATEGORY"),
        F.col("gender").alias("GENDER"),
        F.col("dob").alias("DOB"),
        F.col("add_city").alias("ADD_CITY"),
        F.col("add_country").alias("ADD_COUNTRY"),
        F.col("state").alias("STATE"),
        F.col("nationality").alias("NATIONALITIES"),
        F.col("address_all").alias("ADDRESS"),
        F.col("details").alias("DETAILS"),
        F.lit(DEFAULT_WEB_LINK).alias("WEB_LINK"),
        F.lit(DEFAULT_SOURCE).alias("SOURCE"),
        F.col("alias_list").alias("ALIAS"),
        F.col("rem1").alias("REM1"),
        F.col("rem2").alias("REM2"),
        (F.coalesce(F.col("rem2_state"), F.lit("filled"))
         if "rem2_state" in enriched.columns else F.lit("filled"))
        .alias("REM2_STATE"),
        F.col("entity_seq"),
    )
    for col in OUTPUT_COLUMNS:
        if col not in out.columns:
            out = out.withColumn(col, F.lit(""))
    # REM2_STATE trails the 28 analyst columns: the reference's cell
    # color channel (main.py:994-1047 — yellow 'empty_unique' vs red
    # 'conflict'; a red REM2 cell propagates red to the whole row).
    return out.select("entity_seq", *OUTPUT_COLUMNS, "REM2_STATE")


def run_pipeline(spark, xml_path: str, pdf_texts: DataFrame | None = None) -> DataFrame:
    """XML feed (+ optional pre-extracted PDF text) -> analyst table."""
    entities = entities_table(read_entities(spark, xml_path))
    fields = select_entity_fields(entities)
    if pdf_texts is not None:
        pdf_fields = parse_chunk_fields(chunk_entities(pdf_texts))
        fields = match_rem2(fields, pdf_fields)
    else:
        fields = (fields.withColumn("rem2", F.lit(""))
                  .withColumn("rem2_state", F.lit("empty_unique")))
    gendered = infer_gender(fields, "full_name", "gender_attr")
    return finalize(gendered)
