"""Gender inference (reference main.py:369-390, 773-787), Spark-first.

Precedence chain (main.py:773-787):
  1. explicit source gender attribute ('F' -> Female else Male);
  2. forced-male title/pattern substring match;
  3. first-name dictionary lookup (broadcast join — the dict is a tiny
     dimension, never a shuffle);
  4. default Male.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from sanctions_data_pipeline_spark.data import gender_dict
from sanctions_data_pipeline_spark.plans.helpers import local_frame


def gender_dim(spark: SparkSession) -> DataFrame:
    """The first-name dictionary as a broadcastable dimension."""
    return local_frame(gender_dict.rows(), "gd_name string, gd_gender string")


def first_name(col: Column) -> Column:
    return F.lower(F.split(F.trim(col), r"\s+")[0])


def is_forced_male(col: Column) -> Column:
    """Substring containment over the lowered name (main.py:380-390)."""
    return F.lower(col).rlike(gender_dict.forced_male_regex())


def resolve_gender(explicit_attr: Column, name: Column, dict_gender: Column) -> Column:
    """Combine the precedence chain; ``dict_gender`` comes from the
    broadcast join against :func:`gender_dim`."""
    return (
        F.when(explicit_attr.isNotNull() & (F.upper(explicit_attr) == "F"), "Female")
        .when(explicit_attr.isNotNull(), "Male")
        .when(is_forced_male(name), "Male")
        .when(dict_gender == "female", "Female")
        .otherwise("Male")
    )


def infer_gender(df: DataFrame, name_col: str, attr_col: str,
                 out_col: str = "gender") -> DataFrame:
    """Attach inferred gender to ``df`` via a broadcast dictionary join."""
    spark = df.sparkSession
    dim = F.broadcast(gender_dim(spark))
    joined = df.join(dim, first_name(F.col(name_col)) == dim.gd_name, "left")
    return joined.withColumn(
        out_col,
        resolve_gender(F.col(attr_col), F.col(name_col), F.col("gd_gender")),
    ).drop("gd_name", "gd_gender")


# --- oracle SQL side ------------------------------------------------------

def sql_infer_gender(name_expr: str, attr_expr: str) -> str:
    """DuckDB expression mirroring resolve_gender; requires the query to
    join ``gdict(gd_name, gd_gender)`` (see sql_gender_cte)."""
    forced = gender_dict.forced_male_regex()
    return f"""
      CASE WHEN {attr_expr} IS NOT NULL AND upper({attr_expr}) = 'F' THEN 'Female'
           WHEN {attr_expr} IS NOT NULL THEN 'Male'
           WHEN regexp_matches(lower({name_expr}), '{forced}') THEN 'Male'
           WHEN gd_gender = 'female' THEN 'Female'
           ELSE 'Male' END
    """


def sql_gender_cte() -> str:
    return f"gdict(gd_name, gd_gender) AS (SELECT * FROM {gender_dict.sql_values()})"


def sql_first_name(expr: str) -> str:
    return f"lower(string_split_regex(trim({expr}), '\\s+')[1])"
