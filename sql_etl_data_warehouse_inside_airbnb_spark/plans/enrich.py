"""Post-load enrichment passes — the reference's post-hoc UPDATE
scripts re-expressed as column projections over the dims/facts.

- US-state → country normalization + ``is_local_host``
  (scripts/maintenance/pretreatment.py:14-80): dim_hosts and
  dim_listings gain ``host_country_corrected``; dim_listings'
  ``is_local_host`` becomes host_country_corrected == property_country.
- review language detection (scripts/app/language_detection.py:41-154):
  fact_reviews gains ``review_lang`` from the first 100 chars of
  comments, ``'und'`` for empty/undetectable — the reference's only
  must-be-a-UDF, computed here as a JVM column expression (n-gram
  heuristic, functions/text.py:lang_id; the pandas-UDF variant
  ``lang_id_udf`` lives beside it).

The reference mutates tables in place (ALTER + UPDATE); here each pass
returns a new projection — same columns, no shuffle (narrow transforms
only), applied before the table is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.functions.text import lang_id

# scripts/maintenance/pretreatment.py:16-22 (states + territories)
US_STATE_ABBREVS = [
    "AL", "AK", "AS", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL", "GA",
    "GU", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA",
    "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC",
    "ND", "OH", "OK", "OR", "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT",
    "VT", "VA", "WA", "WV", "WI", "WY",
]


def corrected_host_country(source: str = "host_country") -> F.Column:
    """CASE WHEN host_country IN (states) THEN 'United States' ELSE
    host_country END (pretreatment.py:57-64). NULL stays NULL (the
    SQL ELSE branch)."""
    return (F.when(F.col(source).isin(US_STATE_ABBREVS),
                   F.lit("United States"))
            .otherwise(F.col(source))
            .alias("host_country_corrected"))


def pretreat_hosts(dim_hosts: DataFrame) -> DataFrame:
    """dim_hosts + host_country_corrected (pretreatment.py:100)."""
    return dim_hosts.withColumn("host_country_corrected",
                                corrected_host_country())


def pretreat_listings(dim_listings: DataFrame) -> DataFrame:
    """dim_listings + host_country_corrected, then is_local_host =
    (host_country_corrected == property_country) — NULL comparison
    falls to the ELSE 0 branch, exactly the T-SQL CASE
    (pretreatment.py:74-80)."""
    return (dim_listings
            .withColumn("host_country_corrected", corrected_host_country())
            .withColumn(
                "is_local_host",
                F.when(F.col("host_country_corrected")
                       == F.col("property_country"), F.lit(True))
                .otherwise(F.lit(False))))


def add_review_lang(fact_reviews: DataFrame) -> DataFrame:
    """fact_reviews + review_lang from comments[:100]; 'und' when
    empty/undetectable (language_detection.py:56,79-81). The column
    expression stays JVM-side."""
    return fact_reviews.withColumn(
        "review_lang",
        F.when(F.col("comments").isNull()
               | (F.length(F.trim("comments")) == 0), F.lit("und"))
        .otherwise(lang_id(F.substring(F.col("comments"), 1, 100))))
