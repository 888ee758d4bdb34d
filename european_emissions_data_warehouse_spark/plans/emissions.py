"""The flagship emissions ETL — reference operators O1..O11 re-expressed
Spark-first (SURVEY.md §2.1, reference scripts/etl_process.py:67-102).

The chain is a single narrow (shuffle-free) DataFrame pipeline:

    scan -> project(6) -> null-drop -> filter(eq + isin) -> derive Unit
         -> recode Gas -> rename -> dim-decode -> final project -> sink

Dim decode (O9, reference scripts/etl_process.py:67,92) is offered in both
forms with hash-identical output:

- ``decode_via_map``  — the reference's literal ``create_map(...)[col]``;
- ``decode_via_join`` — the idiomatic broadcast left join against a real
  dimension DataFrame (what a 100 TB pipeline should do: the dim stays a
  table, the join never shuffles because the dim side broadcasts).

Differences from the reference, on purpose (SURVEY.md §1.2):
- explicit typed schema at ingest instead of all-strings;
- Parquet sink instead of CSV (the reference *says* parquet in comments but
  writes CSV — behavior documented, not replicated);
- the no-op rename of a cell value (O7, scripts/etl_process.py:90 — a latent
  bug: renames a column that never exists) is documented here and not
  replicated.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from european_emissions_data_warehouse_spark.functions.frames import literal_frame

# The 30-entry country code -> name dimension, hard-coded in the reference
# (scripts/etl_process.py:33-64) with a TODO to make it a real table — here it
# IS a real dimension table (FIXTURES.md F2).
COUNTRY_CODE_MAP: dict[str, str] = {
    "AT": "Austria", "BE": "Belgium", "BG": "Bulgaria", "HR": "Croatia",
    "CY": "Cyprus", "CZ": "Czechia", "DK": "Denmark", "EE": "Estonia",
    "FI": "Finland", "FR": "France", "DE": "Germany", "EL": "Greece",
    "HU": "Hungary", "IS": "Iceland", "IE": "Ireland", "IT": "Italy",
    "LV": "Latvia", "LT": "Lithuania", "LU": "Luxembourg", "MT": "Malta",
    "NL": "Netherlands", "NO": "Norway", "PL": "Poland", "PT": "Portugal",
    "RO": "Romania", "SK": "Slovakia", "SI": "Slovenia", "ES": "Spain",
    "SE": "Sweden", "CH": "Switzerland",
}

RAW_COLUMNS = ["CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value"]
TOTAL_GHG_RAW = "Total GHG emissions (ktCO2e)"
TOTAL_GHG = "Total GHG emissions"
UNIT_KT_CO2E = "kt CO2 equivalent"
OUTPUT_COLUMNS = ["Country", "Year", "Scenario", "Category", "Gas", "ReportedValue", "Unit"]


def country_dim(spark: SparkSession) -> DataFrame:
    """The code->name dimension as a DataFrame (FIXTURES.md F2).

    Built as a folded JVM literal (functions/frames.literal_frame), not
    ``spark.createDataFrame``: the broadcast of a Python-RDD-backed dim
    runs one Python-worker task per core to ship 30 rows, costlier than
    the clean write itself.  The literal's broadcast job runs in the JVM
    only."""
    schema = StructType(
        [StructField("CountryCode", StringType()), StructField("Country", StringType())]
    )
    return literal_frame(spark, list(COUNTRY_CODE_MAP.items()), schema)


def clean_emissions(raw: DataFrame, decode: str = "join") -> DataFrame:
    """O2..O10: the transformation chain of the Glue job
    (reference scripts/etl_process.py:81-93), typed.

    ``decode`` selects the O9 strategy: 'join' (broadcast dim join) or 'map'
    (literal map lookup).  Outputs are identical; the join form is the one
    that scales when the dim outgrows a literal.  Typing uses plain casts
    under ANSI deliberately: a malformed Year/ReportedValue ABORTS the job,
    the same behavior as the reference's Postgres COPY
    (lambda_handler_warehouse.py:85-92) — use analytics' try_cast pattern
    when lenient import is wanted.
    """
    if decode not in ("join", "map"):
        raise ValueError(
            f"clean_emissions: decode={decode!r} is not a strategy; use "
            "'join' (broadcast dim) or 'map' (literal lookup)"
        )
    df = (
        raw.select(*RAW_COLUMNS)  # O2 projection
        .na.drop(how="any", subset=RAW_COLUMNS)  # O3 null-drop (etl_process.py:83)
        .filter(  # O4 equality + IN-list (etl_process.py:84-85)
            (F.col("Gas") == TOTAL_GHG_RAW)
            & F.col("CountryCode").isin(list(COUNTRY_CODE_MAP))
        )
        # O5 conditional derive — evaluated while Gas still holds the raw
        # label, and O4 already restricted Gas, so the otherwise(None) branch
        # is dead (etl_process.py:86-87; SURVEY.md §2.1 semantics note).
        .withColumn(
            "Unit",
            F.when(F.col("Gas") == TOTAL_GHG_RAW, F.lit(UNIT_KT_CO2E)).otherwise(F.lit(None)),
        )
        # O6 conditional recode — strip the "(ktCO2e)" suffix (etl_process.py:88-89)
        .withColumn(
            "Gas",
            F.when(F.col("Gas") == TOTAL_GHG_RAW, F.lit(TOTAL_GHG)).otherwise(F.col("Gas")),
        )
        # O7 (etl_process.py:90) renames a non-existent column — documented
        # no-op, intentionally not replicated.
        .withColumnRenamed("Reported Value", "ReportedValue")  # O8
        # typed output (the reference defers typing to the Postgres COPY,
        # lambda_handler_warehouse.py:85-92; we type here)
        .withColumn("Year", F.col("Year").cast("int"))
        .withColumn("ReportedValue", F.col("ReportedValue").cast("double"))
    )

    if decode == "map":
        # O9a: the reference's literal expression (etl_process.py:67,92)
        mapping = F.create_map([F.lit(x) for x in chain(*COUNTRY_CODE_MAP.items())])
        df = df.withColumn("Country", mapping[F.col("CountryCode")])
    else:
        # O9b: broadcast left join against the dim table — post-O4 every code
        # is in the dim, so 'left' keeps row counts identical to O9a.
        dim = F.broadcast(country_dim(df.sparkSession))
        df = df.join(dim, "CountryCode", "left")

    return df.select(*OUTPUT_COLUMNS)  # O10 final projection / column order


def write_warehouse(df: DataFrame, path: str) -> None:
    """O11 sink: atomic overwrite (reference writes CSV with mode=overwrite,
    scripts/etl_process.py:99-102; we standardize on Parquet, SURVEY.md §1.2)."""
    df.write.mode("overwrite").parquet(path)


def write_warehouse_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """Literal warehouse-sink parity: load the result into a JDBC database
    (the reference's end state is a queryable PostgreSQL table,
    scripts/lambda_handler_warehouse.py:45-101, README.md:141-147).  Parquet
    (`write_warehouse`) remains the primary sink — at 100 TB a JDBC load is
    bounded by the database, not Spark — but a user replaying the
    reference's flow into an actual Postgres gets it in one call:

        write_warehouse_jdbc(df, "jdbc:postgresql://host/db", "emissions",
                             properties={"user": ..., "password": ...})

    Each partition opens one connection and streams `batchsize`-row inserts
    (Spark's JDBC writer is per-partition parallel); cap partitions with
    `df.coalesce(n)` to respect the database's connection limit.  Requires
    the JDBC driver jar on the Spark classpath.  No Postgres jar ships in
    this container, but the full live path (dialect DDL, batched insert,
    overwrite/append, partitioned readback) is integration-tested against
    embedded Derby, which pyspark bundles
    (tests/test_emissions_etl.py::test_jdbc_live_roundtrip_via_derby);
    Postgres differs only by dialect."""
    # properties ride ONLY the .jdbc(properties=...) channel —
    # DataFrameWriter.jdbc merges them into the writer options itself, so
    # the old duplicate option() loop was dead plumbing (code-review r4)
    df.write.option("batchsize", batchsize).jdbc(
        url, table, mode=mode, properties=properties or {}
    )


def clean_emissions_observed(raw: DataFrame, decode: str = "join"):
    """``clean_emissions`` plus free pipeline telemetry: an ``Observation``
    rides the existing job, so the warehouse write that runs anyway also
    yields row counts, null counts, and value bounds — the data-quality
    numbers an operator wants after every load, at ZERO extra scans (the
    reference gets none of this; its Glue job is fire-and-forget,
    scripts/etl_process.py:99-102).

    Contrast with operators/expectations.py: that module is the explicit
    audit pass you run on demand; this is the always-on counter set whose
    cost is an accumulator merge per task.  At 100 TB the difference is a
    second full scan vs nothing.

    Returns ``(df, observation)``; read ``observation.get`` AFTER an action
    has consumed ``df`` (e.g. ``write_warehouse``)."""
    from pyspark.sql import Observation

    obs = Observation("emissions_etl")
    df = clean_emissions(raw, decode).observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("ReportedValue").isNull().cast("long")).alias("null_values"),
        F.min("Year").alias("min_year"),
        F.max("Year").alias("max_year"),
        F.round(F.sum("ReportedValue"), 2).alias("total_reported"),
    )
    return df, obs
