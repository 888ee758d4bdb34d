"""Warehouse-semantics operators: upsert/merge, surrogate keys, uniqueness.

Reference parity for the Postgres load path (SURVEY.md §2.1 O13–O17):

- O16 upsert  — ``INSERT ... ON CONFLICT (key) DO UPDATE SET value = EXCLUDED``
  (reference scripts/lambda_handler_warehouse.py:95-101): last write wins on
  the logical key.  Spark has no constraints and no in-place update, so the
  merge is expressed relationally, in two equivalent forms.
- O13 surrogate key — ``id SERIAL PRIMARY KEY``
  (reference scripts/lambda_handler_warehouse.py:54): the reference's ids are
  arrival-ordered and unstable across rebuilds (SURVEY.md §2.1), so we
  generate ids from an *explicit* deterministic ordering instead.
- UNIQUE enforcement (reference scripts/lambda_handler_warehouse.py:63)
  becomes a validation operator, since the merge guarantees key uniqueness by
  construction.

Scale notes (100 TB): the anti-join form shuffles both sides on the key once —
with the incoming batch typically small relative to the warehouse, AQE turns
the anti join into a broadcast and the only shuffle left is the final write.
The key side is the incoming batch's key projection with no ``distinct``:
duplicate right-side keys cannot change an anti join's output, so
deduplicating them would only add a shuffle and an aggregate per merge.
The window form shuffles the union once on the key; prefer it when old/new are
comparable in size.  With a transactional table format (Delta/Iceberg) this
operator maps 1:1 onto MERGE INTO; the relational forms here are
format-agnostic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_anti_join(old: DataFrame, new: DataFrame, key: Sequence[str]) -> DataFrame:
    """Last-write-wins merge, anti-join form (SURVEY.md O16 mapping):
    take every incoming row, plus the old rows whose key is not updated.

    ``new`` must be key-unique (use :func:`dedupe_last` first if a single
    batch may contain key collisions — the reference gets the same effect
    from sequential per-file imports, lambda_handler_warehouse.py:79).

    The anti join is NULL-SAFE on the key: a plain equality never matches a
    NULL key, so an old NULL-key row survived alongside every new one and
    the two upsert forms disagreed (upsert_window's partitionBy groups
    nulls; code-review r4).  EqualNullSafe is still a hash-join key, so the
    plan shape is unchanged.

    The key side is NOT deduplicated: an anti join keeps an old row iff no
    right-side row matches it, and whether one or several rows match makes
    no difference, so duplicate keys in ``new`` (NULL keys included) leave
    the output unchanged, and a ``distinct`` there would only add a shuffle
    and an aggregate.
    """
    key = list(key)
    nk = new.select(*[F.col(k).alias(f"__nk_{k}") for k in key])
    cond = None
    for k in key:
        c = old[k].eqNullSafe(F.col(f"__nk_{k}"))
        cond = c if cond is None else cond & c
    survivors = old.join(nk, on=cond, how="left_anti")
    return survivors.unionByName(new).select(*old.columns)


def upsert_window(old: DataFrame, new: DataFrame, key: Sequence[str]) -> DataFrame:
    """Last-write-wins merge, window-dedup form: union old and new with a
    precedence tag, keep rank-1 per key (new beats old).

    Same precondition as upsert_anti_join: ``new`` must be key-unique
    (feed through dedupe_last first).  With an intra-batch duplicate key
    the rank-1 pick ties on __prec and keeps a NONDETERMINISTIC winner
    here, while the anti-join form keeps BOTH rows — the documented
    equivalence of the two forms holds only on clean input (code-review
    r4, operators pass)."""
    key = list(key)
    tagged = old.withColumn("__prec", F.lit(0)).unionByName(new.withColumn("__prec", F.lit(1)))
    w = Window.partitionBy(*key).orderBy(F.col("__prec").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prec")
    )


def dedupe_last(df: DataFrame, key: Sequence[str], order_by: Sequence[str]) -> DataFrame:
    """Collapse intra-batch key collisions, keeping the row that sorts last by
    ``order_by`` — mirrors the reference's later-file-wins semantics for a
    single load (lambda_handler_warehouse.py:79, SURVEY.md §2.1)."""
    w = Window.partitionBy(*key).orderBy(*[F.col(c).desc() for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def with_surrogate_key(
    df: DataFrame,
    order_by: Sequence[str],
    name: str = "id",
    num_shards: int | None = None,
) -> DataFrame:
    """O13 surrogate key over an explicit deterministic ordering —
    zipWithIndex-style two-pass, no single-partition sort.

    Pass 1 range-partitions on ``order_by`` (same shuffle a global sort
    would use, but the per-partition sort stays parallel), counts rows per
    partition, and turns the counts into cumulative offsets (driver-side:
    O(#partitions) rows, bounded by cluster parallelism, not data size).
    Pass 2 assigns ``offset + partition-local row_number`` via a window
    PARTITIONED by the physical partition id — no global window anywhere in
    the plan.  Ids are dense, 1-based, and identical to a global
    ``row_number`` ordered by ``order_by`` (ids depend only on the total
    order, not on where range boundaries fall), so dimension-scale callers
    and the DuckDB oracle see the exact same result.  The reference's SERIAL
    gives no cross-rebuild stability either (SURVEY.md §2.1,
    scripts/lambda_handler_warehouse.py:54), so tie ordering beyond
    ``order_by`` is explicitly unspecified.

    Raises if ``name`` already exists on ``df``: withColumn would silently
    REPLACE the caller's column and the final projection would emit it
    twice, losing the original values and making every later reference to
    the name ambiguous (code-review r4).
    """
    if name in df.columns:
        raise ValueError(
            f"with_surrogate_key: column {name!r} already exists on the "
            "input — pass a different `name` (the existing values would be "
            "silently destroyed)"
        )
    spark = df.sparkSession
    n = num_shards or max(spark.sparkContext.defaultParallelism, 1)
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_by])
    # materialized once: the counts collect and the id-assignment window
    # otherwise each run the full range exchange (double cost), and any
    # non-deterministic lineage could re-partition differently between the
    # passes, corrupting the offsets (code-review r4).  localCheckpoint is
    # executor-local (NOT fault-tolerant): an executor lost between the
    # two passes fails the job rather than silently recomputing with
    # different partitioning — the safe failure mode for id assignment.
    # On preemptible/dynamic-allocation clusters, set a checkpoint dir and
    # swap this for reliable .checkpoint() (or stage `tagged` to parquet)
    # to make the loss recoverable (code-review r4, operators pass).
    tagged = ranged.withColumn("__pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    counts = tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    base = 0
    offsets = []
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], base))
        base += row["__n"]
    # JVM literal, not createDataFrame: the Python-RDD-backed form costs
    # one Python-worker task per core inside the broadcast build (r10,
    # see functions/frames.py)
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from european_emissions_data_warehouse_spark.functions.frames import (
        literal_frame,
    )

    off_df = literal_frame(
        spark,
        offsets or [(0, 0)],
        StructType(
            [StructField("__pid", IntegerType()), StructField("__off", LongType())]
        ),
    )
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        tagged.join(F.broadcast(off_df), "__pid")
        .withColumn(name, (F.col("__off") + F.row_number().over(w)).cast("long"))
        .select(name, *df.columns)
    )


def scd2_from_changelog(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str,
    attr_col: str,
    tie_break: Sequence[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log — the
    warehouse-history extension of the O16 upsert (the reference's
    ON CONFLICT keeps only the latest value, lambda_handler_warehouse.py:95-101;
    SCD2 keeps every value with its validity interval).

    Steps, all within one shuffle on ``key``:
    1. collapse same-instant duplicates per (key, ts) keeping the row that
       sorts last by ``tie_break`` (later-file-wins, SURVEY.md §2.1);
    2. drop rows where ``attr_col`` equals the previous value (no change);
    3. each surviving change opens an interval ``[ts, next_change_ts)``;
       the open interval (``valid_to`` null) is the current row.

    Scale: windows partition on the dimension key — high cardinality, no
    skew concentration; state per key is one carried row.  Result invariants
    (tested): per key, intervals are contiguous, non-overlapping, and exactly
    one row is current.
    """
    key = list(key)
    latest = dedupe_last(df, [*key, ts_col], list(tie_break) if tie_break else [ts_col])
    w = Window.partitionBy(*key).orderBy(ts_col)
    # null-safe change detection (code-review r4): "__prev IS NULL" conflated
    # "no previous row" with "previous value was NULL", so a change TO null
    # was dropped (losing the NULL period, leaving the old value current
    # forever) and consecutive nulls emitted spurious intervals.  Row 1
    # always opens; later rows open iff the value differs null-safely.
    changes = (
        latest.withColumn("__rn", F.row_number().over(w))
        .withColumn("__prev", F.lag(attr_col).over(w))
        .filter(
            (F.col("__rn") == 1)
            | ~F.col("__prev").eqNullSafe(F.col(attr_col))
        )
        .drop("__prev", "__rn")
    )
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def check_unique(df: DataFrame, key: Sequence[str]) -> int:
    """MERGE-contract uniqueness: the number of keys holding >1 row
    (0 == the upsert precondition holds).  NULL keys GROUP TOGETHER here
    — deliberately stricter than Postgres UNIQUE (which admits multiple
    NULLs), because the null-safe merge forms (upsert_anti_join's
    eqNullSafe, upsert_window's partitionBy) also treat NULL keys as one
    identity, so two NULL-key rows really would collide at merge time.
    For Postgres-parity UNIQUE validation (NULLs never conflict) use
    expectations.table_expectations' unique rule, which skips NULLs —
    the two checks answer different questions (code-review r4, operators
    pass: the disagreement is intentional, now documented on both)."""
    return (
        df.groupBy(*key).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1).count()
    )
