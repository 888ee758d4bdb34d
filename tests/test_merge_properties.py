"""Property-based checks (hypothesis) of the merge/upsert algebra.

The reference's ON CONFLICT upsert has three laws worth pinning beyond
example tests (reference scripts/lambda_handler_warehouse.py:95-101):

1. form equivalence — the anti-join and window merge strategies agree;
2. idempotence — merging the same batch twice changes nothing;
3. key uniqueness — any merge output satisfies the UNIQUE constraint.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.operators.merge import (
    check_unique,
    dedupe_last,
    scd2_from_changelog,
    upsert_anti_join,
    upsert_window,
)

# rows: (key, value).  Small key space forces collisions; value carries
# which side/row wins.
row = st.tuples(st.integers(0, 5), st.integers(0, 1000))
frame = st.lists(row, min_size=0, max_size=12)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, v) for k, v in rows] or [(None, None)], "k int, v int"
    ).filter("k is not null")


@pytest.mark.usefixtures("spark")
class TestMergeLaws:
    @given(old=frame, new=frame)
    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    def test_forms_agree_and_unique(self, spark, old, new):
        old_df = dedupe_last(_df(spark, old), ["k"], ["v"])
        new_df = dedupe_last(_df(spark, new), ["k"], ["v"])
        a = sorted(map(tuple, upsert_anti_join(old_df, new_df, ["k"]).collect()))
        w = sorted(map(tuple, upsert_window(old_df, new_df, ["k"]).collect()))
        assert a == w
        assert check_unique(upsert_anti_join(old_df, new_df, ["k"]), ["k"]) == 0

    @given(old=frame, new=frame)
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def test_idempotent(self, spark, old, new):
        old_df = dedupe_last(_df(spark, old), ["k"], ["v"])
        new_df = dedupe_last(_df(spark, new), ["k"], ["v"])
        once = upsert_anti_join(old_df, new_df, ["k"])
        twice = upsert_anti_join(once, new_df, ["k"])
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# --- anti-join key side: duplicates cannot change the output -----------------
#
# upsert_anti_join builds its key side WITHOUT a distinct; an anti join keeps
# an old row iff no right-side row matches, so the old distinct form must give
# the same rows for any input — duplicate and NULL keys in `new` included
# (the raw, un-deduplicated batch is exactly the input this law is about).

nkey = st.one_of(st.none(), st.integers(0, 3))
krow = st.tuples(nkey, nkey, st.integers(0, 1000))
kframe = st.lists(krow, min_size=0, max_size=12)


def _kdf(spark, rows):
    return spark.createDataFrame(
        rows or [(None, None, None)], "k1 int, k2 int, v int"
    ).filter(F.lit(bool(rows)))


def _anti_join_distinct(old, new, key):
    """upsert_anti_join as it was, with the key-side distinct."""
    nk = new.select(*[F.col(k).alias(f"__nk_{k}") for k in key]).distinct()
    cond = None
    for k in key:
        c = old[k].eqNullSafe(F.col(f"__nk_{k}"))
        cond = c if cond is None else cond & c
    return old.join(nk, on=cond, how="left_anti").unionByName(new).select(*old.columns)


@given(old=kframe, new=kframe)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_anti_join_key_side_needs_no_distinct(spark, old, new):
    old_df, new_df = _kdf(spark, old), _kdf(spark, new)
    rows = lambda df: sorted(map(repr, df.collect()))  # noqa: E731 — NULL-safe sort key
    key = ["k1", "k2"]
    assert rows(upsert_anti_join(old_df, new_df, key)) == rows(
        _anti_join_distinct(old_df, new_df, key)
    )


def test_anti_join_key_side_has_no_aggregate(spark):
    old = spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("v"))
    new = spark.range(0, 100, 3).select(F.col("id").alias("k"), F.lit(-1).alias("v"))
    df = upsert_anti_join(old, new, ["k"])
    df.collect()  # the final adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "left_anti" in plan.lower() or "LeftAnti" in plan, plan
    assert not [ln for ln in plan.splitlines() if "HashAggregate" in ln and "__nk_" in ln], plan


# --- SemDeDup block-pairing law ----------------------------------------------
#
# The skew cap rewrites the within-cluster self-join as a block-pair join;
# the law is LOSSLESSNESS: for any vector set and any cap, the capped pair
# set equals the uncapped one.  (An ordering subtlety here — off-diagonal
# pairs arrive in arbitrary id order — produced a real bug during
# development, which is exactly what randomized inputs pin down.)

vec = st.tuples(
    st.integers(0, 40),
    st.tuples(st.integers(-3, 3), st.integers(-3, 3)),
)


@pytest.mark.filterwarnings("ignore")
@given(vecs=st.lists(vec, min_size=2, max_size=16, unique_by=lambda t: t[0]),
       cap=st.integers(1, 6))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_semdedup_block_cap_lossless_on_random_inputs(spark, vecs, cap):
    from european_emissions_data_warehouse_spark.operators.similarity import semdedup_pairs

    rows = [(i, [float(x), float(y)]) for i, (x, y) in vecs
            if (x, y) != (0, 0)]  # zero vectors have no cosine direction
    if len(rows) < 2:
        return
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    key = lambda r: (r["centroid_id"], r["id_a"], r["id_b"], round(r["sim"], 9))  # noqa: E731
    uncapped = sorted(map(key, semdedup_pairs(
        emb, k=3, n_iters=1, threshold=0.5, max_pair_block=None).collect()))
    capped = sorted(map(key, semdedup_pairs(
        emb, k=3, n_iters=1, threshold=0.5, max_pair_block=cap).collect()))
    assert capped == uncapped


# --- time-weighted average law ------------------------------------------------
#
# The TWA query must agree with a direct per-user computation over the same
# fixed-point semantics (micro-weights, 6-decimal output) on random event
# logs, including duplicate timestamps (broken by event_id).

event = st.tuples(
    st.integers(0, 2),        # user_id — small space forces multi-event users
    st.integers(0, 50),       # ts offset seconds
    st.integers(-500, 500),   # value in hundredths
)


@given(events=st.lists(event, min_size=2, max_size=14))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_time_weighted_value_matches_reference(spark, events, tmp_path_factory):
    import tempfile

    from pyspark.sql import functions as F

    from european_emissions_data_warehouse_spark.plans.analytics import (
        q_time_weighted_value,
    )

    rows = [
        (i, 1_600_000_000 + ts, uid, "view", v / 100.0, "{}")
        for i, (uid, ts, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, epoch long, user_id long, event_type string, value double, props string"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("epoch")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {
            r["user_id"]: (r["n_segments"], r["twa_value"])
            for r in q_time_weighted_value(spark, td).collect()
        }

    # python reference with identical fixed-point semantics
    from collections import defaultdict

    per_user = defaultdict(list)
    for i, (uid, ts, v) in enumerate(events):
        per_user[uid].append((1_600_000_000 + ts, i, v / 100.0))
    want = {}
    for uid, evs in per_user.items():
        evs.sort()
        num = den = 0
        for (t0, _, v), (t1, _, _) in zip(evs, evs[1:]):
            dur_us = (t1 - t0) * 1_000_000
            num += round(v * 1_000_000) * dur_us
            den += dur_us
        if den > 0:
            n_seg = len(evs) - 1
            # _q6's lockstep FLOOR(x*1e6+0.5)/1e6, NOT Python round() —
            # round() is banker's rounding AND decimal-repr based, neither
            # of which the engine promises (code-review r4)
            x = num / den / 1_000_000
            want[uid] = (n_seg, math.floor(x * 1_000_000 + 0.5) / 1_000_000)
    assert got == want


def test_upsert_forms_agree_on_null_keys(spark):
    """A NULL-key row updated by a NULL-key row: the anti-join form used a
    null-unsafe equality, so the old row survived alongside the new one
    while the window form kept exactly one — the documented equivalence
    was broken (code-review r4)."""
    old = spark.createDataFrame(
        [(None, 1.0), ("a", 2.0)], "k string, v double"
    )
    new = spark.createDataFrame([(None, 9.0)], "k string, v double")
    aj = upsert_anti_join(old, new, ["k"])
    wn = upsert_window(old, new, ["k"])
    key = lambda df: sorted(((r["k"] or ""), r["v"]) for r in df.collect())
    assert key(aj) == key(wn) == [("", 9.0), ("a", 2.0)]
    assert check_unique(aj, ["k"]) == 0


def test_scd2_null_value_transitions(spark):
    """A change TO null must open an interval (previously silently dropped,
    leaving the old value current forever), and consecutive nulls must NOT
    emit spurious change rows (code-review r4)."""
    import datetime as dt

    log = spark.createDataFrame(
        [
            ("k", dt.datetime(2024, 1, 1), "A"),
            ("k", dt.datetime(2024, 1, 2), None),
            ("k", dt.datetime(2024, 1, 3), None),
            ("k", dt.datetime(2024, 1, 4), "B"),
        ],
        "k string, ts timestamp, attr string",
    )
    hist = scd2_from_changelog(log, ["k"], "ts", "attr").orderBy("valid_from").collect()
    attrs = [r["attr"] for r in hist]
    assert attrs == ["A", None, "B"], attrs  # null period kept, no dup
    assert [r["is_current"] for r in hist] == [False, False, True]
    # intervals contiguous
    for a, b in zip(hist, hist[1:]):
        assert a["valid_to"] == b["valid_from"]


def test_upsert_fixture_key_uniqueness_assumption_holds(spark, sf_dir):
    """q_upsert's engine/oracle equivalence silently assumes o_orderkey is
    unique in the orders drop (a duplicated key with mixed statuses makes
    upsert_anti_join drop ALL old rows under it while the oracle's per-row
    CASE keeps them).  Pin the assumption against the fixtures so a future
    testdata change fails HERE with an explanation instead of as an opaque
    hash mismatch in the correctness gate (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.merge import check_unique
    from european_emissions_data_warehouse_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    assert check_unique(orders, ["o_orderkey"]) == 0, (
        "orders.o_orderkey is no longer unique — q_upsert's oracle is only "
        "valid on key-unique input; dedupe the feed or rewrite the oracle"
    )
