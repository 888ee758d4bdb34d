"""SnapshotTable contracts (operators/snapshots.py): linear history, time
travel, rollback-as-new-commit, CAS conflict detection, vacuum retention."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.operators.snapshots import (
    ConcurrentCommitError,
    SnapshotTable,
    write_small_text,
)
from european_emissions_data_warehouse_spark.sources.readers import load_table


@pytest.fixture()
def nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_commit_read_time_travel(spark, nation, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v0 = t.commit(nation.filter(F.col("n_nationkey") < 10))
    v1 = t.commit(nation)
    assert (v0, v1) == (0, 1)
    assert t.read().count() == nation.count()
    assert t.read(0).count() == nation.filter(F.col("n_nationkey") < 10).count()
    assert t.history() == [0, 1]


def test_rollback_preserves_history(spark, nation, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.filter(F.col("n_nationkey") < 5))
    t.commit(nation)
    v2 = t.rollback(0)
    assert v2 == 2
    assert t.history() == [0, 1, 2]
    # latest now shows v0's rows; v1 still reachable
    assert t.read().count() == t.read(0).count()
    assert t.read(1).count() == nation.count()


def test_concurrent_commit_detected(spark, nation, tmp_path):
    t1 = SnapshotTable(spark, str(tmp_path / "tbl"))
    t2 = SnapshotTable(spark, str(tmp_path / "tbl"))
    t1.commit(nation)
    # both writers target version 1; the slower publisher must fail cleanly
    t1.commit(nation.limit(5))
    with pytest.raises(ConcurrentCommitError):
        t2._publish(1, "data_v_imposter")


def test_vacuum_drops_only_unreferenced(spark, nation, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(3))
    t.commit(nation.limit(7))
    t.commit(nation)
    removed = t.vacuum(keep_last=2)
    assert len(removed) == 1 and removed[0].startswith("data_v00000000")
    assert t.read(1).count() == 7
    assert t.read().count() == nation.count()
    with pytest.raises(Exception):
        t.read(0).count()


def test_vacuum_collects_crashed_writer_orphans(spark, nation, tmp_path):
    """A writer that crashes between its data-dir write and _publish names
    its dir in NO manifest; a manifest-only vacuum stranded that
    table-sized directory forever (code-review r4, second pass).  Vacuum
    must collect orphans whose CAS slot is burned (version <= latest) and
    must NOT touch a dir at latest+1 — that may be an in-flight writer."""
    import os

    root = str(tmp_path / "tbl")
    t = SnapshotTable(spark, root)
    t.commit(nation.limit(3))
    t.commit(nation)
    # crashed loser at version 1 (slot burned) and in-flight writer at 2
    orphan = os.path.join(root, "data_v00000001_deadbeef")
    inflight = os.path.join(root, "data_v00000002_cafebabe")
    for d in (orphan, inflight):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("garbage")
    removed = t.vacuum(keep_last=2)
    assert "data_v00000001_deadbeef" in removed, removed
    assert not os.path.exists(orphan)
    assert os.path.exists(inflight), "in-flight writer dir must survive"
    # both committed snapshots retained and readable
    assert t.read(0).count() == 3 and t.read(1).count() == nation.count()


def test_vacuum_is_idempotent_in_its_report(spark, nation, tmp_path):
    """A second vacuum must not re-report dirs it already deleted: the
    referenced-but-gone dirs of vacuumed versions were unioned back into
    the candidate set and appended as phantom 'deletions' on every run
    (code-review r4)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(3))
    t.commit(nation.limit(7))
    t.commit(nation)
    first = t.vacuum(keep_last=2)
    assert len(first) == 1
    again = t.vacuum(keep_last=2)
    assert again == [], f"phantom re-deletions reported: {again}"


def test_rollback_to_vacuumed_version_raises(spark, nation, tmp_path):
    """Rolling back to a version whose data dir was vacuumed must raise:
    re-publishing the dangling dir as the new LATEST breaks every
    subsequent read of the table (code-review r4)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(3))
    t.commit(nation.limit(7))
    t.commit(nation)
    t.vacuum(keep_last=2)  # v0's data dir is gone; its manifest remains
    with pytest.raises(ValueError, match="vacuumed"):
        t.rollback(0)
    # the table's latest is untouched and readable
    assert t.read().count() == nation.count()


def test_vacuum_sweeps_stale_manifest_tmp_files(spark, nation, tmp_path):
    """A writer crashing between staging its manifest and the CAS rename
    leaks a .tmp_ file in _commits forever; vacuum must sweep tmps whose
    version slot is burned and keep in-flight ones (code-review r4)."""
    import os

    root = str(tmp_path / "tbl")
    t = SnapshotTable(spark, root)
    t.commit(nation.limit(3))
    t.commit(nation)
    stale = os.path.join(root, "_commits", ".tmp_00000001_deadbeef")
    inflight = os.path.join(root, "_commits", ".tmp_00000002_cafebabe")
    for p in (stale, inflight):
        with open(p, "w") as fh:
            fh.write("data_v_whatever")
    t.vacuum(keep_last=2)
    assert not os.path.exists(stale), "burned-slot tmp must be swept"
    assert os.path.exists(inflight), "in-flight tmp must survive"


def test_rollback_target_survives_vacuum(spark, nation, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(2))
    t.commit(nation)
    t.rollback(0)  # v2 references v0's data dir
    removed = t.vacuum(keep_last=1)
    # v0's dir is referenced by retained v2 — only v1's dir may go
    assert len(removed) == 1 and removed[0].startswith("data_v00000001")
    assert t.read().count() == 2


def test_delete_where_is_copy_on_write_and_vacuumable(spark, nation, tmp_path):
    """GDPR-style erasure: logical delete now, physical erasure at vacuum."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation)
    v = t.delete_where(F.col("n_nationkey") < 5)
    assert t.read(v).filter(F.col("n_nationkey") < 5).count() == 0
    assert t.read(v).count() == nation.count() - 5
    # the audit window: time travel still reaches the pre-delete snapshot
    assert t.read(0).count() == nation.count()
    # physical erasure: vacuum drops the superseded bytes
    removed = t.vacuum(keep_last=1)
    assert len(removed) == 1 and removed[0].startswith("data_v00000000")
    with pytest.raises(Exception):
        t.read(0).count()


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a"), (2, None), (3, "b")], "id long, s string")
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(df)
    # predicate is NULL for the NULL row — it must survive
    v = t.delete_where(F.col("s") == "a")
    assert sorted(r["id"] for r in t.read(v).collect()) == [2, 3]


def test_diff_change_data_feed(spark, tmp_path):
    """diff(v0, v1) recovers exactly the applied changes with Delta-CDF row
    types: unchanged rows are silent, updates emit pre+post images."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)], "id long, name string, v long"
    )
    t.commit(v0)
    t.commit(v1)
    rows = {(r["id"], r["_change_type"]): (r["name"], r["v"])
            for r in t.diff(0, 1, key=["id"]).collect()}
    assert rows == {
        (2, "update_preimage"): ("b", 20),
        (2, "update_postimage"): ("b", 99),
        (3, "delete"): ("c", 30),
        (4, "insert"): ("d", 40),
    }
    # CDF algebra: old rows - preimages - deletes + postimages + inserts = new
    assert len({k for k in rows if k[1] in ("delete", "update_preimage")}) == 2


def test_diff_null_payloads_and_schema_guard(spark, tmp_path):
    """Null-safe payload comparison: NULL->NULL is unchanged, NULL->value is
    an update; a schema change between versions fails loudly."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, None), (2, None)], "id long, v string"))
    t.commit(spark.createDataFrame([(1, None), (2, "x")], "id long, v string"))
    got = {(r["id"], r["_change_type"]) for r in t.diff(0, 1, key=["id"]).collect()}
    assert got == {(2, "update_preimage"), (2, "update_postimage")}
    t.commit(spark.createDataFrame([(1, 5)], "id long, other long"))
    with pytest.raises(ValueError, match="schema changed"):
        t.diff(1, 2, key=["id"])


def test_diff_key_only_table(spark, tmp_path):
    """Key-only tables diff as pure insert/delete (no payload to update)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1,), (2,)], "id long"))
    t.commit(spark.createDataFrame([(2,), (3,)], "id long"))
    got = {(r["id"], r["_change_type"]) for r in t.diff(0, 1, key=["id"]).collect()}
    assert got == {(1, "delete"), (3, "insert")}


def test_diff_rejects_duplicate_keys(spark, tmp_path):
    """Duplicate keys in either snapshot would fan the full-outer join out
    m x n and corrupt the CDF multiplicities — the embedded per-key count
    guard must raise at execution instead (ADVICE r3); check_unique=False
    restores the old unchecked behavior for callers with keys unique by
    construction."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a"), (1, "b")], "id long, v string"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "c")], "id long, v string"))
    with pytest.raises(SparkRuntimeException, match="duplicate key"):
        t.diff(0, 1, key=["id"]).collect()
    # the clean side alone is fine: dup in v0 only, still caught
    t.commit(spark.createDataFrame([(3, "d")], "id long, v string"))
    with pytest.raises(SparkRuntimeException, match="duplicate key"):
        t.diff(0, 2, key=["id"]).collect()
    # unique snapshots pass the guard unchanged
    got = {(r["id"], r["_change_type"]) for r in t.diff(1, 2, key=["id"]).collect()}
    assert got == {(1, "delete"), (2, "delete"), (3, "insert")}
    # escape hatch: unchecked diff still executes on duplicate keys
    assert t.diff(0, 1, key=["id"], check_unique=False).count() >= 1


def test_optimize_compacts_into_new_version(spark, tmp_path):
    """OPTIMIZE commits a compacted rewrite as a NEW version: same rows,
    fewer files, history intact, old snapshot vacuumable; the z-ordered
    variant clusters both dimensions so footer stats can skip files."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.range(0, 2000).selectExpr(
        "id", "id % 50 AS x", "CAST(id / 40 AS LONG) AS y"
    )
    # many-small-files snapshot (the post-streaming-ingest shape)
    t.commit(df.repartition(16))

    def n_files(version):
        d = str(tmp_path / "tbl" / t._manifest(version))
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    assert n_files(0) == 16
    v1 = t.optimize(target_file_mb=128)
    assert v1 == 1
    assert n_files(1) < 16
    assert t.read(1).count() == 2000
    assert {r["id"] for r in t.read(1).collect()} == set(range(2000))

    v2 = t.optimize(target_file_mb=128, zorder_by=["x", "y"])
    assert t.read(v2).count() == 2000
    assert t.history() == [0, 1, 2]
    # the small-file version is reclaimable without touching the optimized one
    removed = t.vacuum(keep_last=1)
    assert t._manifest(0) in removed and t.read(v2).count() == 2000


def test_losing_concurrent_writer_cannot_clobber_winner(spark, nation, tmp_path):
    """Two writers race to the same version: the loser must get a clean
    ConcurrentCommitError AND leave the winner's published bytes intact —
    previously both wrote the same version-named dir with overwrite, so
    the loser clobbered the committed snapshot (code-review r4).  The
    loser's orphan data dir is deleted on the way out."""
    path = str(tmp_path / "tbl")
    t1, t2 = SnapshotTable(spark, path), SnapshotTable(spark, path)
    winner = nation.limit(3)
    loser = nation.limit(9)
    # both instances see an empty table; t1 commits version 0 first
    assert t1.commit(winner) == 0
    # t2 still computes version 0 (cached nothing, but force the race by
    # publishing at the taken version): commit() recomputes latest, so
    # simulate the race window via the internal protocol
    import pytest as _pytest

    data_dir = "data_v00000000_racer"
    loser.write.mode("overwrite").parquet(f"{path}/{data_dir}")
    with _pytest.raises(ConcurrentCommitError):
        t2._publish(0, data_dir)
    assert t1.read(0).count() == 3, "winner's snapshot must be untouched"
    # and a real commit() retry lands cleanly as version 1
    assert t2.commit(loser) == 1
    assert t2.read(1).count() == 9


def test_commit_data_dirs_are_writer_unique(spark, nation, tmp_path):
    """Each commit's data dir carries a unique suffix so racing writers can
    never share a directory."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(2))
    t.commit(nation.limit(4))
    dirs = {t._manifest(v) for v in t.history()}
    assert len(dirs) == 2
    assert all("_" in d.replace("data_v", "") for d in dirs)


def test_last_applied_batch_matches_full_ledger(spark, nation, tmp_path):
    """The O(1) newest-first probe must agree with the full-history set for
    the monotonic-batch-id streams that use it."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(1), meta={"batch_id": "0", "ckpt_gen": "g1"})
    t.commit(nation.limit(2), meta={"batch_id": "1", "ckpt_gen": "g1"})
    t.commit(nation.limit(3), meta={"batch_id": "0", "ckpt_gen": "g2"})
    assert t.last_applied_batch("g1") == 1
    assert t.last_applied_batch("g2") == 0
    assert t.last_applied_batch("g3") is None
    assert t.newest_generation() == "g2"
    assert t.applied_batch_ids("g1") == {0, 1}


def test_commit_expected_base_detects_interleaved_commit(spark, nation, tmp_path):
    """Read-modify-write with expected_base: a commit landing between the
    reader's history() and its publish must fail the CAS with
    ConcurrentCommitError instead of being silently merged-over — the
    fresh-listing form happily published v5+delta as v7, resurrecting
    rows v6 had deleted (code-review r4, streaming pass)."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation.limit(5))                      # v0
    base = t.latest_version()                      # reader pins v0
    pinned = t.read(base)
    t.commit(nation.limit(7))                      # interleaved writer: v1
    with pytest.raises(ConcurrentCommitError):
        t.commit(pinned.unionByName(nation.limit(1)), expected_base=base)
    # retry from a fresh read succeeds at the next slot
    fresh = t.latest_version()
    v = t.commit(t.read(fresh).limit(3), expected_base=fresh)
    assert v == fresh + 1
    assert t.history() == [0, 1, 2]


def _schema_data(spark):
    # non-nullable top-level, array-element, struct-field and map-value
    # types: the recorded schema must carry them the way a parquet read
    # reports them (everything nullable)
    return spark.range(4).select(
        F.col("id"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.struct(F.col("id").alias("inner"), F.lit("x").alias("tag")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )


def _recorded_schema(t, version):
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(t.commit_meta(version)["schema"]))


def test_commit_records_schema_equal_to_inference(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(_schema_data(spark))
    inferred = spark.read.parquet(str(tmp_path / "tbl" / t._manifest(0))).schema
    assert _recorded_schema(t, 0) == inferred
    assert t.read(0).schema == inferred


def _jobs_started_by(spark, fn) -> list[int]:
    sc = spark.sparkContext
    group = f"snapshot-read-{id(fn)}"
    sc.setJobGroup(group, "snapshot read probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_of_stamped_version_starts_no_job(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(_schema_data(spark))
    assert _jobs_started_by(spark, lambda: t.read(0)) == []
    # control: the same data dir read through inference does start a job,
    # so the zero above is the schema's doing, not a blind probe
    d = str(tmp_path / "tbl" / t._manifest(0))
    assert _jobs_started_by(spark, lambda: spark.read.parquet(d)) != []


def test_manifest_without_schema_reads_through_inference(spark, nation, tmp_path):
    """A manifest written before schemas were recorded holds only the data
    dir line (plus any caller meta); it must still read."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation)
    write_small_text(spark, str(tmp_path / "tbl" / "_commits" / "00000000"), t._manifest(0))
    assert "schema" not in t.commit_meta(0)
    got = t.read()
    assert got.schema == nation.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, nation.collect()))


def test_rollback_carries_schema(spark, nation, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(nation)
    t.commit(_schema_data(spark))
    v2 = t.rollback(0)
    assert t.commit_meta(v2)["schema"] == t.commit_meta(0)["schema"]
    assert _jobs_started_by(spark, lambda: t.read(v2)) == []
    assert t.read().columns == nation.columns


def test_meta_cannot_use_reserved_schema_key(spark, nation, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="reserved"):
        t.commit(nation, meta={"batch_id": "0", "schema": "{}"})
    assert t.history() == []
    assert not (tmp_path / "tbl").exists()
