"""Snapshot-versioned parquet tables: linear history, time travel, rollback.

The reference's durability story is a Postgres transaction per load
(scripts/lambda_handler_warehouse.py:73,106 — SURVEY.md O17); a data lake
has no transaction manager, so this module supplies the minimal equivalent
the way lakehouse formats do it: an **append-only commit log** beside the
data.

Layout:

    <table>/_commits/00000042        manifest: line 1 names the snapshot's
                                     data dir; lines 2+ are key=value
                                     metadata (a caller's ``meta``, e.g. the
                                     streaming batch_id/ckpt_gen stamps, and
                                     the reserved ``schema`` key: the JSON
                                     schema of the data dir as the parquet
                                     reader returns it)
    <table>/data_v00000042_ab12cd34/ immutable parquet snapshot (per-writer
                                     random suffix — racing writers never
                                     share a dir; the manifest is the only
                                     name readers follow)

``read`` hands the recorded schema to the parquet reader, so resolving a
version starts no Spark job (schema inference runs one per read); a
manifest without the key, as older writers published, still reads through
inference.

A commit writes its data dir, then publishes a manifest via
write-temp + rename-without-overwrite.  On HDFS-compatible filesystems that
rename is atomic and fails if the destination exists — which makes the
commit a compare-and-swap: two writers racing to the same version number
produce one winner and one clean ``ConcurrentCommitError`` (optimistic
concurrency, the same protocol as a Delta/Iceberg log commit).  Readers
resolve the max committed version; a reader never sees a half-written
snapshot because data dirs are immutable once their manifest exists.

Rollback re-publishes an old snapshot as a *new* version (history is never
rewritten); vacuum deletes data dirs no commit in the retained window
references.  At 100 TB the snapshot write is the ordinary output job —
the log adds one tiny file per commit, and time travel is free (old dirs
just remain until vacuumed).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# manifest metadata key holding the data dir's schema (commit() writes it,
# read() uses it); reserved — a caller's meta may not set it
_SCHEMA_KEY = "schema"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reload and retry."""


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable — the
    schema a parquet read of the written data reports (file sources read
    every column as nullable), so the recorded schema equals inference."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _fs(spark: SparkSession, path: str):
    # the PATH's filesystem, not the default one — a table on s3a:// with
    # an hdfs:// default otherwise throws "Wrong FS" (code-review r4)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm, jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf)


def read_small_text(spark: SparkSession, path: str) -> str | None:
    """Driver-side read of one small text file through the path's Hadoop
    filesystem; None if the file does not exist.  THE shared helper for
    manifest/marker/metadata reads — the open + IOUtils.toString +
    close-in-finally sequence previously existed as four hand-synced
    copies across snapshots/ingest/dedup (code-review r4, streaming
    pass)."""
    jvm, fs = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_small_text(spark: SparkSession, path: str, body: str) -> None:
    """Driver-side overwrite-write of one small text file through the
    path's Hadoop filesystem — read_small_text's write twin.  THE shared
    helper for manifest/marker/metadata writes: the create + bytearray +
    close-in-finally sequence had re-accumulated as four hand-synced
    copies across snapshots/ingest/dedup/maintenance, the same drift the
    read side consolidated in r4 (code-review r9, second pass).  Callers
    that need atomic visibility write to a temp name and rename — this
    helper only writes."""
    jvm, fs = _fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(bytearray(body, "utf-8"))
    finally:
        out.close()


class SnapshotTable:
    """A versioned parquet table at ``path`` (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.commits_dir = f"{self.path}/_commits"

    # --- log ------------------------------------------------------------

    def _jpath(self, p: str):
        jvm, _ = _fs(self.spark, p)
        return jvm.org.apache.hadoop.fs.Path(p)

    def history(self) -> list[int]:
        """Committed versions, ascending (empty for a fresh table)."""
        jvm, fs = _fs(self.spark, self.path)
        cd = self._jpath(self.commits_dir)
        if not fs.exists(cd):
            return []
        out = []
        for status in fs.listStatus(cd):
            name = status.getPath().getName()
            if name.isdigit():
                out.append(int(name))
        return sorted(out)

    def latest_version(self) -> int | None:
        h = self.history()
        return h[-1] if h else None

    def _manifest_entry(self, version: int) -> tuple[str, dict[str, str]]:
        """A commit's manifest as (data dir, key=value metadata)."""
        text = read_small_text(self.spark, f"{self.commits_dir}/{version:08d}")
        if text is None:
            raise ValueError(f"version {version} does not exist at {self.path}")
        data_dir, *lines = text.strip().splitlines()
        return data_dir, dict(ln.split("=", 1) for ln in lines if "=" in ln)

    def _manifest(self, version: int) -> str:
        """The snapshot data dir named by a commit (manifest line 1; later
        lines are key=value metadata, see commit_meta)."""
        return self._manifest_entry(version)[0]

    def commit_meta(self, version: int) -> dict[str, str]:
        """key=value metadata recorded with a commit (e.g. the streaming
        batch_id that produced it, and the reserved ``schema`` key); empty
        for metadata-less commits."""
        return self._manifest_entry(version)[1]

    def _publish(self, version: int, data_dir: str, meta: dict[str, str] | None = None) -> None:
        """Atomically publish a manifest via rename-without-overwrite (CAS
        on HDFS-compatible FS).  The tmp file carries a PER-WRITER random
        suffix: a shared deterministic tmp name let a racing writer
        fs.create(..., overwrite=True) over the first writer's staged body,
        so the CAS winner could publish a manifest naming the LOSER's data
        dir — which the loser then deletes on ConcurrentCommitError,
        leaving the committed version permanently unreadable (code-review
        r4; same uniqueness fix as commit()'s data dirs)."""
        import uuid

        jvm, fs = _fs(self.spark, self.path)
        fs.mkdirs(self._jpath(self.commits_dir))
        tmp = f"{self.commits_dir}/.tmp_{version:08d}_{uuid.uuid4().hex[:8]}"
        body = data_dir + "".join(f"\n{k}={v}" for k, v in (meta or {}).items())
        write_small_text(self.spark, tmp, body)
        final = self._jpath(f"{self.commits_dir}/{version:08d}")
        # rename-without-overwrite = atomic CAS on HDFS-compatible FS
        if not fs.rename(self._jpath(tmp), final):
            fs.delete(self._jpath(tmp), False)
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed concurrently"
            )

    # --- write ----------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        meta: dict[str, str] | None = None,
        expected_base: int | None = None,
    ) -> int:
        """Write ``df`` as the next snapshot; returns its version.  ``meta``
        key=value pairs are recorded in the commit manifest — streaming
        ingest stamps the micro-batch id there so a crash-replayed batch can
        be recognized and skipped (version-level idempotence, not just
        content-level).

        ``expected_base``: the version ``df`` was DERIVED from (-1 for an
        empty table), for read-modify-write callers.  The commit then
        publishes at exactly ``expected_base + 1`` so the rename-CAS itself
        detects any commit that landed between the caller's read and this
        publish and raises ConcurrentCommitError (retry by re-reading).
        Without it the version comes from a FRESH listing, so an
        interleaved commit was silently merged-over: reader pins v5, writer
        X commits v6, reader publishes its v5+delta as v7 — v6's changes
        (a GDPR delete_where, another stream's batch) resurrected/lost with
        no error (code-review r4, streaming pass).  Blind appends that
        don't read the current snapshot may keep the fresh-listing form.

        The data dir carries a per-writer random suffix: two writers racing
        to the same version previously both wrote ``data_v<N>`` with
        mode('overwrite'), so the LOSER's in-flight write clobbered the
        winner's already-published snapshot bytes (code-review r4 — the
        exact torn state the CAS log exists to prevent).  With unique dirs
        the loser's bytes are garbage the loser itself deletes on
        ConcurrentCommitError; the manifest is the only name readers follow.

        The manifest also records ``df``'s schema under the reserved
        ``schema`` key (see the module docstring); a ``meta`` that sets that
        key raises ValueError."""
        import uuid

        if meta is not None and _SCHEMA_KEY in meta:
            raise ValueError(
                f"SnapshotTable.commit: meta key {_SCHEMA_KEY!r} is reserved "
                "for the snapshot schema the commit records"
            )
        schema_json = _as_nullable(df.schema).json()
        if expected_base is not None:
            version = expected_base + 1
        else:
            # one listing, not two: latest_version() re-lists the commits
            # dir history() just walked (code-review r4 — at 10k commits
            # every redundant listStatus is 10k driver RPC entries per
            # trigger)
            h = self.history()
            version = (h[-1] if h else -1) + 1
        data_dir = f"data_v{version:08d}_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(f"{self.path}/{data_dir}")
        try:
            self._publish(version, data_dir, {**(meta or {}), _SCHEMA_KEY: schema_json})
        except ConcurrentCommitError:
            _, fs = _fs(self.spark, self.path)
            fs.delete(self._jpath(f"{self.path}/{data_dir}"), True)
            raise
        return version

    def applied_batch_ids(self, gen: str | None = None) -> set[int]:
        """batch_id values recorded by streaming commits, across the whole
        history (one tiny driver-side manifest read per version).

        ``gen``: a checkpoint-generation id (the streaming query id Spark
        pins in the checkpoint's metadata file).  Micro-batch ids are only
        meaningful WITHIN one checkpoint — a fresh checkpoint restarts at
        batch 0 with a possibly different file chop, so skipping its
        batches against another generation's ledger silently drops data
        (code-review r4).  When given, only commits stamped with the same
        ``ckpt_gen`` count as applied; commits WITHOUT a stamp never match
        a concrete generation — treating them as wildcards made a fresh
        checkpoint over an unstamped table silently skip its first batches
        (data loss); not matching merely re-merges, which the ledgered
        streams are content-idempotent against (the CMS stream, which is
        not, refuses unstamped tables at the guard instead)."""
        out = set()
        for v in self.history():
            meta = self.commit_meta(v)
            b = meta.get("batch_id")
            if b is None:
                continue
            if gen is not None and meta.get("ckpt_gen") != gen:
                continue
            out.add(int(b))
        return out

    def commit_generations(self) -> set[str]:
        """Distinct ``ckpt_gen`` stamps across streaming commits (absent
        stamps excluded) — lets additive-state streams refuse to merge a
        NEW checkpoint generation into state built by an old one."""
        return {
            g
            for v in self.history()
            if (g := self.commit_meta(v).get("ckpt_gen")) is not None
        }

    def last_applied_batch(
        self, gen: str | None = None, history: list[int] | None = None
    ) -> int | None:
        """The NEWEST batch_id committed for ``gen`` (None if none) — the
        O(recent-commits) replay probe for streaming ingest.  Micro-batch
        ids are monotonic within a checkpoint generation, so ``batch_id <=
        last_applied_batch(gen)`` is equivalent to membership in
        ``applied_batch_ids(gen)`` while reading manifests newest-first and
        stopping at the first match, instead of O(full history) per batch
        — at 10k micro-batches the full scan made every trigger do 10k
        driver round-trips before any data work (code-review r4).  Same
        stamp rule as applied_batch_ids: unstamped commits never match a
        concrete generation.  ``history``: pass a pre-listed history to
        avoid re-listing the commits dir (per-trigger callers list once
        and thread it through; code-review r4)."""
        for v in reversed(self.history() if history is None else history):
            meta = self.commit_meta(v)
            b = meta.get("batch_id")
            if b is None:
                continue
            if gen is not None and meta.get("ckpt_gen") != gen:
                continue
            return int(b)
        return None

    def newest_generation(self, history: list[int] | None = None) -> str | None:
        """The ``ckpt_gen`` stamp of the newest stamped commit (None when
        no commit carries one).  For tables whose stream REFUSES foreign
        generations (the CMS sketch), the newest stamp is the only one that
        can exist, so this replaces a full-history commit_generations scan
        in the per-batch guard.  ``history``: optional pre-listed history,
        as in last_applied_batch."""
        for v in reversed(self.history() if history is None else history):
            g = self.commit_meta(v).get("ckpt_gen")
            if g is not None:
                return g
        return None

    def delete_where(self, condition) -> int:
        """Copy-on-write delete: commit the current snapshot minus rows
        matching ``condition`` (a Column); returns the new version.

        Logical deletion is immediate — readers of the new version never
        see the rows.  PHYSICAL erasure (the GDPR/right-to-be-forgotten
        guarantee) completes when ``vacuum`` drops the superseded data
        dirs, exactly like Delta/Iceberg's delete+vacuum contract; until
        then time travel can still reach the old bytes, which is the
        auditable retention window.  Rows where the predicate evaluates
        NULL are kept (three-valued logic must not silently erase)."""
        from pyspark.sql import functions as F

        keep = ~F.coalesce(condition, F.lit(False))
        return self.commit(self.read().filter(keep))

    def rollback(self, version: int) -> int:
        """Re-publish an old snapshot as the new latest (history preserved);
        returns the new version number.

        Raises if the target's data dir has been vacuumed: its manifest
        still lists in history(), but re-publishing the deleted dir would
        make the dangling path the table's LATEST and break every
        subsequent read (code-review r4).  The target's recorded schema, if
        any, is carried into the new manifest."""
        data_dir, meta = self._manifest_entry(version)
        _, fs = _fs(self.spark, self.path)
        if not fs.exists(self._jpath(f"{self.path}/{data_dir}")):
            raise ValueError(
                f"cannot rollback {self.path} to version {version}: its data "
                f"dir {data_dir!r} was vacuumed — only versions within the "
                "vacuum retention window are restorable"
            )
        new_version = (self.latest_version() or 0) + 1
        schema = meta.get(_SCHEMA_KEY)
        self._publish(new_version, data_dir, None if schema is None else {_SCHEMA_KEY: schema})
        return new_version

    # --- read -----------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table as of ``version`` (default: latest).  Starts no Spark
        job when the manifest records the schema; infers it otherwise."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError(f"no commits yet at {self.path}")
        data_dir, meta = self._manifest_entry(version)
        reader = self.spark.read
        if _SCHEMA_KEY in meta:
            reader = reader.schema(StructType.fromJson(json.loads(meta[_SCHEMA_KEY])))
        return reader.parquet(f"{self.path}/{data_dir}")

    def diff(
        self,
        v_from: int,
        v_to: int,
        key: Sequence[str],
        check_unique: bool = True,
    ) -> DataFrame:
        """Change-data-feed between two committed versions: one row per
        change with ``_change_type`` in {insert, delete, update_preimage,
        update_postimage} — the Delta-CDF row contract, recomputed from the
        two snapshots (no per-commit change files to maintain).

        Shape: one full-outer join keyed on ``key``; payload comparison is
        a null-safe struct equality over the non-key columns, evaluated
        inside the join projection (codegen, no Python).  Both snapshot
        scans prune to key+payload columns; the join shuffles each side
        once on the key — the same cost envelope as the upsert that
        produced the new version.  Updates emit preimage AND postimage
        rows so downstream incremental consumers can subtract/add without
        re-reading either snapshot.

        The CDF row contract REQUIRES ``key`` unique within each snapshot
        — duplicate keys would fan the full-outer join out m×n and emit
        change rows with wrong multiplicities, silently corrupting the
        apply_cdf algebra downstream (ADVICE r3).  Each side therefore
        carries a per-key count window that raises at execution on the
        first duplicate (the check is folded into the payload column the
        join consumes, so the optimizer cannot prune it; the window
        partitions on the same key the join shuffles on, so it rides the
        join's own exchange — no extra shuffle).  Callers with known-
        unique keys by construction can pass ``check_unique=False``."""
        from pyspark.sql import Window

        key = list(key)
        old = self.read(v_from)
        new = self.read(v_to)
        payload = [c for c in old.columns if c not in key]
        if old.columns != new.columns:
            raise ValueError(
                f"schema changed between v{v_from} and v{v_to}: "
                f"{old.columns} vs {new.columns}; diff requires one schema"
            )
        # key-only tables have no payload to compare: rows can only appear
        # or disappear, so a constant stands in (updates become impossible)
        def payload_struct():
            return F.struct(*payload) if payload else F.lit(0)

        def side_frame(df: DataFrame, alias: str, version: int) -> DataFrame:
            out = df.select(F.struct(*key).alias("_k"), payload_struct().alias(alias))
            if not check_unique:
                return out
            n_per_key = F.count(F.lit(1)).over(Window.partitionBy("_k"))
            guarded = F.when(n_per_key == 1, F.col(alias)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"SnapshotTable.diff: duplicate key {key} in "
                            f"v{version} of {self.path}: "
                        ),
                        F.col("_k").cast("string"),
                    )
                ).cast(out.schema[alias].dataType.simpleString())
            )
            return out.select("_k", guarded.alias(alias))

        o = side_frame(old, "_old_p", v_from)
        n = side_frame(new, "_new_p", v_to)
        joined = o.join(n, "_k", "full_outer").select(
            "_k",
            "_old_p",
            "_new_p",
            F.when(F.col("_old_p").isNull(), F.lit("insert"))
            .when(F.col("_new_p").isNull(), F.lit("delete"))
            .when(F.col("_old_p").eqNullSafe(F.col("_new_p")), F.lit(None))
            .otherwise(F.lit("update"))
            .alias("_kind"),
        ).filter(F.col("_kind").isNotNull())
        # the preimage and postimage branches BOTH consume `joined`; without
        # a checkpoint each branch re-ran the full-outer join and both
        # snapshot scans, doubling the promised one-join cost envelope
        # (code-review r4, second pass).  The checkpoint holds only the
        # CHANGE rows — unchanged keys are already filtered out.
        joined = joined.localCheckpoint(eager=False)
        unchanged_key_cols = [F.col(f"_k.{k}").alias(k) for k in key]

        def side(frame_col: str, kinds: dict[str, str]) -> DataFrame:
            mapped = F.create_map(
                *[x for k, v in kinds.items() for x in (F.lit(k), F.lit(v))]
            )
            return (
                joined.filter(F.col("_kind").isin(*kinds))
                .select(
                    *unchanged_key_cols,
                    *[
                        F.col(f"{frame_col}.{c}").alias(c)
                        for c in payload
                    ],
                    mapped[F.col("_kind")].alias("_change_type"),
                )
            )

        return (
            side("_old_p", {"delete": "delete", "update": "update_preimage"})
            .unionByName(
                side("_new_p", {"insert": "insert", "update": "update_postimage"})
            )
        )

    # --- maintenance ----------------------------------------------------

    def optimize(
        self,
        target_file_mb: int = 128,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """Delta-style OPTIMIZE: commit a compacted rewrite of the CURRENT
        snapshot as a new version — readers keep pinning versions, nothing
        is rewritten in place, and the superseded small-file snapshot is
        reclaimed by the normal ``vacuum``.

        Streaming ingest is the canonical caller: one commit per
        micro-batch accretes many small snapshots whose final one still
        carries per-batch file sizing; a periodic optimize folds the
        current state into ~``target_file_mb`` files (sized from the
        snapshot's actual on-disk bytes, AQE-coalesced by repartition).
        With ``zorder_by``, rows are range-partitioned on the interleaved
        z-value of the named columns first (operators/maintenance.z_value),
        so min/max footer stats turn multi-column predicates into file
        skips — same layout contract as cluster_zorder, but transactional.
        Returns the new version number."""
        from european_emissions_data_warehouse_spark.operators.maintenance import (
            z_value,
        )

        current = self.latest_version()
        if current is None:
            raise ValueError(f"no commits yet at {self.path}")
        data_dir = f"{self.path}/{self._manifest(current)}"
        jvm, fs = _fs(self.spark, data_dir)
        summary = fs.getContentSummary(self._jpath(data_dir))
        n_files = max(
            1, int(summary.getLength() / (target_file_mb * 1024 * 1024)) + 1
        )
        df = self.read(current)
        if zorder_by is not None:
            cols = list(zorder_by)
            if len(cols) != 2:
                raise ValueError("zorder_by takes exactly two columns")
            df = (
                df.withColumn("_z", z_value(F.col(cols[0]), F.col(cols[1])))
                .repartitionByRange(n_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.repartition(n_files)
        return self.commit(df)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data dirs referenced only by commits older than the last
        ``keep_last``; returns the deleted dir names.  Time travel reaches
        only retained versions afterwards.

        Also collects ORPHANED data dirs — written by a writer that crashed
        before publishing (or before its ConcurrentCommitError cleanup ran)
        and therefore named by NO manifest.  Scanning only manifests left
        each such crash stranding a table-sized directory forever
        (code-review r4, second pass); the physical listing catches them.
        An orphan is collectable only once its CAS slot is burned: a dir at
        version N <= the latest committed version can never be published
        (``_publish`` would raise ConcurrentCommitError), while an orphan
        at version > latest may be an IN-FLIGHT writer's dir and is left
        alone — no mtime heuristics, the log itself decides."""
        history = self.history()
        keep_versions = history[-keep_last:] if keep_last > 0 else []
        keep_dirs = {self._manifest(v) for v in keep_versions}
        referenced = {self._manifest(v) for v in history}
        latest = history[-1] if history else -1
        jvm, fs = _fs(self.spark, self.path)
        root = self._jpath(self.path)
        candidates = set()
        if fs.exists(root):
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if name.startswith("data_v"):
                    candidates.add(name)
        removed = []
        for d in sorted((candidates | referenced) - keep_dirs):
            if d not in referenced:
                ver = d[len("data_v"):].split("_", 1)[0]
                if not ver.isdigit() or int(ver) > latest:
                    continue  # in-flight writer (or foreign dir): keep
            # report only dirs that existed and were deleted NOW: referenced
            # dirs of already-vacuumed versions are not on disk, and blindly
            # appending them re-reported the same phantom deletions on every
            # vacuum run (code-review r4)
            if fs.delete(self._jpath(f"{self.path}/{d}"), True):
                removed.append(d)
        # stale manifest-staging files: a writer that crashed between
        # fs.create and the CAS rename leaks its .tmp_ forever; any tmp for
        # a version <= latest lost (or already won) its race, and in-flight
        # tmps at version > latest are left alone (same rule as data dirs)
        cd = self._jpath(self.commits_dir)
        if fs.exists(cd):
            for st in fs.listStatus(cd):
                name = st.getPath().getName()
                if name.startswith(".tmp_"):
                    ver = name[len(".tmp_"):].split("_", 1)[0]
                    if ver.isdigit() and int(ver) <= latest:
                        fs.delete(st.getPath(), False)
        return removed
