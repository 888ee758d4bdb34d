"""Incremental ingest — the reference's event-driven path, Spark-native.

Reference mechanism (SURVEY.md §3.1): S3 ObjectCreated -> Lambda ->
Glue job -> CSV sink -> second Lambda -> Postgres COPY + ON CONFLICT upsert
(reference aws_service_classes.py:805-815, lambda_handler_etl.py:5-12,
lambda_handler_warehouse.py:79-106).  Five process boundaries to get one
file into the warehouse.

Spark-native equivalent: a Structured Streaming file source watching the
landing directory.  `trigger(availableNow=True)` reproduces exactly the
drop-a-file-and-it-ingests semantics — each new file becomes a micro-batch,
processed then committed to the checkpoint, and the query drains and stops
(so it composes with batch orchestration).  The warehouse upsert runs in
`foreachBatch` via the same merge operator the batch path uses (O16 parity:
last write wins on the logical key).

Exactly-once story: the file-source checkpoint deduplicates *inputs* across
restarts; the merge makes re-processing *idempotent* on the key — together
they match the reference's at-least-once delivery + idempotent upsert
(SURVEY.md §2.2 streaming row).

At scale: maxFilesPerTrigger bounds micro-batch size.  Per trigger,
run_snapshot_ingest resolves the current snapshot through the schema its
manifest records (no schema-inference job), and the merge's anti join
takes the (small) incoming batch's keys as they are — no distinct, since
duplicate keys cannot change an anti join — so steady-state cost is the
batch materialization plus one warehouse scan and snapshot rewrite per
trigger.  Switch the sink to a transactional format (Delta/Iceberg MERGE)
to avoid even that rewrite."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from european_emissions_data_warehouse_spark.operators.merge import (
    dedupe_last,
    upsert_anti_join,
)


def _checkpoint_generation(spark: SparkSession, checkpoint_path: str) -> str | None:
    """The streaming query id Spark pins in ``{checkpoint}/metadata`` —
    stable across restarts FROM THE SAME checkpoint, different for a fresh
    one.  Micro-batch ids are only unique within a generation: a new
    checkpoint restarts numbering at 0 over a possibly different file
    chop, so a batch-id replay ledger must be generation-scoped
    (code-review r4).  Returns None if the metadata file does not exist
    yet (foreachBatch always runs after Spark writes it, so None only
    happens outside a live query)."""
    import json

    from european_emissions_data_warehouse_spark.operators.snapshots import read_small_text

    text = read_small_text(spark, f"{checkpoint_path}/metadata")
    return None if text is None else json.loads(text).get("id")


def stream_from_directory(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    source_archive_dir: str | None = None,
    max_file_age: str | None = None,
) -> DataFrame:
    """File-source stream over a landing directory (the raw-bucket stand-in).

    Production knobs (code-review r4, streaming scale pass): without
    ``clean_source`` ('archive'/'delete') the landing directory and the
    source's seen-files map grow forever, and every trigger's driver-side
    listing is O(all files ever landed) — minutes per trigger within weeks
    at 100 TB/day.  ``max_file_age`` bounds the seen-files map instead
    when files are cleaned externally."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if clean_source is not None:
        reader = reader.option("cleanSource", clean_source)
    if source_archive_dir is not None:
        reader = reader.option("sourceArchiveDir", source_archive_dir)
    if max_file_age is not None:
        reader = reader.option("maxFileAge", max_file_age)
    return reader.format(fmt).load(src_dir)


def run_incremental_upsert(
    stream: DataFrame,
    warehouse_path: str,
    checkpoint_path: str,
    key: Sequence[str],
    order_by: Sequence[str],
    output_mode: str = "append",
) -> None:
    """Drain all currently-available files into the warehouse with
    last-write-wins merge semantics, then stop (availableNow).

    Each micro-batch: collapse intra-batch key collisions (later-file-wins,
    mirroring the reference's sequential per-file imports), then merge into
    the existing warehouse parquet.  The read-modify-overwrite footgun
    (SURVEY.md §7.4: mode('overwrite') deletes the input it is still lazily
    reading) is avoided by writing the merged result to a staging directory
    and swapping it in — never a driver-side collect, so the pattern holds
    at any warehouse size.

    The swap parks the previous table in a trash directory BEFORE renaming
    the staging dir over the final path (never delete-then-rename): at no
    instant do the only bytes live under a path a crash would strand.
    Every rename's boolean return is checked (Hadoop FileSystem.rename
    reports failure by returning false, not raising) so a failed swap
    aborts the batch instead of committing the checkpoint with the merged
    data stranded in staging; and a crash BETWEEN the two renames is
    healed on replay — merge_batch restores the newest ``__trash_N`` dir
    as the table before reading, so the replayed merge sees the full
    warehouse, never a truncated one.  The swap is still two renames, not
    one atomic publish — a reader racing the swap can see a missing path
    for an instant.  For the log-committed guarantee (readers pin a
    version, concurrent writers conflict cleanly, crash-replayed batches
    are skipped) use :func:`run_snapshot_ingest`, which this function
    predates and which supersedes it wherever history is wanted."""
    spark = stream.sparkSession
    key = list(key)

    def _fs(for_path: str):
        # resolve the PATH's filesystem, not the default one — a warehouse
        # on s3a:// with an hdfs:// default otherwise dies with "Wrong FS"
        # on the first swap (code-review r4)
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(for_path)
        return jvm, p.getFileSystem(conf)

    def _rename_or_raise(fs, src, dst) -> None:
        if not fs.rename(src, dst):
            raise IOError(
                f"run_incremental_upsert: rename {src} -> {dst} failed "
                "(FileSystem.rename returned false); aborting the batch so "
                "the checkpoint does not commit past unmerged data"
            )

    def recover_interrupted_swap(final: str) -> None:
        """If a prior swap crashed between its two renames the table lives
        under ``{final}__trash_N`` and ``final`` is missing — restore the
        newest trash dir so the replayed merge reads the full warehouse."""
        jvm, fs = _fs(final)
        final_p = jvm.org.apache.hadoop.fs.Path(final)
        if fs.exists(final_p):
            return
        parent = final_p.getParent()
        if parent is None or not fs.exists(parent):
            return
        prefix = final_p.getName() + "__trash_"
        stranded = [
            st.getPath()
            for st in fs.listStatus(parent)
            if st.getPath().getName().startswith(prefix)
        ]
        if not stranded:
            return
        newest = max(stranded, key=lambda p: int(p.getName().rsplit("_", 1)[1]))
        _rename_or_raise(fs, newest, final_p)

    def swap_dirs(staging: str, final: str, batch_id: int) -> None:
        jvm, fs = _fs(final)
        final_p = jvm.org.apache.hadoop.fs.Path(final)
        staging_p = jvm.org.apache.hadoop.fs.Path(staging)
        trash_p = jvm.org.apache.hadoop.fs.Path(f"{final}__trash_{batch_id}")
        if fs.exists(trash_p):
            fs.delete(trash_p, True)  # leftover from a crashed prior swap
        had_final = fs.exists(final_p)
        if had_final:
            _rename_or_raise(fs, final_p, trash_p)
        try:
            _rename_or_raise(fs, staging_p, final_p)
        except IOError:
            if had_final:  # put the old table back before surfacing
                fs.rename(trash_p, final_p)
            raise
        if had_final:
            fs.delete(trash_p, True)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # materialized: upsert_anti_join references `cleaned` twice
        # (key frame + union) — without this the batch input
        # re-scans and the dedupe window re-runs per trigger (code-review
        # r4, streaming scale pass)
        cleaned = dedupe_last(batch, key, order_by).localCheckpoint(eager=False)
        recover_interrupted_swap(warehouse_path)
        # existence is probed with the FS API, never inferred from a read
        # failure: a transient read error (throttle, permission blip) used
        # to flip this into the bootstrap branch and OVERWRITE the whole
        # warehouse with one micro-batch (code-review r4)
        jvm, fs = _fs(warehouse_path)
        exists = fs.exists(jvm.org.apache.hadoop.fs.Path(warehouse_path))
        staging = f"{warehouse_path}__staging_{batch_id}"
        if exists:
            old = spark.read.parquet(warehouse_path)
            upsert_anti_join(old, cleaned, key).write.mode("overwrite").parquet(staging)
        else:
            # bootstrap goes through the SAME staging+swap path: writing
            # straight to warehouse_path left a partial directory on a
            # mid-write crash, and the replay's exists-probe then took the
            # merge branch against an unreadable table — permanently wedged
            # (code-review r4, second pass).  The swap's rename is atomic,
            # so the warehouse either doesn't exist yet or is complete.
            cleaned.write.mode("overwrite").parquet(staging)
        swap_dirs(staging, warehouse_path, batch_id)

    (
        stream.writeStream.foreachBatch(merge_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_snapshot_ingest(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key: Sequence[str],
    order_by: Sequence[str],
) -> None:
    """Streaming ingest into a versioned SnapshotTable: every micro-batch
    merges (last-write-wins on ``key``) into the CURRENT snapshot and
    commits the result as a NEW version — so the warehouse history is one
    time-travelable snapshot per micro-batch, with rollback and vacuum from
    operators/snapshots.py for free.

    This replaces run_incremental_upsert's destructive rename-swap with the
    commit log's atomic rename-CAS publish: concurrent writers conflict
    cleanly (ConcurrentCommitError) instead of clobbering, readers pin a
    version and never observe a half-written table, and the exactly-once
    story is the file-source checkpoint (input ledger) plus batch-id-stamped
    commits: each commit records its micro-batch id in the manifest, so a
    batch replayed after a crash between snapshot commit and checkpoint
    commit is recognized and skipped — the version history is identical
    across failure replays, not merely content-identical (ADVICE r2)."""
    key = list(key)
    _run_ledgered_stream(
        stream,
        table_path,
        checkpoint_path,
        delta_fn=lambda batch: dedupe_last(batch, key, order_by),
        merge_fn=lambda current, delta: upsert_anti_join(current, delta, key),
    )


def _run_ledgered_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    delta_fn,
    merge_fn,
    guard=None,
) -> None:
    """THE ledgered-commit protocol for streaming snapshot maintenance —
    run_snapshot_ingest, run_sketch_stream, and run_hll_stream all run
    through it (three hand-synced copies of the gen probe / replay skip /
    merge / stamp sequence previously had to stay identical by hand, and
    the CMS stream's guard ordering diverged once; code-review r4).

    Per micro-batch: probe the checkpoint generation, skip batches at or
    below the generation's newest committed batch id (crash replays — a
    FRESH checkpoint restarts ids at 0, so another generation's ledger
    never suppresses its batches; ids are monotonic per generation, so the
    newest matching commit is the whole ledger), run ``guard(table, gen,
    history)`` if given (the hook where additive-state streams refuse
    foreign generations), build the batch delta, merge it into the current
    snapshot, and commit with batch_id/ckpt_gen stamped in the manifest.
    The commits-dir history is listed ONCE per trigger and threaded
    through every probe (code-review r4: each redundant listStatus is
    O(commits) driver RPC per micro-batch).

    ``delta_fn(batch) -> DataFrame``; ``merge_fn(current, delta) ->
    DataFrame`` (only called when the table has history); ``guard(table,
    gen, history) -> None`` raises to refuse the batch."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

    spark = stream.sparkSession

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        table = SnapshotTable(spark, table_path)
        gen = _checkpoint_generation(spark, checkpoint_path)
        hist = table.history()
        if not hist and batch_id > 0:
            # torn checkpoint/table pair: the checkpoint says batches
            # 0..batch_id-1 were read and committed, but the table has no
            # history — someone deleted/reset the table under a live
            # checkpoint.  The file source will never re-read those
            # batches, so continuing would silently rebuild from only the
            # remaining input (code-review r4, streaming pass).
            raise RuntimeError(
                f"ledgered stream at {table_path}: checkpoint "
                f"{checkpoint_path} is at batch {batch_id} but the table "
                "has no commit history — the table was deleted/reset under "
                "a live checkpoint; reset the checkpoint too (the input "
                "will be re-read) or restore the table"
            )
        applied = table.last_applied_batch(gen, history=hist)
        if applied is not None and batch_id <= applied:
            return  # crash-replay of an already-committed batch
        if guard is not None:
            guard(table, gen, hist)
        # materialized: upsert-style merge_fns reference the delta TWICE
        # (anti-join key build + union) and Spark performs no common-
        # subtree reuse, so the batch's file scan and dedupe window ran
        # twice per trigger (code-review r4, streaming scale pass)
        delta = delta_fn(batch).localCheckpoint(eager=False)
        base = hist[-1] if hist else -1
        merged = merge_fn(table.read(base), delta) if hist else delta
        meta = {"batch_id": str(batch_id)}
        if gen is not None:
            meta["ckpt_gen"] = gen
        # expected_base pins the merge's read version: a commit landing
        # between the history() above and this publish (another stream, a
        # GDPR delete_where) fails the CAS with ConcurrentCommitError
        # instead of being silently merged-over; the failed batch is
        # retried from a fresh read (code-review r4, streaming pass)
        table.commit(merged, meta=meta, expected_base=base)

    (
        stream.writeStream.foreachBatch(commit_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def purchase_view_stream_join(
    purchases: DataFrame,
    views: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior view by the
    same user within the attribution window.

    Both sides carry event-time watermarks and the join predicate bounds the
    time skew (view_ts <= purchase_ts <= view_ts + window), so Spark can
    expire join state: each side buffers only rows younger than
    watermark + window — bounded state at any stream rate, the prerequisite
    for running this on an unbounded feed."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {attribution_window}")),
        "inner",
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"), "purchase_value")


def dedup_stream(
    stream: DataFrame,
    key: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — first occurrence of each key wins, duplicate
    arrivals within the watermark horizon are dropped.

    `dropDuplicatesWithinWatermark` bounds the dedup state to keys younger
    than the watermark (plain dropDuplicates on a stream accumulates every
    key ever seen — unbounded at 100 TB/day).  The horizon is the
    deduplication guarantee: duplicates farther apart than the watermark
    pass through and are caught by the idempotent warehouse merge instead
    (defense in depth, same as the reference's ON CONFLICT backstop)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key)
    )


def run_corpus_prep_stream(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ingest_ts",
    watermark: str = "2 hours",
    min_quality: float = 0.5,
) -> None:
    """Streaming twin of plans.llm.q_corpus_prep: the training-corpus
    pipeline (clean/mask -> quality filter -> exact content dedup -> token
    budget) as a continuous ingest job over a landing directory.

    Stage mapping to the batch operator set:
    - clean/mask and quality scoring are the SAME JVM expressions
      (functions/text.py) — stateless, so they stream unchanged;
    - batch's keep-smallest-id-per-text window becomes
      dropDuplicatesWithinWatermark on the cleaned text's hash: state is
      bounded to the watermark horizon, and duplicates that arrive farther
      apart are the warehouse merge's job (same defense-in-depth contract
      as dedup_stream).  First-arrival-wins replaces smallest-id-wins —
      the streaming-correct policy (ids carry no arrival meaning);
    - append-mode parquet sink: each doc finalizes immediately (row-level
      ops need no window to close).

    At 100 TB/day the only state is the dedup hash set within the horizon;
    everything else is narrow and scales with input partitions.  Every
    text-derived output (bpe_tokens, quality) is computed BEFORE the dedup
    exchange and ctext is dropped pre-shuffle, exactly like the batch twin
    (VERDICT r2 #2 tightened it to move only numeric columns): the old
    post-dedup token count shipped ~full document bodies through the
    shuffle and state store — the whole day's corpus — where the hash pair
    plus three numerics is ~50 bytes/row (code-review r4, streaming scale
    pass).  The dedup key is the codebase-standard 128-bit content_keys
    xxhash64 pair (two 8-byte longs), not an md5 hex string: ~2.5x less
    state per key and a non-cryptographic hash on the hot path, same
    collision-safety class as every batch dedup operator."""
    from european_emissions_data_warehouse_spark.functions.text import (
        bpe_token_count,
        clean_text,
        mask_pii,
        quality_score,
    )
    from european_emissions_data_warehouse_spark.operators.dedup import content_keys

    ctext = mask_pii(clean_text(F.col("text")))
    h1, h2 = content_keys(F.col("ctext"))
    prepped = (
        stream.select("doc_id", ts_col, ctext.alias("ctext"))
        .withColumn("quality", quality_score(F.col("ctext")))
        .filter(F.col("quality") >= min_quality)
        .select(
            "doc_id",
            ts_col,
            h1.alias("_h1"),
            h2.alias("_h2"),
            bpe_token_count(F.col("ctext")).alias("bpe_tokens"),
            F.round("quality", 6).alias("quality"),
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h1", "_h2"])
        .select("doc_id", "bpe_tokens", "quality")
    )
    (
        prepped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_windowed_counts(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> None:
    """Streaming twin of plans.analytics.q_events_hourly: event-time tumbling
    window with a watermark for late data, append-mode parquet sink.

    The watermark bounds state: windows older than max(event_time) - watermark
    finalize and emit; later-arriving events for them are dropped — the
    explicit late-data policy the reference never had (its Lambda chain would
    silently double-import)."""
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_sketch_stream(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    token_col: str = "token",
    depth: int = 4,
    width: int = 4096,
    seed: str = "cms",
) -> None:
    """Maintain a count-min sketch over a token stream (operators/
    sketches.py, streaming form): every micro-batch builds its own
    depth×width sketch and merges it cell-wise into the stored table.

    Sketches are LINEAR — per-batch sketches add counter-for-counter — so
    the stored table is bit-identical to the batch sketch of everything
    ingested, no matter how the stream was chopped into micro-batches
    (asserted by the batch-parity test).  This is the streaming answer to
    token-frequency tracking at corpus scale: state is a constant
    depth×width table, never a vocabulary — the stream's distinct-token
    cardinality is irrelevant to memory.

    The sketch lives in a :class:`SnapshotTable` (one version per merged
    batch; read it with ``SnapshotTable(spark, path).read()``), which
    closes both at-least-once holes ADVICE r3 found in the old
    delete-then-rename layout: each commit records its micro-batch id, so
    a batch replayed after a crash between sketch publish and checkpoint
    commit is recognized and SKIPPED instead of double-counted (sketch
    counters are sums — re-merging a replay would silently inflate every
    cell); and publish is the log's rename-without-overwrite CAS, so no
    crash window ever leaves the previous table deleted-but-unreplaced.
    The ledger is scoped to the CHECKPOINT GENERATION (the query id Spark
    pins in the checkpoint): batch ids restart at 0 in a fresh checkpoint
    over a possibly different file chop, so another generation's ledger
    must never suppress them — and since re-merging would double-count,
    a fresh checkpoint against an existing sketch table raises instead
    of doing either silently (checkpoint and table live and die
    together)."""
    from european_emissions_data_warehouse_spark.operators.sketches import (
        count_min_build,
    )

    def refuse_foreign_generation(table, gen, hist):
        # CMS counters are SUMS: merging a new checkpoint generation into
        # state built by an old one double-counts everything the new
        # generation re-reads.  Checkpoint and sketch table live and die
        # together — refuse loudly instead of silently inflating.  This
        # guard has held since the table's first commit, so only ONE
        # generation can ever be stamped: the newest commit's stamp is the
        # whole check (O(1) per trigger).
        newest = table.newest_generation(history=hist)
        if gen is not None and hist and newest != gen:
            origin = (
                f"checkpoint generation {newest!r}"
                if newest is not None
                else "commits without a generation stamp (provenance unprovable)"
            )
            raise RuntimeError(
                f"run_sketch_stream: sketch table {sketch_path} was built by "
                f"{origin} but this query runs generation {gen!r}; a fresh "
                "checkpoint re-reads all input and would double-count every "
                "counter. Restore the original checkpoint or start a fresh "
                "sketch table."
            )

    _run_ledgered_stream(
        stream,
        sketch_path,
        checkpoint_path,
        delta_fn=lambda batch: count_min_build(
            batch, token_col=token_col, depth=depth, width=width, seed=seed
        ),
        merge_fn=lambda current, delta: (
            current.unionByName(delta)
            .groupBy("row_j", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        ),
        guard=refuse_foreign_generation,
    )


def run_hll_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    value_col: str,
    lg_k: int = 14,
) -> None:
    """Maintain per-key HLL distinct-count sketches over a stream — the
    streaming twin of the batch ``hll_sketch_agg`` rollup (plans.analytics
    q_hll_distinct), mirroring run_sketch_stream's shape for CMS.

    Each micro-batch builds one DataSketches HLL per key and merges it
    into the stored table with ``hll_union_agg``.  HLL union is a
    register-wise max — associative, commutative, idempotent on re-union
    of the SAME sketch — so the stored estimates equal the batch sketch
    of everything ingested no matter how the stream was chopped
    (batch-parity test).  State per key is 2^lg_k registers, independent
    of the value cardinality: the streaming answer to "distinct users per
    key over all time", where dropDuplicates state would grow unboundedly.

    Same exactly-once discipline as run_sketch_stream: the table is a
    SnapshotTable, each commit records its micro-batch id, replayed
    batches are skipped (a re-merge would be harmless for HLL's max — but
    version history stays replay-stable), and publish is rename-CAS."""
    keys = list(key_cols)
    # HLL union is a register-wise max (idempotent on re-union), so a
    # cross-generation re-merge cannot inflate estimates — no
    # foreign-generation guard needed, only the generation-scoped replay
    # skip the shared protocol provides.
    _run_ledgered_stream(
        stream,
        table_path,
        checkpoint_path,
        delta_fn=lambda batch: batch.groupBy(*keys).agg(
            F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll")
        ),
        merge_fn=lambda current, delta: (
            current.unionByName(delta)
            .groupBy(*keys)
            .agg(F.hll_union_agg("hll").alias("hll"))
        ),
    )


def run_neardup_dedup_stream(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
    unit: str = "word",
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Continuous corpus ingestion with NEAR-duplicate suppression: each
    micro-batch runs operators/dedup.minhash_dedup_incremental against the
    standing band-bucket store, adds only surviving docs to the output
    corpus, and lets the store grow by exactly those survivors.

    Contrast with dedup_stream (exact content keys, state bounded by a
    watermark): here the "state" is the persisted LSH store, so a
    duplicate is caught no matter how far apart the copies arrive — the
    trade is a bucket-equality join per batch instead of in-memory
    dropDuplicates state.  Per-batch cost is O(batch·bands + matching
    buckets); the old corpus is never re-paired (the incremental
    contract).  First batch bootstraps the store from its own survivors.

    Crash safety (ADVICE r3): foreachBatch is at-least-once, and the old
    append-to-store-then-append-to-out sequence had TWO unrecoverable
    windows — a replay after the store append would self-match every
    survivor (est_jaccard 1.0) and append nothing to the corpus, silently
    LOSING documents; a replay after the out append would duplicate
    output rows.  The batch function is now idempotent end-to-end:
    (a) the store join excludes self-id matches (a doc is never its own
    duplicate), so a replayed batch recomputes the identical survivor
    set even when its own survivors already sit in the store; and
    (b) both the store and the corpus are laid out as ``batch_id=N``
    partition directories written with per-partition OVERWRITE, so a
    replay rewrites its own partition with identical content instead of
    appending a second copy.  Re-running any suffix of batches converges
    to the same store and corpus — no ledger required, and readers see
    the standard partition-discovery layout (the ``batch_id`` column is
    free ingest lineage).

    The store carries a ``_generation`` marker (hidden from partition
    discovery) stamped at bootstrap: batch-id-keyed partition OVERWRITE is
    only replay-safe within ONE checkpoint generation — a fresh checkpoint
    restarts numbering at 0 and would overwrite the original batch-0
    corpus slice and its LSH state with different documents (code-review
    r4), so a generation mismatch refuses loudly, like run_sketch_stream.
    The marker is also the store's commit point: it is written AFTER the
    bootstrap store write, so a crash mid-bootstrap replays the bootstrap
    instead of treating a partial store as the standing corpus.

    The MinHash parameters (``k``/``unit``/``num_hashes``/``bands``) are
    threaded from THIS signature through every call site — the bootstrap
    band tables, the ``eq / num_hashes`` estimate, the store init, the
    incremental probe, and the store-update band table — so a tuning
    change cannot leave the store with mismatched signature widths that
    silently stop detecting duplicates (code-review r4).  They must match
    whatever an existing store at ``store_path`` was built with."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        _minhash_band_table,
        _write_minhash_params,
        minhash_dedup_incremental,
        minhash_store_init,
    )

    spark = stream.sparkSession

    def _marker(jvm, conf):
        p = jvm.org.apache.hadoop.fs.Path(f"{store_path}/_generation")
        return p, p.getFileSystem(conf)

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)  # multiple consumers below
        store_part = f"{store_path}/batch_id={batch_id}"
        out_part = f"{out_path}/batch_id={batch_id}"
        gen = _checkpoint_generation(spark, checkpoint_path)
        jvm = spark._jvm
        marker_p, fs = _marker(jvm, spark._jsc.hadoopConfiguration())
        # the marker IS the store-exists probe: an FS stat, never a Spark
        # read whose transient failure would silently flip the batch into
        # the bootstrap branch and skip dedup against the standing corpus
        # (code-review r4)
        store_exists = fs.exists(marker_p)
        if store_exists:
            from european_emissions_data_warehouse_spark.operators.snapshots import (
                read_small_text,
            )

            stored_gen = (read_small_text(spark, marker_p.toString()) or "").strip()
            if gen is not None and stored_gen != gen:
                raise RuntimeError(
                    f"run_neardup_dedup_stream: store {store_path} belongs to "
                    f"checkpoint generation {stored_gen!r} but this query runs "
                    f"{gen!r}; batch-id partitions would overwrite another "
                    "generation's corpus slices. Restore the original "
                    "checkpoint or start a fresh store/output."
                )
        if not store_exists:
            # bootstrap = an EMPTY store slice + marker, then the one
            # incremental path below: its vs_new self-join already does
            # first-id-wins intra-batch dedup under the same _sig_estimate,
            # so the former ~30-line hand-copy of that pair logic (which
            # had to stay synced with dedup.py by comment discipline) is
            # gone (code-review r4, streaming pass).  Crash between the
            # init and the marker: replay re-inits (overwrite, idempotent).
            # Crash after the marker: replay routes through the incremental
            # branch against the empty slice — same survivors, and the
            # store/out overwrites below are idempotent.
            minhash_store_init(
                batch.limit(0), store_part, id_col=id_col, text_col=text_col,
                k=k, unit=unit, num_hashes=num_hashes, bands=bands,
            )
            from european_emissions_data_warehouse_spark.operators.snapshots import (
                write_small_text,
            )

            write_small_text(spark, marker_p.toString(), gen or "")
        # with_band_table: the probe already built and checkpointed the
        # whole batch's band table — reuse it for the store write below
        # instead of re-running the dominant signature stage over raw text
        # (code-review r4, streaming scale pass)
        dups, batch_bands = minhash_dedup_incremental(
            batch, store_path, id_col=id_col, text_col=text_col,
            k=k, unit=unit, num_hashes=num_hashes, bands=bands,
            threshold=threshold, update_store=False, with_band_table=True,
        )
        dup_ids = dups.select(F.col("new_id").alias(id_col)).distinct()
        survivors = batch.join(dup_ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        # survivors' band rows land in THIS batch's store partition —
        # replay overwrites it with identical content (idempotent),
        # and duplicates never enter the store.  The rows come from the
        # probe's already-materialized band table (filtered by survivor
        # id), not a second signature build.  The params file is
        # re-stamped after the overwrite: a bootstrap replay routed
        # through THIS branch rewrites batch_id=0, which is where
        # minhash_store_init put the convention record — without the
        # re-stamp the overwrite silently downgraded the store's
        # params-mismatch guard forever (code-review r4)
        batch_bands.join(
            dup_ids.withColumnRenamed(id_col, "id"), "id", "left_anti"
        ).write.mode("overwrite").parquet(store_part)
        _write_minhash_params(
            spark, store_part, k, unit, num_hashes, bands
        )
        survivors.write.mode("overwrite").parquet(out_part)

    # Heal any crashed compact_batch_store BEFORE the first trigger: a
    # mid-compact crash leaves folded band rows invisible (moved into the
    # underscore-prefixed trash/stage), and probing that store would
    # silently admit near-duplicates of every folded document into the
    # committed corpus — the same silent-state-loss class the _generation
    # guard above refuses loudly (code-review r9).  No-op on clean stores;
    # the output corpus shares the batch_id layout, so heal it too.
    from european_emissions_data_warehouse_spark.operators.maintenance import (
        recover_interrupted_compaction,
    )

    recover_interrupted_compaction(spark, store_path)
    recover_interrupted_compaction(spark, out_path)

    (
        stream.writeStream.foreachBatch(dedup_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
