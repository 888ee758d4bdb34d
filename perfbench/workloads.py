"""The benchmark's workloads.  Each is a closed loop with one client: the
harness runs an operation only after the previous one has returned.

A workload offers ``generate(dir)`` (inputs from the seed, no Spark),
``start_oracle()`` (starts any correctness oracle that needs only the
inputs), ``warmup(spark, phases)`` (everything Spark does before the timed
window, including capturing results for the correctness check),
``cycle()`` (the operations of one pass),
``check()`` (the correctness verdicts) and ``layers()`` (workload-level
per-layer values).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

# corpus_dedup: the pair-forming and embedding queries of plans.llm.
CORPUS_QUERIES = [
    "minhash_neardup",
    "ngram_jaccard",
    "ngram_jaccard_capped",
    "dedup_components",
    "dedup_components_star",
    "decontaminate",
    "chunk_dedup",
    "kmeans_clusters",
    "semdedup",
]
EMBEDDING_QUERIES = {"kmeans_clusters", "semdedup"}
# Base corpus shaped like the testdata, stacked into perturbed copies.
BASE_DOCS = 1000
BASE_VECS = 400
COPIES = 2

# warehouse_ingest: one raw drop of reference size per operation; the
# warehouse starts with one row per key over 30 countries x 36 years x
# 3 scenarios x CATEGORIES labels.
RAW_ROWS = 30_000
CATEGORIES = 100
WARMUP_BATCHES = 2
VACUUM_EVERY = 4
KEEP_VERSIONS = 2


class Phases:
    """Wall-clock windows of each operation's phases, with every Spark job
    a phase starts tagged ``op<i>.<phase>`` for the event-log fold."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @staticmethod
    def start(op: int, name: str) -> dict:
        return {"op": op, "name": name, "phases": []}

    @contextmanager
    def phase(self, rec: dict, phase: str):
        group = f"op{rec['op']}.{phase}"
        self.sc.setJobGroup(group, f"{rec['name']} {phase}")
        t0 = time.time()
        try:
            yield
        finally:
            rec["phases"].append({
                "phase": phase, "group": group,
                "t0_ms": int(t0 * 1000), "t1_ms": int(time.time() * 1000) + 1,
            })
            self.sc.setJobGroup("perfbench.idle", "between operations")


class Oracle:
    """oracle.py in a child process: the constructor starts it and returns,
    ``result()`` waits for it."""

    def __init__(self, run_dir: str, request: dict):
        req_path = os.path.join(run_dir, "oracle_request.json")
        self.res_path = os.path.join(run_dir, "oracle_result.json")
        with open(req_path, "w") as f:
            json.dump(request, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), req_path, self.res_path], cwd=HERE,
        )

    def result(self) -> dict:
        try:
            code = self.proc.wait(timeout=150)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
        if code != 0:
            raise RuntimeError(f"oracle.py exited with {code}")
        with open(self.res_path) as f:
            return json.load(f)


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.data_dir = None
        self.rows: dict[str, int] = {}
        self.spark_digests: dict[str, dict] = {}

    def generate(self, out_dir: str) -> list[dict]:
        inputs = gen.write_corpus(out_dir, self.seed, BASE_DOCS, BASE_VECS, COPIES)
        self.data_dir = out_dir
        self.rows = {i["name"]: i["rows"] for i in inputs}
        return inputs

    def start_oracle(self) -> None:
        """The oracle needs only the inputs, so it runs while Spark starts."""
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        self.oracle = Oracle(self.run_dir, {
            "kind": "queries", "data_dir": self.data_dir,
            "sql": {q: sql[q] for q in CORPUS_QUERIES},
        })

    def _input_rows(self, query: str) -> int:
        return self.rows["embeddings" if query in EMBEDDING_QUERIES else "documents"]

    def warmup(self, spark, phases: Phases) -> list[str]:
        """A dedup batch runs each query once in a fresh session, so the
        timed pass is each query's first run.  Warm-up only pays the
        session's one-time costs (first scan, shuffle, join, collect)."""
        import __spark_entry__
        from pyspark.sql import functions as F

        self.spark = spark
        self.queries = __spark_entry__.queries()
        docs = spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
        words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        words.join(words.groupBy("w").count(), "w").groupBy("doc_id").agg(F.sum("count")).collect()
        spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet")).selectExpr(
            "vec_id", "aggregate(embedding, 0D, (a, x) -> a + x * x)").collect()
        # collected before the timed window, so it never competes with it
        self.expected = self.oracle.result()
        return []

    def cycle(self) -> list:
        # a pipeline's fixed stage order: first-run costs then fall on the
        # same queries in every run
        return [(q, self._op(q)) for q in CORPUS_QUERIES]

    def _op(self, q: str):
        from european_emissions_data_warehouse_spark.session import restore_scoped_confs

        def run(rec: dict, phases: Phases) -> dict:
            t0 = time.perf_counter()
            try:
                with phases.phase(rec, "build"):
                    df = self.queries[q](self.spark, self.data_dir)
                with phases.phase(rec, "action"):
                    rows = df.collect()
            finally:
                # a call-site conf override (recursive_ancestry's ceiling)
                # must not leak into the next operation
                restore_scoped_confs(self.spark)
            latency = time.perf_counter() - t0
            # the first result of each query is graded, outside the timer
            self.spark_digests.setdefault(q, oracle.digest([tuple(r) for r in rows], df.columns))
            return {"latency_s": latency, "rows": self._input_rows(q)}

        return run

    def check(self) -> dict[str, bool]:
        want = self.expected
        verdicts = {}
        for q in CORPUS_QUERIES:
            got = self.spark_digests.get(q)
            verdicts[q] = got is not None and got == want[q]
            if not verdicts[q]:
                print(f"perfbench: {q} disagrees with its oracle: spark={got} duckdb={want[q]}",
                      file=sys.stderr)
        return verdicts

    def layers(self) -> dict[str, float]:
        return {}


class WarehouseIngest:
    name = "warehouse_ingest"

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.raw_dir = os.path.join(run_dir, "raw")
        self.processed_dir = os.path.join(run_dir, "processed")
        self.table_dir = os.path.join(run_dir, "warehouse")
        self.checkpoint_dir = os.path.join(run_dir, "checkpoint")
        self.raw_files: list[str] = []
        self.raw_bytes: dict[int, int] = {}
        self.conflicts = 0
        self.last_aggregate: dict[str, int] = {}

    def generate(self, out_dir: str) -> list[dict]:
        self.preload_dir = os.path.join(out_dir, "preload")
        preload = gen.write_preload(self.preload_dir, self.seed, CATEGORIES)
        sample = gen.emissions_raw_csv(self.seed, 0, RAW_ROWS, CATEGORIES).encode()
        with open(os.path.join(out_dir, "raw_batch_0.csv"), "wb") as f:
            f.write(sample)
        return [preload, {"name": "raw_batch", "rows": RAW_ROWS, "bytes": len(sample)}]

    def start_oracle(self) -> None:
        """The ingest oracle needs every landed file; it runs in check()."""

    def warmup(self, spark, phases: Phases) -> list[str]:
        """Commit the preloaded warehouse as version 0, then ingest a few
        untimed batches."""
        from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

        self.spark = spark
        os.makedirs(self.raw_dir)
        os.makedirs(self.processed_dir)
        SnapshotTable(spark, self.table_dir).commit(spark.read.parquet(self.preload_dir))
        self.n_ops = 0
        for _ in range(WARMUP_BATCHES):
            self._ingest(phases.start(-1 - self.n_ops, "warmup"), phases)
        return []

    def cycle(self) -> list:
        return [("ingest", self._ingest)]

    def _land(self, batch: int) -> str:
        """Write one raw drop beside the landing directory, then rename it
        in: the file appears whole, as an object store delivers it."""
        body = gen.emissions_raw_csv(self.seed, batch, RAW_ROWS, CATEGORIES).encode()
        path = os.path.join(self.raw_dir, f"emissions_{batch:06d}.csv")
        tmp = os.path.join(self.run_dir, f".landing_{batch:06d}.csv")
        with open(tmp, "wb") as f:
            f.write(body)
        os.replace(tmp, path)
        self.raw_files.append(path)
        self.raw_bytes[batch] = len(body)
        return path

    def _ingest(self, rec: dict, phases: Phases) -> dict:
        from pyspark.sql import functions as F

        from european_emissions_data_warehouse_spark.operators.snapshots import (
            ConcurrentCommitError,
            SnapshotTable,
        )
        from european_emissions_data_warehouse_spark.plans.emissions import (
            clean_emissions,
            write_warehouse,
        )
        from european_emissions_data_warehouse_spark.sources.readers import read_csv
        from european_emissions_data_warehouse_spark.sources.schemas import (
            EMISSIONS_RAW_SCHEMA,
            WAREHOUSE_KEY,
            WAREHOUSE_SCHEMA,
        )
        from european_emissions_data_warehouse_spark.streaming.ingest import (
            run_snapshot_ingest,
            stream_from_directory,
        )

        spark = self.spark
        batch = self.n_ops
        self.n_ops += 1
        path = self._land(batch)
        t_land = time.perf_counter()
        with phases.phase(rec, "build"):
            cleaned = clean_emissions(read_csv(spark, path, EMISSIONS_RAW_SCHEMA))
        with phases.phase(rec, "clean"):
            write_warehouse(cleaned, os.path.join(self.processed_dir, f"batch={batch}"))
        with phases.phase(rec, "stream"):
            # each drop sits under batch=<n>/, which the file source
            # discovers as a partition column the warehouse does not have;
            # partition directories must exist when the stream is defined
            stream = stream_from_directory(spark, self.processed_dir, WAREHOUSE_SCHEMA).drop("batch")
            try:
                run_snapshot_ingest(
                    stream, self.table_dir, self.checkpoint_dir,
                    key=WAREHOUSE_KEY, order_by=["ReportedValue"],
                )
            except ConcurrentCommitError:
                self.conflicts += 1
                raise
        with phases.phase(rec, "read"):
            rows = (
                SnapshotTable(spark, self.table_dir).read()
                .groupBy("Scenario").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
        latency = time.perf_counter() - t_land
        self.last_aggregate = {r["Scenario"]: r["n"] for r in rows}
        out = {"latency_s": latency, "rows": RAW_ROWS, "raw_bytes": self.raw_bytes[batch]}
        if self.n_ops % VACUUM_EVERY == 0:
            t0 = time.perf_counter()
            SnapshotTable(spark, self.table_dir).vacuum(keep_last=KEEP_VERSIONS)
            out["vacuum_s"] = time.perf_counter() - t0
        return out

    def _snapshot_dir(self, version: int) -> str:
        # the commit manifest's first line names the snapshot's data dir
        # (layout documented in operators/snapshots.py)
        with open(os.path.join(self.table_dir, "_commits", f"{version:08d}")) as f:
            return os.path.join(self.table_dir, f.read().splitlines()[0].strip())

    def check(self) -> dict[str, bool]:
        from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

        history = SnapshotTable(self.spark, self.table_dir).history()
        self.history = history
        self.latest_dir = self._snapshot_dir(history[-1])
        self.result = Oracle(self.run_dir, {
            "kind": "ingest", "preload_dir": self.preload_dir,
            "raw_files": self.raw_files, "snapshot_dir": self.latest_dir,
        }).result()
        verdicts = {
            "warehouse": self.result["match"],
            "versions": history == list(range(self.n_ops + 1)),
            "read_after_write": self.last_aggregate == self.result["rows_by_scenario"],
        }
        for k, ok in verdicts.items():
            if not ok:
                print(f"perfbench: ingest check {k} failed: {json.dumps(self.result)[:2000]}",
                      file=sys.stderr)
        return verdicts

    def layers(self) -> dict[str, float]:
        live = sum(os.path.isdir(self._snapshot_dir(v)) for v in self.history)
        stored = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _d, files in os.walk(self.table_dir) for f in files
        )
        return {
            "snapshots.versions_live": live,
            "snapshots.commit_conflicts": self.conflicts,
            "storage.table_files": sum(f.endswith(".parquet") for f in os.listdir(self.latest_dir)),
            "storage.stored_bytes_per_user_byte": stored / max(self.result["live_raw_bytes"], 1),
        }


WORKLOADS = {w.name: w for w in (CorpusDedup, WarehouseIngest)}
