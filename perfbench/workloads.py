"""The three workloads. Each is one client in a closed loop: ``op`` sends
the next operation only after the previous one has completed.

A workload prepares inputs (untimed), sets up a session, runs operations
and checks each operation's outputs afterwards, outside the timed region.
``op`` returns the operation's time and input rows; ``check`` compares
its outputs with the DuckDB oracle.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import gen

# one curation pass: registry entries that read only `documents` and
# `embeddings` and carry a DuckDB oracle. At gen.DOCS every entry but
# set_similarity_join costs 0.4-1.4 s warm on 4 cores, mostly plan
# building and job scheduling; the pass holds five that the roadmap's
# directions act on (one ANN entry of the three), which fits the run's
# time budget.
CURATION_ENTRIES = [
    "set_similarity_join",
    "minhash_dedup_fast",
    "repetition_ngrams_fast",
    "ivf_ann_topk",
    "semdedup_fast_fixed",
]
REFJOBS = ("max_temperature", "reduce_join", "user_hotcar", "user_newcar")


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def dir_files(path: Path) -> int:
    return sum(1 for p in Path(path).rglob("*") if p.is_file() and not p.name.startswith((".", "_")))


class Workload:
    """Shared defaults: a workload with no per-session state."""

    python_workers = True  # the set-up's warmup spawns the Python worker pool
    streaming = False  # a traced run listens to streaming progress
    min_warm = 2  # warm operations per run, however long they take
    warmup_ops = 0  # operations after the cold one that run and are checked, but not timed

    def __init__(self, run_dir: Path, seed: int, span):
        self.run_dir, self.seed, self.span = run_dir, seed, span
        self.inputs = run_dir / "input"

    def setup(self, spark) -> None:
        pass

    def teardown(self, spark) -> None:
        pass

    def check_run(self, spark, ops: int) -> list[int]:
        """Operations (1-based) whose outputs only a whole-run check can judge."""
        return []

    def rows_per_s(self, warm: list[dict], warm_p50: float) -> float:
        """An operation's input rows over the median warm operation time."""
        return statistics.median(r["rows"] for r in warm) / warm_p50

    def extra(self, spark) -> dict:
        """Workload-specific numbers for the result, read after the loop."""
        return {}


class RefJobs(Workload):
    """The paper's four jobs through their public ``plans`` functions,
    each writing its text sink."""

    python_workers = False  # the four plans run in the JVM only

    def prepare(self) -> dict:
        from oracles import RefjobsOracle

        props = gen.refjobs(self.inputs, self.seed)
        self.oracle = RefjobsOracle(self.inputs)
        self.out = self.run_dir / "out"
        return props

    def op(self, spark, i: int) -> dict:
        from hadoop_app_spark.plans import (
            run_max_temperature, run_reduce_join, run_user_hotcar, run_user_newcar,
        )

        inp, out = self.inputs, self.out
        obs_hot, obs_new = {}, {}
        jobs = {
            "max_temperature": lambda: run_max_temperature(spark, f"{inp}/ncdc", f"{out}/max_temperature"),
            "reduce_join": lambda: run_reduce_join(
                spark, f"{inp}/employee", f"{inp}/dept", f"{out}/reduce_join"),
            "user_hotcar": lambda: run_user_hotcar(
                spark, f"{inp}/profiles", f"{inp}/hotcar", f"{out}/user_hotcar", observations=obs_hot),
            "user_newcar": lambda: run_user_newcar(
                spark, f"{inp}/profiles", f"{inp}/newcar", gen.NEWCAR_DT, f"{out}/user_newcar",
                observations=obs_new),
        }
        job_s = {}
        t0 = time.perf_counter()
        for name, job in jobs.items():
            j0 = time.perf_counter()
            job()
            job_s[name] = time.perf_counter() - j0
        dt = time.perf_counter() - t0
        self.obs = (obs_hot, obs_new)
        return {"s": dt, "rows": self.props["rows"], "job_s": job_s}

    def check(self, spark, res: dict) -> bool:
        bad = {job: self.oracle.mismatches(job, self.out / job) for job in REFJOBS}
        drop = self.dropped()
        exp = self.oracle.dropped
        ok_drop = drop == 2 * exp["profiles"] + exp["hotcar"] + exp["newcar"]
        res.update(mismatched_rows=bad, dropped_rows=drop)
        return ok_drop and not any(bad.values())

    def dropped(self) -> int:
        """Malformed rows the \\x01 readers dropped, from their observations."""
        return sum(
            o[f"{k}_source"].get["malformed_dropped"] for o in self.obs for k in ("user_id", "city_id")
        )

    def extra(self, spark) -> dict:
        return {"output_bytes": dir_bytes(self.out), "dropped_rows": self.dropped(),
                "expected_rows": {job: self.oracle.expected_rows(job) for job in REFJOBS}}


class Curation(Workload):
    """Corpus-curation and ANN registry entries over a seeded corpus
    directory; each result is collected, nothing is written."""

    def prepare(self) -> dict:
        from hadoop_app_spark.queries import REGISTRY
        from oracles import CurationOracle

        props = gen.curation(self.inputs, self.seed)
        self.oracle = CurationOracle(self.inputs, CURATION_ENTRIES, REGISTRY)
        return props

    def op(self, spark, i: int) -> dict:
        from hadoop_app_spark.queries import REGISTRY

        corpus = str(self.inputs)
        results, entry_s = {}, {}
        t0 = time.perf_counter()
        for name in CURATION_ENTRIES:
            e0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, corpus)
            with self.span(f"queries.{name}.action"):
                rows = df.collect()
            results[name] = (df.columns, rows)
            entry_s[name] = time.perf_counter() - e0
        dt = time.perf_counter() - t0
        return {"s": dt, "rows": self.props["rows"], "results": results, "entry_s": entry_s}

    def check(self, spark, res: dict) -> bool:
        results = res.pop("results")
        bad = [n for n, (cols, rows) in results.items()
               if not self.oracle.check(n, cols, [tuple(r) for r in rows])]
        res["pairs"] = len(results["set_similarity_join"][1])
        res["mismatched_entries"] = bad
        return not bad


class Ingest(Workload):
    """Closed-loop days against a continuous dedup ingest stream. A day
    lands one generation file and waits until its micro-batch has
    deduped it against the MinHash index and committed; every K-th day
    then compacts the index."""

    INDEX = "mh_index"
    python_workers = False  # the index seed starts the Python workers it uses
    streaming = True
    min_warm = 4  # days: enough that the median is not one of two
    # day 2 still probes the never-compacted seed index and is the slowest
    # warm day on every seed; the timed days start after the first compaction
    warmup_ops = 1

    def prepare(self) -> dict:
        self.feed = gen.IngestFeed(self.seed)
        self.day0 = self.inputs / "day0.parquet"
        self.in_bytes = gen.land(self.feed.day(), self.inputs / "_stage", self.day0)
        self.query = None
        return self.feed.properties()

    def setup(self, spark) -> None:
        from hadoop_app_spark.operators.dedup import seed_minhash_index
        from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

        par = spark.sparkContext.defaultParallelism
        self.dir = self.run_dir / "stream"
        for sub in ("src", "stage"):
            (self.dir / sub).mkdir(parents=True)
        d0 = spark.read.parquet(str(self.day0))
        seed_minhash_index(d0, "text", "doc_id", self.INDEX, hash_fn="poly", repartition_to=par)
        self.query = dedup_ingest_stream(
            spark, str(self.dir / "src"), d0.schema, self.INDEX, "text", "doc_id",
            str(self.dir / "out"), str(self.dir / "ck"), hash_fn="poly",
            repartition_to=par, available_now=False,
        )
        self.query.processAllAvailable()  # the first trigger has run: ready for day 1

    def teardown(self, spark) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def index_dir(self, spark) -> Path:
        return Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")) / self.INDEX

    def op(self, spark, i: int) -> dict:
        from hadoop_app_spark.operators.bucketing import compact_bucketed_table

        table = self.feed.day()
        dst = self.dir / "src" / f"day{i:05d}.parquet"
        t0 = time.perf_counter()
        landed = time.time()
        self.in_bytes += gen.land(table, self.dir / "stage", dst)
        self.query.processAllAvailable()
        dt = time.perf_counter() - t0
        compacted = 0
        if i % gen.COMPACT_EVERY == 0:
            compacted = dir_bytes(self.index_dir(spark))
            # the stream appends to the index through its own session, so
            # this session's file listing of it is stale since the last
            # compaction; compacting that listing would drop the new rows
            spark.catalog.refreshTable(self.INDEX)
            compact_bucketed_table(spark, self.INDEX)
        return {"s": dt, "wall": time.perf_counter() - t0, "rows": table.num_rows, "landed": landed,
                "compacted_bytes": compacted}

    def check(self, spark, res: dict) -> bool:
        return True  # the replay needs every day: see check_run

    def check_run(self, spark, days: int) -> list[int]:
        """Days whose survivors differ from the DuckDB replay."""
        from oracles import IngestOracle

        expected = IngestOracle(self.feed.days[: days + 1]).survivors
        got: dict[int, set] = {}
        for gen_, doc in spark.read.parquet(str(self.dir / "out")).select("generation", "doc_id").collect():
            got.setdefault(gen_, set()).add(doc)
        return [d for d in range(1, days + 1) if got.get(d, set()) != expected[d]]

    def rows_per_s(self, warm: list[dict], warm_p50: float) -> float:
        """Docs ingested per second over the warm days, compaction included."""
        return sum(r["rows"] for r in warm) / sum(r["wall"] for r in warm)

    def extra(self, spark) -> dict:
        stored = dir_bytes(self.index_dir(spark)) + dir_bytes(self.dir / "out")
        return self.feed.properties() | {
            "stored_bytes_per_input_byte": stored / self.in_bytes,
            "index_files": dir_files(self.index_dir(spark)), "input_bytes": self.in_bytes}


WORKLOADS = {"refjobs": RefJobs, "curation": Curation, "ingest": Ingest}
