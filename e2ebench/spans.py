"""Traced-run harness: spans around the engine's public layer functions,
applied from outside the engine and only while a traced step runs.

Each span adds a Spark job tag for its lifetime. Tags nest, so a job
carries the tags of every span open when it was submitted, and the
newest of them is the innermost span; the job and its tasks, shuffle
write and spill are booked there, read back from the JVM status store
after each operation. Every operation opens a root span, so every job it
launches lands in exactly one span; ``unattributed_jobs`` counts the
jobs submitted during an operation that carry none of its tags.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from workloads import QUERIES

#: (module, attribute path, span name) for every wrapped layer function;
#: span names are the ``<module>.<function>`` prefix of the metrics
LAYERS = [
    ("dativo_ingest_spark.sources.csv_source", "read_csv",
     "csv_source.read_csv"),
    ("dativo_ingest_spark.sources.jsonl_source", "read_jsonl",
     "jsonl_source.read_jsonl"),
    ("dativo_ingest_spark.operators.validation", "validate",
     "validation.validate"),
    ("dativo_ingest_spark.operators.quality", "run_expectations",
     "quality.run_expectations"),
    ("dativo_ingest_spark.sinks.parquet_sink", "write_partitioned",
     "parquet_sink.write_partitioned"),
    ("dativo_ingest_spark.operators.dedup", "dedup_minhash_against_index",
     "dedup.dedup_minhash_against_index"),
    ("dativo_ingest_spark.operators.dedup", "index_entries_minhash",
     "dedup.index_entries_minhash"),
    ("dativo_ingest_spark.sinks.table_commit", "FsTable.write_append",
     "table_commit.FsTable.write_append"),
    ("dativo_ingest_spark.sinks.table_commit", "FsTable.add_files",
     "table_commit.FsTable.add_files"),
    ("dativo_ingest_spark.sinks.table_commit", "FsTable.merge_upsert",
     "table_commit.FsTable.merge_upsert"),
    ("dativo_ingest_spark.operators.incremental", "StateStore.get",
     "incremental.StateStore.get"),
    ("dativo_ingest_spark.operators.incremental", "StateStore.set",
     "incremental.StateStore.set"),
    ("dativo_ingest_spark.operators.incremental", "StateStore.get_file_mtimes",
     "incremental.StateStore.get_file_mtimes"),
    ("dativo_ingest_spark.operators.incremental", "StateStore.set_file_mtimes",
     "incremental.StateStore.set_file_mtimes"),
    # the job loader lives in runner; the name keeps it beside config
    ("dativo_ingest_spark.runner", "load_job_with_secrets",
     "config.load_job_with_secrets"),
    ("dativo_ingest_spark.runner", "run_job", "runner.run_job"),
]

COUNTERS = ("jobs", "tasks", "shuffle_bytes", "spill_bytes")

#: the per-layer metrics every traced run reports (BENCHMARK.json's
#: ``per_layer``), zero where a workload does not reach the layer
PER_LAYER = (
    "csv_source.read_csv.wall_s", "csv_source.read_csv.jobs",
    "jsonl_source.read_jsonl.wall_s", "jsonl_source.read_jsonl.jobs",
    "validation.validate.wall_s",
    "quality.run_expectations.wall_s", "quality.run_expectations.jobs",
    "quality.run_expectations.tasks",
    "parquet_sink.write_partitioned.self_s",
    "parquet_sink.write_partitioned.jobs",
    "parquet_sink.write_partitioned.tasks",
    "parquet_sink.write_partitioned.files_written",
    "parquet_sink.write_partitioned.bytes_written",
    "dedup.dedup_minhash_against_index.wall_s",
    "dedup.dedup_minhash_against_index.jobs",
    "dedup.dedup_minhash_against_index.shuffle_bytes",
    "dedup.dedup_minhash_against_index.drop_ratio",
    "dedup.index_entries_minhash.wall_s",
    "table_commit.FsTable.write_append.wall_s",
    "table_commit.FsTable.write_append.jobs",
    "table_commit.FsTable.add_files.wall_s",
    "incremental.StateStore.get.wall_s",
    "incremental.StateStore.set.wall_s",
    "incremental.StateStore.get_file_mtimes.wall_s",
    "incremental.StateStore.set_file_mtimes.wall_s",
    "config.load_job_with_secrets.wall_s",
    "runner.run_job.wall_s", "runner.run_job.self_s", "runner.run_job.jobs",
    "runner.run_job.tasks", "runner.run_job.spill_bytes",
)
#: reported too by the traced runs of the workloads outside
#: BENCHMARK.json: ``cdc_merge_upsert`` and ``curation_queries``
EXTRA_LAYER = (
    "table_commit.FsTable.merge_upsert.wall_s",
    "table_commit.FsTable.merge_upsert.jobs",
    "table_commit.FsTable.merge_upsert.files_rewritten",
    "table_commit.FsTable.merge_upsert.write_amp",
) + tuple(f"queries.{q}.{stat}" for q in QUERIES
          for stat in ("build_s", "exec_s", "build_jobs", "exec_jobs",
                       "shuffle_bytes"))


def unit_of(metric: str) -> str:
    stat = metric.rsplit(".", 1)[-1]
    return ("s" if stat.endswith("_s") else
            "bytes" if "bytes" in stat else
            "ratio" if stat.endswith(("_ratio", "_amp")) else "count")


def _written(path: str) -> tuple[int, int]:
    files = [os.path.join(r, f) for r, _d, fs in os.walk(path)
             for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _before_merge(args, kwargs):
    table, updates = args[0], args[2]
    branch = kwargs.get("branch", "main")
    base = table.snapshot(table.current_version(branch))
    change = sum(os.path.getsize(_local(f)) for f in updates.inputFiles())
    return {f["path"] for f in base.files}, change


def _after_merge(rec, before, _args, _kwargs, snap):
    base_paths, change_bytes = before
    new = [f for f in snap.files if f["path"] not in base_paths]
    rec["files_rewritten"] = len(base_paths - {f["path"] for f in snap.files})
    rec["bytes_written"] = sum(f.get("size_bytes", 0) for f in new)
    rec["change_bytes"] = change_bytes


def _after_write(rec, _before, args, kwargs, _result):
    path = args[1] if len(args) > 1 else kwargs["path"]
    rec["files_written"], rec["bytes_written"] = _written(path)


def _after_dedup(rec, _before, _args, _kwargs, result):
    _kept, n_batch, n_index = result
    rec["dropped"] = int(n_batch) + int(n_index)


def _after_run_job(rec, _before, _args, _kwargs, res):
    if res.dedup_dropped:
        rec["dedup_extracted"] = res.records_in + sum(
            res.dedup_dropped.values())


HOOKS = {
    "table_commit.FsTable.merge_upsert": (_before_merge, _after_merge),
    "parquet_sink.write_partitioned": (None, _after_write),
    "dedup.dedup_minhash_against_index": (None, _after_dedup),
    "runner.run_job": (None, _after_run_job),
}


class Tracer:
    """Spans kept in memory, Spark work booked per span after each
    operation, everything written out once at exit."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.installed: list[tuple[object, str, object]] = []
        self.seen_stages: set[int] = set()
        self.unattributed_jobs = 0
        self.jobs_total = 0

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter(), "end": None,
               **{c: 0 for c in COUNTERS}}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        tag = f"e2eb-span-{rec['id']}"
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            self.stack.pop()
            rec["end"] = time.perf_counter()

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def operation(self, name: str):
        """Root span of one operation; books its Spark work on exit,
        after the caller's timer has stopped."""
        self.op_id = (self.op_id or 0) + 1
        first = self._next_job_id()
        with self.span(f"op.{name}") as root:
            yield
        self._book(root, first, self._next_job_id())

    def _book(self, root: dict, first: int, end: int) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        prefix = "e2eb-span-"
        for job_id in range(first, end):
            try:
                jd = store.job(job_id)
            except Py4JJavaError:
                self.unattributed_jobs += 1
                continue
            tags = [int(t[len(prefix):])
                    for t in jd.jobTags().mkString("\n").split("\n")
                    if t.startswith(prefix)]
            self.jobs_total += 1
            if root["id"] not in tags:
                self.unattributed_jobs += 1
                continue
            rec = self.spans[max(tags)]
            rec["jobs"] += 1
            rec["tasks"] += jd.numCompletedTasks()
            for sid in jd.stageIds().mkString(",").split(","):
                if not sid or int(sid) in self.seen_stages:
                    continue
                self.seen_stages.add(int(sid))
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:
                    continue  # skipped stage: it never ran
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())

    # -- wrappers ------------------------------------------------------

    def install(self) -> None:
        for module, attr, name in LAYERS:
            owner = importlib.import_module(module)
            *path, fn_name = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = getattr(owner, fn_name)
            setattr(owner, fn_name, self._wrap(original, name))
            self.installed.append((owner, fn_name, original))

    def uninstall(self) -> None:
        while self.installed:
            owner, fn_name, original = self.installed.pop()
            setattr(owner, fn_name, original)

    def _wrap(self, fn, name: str):
        before, after = HOOKS.get(name, (None, None))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            pre = before(args, kwargs) if before else None
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
            if after:
                after(rec, pre, args, kwargs, result)
            return result

        return traced

    # -- results -------------------------------------------------------

    def layer_stats(self, n_steps: int) -> dict[str, float]:
        """Per-span-name totals over the traced steps, per step:
        calls, wall_s, self_s and the booked counters, plus the
        layer-specific ratios."""
        child_wall: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] = (child_wall.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        agg: dict[str, dict[str, float]] = {}
        for s in self.spans:
            a = agg.setdefault(s["name"], {"calls": 0, "wall_s": 0.0,
                                           "self_s": 0.0})
            wall = s["end"] - s["start"]
            a["calls"] += 1
            a["wall_s"] += wall
            a["self_s"] += wall - child_wall.get(s["id"], 0.0)
            for k, v in s.items():
                if k in COUNTERS or k in ("files_written", "bytes_written",
                                          "files_rewritten", "change_bytes",
                                          "dropped", "dedup_extracted"):
                    a[k] = a.get(k, 0) + v
        out = {f"{name}.{k}": v / n_steps
               for name, a in agg.items() for k, v in a.items()}
        mu = agg.get("table_commit.FsTable.merge_upsert", {})
        if mu.get("change_bytes"):
            out["table_commit.FsTable.merge_upsert.write_amp"] = (
                mu["bytes_written"] / mu["change_bytes"])
        dd = agg.get("dedup.dedup_minhash_against_index", {})
        rj = agg.get("runner.run_job", {})
        if rj.get("dedup_extracted"):
            out["dedup.dedup_minhash_against_index.drop_ratio"] = (
                dd.get("dropped", 0) / rj["dedup_extracted"])
        for name, a in agg.items():
            # queries.<q>.build / .exec spans -> queries.<q>.<stat>
            if name.startswith("queries.") and name.endswith(".build"):
                q = name[:-len(".build")]
                e = agg.get(q + ".exec", {})
                out[q + ".build_s"] = a["wall_s"] / n_steps
                out[q + ".exec_s"] = e.get("wall_s", 0.0) / n_steps
                out[q + ".build_jobs"] = a["jobs"] / n_steps
                out[q + ".exec_jobs"] = e.get("jobs", 0) / n_steps
                out[q + ".shuffle_bytes"] = (
                    a["shuffle_bytes"] + e.get("shuffle_bytes", 0)) / n_steps
        return out

    def metrics(self, n_steps: int) -> dict[str, float]:
        """The PER_LAYER metrics, zero where the workload does not reach
        a layer, and the EXTRA_LAYER ones where it does."""
        stats = self.layer_stats(n_steps)
        out = {k: stats.get(k, 0.0) for k in PER_LAYER}
        out.update({k: stats[k] for k in EXTRA_LAYER if k in stats})
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "jobs_total": self.jobs_total,
                       "unattributed_jobs": self.unattributed_jobs}, fh)
