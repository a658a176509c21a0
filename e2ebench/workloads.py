"""The four workloads: YAML jobs over generated inputs, their operation
sequences, and the output checks.

Each workload is a sequence of steps on one set of output locations. The
first step runs on the fresh session and is the untimed warm-up; the
harness then times the workload's fixed number of steps,
``TIMED_STEPS``; ``finish`` runs the closing checks. A step is a list of
operations, each one ``runner.run_job_file`` call or one query, timed
alone. Checks compare what the engine published with what
the generator recorded, outside the operation timers.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq
import yaml

import gen

TENANT = "bench"

LINEITEM_SCHEMA = [
    {"name": "line_id", "type": "integer", "required": True},
    {"name": "l_orderkey", "type": "integer", "required": True},
    {"name": "l_partkey", "type": "integer"},
    {"name": "l_suppkey", "type": "integer"},
    {"name": "l_linenumber", "type": "integer"},
    {"name": "l_quantity", "type": "double"},
    {"name": "l_extendedprice", "type": "double"},
    {"name": "l_discount", "type": "double"},
    {"name": "l_tax", "type": "double"},
    {"name": "l_returnflag", "type": "string"},
    {"name": "l_linestatus", "type": "string"},
    {"name": "l_shipdate", "type": "date"},
]
LINEITEM_DQ = [
    {"type": "not_null", "column": "l_orderkey"},
    {"type": "range", "column": "l_discount", "min": 0.0, "max": 0.1},
    {"type": "accepted_values", "column": "l_returnflag",
     "values": ["A", "N", "R"]},
    {"type": "row_count_min", "min": 1000},
]
DOCS_SCHEMA = [
    {"name": "id", "type": "integer", "required": True},
    {"name": "text", "type": "string", "required": True},
    {"name": "lang", "type": "string"},
    {"name": "source", "type": "string"},
    {"name": "n_chars", "type": "integer"},
]
ORDERS_SCHEMA = [
    {"name": "o_orderkey", "type": "integer", "required": True},
    {"name": "o_custkey", "type": "integer"},
    {"name": "o_orderstatus", "type": "string"},
    {"name": "o_totalprice", "type": "double"},
    {"name": "o_orderdate", "type": "timestamp"},
    {"name": "o_orderpriority", "type": "string"},
    {"name": "change_seq", "type": "integer", "required": True},
]

#: the curation queries, each with the generated tables it reads
QUERIES = {
    "dedup_quality_resolved": ("documents",),
    "entity_resolution_customers": ("customer",),
    "semantic_dedup_pipeline": ("embeddings",),
    "passage_removal_docs": ("documents",),
    "bpe_train_merges_docs": ("documents",),
}


@dataclass
class Op:
    """One timed operation and the outcome of its checks."""
    name: str
    seconds: float = 0.0
    rows: int = 0
    errors: list[str] = field(default_factory=list)

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)


@dataclass
class Step:
    """One step of a workload: its operations and what it published."""
    ops: list[Op] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def rows(self) -> int:
        return sum(o.rows for o in self.ops)


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and its live descendants: the Python driver, the JVM
    it launched and any Python workers the JVM started."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def _write_job(path: str, doc: dict) -> str:
    with open(path, "w") as fh:
        yaml.safe_dump(doc, fh, sort_keys=True)
    return path


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def _parquet_files(root: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _d, fs in os.walk(root)
                  for f in fs if f.endswith(".parquet")
                  and "_staging" not in r)


def _table_files(root: str) -> list[str]:
    """Live data files of an FsTable's main branch."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    t = FsTable(root)
    return t.snapshot(t.current_version("main")).paths(root)


class Workload:
    """Shared plumbing: the session, the generated inputs, the output
    directory, and the tracer while a traced step runs."""

    #: steps a run times, whatever the host speed, so every run of a
    #: workload times the same steps: on an idle 4-core host 7-10 s of
    #: work for an ingest job and about 30 s for the five queries, which
    #: keeps a run at 35-45 s
    TIMED_STEPS = 1

    def __init__(self, spark, manifest: dict, out: str):
        self.spark = spark
        self.manifest = manifest
        self.out = out
        self.state_root = os.path.join(out, "state")
        self.tracer = None
        os.makedirs(out)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def timed(self, op: Op):
        """Time one operation; an exception it raises fails the
        operation instead of the run."""
        with (self.tracer.operation(op.name) if self.tracer
              else nullcontext()):
            t0 = time.perf_counter()
            try:
                yield
            except Exception as exc:
                op.errors.append(f"raised {type(exc).__name__}: {exc}"[:300])
            finally:
                op.seconds = time.perf_counter() - t0

    def run_job(self, op: Op, job_path: str):
        from dativo_ingest_spark import runner

        res = None
        with self.timed(op):
            res = runner.run_job_file(self.spark, job_path,
                                      state_root=self.state_root)
        return res

    def warm_up(self) -> Step:
        return self.step()

    def step(self) -> Step:
        """The next step."""
        raise NotImplementedError

    def finish(self) -> Step:
        """Closing operations and checks; their times are not measured."""
        return Step()

    def input_bytes(self) -> int:
        """Bytes of the generated input the steps so far consumed."""
        return self.manifest["input_bytes"]

    def stored_bytes(self) -> int:
        return 0


class BulkCsvWarn(Workload):
    """Every step is the same warn-mode job over the whole inbox,
    overwriting the previous output."""

    def __init__(self, *args):
        super().__init__(*args)
        self.table = os.path.join(self.out, "lineitem")
        self.job = _write_job(os.path.join(self.out, "job.yaml"), {
            "tenant_id": TENANT,
            "schema_validation_mode": "warn",
            "source": {"type": "csv", "path": os.path.join(
                self.manifest["inbox"], "*.csv")},
            "target": {"type": "parquet", "path": self.table,
                       "partition_by": ["l_returnflag"],
                       "options": {"mode": "overwrite"}},
            "asset": {"name": "lineitem_bulk", "schema": LINEITEM_SCHEMA,
                      "data_quality": {"expectations": LINEITEM_DQ}},
        })

    def step(self) -> Step:
        m = self.manifest
        op = Op("bulk_job")
        res = self.run_job(op, self.job)
        if res is not None:
            op.rows = res.records_in
            op.expect(res.exit_code == 1, f"exit code {res.exit_code} != 1")
            op.expect(res.records_in == m["rows"],
                      f"records_in {res.records_in} != {m['rows']}")
            op.expect(res.records_invalid == m["invalid"],
                      f"records_invalid {res.records_invalid} != "
                      f"{m['invalid']}")
            published = sum(pq.ParquetFile(p).metadata.num_rows
                            for p in _parquet_files(self.table))
            op.expect(published == m["rows"],
                      f"published rows {published} != {m['rows']}")
        return Step([op])

    def stored_bytes(self) -> int:
        return _du(self.table)


class DocsDedupIncremental(Workload):
    """Each step is one JSONL drop arriving in the inbox and one job
    ingesting it against the growing dedup index; ``finish`` re-runs the
    job on the unchanged inbox, which must skip."""

    def __init__(self, *args):
        super().__init__(*args)
        self.inbox, self.table, self.index = (
            os.path.join(self.out, x) for x in ("inbox", "docs", "index"))
        os.makedirs(self.inbox)
        self.job = _write_job(os.path.join(self.out, "job.yaml"), {
            "tenant_id": TENANT,
            "source": {"type": "jsonl",
                       "path": os.path.join(self.inbox, "*.jsonl"),
                       "incremental": {"strategy": "file_modified_time"}},
            "target": {"type": "parquet", "path": self.table,
                       "branch": "main",
                       "options": {"mode": "append", "commit": "table",
                                   "dedup": {"index": self.index,
                                             "id_field": "id",
                                             "content_field": "text",
                                             "mode": "minhash"}}},
            "asset": {"name": "docs", "schema": DOCS_SCHEMA},
        })
        self.ingested: list[dict] = []
        self.published = 0

    def step(self) -> Step:
        drop = self.manifest["drops"][len(self.ingested)]
        self.ingested.append(drop)
        # the drop arrives: a hard link, outside the operation timer
        os.link(drop["path"],
                os.path.join(self.inbox, os.path.basename(drop["path"])))
        op = Op(f"drop_{len(self.ingested) - 1}")
        res = self.run_job(op, self.job)
        if res is not None:
            dropped = sum(res.dedup_dropped.values())
            op.rows = res.records_in
            self.published += res.records_in
            op.expect(res.exit_code == 0, f"exit code {res.exit_code} != 0")
            op.expect(res.records_in + dropped == drop["rows"],
                      f"published {res.records_in} + dropped {dropped} != "
                      f"extracted {drop['rows']}")
        return Step([op])

    def finish(self) -> Step:
        op = Op("rerun_unchanged")
        res = self.run_job(op, self.job)
        if res is not None:
            op.expect(res.skipped, "unchanged-input re-run did not skip")
            ids = Counter(pq.read_table(_table_files(self.table),
                                        columns=["id"]).column("id")
                          .to_pylist())
            resent = {i for d in self.ingested for i in d["resend_ids"]}
            op.expect(not any(ids[i] for i in resent),
                      f"{sum(1 for i in resent if ids[i])} verbatim "
                      "re-sends were published")
            op.expect(sum(ids.values()) == self.published,
                      f"table rows {sum(ids.values())} != published "
                      f"{self.published}")
            op.expect(all(v == 1 for v in ids.values()),
                      "duplicate ids in the table")
        return Step([op])

    def input_bytes(self) -> int:
        return sum(os.path.getsize(d["path"]) for d in self.ingested)

    def stored_bytes(self) -> int:
        return _du(self.table) + _du(self.index)


class CdcMergeUpsert(Workload):
    """The warm-up bootstraps the table; each step applies one change
    batch; ``finish`` compares the table with the last-writer-wins
    reference of the batches applied."""

    TIMED_STEPS = 4

    def __init__(self, *args):
        super().__init__(*args)
        self.src, self.table = (os.path.join(self.out, x)
                                for x in ("changes", "orders"))
        os.makedirs(self.src)
        self.job = _write_job(os.path.join(self.out, "job.yaml"), {
            "tenant_id": TENANT,
            "source": {"type": "parquet", "path": self.src,
                       "incremental": {"cursor_field": "change_seq"}},
            "target": {"type": "parquet", "path": self.table,
                       "branch": "main",
                       "options": {"mode": "merge", "commit": "table",
                                   "merge_keys": ["o_orderkey"]}},
            "asset": {"name": "orders_cdc", "schema": ORDERS_SCHEMA},
        })
        self.applied = 0

    def step(self) -> Step:
        m = self.manifest
        i = self.applied
        self.applied += 1
        os.link(m["batches"][i],
                os.path.join(self.src, os.path.basename(m["batches"][i])))
        op = Op("bootstrap" if i == 0 else f"batch_{i}")
        res = self.run_job(op, self.job)
        if res is not None:
            op.rows = res.records_in
            # the >= cursor re-reads the previous batch's boundary row
            want = m["rows"][i] + (1 if i else 0)
            op.expect(res.exit_code == 0, f"exit code {res.exit_code} != 0")
            op.expect(res.records_in == want,
                      f"records_in {res.records_in} != {want}")
        return Step([op])

    def finish(self) -> Step:
        op = Op("check_table")
        got = pq.read_table(_table_files(self.table),
                            columns=[f["name"] for f in ORDERS_SCHEMA])
        keys = got.column("o_orderkey").to_pylist()
        op.expect(len(set(keys)) == len(keys),
                  f"{len(keys) - len(set(keys))} duplicate keys")
        want = self.manifest["checksums"][self.applied - 1]
        op.expect(gen.table_checksum(got) == want,
                  "table differs from the last-writer-wins reference")
        return Step([op])

    def input_bytes(self) -> int:
        return sum(os.path.getsize(p)
                   for p in self.manifest["batches"][:self.applied])

    def stored_bytes(self) -> int:
        return _du(self.table)


class CurationQueries(Workload):
    """A step builds and executes the five queries, each writing its
    result as Parquet, as a batch curation job does on a fresh session:
    there is no warm-up, so the first query is the cold operation.
    ``finish`` reads each stored result back and checks it against its
    DuckDB oracle."""

    def __init__(self, *args):
        super().__init__(*args)
        self.results = os.path.join(self.out, "results")
        self.last: dict[str, Op] = {}

    def warm_up(self) -> Step:
        return Step()

    def step(self) -> Step:
        from dativo_ingest_spark.queries import QUERIES as REGISTRY

        sf = self.manifest["sf_dir"]
        step = Step()
        for name, tables in QUERIES.items():
            op = Op(name)
            with self.timed(op):
                with self.span(f"queries.{name}.build"):
                    df = REGISTRY[name].fn(self.spark, sf)
                with self.span(f"queries.{name}.exec"):
                    df.write.mode("overwrite").parquet(
                        os.path.join(self.results, name))
            op.rows = sum(self.manifest["table_rows"][t] for t in tables)
            self.last[name] = op
            step.ops.append(op)
        return step

    def finish(self) -> Step:
        """Each stored result must equal its oracle as a multiset of rows
        over the sorted column names; a mismatch fails the query's last
        operation."""
        import duckdb

        from dativo_ingest_spark.queries import QUERIES as REGISTRY

        sf = self.manifest["sf_dir"]
        con = duckdb.connect()
        for t in gen.CURATION_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf}/{t}.parquet/*.parquet'")
        for name, op in self.last.items():
            if op.errors:
                continue
            df = self.spark.read.parquet(os.path.join(self.results, name))
            cols, rows = df.columns, df.collect()
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            got = Counter(tuple(_norm(r[i]) for i in order) for r in rows)
            res = con.execute(REGISTRY[name].oracle)
            names = [d[0] for d in res.description]
            o_order = sorted(range(len(names)), key=lambda i: names[i])
            want = Counter(tuple(_norm(r[i]) for i in o_order)
                           for r in res.fetchall())
            op.expect(sorted(cols) == sorted(names),
                      f"columns {sorted(cols)} != oracle {sorted(names)}")
            op.expect(got == want,
                      f"{sum((got - want).values())} rows differ from the "
                      f"oracle, {sum((want - got).values())} missing")
            op.expect(len(rows) > 0, "empty result")
        con.close()
        return Step()

    def stored_bytes(self) -> int:
        return _du(self.results)


def _norm(v):
    """Engine-neutral cell value (the oracle-parity test's rule)."""
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


WORKLOADS = {
    "bulk_csv_warn": BulkCsvWarn,
    "docs_dedup_incremental": DocsDedupIncremental,
    "cdc_merge_upsert": CdcMergeUpsert,
    "curation_queries": CurationQueries,
}
