"""Seeded input generator for the end-to-end benchmark.

Every input derives from the read-only sf0.1 tables and the seed; the
same seed writes byte-identical files. The engine only ever sees the
files written here. Each ``gen_*`` returns a manifest of what it wrote
plus the expectations the output checks compare against.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DEFAULT_TESTDATA = "/root/testdata/sf0.1"

#: input sizes per workload. The docs drops and cdc change batches are
#: consumed one per step: a traced run needs 1 + 2 * TIMED_STEPS of them.
#: The curation tables are seeded row samples of the sf0.1 tables.
SIZES = {
    "bulk_csv_warn": {"rows": 30_000, "files": 4},
    "docs_dedup_incremental": {"per_drop": 300, "drops": 3},
    "cdc_merge_upsert": {"rows": 50_000, "batches": 8},
    "curation_queries": {"documents": 300, "customer": 1_000,
                         "embeddings": 200},
}
#: share of rows given one uncoercible value (never an NA sentinel)
BULK_BAD_FRAC = 0.01
BULK_NUMERIC = ("l_partkey", "l_quantity", "l_extendedprice", "l_discount",
                "l_tax")
BULK_JUNK = ("x17", "#N/A", "?", "n.a.", "12..5", "--", "1,5", "abc")

#: docs_dedup_incremental: per-drop composition (shares of a drop)
DOCS_RESEND = 0.10     # verbatim re-send of an earlier drop's doc
DOCS_NEAR = 0.10       # one-word edit of an earlier drop's doc
DOCS_WITHIN = 0.06     # copy of another doc in the same drop

#: cdc_merge_upsert: per-batch change shares of the bootstrap size
CDC_UPDATE_FRAC = 0.05
CDC_INSERT_FRAC = 0.01

#: curation_queries: tables the five queries read
CURATION_TABLES = ("documents", "customer", "embeddings")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per workload."""
    return np.random.default_rng(
        [seed, int.from_bytes(hashlib.blake2b(stream.encode(),
                                              digest_size=8).digest(),
                              "little")])


def _sizes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def gen_bulk_csv_warn(rng, size: dict, out: str, testdata: str) -> dict:
    """``rows`` lineitem rows as all-string CSV in ``files`` files, about
    1 % of rows carrying one uncoercible numeric value."""
    n_rows, n_files = size["rows"], size["files"]
    src = pq.read_table(os.path.join(testdata, "lineitem.parquet"))
    n_src = src.num_rows
    reps = -(-n_rows // n_src)
    idx = rng.permutation(n_src * reps)[:n_rows] % n_src
    t = src.take(pa.array(idx))
    cols = {"line_id": pa.array(np.arange(n_rows)).cast(pa.string())}
    for name in t.column_names:
        col = t.column(name).combine_chunks()
        if pa.types.is_timestamp(col.type):
            col = pc.strftime(col, format="%Y-%m-%d")
        cols[name] = col.cast(pa.string())
    n_bad = int(n_rows * BULK_BAD_FRAC)
    bad_rows = rng.choice(n_rows, n_bad, replace=False)
    bad_col = rng.integers(0, len(BULK_NUMERIC), n_bad)
    bad_tok = rng.integers(0, len(BULK_JUNK), n_bad)
    for ci, name in enumerate(BULK_NUMERIC):
        rows = bad_rows[bad_col == ci]
        mask = np.zeros(n_rows, dtype=bool)
        mask[rows] = True
        # replace_with_mask consumes replacements in row order
        order = np.argsort(rows)
        toks = [BULK_JUNK[k] for k in bad_tok[bad_col == ci][order]]
        cols[name] = pc.replace_with_mask(
            cols[name], pa.array(mask), pa.array(toks, pa.string()))
    table = pa.table(cols)
    inbox = os.path.join(out, "inbox")
    os.makedirs(inbox, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    files = []
    for i in range(n_files):
        path = os.path.join(inbox, f"part_{i:03d}.csv")
        pacsv.write_csv(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                        path)
        files.append(path)
    return {"inbox": inbox, "files": files, "input_bytes": _sizes(files),
            "rows": n_rows, "invalid": n_bad}


def _edit_one_word(text: str, rng: np.random.Generator) -> str:
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = "edited"
    return " ".join(words)


def gen_docs_dedup_incremental(rng, size: dict, out: str,
                               testdata: str) -> dict:
    """``drops`` JSONL drops of ``per_drop`` docs. Every record has a
    fresh id; re-sends, near-dups and within-drop dups reuse content."""
    per_drop = size["per_drop"]
    docs = pq.read_table(os.path.join(testdata, "documents.parquet"))
    pool = docs.take(pa.array(rng.permutation(docs.num_rows))).to_pylist()
    n_resend = int(per_drop * DOCS_RESEND)
    n_near = int(per_drop * DOCS_NEAR)
    n_within = int(per_drop * DOCS_WITHIN)
    os.makedirs(os.path.join(out, "drops"), exist_ok=True)
    history: list[dict] = []
    drops = []
    next_pool = 0
    next_id = 1
    for d in range(size["drops"]):
        earlier = len(history) > 0
        n_fresh = per_drop - n_within - (
            (n_resend + n_near) if earlier else 0)
        fresh = pool[next_pool:next_pool + n_fresh]
        next_pool += n_fresh
        content = [(r, "fresh") for r in fresh]
        if earlier:
            for i in rng.choice(len(history), n_resend, replace=False):
                content.append((history[i], "resend"))
            for i in rng.choice(len(history), n_near, replace=False):
                r = dict(history[i])
                r["text"] = _edit_one_word(r["text"], rng)
                content.append((r, "near"))
        for i in rng.choice(len(fresh), n_within, replace=False):
            content.append((fresh[i], "within"))
        records, resend_ids = [], []
        for j in rng.permutation(len(content)):
            r, kind = content[j]
            rec = {"id": next_id, "text": r["text"], "lang": r["lang"],
                   "source": r["source"], "n_chars": r["n_chars"]}
            next_id += 1
            records.append(rec)
            if kind == "resend":
                resend_ids.append(rec["id"])
        history.extend(fresh)
        path = os.path.join(out, "drops", f"drop_{d:03d}.jsonl")
        with open(path, "w") as fh:
            for rec in records:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")
        drops.append({"path": path, "rows": len(records),
                      "resend_ids": resend_ids})
    return {"drops": drops,
            "input_bytes": _sizes([d["path"] for d in drops])}


def gen_cdc_merge_upsert(rng, size: dict, out: str, testdata: str) -> dict:
    """A bootstrap file of ``rows`` orders plus ``batches`` change batches,
    each updating CDC_UPDATE_FRAC of the live keys once and inserting
    CDC_INSERT_FRAC new keys. ``change_seq`` is distinct and increasing
    across the whole stream. The manifest carries the checksum of the
    last-writer-wins table after each batch."""
    n_rows = size["rows"]
    src = pq.read_table(os.path.join(testdata, "orders.parquet"))
    boot = src.take(pa.array(rng.permutation(src.num_rows)[:n_rows]))
    state = boot.replace_schema_metadata(None).to_pandas()
    state["change_seq"] = np.arange(1, len(state) + 1)
    seq = len(state) + 1
    batches = [state]
    state = state.set_index("o_orderkey", drop=False)
    checksums = [table_checksum(pa.Table.from_pandas(
        state, preserve_index=False))]
    next_key = int(state["o_orderkey"].max()) + 1
    n_upd = int(n_rows * CDC_UPDATE_FRAC)
    n_ins = int(n_rows * CDC_INSERT_FRAC)
    for _ in range(size["batches"]):
        upd = state.loc[rng.choice(state.index.to_numpy(), n_upd,
                                   replace=False)].copy()
        upd["o_totalprice"] = np.round(
            rng.uniform(1000.0, 400000.0, n_upd), 2)
        upd["o_orderstatus"] = rng.choice(["F", "O", "P"], n_upd)
        ins = state.iloc[rng.integers(0, len(state), n_ins)].copy()
        ins["o_orderkey"] = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        change = pd.concat([upd, ins], ignore_index=True)
        change = change.iloc[rng.permutation(len(change))]
        change["change_seq"] = np.arange(seq, seq + len(change))
        seq += len(change)
        change = change.reset_index(drop=True)
        batches.append(change)
        ch = change.set_index("o_orderkey", drop=False)
        state = pd.concat([state.drop(index=ch.index, errors="ignore"), ch])
        checksums.append(table_checksum(pa.Table.from_pandas(
            state, preserve_index=False)))
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    paths = []
    for i, b in enumerate(batches):
        path = os.path.join(out, "batches", f"batch_{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), path)
        paths.append(path)
    return {"batches": paths, "input_bytes": _sizes(paths),
            "rows": [len(b) for b in batches], "checksums": checksums}


def table_checksum(t: pa.Table) -> str:
    """Order-insensitive checksum of a table's rows over its sorted
    column names: sum of per-row 64-bit hashes, mod 2**64. Integers hash
    as int64 whatever their width, and timestamps as naive UTC
    microseconds, whether or not the writer tagged them with a zone."""
    names = sorted(t.column_names)
    cols = {}
    for n in names:
        col = t.column(n)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        cols[n] = col.to_pandas()
    h = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False)
    total = int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return f"{len(names)}:{t.num_rows}:{total:016x}"


def gen_curation_queries(rng, size: dict, out: str, testdata: str) -> dict:
    """A seeded sample of ``size[<table>]`` rows of each sf0.1 table the
    five queries read, in a seeded order, split into a seeded number of
    parquet files under ``<table>.parquet/``."""
    files, rows = [], {}
    for name in CURATION_TABLES:
        t = pq.read_table(os.path.join(testdata, f"{name}.parquet"))
        t = t.take(pa.array(rng.permutation(t.num_rows)[:size[name]]))
        rows[name] = t.num_rows
        n_files = int(rng.integers(2, 7))
        d = os.path.join(out, "sf", f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            path = os.path.join(d, f"part-{i:03d}.parquet")
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           path)
            files.append(path)
    return {"sf_dir": os.path.join(out, "sf"), "files": files,
            "input_bytes": _sizes(files), "table_rows": rows}


GENERATORS = {
    "bulk_csv_warn": gen_bulk_csv_warn,
    "docs_dedup_incremental": gen_docs_dedup_incremental,
    "cdc_merge_upsert": gen_cdc_merge_upsert,
    "curation_queries": gen_curation_queries,
}


def generate(workload: str, seed: int, out: str,
             testdata: str = DEFAULT_TESTDATA) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](_rng(seed, workload), SIZES[workload], out,
                                testdata)

