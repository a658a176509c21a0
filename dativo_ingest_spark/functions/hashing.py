"""Deterministic, engine-portable hashing for fingerprints / MinHash / LSH.

Everything is built on ``md5`` over strings because md5 is bit-identical in
Spark, DuckDB, and any other engine — which makes near-dup results
oracle-checkable. Hash *ordering* uses the hex-string values directly
(fixed-width lowercase hex compares lexicographically the same everywhere),
avoiding engine-specific hex→int conversions.

MinHash scheme (standard broder-style minwise hashing; public algorithm):
  h(x)   = md5(x) || md5('x' || x) || ...    -- ceil(H/4) md5s per shingle
  h_s(x) = substring(h(x), 8s + 1, 8)         -- chunk s = hash function s
  sig[s] = min over shingles of h_s(x)        -- lexicographic min
  key b  = b || '|' || sig[b*r] || '|' || ... || sig[b*r+r-1]
Signatures come from :func:`chunked_gram_hashes` plus a grouped ``min``
(``operators/dedup.py:_sig_from_grams``); band keys are the raw
``|``-joined signature slices, not re-hashed
(``operators/dedup.py:_band_key_cols``). Docs sharing a band key are
candidate pairs, verified afterwards. At 100 TB this is the classic
shuffle-light pipeline: explode bands → shuffle by band key → pair join
within small buckets only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dativo_ingest_spark.functions.text import normalize_ws


def content_fingerprint(col: Column) -> Column:
    """md5 of whitespace-normalized lowercase text (exact-dup key)."""
    return F.md5(normalize_ws(col))


def chunked_gram_hashes(col: Column, num_hashes: int) -> Column:
    """Concatenated-md5 hex string whose 8-char chunks are ``num_hashes``
    independent 32-bit minwise hash values for ``col``.

    Chunk ``s`` (``substring(h, s*8+1, 8)``) is hash function ``s``; the min
    over a doc's shingles of each chunk is the minwise signature. Fixed-width
    lowercase hex compares lexicographically like the 32-bit value, so
    ``min()`` needs no hex→int conversion anywhere. ceil(num_hashes/4) md5
    calls per shingle (vs one md5 per hash function in the per-seed scheme),
    and the flat expression stays in whole-stage codegen on exploded rows.
    """
    n_md5 = -(-num_hashes // 4)  # 32 hex chars = 4 chunks per md5
    parts = [
        F.md5(col) if i == 0 else F.md5(F.concat(F.lit("x" * i), col))
        for i in range(n_md5)
    ]
    return parts[0] if n_md5 == 1 else F.concat(*parts)


def hamming_distance(a: Column, b: Column, bits: int) -> Column:
    """Differing-position count between two equal-length bitstrings."""
    return F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: a.substr(i, F.lit(1)) != b.substr(i, F.lit(1)),
        )
    ).cast("long")
