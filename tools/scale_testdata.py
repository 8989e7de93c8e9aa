#!/usr/bin/env python3
"""Deterministic N× scale-up of a driver testdata dir (test tooling only).

Usage: python3 tools/scale_testdata.py [srcDir] [dstDir] [factor]
Default: /root/testdata/sf0.1 -> /tmp/testdata-sf1, factor 10.

Recipe (the "TESTDATA recipe" named by VERDICT r03 next-round #1): the
driver's tables are deterministic seed=42 synthetics; a faithful sf1-scale
instance for *differential* testing (Spark vs DuckDB over the SAME files)
only needs (a) 10× the rows, (b) intact referential integrity, (c) the
exact physical parquet schemas the driver writes (notably events.ts —
timestamp[ns] through round 7, timestamp[us] since the 2026-08-13
regeneration; the same Tables.events read path must stay exercised). So: emit
`factor` key-shifted copies of every scaled table, shifting every
primary/foreign key of the scaled fact/dim graph by copy_idx * STRIDE so
joins land exactly as in copy 0, and keep the tiny fixed dims (region,
nation) as-is. Non-key content is replicated unchanged — value domains,
date ranges, and text corpora keep the distributions every declared query
filters on. Copy 0 is byte-identical rows, so point lookups with literal
keys still hit.

Written with pyarrow (NOT Spark) on purpose: Spark cannot write
timestamp[ns] parquet (and rewrites timestamp[us] through its own writer
path), and this file must reproduce the driver's physical types
bit-for-bit (coerce_timestamps=None) so the engine-under-test sees the
same read path at sf1 as at sf0.1. This is test harness tooling (like verify_local.py), not part
of the Spark library surface.
"""
import sys, os, glob
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata-sf1"
FACTOR = int(sys.argv[3]) if len(sys.argv) > 3 else 10

# Key stride: far above any sf0.1 key (max observed ~6e5), small enough
# that (FACTOR-1)*STRIDE never overflows int64. No query packs doc_id into
# a narrower key (ranks order by (sig, doc_id) as columns), so FACTOR has
# no doc_id bound.
STRIDE = 100_000_000

# Per-table int64 key columns to shift per copy. Tables absent from this
# map are fixed dimensions copied once, unscaled.
SHIFT = {
    "customer":   ["c_custkey"],
    "supplier":   ["s_suppkey"],
    "part":       ["p_partkey"],
    "orders":     ["o_orderkey", "o_custkey"],
    "lineitem":   ["l_orderkey", "l_partkey", "l_suppkey"],
    "events":     ["event_id", "user_id"],
    "documents":  ["doc_id"],
    "embeddings": ["vec_id"],
}

os.makedirs(DST, exist_ok=True)
for path in sorted(glob.glob(f"{SRC}/*.parquet")):
    name = os.path.basename(path)[: -len(".parquet")]
    src = pq.read_table(path)
    if name not in SHIFT:
        out = src
    else:
        keys = SHIFT[name]
        copies = []
        for i in range(FACTOR):
            t = src
            if i > 0:
                for k in keys:
                    idx = t.schema.get_field_index(k)
                    shifted = pc.add(t.column(k), pa.scalar(i * STRIDE, pa.int64()))
                    t = t.set_column(idx, t.schema.field(k), shifted.cast(t.schema.field(k).type))
            copies.append(t)
        out = pa.concat_tables(copies)
    assert out.schema == src.schema, f"{name}: schema drifted"
    # version 2.6 preserves TIMESTAMP(NANOS) (events.ts) — the driver's
    # files carry it and the Spark nanosAsLong read path must be exercised.
    pq.write_table(out, f"{DST}/{name}.parquet", version="2.6",
                   coerce_timestamps=None, row_group_size=131072)
    print(f"{name}: {src.num_rows} -> {out.num_rows}")
print("done:", DST)
