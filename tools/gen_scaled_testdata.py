"""Scale an sf test-data dir by Nx deterministic replication.

Usage: python tools/gen_scaled_testdata.py [src] [dst] [factor]
       (defaults: /root/testdata/sf0.1 /tmp/sf1.0 10)

Perf-validation data ONLY (the driver generates its own): each fact
table is unioned Nx with key columns offset by r*STRIDE so joins stay
consistent within a replica; text/timestamps are kept identical, which
reproduces the dense near-dup structure the round-6 sf1.0 measurements
showed (each doc becomes an N-clique: 35.76M LSH candidate pairs at
10x, vs the 35.9M the round-6 sweep measured). region/nation stay
unscaled. Single parquet file per table, 1Mi-row row groups (1-6 per
table), matching the driver layout's few-row-group stress.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1.0"
R = int(sys.argv[3]) if len(sys.argv) > 3 else 10
STRIDE = 10_000_000

# table -> columns to offset per replica
OFFSET = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY = ["region", "nation"]

# fail before writing anything: a table neither offset nor copied would
# be silently missing from DST, and a key at or above STRIDE would make
# replica key ranges overlap (duplicate keys, inconsistent joins)
src_tables = {f[:-len(".parquet")] for f in os.listdir(SRC)
              if f.endswith(".parquet")}
uncovered = sorted(src_tables - set(OFFSET) - set(COPY))
if uncovered:
    sys.exit(f"{SRC}: tables in neither OFFSET nor COPY: {uncovered}")
for name, keys in OFFSET.items():
    t = pq.read_table(os.path.join(SRC, f"{name}.parquet"), columns=keys)
    for key in keys:
        top = pc.max(t[key]).as_py()
        if top is not None and top >= STRIDE:
            sys.exit(f"{name}.{key}: max key {top} >= STRIDE {STRIDE}")

os.makedirs(DST, exist_ok=True)
for name in COPY:
    t = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
    pq.write_table(t, os.path.join(DST, f"{name}.parquet"))
    print(name, t.num_rows)

for name, keys in OFFSET.items():
    t = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
    reps = []
    for r in range(R):
        if r == 0:
            reps.append(t)
            continue
        cols = []
        for field, col in zip(t.schema, t.columns):
            if field.name in keys:
                col = pc.add(col, pa.scalar(r * STRIDE, type=field.type))
            cols.append(col)
        reps.append(pa.table(cols, schema=t.schema))
    big = pa.concat_tables(reps)
    pq.write_table(big, os.path.join(DST, f"{name}.parquet"),
                   row_group_size=1 << 20)
    print(name, t.num_rows, "->", big.num_rows)

open(os.path.join(DST, "_DONE"), "w").close()
print("done ->", DST)
