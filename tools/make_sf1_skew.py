#!/usr/bin/env python3
"""Build the SKEWED sf1 fixture: make_sf1's 10x replication, then two
deterministic hot-spot rewrites — the half of the 100 TB risk surface
the uniform fixture never stresses (make_sf1 replicates every key
domain evenly, so no group, bucket, or join key is ever hot).

Usage: python3 tools/make_sf1_skew.py <sf0.1 dir> <out dir> [replicas=10]

1. Zipf-ish source mixture (documents.source): the uniform 20-way 5%
   split becomes head-heavy by doc_id modulo — src0 ~30%, src1 ~15%,
   src2 ~10%, src3 ~8%, the tail keeps its original source (~37%
   spread over 16 sources). Stresses every per-source aggregate,
   mixture/temperature sampler, manifest state, and the groupBy-source
   shuffles behind them with one dominant group.

2. One hot refer key (orders.o_custkey): rows with o_orderkey % 10 < 3
   (30% of 1.5M orders) all point at the single minimum custkey —
   the classic skewed-fact-vs-dim join hazard Refer(saltFactor) and
   AQE skew handling exist for, and a ~450k-row hot group for the
   refers-aggregate family.

Both rewrites are modulo-deterministic (no RNG — two runs produce
byte-identical fixtures) and bench-only: the sf1 skew artifact measures
plan behavior under skew; correctness stays gated at sf0.01/sf0.001.
Text, vectors, and timestamps are untouched, so the pair-output
pathology (and bench_sf1.sh's PAIR_EXCLUDE list) is unchanged.
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
import numpy as np

from make_sf1 import main as make_uniform


def skew_documents(out: str) -> None:
    t = pq.read_table(f"{out}/documents.parquet")
    doc_id = t["doc_id"].to_numpy()
    src = t["source"].to_numpy(zero_copy_only=False).astype(object)
    m = doc_id % 100
    src = np.where(m < 30, "src0",
          np.where(m < 45, "src1",
          np.where(m < 55, "src2",
          np.where(m < 63, "src3", src))))
    idx = t.schema.get_field_index("source")
    field = t.schema.field(idx)
    t = t.set_column(idx, field, pa.array(src, type=field.type))
    pq.write_table(t, f"{out}/documents.parquet")
    hot = (m < 30).sum()
    print(f"  documents: source head-skewed (src0 {hot}/{len(m)} rows)")


def skew_orders(out: str) -> None:
    t = pq.read_table(f"{out}/orders.parquet")
    okey = t["o_orderkey"].to_numpy()
    ckey = t["o_custkey"].to_numpy().copy()
    hot_key = int(ckey.min())
    hot = okey % 10 < 3
    ckey[hot] = hot_key
    idx = t.schema.get_field_index("o_custkey")
    field = t.schema.field(idx)
    t = t.set_column(idx, field, pa.array(ckey, type=field.type))
    pq.write_table(t, f"{out}/orders.parquet")
    print(f"  orders: o_custkey={hot_key} hot on {hot.sum()}/{len(okey)} rows")


if __name__ == "__main__":
    src_dir, out_dir = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    make_uniform(src_dir, out_dir, reps)
    skew_documents(out_dir)
    skew_orders(out_dir)
