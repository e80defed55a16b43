"""Dev tool: build a scaled-up copy of an sf directory for LOCAL A/B only.

The driver's escalated sf1.0 tables are regenerated by the driver and are not
present in /root/testdata after a sandbox restart; optimization A/Bs still
need a corpus big enough that per-round shuffles dominate fixed costs. This
replicates every table FACTOR times with key offsets so join fan-outs stay
realistic (each copy is a disjoint universe: customers of copy i only order
orders of copy i, etc.). Document/embedding text gets a per-copy salt so
dedup/LSH entries see realistic (not FACTOR-fold duplicated) data.

NOT a substitute for the driver's deterministic generator — numbers measured
on this data are only comparable against other runs on this same data.

Usage: python jobs/make_scaled_sf.py [src_dir] [dst_dir] [factor]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfx1.0"
FACTOR = int(sys.argv[3]) if len(sys.argv) > 3 else 10

# key columns to offset per copy: (table, {col: stride})
OFFSETS = {
    "customer": {"c_custkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000, "l_suppkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
    # nation/region: tiny dims, copied once (keys must not change — they are
    # foreign keys from customer/supplier rows in every copy)
}
SMALL = {"nation", "region"}
# text salt: vary document text per copy so exact/near-dup entries don't see
# a FACTOR-fold duplicated corpus (which would change their regime entirely)
TEXT_SALT = {"documents": "text"}


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    import glob

    for p in sorted(glob.glob(os.path.join(SRC, "*.parquet"))):
        t = os.path.basename(p).replace(".parquet", "")
        out = os.path.join(DST, f"{t}.parquet")
        if t in SMALL:
            con.execute(f"COPY (SELECT * FROM '{p}') TO '{out}' (FORMAT PARQUET)")
            print(t, "copied")
            continue
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{p}'").fetchall()]
        # a key at or above its stride would collide with the next copy's
        # keys, silently merging universes and corrupting join fan-out
        for c, off in OFFSETS.get(t, {}).items():
            hi = con.execute(f"SELECT max({c}) FROM '{p}'").fetchone()[0]
            if hi is not None and hi >= off:
                raise ValueError(f"{t}.{c}: max key {hi} >= stride {off}")
        parts = []
        for i in range(FACTOR):
            sel = []
            for c in cols:
                off = OFFSETS.get(t, {}).get(c)
                if off is not None:
                    sel.append(f"({c} + {i * off}) AS {c}")
                elif TEXT_SALT.get(t) == c and i > 0:
                    sel.append(f"({c} || ' copysalt{i}') AS {c}")
                else:
                    sel.append(c)
            parts.append(f"SELECT {', '.join(sel)} FROM '{p}'")
        q = " UNION ALL ".join(parts)
        con.execute(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        print(t, n)
    # bench/sf detection reads 'sf<d>' from the path; add marker file
    with open(os.path.join(DST, "_SCALED_FROM"), "w") as f:
        f.write(f"{SRC} x{FACTOR}\n")


if __name__ == "__main__":
    main()
