"""Deterministic scale-up of the driver testdata (VERDICT round-2 item 2).

Usage: python tools/gen_sf.py [mult] [src_sf_dir] [out_dir]
Default: 10x /root/testdata/sf0.1 -> .scratch/sf1

The driver's generator is not available, so sf1 is built as MULT
key-shifted copies of sf0.1: every fact/dim row is replicated with its
primary and foreign keys offset by copy_index * (max_key + 1), which
preserves join fan-outs, value distributions, and skew exactly while
scaling row counts 10x. region/nation stay fixed (dimension tables are
constant-size in TPC-H). Copy 0 is byte-identical to the source, so sf1
strictly contains sf0.1.

documents gets a per-copy ' [vK]' text suffix (k>0) with n_chars updated
to keep the n_chars == length(text) invariant: copies become high-Jaccard
NEAR-duplicates rather than exact duplicates, so the dedup tier sees a
denser but non-degenerate pair space (exact-dup queries still find the
within-copy duplicates the generator planted). embeddings get a
deterministic per-copy perturbation (+k*1e-3 on one vec_id-dependent
dimension): identical twins would make every ANN method trivially
recover the exact top-k (all four ANN queries hashed identically at sf1
in round 3), while near-twins make recall@k a real measurement
(BASELINE.md records it per ANN query).

Correctness at sf1 is still a fair gate: Spark and the DuckDB oracle read
the SAME files, whatever their provenance.
"""

from __future__ import annotations

import os
import sys

import duckdb

COPY_SPECS = {
    # table -> (key columns to offset by that table's own span,
    #           {fk_col: parent_table})
    "customer": (["c_custkey"], {}),
    "supplier": (["s_suppkey"], {}),
    "part": (["p_partkey"], {}),
    "orders": (["o_orderkey"], {"o_custkey": "customer"}),
    "lineitem": ([], {"l_orderkey": "orders", "l_partkey": "part",
                      "l_suppkey": "supplier"}),
    "events": (["event_id"], {"user_id": "events_user"}),
    "documents": (["doc_id"], {}),
    "embeddings": (["vec_id"], {}),
}


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        os.path.dirname(__file__), "..", ".scratch", "sf1")
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{src}/{t}.parquet')")

    spans = {
        t: con.execute(f"SELECT max({k}) + 1 FROM {t}").fetchone()[0]
        for t, k in [("customer", "c_custkey"), ("supplier", "s_suppkey"),
                     ("part", "p_partkey"), ("orders", "o_orderkey"),
                     ("events", "event_id"), ("documents", "doc_id"),
                     ("embeddings", "vec_id")]
    }
    spans["events_user"] = con.execute(
        "SELECT max(user_id) + 1 FROM events").fetchone()[0]

    for t in ["region", "nation"]:
        con.execute(f"COPY {t} TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        print(t, "copied as-is")

    for t, (own_keys, fks) in COPY_SPECS.items():
        cols = [c[0] for c in con.execute(f"DESCRIBE {t}").fetchall()]
        parts = []
        for k in range(mult):
            sel = []
            for c in cols:
                if c in own_keys:
                    sel.append(f"{c} + {k * spans[t]} AS {c}")
                elif c in fks:
                    sel.append(f"{c} + {k * spans[fks[c]]} AS {c}")
                elif t == "documents" and c == "text" and k > 0:
                    sel.append(f"text || ' [v{k}]' AS text")
                elif t == "documents" and c == "n_chars" and k > 0:
                    sel.append(f"n_chars + {len(f' [v{k}]')} AS n_chars")
                elif t == "embeddings" and c == "embedding" and k > 0:
                    # deterministic per-copy hash-noise on EVERY dimension
                    # (amplitude 0.05 on ~unit vectors -> copy-to-original
                    # cosine ~0.97): copies become near neighbors instead
                    # of identical twins, so exact kNN and ANN stop
                    # trivially agreeing and recall@k becomes a real
                    # measurement (round-3 VERDICT item 5). A single-dim
                    # 1e-3 nudge was tried first and left recall pinned at
                    # 1.0 — too small to ever flip an SRP hyperplane sign.
                    sel.append(
                        "list_transform(embedding, (x, i) -> CAST(x + "
                        f"0.05 * ((((vec_id * 37 + i * 101 + {k} * 13) "
                        "% 17) - 8) / 8.0) AS FLOAT)) AS embedding")
                else:
                    sel.append(c)
            parts.append(f"SELECT {', '.join(sel)} FROM {t}")
        union = " UNION ALL ".join(parts)
        con.execute(f"COPY ({union}) TO '{out}/{t}.parquet' "
                    f"(FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(t, f"x{mult} -> {n} rows")

    print("done:", out)


if __name__ == "__main__":
    main()
