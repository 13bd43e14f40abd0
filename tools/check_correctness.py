"""Local stand-in for the driver's correctness gate: run each
`queries()` entry AND its `oracle_sql()` against the same parquet
tables, canonicalize both (columns sorted by name, rows lexicographically
sorted, values stringified) and compare row count / schema / value hash.

Usage: python tools/check_correctness.py [--sf-dir /root/testdata/sf0.01] [--only q1,q2]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df):
    import pandas as pd  # noqa: F401

    pdf = df[sorted(df.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].map(
            lambda v: "NULL" if v is None or (isinstance(v, float) and v != v)
            else (f"{v:.6f}" if isinstance(v, float) else str(v))
        )
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return len(pdf), list(pdf.columns), h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb

    from mdmpublic_spark.queries import registry
    from mdmpublic_spark.session import get_spark

    # no console progress bar: its \r-separated [Stage …] text would sit
    # on the same terminal line as each OK/BAD verdict
    spark = get_spark(
        "correctness-check", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = registry.queries()
    oracles = registry.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    out, bad = {}, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {}
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
            if name in oracles:
                odf = con.execute(oracles[name]).fetchdf()
                sn, sc, sh = _canon(sdf)
                on, oc, oh = _canon(odf)
                rec.update(
                    rows_match=sn == on, schema_match=sc == oc, hash_match=sh == oh,
                    oracle_rows=on,
                )
                if not (sn == on and sc == oc and sh == oh):
                    bad += 1
                    rec["spark_schema"] = sc
                    rec["oracle_schema"] = oc
            else:
                rec["err"] = "no_oracle"
        except Exception:
            rec["err"] = traceback.format_exc()[-1500:]
            bad += 1
        out[name] = rec
        status = "OK " if rec.get("hash_match") else ("-- " if rec.get("err") == "no_oracle" else "BAD")
        print(f"{status} {name}: {json.dumps({k: v for k, v in rec.items() if k != 'err'})}")
        if rec.get("err") and rec["err"] != "no_oracle":
            print(rec["err"])
    print(f"\n{len(out)} checked, {bad} failing")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
