#!/usr/bin/env python3
"""Compare two graft.Verify output directories output by output.

Usage: verify_diff.py <parentOut> <changeOut>

Every output directory (one per registered query) present in either
tree is loaded from its parquet files and compared by the sorted-row
value hash of oracle_check.value_hash, after the schemas (column names)
are compared; oracle_sql.json must be byte-identical. Two columns that
vary run to run by construction are normalized first:

  - x_extract_lineage.wallMs (per-partition wall clock) is dropped;
  - in every string column of x_rdfxml_file_source, the random
    graft_rdfxml_q<digits> temp directory is replaced by a fixed token.

Prints one line per output and exits 1 on any mismatch or missing output.
"""
import glob, os, re, sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import value_hash  # noqa: E402

TEMP_DIR = re.compile(r"graft_rdfxml_q\d+")


def outputs(root):
    return {d for d in os.listdir(root)
            if glob.glob(os.path.join(root, d, "*.parquet"))}


def load(root, name):
    df = pd.concat([pd.read_parquet(f) for f in
                    sorted(glob.glob(os.path.join(root, name, "*.parquet")))],
                   ignore_index=True)
    if name == "x_extract_lineage":
        df = df.drop(columns=["wallMs"])
    if name == "x_rdfxml_file_source":
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: TEMP_DIR.sub("graft_rdfxml_TMP", v)
                                  if isinstance(v, str) else v)
    return df


def main(parent, change):
    bad = 0
    for name in sorted(outputs(parent) | outputs(change)):
        try:
            p, c = load(parent, name), load(change, name)
        except Exception as e:
            print(f"{name}: MISSING ({e})"); bad += 1; continue
        if sorted(p.columns) != sorted(c.columns):
            print(f"{name}: SCHEMA {sorted(p.columns)} vs {sorted(c.columns)}"); bad += 1
        elif len(p) != len(c) or value_hash(p) != value_hash(c):
            print(f"{name}: MISMATCH rows {len(p)} vs {len(c)}"); bad += 1
        else:
            print(f"{name}: EQUAL ({len(p)} rows)")
    sql = [os.path.join(d, "oracle_sql.json") for d in (parent, change)]
    try:
        same_sql = open(sql[0], "rb").read() == open(sql[1], "rb").read()
    except OSError as e:
        print(f"oracle_sql.json: MISSING ({e})"); same_sql = False
    else:
        print(f"oracle_sql.json: {'IDENTICAL' if same_sql else 'DIFFERS'}")
    bad += not same_sql
    print(f"{bad} difference(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
