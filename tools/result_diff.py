#!/usr/bin/env python3
"""Compare two graft.Verify outputs result set by result set: the
result counterpart of tools/plan_diff.sh.

Usage: python3 tools/result_diff.py <verifyDirA> <verifyDirB>

Each directory holds one Verify run (one sub-directory of parquet files
per query). Queries pair by name. Rows are put in check_oracle.py's
canonical order (`norm`: columns by name, rows sorted) and compared
exactly, cell by cell, floats included. Prints each differing query and
exits non-zero on any difference, including a query present on one
side only.
"""
import glob
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import norm  # noqa: E402


def queries(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def load(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    return pq.read_table(files).to_pandas() if files else pd.DataFrame()


def cell(v):
    """Exact text of one value: repr round-trips floats; nested values
    (arrays, structs, maps) are spelled out element by element."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in v.items()) + "}"
    if v is None or (np.isscalar(v) and pd.isna(v)):
        return "null"
    return repr(v)


def rows(df):
    try:
        df = norm(df)
    except (TypeError, ValueError):
        # unorderable values (nested columns): order by the exact text
        df = df.reindex(sorted(df.columns), axis=1)
    text = [tuple(cell(v) for v in r) for r in df.itertuples(index=False)]
    return list(df.columns), sorted(text)


def diff(a, b):
    """None when the two result sets are identical, else the reason."""
    (ca, ra), (cb, rb) = rows(a), rows(b)
    if ca != cb:
        return f"columns {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} vs {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"first differing row {i}: {x} vs {y}"
    return None


def main(dir_a, dir_b):
    qa, qb = queries(dir_a), queries(dir_b)
    bad = 0
    for name in sorted(qa ^ qb):
        side = dir_a if name in qa else dir_b
        print(f"FAIL {name}: only in {side}")
        bad += 1
    same = 0
    for name in sorted(qa & qb):
        why = diff(load(dir_a, name), load(dir_b, name))
        if why:
            print(f"FAIL {name}: {why}")
            bad += 1
        else:
            same += 1
    if bad:
        print(f"FAIL: {bad} result sets differ, {same} identical")
        return 1
    print(f"ok: {same} result sets identical")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
