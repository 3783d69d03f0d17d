#!/usr/bin/env python3
"""Compare two graft.Verify output dirs cell for cell.

Usage: python3 tools/verify_diff.py <dirA> <dirB> [--only PATTERN[,PATTERN...]]

Each query's parquet output under <dirA>/<name> is compared with
<dirB>/<name>: columns are matched by name (and must have the same type),
rows are sorted, then every cell must be equal. NaN equals NaN, null
equals null, and doubles compare exactly (-0.0 differs from 0.0). Nested
lists, structs and maps compare element by element under the same rules.
`--only` keeps the queries whose names match one of the fnmatch patterns
(e.g. 'ts_*,stream_*'). oracle_sql.json must be byte-identical.

Prints one verdict per query (SAME or DIFF), then a summary; exits 1 on
any difference, including a query present on one side only.
"""
import argparse, fnmatch, os, sys

import pyarrow.parquet as pq


def canon(v):
    """A cell as a string that is equal exactly when the cells are."""
    if v is None:
        return "\x00null"
    if isinstance(v, float):
        return repr(v)  # the shortest round-trip form: equal iff the doubles are
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def load(path):
    """(column name -> type, sorted rows of canonical cells), columns in
    name order."""
    t = pq.read_table(path)
    names = sorted(t.column_names)
    types = {n: str(t.schema.field(n).type) for n in names}
    cols = [t.column(n).to_pylist() for n in names]
    rows = sorted(tuple(canon(c[i]) for c in cols) for i in range(t.num_rows))
    return types, rows


def compare(a, b):
    """None when the two outputs are equal, else the first difference."""
    (ta, ra), (tb, rb) = load(a), load(b)
    if list(ta) != list(tb):
        return f"columns {list(ta)} vs {list(tb)}"
    if ta != tb:
        return "types " + ", ".join(f"{n}: {ta[n]} vs {tb[n]}" for n in ta if ta[n] != tb[n])
    if len(ra) != len(rb):
        return f"rows {len(ra)} vs {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            cells = [f"{n}: {p} vs {q}" for n, p, q in zip(ta, x, y) if p != q]
            return f"sorted row {i}: " + "; ".join(cells)
    return None


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--only", default="*")
    args = ap.parse_args()
    pats = args.only.split(",")
    names = sorted(n for n in queries(args.a) | queries(args.b)
                   if any(fnmatch.fnmatch(n, p) for p in pats))
    same = 0
    for n in names:
        pa, pb = os.path.join(args.a, n), os.path.join(args.b, n)
        if not os.path.isdir(pa) or not os.path.isdir(pb):
            print(f"DIFF {n}: only in {args.a if os.path.isdir(pa) else args.b}")
            continue
        try:
            why = compare(pa, pb)
        except Exception as e:  # an unreadable output is a difference
            why = f"unreadable: {e}"
        if why is None:
            same += 1
            print(f"SAME {n}")
        else:
            print(f"DIFF {n}: {why}")
    oracle = [open(os.path.join(d, "oracle_sql.json"), "rb").read()
              if os.path.exists(os.path.join(d, "oracle_sql.json")) else None
              for d in (args.a, args.b)]
    oracle_same = oracle[0] is not None and oracle[0] == oracle[1]
    print(f"oracle_sql.json: {'identical' if oracle_same else 'DIFFERS or missing'}")
    print(f"{same}/{len(names)} queries identical")
    sys.exit(0 if same == len(names) and oracle_same else 1)


if __name__ == "__main__":
    main()
