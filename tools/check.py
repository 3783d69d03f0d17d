#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify output
against DuckDB oracle SQL and compare (row count, schema-ish, values).
Usage: python3 tools/check.py <sfDir> <verifyOutDir>

DuckDB's memory_limit is about half of MemTotal (the Tier-1 driver heap
rule: floor(MemTotal / 2 GiB), clamped to 2-8 GiB), and it spills to a
private temp directory that is removed on exit. memory_limit does not
cover every allocation (the rich-vocabulary BPE oracles outgrow it), so
the address space is also capped 1 GiB above it, and each query runs in
its own forked child: an oversized oracle fails as a FAIL line, and the
memory it held goes with the child instead of failing every later query.
"""
import atexit, resource, sys, json, glob, os, shutil, tempfile
import duckdb
import pandas as pd


def memory_limit_gib():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return min(max(kb // 2097152, 2), 8)


sfdir, outdir = sys.argv[1], sys.argv[2]
limit = memory_limit_gib()
cap = (limit + 1) << 30
hard = resource.getrlimit(resource.RLIMIT_AS)[1]
if hard != resource.RLIM_INFINITY:
    cap = min(cap, hard)
resource.setrlimit(resource.RLIMIT_AS, (cap, hard))
spill = tempfile.mkdtemp(prefix="graft-check-")
atexit.register(shutil.rmtree, spill, True)


def check(name, sql):
    """The report for one query: an OK line, or FAIL and its detail."""
    con = duckdb.connect(config={"memory_limit": f"{limit}GiB",
                                 "temp_directory": spill})
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    pdir = f"{outdir}/{name}"
    try:
        got = con.sql(f"SELECT * FROM '{pdir}/*.parquet'").df()
        exp = con.sql(sql).df()
    except Exception as e:
        return f"FAIL {name}: {e}"
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"FAIL {name}: rows {len(got)} vs {len(exp)}"
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    # stringify (like a hash would) and compare cell-wise
    gs, es = g.astype(str), e.astype(str)
    if gs.equals(es):
        return f"OK   {name}: {len(got)} rows"
    diff = (gs != es)
    ncell = int(diff.values.sum())
    mask = diff.any(axis=1)
    return (f"FAIL {name}: {ncell} mismatched cells of {diff.size}\n" +
            pd.concat([g[mask].head(3).add_prefix("got_"),
                       e[mask].head(3).add_prefix("exp_")], axis=1).to_string())


def check_in_child(name, sql):
    """[[check]] in a forked child; a child that dies reports a FAIL."""
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:
        os.close(r)
        try:
            out = check(name, sql)
        except BaseException as e:
            out = f"FAIL {name}: {e}"
        with os.fdopen(w, "w") as f:
            f.write(out)
        os._exit(0)
    os.close(w)
    with os.fdopen(r) as f:
        out = f.read()
    _, status = os.waitpid(pid, 0)
    return out or f"FAIL {name}: checker exited with wait status {status}"


oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if len(sys.argv) > 3:  # optional name filter for fast iteration
    only = set(sys.argv[3].split(","))
    oracle = {k: v for k, v in oracle.items() if k in only}
fails = 0
for name, sql in sorted(oracle.items()):
    if not os.path.isdir(f"{outdir}/{name}"):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    out = check_in_child(name, sql)
    print(out, flush=True)
    fails += out.startswith("FAIL")
print(f"\n{len(oracle)-fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
