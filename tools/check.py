#!/usr/bin/env python3
"""Local oracle checker — my feedback loop before the driver's t2 gate.

Usage: python3 tools/check.py [sfdir] [outdir] [--run] [query ...]
  --run: invoke `sbt runMain graft.Verify` first to refresh outdir (only the
  named queries, when any are given; the oracle SQL of all is written).

For each query in outdir/oracle_sql.json: run the SQL in DuckDB (tables =
parquet basenames in sfdir), read the Spark parquet from outdir, sort columns
by name, and compare cell-exact (after canonicalizing NaN/None).
"""
import datetime
import json, math, sys, subprocess
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    # pyarrow yields datetime.date for date32; DuckDB's .df() yields a
    # midnight Timestamp for the same DATE — same value, different class
    # (the driver's hash agrees on these: a16/a18 are green there)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def main():
    args = [a for a in sys.argv[1:]]
    run = "--run" in args
    args = [a for a in args if a != "--run"]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    outdir = args[1] if len(args) > 1 else "/tmp/vout"
    only = set(args[2:])

    if run:
        subprocess.run(
            ["sbt", "-batch",
             " ".join(["runMain graft.Verify", str(Path(sfdir).resolve()),
                       str(Path(outdir).resolve()), *sorted(only)])],
            cwd=Path(__file__).resolve().parent.parent, check=True)

    con = duckdb.connect()
    for t in TABLES:
        p = Path(sfdir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.loads((Path(outdir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spath = Path(outdir) / name
        if not spath.exists():
            print(f"FAIL {name}: no spark output at {spath}")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_fail += 1
            continue
        # Driver-faithful read: the driver hashes Spark output through
        # pyarrow/pandas, NOT DuckDB. Round 5's x_scd2 was green here but
        # red at the driver because DuckDB tolerated an INT96 9999-12-31
        # sentinel that pyarrow wrapped to 2001-07-31 (int64-ns overflow).
        sptbl = pq.read_table(str(spath))
        nscols = [f.name for f in sptbl.schema
                  if str(f.type).startswith("timestamp[ns")]
        if nscols:
            print(f"FAIL {name}: ns-physical timestamp egress {nscols} "
                  f"(wraps past 2262-04-11; Verify must write TIMESTAMP_MICROS)")
            n_fail += 1
            continue
        got = sptbl.to_pandas()
        want = want.reindex(sorted(want.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns want={list(want.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        # arrow-type parity: the driver hashes FORMATTED values, so
        # decimal128 vs int64 (DuckDB HUGEINT sums) or ns vs us timestamps
        # hash-diverge even when numerically equal (round-1 a6/d3/m1).
        wt = {f.name: str(f.type) for f in con.execute(sql).arrow().schema}
        gt = {f.name: str(f.type)
              for f in con.execute(f"SELECT * FROM '{spath}/*.parquet'").arrow().schema}
        tdiff = {c: (wt.get(c), gt.get(c)) for c in wt if wt.get(c) != gt.get(c)}
        if tdiff:
            print(f"FAIL {name}: arrow dtype mismatch {tdiff}")
            n_fail += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            n_fail += 1
            continue
        bad = 0
        for c in want.columns:
            wv = [canon(x) for x in want[c].tolist()]
            gv = [canon(x) for x in got[c].tolist()]
            for i, (a, b) in enumerate(zip(wv, gv)):
                if a != b and not (a is None and b is None):
                    if bad < 3:
                        print(f"  {name}.{c}[{i}]: oracle={a!r} spark={b!r}")
                    bad += 1
        if bad:
            print(f"FAIL {name}: {bad} mismatched cells / {len(want)} rows")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(want)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
