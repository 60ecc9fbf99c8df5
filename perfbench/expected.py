#!/usr/bin/env python3
"""Regenerate perfbench/expected/hashes.json, the hash each query of
query_mix must produce.

Usage, from the root of a checkout: python3 perfbench/expected.py

Runs every query of query_mix, the warm-up one too, once on the
benchmark's input rig, records Bench's all-column hash and dumps the
output, then compares each output with its SparkEntry.oracleSql query run
by DuckDB over the same testdata, by the rules of tools/local_verify.py:
columns sorted by name, rows sorted by every column, floats equal exactly
(NaN equals NaN), other values equal as text. The file is written only
when every query matches its oracle.
"""
import json
import shutil
import sys

sys.dont_write_bytecode = True
import duckdb  # noqa: E402
import numpy as np  # noqa: E402

import run  # noqa: E402


def same(exp, got):
    """local_verify.py's comparison; returns None or the first difference."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"
    exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    got = got.sort_values(by=list(got.columns), ignore_index=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" and g.dtype.kind == "f":
            ok = (e.values == g.values) | (np.isnan(e.values) & np.isnan(g.values))
        else:
            ok = e.astype(str).values == g.astype(str).values
        if not ok.all():
            i = int(np.argmin(ok))
            return f"col {c} row {i}: {g[i]!r} != {e[i]!r}"
    return None


def main():
    run.WORK.mkdir(exist_ok=True)
    cp = run.classpath()
    rec = run.WORK / "record"
    shutil.rmtree(rec, ignore_errors=True)
    rec.mkdir()
    run.jvm(cp, ["--record", str(rec), "--data", str(run.DATA), "--work", str(run.WORK)])
    hashes = json.loads((rec / "hashes.json").read_text())
    oracle = json.loads((rec / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in run.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    bad = []
    for q in sorted(hashes):
        diff = same(con.sql(oracle[q]).df(),
                    con.sql(f"SELECT * FROM '{rec}/out/{q}/*.parquet'").df())
        print(f"{q:32s} {'ok' if diff is None else 'MISMATCH ' + diff}")
        if diff is not None:
            bad.append(q)
    if bad:
        sys.exit(f"{len(bad)} queries differ from their oracle: {', '.join(bad)}")
    out = run.BENCH / "expected/hashes.json"
    out.write_text(json.dumps(hashes, indent=2, sort_keys=True) + "\n")
    print(f"{len(hashes)} hashes match their oracles; wrote {out}")


if __name__ == "__main__":
    main()
