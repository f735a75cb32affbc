#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/local_verify.py [sfDir] [outDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran (or runs
it with --run). Loads each <outDir>/<name> parquet, runs the matching
oracle SQL in DuckDB against the sfDir tables, and compares:
  - schema (sorted column names)
  - row count
  - values: rows sorted, floats compared exactly AND with 1e-9 rel tol
so we can see whether a float hash-mismatch risk exists before the driver
does.
"""
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return v
    return v


def rows_key(r):
    return tuple((x is None, str(x)) for x in r)


def close(a, b):
    if a is None or b is None:
        return a is b or a == b
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def main():
    pos = [a for a in sys.argv[1:] if a != "--run"]
    sf_dir = pos[0] if len(pos) > 0 else "/root/testdata/sf0.01"
    out_dir = Path(pos[1] if len(pos) > 1 else "/tmp/verify_out")
    # Optional 3rd positional: comma-separated query names (fast
    # single-operator loop — only those are dumped and compared).
    only = pos[2] if len(pos) > 2 else ""
    if "--run" in sys.argv:
        # No check=True: Verify exits 1 when a query fails but still
        # dumps the rest, and the compare below reports the missing dump.
        subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir} {only}'.rstrip()],
            cwd=Path(__file__).resolve().parent.parent)

    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        # Driver tables are single files; locally generated scale corpora
        # (Sf1Gen) are Spark directory layouts — glob those.
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    n_pass = n_fail = n_noora = n_timeout = 0
    timed_out = []
    # Zero-row census (r12, verdict item 6): an engine dump with 0 rows
    # compares vacuously green against an empty oracle — the verdict means
    # "both engines agree the answer is empty", which verifies nothing
    # about the operator's value path at this SF. Keep the list of such
    # queries a standing, loud output (today only g09 at scaled SFs).
    zero_row = []
    only_set = {q for q in only.split(",") if q}
    for pq in sorted(out_dir.iterdir()):
        if not pq.is_dir():
            continue
        name = pq.name
        # Single-operator mode compares ONLY the requested queries —
        # out_dir may hold stale dirs from earlier full runs.
        if only_set and name not in only_set:
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{pq}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        if not got_rows:
            zero_row.append(name)
        if name not in oracle:
            n_noora += 1
            print(f"  ~ {name}: no oracle (rows-only) rows={len(got_rows)}")
            continue
        try:
            # Optional per-oracle timeout (GRAFT_ORACLE_TIMEOUT seconds):
            # at locally generated scale corpora some oracles are
            # legitimately compute-bound in DuckDB (quadratic re-derive
            # passes the engine itself avoids); a timeout records them as
            # 'oracle-timeout' instead of hanging the sweep. Unset = the
            # driver's behavior (no timeout).
            import threading
            tmo = float(os.environ.get("GRAFT_ORACLE_TIMEOUT", "0") or 0)
            timer = None
            if tmo > 0:
                timer = threading.Timer(tmo, con.interrupt)
                timer.start()
            try:
                exp = con.execute(oracle[name])
                exp_cols = [d[0] for d in exp.description]
                exp_rows = exp.fetchall()
            finally:
                if timer is not None:
                    timer.cancel()
        except Exception as e:
            if "INTERRUPT" in str(e).upper() or "interrupted" in str(e).lower():
                # Timeouts are NOT the rows-only bucket: a regression that
                # makes a previously-verified oracle permanently slow must
                # stay visible, not silently shrink the verified set.
                n_timeout += 1
                timed_out.append(name)
                print(f"  ~ {name}: oracle-timeout after {tmo:.0f}s (compute-bound re-derive)")
                continue
            n_fail += 1
            print(f"  ✗ {name}: ORACLE SQL ERROR: {e}")
            continue
        ok = True
        if sorted(got_cols) != sorted(exp_cols):
            ok = False
            print(f"  ✗ {name}: schema mismatch got={sorted(got_cols)} exp={sorted(exp_cols)}")
        elif len(got_rows) != len(exp_rows):
            ok = False
            print(f"  ✗ {name}: rowcount got={len(got_rows)} exp={len(exp_rows)}")
        else:
            # align column order by sorted name
            gi = [got_cols.index(c) for c in sorted(got_cols)]
            ei = [exp_cols.index(c) for c in sorted(exp_cols)]
            g = sorted([tuple(r[i] for i in gi) for r in got_rows], key=rows_key)
            e = sorted([tuple(r[i] for i in ei) for r in exp_rows], key=rows_key)
            exact = g == e
            fuzzy = all(all(close(a, b) for a, b in zip(rg, re)) for rg, re in zip(g, e))
            if exact:
                pass
            elif fuzzy:
                print(f"  ! {name}: exact-hash differs, fuzzy-match OK (float ulp) rows={len(g)}")
            else:
                ok = False
                bad = next((rg, re) for rg, re in zip(g, e)
                           if not all(close(a, b) for a, b in zip(rg, re)))
                print(f"  ✗ {name}: VALUE mismatch e.g. got={bad[0]} exp={bad[1]}")
        if ok:
            n_pass += 1
            print(f"  ✓ {name} rows={len(got_rows)}")
        else:
            n_fail += 1
    # A query whose dump is missing (it failed, or was never run) is a
    # FAIL, not a silent drop from PASS: every oracle name — every
    # requested name in single-operator mode — must have a dump.
    for name in sorted(only_set or oracle.keys()):
        if not (out_dir / name).is_dir():
            n_fail += 1
            print(f"  ✗ {name}: no engine dump")
    tmo_note = f" TIMEOUT={n_timeout}" + (f" ({','.join(timed_out)})" if timed_out else "")
    print(f"ZERO-ROW={len(zero_row)}" + (f" ({','.join(zero_row)})" if zero_row else ""))
    if zero_row:
        print("WARNING: zero-row engine dumps compare vacuously — their "
              "value verdicts certify nothing at this SF")
    print(f"PASS={n_pass} FAIL={n_fail} NO-ORACLE={n_noora}" + (tmo_note if n_timeout else " TIMEOUT=0"))
    # GRAFT_STRICT_TIMEOUT=1 (CI-style gate): a new permanent oracle
    # timeout is a regression, not a pass — nonzero-exit on it so
    # scripted invocations can't green-light a shrunken verified set.
    strict = os.environ.get("GRAFT_STRICT_TIMEOUT", "") not in ("", "0")
    sys.exit(1 if (n_fail or (strict and n_timeout)) else 0)


if __name__ == "__main__":
    main()
