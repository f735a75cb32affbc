#!/usr/bin/env python3
"""Check the benchmark's batch queries against the DuckDB oracle at sf0.1.

    python3 perfbench/tools/oracle_check.py

Dumps every batch-workload query that has an oracle SQL (graft.Verify), then
compares each dump with DuckDB using the compare rules of
tools/local_verify.py (sorted columns and rows, floats to 1e-9 relative).
It also ties each verdict to the recorded digest: the dump's row count must
equal the digest's. Writes perfbench/digests/oracle_sf0.1.json and exits
non-zero on any failure.
"""
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def main():
    jars, java, compiler = run.environment()
    build_dir, _ = run.build(jars, java, compiler)
    manifest = json.loads((HERE / "workloads.json").read_text())
    data = run.ROOT / manifest["data"]
    queries = sorted({q for w in manifest["workloads"].values() for q in w.get("queries", [])})
    dump = run.BUILD / "oracle" / "dump"
    shutil.rmtree(dump, ignore_errors=True)
    cmd = [java, f"-Xmx{run.HEAP}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for o in run.JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(build_dir / "perfbench.jar"), str(jars / "*")]), "graft.Verify",
            str(data), str(dump), ",".join(queries)]
    subprocess.run(cmd, check=True, cwd=run.ROOT,
                   env={**os.environ, "SPARK_GRAFT_CPUS": str(run.nproc())})
    r = subprocess.run([sys.executable, str(run.ROOT / "tools" / "local_verify.py"), str(data),
                        str(dump), ",".join(queries)], capture_output=True, text=True, cwd=run.ROOT)
    print(r.stdout)
    digests = json.loads((HERE / "digests" / "digests.json").read_text())
    verdicts, bad = {}, []
    for line in r.stdout.splitlines():
        m = re.match(r"\s+(\S) (\w+)(?::| rows=)", line)
        if not m:
            continue
        mark, name = m.groups()
        rows = re.search(r"rows=(\d+)", line)
        verdict = {"✓": "match", "!": "match (float ulp)", "~": "no oracle"}.get(mark, "MISMATCH")
        expected_rows = int(digests[f"{name}@sf0.1"].split(":")[0])
        if rows and int(rows.group(1)) != expected_rows:
            verdict = f"ROW COUNT {rows.group(1)} != digest {expected_rows}"
        if verdict.isupper() or verdict.startswith("ROW"):
            bad.append(name)
        verdicts[name] = verdict
    summary = {"sf": "sf0.1", "compare": "tools/local_verify.py", "verdicts": verdicts,
               "tally": r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "", "failed": bad}
    (HERE / "digests" / "oracle_sf0.1.json").write_text(json.dumps(summary, indent=1) + "\n")
    print(f"oracle check: {len(verdicts)} queries, {len(bad)} failed {bad}")
    return 1 if bad or r.returncode != 0 else 0


if __name__ == "__main__":
    sys.exit(main())
