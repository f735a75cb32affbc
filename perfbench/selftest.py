#!/usr/bin/env python3
"""Self-tests of the graft benchmark: its checks catch failures.

    python3 perfbench/selftest.py

1. In-process checks (perfbench.SelfTest): the percentile rule and the
   result digest on fixed samples.
2. A perturbed expected digest makes the run report correct=false and exit
   non-zero.
3. An injected failing operation raises failed_frac and the failed count.
4. Malformed arguments are rejected with exit 2.

Exits 0 when every check holds.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

WORKLOAD = "curation"
failures = 0


def expect(what, cond, detail=""):
    global failures
    print(f"selftest: {'ok  ' if cond else 'FAIL'} {what}" + ("" if cond else f" -- {detail}"),
          flush=True)
    if not cond:
        failures += 1


def bench(*extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD, "--seed", "3",
           "--seconds", "1", "--trace", "0", *extra]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=run.ROOT)
    lines = r.stdout.splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return r.returncode, result, lines, r.stderr


def e2e(lines, name):
    for line in lines:
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "perfbench:" and parts[1] == name:
            return float(parts[2])
    return None


def main():
    jars, java, compiler = run.environment()
    build_dir, stamp = run.build(jars, java, compiler)

    class A:
        seed, seconds, trace, digests, inject_failure = 0, 1, 0, None, None
    rc, lines = run.run_jvm(A, WORKLOAD, jars, java, build_dir, stamp, mode="selftest")
    print("\n".join(lines))
    expect("in-process checks pass", rc == 0, f"exit {rc}")

    queries = json.loads((HERE / "workloads.json").read_text())["workloads"][WORKLOAD]["queries"]
    digests = json.loads((HERE / "digests" / "digests.json").read_text())
    victim = f"{queries[0]}@sf0.1"
    d = digests[victim]
    digests[victim] = d[:-1] + ("0" if d[-1] != "0" else "1")
    perturbed = run.BUILD / "selftest" / "digests.json"
    perturbed.parent.mkdir(parents=True, exist_ok=True)
    perturbed.write_text(json.dumps(digests, indent=1))
    rc, res, lines, err = bench("--digests", str(perturbed))
    expect("a perturbed digest makes the run exit non-zero", rc != 0, f"exit {rc}")
    expect("a perturbed digest reports correct=false", res is not None and res["correct"] is False,
           str(res))
    expect("the mismatch names the query", f"{victim}: wrong result" in err, err[-500:])
    expect("wrong_results counts the mismatch", (e2e(lines, "wrong_results") or 0) >= 1)

    rc, res, lines, err = bench("--inject-failure", queries[1])
    ff = e2e(lines, "failed_frac")
    expect("an injected failure is counted in failed", res is not None and res["failed"] >= 1, str(res))
    expect("an injected failure raises failed_frac", ff is not None and ff > 0, str(ff))
    expect("the failure is logged with query and exception class",
           f"{queries[1]} failed" in err and "InjectedFailure" in err, err[-500:])
    expect("a clean run still exits 0 beside an injected failure", rc == 0, f"exit {rc}")

    for bad in [["--seconds", "0"], ["--trace", "2"], ["--seed", "x"]]:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD, "--seed", "1",
               "--seconds", "1", "--trace", "0"]
        for i in range(0, len(bad), 2):
            j = cmd.index(bad[i]) if bad[i] in cmd else -1
            if j >= 0:
                cmd[j + 1] = bad[i + 1]
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=run.ROOT)
        expect(f"rejects {bad} with exit 2 and no result", r.returncode == 2 and not r.stdout.strip(),
               f"exit {r.returncode}: {r.stderr[-200:]}")

    print(f"selftest: {'all passed' if failures == 0 else f'{failures} failed'}")
    return 0 if failures == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
