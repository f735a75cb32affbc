#!/usr/bin/env python3
"""Record the expected result digests beside the benchmark.

    python3 perfbench/tools/make_digests.py batch          # every registered query
    python3 perfbench/tools/make_digests.py serve_ingest   # every serve_ingest read/admission

Runs perfbench.Main --mode digests and rewrites perfbench/digests/digests.json,
keeping the recorded digests of the other kind. The batch mode runs each
query twice per scale and keeps only digests that agree; it also prints each
query's two wall times (the survey perfbench/digests/survey_nproc4.jsonl is
that output from a 4-core machine).
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402


def main():
    kind = sys.argv[1] if len(sys.argv) > 1 else ""
    if kind not in ("batch", "serve_ingest"):
        print(__doc__, file=sys.stderr)
        return 2
    jars, java, compiler = run.environment()
    build_dir, stamp = run.build(jars, java, compiler)

    class A:
        seed, seconds, trace, digests, inject_failure = 0, 1, 0, None, None
    rc, lines = run.run_jvm(A, "olap" if kind == "batch" else kind, jars, java, build_dir, stamp,
                            mode="digests", timeout_s=3600)
    print("\n".join(lines))
    return rc


if __name__ == "__main__":
    sys.exit(main())
