#!/usr/bin/env python3
"""Choose the fixed query subsets of the batch workloads.

    python3 perfbench/tools/choose_subsets.py [survey.jsonl]

Each batch workload draws from its own candidate list (see the rule text in
perfbench/workloads.json). Candidates are grouped by family (the leading
letter of the name) and ordered within a family by sha256("graft-perfbench/"
+ name), a fixed seeded order. Every family gets an equal share of the
workload's per-pass budget and walks its order, adding each query whose warm
sf0.1 time still fits the family's share; a family where none fits adds its
cheapest query, so every family is measured. Warm times are the second-run
times of perfbench/digests/survey_nproc4.jsonl (a 4-core run of
`--mode digests`). Prints the lists as JSON.
"""
import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
LOOPS = ["g01_pagerank", "g03_components", "g05_kcore", "g07_hits", "g10_conductance",
         "g12_modularity", "g13_bfs_layers", "g14_label_propagation", "t20_textrank",
         "v24_power_iteration", "v28_kmeans", "d06_dedup_groups", "d09_dedup_best_keeper",
         "d20_dedup_savings", "p16_leakfree_split", "p17_dataset_card"]
BUDGET_S = {"olap": 2.5, "iterative": 5.0, "curation": 3.0}


def main():
    survey = Path(sys.argv[1]) if len(sys.argv) > 1 else HERE / "digests" / "survey_nproc4.jsonl"
    warm = {}
    for line in survey.read_text().splitlines():
        r = json.loads(line)
        if r.get("sf") == "sf0.1" and "second_s" in r:
            warm[r["query"]] = r["second_s"]
    loops = {q for q in warm if q in LOOPS}
    candidates = {
        "olap": [q for q in warm if q[0] in "qs"],
        "iterative": sorted(loops),
        "curation": [q for q in warm if q[0] in "dtvmpg" and q not in loops],
    }
    out = {}
    for w, qs in candidates.items():
        fams = {}
        for q in sorted(qs, key=lambda q: hashlib.sha256(f"graft-perfbench/{q}".encode()).hexdigest()):
            fams.setdefault(q[0], []).append(q)
        share = BUDGET_S[w] / len(fams)
        chosen = []
        for f in sorted(fams):
            picked, left = [], share
            for q in fams[f]:
                if warm[q] <= left:
                    picked.append(q)
                    left -= warm[q]
            chosen += picked or [min(fams[f], key=warm.get)]
        out[w] = {"queries": sorted(chosen),
                  "pass_estimate_s": round(sum(warm[q] for q in chosen), 2),
                  "candidates": len(qs)}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
