#!/usr/bin/env python3
"""Cross-run bench comparison: line up per-query warm medians of same-box
Bench artifacts to separate real regressions from run-to-run noise. Usage:

    python3 tools/bench_adjudicate.py run1.json run2.json [run3.json ...]

Refuses (exit 2) runs whose `host_fingerprint` differs or is missing: a
timing from another host or another core count is not comparable.

Prints a table for the suspect queries plus any query whose max/min ratio
across runs exceeds 2x (large within-box variance with no code change).
"""
import json
import sys

SUSPECTS = [
    "q105_unigram_logprob", "q116_bigram_logprob",
    "q108_streaming_decontaminate", "q179_lsh_recall_audit",
]


def main(paths):
    runs = [json.load(open(p)) for p in paths]
    hosts = [r.get("host_fingerprint") for r in runs]
    if None in hosts or len(set(hosts)) > 1:
        print("refusing to compare runs from different hosts:", file=sys.stderr)
        for p, h in zip(paths, hosts):
            print(f"  {p}: host_fingerprint {h if h is not None else '(missing)'}",
                  file=sys.stderr)
        return 2
    warm = [r["queries_warm"] for r in runs]
    names = sorted(set().union(*[set(w) for w in warm]))
    print(f"{'query':42s} " + " ".join(f"{'run' + str(i + 1):>6s}" for i in range(len(runs)))
          + "   max/min")
    flagged = []
    for n in names:
        vs = [w.get(n, float('nan')) for w in warm]
        lo, hi = min(vs), max(vs)
        ratio = hi / lo if lo > 0 else float('inf')
        if n in SUSPECTS or ratio > 2.0:
            flagged.append((n, vs, ratio))
    for n, vs, ratio in sorted(flagged, key=lambda t: -t[2]):
        mark = " <== suspect" if n in SUSPECTS else ""
        print(f"{n:42s} " + " ".join(f"{v:6.2f}" for v in vs)
              + f"   {ratio:6.2f}{mark}")
    totals = [float(r["total_warm"]) for r in runs]
    print(f"\n{'TOTAL warm':42s} " + " ".join(f"{t:6.1f}" for t in totals))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
