#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds run records, one JSON object a line, as `run.py` appends
them to `perfbench/.work/results.jsonl`. For every workload the script
prints each end-to-end metric's median and quartiles on both sides, and
the median foreign CPU share so that a busy host can be told from a
regression. For every query it prints "same plan" or "plan changed"
(plan fingerprints of the executed sink plans) with its latency and, when
traced runs exist on both sides, its job count and the per-layer deltas.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def fmt(xs):
    if not xs:
        return "-"
    q1, q2, q3 = quartiles(xs)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}"


def delta(a, b):
    if not a or not b:
        return ""
    ma, mb = statistics.median(a), statistics.median(b)
    return f"{(mb - ma) / ma * 100:+.1f}%" if ma else ""


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted({r["workload"] for r in base + new}):
        a = [r for r in base if r["workload"] == w]
        b = [r for r in new if r["workload"] == w]
        print(f"== {w}: {len(a)} vs {len(b)} runs "
              f"({sum(not r['correct'] for r in a)} vs {sum(not r['correct'] for r in b)} incorrect)")
        metrics = sorted({m for r in a + b for m in r["end_to_end"]})
        for m in metrics:
            xa = [r["end_to_end"][m] for r in a if m in r["end_to_end"]]
            xb = [r["end_to_end"][m] for r in b if m in r["end_to_end"]]
            print(f"  {m:<16} {fmt(xa):<40} {fmt(xb):<40} {delta(xa, xb)}")
        fa = [statistics.median(r["foreign_cpu_frac"]) for r in a]
        fb = [statistics.median(r["foreign_cpu_frac"]) for r in b]
        print(f"  {'foreign_cpu':<16} {fmt(fa):<40} {fmt(fb):<40}")

        ta = [r for r in a if r.get("per_layer")]
        tb = [r for r in b if r.get("per_layer")]
        for q in sorted({q for r in a + b for q in r["queries"]}):
            pa = {f for r in a for f in r["queries"].get(q, {}).get("fingerprints", [])}
            pb = {f for r in b for f in r["queries"].get(q, {}).get("fingerprints", [])}
            verdict = "same plan" if pa == pb else "plan changed"
            sa = [r["queries"][q]["s_median"] for r in a if q in r["queries"]]
            sb = [r["queries"][q]["s_median"] for r in b if q in r["queries"]]
            line = f"  query {q}: {verdict}; s {fmt(sa)} -> {fmt(sb)} {delta(sa, sb)}"
            ja = [r["queries"][q]["jobs"] for r in ta if "jobs" in r["queries"].get(q, {})]
            jb = [r["queries"][q]["jobs"] for r in tb if "jobs" in r["queries"].get(q, {})]
            if ja and jb:
                line += f"; jobs {statistics.median(ja):g} -> {statistics.median(jb):g}"
            print(line)
        if ta and tb:
            print("  per-layer (traced runs, medians):")
            for m in sorted(ta[0]["per_layer"]):
                if m.startswith("query."):
                    continue
                xa = [r["per_layer"][m] for r in ta]
                xb = [r["per_layer"][m] for r in tb]
                ma, mb = statistics.median(xa), statistics.median(xb)
                if ma != mb:
                    print(f"    {m:<26} {ma:<14.6g} {mb:<14.6g} {delta(xa, xb)}")


if __name__ == "__main__":
    main()
