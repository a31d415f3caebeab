#!/usr/bin/env python3
"""Query-by-query diff of two graft.Bench full records.

Usage: python3 tools/benchdiff.py A.json B.json

A and B are `bench_full.json` files (A the baseline). Prints:

- the geometric mean over the queries both runs completed of the
  per-query wall ratio B/A, beside the ratio of the suite totals;
- every query whose wall grew by more than THRESHOLD (10%), slowest
  growth first, with the context that tells a plan regression from a
  starved JVM: its `q_wcg` triple ([wall_s, cpu_s, gc_s]; a wall far
  above cpu/threads + gc means the host, not the plan), its `tk_*`
  task counters (same tasks and bytes with more CPU is per-task
  slowdown, not extra work) and `cg_n` (classes compiled by Spark
  codegen during the query);
- queries that failed in either run, or ran in only one.

Walls are floored at 1 ms so a 0.000 s row cannot zero the geomean.
"""
import argparse
import json
import math

THRESHOLD = 0.10


def load(path):
    with open(path) as f:
        d = json.load(f)
    failed = set(d.get('failed_names', []))
    return d, {q: w for q, w in d['queries'].items() if q not in failed}, failed


def fmt(v):
    return json.dumps(v, separators=(',', ':'))


def context(a, b, q):
    """`key=A->B` for q_wcg and every tk_*/cg_n row either run carries,
    leaving out rows that read zero in both."""
    out = [f"q_wcg={fmt(a.get('q_wcg', {}).get(q))}->{fmt(b.get('q_wcg', {}).get(q))}"]
    ra, rb = a.get('stages', {}).get(q, {}), b.get('stages', {}).get(q, {})
    keys = dict.fromkeys(k for k in [*ra, *rb] if k.startswith('tk_') or k == 'cg_n')
    out += [f'{k}={fmt(ra.get(k))}->{fmt(rb.get(k))}' for k in keys
            if ra.get(k) or rb.get(k)]
    return ' '.join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('a')
    ap.add_argument('b')
    args = ap.parse_args()
    a, wa, fa = load(args.a)
    b, wb, fb = load(args.b)
    both = sorted(set(wa) & set(wb))
    ratios = {q: max(wb[q], 1e-3) / max(wa[q], 1e-3) for q in both}
    for name, path, d, w in (('A', args.a, a, wa), ('B', args.b, b, wb)):
        print(f"{name}: {path}: {len(d['queries'])} queries, "
              f"{len(d['queries']) - len(w)} failed, total {d['value']:.1f} s")
    if not both:
        print('no query completed in both runs')
        return
    geo = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    print(f'per-query wall geomean B/A: {geo:.3f} over {len(both)} queries; '
          f"suite total B/A: {b['value'] / a['value']:.3f}")
    worse = sorted((q for q in both if ratios[q] > 1 + THRESHOLD),
                   key=lambda q: -ratios[q])
    print(f'regressed by more than {THRESHOLD:.0%}: {len(worse)}')
    for q in worse:
        print(f'  {q}: {wa[q]:.3f} -> {wb[q]:.3f} s (x{ratios[q]:.2f}) {context(a, b, q)}')
    for label, names in (('failed in A', fa), ('failed in B', fb),
                         ('only in A', set(a['queries']) - set(b['queries'])),
                         ('only in B', set(b['queries']) - set(a['queries']))):
        if names:
            print(f"{label}: {', '.join(sorted(names))}")


if __name__ == '__main__':
    main()
