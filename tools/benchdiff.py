#!/usr/bin/env python3
"""Query-by-query diff of two graft.Bench full records.

Usage: python3 tools/benchdiff.py A.json B.json

A and B are `bench_full.json` files (A the baseline). Prints:

- the geometric mean over the queries both runs completed of the
  per-query wall ratio B/A, beside the ratio of the suite totals;
- every query whose wall grew by more than THRESHOLD (10%), slowest
  growth first, with the context that tells a plan regression from a
  starved JVM: its `q_wcg` triple ([wall_s, cpu_s, gc_s]; a wall far
  above cpu/threads + gc means the host, not the plan), its `jobs` and
  `stages` counts (a new materialization adds a job, a removed scan
  removes stages), its `tk_*` task counters (same tasks and bytes with
  more CPU is per-task slowdown, not extra work) and `cg_n` (classes
  compiled by Spark codegen during the query);
- every query whose `jobs` count differs, biggest cut first, as
  `jobs A->B` with the stage tags (the `[wall_s, task_cpu_s, jobs]`
  rows) that only one side carries — a removed or added pipeline step
  shows here even when the wall did not move;
- every query whose `observe()` metrics differ: each scalar row that
  is not `jobs`, `stages`, `tk_*`, `cg_n` or `sq_*` and differs, as
  `name A->B` (e.g. `candidate_pairs 123->120`), so two records show
  whether a change kept the same candidate mass;
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
    """`key=A->B` for q_wcg and every jobs/stages/tk_*/cg_n row either
    run carries, leaving out rows that read zero in both."""
    out = [f"q_wcg={fmt(a.get('q_wcg', {}).get(q))}->{fmt(b.get('q_wcg', {}).get(q))}"]
    ra, rb = a.get('stages', {}).get(q, {}), b.get('stages', {}).get(q, {})
    keys = dict.fromkeys(k for k in [*ra, *rb]
                         if k in ('jobs', 'stages', 'cg_n') or k.startswith('tk_'))
    out += [f'{k}={fmt(ra.get(k))}->{fmt(rb.get(k))}' for k in keys
            if ra.get(k) or rb.get(k)]
    return ' '.join(out)


def job_changes(a, b):
    """(query, jobs A, jobs B, tags only in A, tags only in B) for every
    query both records profiled whose `jobs` differ, biggest cut first."""
    sa, sb = a.get('stages', {}), b.get('stages', {})
    out = []
    for q in sorted(set(sa) & set(sb)):
        ja, jb = sa[q].get('jobs'), sb[q].get('jobs')
        if ja != jb:
            ta, tb = (dict.fromkeys(k for k, v in r.items() if isinstance(v, list))
                      for r in (sa[q], sb[q]))
            out.append((q, ja, jb, [t for t in ta if t not in tb],
                        [t for t in tb if t not in ta]))
    return sorted(out, key=lambda c: (c[2] or 0) - (c[1] or 0))


def observed_changes(a, b):
    """(query, [(row, A, B)]) for every query both records profiled
    whose scalar observe() rows differ; a row only one side carries
    reads None on the other."""
    sa, sb = a.get('stages', {}), b.get('stages', {})

    def observed(r):
        return {k: v for k, v in r.items()
                if not isinstance(v, list) and k not in ('jobs', 'stages', 'cg_n')
                and not k.startswith(('tk_', 'sq_'))}
    out = []
    for q in sorted(set(sa) & set(sb)):
        oa, ob = observed(sa[q]), observed(sb[q])
        rows = [(k, oa.get(k), ob.get(k)) for k in dict.fromkeys([*oa, *ob])
                if oa.get(k) != ob.get(k)]
        if rows:
            out.append((q, rows))
    return out


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
    changes = job_changes(a, b)
    print(f'jobs changed: {len(changes)}')
    for q, ja, jb, only_a, only_b in changes:
        print(f'  {q}: jobs {ja}->{jb}'
              + (f"; tags only in A: {', '.join(only_a)}" if only_a else '')
              + (f"; tags only in B: {', '.join(only_b)}" if only_b else ''))
    observed = observed_changes(a, b)
    print(f'observed changed: {len(observed)}')
    for q, rows in observed:
        print(f'  {q}: ' + ', '.join(f'{k} {fmt(va)}->{fmt(vb)}' for k, va, vb in rows))
    for label, names in (('failed in A', fa), ('failed in B', fb),
                         ('only in A', set(a['queries']) - set(b['queries'])),
                         ('only in B', set(b['queries']) - set(a['queries']))):
        if names:
            print(f"{label}: {', '.join(sorted(names))}")


if __name__ == '__main__':
    main()
