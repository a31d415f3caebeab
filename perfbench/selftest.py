#!/usr/bin/env python3
"""Self-test of the benchmark on the bundled sf0.001 fixture.

Usage (from the root of a checkout): python3 perfbench/selftest.py

For every workload in BENCHMARK.json it makes one untraced and one
traced run and checks that each run prints every metric BENCHMARK.json
names, with its unit, and counts no failure. One more run damages a
written result before the output check and must count it as failed.
Exits 0 when all of that holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=None):
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
           '--seed', '7', '--seconds', '1', '--trace', str(trace)]
    if corrupt:
        cmd += ['--corrupt', corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f'{" ".join(cmd[1:])} exited {p.returncode}\n{p.stderr[-2000:]}')
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, 'BENCHMARK.json')))
    workloads = json.load(open(os.path.join(HERE, 'workloads.json')))
    problems = []
    for w in [x['name'] for x in spec['workloads']]:
        for trace, key in [(0, 'end_to_end'), (1, 'per_layer')]:
            r = run(w, trace)
            want = {m['name']: m['unit'] for m in spec[key]}
            got = {k: v['unit'] for k, v in r['metrics'].items()}
            if got != want:
                problems.append(f'{w} trace {trace}: metrics {sorted(set(got) ^ set(want))} '
                                f'or their units differ from BENCHMARK.json')
            if not r['correct'] or r['failed']:
                problems.append(f'{w} trace {trace}: {r["failed"]} failed of {r["attempted"]}')
            print(f'{w} trace {trace}: {len(got)} metrics, {r["attempted"]} attempted, '
                  f'{r["failed"]} failed', flush=True)
    w = spec['workloads'][0]['name']
    q = workloads[w]['queries'][0]
    r = run(w, 0, corrupt=q)
    print(f'{w} with {q} corrupted: correct {r["correct"]}, {r["failed"]} failed '
          f'of {r["attempted"]}', flush=True)
    if r['correct'] or r['failed'] == 0:
        problems.append(f'a corrupted {q} result was not counted as failed')
    for p in problems:
        print('FAIL', p)
    print('selftest', 'failed' if problems else 'passed')
    sys.exit(1 if problems else 0)


if __name__ == '__main__':
    main()
