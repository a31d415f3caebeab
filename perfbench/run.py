#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one query at a time.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake --seed 1 --seconds 10 --trace 0

Steps of one run:

1. Build once per source tree: `sbt exportLaunch` in perfbench/ compiles
   the program and the harness and writes the JVM options and runtime
   classpath to .bench_build/launch.txt. Later runs reuse it while the
   sources are unchanged, so no run after the first pays for sbt.
2. Seeded inputs: every table of the bundled fixture is written again
   as a seeded row permutation (one row group, same schema). The
   program sees only these files.
3. One JVM, `local[<cores>]`, the build's javaOptions with -Xms equal
   to -Xmx (half of MemTotal, clamped to 2-8g), runs perfbench.Harness:
   an untimed output pass, then timed passes of the workload's queries
   into the `noop` sink. The pass count is --seconds divided by the
   workload's nominal pass time (workloads.json), at least two.
4. Output check, outside the timed window: each query with a
   `SparkEntry.oracleSql` entry is compared with the oracle's DuckDB
   answer on these files (cached per SQL and fixture, since a row
   permutation cannot change it); the others must give the same rows
   twice.
5. The last stdout line is one JSON object: correct, attempted, failed
   and the metrics (end-to-end with --trace 0, per-layer with --trace 1).

The bundled fixture is the sf0.001 table set (lineitem 6,000 rows,
documents 500). Extra option: --corrupt QUERY damages that query's written result before the check
(the self-test uses it to prove the check counts a wrong result).
"""
import argparse
import hashlib
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')

# Timed queries per workload, and the tables whose rows are the
# workload's stated input (rows_per_s = those rows / wall_s).
WORKLOADS = json.load(open(os.path.join(HERE, 'workloads.json')))

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']

END_TO_END = [('setup_s', 's'), ('wall_s', 's'), ('query_geomean_s', 's'),
              ('rows_per_s', '1/s'), ('cpu_s', 's'), ('heap_peak_mb', 'MB')]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f'perfbench: {msg}')
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project', 'build.properties'),
             os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'build.sbt'),
             os.path.join(HERE, 'project', 'build.properties'), os.path.join(HERE, 'src')]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, 'rb') as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(launch):
    return next((line[4:] for line in open(launch).read().splitlines()
                 if line.startswith('-cp=')), '')


def build():
    """Compile with sbt unless .bench_build holds a build of these sources."""
    launch = os.path.join(BUILD, 'launch.txt')
    stamp = os.path.join(BUILD, 'stamp')
    digest = source_digest()
    if (os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest
            and all(os.path.exists(p) for p in classpath(launch).split(os.pathsep))):
        return launch
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    env.setdefault('SBT_OPTS', '-Dsbt.override.build.repos=true '
                   '-Dsbt.repository.config=' + os.path.expanduser('~/.sbt/repositories') +
                   ' -Dsbt.offline=true -Xmx4g')
    t0 = time.time()
    with open(os.path.join(BUILD, 'build.log'), 'w') as out:
        try:
            rc = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', 'exportLaunch'],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=700).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        fail(f'build failed (see {os.path.join(BUILD, "build.log")})', 3)
    with open(stamp, 'w') as f:
        f.write(digest)
    log(f'perfbench: built in {time.time() - t0:.1f} s')
    return launch


def cpu_ticks():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor
    gave to other guests, the usual cause of run-to-run drift on a VM."""
    try:
        with open('/proc/stat') as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return (t[7] if len(t) > 7 else 0), sum(t)
    except (OSError, ValueError):
        return 0, 0


def heap_size():
    """Half of MemTotal, clamped to 2-8g, as the tier-1 test command sizes it."""
    g = 2
    try:
        for line in open('/proc/meminfo'):
            if line.startswith('MemTotal:'):
                g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f'{min(8, max(2, g))}g'


def jvm_command(launch, work):
    opts = [line for line in open(launch).read().splitlines()
            if line and not line.startswith(('-cp=', '-Xmx', '-Xms'))]
    heap = heap_size()
    return ['java'] + opts + [f'-Xmx{heap}', f'-Xms{heap}',
                              f'-Djava.io.tmpdir={os.path.join(work, "tmp")}',
                              '-cp', classpath(launch), 'perfbench.Harness']


# --------------------------------------------------------------- inputs

def make_inputs(seed, dest):
    """A seeded row permutation of every fixture table, one row group each."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    rows = {}
    os.makedirs(dest)
    for t in TABLES:
        table = pq.read_table(os.path.join(HERE, 'fixtures', f'{t}.parquet'))
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(dest, f'{t}.parquet'),
                       row_group_size=max(1, table.num_rows))
        rows[t] = table.num_rows
    return rows


# ---------------------------------------------------------------- check

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    return out, [cols[i] for i in order]


def same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12)
    return str(a) == str(b)


def same_rows(got, want):
    (g, gc), (w, wc) = got, want
    if gc != wc:
        return f'columns {gc} vs {wc}'
    if len(g) != len(w):
        return f'{len(g)} rows vs {len(w)}'
    for i, (gr, wr) in enumerate(zip(g, w)):
        for c, a, b in zip(gc, gr, wr):
            if not same_value(a, b):
                return f'row {i} column {c}: {a!r} vs {b!r}'
    return None


def fixture_digest():
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(HERE, 'fixtures', f'{t}.parquet'), 'rb') as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_answer(con, sql):
    """The oracle's rows, cached per (SQL, fixture): a row permutation
    of the inputs cannot change a SQL result, so every seed shares it."""
    key = hashlib.sha256((sql + fixture_digest()).encode()).hexdigest()
    path = os.path.join(BUILD, 'oracle', key)
    if os.path.exists(path):
        with open(path, 'rb') as f:
            return pickle.load(f)
    cur = con.execute(sql)
    want = canon(cur.fetchall(), [d[0] for d in cur.description])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + '.tmp', 'wb') as f:
        pickle.dump(want, f)
    os.replace(path + '.tmp', path)
    return want


def check(queries, inputs, out):
    """Map each query to None (correct) or the reason its output is wrong."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out, 'oracle.json')))

    def read(sub, q):
        path = os.path.join(out, sub, q)
        if not os.path.isdir(path):
            raise RuntimeError(f'no {sub} result')
        cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        rows = cur.fetchall()
        return canon(rows, [d[0] for d in cur.description])

    verdict = {}
    for q in queries:
        try:
            got = read('results', q)
            if q in oracles:
                want = oracle_answer(con, oracles[q])
            else:
                want = read('results2', q)
            verdict[q] = same_rows(got, want)
        except Exception as e:  # an unreadable result is a wrong result
            verdict[q] = f'{type(e).__name__}: {e}'
    return verdict


def corrupt(out, q):
    """Drop one row from a written result (self-test only)."""
    import pyarrow.parquet as pq
    path = os.path.join(out, 'results', q)
    table = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table.slice(0, max(0, table.num_rows - 1)), os.path.join(path, 'part-0.parquet'))


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def by_pass(calls):
    passes = {}
    for c in calls:
        passes.setdefault(c['pass'], []).append(c)
    return [passes[p] for p in sorted(passes)]


def end_to_end(h, setup_s, stated_rows):
    """Each query's fastest timed call, summed (wall_s, cpu_s) or
    geometric-averaged (query_geomean_s). The host's speed varies from
    second to second, and a slowdown only ever adds time, so the fastest
    of a query's calls is the estimate that such noise moves least."""
    best = {}
    for c in h['calls']:
        b = best.setdefault(c['query'], {'wall_s': c['wall_s'], 'cpu_s': c['cpu_s']})
        b['wall_s'] = min(b['wall_s'], c['wall_s'])
        b['cpu_s'] = min(b['cpu_s'], c['cpu_s'])
    wall = sum(b['wall_s'] for b in best.values())
    return {
        'setup_s': setup_s,
        'wall_s': wall,
        'query_geomean_s': math.exp(statistics.fmean(
            math.log(max(b['wall_s'], 1e-6)) for b in best.values())),
        'rows_per_s': stated_rows / wall if wall > 0 else 0.0,
        'cpu_s': sum(b['cpu_s'] for b in best.values()),
        'heap_peak_mb': h['heap_old_peak_mb'],
    }


def self_times(spans):
    """Per layer: span durations minus the part covered by child spans."""
    children = {}
    for s in spans:
        children.setdefault(s['parent'], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s['start'], s['end']
        iv = sorted((max(c['start'], lo), min(c['end'], hi))
                    for c in children.get(s['id'], []))
        covered, reach = 0, lo
        for a, b in iv:
            if b > reach:
                covered += b - max(a, reach)
                reach = b
        out[s['layer']] = out.get(s['layer'], 0) + (hi - lo - covered) / 1e3
    return out


def unit_of(name):
    if name.endswith('_rows_per_s'):
        return '1/s'
    if name.endswith('_s'):
        return 's'
    if name.endswith('_mb'):
        return 'MB'
    if name.endswith('bytes_per_row'):
        return 'B'
    if name.endswith('_ratio'):
        return 'ratio'
    return 'count'


def per_layer(h):
    traced = [p for p in h['passes'] if p['traced']]
    n = max(1, len(traced))
    groups = {c['group'] for c in h['calls'] if c['traced']}
    m = {}
    jobs = [j for j in h['jobs'] if j['group'] in groups]
    m['queries.jobs'] = len(jobs) / n
    m['queries.stages'] = sum(1 for s in h['stages'] if s['group'] in groups) / n
    tasks = [a for g, a in h['tasks'].items() if g in groups]
    for key, name in [('tasks', 'tasks'), ('busy_s', 'task_busy_s'), ('cpu_s', 'task_cpu_s'),
                      ('sched_wait_s', 'sched_wait_s'), ('fetch_wait_s', 'fetch_wait_s'),
                      ('shuffle_write_mb', 'shuffle_write_mb'),
                      ('shuffle_read_mb', 'shuffle_read_mb'), ('input_rows', 'input_rows'),
                      ('spill_mb', 'spill_mb'), ('gc_s', 'gc_s')]:
        m[f'queries.{name}'] = sum(a[key] for a in tasks) / n
    calls = h['traced_calls'].values()
    m['queries.plan_s'] = sum(c['plan_s'] for c in calls) / n
    m['queries.driver_gap_s'] = sum(c['driver_gap_s'] for c in calls) / n

    m.update(h['probes'])
    obs = h['observed']
    m['ops.simhash_verify_ratio'] = (obs['verify_pairs'] / obs['candidate_pairs']
                                     if obs['candidate_pairs'] else 0.0)

    # streaming: the traced passes' streaming queries plus the probe's
    batches = [b for b in h['stream_batches'] if b['group'] in groups | {'probes'}]
    m['streaming.batches'] = len(batches)
    for key in ['trigger_s', 'add_batch_s', 'state_commit_s']:
        m[f'streaming.{key}'] = sum(b[key] for b in batches)
    m['streaming.state_rows'] = max([b['state_rows'] for b in batches], default=0)
    m['streaming.state_mb'] = max([b['state_mb'] for b in batches], default=0.0)

    cuts = [j for j in jobs if j['lineage']]
    m['lineage.cuts'] = len(cuts) / n
    m['lineage.cut_s'] = sum(j['end'] - j['start'] for j in cuts) / 1e3 / n
    m['lineage.block_mb'] = sum(v for g, v in h['lineage_block_mb'].items() if g in groups) / n

    m['session.gc_s'] = sum(p['gc_s'] for p in traced) / n
    m['session.jit_s'] = sum(p['jit_s'] for p in traced) / n
    m['session.setup_jit_s'] = h['setup_jit_s']
    m['session.code_cache_mb'] = h['code_cache_mb']

    # self time per layer: per traced pass for the pass tree, run totals
    # for the probe tree (a probe's self time is its driver-side time)
    def tree(roots):
        ids = set(roots)
        for s in h['spans']:  # jobs and stages come after their parents
            if s['parent'] in ids:
                ids.add(s['id'])
        return self_times([s for s in h['spans'] if s['id'] in ids])
    st = tree({f'pass#{p["pass"]}' for p in traced})
    for layer in ['pass', 'queries', 'jobs', 'stages']:
        m[f'self.{layer}_s'] = st.get(layer, 0.0) / n
    st = tree({'probes'})
    for layer in ['probes', 'ops', 'functions', 'sources', 'streaming']:
        m[f'self.{layer}_s'] = st.get(layer, 0.0)

    # each traced pass against the mean of its untraced neighbours, which
    # cancels the steady speed-up of a JVM that is still warming
    wall = {}
    for c in h['calls']:
        wall[c['pass']] = wall.get(c['pass'], 0.0) + c['wall_s']
    pairs = [(wall[p['pass']], (wall[p['pass'] - 1] + wall[p['pass'] + 1]) / 2)
             for p in traced if p['pass'] + 1 in wall]
    m['trace.traced_wall_s'] = median([on for on, _ in pairs])
    m['trace.untraced_wall_s'] = median([off for _, off in pairs])
    m['trace.overhead_s'] = median([on - off for on, off in pairs])
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--corrupt', default=None)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt')) and
            os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft'))):
        fail(f'{ROOT} holds no graft sources (build.sbt, src/main/scala/graft)')
    if shutil.which('sbt') is None or shutil.which('java') is None:
        fail('sbt and java must be on PATH')

    spec = WORKLOADS[a.workload]
    launch = build()
    work = os.path.join(BUILD, 'work', f'{a.workload}-seed{a.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, 'tmp'))
    os.makedirs(os.path.join(work, 'out'))
    try:
        t_setup = time.time()
        inputs = os.path.join(work, 'inputs')
        rows = make_inputs(a.seed, inputs)
        prep_s = time.time() - t_setup

        # A fixed pass count, not a deadline: each pass runs warmer than
        # the last, so a deadline would let host speed decide how warm
        # the measured passes get. The count fills --seconds on the host
        # the nominal pass times were measured on; a traced run needs at
        # least untraced, traced, untraced.
        passes = max(3 if a.trace else 2, round(a.seconds / spec['pass_s']))
        cmd = jvm_command(launch, work) + [
            '--queries', ','.join(spec['queries']), '--inputs', inputs,
            '--out', os.path.join(work, 'out'), '--passes', str(passes),
            '--trace', str(a.trace),
            '--cpus', str(os.cpu_count() or 1)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, 'tmp'))
        launched = time.time()
        ticks0 = cpu_ticks()
        with open(os.path.join(work, 'jvm.out'), 'w') as so, \
                open(os.path.join(work, 'jvm.err'), 'w') as se:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=so, stderr=se,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=170)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = -9
        result = os.path.join(work, 'out', 'harness.json')
        if rc != 0 or not os.path.exists(result):
            tail = open(os.path.join(work, 'jvm.err')).read()[-3000:]
            fail(f'harness exited with {rc}\n{tail}', 4)
        h = json.load(open(result))
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        log(f'perfbench: inputs {prep_s:.1f} s, jvm {time.time() - launched:.1f} s, '
            f'host steal {100 * steal / max(1, total):.1f}% of CPU time')
        setup_s = prep_s + h['first_query_ms'] / 1e3 - launched

        t_check = time.time()
        if a.corrupt:
            corrupt(os.path.join(work, 'out'), a.corrupt)
        verdict = check(spec['queries'], inputs, os.path.join(work, 'out'))
        wrong = {q: why for q, why in verdict.items() if why}
        log(f'perfbench: output check {time.time() - t_check:.1f} s')
        for q, why in wrong.items():
            log(f'perfbench: wrong output {q}: {why}')
        for k, v in h['errors'].items():
            log(f'perfbench: error {k}: {v}')

        attempted = len(h['calls'])
        failed = sum(1 for c in h['calls'] if not c['ok'] or c['query'] in wrong)
        stated = sum(rows[t] for t in spec['tables'])
        if a.trace:
            metrics = per_layer(h)
            units = {k: unit_of(k) for k in metrics}
            trace_file = os.path.join(BUILD, 'traces', f'{a.workload}-seed{a.seed}.json')
            os.makedirs(os.path.dirname(trace_file), exist_ok=True)
            with open(trace_file, 'w') as f:
                json.dump(h['spans'], f)
            log(f'perfbench: {len(h["spans"])} spans written to {trace_file}')
        else:
            metrics = end_to_end(h, setup_s, stated)
            units = dict(END_TO_END)
        pass_walls = [round(sum(c['wall_s'] for c in p), 3) for p in by_pass(h['calls'])]
        log(f'perfbench: pass walls {pass_walls}, JIT compiler CPU in the timed calls '
            f'{sum(c["jit_cpu_s"] for c in h["calls"]):.1f} s (not in cpu_s)')
        log(f'perfbench: {a.workload} seed {a.seed}: {len(pass_walls)} passes, {attempted} calls, '
            f'{failed} failed, failed_frac {failed / max(1, attempted):.4f}, '
            f'{stated} input rows')
        for k, v in metrics.items():
            print(f'{k} {v:.6g} {units.get(k, "")}')
        print(json.dumps({
            'correct': not wrong and not h['errors'],
            'attempted': attempted,
            'failed': failed,
            'metrics': {k: {'value': v, 'unit': units.get(k, '')} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == '__main__':
    main()
