#!/usr/bin/env python3
"""graft's benchmark.

Usage, from the root of a checkout:

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness (graftbench/harness) from source once
per checkout, generates the inputs from the seed with tools/gen_sf.py,
runs one JVM for the workload (one client, closed loop, one query at a
time), checks every dumped output against DuckDB, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics and writes the per-query attribution records.

Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, 'harness')
BUILD = os.path.join(ROOT, '.bench_build')
# a run must finish within 180 s, DuckDB checks included
JVM_TIMEOUT_S = 150

# The query pool of slo_reports, one name a line. Every other registered
# query belongs to store_maintenance's pool.
SLO_POOL = 'slo_reports.txt'

# Per workload: `sf`, the generated scale; `stores`, the stores its timed
# queries read, built during set-up; `timed`, the closed-loop queries, in
# order; `kernels`, the kernel-bound queries behind functions.kernel_cpu_ms;
# `cover`, how many other queries of its pool a run checks untimed
# (consecutive seeds walk the whole pool).
WORKLOADS = {
    # Sub-second SLI/SLO, relational and scalar reports and the
    # rollup/report-store probes: the fixed per-query floor (builder jobs,
    # planning, job count) dominates. The timed set is what
    # graftbench/profile.py picks from its measurement of the pool
    # (graftbench/slo_pool_profile.txt): one query per warm-latency decile,
    # the one with its decile's median job count, then the three store
    # probes.
    'slo_reports': {
        'sf': 0.01,
        'stores': ['SketchRollup', 'QuantileRollup', 'ReportMaintenance'],
        'timed': [
            'price_position', 'fuzzy_name_pairs', 'returned_revenue', 'salted_join',
            'scd2_versions', 'supplier_nation_rev', 'flap_rate', 'trimmed_mean',
            'cusum_changepoint', 'nation_market_share',
            'sketch_rollup', 'slo_report_maintained', 'quantile_sketch_rollup',
        ],
        'kernels': ['sketch_rollup', 'quantile_sketch_rollup'],
        'cover': 3,
    },
    # Writes beside reads: builds the eight stores from an empty store
    # root, then cycles append -> probes -> compact -> probes. A change
    # that moves work into publish time shows only here. `batch_sf` is
    # the scale of the generated append batches.
    'store_maintenance': {
        'sf': 0.005,
        'batch_sf': 0.001,
        'kernels': ['near_dup_minhash', 'ann_cosine_topk'],
        'cover': 2,
    },
}


def log(msg):
    print(msg, flush=True)


def fail(msg):
    print(f'graftbench: {msg}', file=sys.stderr, flush=True)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            f for f in glob.glob(os.path.join(base, '**', '*'), recursive=True)
            if os.path.isfile(f) and '/target/' not in f and '/project/project/' not in f)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, 'rb') as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness once per source state; returns
    the runtime classpath."""
    stamp = tree_digest([os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project', 'build.properties'),
                         os.path.join(ROOT, 'src', 'main'), HARNESS])
    cp_file = os.path.join(BUILD, 'classpath.json')
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get('stamp') == stamp:
            return cached['classpath']
    env = dict(os.environ)
    # the build resolves nothing remotely: the toolchain's caches only
    env.setdefault('COURSIER_MODE', 'offline')
    if 'SBT_OPTS' not in env:
        opts = ['-Dsbt.offline=true']
        repos = os.path.expanduser('~/.sbt/repositories')
        if os.path.exists(repos):
            opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
        env['SBT_OPTS'] = ' '.join(opts)
    t0 = time.time()
    r = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', 'export Runtime/fullClasspath'],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or 'classes' not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail('build failed')
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, 'w') as f:
        json.dump({'stamp': stamp, 'classpath': lines[-1], 'build_s': time.time() - t0}, f)
    return lines[-1]


def generate(seed, sf):
    """tools/gen_sf.py's tables at scale `sf`, drawn from `seed` instead of
    its fixed seed. Cached per (seed, sf)."""
    out = os.path.join(BUILD, 'data', f'sf{sf}_seed{seed}')
    if os.path.exists(os.path.join(out, '.done')):
        return out
    import numpy as np
    spec = importlib.util.spec_from_file_location('gen_sf', os.path.join(ROOT, 'tools', 'gen_sf.py'))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    real = np.random.default_rng
    shutil.rmtree(out, ignore_errors=True)
    gen.np.random.default_rng = lambda *_: real(seed)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen.main(sf, out)
    finally:
        gen.np.random.default_rng = real
    open(os.path.join(out, '.done'), 'w').close()
    return out


def heap_size():
    """MemTotal/2, clamped to 2-8 GiB, as the test command sizes SPARK_DRIVER_MEM."""
    try:
        with open('/proc/meminfo') as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith('MemTotal:'))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f'{min(8, max(2, g))}g'


ADD_OPENS = [f'--add-opens={p}=ALL-UNNAMED' for p in (
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar')]


def jvm(classpath, heap, cwd, args, timeout=JVM_TIMEOUT_S):
    cmd = ['java', f'-Xmx{heap}', *ADD_OPENS, f'-Djava.io.tmpdir={os.path.join(cwd, "stores")}',
           '-cp', classpath, 'graftbench.Main', *args]
    os.makedirs(os.path.join(cwd, 'stores'), exist_ok=True)
    with open(os.path.join(cwd, 'jvm.log'), 'w') as logf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = 'timeout'
    if rc != 0:
        with open(os.path.join(cwd, 'jvm.log')) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f'JVM exited with {rc}')


def cpu_times():
    """Aggregate /proc/stat cpu times; steal shows contention from outside."""
    try:
        with open('/proc/stat') as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def registry(classpath, heap):
    """SparkEntry's query and oracle names, once per build."""
    path = os.path.join(BUILD, 'registry.json')
    cp_file = os.path.join(BUILD, 'classpath.json')
    if os.path.exists(path) and os.path.getmtime(path) >= os.path.getmtime(cp_file):
        with open(path) as f:
            return json.load(f)
    d = os.path.join(BUILD, 'registry')
    os.makedirs(d, exist_ok=True)
    jvm(classpath, heap, d, ['workload=list', f'out={path}'])
    with open(path) as f:
        return json.load(f)


# ----------------------------------------------------------------------
# Correctness: the normalization of tools/diffcheck.py (columns sorted by
# name, same row count, row-by-row equality, NaN equal to NaN, same
# arrow types), against DuckDB results cached per seed and scale.
# ----------------------------------------------------------------------

def oracle_table(sql, cache_dir):
    import duckdb
    import pyarrow.parquet as pq
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f'{key}.parquet')
    if os.path.exists(path):
        return pq.read_table(path)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute('SET threads TO 2')
    tbl = con.execute(sql).fetch_arrow_table()
    con.close()
    pq.write_table(tbl, path + '.tmp')
    os.replace(path + '.tmp', path)
    return tbl


def compare(spark_tbl, duck_tbl):
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f'columns differ: spark={s_cols} duck={d_cols}'
    if spark_tbl.num_rows != duck_tbl.num_rows:
        return f'rows differ: spark={spark_tbl.num_rows} duck={duck_tbl.num_rows}'
    s, d = spark_tbl.select(s_cols), duck_tbl.select(d_cols)
    st, dt = [str(f.type) for f in s.schema], [str(f.type) for f in d.schema]
    for i, (a, b) in enumerate(zip(s.to_pylist(), d.to_pylist())):
        for c in s_cols:
            x, y = a[c], b[c]
            same = x == y or (isinstance(x, float) and isinstance(y, float)
                              and math.isnan(x) and math.isnan(y))
            if not same:
                return f'row {i} col {c}: spark={x!r} duck={y!r}'
    if st != dt:
        return f'types differ: spark={st} duck={dt}'
    return None


def check_outputs(result, run_dir, cache_dir):
    """Every dumped output: equal to DuckDB where an oracle exists, else
    non-empty. Returns [(name, why)] of wrong results."""
    import pyarrow.parquet as pq
    wrong = []
    for op in result['ops']:
        if op['kind'] not in ('dump', 'cover') or not op['ok']:
            continue
        name = op['name']
        files = sorted(glob.glob(os.path.join(run_dir, 'dump', name, '*.parquet')))
        if not files:
            wrong.append((name, 'no output written'))
            continue
        tbl = pq.read_table(files[0])
        sql = result['oracle'].get(name)
        if sql is None:
            if tbl.num_rows == 0:
                wrong.append((name, 'rows-only query returned no rows'))
            continue
        try:
            why = compare(tbl, oracle_table(sql, cache_dir))
        except Exception as e:  # noqa: BLE001 - an oracle error is a failed check
            why = f'oracle error: {e}'
        if why:
            wrong.append((name, why))
    return wrong


# ----------------------------------------------------------------------

END_TO_END = [('setup_s', 's'), ('qps', '1/s'), ('latency_p50_ms', 'ms'),
              ('latency_p90_ms', 'ms'), ('ingest_s', 's'),
              ('store_bytes_per_input_byte', 'ratio'), ('heap_retained_mb', 'MiB')]


def layer_unit(name):
    for suffix, unit in (('_ms', 'ms'), ('_mb', 'MiB'), ('.mb', 'MiB'), ('_pct', '%'),
                         ('_ratio', 'ratio'), ('parallelism', 'cores'),
                         ('span_coverage', 'ratio'), ('per_row_out', 'ratio'), ('.ms', 'ms')):
        if name.endswith(suffix):
            return unit
    return 'count'


def cover_slice(pool, k, seed):
    """`k` consecutive queries of the pool, starting at seed * k: consecutive
    seeds walk the whole pool."""
    if not pool or k <= 0:
        return []
    start = (seed * k) % len(pool)
    return [pool[(start + i) % len(pool)] for i in range(min(k, len(pool)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    opt = ap.parse_args()

    for need in ('build.sbt', 'src/main/scala/graft/SparkEntry.scala', 'tools/gen_sf.py'):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f'{need} not found: run from the root of a graft checkout')
    if shutil.which('sbt') is None or shutil.which('java') is None:
        fail('sbt and java are required')

    w = WORKLOADS[opt.workload]
    wall = {'start': time.time()}
    cores = len(os.sched_getaffinity(0))
    heap = heap_size()
    classpath = build()
    reg = registry(classpath, heap)
    wall['build'] = time.time()
    data = generate(opt.seed, w['sf'])

    run_dir = os.path.join(BUILD, 'runs', f'{opt.workload}-s{opt.seed}-t{opt.trace}-{os.getpid()}')
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = [f'workload={opt.workload}', f'data={data}', f'out={run_dir}',
            f'seconds={opt.seconds}', f'trace={opt.trace}', f'cores={cores}']
    with open(os.path.join(HERE, SLO_POOL)) as f:
        slo = [l.strip() for l in f if l.strip() and not l.startswith('#')]
    unknown = sorted(set(slo) - set(reg['queries']))
    if unknown:
        fail(f'{SLO_POOL} names unregistered queries: {unknown}')
    timed = w.get('timed', [])
    pool = [q for q in reg['queries']
            if (q in slo) == (opt.workload == 'slo_reports') and q not in timed]
    args += ['timed=' + ','.join(timed),
             'cover=' + ','.join(cover_slice(pool, w['cover'], opt.seed)),
             'stores=' + ','.join(w.get('stores', [])),
             'kernels=' + ','.join(w['kernels'])]
    if 'batch_sf' in w:
        args.append(f'batch={generate(opt.seed * 7919 + 1, w["batch_sf"])}')
        # The cycles change the stores built over `data`; the check slot
        # reads a byte-identical copy, whose stores hold the base data only.
        check = data + '-check'
        if not os.path.exists(check):
            shutil.copytree(data, check + '.tmp', dirs_exist_ok=True)
            os.replace(check + '.tmp', check)
        args.append(f'check={check}')
    wall['inputs'] = time.time()
    cpu0 = cpu_times()
    jvm(classpath, heap, run_dir, args)
    cpu1 = cpu_times()
    wall['jvm'] = time.time()
    with open(os.path.join(run_dir, 'result.json')) as f:
        result = json.load(f)
    wrong = [(x['name'], x['why']) for x in result['wrong']]
    wrong += check_outputs(result, run_dir, os.path.join(BUILD, 'oracle', f'sf{w["sf"]}_seed{opt.seed}'))
    wall['check'] = time.time()
    failed_ops = [(o['name'], o['error']) for o in result['ops'] if not o['ok']]
    attempted = len(result['ops'])
    failed = len(failed_ops) + len(wrong)

    log(f'graftbench {opt.workload}: seed={opt.seed} scale=sf{w["sf"]} cores={cores} heap={heap} '
        f'trace={opt.trace} store_root={result["store_root"]} (removed after the run)')
    log('confs: ' + json.dumps(result['confs'], sort_keys=True))
    log(f'timed phase: {result["timed_seconds"]:.2f} s, {result["passes"]} passes, '
        f'{result["samples"]} latency samples')
    log('setup_ms: ' + json.dumps(result['setup_ms']))
    marks = list(wall.items())
    log('wall_s: ' + ', '.join(f'{k} {t - marks[i - 1][1]:.1f}' for i, (k, t) in enumerate(marks) if i))
    lat = {}
    for o in result['ops']:
        if o['pass'] >= 0 and o['ok'] and o['kind'] != 'check':
            lat.setdefault(o['name'], []).append(o['ms'])
    log('median ms by timed operation: ' + ', '.join(
        f'{k} {statistics.median(v):.0f}' for k, v in lat.items()))
    for name, why in failed_ops:
        log(f'FAILED {name}: {why}')
    for name, why in wrong:
        log(f'WRONG {name}: {why}')
    if cpu0 and cpu1:
        total = sum(cpu1) - sum(cpu0)
        log(f'host cpu while the JVM ran: busy {1 - (cpu1[3] - cpu0[3]) / total:.2f}, '
            f'steal {(cpu1[7] - cpu0[7]) / total:.3f} (share of all cpu time)')
    log(f'error_rate {failed / attempted:.4f} ratio ({failed} of {attempted} operations)')

    rec_dir = os.path.join(BUILD, 'records')
    os.makedirs(rec_dir, exist_ok=True)
    kept = ['result.json'] + (['records.jsonl', 'spans.jsonl'] if opt.trace else [])
    for kind in kept:
        dst = os.path.join(rec_dir, f'{opt.workload}-seed{opt.seed}-trace{opt.trace}-{kind}')
        shutil.copyfile(os.path.join(run_dir, kind), dst)
        log(f'{kind.split(".")[0]}: {os.path.relpath(dst, ROOT)}')
    if opt.trace:
        metrics = {k: {'value': v, 'unit': layer_unit(k)} for k, v in result['layers'].items()}
    else:
        metrics = {k: {'value': result['metrics'][k], 'unit': u} for k, u in END_TO_END}
    for k, v in sorted(metrics.items()):
        log(f'  {k} = {v["value"]:.6g} {v["unit"]}')
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({'correct': failed == 0, 'attempted': attempted, 'failed': failed,
                      'metrics': metrics}), flush=True)


if __name__ == '__main__':
    main()
