#!/usr/bin/env python3
"""Profiles slo_reports' query pool and proposes its timed set.

Usage, from the root of a checkout:

    python3 graftbench/profile.py --seed <n> --sf <scale>

Runs every query of graftbench/slo_reports.txt once to warm up and then
three times traced, on inputs generated from the seed at the scale, and
prints each query's median latency and its jobs, tasks and task time per
execution, the distribution of the pool, and the timed set the rule below
picks from it. The rule: the rollup/report-store probes, plus one query per
latency decile of the rest of the pool, the one whose job count is closest
to its decile's median job count.
"""
import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

STORE_PROBES = ['sketch_rollup', 'quantile_sketch_rollup', 'slo_report_maintained']


def deciles(xs):
    q = statistics.quantiles(xs, n=10)
    return f'min {min(xs):.0f}  p10 {q[0]:.0f}  p50 {statistics.median(xs):.0f}  p90 {q[8]:.0f}  max {max(xs):.0f}'


def pick(pool, strata=10):
    rest = sorted((p for p in pool if p['name'] not in STORE_PROBES), key=lambda p: p['ms'])
    chosen = []
    for i in range(strata):
        bin_ = rest[len(rest) * i // strata:len(rest) * (i + 1) // strata]
        mj = statistics.median(p['jobs'] for p in bin_)
        mm = statistics.median(p['ms'] for p in bin_)
        chosen.append(min(bin_, key=lambda p: (abs(p['jobs'] - mj), abs(p['ms'] - mm))))
    return chosen


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--sf', type=float, default=run.WORKLOADS['slo_reports']['sf'])
    opt = ap.parse_args()
    heap = run.heap_size()
    classpath = run.build()
    reg = run.registry(classpath, heap)
    with open(os.path.join(run.HERE, run.SLO_POOL)) as f:
        pool = [l.strip() for l in f if l.strip() and not l.startswith('#')]
    pool = [q for q in pool if q in reg['queries']]
    data = run.generate(opt.seed, opt.sf)
    out = os.path.join(run.BUILD, 'profile', f'sf{opt.sf}_seed{opt.seed}')
    os.makedirs(out, exist_ok=True)
    run.jvm(classpath, heap, out, [
        'workload=profile', f'data={data}', f'out={out}', 'seconds=0', 'trace=1',
        f'cores={len(os.sched_getaffinity(0))}', 'timed=' + ','.join(pool),
        'stores=' + ','.join(run.WORKLOADS['slo_reports']['stores'])], timeout=3000)
    with open(os.path.join(out, 'profile.json')) as f:
        prof = json.load(f)['queries']
    report(prof, len(pool), opt.sf, opt.seed)


def report(prof, pool_size, sf, seed):
    prof = [p for p in prof if p['ok']]
    busy = sum(p['task_run_ms'] for p in prof) / sum(p['ms'] for p in prof)
    print(f'slo_reports pool at sf{sf}, seed {seed}: {len(prof)} of {pool_size} queries ran; '
          f'warm latencies sum to {sum(p["ms"] for p in prof) / 1000:.1f} s, '
          f'{busy:.2f} of {len(os.sched_getaffinity(0))} cores busy')
    print(f'{"query":34} {"ms":>8} {"jobs":>6} {"tasks":>7} {"cores":>6}')
    for p in sorted(prof, key=lambda p: p['ms']):
        print(f'{p["name"]:34} {p["ms"]:8.0f} {p["jobs"]:6.1f} {p["tasks"]:7.1f} '
              f'{p["task_run_ms"] / max(p["ms"], 1e-9):6.2f}')
    timed = pick(prof) + [p for p in prof if p['name'] in STORE_PROBES]
    for label, xs in (('pool', prof), ('timed set', timed)):
        print(f'{label:10} ms   {deciles([p["ms"] for p in xs])}')
        print(f'{label:10} jobs {deciles([p["jobs"] for p in xs])}')
    ms = sorted(p['ms'] for p in prof)
    print('timed set (latency percentile in the pool): ' + ', '.join(
        f'{p["name"]} ({100 * sum(v < p["ms"] for v in ms) // len(ms)})' for p in timed))

if __name__ == '__main__':
    main()
