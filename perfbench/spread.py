#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1]

Run from the root of a checkout. For every metric prints the median, the
quartiles (statistics.quantiles, n=4) and the interquartile distance as a
share of the median, next to the metric's bound in BENCHMARK.json. Results
are appended as JSON lines to perfbench/work/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(','):
        lo, _, hi = part.partition('-')
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seeds', default='1-10')
    ap.add_argument('--trace', default='0')
    args = ap.parse_args()
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    bounds = {m['name']: m.get('bound') for m in spec['end_to_end'] + spec['per_layer']}
    values = {}
    log = os.path.join(BENCH, 'work', f'spread-{args.workload}.jsonl')
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds(args.seeds):
        out = subprocess.run([sys.executable, os.path.join(BENCH, 'run.py'), '--workload', args.workload,
                              '--seed', str(seed), '--seconds', str(spec['run_seconds']),
                              '--trace', args.trace], cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f'seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}')
            continue
        line = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, 'a') as f:
            f.write(json.dumps({'seed': seed, 'trace': args.trace, **line}) + '\n')
        print(f"seed {seed}: correct={line['correct']} attempted={line['attempted']} failed={line['failed']}",
              flush=True)
        for k, v in line['metrics'].items():
            if v['value'] is not None:
                values.setdefault(k, []).append(v['value'])
    print(f"{'metric':40s} {'n':>3s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'iqr/med':>8s} {'bound':>6s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
        else:
            q1 = q3 = xs[0]
        rel = (q3 - q1) / med if med else float('nan')
        b = bounds.get(k)
        print(f"{k:40s} {len(xs):3d} {med:14.6g} {q1:14.6g} {q3:14.6g} {rel:8.3f} {b if b is not None else '':>6}")


if __name__ == '__main__':
    main()
