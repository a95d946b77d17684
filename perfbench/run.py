#!/usr/bin/env python3
"""Layered extraction benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline); later runs reuse the build until
a source file changes. The benchmark JVM runs the workload, checks every
output, and hands its figures back; for `dedup_memo` this script then
replays the queries' DuckDB oracles over the generated input. The last
line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace is 0 and its
per-layer metrics when --trace is 1. The line before it is the full run
report (host facts, checks, every figure measured). See README.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, 'work')
CLASSPATH_FILE = os.path.join(BENCH, 'target', 'perfbench-classpath.txt')
WORKLOADS = ('table_small', 'engine_large', 'rewrite_large', 'dedup_memo')
SLOTS = 4  # worker threads / local[N] slots every workload is configured for
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
HEAP = {'engine_large': '2g', 'rewrite_large': '2g', 'table_small': '3g', 'dedup_memo': '3g'}
# JDK 17 module opens Spark needs outside spark-submit (same list as the
# library's own build)
ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]


def fail(msg, code=2):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change calls for a rebuild."""
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(BENCH, 'src', 'main'),
             os.path.join(ROOT, 'project'), os.path.join(BENCH, 'project')]
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(BENCH, 'build.sbt')]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s not in ('target', 'project')]
            files += [os.path.join(d, n) for n in names]
    return files


_children = []


def _kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def _on_signal(signum, _frame):
    """Stop every child process group before exiting."""
    for p in list(_children):
        _kill(p)
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill(p)
        return None, p.returncode
    finally:
        _children.remove(p)
    return out, p.returncode


def build():
    """Compile with sbt once; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala'))):
        fail(f'library sources not found under {ROOT}: run from a full checkout')
    if os.path.isfile(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH_FILE) as f:
                return f.read().strip()
    env = dict(os.environ)
    env['COURSIER_MODE'] = 'offline'
    opts = env.get('SBT_OPTS', '')
    if 'sbt.offline' not in opts:
        opts += ' -Dsbt.offline=true'
    env['SBT_OPTS'] = opts.strip()
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, 'build.log')
    with open(log_path, 'w') as log:
        out, rc = run_group(
            ['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.autostart=false',
             'compile', 'export Runtime/fullClasspath'],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True)
        log.write(out or '')
    if rc != 0 or out is None:
        fail(f'build failed (exit {rc}); see {log_path}')
    lines = [l for l in out.splitlines() if '.jar' in l and os.pathsep in l and not l.startswith('[')]
    if not lines:
        fail(f'build printed no classpath; see {log_path}')
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, 'w') as f:
        f.write(cp + '\n')
    return cp


def host_facts():
    return {
        'nproc': os.cpu_count(),
        'affinity_cpus': len(os.sched_getaffinity(0)),
        'load_average_1m': os.getloadavg()[0],
    }


def run_jvm(cp, args, launched_ms):
    os.makedirs(os.path.join(WORK, 'logs'), exist_ok=True)
    tmp = os.path.join(WORK, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    heap = HEAP[args.workload]
    cmd = ['java', f'-Xmx{heap}', f'-Xms{heap}', f'-Djava.io.tmpdir={tmp}',
           '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC']
    for p in ADD_OPENS:
        cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
    cmd += ['-cp', cp, 'graft.perfbench.Main', '--workload', args.workload,
            '--seed', str(args.seed), '--seconds', str(args.seconds),
            '--trace', str(args.trace), '--launched-at-ms', str(launched_ms), '--work-dir', WORK]
    err_path = os.path.join(WORK, 'logs', f'{args.workload}-{args.seed}-{args.trace}.stderr')
    with open(err_path, 'w') as err:
        out, rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                            stdin=subprocess.DEVNULL, text=True)
    if out is None:
        fail(f'{args.workload} did not finish within {RUN_TIMEOUT_S} s; see {err_path}', 1)
    found = [l for l in out.splitlines() if l.startswith('PERFBENCH_RESULT ')]
    if rc != 0 or not found:
        fail(f'{args.workload} exited {rc} without a result; see {err_path}', 1)
    return json.loads(found[-1][len('PERFBENCH_RESULT '):])


def write_digests(cp):
    path = os.path.join(BENCH, 'src', 'main', 'resources', 'graft', 'perfbench', 'pool_digests.tsv')
    subprocess.run(['java', '-cp', cp, 'graft.perfbench.Main', '--write-digests', path],
                   check=True, cwd=ROOT)
    print(f'wrote {path}')


def oracle_replay(check):
    """Replay each dedup query's DuckDB oracle over the generated input.

    Returns (failed executions, per-query verdicts). A query whose written
    output differs from its oracle fails in every pass that ran it; one
    that matches still fails in any pass whose row count differs.
    """
    import duckdb
    con = duckdb.connect()
    con.sql(f"create view documents as select * from read_parquet('{check['documents']}/*.parquet')")
    failed = 0
    verdicts = {}
    for name, q in check['queries'].items():
        rows = q['rows']
        try:
            actual = con.sql(f"select * from read_parquet('{q['output']}/*.parquet')").df()
            expected = con.sql(q['oracle_sql']).df()
            verdict = compare_frames(actual, expected)
        except Exception as e:  # an oracle or output that cannot be read fails the query
            verdict = f'error: {str(e)[:200]}'
        if verdict == 'match':
            bad = sum(1 for r in rows if r != len(expected))
            if bad:
                verdict = f'match; {bad} passes returned another row count than {len(expected)}'
        else:
            bad = len(rows)
        failed += bad
        verdicts[name] = verdict
    return failed, verdicts


def compare_frames(actual, expected):
    """Order-insensitive, dtype-strict frame comparison ('match' or why not)."""
    cols = sorted(actual.columns)
    if cols != sorted(expected.columns):
        return f'schema {cols} vs {sorted(expected.columns)}'
    a = actual[cols].sort_values(by=cols).reset_index(drop=True)
    e = expected[cols].sort_values(by=cols).reset_index(drop=True)
    if len(a) != len(e):
        return f'rows {len(a)} vs {len(e)}'
    if list(a.dtypes) != list(e.dtypes):
        return f'dtypes {list(map(str, a.dtypes))} vs {list(map(str, e.dtypes))}'
    return 'match' if a.equals(e) else 'values differ'


# Per-layer metric prefixes naming work a workload never does: the layers
# it never calls (engine workloads start no Spark; dedup_memo parses no
# HTML; rewrite_large never extracts, engine_large never rewrites) and, on
# dedup_memo, the Spark extraction pass. Every per-layer metric is an amount
# of one layer's work (time, bytes or a count, per document, MB, pass or
# set-up), so these read 0.
ABSENT = {
    'table_small': ('rewrite.', 'ops.'),
    'engine_large': ('rewrite.', 'spark.', 'ops.'),
    'rewrite_large': ('extract.', 'spark.', 'ops.'),
    'dedup_memo': ('core.', 'selectors.', 'extract.', 'rewrite.',
                   'spark.scan_s', 'spark.engine_s', 'spark.adapter_s'),
}


def result_line(spec, res, trace, correct):
    """The key set of BENCHMARK.json, filled from the run's figures.

    A per-layer metric of work the workload never does reads 0; any other
    metric the run did not measure is an error.
    """
    wanted = spec['per_layer'] if trace else spec['end_to_end']
    got = res['metrics']
    metrics = {}
    for m in wanted:
        name = m['name']
        g = got.get(name)
        if g is not None and g['unit'] != m['unit']:
            raise ValueError(f"{name}: run reports unit {g['unit']}, BENCHMARK.json says {m['unit']}")
        if g is None and trace and name.startswith(ABSENT[res['workload']]):
            value = 0.0
        elif g is None or g['value'] is None:
            why = (g or {}).get('reason') or 'not reported'
            raise ValueError(f"{name}: {res['workload']} did not measure it ({why})")
        else:
            value = g['value']
        metrics[name] = {'value': value, 'unit': m['unit']}
    return {'correct': correct, 'attempted': int(res['attempted']),
            'failed': int(res['failed']), 'metrics': metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', choices=WORKLOADS)
    ap.add_argument('--seed', type=int)
    ap.add_argument('--seconds', type=float)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--write-digests', action='store_true',
                    help='regenerate the stored large-document digests from the current code')
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    if args.write_digests:
        write_digests(build())
        return
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error('--workload, --seed and --seconds are required')

    spec_path = os.path.join(ROOT, 'BENCHMARK.json')
    if not os.path.isfile(spec_path):
        fail(f'{spec_path} not found')
    with open(spec_path) as f:
        spec = json.load(f)

    cp = build()
    started = time.time()
    facts = host_facts()
    launched_ms = int(time.time() * 1000)
    res = run_jvm(cp, args, launched_ms)

    correct = res['failed'] == 0 and res['attempted'] > 0
    check = res['checks'].get('oracle_replay')
    if check is not None:
        t0 = time.time()
        failed, verdicts = oracle_replay(check)
        res['info']['oracle_replay_s'] = time.time() - t0
        res['checks']['oracle_replay'] = verdicts
        res['failed'] = max(res['failed'], failed)
        correct = correct and failed == 0

    res['metrics']['failed_frac'] = {'value': res['failed'] / max(1, res['attempted']), 'unit': 'ratio'}
    host = dict(res['host'])
    host.update(facts)
    host['load_average_1m_after_run'] = os.getloadavg()[0]
    effective = min(facts['affinity_cpus'], host.get('jvm_available_processors', SLOTS))
    host['effective_cpus'] = effective
    host['valid'] = effective >= SLOTS
    if not host['valid']:
        host['invalid_reason'] = f'invalid_host: {effective} effective CPUs < {SLOTS} configured slots'
        print(f"perfbench: {host['invalid_reason']}; figures are not valid", file=sys.stderr)
    res['host'] = host
    res['seed'] = args.seed
    res['seconds'] = args.seconds
    res['info']['run_s'] = time.time() - started

    os.makedirs(os.path.join(WORK, 'reports'), exist_ok=True)
    report_path = os.path.join(WORK, 'reports', f'{args.workload}-{args.seed}-{args.trace}.json')
    with open(report_path, 'w') as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))
    try:
        line = result_line(spec, res, args.trace == 1, correct)
    except ValueError as e:
        fail(str(e), 1)
    print(json.dumps(line))


if __name__ == '__main__':
    main()
