#!/usr/bin/env python3
"""The benchmark's entry point: one command runs any workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the program
and the harness with sbt and prepares the fixed inputs and their expected
outputs (under perfbench/.cache); later runs reuse them. Each run then
generates its seeded input (cached by seed), starts one harness JVM, checks
every output against expectations computed apart from the program, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the full trace (per-key or per-batch breakdown) is
written to perfbench/.out/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, '.cache')
WORK = os.path.join(HERE, '.work')
OUT = os.path.join(HERE, '.out')
sys.path.insert(0, HERE)

# the benchmark builds the program from its sources and uses its tools/
for need in ('src/main/scala', 'tools/gen_scale.py', 'tools/check.py'):
    if not os.path.exists(os.path.join(ROOT, need)):
        sys.exit(f'[perfbench] no {need} beside perfbench/: run from a checkout of the repository')

import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402

# ----------------------------------------------------------------- inputs

CORES = os.cpu_count() or 4
QUERY_SF = 0.1        # the query_suite tables: graft.Bench's sf0.1 shape
WARMUP_SF = 0.001     # the warm-up tables
ETL_LINES, ETL_FILES = 150_000, 8
DAILY_FILES, DAILY_PER_FILE = 6, 2_500

QUERY_KEYS = [
    'q1_pricing', 'q12_late_shipments', 'op16_radius_join', 'op_corr_matrix',
    'ml_ols_multi', 'dedup_simhash', 'txt_pii_scrub', 'ann_cosine_topk', 'ml_auc',
]
WORKLOADS = ['reference_etl', 'query_suite', 'daily_ingest']

ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar']


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src')]
    files = [os.path.join(HERE, 'build.sbt'), os.path.join(HERE, 'project', 'build.properties')]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source state; returns the
    classpath."""
    stamp = os.path.join(CACHE, 'build.stamp')
    cp_file = os.path.join(HERE, 'target', 'classpath.txt')
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    if 'SPARK_HOME' not in env and shutil.which('spark-submit'):
        env['SPARK_HOME'] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which('spark-submit'))))
    log('building program and harness with sbt')
    t = time.time()
    p = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.autostart=false',
                        'compile', 'writeClasspath'],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail('build failed')
    log(f'built in {time.time() - t:.1f} s')
    os.makedirs(CACHE, exist_ok=True)
    with open(stamp, 'w') as f:
        f.write(digest)
    return open(cp_file).read().strip()


def java(cp, args, log_path, timeout):
    cmd = ['java', '-Xmx3g', '-XX:+UseG1GC',
           f'-Djava.io.tmpdir={os.path.join(WORK, "tmp")}',
           '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC']
    for p in ADD_OPENS:
        cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
    cmd += ['-cp', cp, 'perfbench.Main'] + args
    os.makedirs(os.path.join(WORK, 'tmp'), exist_ok=True)
    with open(log_path, 'w') as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f'harness JVM timed out after {timeout:.0f} s; log: {log_path}')
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f'harness JVM exited with {rc}')


# -------------------------------------------------------- prepared inputs

def done_marker(d):
    return os.path.join(d, '.done')


def expected_dir():
    """Expected query outputs, keyed by the key list."""
    keys = ','.join(QUERY_KEYS)
    return os.path.join(CACHE, f'expected-{hashlib.sha256(keys.encode()).hexdigest()[:12]}')


def prepare_fixed(cp):
    """Once per checkout: gen_scale's warm-up and query tables, and every
    key's expected output (DuckDB over the unpermuted query tables)."""
    tables = {'warmup': WARMUP_SF, 'query_suite': QUERY_SF}
    for name, sf in tables.items():
        d = os.path.join(CACHE, f'tables-{name}')
        if not os.path.exists(done_marker(d)):
            log(f'generating {name} tables at sf{sf}')
            gen.tables(d, sf)
            open(done_marker(d), 'w').close()
    d = expected_dir()
    if not os.path.exists(done_marker(d)):
        os.makedirs(d, exist_ok=True)
        sql_file = os.path.join(d, 'oracle_sql.json')
        java(cp, ['oracles', '--keys', ','.join(QUERY_KEYS), '--file', sql_file],
             os.path.join(d, 'oracles.log'), 300)
        log('computing expected query outputs in DuckDB')
        t = time.time()
        check.expected_keys(os.path.join(CACHE, 'tables-query_suite'), check.load_json(sql_file), d)
        log(f'expected outputs in {time.time() - t:.1f} s')
        open(done_marker(d), 'w').close()


def evict(prefix, keep):
    dirs = sorted((d for d in os.listdir(CACHE) if d.startswith(prefix)),
                  key=lambda d: os.path.getmtime(os.path.join(CACHE, d)))
    for d in dirs[:-keep] if len(dirs) > keep else []:
        shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)


def seeded_input(workload, seed):
    """The workload's input for this seed; generated once, then cached."""
    d = os.path.join(CACHE, f'in-{workload}-{seed}')
    if os.path.exists(done_marker(d)):
        os.utime(d)
        return d
    evict(f'in-{workload}-', 2)
    shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    if workload == 'reference_etl':
        gen.etl(seed, d, ETL_LINES, ETL_FILES)
        check.etl_expected(d).to_parquet(os.path.join(d, 'expected_counts.parquet'))
    elif workload == 'daily_ingest':
        gen.daily(seed, d, DAILY_FILES, DAILY_PER_FILE)
    else:
        gen.permuted_tables(os.path.join(CACHE, 'tables-query_suite'), d, seed)
    open(done_marker(d), 'w').close()
    log(f'generated {workload} input for seed {seed} in {time.time() - t:.1f} s')
    return d


# ----------------------------------------------------------------- checks

def check_ops(workload, inp, out, ops):
    """Marks every op whose output is wrong; returns the set of bad ops."""
    bad = set()

    def mark(o, why):
        log(f'check failed: {o["name"]}: {why}')
        bad.add(o['name'])

    if workload == 'query_suite':
        want = {}
        for o in ops:
            if o['error']:
                continue
            name = o['name']
            if name not in want:
                want[name] = pd.read_parquet(os.path.join(expected_dir(), f'{name}.parquet'))
            got = check.read_output(os.path.join(out, name))
            why = 'no output' if got is None else check.same(got, want[name])
            if why:
                mark(o, why)
    elif workload == 'reference_etl':
        truth = check.load_json(os.path.join(inp, 'truth.json'))
        want = pd.read_parquet(os.path.join(inp, 'expected_counts.parquet'))
        for o in ops:
            if o['error']:
                continue
            if o['name'] == 'stage':
                got = check.read_output(os.path.join(out, 'plant_year_counts'))
                why = 'no output' if got is None else check.same(got, want)
                if why:
                    mark(o, why)
            elif o['name'] == 'append' and o['value'] != truth['staged_rows']:
                mark(o, f'appended {o["value"]} rows, generator expects {truth["staged_rows"]}')
            elif o['name'] == 'append_again' and o['value'] != 0:
                mark(o, f'second append added {o["value"]} rows')
    elif workload == 'daily_ingest':
        truth = check.load_json(os.path.join(inp, 'truth.json'))
        states = check.daily_expected(truth)
        for o in ops:
            if o['error']:
                continue
            n = o['name']
            if n.startswith('batch'):
                i = int(n[5:])
                if o['value'] != truth['rows_after'][i]:
                    mark(o, f'snapshot has {o["value"]} rows, expected {truth["rows_after"][i]}')
            elif n.startswith('time_travel') or n == 'final':
                i = len(states) - 1 if n == 'final' else int(n[11:])
                got = check.read_output(os.path.join(out, n))
                ids = set() if got is None else set(got['id'])
                if got is None or len(got) != len(ids) or ids != states[i]:
                    mark(o, f'{len(ids)} ids read, {len(states[i])} expected')
    return bad


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    # the driver's run length; a run is always one cold pass over the
    # workload's input, as a daily batch job runs in a fresh JVM
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    os.makedirs(CACHE, exist_ok=True)
    prepare_fixed(cp)
    started = time.time()
    inp = seeded_input(a.workload, a.seed)

    out = os.path.join(OUT, f'{a.workload}-{a.seed}-t{a.trace}')
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    args = ['run', '--workload', a.workload, '--input', inp,
            '--warmup', os.path.join(CACHE, 'tables-warmup'), '--out', out, '--work', work,
            '--trace', str(a.trace), '--cores', str(CORES)]
    if a.workload == 'query_suite':
        args += ['--keys', ','.join(QUERY_KEYS)]
    java(cp, args, os.path.join(out, 'jvm.log'), 165 - (time.time() - started))
    res = check.load_json(os.path.join(out, 'result.json'))
    ops = res['ops']
    bad = check_ops(a.workload, inp, out, ops)
    errors = [o for o in ops if o['error']]
    for o in errors:
        log(f'failed: {o["name"]}: {o["error"]}')
    failed = len(errors) + len(bad)

    if a.trace:
        trace = res['trace']
        trace['workload'], trace['seed'] = a.workload, a.seed
        trace['wall_s_traced'] = res['wall_s']
        with open(os.path.join(OUT, f'trace-{a.workload}-{a.seed}.json'), 'w') as f:
            json.dump(trace, f, indent=1)
        metrics = {k: {'value': v, 'unit': UNITS[k]} for k, v in trace['per_layer'].items()}
    else:
        # a batch is one daily file for daily_ingest; the other workloads
        # run their whole input as one batch, so there it equals wall_s
        if a.workload == 'daily_ingest':
            batches = [o['seconds'] for o in ops if o['name'].startswith('batch')]
        else:
            batches = [res['wall_s']]
        metrics = {
            'wall_s': {'value': res['wall_s'], 'unit': 's'},
            'setup_s': {'value': res['setup_s'], 'unit': 's'},
            'batch_p50_s': {'value': statistics.median(batches), 'unit': 's'},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({'correct': not bad, 'attempted': len(ops), 'failed': failed,
                      'metrics': metrics}))


UNITS = {
    'queries.build_s': 's', 'queries.build_jobs': 'count',
    'pipeline.stage_s': 's', 'pipeline.persist_s': 's',
    'catalyst.analysis_s': 's', 'catalyst.optimizer_s': 's', 'catalyst.planning_s': 's',
    'codegen.compile_s': 's', 'codegen.classes': 'count',
    'scheduler.jobs': 'count', 'scheduler.stages': 'count', 'scheduler.tasks': 'count',
    'scheduler.driver_gap_s': 's',
    'executor.task_s': 's', 'executor.cpu_s': 's', 'executor.gc_s': 's',
    'executor.cores_busy': 'cores',
    'shuffle.write_mb': 'MB', 'shuffle.records': 'count', 'shuffle.spill_mb': 'MB',
    'scan.input_mb': 'MB', 'scan.records': 'count',
    'sinks.output_mb': 'MB', 'sinks.files': 'count',
    'manifest.commits': 'count', 'manifest.write_amp': 'ratio', 'manifest.read_s': 's',
    'streaming.triggers': 'count', 'streaming.start_s': 's', 'streaming.offsets_s': 's',
    'streaming.planning_s': 's', 'streaming.add_batch_s': 's',
}

if __name__ == '__main__':
    main()
