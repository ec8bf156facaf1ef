#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage (from the root of a checkout):

  python3 perfbench/run.py
      --workload registry|registry_x10|macau|macau_distributed
      --seed N --seconds S --trace 0|1 [--smoke]

Builds the program from source on first use (sbt, into target/ and
perfbench/target/), prepares the workload's inputs, runs the workload in
one JVM at local[nproc] as a single closed-loop client for S seconds,
checks every output, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, and the run's full record (every serve and call, with
its spans) is kept under perfbench/.runs/.

--smoke runs the same workloads at sf0.001 and a tiny macau problem; it
is what perfbench/test_smoke.py drives. BENCHMARK.json lists registry
and macau; registry_x10 and macau_distributed are kept for running by
hand (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, '.state')
RUNS = os.path.join(HERE, '.runs')
DEADLINE_S = 170
TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']

# registry: 12 of the 255 SparkEntry.queries faces at sf0.1, one or two
# per large family near the family's median serve time, including the
# job-heavy loop faces; a warm pass takes ~8 s at local[4]. The whole
# registry (~170 s warm, ~270 s cold) does not fit in one run.
REGISTRY = [
    'q_agg_pricing', 'q_agg_heavy_hitters', 'q_join_tpch_q5',
    'q_dedup_clusters', 'q_graph_triangles', 'q_bdf_rmse', 'q_sim_ann_ivf',
    'q_stream_approx_frequency', 'q_win_rank', 'q_text_tokenize',
    'q_layout_zorder', 'q_scan_project',
]
# registry_x10: 4 of the 26 data-proportional faces of tools/scalegate.py
# DEFAULT_QUERIES on the 10x clone of sf0.1, all execution-bound (TPC-H
# Q13/Q19/Q22 over the fact table, a per-user window pass); ~3.5 s a pass
# at local[4].
REGISTRY_X10 = ['q_join_tpch_q13', 'q_join_tpch_q19', 'q_join_tpch_q22',
                'q_stream_asof']

MACAU = dict(rows=2000, cols=200, per_row=40, features=5, cold=0.05,
             k=8, sweeps=4)
MACAU_SMOKE = dict(rows=300, cols=60, per_row=20, features=5, cold=0.05,
                   k=8, sweeps=2)
# Gibbs modes each macau workload trains in. macau_distributed adds the
# distributed-factor mode, which diverges with dense side information
# (README.md, "Known defect"), so it fails its check and is not listed in
# BENCHMARK.json.
MODES = {'macau': ['broadcast'], 'macau_distributed': ['broadcast', 'distributed']}


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f'perfbench: {msg}', file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = ['build.sbt', 'project/build.properties', 'src/main',
            'perfbench/build.sbt', 'perfbench/project/build.properties',
            'perfbench/src']
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, 'rb') as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the benchmark; return the JVM classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, f'classpath-{stamp}.txt')
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return stamp, fh.read().strip()
    os.makedirs(STATE, exist_ok=True)
    log('building (sbt compile)')
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    env['SBT_OPTS'] = (env.get('SBT_OPTS', '') +
                       ' -Dsbt.offline=true -Dsbt.server.autostart=false')
    out = subprocess.run(
        ['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile',
         'export Runtime/fullClasspath'],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or '.jar' not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail('build failed')
    with open(cp_file, 'w') as fh:
        fh.write(lines[-1].strip())
    return stamp, lines[-1].strip()


def java_cmd(cp, tmpdir, args):
    opens = ['java.base/' + p for p in (
        'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io',
        'java.net', 'java.nio', 'java.util', 'java.util.concurrent',
        'java.util.concurrent.atomic', 'sun.nio.ch', 'sun.nio.cs',
        'sun.security.action', 'sun.util.calendar')]
    cmd = ['java', '-Xmx4g', f'-Djava.io.tmpdir={tmpdir}',
           '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC']
    for p in opens:
        cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
    return cmd + ['-cp', cp, 'perfbench.Main'] + args


def run_jvm(cmd, log_path, timeout, env=None):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, 'w') as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=err,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = 'timeout'
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f'JVM exited with {rc}')
        sys.exit(1)


def testdata_dir(sf):
    base = os.environ.get('PERFBENCH_TESTDATA',
                          os.path.join(os.path.expanduser('~'), 'testdata'))
    d = os.path.join(base, sf)
    if not os.path.isfile(os.path.join(d, 'lineitem.parquet')):
        fail(f'test data {d} not found (set PERFBENCH_TESTDATA)')
    return d


def clone10(src, name):
    """The 10x key-shifted clone tools/scale10.py builds (not timed)."""
    dst = os.path.join(STATE, name)
    if not os.path.exists(os.path.join(dst, '_DONE')):
        log(f'building 10x clone {dst}')
        shutil.rmtree(dst, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'scale10.py'),
                        src, dst, '10'], check=True, stdout=subprocess.DEVNULL)
        open(os.path.join(dst, '_DONE'), 'w').close()
    return dst


def expected_rows(stamp, cp, data_dir, dataset, faces):
    """Row count each face must return on `dataset`: DuckDB over the
    face's SparkEntry.oracleSql where it has one, else the count recorded
    in expected_rows.json at the commit that added the benchmark."""
    cache = os.path.join(STATE, f'expected-{dataset}-{stamp}.json')
    known = {}
    if os.path.exists(cache):
        with open(cache) as fh:
            known = json.load(fh)
    todo = [f for f in faces if f not in known]
    if todo:
        oracle_file = os.path.join(STATE, f'oracle-{stamp}.json')
        if not os.path.exists(oracle_file):
            run_jvm(java_cmd(cp, STATE, ['mode=oracle', f'out={oracle_file}']),
                    os.path.join(STATE, 'oracle.log'), 120)
        with open(oracle_file) as fh:
            oracle = json.load(fh)['oracle']
        with open(os.path.join(HERE, 'expected_rows.json')) as fh:
            recorded = json.load(fh).get(dataset, {})
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f'{t}.parquet')
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for f in todo:
            if f in oracle:
                known[f] = con.sql(f'SELECT count(*) FROM ({oracle[f]})').fetchone()[0]
            else:
                known[f] = recorded.get(f, -1)
        with open(cache, 'w') as fh:
            json.dump(known, fh)
    return {f: known[f] for f in faces}


FACES = {'registry': REGISTRY, 'registry_x10': REGISTRY_X10}


def prepare(stamp, cp, workload, smoke):
    """Data directory and expected row counts of a query workload. The
    10x clone and the DuckDB counts are made once per checkout and cached
    under perfbench/.state/."""
    sf = 'sf0.001' if smoke else 'sf0.1'
    data, dataset = testdata_dir(sf), sf
    if workload == 'registry_x10':
        dataset = f'{sf}x10'
        data = clone10(data, dataset)
    return data, expected_rows(stamp, cp, data, dataset, FACES[workload])


def dir_stats(path):
    builds = size = 0
    for d, _, fs in os.walk(path):
        builds += '_SUCCESS' in fs
        size += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return builds, size


def med(xs):
    return statistics.median(xs) if xs else 0.0


def by_name(ops, key):
    """Per op name, the median of `key` over the given ops."""
    names = {}
    for o in ops:
        names.setdefault(o['op'], []).append(key(o))
    return {n: med(v) for n, v in names.items()}


def end_to_end(rec, attempted, failed):
    timed = [o for o in rec['ops'] if o['pass'] >= 0 and 's' in o]
    per_op = by_name(timed, lambda o: o['s'])
    return {
        'setup_s': (rec['setup_s'], 's'),
        'suite_s': (sum(per_op.values()), 's'),
        'op_geomean_s': (statistics.geometric_mean(per_op.values()) if per_op else 0.0, 's'),
        'ok_frac': ((attempted - failed) / attempted, 'frac'),
    }


def per_layer(rec, artifacts, modes):
    cores = rec['cores']
    ops = [o for o in rec['ops'] if o['pass'] >= 0 and 's' in o]
    traced = [o for o in ops if o['traced']]

    def total(key, sel=lambda o: True):
        return sum(by_name([o for o in traced if sel(o)], key).values())

    def phase(p):
        return lambda o: o['phases'].get(p, 0.0)

    def busy(sel):
        wall = total(lambda o: o['s'], sel)
        return total(lambda o: o['task_s'], sel) / (wall * cores) if wall else 0.0

    serve = lambda o: o['kind'] == 'serve'
    m = {
        'queries.build_s': (total(phase('build'), serve), 's'),
        'queries.build_jobs': (total(lambda o: o['jobs_by_phase'].get('build', 0), serve), 'count'),
        'plans.plan_s': (total(phase('plan'), serve), 's'),
        'exec.exec_s': (total(phase('exec'), serve), 's'),
        'op.self_s': (total(lambda o: o['self_s']), 's'),
        'spark.jobs': (total(lambda o: o['jobs']), 'count'),
        'spark.stages': (total(lambda o: o['stages']), 'count'),
        'spark.tasks': (total(lambda o: o['tasks']), 'count'),
        'spark.task_s': (total(lambda o: o['task_s']), 's'),
        'spark.task_cpu_s': (total(lambda o: o['task_cpu_s']), 's'),
        'spark.gc_s': (total(lambda o: o['gc_s']), 's'),
        'spark.shuffle_read_bytes': (total(lambda o: o['shuffle_read_bytes']), 'bytes'),
        'spark.shuffle_write_bytes': (total(lambda o: o['shuffle_write_bytes']), 'bytes'),
        'spark.spill_bytes': (total(lambda o: o['spill_bytes']), 'bytes'),
        'spark.input_bytes': (total(lambda o: o['input_bytes']), 'bytes'),
        'spark.no_job_s': (total(lambda o: o['no_job_s']), 's'),
        'spark.core_busy_frac': (busy(lambda o: True), 'frac'),
        'ArtifactStore.builds': (artifacts[0], 'count'),
        'ArtifactStore.bytes': (artifacts[1], 'bytes'),
        'jvm.heap_peak_mb': (max(rec['heap_mb']), 'MB'),
    }
    for mode in modes:
        is_mode = lambda o, k=f'train.{mode}': o['kind'] == k
        pre = f'bdf.train.{mode}'
        m[f'{pre}.s'] = (total(lambda o: o['s'], is_mode), 's')
        m[f'{pre}.jobs'] = (total(lambda o: o['jobs'], is_mode), 'count')
        m[f'{pre}.task_s'] = (total(lambda o: o['task_s'], is_mode), 's')
        m[f'{pre}.no_job_s'] = (total(lambda o: o['no_job_s'], is_mode), 's')
        m[f'{pre}.shuffle_bytes'] = (total(
            lambda o: o['shuffle_read_bytes'] + o['shuffle_write_bytes'], is_mode), 'bytes')
        m[f'{pre}.core_busy_frac'] = (busy(is_mode), 'frac')
        # a non-finite RMSE is recorded as null; its op already failed its check
        m[f'bdf.rmse.{mode}'] = (med([o['rmse'] for o in ops
                                      if is_mode(o) and o['rmse'] is not None]), 'rmse')
    is_score = lambda o: o['kind'] == 'score'
    m['bdf.score.s'] = (total(lambda o: o['s'], is_score), 's')
    m['bdf.score.jobs'] = (total(lambda o: o['jobs'], is_score), 'count')
    m['bdf.score.task_s'] = (total(lambda o: o['task_s'], is_score), 's')
    # tracing overhead: traced passes against the untraced passes of the
    # same run, over the ops both kinds of pass served
    t = by_name(traced, lambda o: o['s'])
    u = by_name([o for o in ops if not o['traced']], lambda o: o['s'])
    both = [n for n in t if n in u]
    untraced_sum = sum(u[n] for n in both)
    m['trace.slowdown'] = (sum(t[n] for n in both) / untraced_sum if untraced_sum else 0.0, 'x')
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True,
                    choices=['registry', 'registry_x10', 'macau', 'macau_distributed'])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--smoke', action='store_true')
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, 'src', 'main', 'scala', 'graft',
                                       'SparkEntry.scala')):
        fail(f'no graft sources under {ROOT}; run from the root of a checkout')

    stamp, cp = build()
    macau = a.workload in MODES
    if not macau:
        data, expected = prepare(stamp, cp, a.workload, a.smoke)
    t_start = time.time()  # the build and input preparation are not timed
    cores = os.cpu_count() or 1
    tag = f'{a.workload}-seed{a.seed}-trace{a.trace}' + ('-smoke' if a.smoke else '')
    run_dir = os.path.join(RUNS, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, 'tmp')
    work = os.path.join(run_dir, 'work')
    os.makedirs(tmp)
    os.makedirs(work)
    record = os.path.join(run_dir, 'record.json')
    args = ['mode=run', f'workload={a.workload}', f'seed={a.seed}',
            f'seconds={a.seconds}', f'trace={a.trace}', f'cores={cores}',
            f'work={work}', f'out={record}', f'spans={run_dir}/spans.jsonl']
    if macau:
        args += [f'{k}={v}' for k, v in (MACAU_SMOKE if a.smoke else MACAU).items()]
        args.append('modes=' + ','.join(MODES[a.workload]))
    else:
        faces = FACES[a.workload]
        faces_file = os.path.join(run_dir, 'faces.tsv')
        with open(faces_file, 'w') as fh:
            fh.writelines(f'{f}\t{expected[f]}\n' for f in faces)
        args += [f'data={data}', f'faces={faces_file}']

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    run_jvm(java_cmd(cp, tmp, args), os.path.join(run_dir, 'jvm.log'),
            DEADLINE_S - (time.time() - t_start), env)
    with open(record) as fh:
        rec = json.load(fh)
    artifacts = dir_stats(os.path.join(tmp, 'graft_artifacts'))
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)

    # the warm pass (pass -1) is set-up: its failures are logged, but
    # attempted/failed count the timed operations
    for o in rec['ops']:
        if not o['ok']:
            log(f"FAILED {o['kind']} {o['op']} pass {o['pass']}: " + (
                o.get('error') or f"rows={o.get('rows')} expected={o.get('expected')}"
                f" rmse={o.get('rmse')} sd={o.get('sd')} reference={o.get('reference_rmse')}"))
    timed = [o for o in rec['ops'] if o['pass'] >= 0]
    attempted = len(timed)
    bad = [o for o in timed if not o['ok']]
    log('host ' + json.dumps(rec['host']))
    metrics = (per_layer(rec, artifacts, MODES.get(a.workload, ['broadcast'])) if a.trace else
               end_to_end(rec, attempted, len(bad)))
    for name, (v, unit) in metrics.items():
        log(f'{name} = {v} {unit}')
    result = {'correct': not bad, 'attempted': attempted, 'failed': len(bad),
              'metrics': {n: {'value': v, 'unit': u} for n, (v, u) in metrics.items()}}
    with open(os.path.join(run_dir, 'result.json'), 'w') as fh:
        json.dump(dict(result, host=rec['host'], artifacts=artifacts,
                       setup_marks=rec['setup_marks'],
                       wall_s=time.time() - t_start), fh)
    print(json.dumps(result))


if __name__ == '__main__':
    main()
