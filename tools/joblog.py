#!/usr/bin/env python3
"""Split a Spark event log by job group and by job.

Usage:
  python3 tools/joblog.py EVENTLOG [--record RECORD_JSON] [--group G ...]
                          [--jobs]

EVENTLOG is one uncompressed Spark event log (JSON lines, as written with
spark.eventLog.compress=false): a file, or the eventlog_v2_<app> directory
of a rolling log (Spark 4's default), whose events_<n> parts are read in
order. RECORD_JSON is the run record
perfbench/run.py keeps under perfbench/.runs/<run>/record.json; with it,
each job group is named by its op and pass.

Per job group it prints the job count, job-busy ms (the union of the
jobs' submit-to-completion intervals) and between-job ms (from the first
submit to the last completion, minus job-busy). With RECORD_JSON it also
prints the op's wall ms, its lead (op start to first submit) and its tail
(last completion to op end). --jobs adds one line per job of the printed
groups: duration, tasks, and the summed task deserialize and run ms.
--group restricts the output to the named groups or ops (a prefix of the
op name matches, so "train" matches "train.broadcast").

Recipe, for a perfbench run (nothing under perfbench/ changes):

  rm -rf /tmp/ev && mkdir -p /tmp/ev
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
    -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \\
    python3 perfbench/run.py --workload macau --seed 44 --seconds 20 --trace 0
  python3 tools/joblog.py /tmp/ev/* \\
    --record "$(ls -td perfbench/.runs/*/ | head -1)record.json" --jobs
"""
import argparse
import json
import os
import re
import sys


def event_lines(path):
    """The lines of one event log: a file, or a rolling event log's
    directory (eventlog_v2_<app>/events_<n>_<app>, Spark's default)."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith('events_')]
        parts.sort(key=lambda f: int(re.match(r'events_(\d+)_', f).group(1)))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            yield from fh


def load_events(path):
    jobs = {}         # job id -> dict
    stage_job = {}    # stage id -> job id
    for line in event_lines(path):
        e = json.loads(line)
        kind = e.get('Event')
        if kind == 'SparkListenerJobStart':
            props = e.get('Properties') or {}
            jid = e['Job ID']
            jobs[jid] = dict(
                id=jid, group=props.get('spark.jobGroup.id', ''),
                phase=props.get('perfbench.phase', ''),
                submit=e['Submission Time'], end=None,
                tasks=0, deser_ms=0, run_ms=0)
            for sid in e.get('Stage IDs', []):
                stage_job[sid] = jid
        elif kind == 'SparkListenerJobEnd':
            if e['Job ID'] in jobs:
                jobs[e['Job ID']]['end'] = e['Completion Time']
        elif kind == 'SparkListenerTaskEnd':
            job = jobs.get(stage_job.get(e.get('Stage ID')))
            m = e.get('Task Metrics')
            if job is not None:
                job['tasks'] += 1
                if m:
                    job['deser_ms'] += m.get('Executor Deserialize Time', 0)
                    job['run_ms'] += m.get('Executor Run Time', 0)
    return sorted((j for j in jobs.values() if j['end'] is not None),
                  key=lambda j: j['submit'])


def union_ms(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('eventlog')
    ap.add_argument('--record')
    ap.add_argument('--group', action='append', default=[])
    ap.add_argument('--jobs', action='store_true')
    a = ap.parse_args()

    jobs = load_events(a.eventlog)
    ops = {}
    if a.record:
        with open(a.record) as fh:
            ops = {o['group']: o for o in json.load(fh)['ops']}

    groups = {}
    for j in jobs:
        groups.setdefault(j['group'], []).append(j)

    def label(g):
        o = ops.get(g)
        return f"{o['op']} pass {o['pass']}" if o else (g or '(no group)')

    def wanted(g):
        if not a.group:
            return True
        name = ops[g]['op'] if g in ops else g
        return any(g == w or name.startswith(w) for w in a.group)

    order = sorted(groups, key=lambda g: groups[g][0]['submit'])
    for g in filter(wanted, order):
        js = groups[g]
        first, last = js[0]['submit'], max(j['end'] for j in js)
        busy = union_ms([(j['submit'], j['end']) for j in js])
        line = (f"{label(g):32s} jobs {len(js):4d}  job-busy {busy:6d} ms  "
                f"between-jobs {last - first - busy:6d} ms")
        o = ops.get(g)
        if o:
            line += (f"  op {o['end_ms'] - o['start_ms']:6d} ms  "
                     f"lead {first - o['start_ms']:5d} ms  tail {o['end_ms'] - last:5d} ms")
        print(line)
        if a.jobs:
            for j in js:
                print(f"    job {j['id']:6d} {j['phase']:10s} {j['end'] - j['submit']:6d} ms  "
                      f"tasks {j['tasks']:4d}  deserialize {j['deser_ms']:6d} ms  "
                      f"run {j['run_ms']:6d} ms")
    return 0


if __name__ == '__main__':
    sys.exit(main())
