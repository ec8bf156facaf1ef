#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload, untraced and
traced, at sf0.001 and a tiny macau problem, end to end. Asserts that the
last stdout line is the result object and that it names every metric of
BENCHMARK.json with its unit.

Run from the root of a checkout: python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
         '--seed', '7', '--seconds', '1', '--trace', str(trace), '--smoke'],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert out.returncode == 0, f'{workload} trace={trace} exited {out.returncode}'
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, 'BENCHMARK.json')))

    def check(self, workload, extra=None):
        for trace, key in ((0, 'end_to_end'), (1, 'per_layer')):
            res = run(workload, trace)
            self.assertEqual(set(res), {'correct', 'attempted', 'failed', 'metrics'})
            self.assertGreaterEqual(res['attempted'], 1)
            want = {m['name']: m['unit'] for m in self.spec[key]}
            if trace and extra:
                want.update(extra)
            got = {n: m['unit'] for n, m in res['metrics'].items()}
            self.assertEqual(got, want, f'{workload} trace={trace}')
            for n, m in res['metrics'].items():
                self.assertIsInstance(m['value'], (int, float), n)
            if extra is None:
                # macau_distributed carries the known distributed-mode
                # defect and may fail its check; the listed workloads may not
                self.assertTrue(res['correct'], f'{workload} trace={trace}: {res}')
                self.assertEqual(res['failed'], 0)

    def test_registry(self):
        self.check('registry')

    def test_registry_x10(self):
        self.check('registry_x10')

    def test_macau(self):
        self.check('macau')

    def test_macau_distributed(self):
        pre = 'bdf.train.distributed'
        units = {'s': 's', 'jobs': 'count', 'task_s': 's', 'no_job_s': 's',
                 'shuffle_bytes': 'bytes', 'core_busy_frac': 'frac'}
        extra = {f'{pre}.{k}': u for k, u in units.items()}
        extra['bdf.rmse.distributed'] = 'rmse'
        self.check('macau_distributed', extra)


if __name__ == '__main__':
    unittest.main()
