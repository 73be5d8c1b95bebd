#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes (two short benchmark
runs). Checks that
- the tree generator is deterministic per seed, and seed-sensitive;
- `BENCHMARK.json` names exactly the metrics `run.py` reports;
- an untraced run prints every end-to-end metric with its unit, and its
  outputs pass their checks;
- a traced run prints every per-layer metric, its span JSONL parses, every
  span nests inside its parent, and self times are non-negative and fit
  inside the traced pass wall.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import saxs_tree  # noqa: E402

WORK = ROOT / '.bench_build' / 'selftest'
WORKLOAD, SEED = 'saxs_many', 1


def bench(trace):
    env = dict(os.environ, CARGO_TARGET_DIR=str(ROOT / '.bench_build'))
    p = subprocess.run(
        [sys.executable, str(HERE / 'run.py'), '--workload', WORKLOAD,
         '--seed', str(SEED), '--seconds', '1', '--trace', str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stdout + p.stderr
    return json.loads(p.stdout.strip().splitlines()[-1])


class Generator(unittest.TestCase):
    def tree(self, name, seed):
        d = WORK / name
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        saxs_tree.generate(d, seed, pairs=1, reps=2, h=32, w=40)
        return d

    def same(self, a, b):
        fa = sorted(p.relative_to(a) for p in a.rglob('*') if p.is_file())
        fb = sorted(p.relative_to(b) for p in b.rglob('*') if p.is_file())
        return fa == fb and all(
            filecmp.cmp(a / f, b / f, shallow=False) for f in fa)

    def test_deterministic_per_seed(self):
        self.assertTrue(self.same(self.tree('a', 5), self.tree('b', 5)))

    def test_seed_changes_tree(self):
        self.assertFalse(self.same(self.tree('a', 5), self.tree('c', 6)))


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_run(self):
        b = json.loads((ROOT / 'BENCHMARK.json').read_text())
        self.assertEqual(sorted(w['name'] for w in b['workloads']),
                         sorted(run.WORKLOADS))
        self.assertEqual({(m['name'], m['unit']) for m in b['end_to_end']},
                         set(run.END_TO_END))
        self.assertEqual({(m['name'], m['unit']) for m in b['per_layer']},
                         set(run.PER_LAYER))


class Runs(unittest.TestCase):
    def check_line(self, line, names):
        self.assertEqual(set(line), {'correct', 'attempted', 'failed',
                                     'metrics'})
        self.assertTrue(line['correct'])
        self.assertEqual(line['failed'], 0)
        self.assertGreaterEqual(line['attempted'], 1)
        self.assertEqual({(k, v['unit']) for k, v in line['metrics'].items()},
                         set(names))
        for v in line['metrics'].values():
            self.assertIsInstance(v['value'], (int, float))

    def test_untraced_metrics(self):
        self.check_line(bench(0), run.END_TO_END)

    def test_traced_metrics_and_spans(self):
        self.check_line(bench(1), run.PER_LAYER)
        out = ROOT / '.bench_build' / 'runs' / f'{WORKLOAD}-s{SEED}-t1'
        spans, by_id = run.load_spans(out / 'spans.jsonl')
        res = json.loads((out / 'result.json').read_text())
        self.assertTrue(spans)
        roots = [s for s in spans if s['parent'] == 0]
        self.assertEqual(len(roots), len(res['traced_passes']))
        for s in spans:
            self.assertEqual(s['run'], f'{WORKLOAD}-s{SEED}-t1')
            self.assertLessEqual(s['start_s'], s['end_s'])
            self.assertGreaterEqual(s['self_s'], -1e-9)
            if s['parent']:
                p = by_id[s['parent']]
                self.assertLessEqual(p['start_s'], s['start_s'])
                self.assertLessEqual(s['end_s'], p['end_s'])
        for root, p in zip(sorted(roots, key=lambda s: s['id']),
                           res['traced_passes']):
            inside = [s for s in spans if s is root or
                      run.root_of(s, by_id) is root]
            self.assertLessEqual(sum(s['self_s'] for s in inside),
                                 p['wall_s'] + 1e-6)


if __name__ == '__main__':
    unittest.main(verbosity=2)
