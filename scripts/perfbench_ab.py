#!/usr/bin/env python3
"""Interleaved A/B of the SAXS benchmark: a parent revision against the
working tree.

    python3 scripts/perfbench_ab.py --parent <rev> --workload <w> --pairs N \\
        --seed-base S [--seconds 15] [--work DIR] [--dry-run]

Run from the repository root. The parent revision is exported with
`git archive` into the work directory (a new temporary directory unless
`--work` names one to reuse), so nothing is written into the repository
but the benchmark's own ignored build output. Each arm runs
`perfbench/run.py --trace 0` from its own tree with its own
`CARGO_TARGET_DIR` (build, trees and run outputs). Pair i uses seed
S + i for both arms; the parent runs first in even pairs and second in odd
ones, so a warm-up or a drifting host favours neither arm.

Prints one line per run (reps_per_s, setup_s, failed, steal share), then
per-arm medians and quartiles, the per-pair ratios (change / parent), the
win count and the medians split by which arm ran first. Exits non-zero if
any run failed: a non-zero exit of run.py, or any failed output check.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
ROOT = Path(__file__).resolve().parent.parent
ARMS = ('parent', 'change')
# metric -> True when higher is better
METRICS = {'reps_per_s': True, 'setup_s': False}


def schedule(pairs, seed_base):
    """[(pair, seed, (first arm, second arm))]: one seed per pair, the arm
    order alternating per pair, parent first in pair 0."""
    return [(i, seed_base + i, ARMS if i % 2 == 0 else ARMS[::-1])
            for i in range(pairs)]


def parse_run(stdout):
    """The metrics of one run.py --trace 0 run from its stdout: the last
    line is the result JSON, the `environment` line carries the steal
    share."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError('run printed nothing')
    res = json.loads(lines[-1])
    steal = None
    for l in lines:
        if l.startswith('environment '):
            steal = json.loads(l[len('environment '):]).get('cpu_steal_share')
    out = {k: res['metrics'][k]['value'] for k in METRICS}
    out.update(failed=res['failed'], steal=steal)
    return out


def quartiles(xs):
    """(q1, median, q3) of at least one value."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method='inclusive')
    return q1, q2, q3


def summarize(runs):
    """Statistics of finished runs, dicts with pair, arm, first (ran first
    in its pair) and the parse_run fields. Pairs missing an arm are left
    out of the ratios."""
    out = {'arms': {}, 'ratios': {}, 'wins': {}, 'by_order': {}}
    for m, higher in METRICS.items():
        for arm in ARMS:
            xs = [r[m] for r in runs if r['arm'] == arm]
            if xs:
                out['arms'].setdefault(arm, {})[m] = quartiles(xs)
            for first in (True, False):
                ys = [r[m] for r in runs if r['arm'] == arm and r['first'] == first]
                if ys:
                    out['by_order'].setdefault(arm, {}).setdefault(m, {})[
                        'first' if first else 'second'] = statistics.median(ys)
        by_pair = {}
        for r in runs:
            by_pair.setdefault(r['pair'], {})[r['arm']] = r[m]
        ratios = [(p, v['change'] / v['parent']) for p, v in sorted(by_pair.items())
                  if 'change' in v and 'parent' in v and v['parent']]
        out['ratios'][m] = ratios
        out['wins'][m] = (sum(1 for _, x in ratios if (x > 1) == higher and x != 1),
                          len(ratios))
    return out


def report(s):
    lines = []
    for arm in ARMS:
        for m in METRICS:
            q = s['arms'].get(arm, {}).get(m)
            if q:
                lines.append(f'{arm:6} {m:10} median {q[1]:.4g}  q1 {q[0]:.4g}  '
                             f'q3 {q[2]:.4g}  iqr {q[2] - q[0]:.4g}')
    for m, ratios in s['ratios'].items():
        if ratios:
            lines.append(f'{m} change/parent per pair: ' +
                         ' '.join(f'{x:.3f}' for _, x in ratios))
            lines.append(f'{m} median ratio {statistics.median(x for _, x in ratios):.3f}; '
                         f'change better in {s["wins"][m][0]} of {s["wins"][m][1]} pairs')
    for arm, ms in s['by_order'].items():
        for m, v in ms.items():
            lines.append(f'{arm:6} {m:10} median when first {v.get("first", float("nan")):.4g}, '
                         f'when second {v.get("second", float("nan")):.4g}')
    return '\n'.join(lines)


def export(rev, dest):
    """`git archive` of rev into dest (skipped if dest already holds it)."""
    stamp = dest / '.exported_rev'
    sha = subprocess.run(['git', 'rev-parse', rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    if stamp.exists() and stamp.read_text() == sha:
        return sha
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    archive = subprocess.Popen(['git', 'archive', sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(['tar', '-x', '-C', str(dest)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f'git archive {rev} failed')
    stamp.write_text(sha)
    return sha


def command(tree, workload, seed, seconds):
    return [sys.executable, str(tree / 'perfbench' / 'run.py'), '--workload', workload,
            '--seed', str(seed), '--seconds', str(seconds), '--trace', '0']


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--parent', required=True, help='revision of the parent arm')
    ap.add_argument('--workload', required=True)
    ap.add_argument('--pairs', type=int, required=True)
    ap.add_argument('--seed-base', type=int, required=True)
    ap.add_argument('--seconds', type=float, default=15)
    ap.add_argument('--work', help='work directory to create or reuse '
                    '(default: a new temporary directory, removed afterwards)')
    ap.add_argument('--dry-run', action='store_true',
                    help='print the schedule and the commands, run nothing')
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error('--pairs must be at least 1')

    work = Path(a.work).resolve() if a.work else Path(tempfile.mkdtemp(prefix='perfbench_ab_'))
    trees = {'parent': work / 'parent', 'change': ROOT}
    plan = schedule(a.pairs, a.seed_base)
    if a.dry_run:
        for pair, seed, order in plan:
            for arm in order:
                print(f'pair {pair} seed {seed} {arm}: CARGO_TARGET_DIR={work / ("build-" + arm)} '
                      + ' '.join(command(trees[arm], a.workload, seed, a.seconds)))
        if not a.work:
            work.rmdir()
        return 0

    try:
        sha = export(a.parent, trees['parent'])
        print(f'parent {a.parent} = {sha[:12]} in {trees["parent"]}; change = working tree',
              flush=True)
        runs, broken = [], 0
        for pair, seed, order in plan:
            for k, arm in enumerate(order):
                env = dict(os.environ, CARGO_TARGET_DIR=str(work / f'build-{arm}'))
                p = subprocess.run(command(trees[arm], a.workload, seed, a.seconds),
                                   cwd=trees[arm], env=env, capture_output=True, text=True)
                try:
                    r = parse_run(p.stdout)
                except (ValueError, KeyError, IndexError) as e:
                    r = None
                    why = f'unparseable output ({e})'
                if p.returncode != 0 or r is None or r['failed'] != 0:
                    broken += 1
                    tail = '\n'.join((p.stdout + p.stderr).splitlines()[-5:])
                    print(f'pair {pair} seed {seed} {arm}: FAILED rc={p.returncode} '
                          f'{why if r is None else "failed=" + str(r["failed"])}\n{tail}',
                          flush=True)
                    if r is None:
                        continue
                runs.append(dict(r, pair=pair, arm=arm, first=k == 0))
                print(f'pair {pair} seed {seed} {arm:6} reps_per_s {r["reps_per_s"]:.4g} '
                      f'setup_s {r["setup_s"]:.4g} failed {r["failed"]} '
                      f'steal {r["steal"]}', flush=True)
        print(report(summarize(runs)))
        if broken:
            print(f'{broken} run(s) failed', file=sys.stderr)
        return 1 if broken else 0
    finally:
        if not a.work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == '__main__':
    sys.exit(main())
