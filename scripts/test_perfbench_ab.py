#!/usr/bin/env python3
"""Tests for perfbench_ab.py's schedule, run parsing and statistics.

Checks, without running the benchmark:
  1. the schedule gives both arms of a pair one seed, seeds S, S+1, ...,
     and alternates the arm order (parent first in pair 0);
  2. parse_run reads the metrics from the last line and the steal share
     from the `environment` line of run.py's stdout;
  3. summarize computes per-arm quartiles, per-pair ratios, win counts
     (higher reps_per_s, lower setup_s) and the medians split by order,
     and leaves a pair with a missing arm out of the ratios;
  4. --dry-run prints one command per run and touches nothing.

Run: python3 scripts/test_perfbench_ab.py   (exit 0 = all cases behave)
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import perfbench_ab as ab  # noqa: E402


def stdout_of(reps, setup, failed=0, steal=0.01):
    env = {'nproc': 4, 'cpu_steal_share': steal}
    result = {'correct': failed == 0, 'attempted': 320, 'failed': failed,
              'metrics': {'setup_s': {'value': setup, 'unit': 's'},
                          'reps_per_s': {'value': reps, 'unit': 'repetitions/s'}}}
    return '\n'.join([
        'workload saxs_many seed 1: 320 repetitions',
        f'environment {json.dumps(env)}',
        '  reps_per_s = 1 repetitions/s',
        json.dumps(result), ''])


def main():
    failures = []

    def case(name, ok, detail=''):
        print(f"{'PASS' if ok else 'FAIL'} {name}")
        if not ok:
            failures.append(f'{name}: {detail}')

    # 1. schedule
    plan = ab.schedule(4, 100)
    case('schedule seeds', [s for _, s, _ in plan] == [100, 101, 102, 103], plan)
    case('schedule alternates order',
         [o for _, _, o in plan] == [('parent', 'change'), ('change', 'parent')] * 2, plan)

    # 2. parse_run
    r = ab.parse_run(stdout_of(72.5, 0.9, failed=0, steal=0.07))
    case('parse_run metrics', r == {'reps_per_s': 72.5, 'setup_s': 0.9,
                                    'failed': 0, 'steal': 0.07}, r)
    try:
        ab.parse_run('')
        case('parse_run rejects empty output', False, 'no exception')
    except ValueError:
        case('parse_run rejects empty output', True)

    # 3. summarize: pairs 0-2 complete, pair 3 lost its change run
    values = {  # (pair, arm) -> (reps_per_s, setup_s)
        (0, 'parent'): (50.0, 1.0), (0, 'change'): (60.0, 0.9),
        (1, 'change'): (70.0, 1.1), (1, 'parent'): (80.0, 1.0),
        (2, 'parent'): (40.0, 1.0), (2, 'change'): (60.0, 1.0),
        (3, 'parent'): (55.0, 1.0)}
    runs = []
    for pair, _, order in ab.schedule(4, 0):
        for k, arm in enumerate(order):
            if (pair, arm) in values:
                reps, setup = values[(pair, arm)]
                runs.append(dict(pair=pair, arm=arm, first=k == 0, reps_per_s=reps,
                                 setup_s=setup, failed=0, steal=0.0))
    s = ab.summarize(runs)
    ratios = [round(x, 4) for _, x in s['ratios']['reps_per_s']]
    case('ratios per complete pair', ratios == [1.2, 0.875, 1.5], ratios)
    case('reps_per_s wins (higher better)', s['wins']['reps_per_s'] == (2, 3), s['wins'])
    # setup ratios 0.9, 1.1, 1.0: one lower, one higher, one tie
    case('setup_s wins (lower better, ties lose)', s['wins']['setup_s'] == (1, 3), s['wins'])
    q = s['arms']['parent']['reps_per_s']
    case('parent quartiles over all its runs', q == (47.5, 52.5, 61.25), q)
    q = s['arms']['change']['reps_per_s']
    case('change quartiles', q == (60.0, 60.0, 65.0), q)
    by = s['by_order']['parent']['reps_per_s']
    case('parent medians by order', by == {'first': 45.0, 'second': 67.5}, by)
    by = s['by_order']['change']['reps_per_s']
    case('change medians by order', by == {'first': 70.0, 'second': 60.0}, by)
    case('report renders', 'change better in 2 of 3 pairs' in ab.report(s), ab.report(s))

    # 4. dry run
    p = subprocess.run([sys.executable, os.path.join(HERE, 'perfbench_ab.py'),
                        '--parent', 'HEAD', '--workload', 'saxs_many', '--pairs', '3',
                        '--seed-base', '7', '--dry-run'],
                       capture_output=True, text=True)
    lines = p.stdout.splitlines()
    case('dry run prints six runs', p.returncode == 0 and len(lines) == 6,
         p.stdout + p.stderr)
    case('dry run order', [l.split()[4].rstrip(':') for l in lines] ==
         ['parent', 'change', 'change', 'parent', 'parent', 'change'], lines)
    case('dry run seeds', all(f'--seed {7 + i // 2} ' in l for i, l in enumerate(lines)),
         lines)

    if failures:
        print('\n'.join(failures), file=sys.stderr)
        return 1
    return 0


if __name__ == '__main__':
    sys.exit(main())
