#!/usr/bin/env python3
"""Benchmark of the SAXS measurement-tree pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program (`perfbench/build.sbt`, with sbt); later runs reuse the
build while the sources are unchanged. Each run:

1. generates the workload's measurement tree from the seed (cached per
   seed and size under the work directory, outside the timed path), with
   the outputs the pipeline must produce computed independently by numpy;
2. starts one JVM on `local[N]`, N = usable cores, which sets up several
   times, runs one untimed warm-up pass, then closed-loop timed passes
   for at least `--seconds` (and at least three);
3. checks every pass's snapshot and CSV against the expected values;
4. prints a summary and, as the last line, one JSON object with the
   metrics: the end-to-end ones with `--trace 0`, the per-layer ones (from
   a traced run with span JSONL) with `--trace 1`.

It exits non-zero when an output check fails or the run breaks.
"""
import argparse
import csv
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True   # import nothing into the source tree
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Tree shape per workload: measurement pairs (sample + background batch),
# repetitions per batch, frame height x width.
WORKLOADS = {
    # Eiger2 R 1M frames: per-pixel kernels dominate
    'saxs_eiger': dict(pairs=1, reps=2, h=1062, w=1028),
    # many small repetitions: per-file and per-repetition overhead dominate
    'saxs_many': dict(pairs=20, reps=8, h=64, w=64),
}
SETUP_TREE = dict(pairs=1, reps=2, h=64, w=64)   # decoded by every set-up
SETUPS = 3                                 # set-ups per run; median reported
MIN_PASSES = 3                             # untraced passes per run, at least
MIN_PASSES_TRACED = (2, 1)                 # (untraced, traced) with --trace 1
XMX = '2g'
# Throughput collector: Eiger frames are 4-8 MB arrays, which G1 allocates
# as humongous regions; G1 made pass times spread ~25% between runs.
JVM_GC = ['-XX:+UseParallelGC']
JVM_TIMEOUT_S = 170

# Output-check tolerances. Transmissions depend on the beam mask, which the
# engine centres on its own beam-centre estimate: relative 1e-3. Thickness
# is -ln(t)/mu: absolute 2e-3/mu. Beam centre: 0.05 px against numpy's
# weighted centroid of the thresholded frame. Image-stat digests are sums of
# exact float32 inputs: relative 1e-6.
TOL_T_REL = 1e-3
TOL_THICK_ABS = 2e-3 / 100.0
TOL_CENTRE_PX = 0.05
TOL_DIGEST_REL = 1e-6

ADD_OPENS = [
    f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
        'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io',
        'java.net', 'java.nio', 'java.util', 'java.util.concurrent',
        'java.util.concurrent.atomic', 'sun.nio.ch', 'sun.nio.cs',
        'sun.security.action', 'sun.util.calendar')]

END_TO_END = [('setup_s', 's'), ('reps_per_s', 'repetitions/s')]
STEPS = ['translator_step_1', 'translator_step_2', 'average_to_counts',
         'cleanup_files', 'add_mask_file', 'metadata_update',
         'determine_beam_center', 'make_beam_mask',
         'calc_beam_flux_and_transmissions', 'calc_beam_shape_info',
         'add_background_files', 'transmission_correction_factor_propagator',
         'apply_transmission_correction_factor', 'thickness_from_absorption',
         'transmission_thickness_flux_table']
PER_LAYER = (
    [('Hdf5Source.list_s', 's'), ('Hdf5Source.decode_s', 's'),
     ('Hdf5Source.files', 'count'), ('Hdf5Source.bytes_in', 'bytes'),
     ('Hdf5Source.tree_rows', 'count'), ('Hdf5Source.parse_errors', 'count'),
     ('Hdf5Source.read_amplification', 'ratio'),
     ('Ingest.keys_s', 's'), ('Ingest.s', 's'), ('Ingest.reps', 'count'),
     ('Stages.plan_s', 's')] +
    [(f'Stages.{s}_s', 's') for s in STEPS] +
    [('Stages.cache_bytes', 'bytes'), ('Stages.stacked_frac', 'ratio'),
     ('ArrayStats.stack_s', 's'), ('ArrayStats.groups', 'count'),
     ('ArrayStats.pixels', 'count'),
     ('Sinks.snapshot_s', 's'), ('Sinks.csv_s', 's'),
     ('Sinks.bytes_out', 'bytes'),
     ('spark.jobs', 'count'), ('spark.tasks', 'count'),
     ('spark.task_cpu_s', 's'), ('spark.executor_run_s', 's'),
     ('spark.gc_s', 's'), ('spark.shuffle_write_bytes', 'bytes'),
     ('spark.spill_bytes', 'bytes'),
     ('process.peak_rss_mb', 'MB'),
     ('trace.traced_wall_s', 's'), ('trace.untraced_wall_s', 's'),
     ('trace.overhead_s', 's')])


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """The Spark installation's jars, as in the engine's build."""
    home = os.environ.get('SPARK_HOME')
    if not home or not (Path(home) / 'jars').is_dir():
        fail('SPARK_HOME must name a Spark installation')
    return Path(home) / 'jars'


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    f = [int(x) for x in open('/proc/stat').readline().split()[1:]]
    return f[7], sum(f[:8])


# ---------------------------------------------------------------- build ---
def build(work: Path) -> Path:
    """Compile the engine and the benchmark program with sbt, unless the
    sources are unchanged."""
    srcs = sorted((ROOT / 'src' / 'main' / 'scala').rglob('*.scala')) + \
        sorted((HERE / 'src').rglob('*.scala')) + [HERE / 'build.sbt']
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = work / 'build.stamp'
    classes = HERE / 'target' / 'scala-2.13' / 'classes'
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and \
            (classes / 'perfbench' / 'SaxsBench.class').exists():
        return classes
    with open(work / 'build.log', 'w') as log:
        r = subprocess.run(['sbt', '-batch', 'compile'], cwd=HERE,
                           stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        fail(f'build failed, see {work / "build.log"}')
    stamp.write_text(digest.hexdigest())
    return classes


# ----------------------------------------------------------------- trees ---
def tree(work: Path, name: str, seed: int, shape: dict):
    """Generate (or reuse) the tree for (seed, shape); returns (dir, meta,
    seconds spent generating)."""
    import saxs_tree
    key = f'{name}-s{seed}-{shape["pairs"]}x{shape["reps"]}-' \
          f'{shape["h"]}x{shape["w"]}'
    d = work / 'trees' / key
    t0 = time.time()
    if not (d / 'expected.json').exists():
        tmp = work / 'trees' / (key + '.tmp')
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        saxs_tree.generate(tmp, seed, **shape)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    meta = json.loads((d / 'expected.json').read_text())
    return d, meta, time.time() - t0


# ---------------------------------------------------------------- checks ---
def rel_close(a, b, tol):
    return a is not None and b is not None and \
        abs(a - b) <= tol * max(abs(a), abs(b), 1e-300)


def check_pass(pass_dir: Path, meta: dict):
    """Compare one pass's snapshot and CSV with the expected values.
    Returns (stacked repetitions, set of failed (ymd, batch, rep), notes)."""
    import numpy as np
    import pyarrow.parquet as pq
    bad, notes = set(), []
    exp_reps = {(r['ymd'], r['batch'], r['repetition']): r
                for r in meta['repetitions']}
    exp_groups = {(g['ymd'], g['batch']): g for g in meta['groups']}

    # flux / thickness CSV: one row per repetition
    rows = {}
    for part in sorted((pass_dir / 'table').glob('part-*.csv')):
        with open(part, newline='') as fh:
            for r in csv.DictReader(fh):
                rows[(r['ymd'], int(r['batch']), int(r['repetition']))] = r
    for key, e in exp_reps.items():
        r = rows.get(key)
        ok = r is not None and r['transmission'] != '' and \
            r['thickness'] != '' and \
            rel_close(float(r['transmission']), e['transmission'], TOL_T_REL) \
            and abs(float(r['thickness']) - e['thickness']) <= TOL_THICK_ABS
        if not ok:
            bad.add(key)
            notes.append(f'table {key}: got '
                         f'{None if r is None else (r["transmission"], r["thickness"])}'
                         f', want {(e["transmission"], e["thickness"])}')
    if len(rows) != len(exp_reps):
        notes.append(f'table has {len(rows)} rows, want {len(exp_reps)}')

    # stacked snapshot: one row per (ymd, batch)
    t = pq.read_table(pass_dir / 'snapshot')
    stats = t.column('stacked_image_stats').combine_chunks()
    sums = {f: [float(np.sum(stats.field(f)[i].values.to_numpy(
        zero_copy_only=False))) for i in range(len(t))]
        for f in ('mean', 'std', 'sem')}
    stacked = 0
    seen = set()
    for i, g in enumerate(t.drop_columns(['stacked_image_stats']).to_pylist()):
        key = (str(g['ymd']), int(g['batch']))
        seen.add(key)
        e = exp_groups.get(key)
        stacked += g['n_repetitions']
        members = {k for k in exp_reps if k[:2] == key}
        if e is None:
            notes.append(f'unexpected group {key}')
            continue
        lowest = exp_reps[(key[0], key[1], min(k[2] for k in members))]
        centre = g['template_beam_center'] or [math.nan, math.nan]
        checks = {
            'n_repetitions': g['n_repetitions'] == e['n_repetitions'],
            'mean_transmission': rel_close(g['mean_transmission'],
                                           e['mean_transmission'], TOL_T_REL),
            'mean_sum': rel_close(sums['mean'][i], e['mean_sum'],
                                  TOL_DIGEST_REL),
            'std_sum': rel_close(sums['std'][i], e['std_sum'], TOL_DIGEST_REL),
            'sem_sum': rel_close(sums['sem'][i], e['sem_sum'], TOL_DIGEST_REL),
            'beam_center': all(abs(a - b) <= TOL_CENTRE_PX for a, b in
                               zip(centre, lowest['beam_center'])),
        }
        failed = [k for k, v in checks.items() if not v]
        if failed:
            bad |= members
            notes.append(f'group {key}: {failed}')
    for key in set(exp_groups) - seen:
        bad |= {k for k in exp_reps if k[:2] == key}
        notes.append(f'group {key} missing from the snapshot')
    return stacked, bad, notes


# ---------------------------------------------------------------- spans ---
def load_spans(path: Path):
    spans = [json.loads(line) for line in path.read_text().splitlines()
             if line.strip()]
    by_id = {s['id']: s for s in spans}
    for s in spans:
        s['self_s'] = (s['end_s'] - s['start_s']) - sum(
            c['end_s'] - c['start_s'] for c in spans if c['parent'] == s['id'])
    return spans, by_id


def root_of(span, by_id):
    while span['parent'] != 0:
        span = by_id[span['parent']]
    return span


def per_layer(res, spans, by_id, meta, stacked_frac):
    """Per-layer metrics: medians over traced passes of span self times
    and span counters; spark.* and read amplification from the untraced
    passes of the same run."""
    by_pass = {}
    for s in spans:
        by_pass.setdefault(root_of(s, by_id)['id'], {})[s['name']] = s

    def med(f):
        return statistics.median(f(p) for p in by_pass.values())

    def self_s(name):
        return med(lambda p: p[name]['self_s'])

    m = {
        'Hdf5Source.list_s': self_s('Hdf5Source.list'),
        'Hdf5Source.decode_s': self_s('Hdf5Source.decode'),
        'Hdf5Source.files': med(lambda p: p['Hdf5Source.decode']['attrs']['files']),
        'Hdf5Source.bytes_in': med(lambda p: p['Hdf5Source.decode']['attrs']['fs_read_bytes']),
        'Hdf5Source.tree_rows': med(lambda p: p['Hdf5Source.decode']['attrs']['tree_rows']),
        'Hdf5Source.parse_errors': med(lambda p: p['Hdf5Source.decode']['attrs']['parse_errors']),
        'Hdf5Source.read_amplification': statistics.median(
            p['fs_read_bytes'] for p in res['passes']) / meta['tree_bytes'],
        'Ingest.keys_s': self_s('Ingest.keys'),
        'Ingest.s': self_s('Ingest'),
        'Ingest.reps': med(lambda p: p['Ingest']['attrs']['reps']),
        'Stages.plan_s': self_s('Stages.plan'),
    }
    for s in STEPS:
        m[f'Stages.{s}_s'] = self_s(f'Stages.{s}')
    m['Stages.cache_bytes'] = statistics.median(
        p['cache_bytes'] for p in res['passes'])
    m['Stages.stacked_frac'] = stacked_frac
    m['ArrayStats.stack_s'] = self_s('ArrayStats.stack')
    m['ArrayStats.groups'] = med(lambda p: p['ArrayStats.stack']['attrs']['groups'])
    m['ArrayStats.pixels'] = stacked_frac * m['Ingest.reps'] * meta['h'] * meta['w']
    m['Sinks.snapshot_s'] = self_s('Sinks.snapshot')
    m['Sinks.csv_s'] = self_s('Sinks.csv')
    m['Sinks.bytes_out'] = med(lambda p: p['Sinks.snapshot']['counters']['output_bytes'] +
                               p['Sinks.csv']['counters']['output_bytes'])
    for k in ('jobs', 'tasks', 'task_cpu_s', 'executor_run_s', 'gc_s',
              'shuffle_write_bytes', 'spill_bytes'):
        m[f'spark.{k}'] = statistics.median(c[k] for c in res['pass_counters'])
    m['process.peak_rss_mb'] = res['peak_rss_mb']
    m['trace.traced_wall_s'] = statistics.median(
        p['wall_s'] for p in res['traced_passes'])
    m['trace.untraced_wall_s'] = statistics.median(
        p['wall_s'] for p in res['passes'])
    m['trace.overhead_s'] = m['trace.traced_wall_s'] - m['trace.untraced_wall_s']
    return m


# ------------------------------------------------------------------ main ---
def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ('src/main/scala/graft/pipeline/Stages.scala',
                 'scripts/make_h5_fixtures.py'):
        if not (ROOT / need).exists():
            fail(f'{need} not found: run from a full checkout of the repository')
    work = Path(os.environ.get('CARGO_TARGET_DIR') or ROOT / '.bench_build')
    work = (ROOT / work).resolve() if not work.is_absolute() else work
    work.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(HERE))

    classes = build(work)
    shape = WORKLOADS[a.workload]
    tree_dir, meta, gen_s = tree(work, a.workload, a.seed, shape)
    setup_dir, setup_meta, setup_gen_s = tree(work, 'setup', a.seed, SETUP_TREE)

    run_id = f'{a.workload}-s{a.seed}-t{a.trace}'
    out = work / 'runs' / run_id
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    lb = out / 'logbook.tsv'
    rows = dict.fromkeys(tuple(r) for r in meta['logbook'] + setup_meta['logbook'])
    lb.write_text(''.join('\t'.join(str(x) for x in r) + '\n' for r in rows))
    cpus = nproc()
    cmd = ['java', f'-Xmx{XMX}', *JVM_GC, f'-Djava.io.tmpdir={out}', *ADD_OPENS,
           '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
           '-cp', f'{classes}{os.pathsep}{spark_jars()}/*',
           'perfbench.SaxsBench',
           '--tree', str(tree_dir / 'tree'), '--setup-tree', str(setup_dir / 'tree'),
           '--logbook', str(lb), '--out', str(out),
           '--result', str(out / 'result.json'), '--cpus', str(cpus),
           '--seconds', str(a.seconds), '--setups', str(SETUPS),
           '--trace', str(a.trace),
           '--min-passes', str(MIN_PASSES_TRACED[0] if a.trace else MIN_PASSES),
           '--min-traced', str(MIN_PASSES_TRACED[1]),
           '--h', str(shape['h']), '--w', str(shape['w']),
           '--run', run_id]
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ticks0 = cpu_ticks()
    with open(out / 'jvm.log', 'w') as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f'benchmark JVM exceeded {JVM_TIMEOUT_S} s, see {out}/jvm.log')
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = (out / 'jvm.log').read_text().splitlines()[-20:]
        fail(f'benchmark JVM exited {rc}:\n' + '\n'.join(tail))
    res = json.loads((out / 'result.json').read_text())
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

    # output checks: every pass, untraced and traced
    n_reps = len(meta['repetitions'])
    attempted = failed = 0
    rates, notes = [], []
    stacked_fracs = []
    for timed, passes in ((True, res['passes']), (False, res['traced_passes'])):
        for p in passes:
            stacked, bad, why = check_pass(Path(p['dir']), meta)
            attempted += n_reps
            failed += len(bad)
            notes += why
            stacked_fracs.append(stacked / n_reps)
            if timed:
                rates.append(stacked / p['wall_s'])
            shutil.rmtree(p['dir'], ignore_errors=True)
    correct = failed == 0
    for scratch in ('warm', 'spark-local', 'hadoop-tmp'):
        shutil.rmtree(out / scratch, ignore_errors=True)

    env = {'nproc': cpus, 'SPARK_GRAFT_CPUS': os.environ.get('SPARK_GRAFT_CPUS'),
           'xmx': XMX, 'gc': JVM_GC[0], 'jvm_max_heap_mb': round(res['xmx_mb']),
           'cpu_ref_s_before_after': res['cpu_ref_s'],
           'cpu_ref_mt_s_before_after': res['cpu_ref_mt_s'],
           'cpu_steal_share': round(steal, 4)}
    print(f'workload {a.workload} seed {a.seed}: {n_reps} repetitions in '
          f'{meta["files"]} files ({meta["tree_bytes"]} bytes), frames '
          f'{meta["h"]}x{meta["w"]}; local[{cpus}]')
    print(f'tree generation {gen_s + setup_gen_s:.2f} s (cached per seed '
          f'and size, not part of setup_s)')
    print(f'environment {json.dumps(env)}')
    print(f'passes {len(res["passes"])} untraced, '
          f'{len(res["traced_passes"])} traced; pass walls '
          f'{[round(p["wall_s"], 3) for p in res["passes"]]}; '
          f'setups {[round(s, 3) for s in res["setup_s"]]}; untimed '
          f'warm-up pass {res["warmup_pass_s"]:.3f} s')
    print(f'failed_frac {failed / attempted:.6f} ratio '
          f'({failed} of {attempted} repetition outputs failed their check)')
    for n in notes[:20]:
        print(f'check: {n}')

    if a.trace:
        spans, by_id = load_spans(out / 'spans.jsonl')
        values = per_layer(res, spans, by_id, meta,
                           statistics.median(stacked_fracs))
        metrics = {k: {'value': values[k], 'unit': u} for k, u in PER_LAYER}
        print(f'tracing overhead {values["trace.overhead_s"]:.3f} s per pass: '
              f'traced {values["trace.traced_wall_s"]:.3f} s, untraced '
              f'{values["trace.untraced_wall_s"]:.3f} s; spans in '
              f'{out / "spans.jsonl"}')
    else:
        values = {'setup_s': statistics.median(res['setup_s']),
                  'reps_per_s': statistics.median(rates)}
        metrics = {k: {'value': values[k], 'unit': u} for k, u in END_TO_END}
        print(f'reps_per_s at {n_reps} repetitions of {meta["h"]}x{meta["w"]}'
              f' per pass; peak_rss_mb {res["peak_rss_mb"]:.1f} MB (VmHWM)')
    for k, v in metrics.items():
        print(f'  {k} = {v["value"]:.6g} {v["unit"]}')
    print(json.dumps({'correct': correct, 'attempted': attempted,
                      'failed': failed, 'metrics': metrics}))
    sys.exit(0 if correct else 1)


if __name__ == '__main__':
    main()
