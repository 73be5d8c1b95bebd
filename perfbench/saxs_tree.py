"""Seeded synthetic MOUSE measurement tree, plus the outputs the pipeline
must produce on it, computed independently with numpy.

Layout (as `src/test/resources/h5/pipe`):
    <root>/<yyyy>/<ymd>/<ymd>_<batch>_<rep>/MOUSE_<ymd>_<batch>_<rep>.nxs

Each measurement pair is a sample batch (odd number) whose logbook row
points at a background batch (the next even number); the background batch
is its own background and carries a logbook thickness, the sample batch
derives its thickness from absorption. Every repetition holds a direct-beam
and a sample-beam frame: a Poisson-noised Gaussian beam with a jittered
centre, the sample frame attenuated by the batch transmission and carrying
a weak isotropic scattering halo over a flat background. Frames are stored as per-frame averages
(`averaged_number_of_frames` frames) in deflate-compressed f32 chunks.

The HDF5 bytes are written with the fixture writer helpers of
`scripts/make_h5_fixtures.py`; only numpy and zlib are used besides.
The same (seed, shape) gives a byte-identical tree.
"""
import json
import math
import struct
import sys
import zlib
from datetime import date, timedelta
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / 'scripts'))
import make_h5_fixtures as h5w  # noqa: E402

# Instrument constants, shared with the logbook and context SaxsBench builds.
CONFIGURATION = 1
FRAMES = 10                  # averaged_number_of_frames
FRAME_TIME_S = 2.0
DARKCURRENT = 1e-4           # counts / s / pixel
DET_X_M = 2.5
SAMPLE_X_MM = 500.0
REF_BEAM_DIAMETER_PX = 10.0  # Stages.Context default
REF_DISTANCE_M = 1.0         # Stages.Context default
MU = 100.0                   # overallMu of every logbook row, 1/m
BG_THICKNESS_M = 0.001       # logbook thickness of background batches
CHUNK_ROWS = 64
DEFLATE_LEVEL = 4


def beam_radius_px():
    distance = DET_X_M - SAMPLE_X_MM * 1e-3
    return REF_BEAM_DIAMETER_PX / 2.0 * distance / REF_DISTANCE_M


def layout(seed, pairs, reps):
    """[(ymd, batch, rep)] in generation order. Pair p lives
    on its own day so the background links cross dates."""
    base = date(2024, 1, 1) + timedelta(days=seed % 300)
    out = []
    for p in range(pairs):
        ymd = (base + timedelta(days=p)).strftime('%Y%m%d')
        for batch in (2 * p + 1, 2 * p + 2):
            for rep in range(1, reps + 1):
                out.append((ymd, batch, rep))
    return out


def logbook(seed, pairs):
    """Logbook rows for SaxsBench: (ymd, batch, thickness, bgymd,
    bgnumber). Thickness < 0 means 'derive from absorption'."""
    rows = []
    for ymd, batch, rep in layout(seed, pairs, 1):
        bg = batch if batch % 2 == 0 else batch + 1
        rows.append((ymd, batch, BG_THICKNESS_M if batch % 2 == 0 else -1.0,
                     ymd, bg))
    return rows


# --------------------------------------------------------------- frames ---
def gaussian(h, w, cy, cx, sigma):
    y = np.arange(h, dtype=np.float64)[:, None]
    x = np.arange(w, dtype=np.float64)[None, :]
    return np.exp(-((y - cy) ** 2 + (x - cx) ** 2) / (2.0 * sigma * sigma))


def halo(h, w, cy, cx):
    """Isotropic scattering, Lorentzian in r (counts per pixel, all
    frames), over a flat background that keeps every pixel noisy."""
    y = np.arange(h, dtype=np.float64)[:, None]
    x = np.arange(w, dtype=np.float64)[None, :]
    r2 = (y - cy) ** 2 + (x - cx) ** 2
    return 5.0 / (1.0 + r2 / 2500.0) + 0.2


def draw_frames(rng, h, w, transmission):
    """One repetition: (direct, sample) frames as stored f32 per-frame
    averages."""
    cy = (h - 1) / 2.0 + rng.uniform(-3.0, 3.0)
    cx = (w - 1) / 2.0 + rng.uniform(-3.0, 3.0)
    sigma = 2.5 + rng.uniform(0.0, 0.5)
    beam = 2e5 * gaussian(h, w, cy, cx, sigma)   # counts over all frames
    direct = rng.poisson(beam).astype(np.float64)
    sample = rng.poisson(transmission * beam +
                         halo(h, w, cy, cx)).astype(np.float64)
    return ((direct / FRAMES).astype(np.float32),
            (sample / FRAMES).astype(np.float32))


# ----------------------------------------------------------- HDF5 bytes ---
def write_rep(path: Path, direct, sample):
    f = h5w.FileBuf()
    f.alloc(48)

    def scalar_f64(value, units=None):
        raw = f.append(struct.pack('<d', value))
        msgs = [(0x01, h5w.space_scalar()), (0x03, h5w.dt_f64()),
                (0x08, h5w.layout_contiguous(raw, 8))]
        if units:
            ub = units.encode() + b'\x00'
            msgs.append((0x0C, h5w.attr_v3('units', h5w.dt_str(len(ub)),
                                           h5w.space_scalar(), ub)))
        return h5w.object_header_v2(f, msgs)

    def image(img):
        h, w = img.shape
        entries = []
        for r0 in range(0, h, CHUNK_ROWS):
            chunk = np.zeros((CHUNK_ROWS, w), dtype='<f4')
            rows = img[r0:r0 + CHUNK_ROWS]
            chunk[:rows.shape[0]] = rows
            raw = zlib.compress(chunk.tobytes(), DEFLATE_LEVEL)
            entries.append(((r0, 0), len(raw), f.append(raw)))
        btree = h5w.chunk_btree(f, 2, entries)
        return h5w.object_header_v2(f, [
            (0x01, h5w.space_simple([h, w])), (0x03, h5w.dt_f32()),
            (0x0B, h5w.filter_deflate(DEFLATE_LEVEL)),
            (0x08, h5w.layout_chunked(btree, [CHUNK_ROWS, w], 4))])

    direct_g = h5w.group_v2(f, {'data': image(direct),
                                'frame_time': scalar_f64(FRAME_TIME_S, 's')})
    sample_g = h5w.group_v2(f, {'data': image(sample),
                                'frame_time': scalar_f64(FRAME_TIME_S, 's')})
    processing = h5w.group_v2(f, {'direct_beam_profile': direct_g,
                                  'sample_beam_profile': sample_g})
    det_tf = h5w.group_v2(f, {'det_x': scalar_f64(DET_X_M, 'm')})
    det00 = h5w.group_v2(f, {'darkcurrent': scalar_f64(DARKCURRENT),
                             'averaged_number_of_frames':
                                 scalar_f64(float(FRAMES)),
                             'transformations': det_tf})
    instrument = h5w.group_v2(f, {'configuration':
                                      scalar_f64(float(CONFIGURATION)),
                                  'detector00': det00})
    beam = h5w.group_v2(f, {'incident_wavelength':
                            scalar_f64(1.5406, 'angstrom')})
    smp_tf = h5w.group_v2(f, {'sample_x': scalar_f64(SAMPLE_X_MM, 'mm')})
    sample_grp = h5w.group_v2(f, {'beam': beam, 'transformations': smp_tf})
    entry1 = h5w.group_v2(f, {'instrument': instrument,
                              'processing': processing,
                              'sample': sample_grp})
    path.parent.mkdir(parents=True, exist_ok=True)
    h5w.finish_v2(f, h5w.group_v2(f, {'entry1': entry1}), path)


# ------------------------------------------------------- expected values ---
def counts(img):
    """average_to_counts: (x * frames) in double, cast back to float."""
    return (img.astype(np.float64) * FRAMES).astype(np.float32)


def flux(img):
    """fluxImage: img / duration - darkcurrent, per pixel, as float."""
    return (img.astype(np.float64) / FRAME_TIME_S - DARKCURRENT) \
        .astype(np.float32)


def beam_centre(direct_counts):
    """Intensity-weighted centroid of the pixels above max(1, mean) — the
    beam region the engine labels (up to its morphology fill of the
    fringe, which carries negligible weight)."""
    img = np.where((direct_counts >= 0) & (direct_counts <= 2e7),
                   direct_counts, 0).astype(np.float64)
    fg = img > max(1.0, img.mean())
    wts = np.where(fg, img, 0.0)
    ys, xs = np.indices(img.shape)
    return float((wts * ys).sum() / wts.sum()), \
        float((wts * xs).sum() / wts.sum())


def expected_rep(direct, sample):
    dc, sc = counts(direct), counts(sample)
    cy, cx = beam_centre(dc)
    h, w = dc.shape
    ys, xs = np.indices((h, w))
    mask = np.sqrt((ys - cy) ** 2 + (xs - cx) ** 2) <= beam_radius_px()
    df, sf = flux(dc).astype(np.float64), flux(sc).astype(np.float64)
    transmission = sf[mask].sum() / df[mask].sum()
    transmission_image = sf.sum() / df.sum()
    return {'beam_center': [cy, cx], 'transmission_raw': transmission,
            'correction_factor': transmission_image / transmission}, sc


def thickness(t_sample):
    a = 1.0 - t_sample
    if a == 0 or abs(a) > 1:
        return -1.0
    return -math.copysign(1.0, a) * math.log(1.0 - abs(a)) / MU


def generate(out: Path, seed: int, pairs: int, reps: int, h: int, w: int):
    """Write the tree under out/tree and out/expected.json."""
    rng = np.random.default_rng(seed)
    tree = out / 'tree'
    per_rep = {}
    stacks = {}
    for ymd, batch, rep in layout(seed, pairs, reps):
        if rep == 1:
            t_batch = (rng.uniform(0.55, 0.75) if batch % 2 == 1
                       else rng.uniform(0.80, 0.92))
        direct, sample = draw_frames(rng, h, w, t_batch)
        name = f'{ymd}_{batch}_{rep}'
        write_rep(tree / ymd[:4] / ymd / name / f'MOUSE_{name}.nxs',
                  direct, sample)
        exp, sc = expected_rep(direct, sample)
        per_rep[(ymd, batch, rep)] = exp
        stacks.setdefault((ymd, batch), []).append(sc.astype(np.float64))

    # transmission_correction_factor_propagator + apply: the per-batch
    # largest correction factor multiplies every repetition's transmission
    # when it exceeds 1
    by_batch = {}
    for key, e in per_rep.items():
        by_batch.setdefault(key[:2], []).append(e)
    for es in by_batch.values():
        cf = max(e['correction_factor'] for e in es)
        for e in es:
            e['transmission'] = e['transmission_raw'] * (cf if cf > 1 else 1.0)
    mean_t = {k: float(np.mean([e['transmission'] for e in es]))
              for k, es in by_batch.items()}
    lb = {(ymd, b): (th, (bgy, bgn)) for ymd, b, th, bgy, bgn in
          logbook(seed, pairs)}
    reps_out = []
    for (ymd, batch, rep), e in sorted(per_rep.items()):
        th, bg = lb[(ymd, batch)]
        if th >= 0:
            thick = th
        else:
            thick = thickness(e['transmission'] / mean_t[bg])
        reps_out.append({'ymd': ymd, 'batch': batch, 'repetition': rep,
                         'transmission': e['transmission'],
                         'thickness': thick,
                         'beam_center': e['beam_center']})
    groups_out = []
    for (ymd, batch), imgs in sorted(stacks.items()):
        s = np.stack(imgs)
        # ddof=1 is undefined for one repetition: the engine writes NaN
        std = s.std(axis=0, ddof=1) if len(imgs) > 1 else \
            np.full(s.shape[1:], np.nan)
        groups_out.append({
            'ymd': ymd, 'batch': batch, 'n_repetitions': len(imgs),
            'mean_transmission': mean_t[(ymd, batch)],
            'mean_sum': float(s.mean(axis=0).sum()),
            'std_sum': float(std.sum()),
            'sem_sum': float((std / math.sqrt(len(imgs))).sum())})
    files = sorted(tree.rglob('*.nxs'))
    meta = {'seed': seed, 'pairs': pairs, 'reps': reps, 'h': h, 'w': w,
            'files': len(files),
            'tree_bytes': sum(p.stat().st_size for p in files),
            'beam_radius_px': beam_radius_px(),
            'logbook': logbook(seed, pairs),
            'repetitions': reps_out, 'groups': groups_out}
    (out / 'expected.json').write_text(json.dumps(meta, indent=1))
    return meta

