#!/usr/bin/env python3
"""Skew-amplify a scale-probe corpus for the inverted-index family
(d04/d15/d17): append ONE hot 8-token span to 1% of documents.

The base probes (make_scale_probe.py) rewrite every copied word, so no
shingle's posting list ever crosses copies — candidate work stays linear
by construction, which is exactly why they CANNOT exercise the
hot-shingle m²/2 output-skew hazard (DedupQueries d04's measured risk,
BENCH_NOTES "d04 hot-shingle skew"). This variant injects the hazard deliberately: doc_id %
100 == 0 gets ' <8 hot tokens>' appended, so

  - d04/d17's shingle self-/train×held-joins see six hot 3-shingles
    whose posting lists hold 1% of the corpus → C(n/100, 2)-ish pair
    work from single keys (125k pairs at 50k docs, 12.5M at 500k — the
    decade ratio IS the m² signature);
  - d15 sees one hot 8-gram shared by 1% of docs — but its flagged
    path is a SEMI-join on gh (nd >= 2 threshold), so its work must
    stay linear: the probe demonstrates the architecture dodging the
    hazard the pair joins face.

Token statistics barely move (8 tokens on ~40-token docs for 1% of
rows); everything else in the directory is copied unchanged so the
Bench warmup queries still run.

Usage: make_skew_probe.py SRC_PROBE_DIR DST_DIR
"""
import shutil
import sys
from pathlib import Path

import duckdb

src = Path(sys.argv[1])
dst = Path(sys.argv[2])
HOT = "hotspan aa bb cc dd ee ff gg"  # 8 tokens -> 6 hot 3-shingles, 1 hot 8-gram

dst.mkdir(parents=True, exist_ok=True)
for p in src.glob("*.parquet"):
    if p.stem != "documents":
        target = dst / p.name
        if not target.exists():
            shutil.copy(p, target)

con = duckdb.connect()
con.execute(f"""
COPY (
  SELECT doc_id,
         CASE WHEN doc_id % 100 = 0 THEN text || ' {HOT}' ELSE text END AS text,
         lang, source,
         CASE WHEN doc_id % 100 = 0 THEN n_chars + {len(HOT) + 1}
              ELSE n_chars END AS n_chars
  FROM '{src}/documents.parquet'
) TO '{dst}/documents.parquet' (FORMAT parquet)
""")
n, nhot = con.execute(
    f"SELECT count(*), sum(CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END) "
    f"FROM '{dst}/documents.parquet'").fetchone()
print(f"{dst}: {n} docs, {nhot} hot ({100.0 * nhot / n:.2f}%), "
      f"hot-pair budget C({nhot},2) = {nhot * (nhot - 1) // 2}")
