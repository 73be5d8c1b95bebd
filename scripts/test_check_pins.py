#!/usr/bin/env python3
"""Negative tests for check_pins.py (VERDICT r17 #7: the key-set assertion
must be exercised so it cannot regress silently).

Builds a synthetic evidence dir + Bench.scala fixture, then asserts:
  1. matching pins -> OK (exit 0)
  2. a pin VALUE drift -> FAIL
  3. a pin map covering fewer queries than the evidence derives -> FAIL
     (the key-set assertion — a value-only loop over the map would pass)
  4. a pin map with a query the evidence does not derive -> FAIL
  5. a 0-byte (aborted/truncated) capture -> FAIL from the parse guard

Run: python3 scripts/test_check_pins.py   (exit 0 = all cases behave)
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK = os.path.join(HERE, "check_pins.py")

QUERIES = {q: 0.1 + i * 0.01 for i, q in enumerate(["q02", "d01", "zz1", "zz2"])}


def bench_scala(pins):
    body = ",\n".join(f'    "{q}" -> {v:.3f}' for q, v in sorted(pins.items()))
    return (
        "object Bench {\n"
        f"  val CleanMediansSf01: Map[String, Double] = Map(\n{body})\n"
        "}\n")


def run(evidence, bench_path):
    p = subprocess.run([sys.executable, CHECK, evidence, bench_path],
                       capture_output=True, text=True)
    return p.returncode, p.stdout + p.stderr


def main():
    failures = []

    def case(name, expect_ok, rc, out):
        ok = (rc == 0) == expect_ok
        print(f"{'PASS' if ok else 'FAIL'} {name} (rc={rc})")
        if not ok:
            failures.append(f"{name}: rc={rc}\n{out}")

    with tempfile.TemporaryDirectory() as tmp:
        evidence = os.path.join(tmp, "bench")
        os.makedirs(evidence)
        detail = {"bench_detail": {"queries": QUERIES},
                  "bench_trust": {"contaminated": False}}
        with open(os.path.join(evidence, "close_A.json"), "w") as f:
            f.write(json.dumps(detail) + "\n")
            f.write(json.dumps({"metric": "suite_sec", "value": 1.0}) + "\n")

        pins = dict(QUERIES)

        good = os.path.join(tmp, "Bench_good.scala")
        with open(good, "w") as f:
            f.write(bench_scala(pins))
        case("1 matching pins -> OK", True, *run(evidence, good))

        drift = os.path.join(tmp, "Bench_drift.scala")
        bad_pins = dict(pins, zz1=pins["zz1"] + 0.5)
        with open(drift, "w") as f:
            f.write(bench_scala(bad_pins))
        case("2 pin value drift -> FAIL", False, *run(evidence, drift))

        subset = os.path.join(tmp, "Bench_subset.scala")
        with open(subset, "w") as f:
            f.write(bench_scala({q: v for q, v in pins.items() if q != "zz2"}))
        case("3 pin map misses a derived query -> FAIL", False,
             *run(evidence, subset))

        extra = os.path.join(tmp, "Bench_extra.scala")
        with open(extra, "w") as f:
            f.write(bench_scala(dict(pins, zz3=0.5)))
        case("4 pin map has an underived query -> FAIL", False,
             *run(evidence, extra))

        truncated = os.path.join(tmp, "bench_trunc")
        os.makedirs(truncated)
        open(os.path.join(truncated, "close_A.json"), "w").close()
        case("5 empty capture -> FAIL", False, *run(truncated, good))

    if failures:
        print("\n".join(["", "FAILURES:"] + failures))
        sys.exit(1)
    print("all check_pins negative tests behave")


if __name__ == "__main__":
    main()
