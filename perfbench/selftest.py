#!/usr/bin/env python3
"""Self-tests of the benchmark's own instruments.

    python3 perfbench/selftest.py [--seed 5]

Run from the repository root. Checks that

- the generator is deterministic: the same seed gives identical batch
  hashes, a different seed gives different ones;
- the checks catch wrong results: a lookup with its as-of bound dropped
  is flagged as failed, and so is a final read that misses an
  acknowledged upsert (while the unmutated controls pass).

Prints one JSON line and exits 0 only when every expectation holds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def generator_check(spark, work: str, seed: int) -> dict:
    from gen import Batch, batch_hashes, generate

    batches = [Batch(0, 500, 500, 0, 10**9), Batch(1, 300, 900, 10**9, 10**9)]
    hashes = []
    for i, s in enumerate((seed, seed, seed + 1)):
        d = os.path.join(work, f"gen{i}")
        generate(spark, batches, s, d)
        hashes.append(batch_hashes(d, len(batches)))
    return {
        "same_seed_identical": hashes[0] == hashes[1],
        "other_seed_differs": all(a != b for a, b in zip(hashes[0], hashes[2])),
    }


def mutation_check(spark, work: str, seed: int) -> dict:
    from run import Harness
    from workloads import Ingest, Lookup

    out = {}
    wl = Lookup(spark, os.path.join(work, "lookup"), seed)
    try:
        wl.setup()
        h = Harness(wl)
        it = wl.ops()
        for _ in range(3):
            h.execute(next(it), timed=False)
        out["lookup_control_failed"] = h.failed
        before = h.failed
        for _ in range(3):
            h.execute(wl.mutated_op(), timed=False)
        out["asof_dropped_flagged"] = h.failed - before
    finally:
        wl.close()

    class SmallIngest(Ingest):
        PREFILL = 4
        TIMED_BATCHES = 8

    wl = SmallIngest(spark, os.path.join(work, "ingest"), seed)
    try:
        wl.setup()
        h = Harness(wl)
        it = wl.ops()
        for _ in range(wl.cycle):
            h.execute(next(it), timed=False)
        out["ingest_control_failed"] = h.failed
        out["ingest_control_final_ok"] = wl.final_checks() == [True]
        # the oracle records an upsert as acknowledged that never reached
        # the table: the final read must miss it
        b = wl.next_batch
        wl.next_batch += 1
        wl._committed_upsert(b, wl.min_start[b])
        out["missing_upsert_flagged"] = wl.final_checks() == [False]
    finally:
        wl.close()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=5)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("bazof_spark", "__init__.py")):
        print("perfbench: run from the repository root (no bazof_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    from run import OUT_DIR, start_spark, stop_spark

    work = os.path.join(os.getcwd(), OUT_DIR, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = start_spark(os.getcwd(), work)
    try:
        res = {"generator": generator_check(spark, work, args.seed),
               "mutations": mutation_check(spark, work, args.seed)}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    g, m = res["generator"], res["mutations"]
    res["ok"] = bool(
        g["same_seed_identical"] and g["other_seed_differs"]
        and m["lookup_control_failed"] == 0 and m["asof_dropped_flagged"] == 3
        and m["ingest_control_failed"] == 0 and m["ingest_control_final_ok"]
        and m["missing_upsert_flagged"]
    )
    print(json.dumps(res, sort_keys=True))
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
