#!/usr/bin/env python3
"""Re-derive perfbench/catalog_pins.json: the catalog workload's slices and
the digest of each query's oracle-checked answer.

Run from the root of a checkout (takes about 20 minutes on 4 cores, most of
it in the DuckDB oracle):

    python3 perfbench/pin_catalog.py

The JVM runs every catalog query once cold and once warm, dumps each answer
and digests it. Each dump is compared with its DuckDB oracle SQL exactly as
tools/check_oracle.py does; a query that fails the comparison is pinned with
no digest, so every run counts it as failed. Queries are dealt into SLICES
slices from strata of equal warm cost (heaviest first, so only the lightest
stratum is incomplete), then swapped within strata to even out the cold
cost, so every seed's slice does about the same work.
"""
import io
import contextlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SLICES = 8
PINS = os.path.join("perfbench", "catalog_pins.json")


def deal(costs, k):
    """Slices for {name: (cold, warm)}: snake-deal by warm cost, then swap
    within each stratum while that evens the slices' cold sums."""
    names = sorted(costs, key=lambda n: (-costs[n][1], n))
    strata = [names[i:i + k] for i in range(0, len(names), k)]
    slot = {}
    for r, st in enumerate(strata):
        order = range(len(st)) if r % 2 == 0 else reversed(range(len(st)))
        for n, s in zip(st, order):
            slot[n] = s

    def spread():
        sums = [0.0] * k
        for n, s in slot.items():
            sums[s] += costs[n][0]
        return max(sums) - min(sums)

    improved = True
    while improved:
        improved = False
        for st in strata:
            for a in st:
                for b in st:
                    if a >= b:
                        continue
                    before = spread()
                    slot[a], slot[b] = slot[b], slot[a]
                    if spread() < before - 1e-9:
                        improved = True
                    else:
                        slot[a], slot[b] = slot[b], slot[a]
    return slot


def write(raw, verdict):
    slot = deal({n: (q["cold_s"], q["warm_s"]) for n, q in raw.items()}, SLICES)
    pins = {"slices": SLICES, "queries": {}}
    for n in sorted(raw):
        ok = verdict.get(n, "").startswith("ok ")
        pins["queries"][n] = {
            "slice": slot[n], "family": raw[n]["family"],
            "digest": raw[n]["digest"] if ok else None,
            "oracle": "pass" if ok else verdict.get(n, "FAIL not compared"),
            "cold_s": round(raw[n]["cold_s"], 3), "warm_s": round(raw[n]["warm_s"], 3)}
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = [n for n, q in pins["queries"].items() if q["digest"] is None]
    print(f"pinned {len(raw) - len(bad)} of {len(raw)} queries; oracle failures: {bad}")


def jvm(workload, out):
    """Run the harness in `workload` mode; return the parsed `out` file."""
    cp = run.classpath()
    run_dir = os.path.join(run.ROOT, ".bench_build", "runs", f"{workload}-{os.getpid()}")
    tmp, work = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    try:
        code = run.run_jvm(cp, ["--workload", workload, "--seed", "0", "--seconds", "0",
                                "--trace", "0", "--work", work, "--data", run.DATA,
                                "--pins", PINS, "--result", os.path.join(run_dir, "result.json")],
                           tmp, time.time() + 1800)
        if code != 0:
            raise SystemExit(f"{workload} JVM failed (exit {code})")
        with open(os.path.join(work, out)) as f:
            return json.load(f), work, run_dir
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise


def main():
    raw, work, run_dir = jvm("pin", "pin_raw.json")
    try:
        sys.path.insert(0, os.path.join(run.ROOT, "tools"))
        import check_oracle
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            check_oracle.main(run.DATA, os.path.join(work, "pin_out"))
        verdict = {}
        for line in buf.getvalue().splitlines():
            if line.startswith("ok ") or line.startswith("FAIL "):
                verdict[line.split()[1].rstrip(":")] = line
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    write(raw, verdict)


if __name__ == "__main__":
    main()
