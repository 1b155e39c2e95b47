"""Regenerates the benchmark's reference data under perfbench/data/.

    python3 perfbench/make_data.py

- catalog.json: every contract query's registry module and its seconds
  on the generated sf0.01 tables, measured the way a catalog_sf001 run
  measures them: the queries, in a fixed shuffled order, run in chunks of
  one run's sample size, each chunk in a fresh JVM after the workload's
  warm-up. The seconds cut the pool into the sampler's cost bands, size
  the sample, and are the references of `op_time_ratio`.
- golden.json: the output fingerprint of every query from those passes.
- index_reference.json: the median seconds of each op name of one
  index_lifecycle pass (seed 0), the references of its `op_time_ratio`.

Run it only at a commit whose outputs are known to be right: the goldens
are what every later run is checked against, and new references reset
the baseline of `op_time_ratio`.
"""
import json
import os
import random
import shutil
import statistics

import run

BENCH = run.BENCH
DATA = BENCH / "data"


def one_pass(workload, entries):
    spec = run.WORKLOADS[workload]
    entries = [("kind", spec["kind"]), ("cores", run.cores()), ("sf", spec["sf"]),
               ("seed", 0), ("data_seed", run.DATA_SEED), ("data", run.data_dir(spec["sf"])),
               ("trace", 0)] + entries
    work = BENCH / ".work" / f"make-data-{os.getpid()}"
    try:
        recs, _, _ = run.run_jvm(entries, work, deadline=float("inf"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = [r for r in recs if r["type"] == "op"]
    bad = sorted({r["name"] for r in ops if not r["ok"]})
    if bad:
        raise SystemExit(f"{workload}: ops failed, no data written: {bad}")
    return recs, ops


def catalog(chunk=24):
    spec = run.WORKLOADS["catalog_sf001"]
    cat = json.loads((DATA / "catalog.json").read_text())
    names = sorted(cat["queries"])
    random.Random(0).shuffle(names)
    recs, ops = [], []
    for i in range(0, len(names), chunk):
        r, o = one_pass("catalog_sf001", [("warmup", w) for w in spec["warmup"]] +
                        [("op", n) for n in names[i:i + chunk]])
        recs += r
        ops += o
    names.sort()
    ops.sort(key=lambda r: r["name"])
    modules = next(r["modules"] for r in recs if r["type"] == "modules")
    fps = {r["name"]: r for r in recs if r["type"] == "fingerprint"}
    bad = sorted(n for n in names if n not in fps or fps[n].get("err"))
    if bad:
        raise SystemExit(f"fingerprints failed, no data written: {bad}")
    cat["queries"] = {r["name"]: {"module": modules[r["name"]],
                                  "cost_s": round(r["end"] - r["start"], 3)} for r in ops}
    golden = json.loads((DATA / "golden.json").read_text())
    golden[f"sf{spec['sf']}"] = {n: {"rows": fps[n]["rows"], "hash": fps[n]["hash"]}
                                 for n in names}
    (DATA / "catalog.json").write_text(json.dumps(cat, indent=1) + "\n")
    (DATA / "golden.json").write_text(json.dumps(golden, indent=1) + "\n")


def index():
    _, ops = one_pass("index_lifecycle", list(run.WORKLOADS["index_lifecycle"]["params"].items()))
    by_name = {}
    for r in ops:
        by_name.setdefault(r["name"], []).append(r["end"] - r["start"])
    ref = json.loads((DATA / "index_reference.json").read_text())
    ref["ops"] = {n: round(statistics.median(v), 3) for n, v in sorted(by_name.items())}
    (DATA / "index_reference.json").write_text(json.dumps(ref, indent=1) + "\n")


if __name__ == "__main__":
    run.build.build()
    catalog()
    index()
