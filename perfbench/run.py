"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload catalog_sf001 --seed 1 --seconds 20 --trace 0

Builds graft and the harness from source (build.py), starts one JVM on
local[N] (N = CPUs available) with spark.sql.shuffle.partitions = N, runs
the workload's ops in a closed loop with one client thread, checks every
output, and prints a summary line and then, as the last line, one JSON
object: the end-to-end metrics with --trace 0; with --trace 1 the
per-layer metrics of a traced run, which runs after an untraced run of
the same plan so that the tracing overhead can be reported. A traced run
also writes its spans to perfbench/.results/. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import benchlib  # noqa: E402
import build  # noqa: E402

DATA_SEED = 42  # fixed: the goldens are fingerprints of this data
HEAP = "1536m"
JVM_TIMEOUT_S = 170
# the contract queries keep their scratch stores under this root
PROGRAM_SCRATCH = Path("/tmp")

# catalog_sf001 sizes its sample so that a pass takes about --seconds;
# index_lifecycle runs a fixed pass (IndexRun.scala).
WORKLOADS = {
    "catalog_sf001": {"kind": "catalog", "sf": "0.01",
                      "warmup": ["token_count", "make_grid", "statistics", "stream_funnel"]},
    "index_lifecycle": {"kind": "index", "sf": "0.1", "params": {
        "lists": 16, "rounds": 2, "ann_delta": 200, "bm_delta": 500,
        "flush_every": 2, "delete_rows": 100, "queries": 8}},
}

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_time_ratio": "ratio"}


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(plan_file, work):
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else "java"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return ([exe] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-cp", build.classpath(), "graftbench.Main", str(plan_file)])


def load_json(name):
    return json.loads((BENCH / "data" / name).read_text())


def reference(spec):
    """Reference seconds per op name: what `op_time_ratio` divides by."""
    if spec["kind"] == "catalog":
        return {n: q["cost_s"] for n, q in load_json("catalog.json")["queries"].items()}
    return load_json("index_reference.json")["ops"]


def plan_ops(spec, seed, seconds):
    """The seeded sample and order of contract queries for one run: the
    pool is every contract query except the index-store family."""
    cat = load_json("catalog.json")
    pool = [(n, q["module"], q["cost_s"]) for n, q in cat["queries"].items()
            if n not in cat["index_family"]]
    mean = sum(c for _, _, c in pool) / len(pool)
    size = max(1, min(len(pool), round(seconds / mean)))
    return benchlib.stratified_sample(pool, size, seed)


def data_dir(sf):
    """Generated tables are cached per scale factor and generator version."""
    gen = (BENCH / "src" / "graftbench" / "Gen.scala").read_bytes()
    key = hashlib.sha256(gen + f"{sf}/{DATA_SEED}".encode()).hexdigest()[:12]
    return BENCH / ".data" / f"sf{sf}-{key}"


def write_plan(path, entries):
    path.write_text("".join(f"{k} {v}\n" for k, v in entries))


def scratch_roots():
    try:
        return {p.name: p for p in PROGRAM_SCRATCH.glob("graft_*")}
    except OSError:
        return {}


def tree_bytes(paths):
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                try:
                    total += os.lstat(os.path.join(root, f)).st_size
                except OSError:
                    pass
    return total


def run_jvm(plan_entries, work, deadline):
    """One JVM run; returns (records, launch epoch, scratch report)."""
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    plan_file = work / "plan.txt"
    rec_file = work / "records.jsonl"
    write_plan(plan_file, plan_entries + [("out", rec_file), ("work", work)])
    before = scratch_roots()
    log = open(work / "jvm.log", "wb")
    launch = time.time()
    proc = subprocess.Popen(java_cmd(plan_file, work), cwd=work, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    created = [p for n, p in scratch_roots().items() if n not in before]
    report = {"scratch_before_mb": tree_bytes(before.values()) / 1e6,
              "scratch_created_mb": tree_bytes(created) / 1e6,
              "scratch_roots_removed": len(created)}
    for p in created:
        shutil.rmtree(p, ignore_errors=True)
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"JVM {'timed out' if code is None else f'exited {code}'}\n{tail}")
    recs = [json.loads(line) for line in rec_file.read_text().splitlines()]
    return recs, launch, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    n = cores()
    entries = [("kind", spec["kind"]), ("cores", n), ("sf", spec["sf"]),
               ("seed", args.seed), ("data_seed", DATA_SEED), ("data", data_dir(spec["sf"]))]
    golden = None
    if spec["kind"] == "catalog":
        entries += [("warmup", w) for w in spec["warmup"]]
        entries += [("op", q) for q in plan_ops(spec, args.seed, args.seconds)]
        golden = load_json("golden.json")[f"sf{spec['sf']}"]
    else:
        entries += list(spec["params"].items())
    work = BENCH / ".work" / f"run-{os.getpid()}"
    runs = []
    try:
        for traced in ([0, 1] if args.trace else [0]):
            w = work / f"t{traced}"
            e = entries + [("trace", traced)]
            runs.append(run_jvm(e, w, deadline))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    checked = [benchlib.failed_ops(recs, golden) for recs, _, _ in runs]
    for bad in checked:
        for reason in sorted(set(bad.values()))[:20]:
            print(f"FAILED {reason}", file=sys.stderr)
    recs, launch, scratch = runs[0]
    e2e = benchlib.end_to_end(recs, launch, checked[0], reference(spec))
    ops = benchlib.timed_ops(recs)
    failed = len(checked[-1])  # of the run whose metrics are printed
    summary = {"workload": args.workload, "seed": args.seed, "cores": n,
               **{k: round(v, 6) if isinstance(v, float) else v for k, v in e2e.items()},
               **scratch}
    print("summary " + json.dumps(summary))
    if args.trace:
        trecs = runs[1][0]
        spans = benchlib.build_spans(trecs)
        wall = sum(r["end"] - r["start"] for r in ops)
        layers = benchlib.per_layer(trecs, spans, n, wall)
        out_dir = BENCH / ".results"
        out_dir.mkdir(exist_ok=True)
        dest = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
        dest.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "per_layer": layers,
            "ops": [{k: r[k] for k in ("op", "name", "kind", "start", "end", "ok")}
                    for r in benchlib.timed_ops(trecs)],
            "spans": spans}))
        print(f"trace written to {dest.relative_to(BENCH.parent)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in benchlib.LAYER_UNITS.items()}
        attempted = len(benchlib.timed_ops(trecs))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        attempted = len(ops)
    print(json.dumps({"correct": not any(checked), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, SystemExit, FileNotFoundError, KeyError) as e:
        if isinstance(e, SystemExit) and e.code in (0, None):
            raise
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(2)
