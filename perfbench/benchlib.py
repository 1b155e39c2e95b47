"""Pure logic of the benchmark: sampling, percentiles, interval unions,
span self time, and the metrics computed from a run's records. Nothing
here starts a process or touches the filesystem, so tests/ can cover it.
"""
import math
import random
from collections import defaultdict

MIN_BEYOND = 10  # a percentile is reported only with this many samples past it
OP_KINDS = ("build", "append", "flush", "delete", "compact", "search")
KEYED = ("exec.jobs", "exec.job_busy_s", "driver.gap_s", "sources.fs_creates",
         "sources.fs_renames", "sources.fs_lists", "sources.fs_bytes_written")
SPAN_NAMES = ("op", "build", "plan", "execute", "sql", "job", "stage")


# ---------------------------------------------------------------- sampling

def stratified_sample(pool, size, seed):
    """`size` names from `pool`, a list of (name, module, cost).

    The pool is sorted by cost and cut into `size` bands of equal width;
    the seed picks one name in each band and then the order. Every sample
    thus spans the pool's cost range the same way, and each module's
    expected share of the sample is its share of the pool. One seed, one
    sample, one order.
    """
    if not 0 < size <= len(pool):
        raise ValueError(f"sample size {size} not in 1..{len(pool)}")
    rng = random.Random(seed)
    ranked = sorted((cost, name) for name, _, cost in pool)
    bounds = [len(ranked) * i // size for i in range(size + 1)]
    sample = [ranked[lo + int(rng.random() * (hi - lo))][1]
              for lo, hi in zip(bounds, bounds[1:])]
    rng.shuffle(sample)
    return sample


# ------------------------------------------------------------- statistics

def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))
    if not xs or len(xs) - rank < MIN_BEYOND:
        return None
    return xs[max(rank - 1, 0)]


def median(values):
    xs = sorted(values)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end) intervals, optionally clipped
    to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(segs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.

    `spans` are dicts with id, parent, start, end."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children[s["id"]], s["start"], s["end"])
            for s in spans}


# ------------------------------------------------------------- span tree

def build_spans(recs):
    """Spans of a traced run: run > op > phase > SQL execution > job >
    stage. Harness spans come from the records as written; Spark spans
    are linked here: a job to its SQL execution when it has one, else to
    the innermost phase of its op that contains its start; a SQL
    execution to the phase containing its start; a stage to its job."""
    marks = {r["name"]: r for r in recs if r["type"] == "mark"}
    spans = [{"id": "run", "parent": None, "name": "run", "op": None,
              "start": marks["first_op"]["t"], "end": marks["pass_end"]["t"]}]
    phases = []
    for r in recs:
        if r["type"] != "span":
            continue
        parent = "run" if r["parent"] == 0 else f"h{r['parent']}"
        s = {"id": f"h{r['id']}", "parent": parent, "name": r["name"],
             "op": r["op"], "start": r["start"], "end": r["end"]}
        spans.append(s)
        if r["name"] != "op":
            phases.append(s)
    ops = {s["op"]: s for s in spans if s["name"] == "op"}

    def container(t, op=None):
        cands = [p for p in phases if p["start"] <= t <= p["end"]
                 and (op is None or p["op"] == op)]
        if cands:
            return min(cands, key=lambda p: p["end"] - p["start"])
        cands = [o for o in ops.values() if o["start"] <= t <= o["end"]]
        return cands[0] if cands else None

    sql = {}
    starts = {r["sql"]: r["t"] for r in recs if r["type"] == "sql_start"}
    for r in recs:
        if r["type"] == "sql_end" and r["sql"] in starts:
            c = container(starts[r["sql"]])
            if c is not None:
                sql[r["sql"]] = {"id": f"q{r['sql']}", "parent": c["id"], "name": "sql",
                                 "op": c["op"], "start": starts[r["sql"]], "end": r["t"]}
    spans += sql.values()
    job_start = {r["job"]: r for r in recs if r["type"] == "job_start"}
    stage_job = {}
    for r in recs:
        if r["type"] != "job_end" or r["job"] not in job_start:
            continue
        js = job_start[r["job"]]
        op = int(js["op"]) if js.get("op") is not None else None
        if js.get("sql") in sql:
            parent = sql[js["sql"]]
        else:
            parent = container(js["t"], op)
        if parent is None:
            continue  # a job outside every op (set-up, checks)
        spans.append({"id": f"j{r['job']}", "parent": parent["id"], "name": "job",
                      "op": parent["op"], "start": js["t"], "end": r["t"]})
        for st in js["stages"]:
            stage_job[st] = r["job"]
    by_id = {s["id"]: s for s in spans}
    for r in recs:
        if r["type"] == "stage" and r["stage"] in stage_job and r["start"] is not None:
            job = by_id[f"j{stage_job[r['stage']]}"]
            spans.append({"id": f"s{r['stage']}.{r['attempt']}", "parent": job["id"],
                          "name": "stage", "op": job["op"], "start": r["start"],
                          "end": r["end"] if r["end"] is not None else r["start"],
                          "metrics": {k: v for k, v in r.items() if k not in (
                              "type", "stage", "attempt", "start", "end")}})
    return spans


# ---------------------------------------------------------------- metrics

def timed_ops(recs):
    return [r for r in recs if r["type"] == "op"]


def failed_ops(recs, golden=None):
    """{op id: reason} for ops that threw, whose fingerprint differs from
    the golden, or whose check failed."""
    bad = {}
    for r in timed_ops(recs):
        if not r["ok"]:
            bad[r["op"]] = f"{r['name']}: {r['err']}"
    if golden is not None:
        for r in recs:
            if r["type"] != "fingerprint" or r["op"] in bad:
                continue
            want = golden.get(r["name"])
            got = {"rows": r["rows"], "hash": r["hash"]}
            if want is None:
                bad[r["op"]] = f"{r['name']}: no golden fingerprint"
            elif r.get("err") or got != want:
                bad[r["op"]] = f"{r['name']}: fingerprint {got} != golden {want}"
    for r in recs:
        if r["type"] == "check" and not r["ok"]:
            bad.setdefault(r["op"], f"check failed: {r['detail']}")
    return bad


def end_to_end(recs, launch_epoch, failed, reference):
    """The untraced run's user-visible metrics. `reference` maps an op
    name to its reference seconds (data/*.json)."""
    marks = {r["name"]: r for r in recs if r["type"] == "mark"}
    sess = marks["session"]
    first_epoch = sess["epoch_ms"] / 1e3 + (marks["first_op"]["t"] - sess["t"])
    ops = timed_ops(recs)
    ok = [r for r in ops if r["op"] not in failed]
    good = [r["end"] - r["start"] for r in ok]
    wall = sum(r["end"] - r["start"] for r in ops)
    out = {
        "setup_s": first_epoch - launch_epoch,
        "ops_per_s": len(good) / wall,
        "op_time_ratio": math.exp(sum(math.log((r["end"] - r["start"]) / reference[r["name"]])
                                      for r in ok) / len(ok)) if ok else None,
        "op_p50_s": median(good),
        "op_p90_s": percentile(good, 0.9),
        "heap_peak_mb": marks["pass_end"]["heap_peak_mb"],
        "ops_failed_frac": len(failed) / len(ops),
        "samples": len(good),
        "session_s": sess["epoch_ms"] / 1e3 - launch_epoch,
        "data_s": marks["data"]["t"] - sess["t"],
        "warmup_s": marks["first_op"]["t"] - marks["data"]["t"],
        "pass_s": marks["pass_end"]["t"] - marks["first_op"]["t"],
        "gcs": marks["pass_end"]["gcs"],
    }
    out.update(lifecycle(recs, failed))
    return out


def lifecycle(recs, failed):
    """Per-op-type latencies of the index workload (empty elsewhere)."""
    out = {}
    store = [r for r in recs if r["type"] == "mark" and r["name"] == "store"]
    if not store:
        return out
    by_kind = defaultdict(list)
    for r in timed_ops(recs):
        if r["op"] not in failed:
            by_kind[r["kind"]].append(r["end"] - r["start"])
    out["build_s"] = sum(by_kind["build"])
    for kind in ("append", "flush", "delete", "compact", "search"):
        out[f"{kind}_p50_s"] = median(by_kind[kind])
    out["search_p90_s"] = percentile(by_kind["search"], 0.9)
    out["store_bytes_per_input_byte"] = store[0]["store_bytes"] / store[0]["input_bytes"]
    return out


def per_layer(recs, spans, cores, untraced_wall):
    """Totals per pass of every layer, from a traced run's records."""
    ops = {r["op"]: r for r in timed_ops(recs)}
    op_wall = sum(r["end"] - r["start"] for r in ops.values())
    m = defaultdict(float)
    for r in ops.values():
        for ph in ("build", "plan", "execute"):
            m[f"queries.{ph}_s"] += r["phases"].get(ph, 0.0)
    op_spans = {s["op"]: s for s in spans if s["name"] == "op"}

    def op_of(t):
        for s in op_spans.values():
            if s["start"] <= t <= s["end"]:
                return s["op"]
        return None

    for r in recs:
        if r["type"] in ("qe", "qe_main") and r["t"] is not None and op_of(r["t"]) is not None:
            m["catalyst.executions"] += 1
            for ph in ("analysis", "optimization", "planning"):
                m[f"catalyst.{ph}_s"] += r[f"{ph}_s"]
    jobs = [s for s in spans if s["name"] == "job"]
    stages = [s for s in spans if s["name"] == "stage"]
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    stage_keys = {"tasks": "exec.tasks", "task_failures": "exec.task_failures",
                  "task_run_s": "exec.task_run_s", "task_cpu_s": "exec.task_cpu_s",
                  "task_gc_s": "exec.task_gc_s", "input_bytes": "exec.input_bytes",
                  "shuffle_read_bytes": "exec.shuffle_read_bytes",
                  "shuffle_write_bytes": "exec.shuffle_write_bytes",
                  "spill_bytes": "exec.spill_bytes", "output_bytes": "exec.output_bytes",
                  "result_bytes": "exec.result_bytes"}
    for s in stages:
        for k, name in stage_keys.items():
            m[name] += s["metrics"][k]
    keyed = defaultdict(float)
    fs = {r["op"]: r for r in recs if r["type"] == "fs"}
    for op, s in op_spans.items():
        own = [(j["start"], j["end"]) for j in jobs if j["op"] == op]
        busy = union_length(own, s["start"], s["end"])
        gap = (s["end"] - s["start"]) - busy
        m["exec.job_busy_s"] += busy
        m["driver.gap_s"] += gap
        kind = ops[op]["kind"] if op in ops else None
        if kind in OP_KINDS:
            keyed[f"{kind}.exec.jobs"] += len(own)
            keyed[f"{kind}.exec.job_busy_s"] += busy
            keyed[f"{kind}.driver.gap_s"] += gap
            f = fs.get(op, {})
            for k in ("creates", "renames", "lists", "bytes_written"):
                keyed[f"{kind}.sources.fs_{k}"] += f.get(k, 0)
    m["exec.slot_util"] = (m["exec.task_run_s"] / (m["exec.job_busy_s"] * cores)
                           if m["exec.job_busy_s"] else 0.0)
    m["driver.gap_frac"] = m["driver.gap_s"] / op_wall if op_wall else 0.0
    for f in fs.values():
        for k in ("creates", "renames", "deletes", "mkdirs", "lists", "status", "opens",
                  "bytes_read", "bytes_written"):
            m[f"sources.fs_{k}"] += f.get(k, 0)
    stores = [r for r in recs if r["type"] == "store"]
    last = stores[-1] if stores else {}
    for k in ("files", "bytes", "applog_segments", "partitions", "versions"):
        m[f"store.{k}"] = last.get(f"ann.{k}", 0) + last.get(f"bm25.{k}", 0)
    runs = {}
    for r in recs:
        if r["type"].startswith("stream_"):
            runs.setdefault(r["run"], []).append(r)
    for evs in runs.values():
        st = [e["t"] for e in evs if e["type"] == "stream_start"]
        en = [e["t"] for e in evs if e["type"] == "stream_end"]
        batch = sum(e["batch_s"] for e in evs if e["type"] == "stream_batch")
        if not st or op_of(st[0]) is None:
            continue
        m["streaming.queries"] += 1
        m["streaming.batches"] += sum(1 for e in evs if e["type"] == "stream_batch")
        m["streaming.batch_s"] += batch
        if en:
            m["streaming.idle_s"] += max(0.0, en[0] - st[0] - batch)
    selfs = self_times(spans)
    for s in spans:
        if s["name"] in SPAN_NAMES:
            m[f"self.{s['name']}_s"] += selfs[s["id"]]
    m["trace.overhead_frac"] = op_wall / untraced_wall - 1 if untraced_wall else 0.0
    for kind in OP_KINDS:
        for k in KEYED:
            m[f"{kind}.{k}"] = keyed.get(f"{kind}.{k}", 0.0)
    for k in list(LAYER_UNITS):
        m.setdefault(k, 0.0)
    return dict(m)


def _layer_units():
    u = {}
    for k in ("build", "plan", "execute"):
        u[f"queries.{k}_s"] = "s"
    u["catalyst.executions"] = "count"
    for k in ("analysis", "optimization", "planning"):
        u[f"catalyst.{k}_s"] = "s"
    for k in ("jobs", "stages", "tasks", "task_failures"):
        u[f"exec.{k}"] = "count"
    for k in ("job_busy_s", "task_run_s", "task_cpu_s", "task_gc_s"):
        u[f"exec.{k}"] = "s"
    u["exec.slot_util"] = "ratio"
    for k in ("input", "shuffle_read", "shuffle_write", "spill", "output", "result"):
        u[f"exec.{k}_bytes"] = "bytes"
    u["driver.gap_s"] = "s"
    u["driver.gap_frac"] = "ratio"
    for k in ("creates", "renames", "deletes", "mkdirs", "lists", "status", "opens"):
        u[f"sources.fs_{k}"] = "count"
    u["sources.fs_bytes_read"] = u["sources.fs_bytes_written"] = "bytes"
    for k in ("files", "applog_segments", "partitions", "versions"):
        u[f"store.{k}"] = "count"
    u["store.bytes"] = "bytes"
    u["streaming.queries"] = u["streaming.batches"] = "count"
    u["streaming.batch_s"] = u["streaming.idle_s"] = "s"
    u["trace.overhead_frac"] = "ratio"
    for k in SPAN_NAMES:
        u[f"self.{k}_s"] = "s"
    for kind in OP_KINDS:
        for k in KEYED:
            u[f"{kind}.{k}"] = ("s" if k.endswith("_s") else
                                "bytes" if k.endswith("bytes_written") else "count")
    return u


LAYER_UNITS = _layer_units()
