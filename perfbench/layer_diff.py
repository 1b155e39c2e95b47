"""Per-layer diff of two traced runs.

    python3 perfbench/layer_diff.py BEFORE.json AFTER.json [--all]

Each file is one written by a traced run (`run.py --trace 1`, under
perfbench/.results/) or a directory of them. Runs are matched by
workload. For every per-layer metric the tool prints before, after and
the change, by workload; metrics keyed by op type (build, append, flush,
delete, compact, search) appear under their op type. Unchanged metrics
are hidden unless --all is given.
"""
import argparse
import json
import sys
from pathlib import Path


def load(path):
    p = Path(path)
    files = sorted(p.glob("trace-*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        d = json.loads(f.read_text())
        runs.setdefault(d["workload"], []).append(d["per_layer"])
    # several runs of one workload: the median of each metric
    out = {}
    for w, layers in runs.items():
        keys = sorted(set().union(*layers))
        out[w] = {k: sorted(x.get(k, 0.0) for x in layers)[len(layers) // 2] for k in keys}
    return out


def group(metric):
    head = metric.split(".", 1)[0]
    kinds = ("build", "append", "flush", "delete", "compact", "search")
    return (head, metric.split(".", 1)[1]) if head in kinds else ("all ops", metric)


def diff(before, after, show_all=False):
    lines = []
    for w in sorted(set(before) | set(after)):
        b, a = before.get(w, {}), after.get(w, {})
        rows = []
        for k in sorted(set(b) | set(a), key=lambda m: (group(m)[0] != "all ops", group(m))):
            x, y = b.get(k, 0.0), a.get(k, 0.0)
            if x == y and not show_all:
                continue
            change = f"{(y - x) / x:+.1%}" if x else ("new" if y else "")
            op_type, name = group(k)
            rows.append(f"  {op_type:<8} {name:<28} {x:>14.6g} {y:>14.6g} {change:>9}")
        lines.append(f"{w}:")
        lines += rows or ["  (no change)"]
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true", help="also print unchanged metrics")
    args = ap.parse_args(argv)
    print(f"  {'op type':<8} {'metric':<28} {'before':>14} {'after':>14} {'change':>9}")
    print(diff(load(args.before), load(args.after), args.all))


if __name__ == "__main__":
    sys.exit(main())
