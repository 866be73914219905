#!/usr/bin/env python3
"""Compare two traced benchmark runs layer by layer.

    python3 perfbench/diff_traces.py BEFORE.json AFTER.json

Each argument is a run record written by `perfbench/run.py --trace 1`
(perfbench/out/records/<workload>-seed<seed>-trace1.json). For every layer
the script prints self time per traced pass: a span's duration minus the
part of it that its child spans cover. It also prints each run's tracing
overhead (median traced pass_s minus median untraced pass_s, both measured
in the same run) and its calibration, so a machine that moved can be told
apart from code that moved.
"""
import json
import statistics
import sys
from collections import defaultdict


def covered(start, end, children):
    """Microseconds of [start, end) covered by the union of child intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(path):
    with open(path) as f:
        rec = json.load(f)
    if not rec.get("trace"):
        raise SystemExit(f"{path}: not a traced run (--trace 1)")
    spans = {s[0]: s for s in rec["spans"]}
    children = defaultdict(list)
    for sid, parent, _layer, _op, start, end in spans.values():
        if parent in spans:
            children[parent].append((start, end))
    timed = [p for p in rec["passes"] if p["timed"]]
    traced = [p["pass_s"] for p in timed if p["traced"]]
    untraced = [p["pass_s"] for p in timed if not p["traced"]]
    n = max(1, len(traced))
    self_s, count = defaultdict(float), defaultdict(int)
    for sid, _parent, layer, _op, start, end in spans.values():
        self_s[layer] += (end - start - covered(start, end, children[sid])) / 1e6 / n
        count[layer] += 1
    overhead = statistics.median(traced) - statistics.median(untraced) if traced and untraced else None
    return {
        "name": f"{rec['workload']} seed {rec['seed']}",
        "self": self_s,
        "count": {k: v / n for k, v in count.items()},
        "overhead": overhead,
        "untraced": statistics.median(untraced) if untraced else None,
        "calibration": rec["calibration"],
    }


def fmt(v, spec="10.4f"):
    return format(v, spec) if v is not None else " " * 9 + "-"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a, b = summarize(sys.argv[1]), summarize(sys.argv[2])
    print(f"A = {sys.argv[1]} ({a['name']})")
    print(f"B = {sys.argv[2]} ({b['name']})")
    print(f"{'layer':<18}{'A self s':>10}{'B self s':>10}{'B-A s':>10}{'B/A':>8}"
          f"{'A spans':>9}{'B spans':>9}   (per traced pass)")
    layers = sorted(set(a["self"]) | set(b["self"]), key=lambda k: -max(a["self"][k], b["self"][k]))
    for k in layers:
        x, y = a["self"][k], b["self"][k]
        ratio = f"{y / x:8.3f}" if x > 0 else "       -"
        print(f"{k:<18}{x:10.4f}{y:10.4f}{y - x:+10.4f}{ratio}"
              f"{a['count'].get(k, 0):9.1f}{b['count'].get(k, 0):9.1f}")
    for tag, s in (("A", a), ("B", b)):
        share = (f" ({100 * s['overhead'] / s['untraced']:+.1f}% of untraced pass_s "
                 f"{s['untraced']:.4f} s)") if s["overhead"] is not None and s["untraced"] else ""
        print(f"tracing overhead {tag}: {fmt(s['overhead'], '.4f').strip()} s/pass{share}")
    for tag, s in (("A", a), ("B", b)):
        c = s["calibration"]
        print(f"calibration {tag}: start {json.dumps(c['start'])} end {json.dumps(c['end'])} "
              f"cpu_steal_frac {c.get('cpu_steal_frac', 0.0):.4f}")


if __name__ == "__main__":
    main()
