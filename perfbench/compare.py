#!/usr/bin/env python3
"""Compare benchmark records written to ``perfbench/out/``.

    python3 perfbench/compare.py counts A.json B.json
        Diff the exact count tables of two traced runs (same workload and
        seed) and list every count that does not repeat.

    python3 perfbench/compare.py ledger TRACED.json
        Markdown table of each op's median per-layer split and the layer
        that dominates its wall time.

    python3 perfbench/compare.py summary RECORD.json...
        Per workload: median, quartiles and spread (IQR / median) of each
        end-to-end metric over the untraced records, the median of each
        per-layer metric over the traced ones, and the tracing overhead
        (traced pass_s median minus untraced pass_s median).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def spread(values) -> float:
    """Distance between the first and third quartile over the median."""
    q1, med, q3 = stats.quartiles(values)
    return (q3 - q1) / med if med else 0.0


def diff_counts(a: dict, b: dict) -> list[tuple]:
    """(op, field, value in a, value in b) for every count that differs;
    an op present on one side only is reported with field '*'."""
    out = []
    for op in sorted(set(a) | set(b)):
        if op not in b:
            out.append((op, "*", "present", "missing"))
        elif op not in a:
            out.append((op, "*", "missing", "present"))
        else:
            for field in sorted(set(a[op]) | set(b[op])):
                if a[op].get(field) != b[op].get(field):
                    out.append((op, field, a[op].get(field), b[op].get(field)))
    return out


def _load(path):
    with open(path) as f:
        return json.load(f)


def counts(path_a, path_b) -> int:
    a, b = _load(path_a), _load(path_b)
    diffs = diff_counts(a["count_table"], b["count_table"])
    for d in diffs:
        print("differs: op %s %s: %s vs %s" % d)
    n = sum(len(v) for v in a["count_table"].values())
    print(f"{n - len(diffs)}/{n} counts repeat exactly ({a['workload']} seed {a['seed']} vs seed {b['seed']})")
    return 1 if diffs else 0


def summary(paths) -> int:
    by = {}
    for p in paths:
        r = _load(p)
        by.setdefault(r["workload"], {0: [], 1: []})[r["trace"]].append(r)
    for w, recs in sorted(by.items()):
        plain, traced = recs[0], recs[1]
        print(f"{w}: {len(plain)} untraced, {len(traced)} traced records")
        if plain:
            for k in plain[0]["end_to_end"]:
                vals = [r["end_to_end"][k] for r in plain]
                q1, med, q3 = stats.quartiles(vals)
                print(f"  {k:<24} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread(vals):.4f}")
        if traced:
            for k in traced[0]["per_layer"]:
                med = stats.median(r["per_layer"][k] for r in traced)
                print(f"  {k:<24} median {med:12.4f}")
        if plain and traced:
            over = stats.median(r["per_layer"]["trace.pass_s"] for r in traced) - stats.median(
                r["end_to_end"]["pass_s"] for r in plain
            )
            print(f"  tracing overhead (pass_s) {over:+.4f} s")
    return 0


def dominant_layer(led: dict) -> str:
    """Name of the layer that dominates one op's wall time: the driver
    when the gap outweighs the stage critical path, else the largest part
    of executor task time (Python workers, shuffle, GC, JVM compute)."""
    if led["driver.gap_s"] >= led["sched.critical_path_s"]:
        return "driver"
    run = led["exec.run_s"] or 1e-9
    parts = {
        "python": led["python.run_s"],
        "shuffle": led["shuffle.write_s"] + led["shuffle.fetch_wait_s"],
        "gc": led["exec.gc_s"],
    }
    parts["jvm-exec"] = max(run - sum(parts.values()), 0.0)
    return max(parts, key=parts.get)


LEDGER_COLUMNS = (
    "wall_s",
    "operators.call_s",
    "operators.action_s",
    "driver.gap_s",
    "sched.critical_path_s",
    "sched.jobs",
    "operators.eager_jobs",
    "exec.run_s",
    "python.run_s",
    "shuffle.write_mb",
)


def ledger(path) -> int:
    r = _load(path)
    by_op = {}
    for led in r["ops"]:
        by_op.setdefault(led["op"], []).append(led)
    cols = " | ".join(LEDGER_COLUMNS)
    print(f"| op | {cols} | dominant |")
    print("|---" * (len(LEDGER_COLUMNS) + 2) + "|")
    for op, leds in by_op.items():
        med = {k: stats.median(x[k] for x in leds) for k in LEDGER_COLUMNS + (
            "exec.gc_s", "shuffle.write_s", "shuffle.fetch_wait_s")}
        vals = " | ".join(f"{med[k]:.3g}" for k in LEDGER_COLUMNS)
        print(f"| {op} | {vals} | {dominant_layer(med)} |")
    return 0


def main(argv) -> int:
    if len(argv) == 3 and argv[0] == "counts":
        return counts(argv[1], argv[2])
    if len(argv) == 2 and argv[0] == "ledger":
        return ledger(argv[1])
    if len(argv) >= 2 and argv[0] == "summary":
        return summary(argv[1:])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
