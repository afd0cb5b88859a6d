#!/usr/bin/env python3
"""Compare two sets of benchmark captures of one workload, layer by layer.

    python3 perfbench/layerdiff.py BEFORE AFTER

BEFORE and AFTER are each a capture file written by run.py (under
`.bench_work/captures/`), or a comma-separated list of them; with
several captures a side reports the median of each metric. Per-layer
numbers come from traced captures (--trace 1), end-to-end numbers
from untraced ones; a side may mix both. For every metric the tool
prints before, after and after/before, and it prints the tracing
overhead of each side. Stamps that differ between the sides (cores,
master, scale, heap, JVM) are printed first: such a comparison mixes
boxes or settings, not just code.
"""
import json
import statistics
import sys

STAMP_KEYS = ("nproc", "master", "sf", "heap_max_mb", "jvm", "spark")


def load(arg):
    caps = [json.load(open(p)) for p in arg.split(",") if p]
    if not caps:
        sys.exit(f"no captures in {arg!r}")
    names = {c["stamp"]["workload"] for c in caps}
    if len(names) != 1:
        sys.exit(f"captures mix workloads {sorted(names)}")
    return caps


def medians(caps, section):
    """{metric: (median, captures)} over the numbers of `section(capture)`."""
    values = {}
    for c in caps:
        for k, v in section(c).items():
            if isinstance(v, (int, float)):
                values.setdefault(k, []).append(v)
    return {k: (statistics.median(v), len(v)) for k, v in values.items()}


def table(title, before, after):
    keys = sorted(set(before) | set(after))
    if not keys:
        return
    print(f"\n{title}")
    print(f"  {'metric':<40} {'before':>14} {'after':>14} {'after/before':>13}  n")
    for k in keys:
        b, nb = before.get(k, (None, 0))
        a, na = after.get(k, (None, 0))
        ratio = f"{a / b:.3f}" if b not in (None, 0) and a is not None else "-"
        fb = f"{b:.4f}" if b is not None else "-"
        fa = f"{a:.4f}" if a is not None else "-"
        print(f"  {k:<40} {fb:>14} {fa:>14} {ratio:>13}  {nb}/{na}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    wb, wa = before[0]["stamp"]["workload"], after[0]["stamp"]["workload"]
    if wb != wa:
        sys.exit(f"workloads differ: {wb} vs {wa}")
    print(f"workload {wb}: {len(before)} capture(s) before, {len(after)} after")
    for side, caps in (("before", before), ("after", after)):
        commits = sorted({c["stamp"]["commit"][:12] for c in caps})
        sources = sorted({c["stamp"]["source_sha"][:12] for c in caps})
        print(f"  {side}: commit {','.join(commits)} source {','.join(sources)} "
              f"seeds {sorted(c['stamp']['seed'] for c in caps)}")
    for k in STAMP_KEYS:
        vb = {str(c["stamp"].get(k)) for c in before}
        va = {str(c["stamp"].get(k)) for c in after}
        if vb != va:
            print(f"  STAMP DIFFERS {k}: {sorted(vb)} vs {sorted(va)}")
    bad = [c["stamp"]["seed"] for c in before + after if not c["correct"]]
    if bad:
        print(f"  INCORRECT captures (seeds {bad}): their timings are not comparable")

    untraced = lambda caps: [c for c in caps if not c["stamp"]["traced"]] or caps
    traced = lambda caps: [c for c in caps if c["stamp"]["traced"]]
    end_to_end = lambda c: c["end_to_end"]
    report = lambda c: c["report"]
    per_layer = lambda c: c["per_layer"]
    table("end to end (median)", medians(untraced(before), end_to_end),
          medians(untraced(after), end_to_end))
    table("report (median)", medians(untraced(before), report),
          medians(untraced(after), report))
    tb, ta = traced(before), traced(after)
    if not tb or not ta:
        print("\nno traced capture on one side: no layer comparison")
        return
    table("per layer, traced run (median; per operation unless named otherwise)",
          medians(tb, per_layer), medians(ta, per_layer))
    ob = medians(tb, per_layer)["trace.overhead_pct"][0]
    oa = medians(ta, per_layer)["trace.overhead_pct"][0]
    print(f"\ntracing overhead: before {ob:.2f}%  after {oa:.2f}% "
          "(traced vs untraced mean operation latency in the same run)")


if __name__ == "__main__":
    main()
