#!/usr/bin/env python3
"""Fold and compare the interleaved A/B bench sessions from bench_ab.sh.

Per side: per-query min across all passes of all that side's sessions
(cold+warm per session). Report: folded totals, and the per-query deltas
that exceed both a ratio and an absolute floor — the survivors are CODE
differences, since interleaving exposed both sides to the same host.

Usage: python3 tools/bench_ab_report.py /tmp/ab
"""
import json, sys, glob

prefix = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ab"

def fold(side):
    mins = {}
    for f in sorted(glob.glob(f"{prefix}_{side}*.json")):
        for line in open(f):
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if d.get("metric") in ("total", "total_warm", "total_min"):
                for q, v in d["queries"].items():
                    if d["metric"] == "total_min":
                        continue  # derived from the other two; don't double-count
                    mins[q] = min(mins.get(q, 1e18), v)
    return mins

a = fold("base")
b = fold("cur")
shared = sorted(set(a) & set(b))
ta = sum(a[q] for q in shared)
tb = sum(b[q] for q in shared)
print(f"shared queries: {len(shared)}  (base-only: {len(set(a)-set(b))}, cur-only: {len(set(b)-set(a))})")
# Coverage guard: the headline ratio only measures the catalog while the
# base still runs ~all of the current queries. If the catalog grew past the
# base (or base queries fail), the shared fold silently shrinks.
if b and len(shared) < 0.9 * len(b):
    print(f"\n*** LOW COVERAGE: shared fold covers {len(shared)}/{len(b)} "
          f"current queries (<90%) — the ratio below does not measure the "
          f"whole catalog; pick a newer base commit. ***")
print(f"folded min totals over shared: base {ta:.1f} s  cur {tb:.1f} s  ratio {tb/ta:.3f}")
only_b = sorted(set(b) - set(a))
if only_b:
    print(f"cur-only queries total: {sum(b[q] for q in only_b):.1f} s over {len(only_b)}")

rows = []
for q in shared:
    d = b[q] - a[q]
    if abs(d) >= 0.15 and (b[q] / max(a[q], 1e-9) >= 1.3 or a[q] / max(b[q], 1e-9) >= 1.3):
        rows.append((d, q, a[q], b[q]))
rows.sort(reverse=True)
print("\nper-query survivors (|delta| >= 0.15 s AND ratio >= 1.3x):")
print(f"{'query':8} {'base':>8} {'cur':>8} {'delta':>8} {'ratio':>6}")
for d, q, va, vb in rows:
    print(f"{q:8} {va:8.3f} {vb:8.3f} {d:+8.3f} {vb/max(va,1e-9):6.2f}")
if not rows:
    print("  (none — the drift does not survive interleaved folding)")
