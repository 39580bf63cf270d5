#!/usr/bin/env python3
"""Compare two bench_full.json files: per-query steady-min drift, probe
ladder ratios (read from the per-K boards each file names),
steady2/steady1 inflation, and the jvm section.

Usage: bench_compare.py OLD.json NEW.json [drift_threshold=0.25]

       bench_compare.py --templates PARENT-templates.json CHANGE-templates.json

The second form compares two graphbench traced runs
(graphbench/results/<workload>-seed<N>-templates.json): per template,
builder.jobs, exec.jobs and builder.ms as parent -> change. Each
per-template figure is a mean over the rounds that fit the run's window,
and every round draws new parameters, so two runs compare only when
their templates ran the same number of ops; a template whose ops differ
is flagged. Take one round per side:

  python3 graphbench/run.py --workload traverse --seed 1 --seconds 1 --trace 1
"""
import json
import os
import sys

TEMPLATE_METRICS = ("builder.jobs", "exec.jobs", "builder.ms")


def compare_templates(parent_path, change_path):
    parent = json.load(open(parent_path))
    change = json.load(open(change_path))
    for side in ("workload", "seed"):
        if parent.get(side) != change.get(side):
            print(f"WARNING: {side} differs: {parent.get(side)} vs {change.get(side)}")
    pt, ct = parent["templates"], change["templates"]

    def fmt(v):
        return "-" if v is None else f"{v:g}" if v == int(v) else f"{v:.1f}"

    head = "".join(f"  {m:>22s}" for m in TEMPLATE_METRICS)
    print(f"{parent.get('workload', '?')} seed {parent.get('seed', '?')}: "
          "parent -> change")
    print(f"{'template':20s}{head}  ops")
    differ = []
    for name in sorted(set(pt) | set(ct)):
        p, c = pt.get(name, {}), ct.get(name, {})
        cells = "".join(
            f"  {fmt(p.get(m)) + ' -> ' + fmt(c.get(m)):>22s}"
            for m in TEMPLATE_METRICS)
        ops = f"{p.get('ops', '-')} -> {c.get('ops', '-')}"
        flag = ""
        if p.get("ops") != c.get("ops"):
            flag = "  OPS DIFFER: means over different rounds, not comparable"
            differ.append(name)
        print(f"{name:20s}{cells}  {ops}{flag}")
    if differ:
        print(f"\n{len(differ)} template(s) ran a different number of ops; "
              "rerun both sides with --seconds 1")
    return 1 if differ else 0


def ladder_rows(full, path):
    """Probe-ladder rows by K for a bench_full.json at `path`."""
    base = os.path.dirname(os.path.abspath(path))
    out = {}
    for k, lad in full.get("ladders", {}).items():
        board = os.path.join(base, lad["board"])
        if os.path.exists(board):
            for key, rows in json.load(open(board)).items():
                if key.endswith(f"_probe_{k}x"):
                    out[int(k)] = rows
    if "sf1_probe_10x" in full:
        out.setdefault(10, full["sf1_probe_10x"])
    sf10 = os.path.join(base, "bench_sf10.json")
    if "sf10_file" in full and os.path.exists(sf10):
        out.setdefault(100, json.load(open(sf10)).get("sf10_probe_100x", {}))
    return out


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--templates":
        if len(sys.argv) != 4:
            sys.exit(__doc__)
        sys.exit(compare_templates(sys.argv[2], sys.argv[3]))
    old = json.load(open(sys.argv[1]))
    new = json.load(open(sys.argv[2]))
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.25

    oq, nq = old["queries"], new["queries"]
    print("== totals ==")
    for name, d in (("old", oq), ("new", nq)):
        tot = sum(v["min"] for v in d.values() if v["min"] > 0)
        cold = sum(v["cold"] for v in d.values() if v["cold"] > 0)
        print(f"  {name}: steady(min) {tot:7.1f}s  cold {cold:7.1f}s  n={len(d)}")

    print(f"\n== per-query steady-min drift > {thr:.0%} (and > 0.3s) ==")
    drifts = []
    for k in sorted(nq):
        if k in oq and oq[k]["min"] > 0.05 and nq[k]["min"] > 0:
            r = nq[k]["min"] / oq[k]["min"]
            if r > 1 + thr and nq[k]["min"] - oq[k]["min"] > 0.3:
                drifts.append((r, k, oq[k]["min"], nq[k]["min"]))
    for r, k, a, b in sorted(drifts, reverse=True):
        print(f"  {k:36s} {a:6.2f} -> {b:6.2f}  ({r:4.2f}x)")
    if not drifts:
        print("  none")

    print("\n== steady2/steady1 inflation (>2x, s2 > 0.5s) ==")
    infl = []
    for k, v in nq.items():
        if v["steady1"] > 0.05 and v["steady2"] > 0.5:
            r = v["steady2"] / v["steady1"]
            if r > 2:
                infl.append((r, k, v["steady1"], v["steady2"],
                             v.get("gc2_ms", -1)))
    for r, k, a, b, gc in sorted(infl, reverse=True):
        print(f"  {k:36s} {a:6.2f} -> {b:6.2f}  ({r:4.2f}x)  gc2={gc}ms")
    if not infl:
        print("  none")
    if infl:
        worst = max(infl)[0]
        print(f"  worst steady2/steady1: {worst:.2f}")

    # probe-ladder rows live in per-K boards that bench_full.json names
    # under "ladders"; pre-ladder files embed the 10x rows and point to
    # bench_sf10.json for the 100x ones
    old_ladders = ladder_rows(old, sys.argv[1])
    for k, rows in sorted(ladder_rows(new, sys.argv[2]).items()):
        print(f"\n== {k}x ladder: ratios > {0.6 * k:g}x (linear = ~{k}x) ==")
        flags = [(v.get("ratio", 0), n, v) for n, v in rows.items()
                 if isinstance(v, dict) and (v.get("ratio", 0) > 0.6 * k or v.get("err"))]
        for r, n, v in sorted(flags, key=lambda f: -f[0]):
            bar = "BREACH" if r > k else "watch"
            runs = ",".join(f"{x:.1f}" for x in v.get("runs", []))
            err = f"  ERR {v['err']}" if v.get("err") else ""
            print(f"  {n:36s} {v.get('sec', -1):7.2f}s  ratio {r:6.2f}x  "
                  f"runs [{runs}]  [{bar}]{err}")
        if not flags:
            print("  none")
        print(f"  probes: {len(rows)}  (old: {len(old_ladders.get(k, {}))})")

    out = new.get("steady2_outliers", {})
    if out:
        print("\n== steady2 outliers (>3x pass-1, with in-run snapshot) ==")
        for k, v in out.items():
            print(f"  {k:36s} {v['steady1']:.2f} -> {v['steady2']:.2f}  "
                  f"gc={v.get('gc_ms', -1)}ms  snap={v.get('snap', {})}")

    if "jvm" in new:
        print("\n== jvm section ==")
        for mark, snap in new["jvm"].items():
            print(f"  {mark:15s} " + " ".join(
                f"{k}={v}" for k, v in snap.items()))

    for err_src, err_d in (("old", old), ("new", new)):
        for field in ("sf1_error", "sf10_error"):
            if err_d.get(field):
                print(f"\n  {err_src} {field}: {err_d[field]}")
        for k, lad in err_d.get("ladders", {}).items():
            for field in ("error", "failed", "dropped"):
                if lad.get(field):
                    print(f"\n  {err_src} {k}x ladder {field}: {lad[field]}")


if __name__ == "__main__":
    main()
