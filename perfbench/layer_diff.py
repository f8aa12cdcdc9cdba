"""Per-layer deltas between two traced benchmark runs.

    python3 perfbench/layer_diff.py BEFORE/report.json AFTER/report.json

Run from the repository root. Each argument is the ``report.json`` a
``--trace 1`` run writes (by default under
``.bench_build/runs/<workload>-trace1/``). For every layer
it prints self time, jobs, driver gap, task time and shuffle and spill
bytes of both runs, per measured unit, with the difference; then the
workload totals. Layers idle in both runs are skipped.
"""
import json
import sys

COLUMNS = ("self_s", "jobs", "driver_gap_s", "task_s", "shuffle_bytes",
           "spill_bytes")
TOTALS = ("spark.jobs", "spark.driver_gap_s", "spark.driver_gap_share",
          "spark.wall_s", "jvm.gc_s", "trace.result_s")


def load(path):
    with open(path) as fh:
        report = json.load(fh)
    if not report.get("per_layer"):
        sys.exit(f"{path}: no per-layer metrics (not a --trace 1 run?)")
    return report


def layers():
    """Layer names in BENCHMARK.json's order."""
    with open("BENCHMARK.json") as fh:
        names = [m["name"] for m in json.load(fh)["per_layer"]]
    return list(dict.fromkeys(
        n.rsplit(".", 1)[0] for n in names if n.endswith(".self_s")))


def row(name, a, b):
    delta = b - a
    pct = f"{100 * delta / a:+7.1f}%" if a else "       "
    return f"  {name:<34} {a:>14.4g} {b:>14.4g} {delta:>+14.4g} {pct}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    pa, pb = a["per_layer"], b["per_layer"]
    print(f"before: {a['run_id']}  after: {b['run_id']}  (per unit)")
    print(f"  {'metric':<34} {'before':>14} {'after':>14} {'delta':>14}")
    for layer in layers():
        names = [f"{layer}.{c}" for c in COLUMNS]
        if not any(pa.get(n) or pb.get(n) for n in names):
            continue
        print(layer)
        for n in names:
            print(row(n.split(".")[-1], pa.get(n, 0.0), pb.get(n, 0.0)))
    print("totals")
    for n in TOTALS:
        print(row(n, pa.get(n, 0.0), pb.get(n, 0.0)))


if __name__ == "__main__":
    main()
