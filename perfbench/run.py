"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` adds span wrappers, Spark job groups and the
Spark event log, and prints the per-layer metrics. Report lines go to
stdout first; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. A correctness
failure still prints that line (``"correct": false``) and exits 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT, log, work_dir  # noqa: E402

WORKLOADS = ("serve", "pipeline")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    missing = [m for m in ("syzgydb_spark", "__spark_entry__")
               if importlib.util.find_spec(m) is None]
    if missing or not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print(f"perfbench: not a syzgydb-spark checkout ({ROOT}): missing "
              f"{missing or ['BENCHMARK.json']}", file=sys.stderr)
        return 2

    import metrics

    spec = metrics.declared()
    section = "per_layer" if args.trace else "end_to_end"
    decl = {m["name"]: m for m in spec[section]}

    if args.workload == "serve":
        import serve as workload
    else:
        import pipeline as workload
    log(f"{args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    with work_dir(args.workload) as work:
        res = workload.run(args.seed, args.seconds, bool(args.trace), work)

    values = res.per_layer if args.trace else res.end_to_end
    if set(values) != set(decl):
        res.problems.append(
            f"printed metrics differ from BENCHMARK.json {section}: "
            f"extra {sorted(set(values) - set(decl))}, "
            f"missing {sorted(set(decl) - set(values))}"
        )

    for name, note in res.notes.items():
        print(f"# {name}: {note}")
    if args.trace:  # the traced run's own end-to-end figures, for the overhead
        for name, v in res.end_to_end.items():
            print(f"# traced {name}: {v!r}")
    for name in decl:
        if name in values:
            m = decl[name]
            direction = f"{m['better']} is better" if "better" in m else ""
            print(f"{name} = {values[name]!r} {m['unit']} ({direction})")
    for p in res.problems:
        print(f"# FAILED: {p}")
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            n: {"value": values[n], "unit": decl[n]["unit"]} for n in decl if n in values
        },
    }))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
