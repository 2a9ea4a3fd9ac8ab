"""Sidecar's benchmark: cached reads, cached writes and lake queries over
an S3-dialect remote with 20 ms of emulated RTT.

    python3 perfbench/run.py --workload fs_read_zipf --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``). A traced run also writes its
per-layer self-time table to ``perfbench/out/``. See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _workload(name):
    if name == "fs_read_zipf":
        from fsload import fs_read_zipf
        return fs_read_zipf
    if name == "fs_write_mix":
        from fsload import fs_write_mix
        return fs_write_mix
    if name == "lake_query_driver":
        from lake import lake_query_driver
        return lake_query_driver
    raise SystemExit(f"perfbench: unknown workload {name!r}")


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    # the program under test is the checkout's own package
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    try:
        import sidecar_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    home = os.path.dirname(os.path.dirname(sidecar_spark.__file__))
    if os.path.realpath(home) != os.path.realpath(ROOT):
        print(f"perfbench: {sidecar_spark.__file__} is not this checkout's "
              "program", file=sys.stderr)
        return 2
    from common import ShapeError, unit_of

    run = _workload(args.workload)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    try:
        res = run(args.seed, args.seconds, bool(args.trace), work)
    except ShapeError as e:
        print(f"perfbench: invalid run: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    values = res.per_layer if args.trace else res.end_to_end
    wanted = {m["name"]: m["unit"] for m in spec[kind]}
    if set(values) - set(wanted):
        print(f"perfbench: metrics missing from BENCHMARK.json: "
              f"{sorted(set(values) - set(wanted))}", file=sys.stderr)
        return 4
    if args.trace:
        # layers a workload does not use read 0
        values = {name: values.get(name, 0) for name in wanted}
    elif set(wanted) - set(values):
        print(f"perfbench: metrics not measured: "
              f"{sorted(set(wanted) - set(values))}", file=sys.stderr)
        return 4
    if res.table:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}.md")
        with open(path, "w") as f:
            f.write(res.table)
        print(res.table, file=sys.stderr)
    correct = res.failed == 0 and res.attempted > 0
    # every end-to-end figure of the workload by name and unit, then the
    # JSON result as the last line
    figures = {**res.end_to_end, **res.figures,
               "error_rate": res.failed / max(res.attempted, 1)}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, value in figures.items():
        print(f"{args.workload} {name} {value:.6g} "
              f"{units.get(name, unit_of(name))}")
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {name: {"value": values[name], "unit": wanted[name]}
                    for name in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
