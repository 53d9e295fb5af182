"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_scan --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a source checkout and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` reports its
per-layer metrics.  All scratch files live in a work directory under the
checkout that is removed on exit; the JVM and its Python workers are
stopped before the process ends.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.common import Run, remove_work, stop_session  # noqa: E402

WORKLOADS = ("pages_scan", "dictionary_snapshot")


def expected_metrics(trace: bool) -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import sssom_curator_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: program not found next to the benchmark: {exc}", file=sys.stderr)
        return 2

    from perfbench import workloads

    run = Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        root=ROOT,
    )
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(run.work, exist_ok=True)
    try:
        getattr(workloads, args.workload)(run)
    except Exception:  # noqa: BLE001 - reported, no result line
        traceback.print_exc()
        return 1
    finally:
        run.log("stopping")
        stop_session(run)
        run.log("stopped")
        remove_work(run)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass

    wanted = expected_metrics(run.trace)
    if run.trace:
        # a layer this workload does not run reads 0 here
        own = set(workloads.LAYER_METRICS[run.workload])
        for name, unit in wanted:
            if name not in own:
                run.metrics.setdefault(name, (0.0, unit))
    missing = [n for n, _ in wanted if n not in run.metrics]
    wrong_unit = [n for n, u in wanted if n in run.metrics and run.metrics[n][1] != u]
    if missing or wrong_unit:
        print(f"perfbench: metrics not measured: {missing}, unit mismatch: {wrong_unit}",
              file=sys.stderr)
        return 1
    for problem in run.problems:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": run.metrics[n][0], "unit": u} for n, u in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    t0 = time.monotonic()
    code = main()
    print(f"perfbench: wall {time.monotonic() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
