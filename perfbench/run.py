"""zpdfspark extraction benchmark.

    python3 perfbench/run.py --workload pdf_heavy --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads and metrics are declared in
BENCHMARK.json next to this directory. With ``--trace 0`` the last stdout
line is a JSON object carrying every end-to-end metric; with ``--trace 1``
it carries every per-layer metric (0 where a layer is not on the
workload's path), after a printed layer ledger. Inputs are cached under
``.bench_cache/``, scratch files go to ``.bench_work/`` and spans to
``.bench_out/``, all inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DIRECTION = {"higher": "higher is better", "lower": "lower is better"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    sys.path.insert(0, ROOT)
    import zpdfspark  # noqa: F401  -- fail before any output without it

    from perfbench import workloads
    from perfbench.engine import become_subreaper, reap_children

    # a stop request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()

    # the engine under test, its Python workers and every temp file stay
    # inside the checkout
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"

    run = workloads.Run(seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace),
                        cores=len(os.sched_getaffinity(0)), work=work,
                        cache=os.path.join(ROOT, ".bench_cache"))
    try:
        getattr(workloads, args.workload)(run)
    finally:
        try:
            if run.engine is not None:
                run.engine.close()
        finally:
            reap_children()
        run.spans.write(os.path.join(
            ROOT, ".bench_out",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-spans.json"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value = run.metrics.get(m["name"])
        if value is None:
            if not args.trace:
                raise RuntimeError(f"end-to-end metric {m['name']} not measured")
            value = 0  # layer not on this workload's path
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    print(f"workload {args.workload}, seed {args.seed}, local[{run.cores}], "
          f"closed loop, one client")
    for line in run.lines:
        print(line)
    share = run.failed / run.attempted
    print(f"  {'failed_share':28s} {share:12.6f} {'share':6s} (lower is better)")
    # warm_s is printed with the end-to-end metrics but declared per-layer:
    # it is the median warm job, so docs_per_s already gates it
    shown = [m for m in spec["per_layer"] if m["name"] == "warm_s"]
    for m in spec["end_to_end"] + shown:
        if m["name"] in run.metrics:
            print(f"  {m['name']:28s} {run.metrics[m['name']]:12.4f} "
                  f"{m['unit']:6s} ({DIRECTION[m['better']]})")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
