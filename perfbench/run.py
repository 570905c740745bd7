"""Client-measured benchmark of opentick_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``tick_bulk`` (bulk ingest beside scan-back through the TCP
server, with a crash-durability check) and ``corpus_batch`` (six corpus
operators in-process). Run it from the checkout root; it builds nothing
and writes only under ``.perfbench_run/`` (removed on exit) and
``.perfbench_out/`` (trace spans, and the last untraced result of each
workload, which the traced run's overhead is taken against).

The next-to-last stdout line is the full report: every metric the
workload defines, with unit and sample count, and with ``--trace 1`` the
per-layer breakdown. The last line is the summary the gate reads:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The exit
code is non-zero on any wrong result, failed operation or failed
durability check, and no summary is printed when the run cannot finish.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tick_bulk", "corpus_batch")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # a terminated run still reaps what it started: SystemExit unwinds
    # through the workloads' finally blocks, which kill their children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "opentick_spark")):
        print(f"no opentick_spark/ next to {HERE}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    import importlib

    from perfbench import common

    mod = importlib.import_module(f"perfbench.{a.workload}")
    rd = common.RunDir()
    rss = common.PeakRss()
    try:
        res = mod.run(a.seed, a.seconds, bool(a.trace), rd, rss)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        rd.close()
    if res["attempted"] < 1:
        print("no operation completed in the timed phase", file=sys.stderr)
        return 1
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "metrics": {
            k: dict(zip(("value", "unit", "n", "percentile"), v))
            for k, v in res["report"].items()
        },
    }
    for k in ("errors", "server_errors", "warmup_failed", "durability", "oracle", "rss_at_peak", "layers"):
        if k in res:
            report[k] = res[k]
    print(json.dumps({"report": report}, default=float))
    if a.trace:
        metrics = res["layers"]["summary"]
    else:
        from perfbench.trace import save_untraced

        save_untraced(a.workload, a.seed, res["metrics"])
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in res["metrics"].items()}
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
