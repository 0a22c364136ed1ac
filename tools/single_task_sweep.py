"""Find heavy stages running on too few tasks (the AQE-coalesce fan-out trap).

Round-12 postmortem: five of the registry's most expensive specs were
spending 78-98% of their executor time on ONE task. The shared shape:

    small-bytes intermediate (an aggregate, a one-file scan, a distinct)
      -> AQE coalesces its shuffle to 1-2 partitions (it only sees BYTES)
        -> a downstream stage FANS OUT 20-1000x per row
           (pair explosion, blocked self-join, replica explode,
            grouped-map) on those same 1-2 tasks.

AQE cannot see the fan-out coming, so the fix is an explicit
AQE-coalesce-exempt repartition of the tiny input. Two traps to know:

* ``repartition(n, key)`` on a frame ALREADY hash-partitioned by ``key``
  is elided as redundant — use round-robin ``repartition(n)`` there.
* ``applyInPandas`` only requires clustered distribution, so an upstream
  user ``repartition(n, key)`` is reused verbatim (no second exchange)
  and pins the grouped-map parallelism.

This tool runs the top-N most expensive specs (by the committed
LOCAL_ORACLE_sf0.1.json timings) through the noop sink and flags every
stage that did > ``MIN_MS`` of executor work on <= ``MAX_TASKS`` tasks.

Usage: python tools/single_task_sweep.py [top_n] [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import UI_CONF, completed_stages, timed_run, warm_up
from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark
from tools.pin_headliners import _top_measured_names

MAX_TASKS = 2
MIN_MS = 1500


def main() -> None:
    top_n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = _top_measured_names(top_n)
    specs = {s.name: s for s in all_specs()}
    # UI_CONF keeps every stage of a full-registry sweep in the status store.
    spark = get_spark("single-task-sweep", extra_conf=UI_CONF)
    warm_up(spark, sf_dir)

    n_flagged = 0
    for name in names:
        before = set(completed_stages(spark))
        try:
            timed_run(spark, specs[name], sf_dir)
        except Exception as e:  # noqa: BLE001 - report and continue the sweep
            print(f"ERR  {name}: {type(e).__name__}", flush=True)
            continue
        new = [s for sid, s in completed_stages(spark).items() if sid not in before]
        bad = [
            (s["numTasks"], s["executorRunTime"])
            for s in new
            if s["numTasks"] <= MAX_TASKS and s["executorRunTime"] > MIN_MS
        ]
        total = sum(s["executorRunTime"] for s in new) or 1
        if bad:
            tasks, ms = max(bad, key=lambda x: x[1])
            n_flagged += 1
            print(
                f"FLAG {name}: {ms} ms on {tasks} task(s) "
                f"({100 * ms // total}% of {total} ms)",
                flush=True,
            )
        else:
            print(f"ok   {name}", flush=True)
    print(f"\n{n_flagged} flagged / {len(names)} swept")
    spark.stop()


if __name__ == "__main__":
    main()
