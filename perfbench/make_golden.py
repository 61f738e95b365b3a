"""Regenerate golden_screen.json: the lineage counts of every bulk set in
the screen workload's pool (full size and smoke size).

    python3 perfbench/make_golden.py      # from the repository root

The counts are what the engine produced when the benchmark was written;
the screen workload fails any op whose lineage differs from them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"golden-{os.getpid()}")
    run._env(os.getcwd(), work)
    from catlas_spark.session import get_spark

    ctx = run.Context(get_spark("perfbench-golden", cpus=run._usable_cpus()), work)
    golden = {}
    try:
        for sizes in (run.SIZES["screen"], run.SMOKE_SIZES["screen"]):
            wl = workloads.ScreenWorkload(ctx, sizes["n_bulks"], sizes["pool"])
            golden[str(sizes["n_bulks"])] = {
                str(wl.set_seed(k)): wl.warm(k).summary()
                for k in range(sizes["pool"])
            }
            shutil.rmtree(os.path.join(work, "bulks"), ignore_errors=True)
    finally:
        ctx.spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.GOLDEN_SCREEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
