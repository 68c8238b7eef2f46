"""Interleaved same-session A/B of the scan-parallelism repair per query
(r12 verdict #7: the 29-query opt-out frontier was measured once, on one
box, via a whole-suite toggle — re-verify the driver-regressed set with
the interleaved protocol that survives this box's 1.5-2× weather).

For each query: builds the plan with the repair ON and OFF (the
module constant ``tables._REPAIR_MAX_BYTES`` toggled between builds —
``load_table`` reads it on every call, so the attribute is the runtime
switch); queries whose ON-plan contains no RoundRobinPartitioning are
reported as "inactive" (nothing to toggle — either registered with
``scan_repair=False`` or repair conditions unmet); the
rest run one warmup pass per variant, then N interleaved
ON,OFF,ON,OFF... consume pairs with bench.py's hash terminal. Medians
and per-pass samples land in the JSON artifact.

Usage: python tools/ab_repair.py [sf_dir] [--rounds N] [--json OUT] q1 q2 ...
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from asyncdatapipeline_spark import registry  # noqa: E402
from asyncdatapipeline_spark.session import get_spark  # noqa: E402
from asyncdatapipeline_spark.sources import tables  # noqa: E402


def consume(df) -> None:
    from pyspark.sql import functions as F

    df.agg(F.max(F.xxhash64(*df.columns))).collect()


def main() -> None:
    argv = sys.argv[1:]
    rounds = 5
    if "--rounds" in argv:
        i = argv.index("--rounds")
        rounds = int(argv[i + 1])
        del argv[i : i + 2]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    names = []
    for a in argv:
        if a.startswith("/") or a.startswith("."):
            sf_dir = a
        else:
            names.append(a)

    spark = get_spark("ab-repair")
    on_bytes = tables._REPAIR_MAX_BYTES
    out: dict[str, dict] = {}
    for name in names:
        fn = registry.get(name).fn
        tables._REPAIR_MAX_BYTES = on_bytes
        plan_on = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        # A lazy localCheckpoint truncates the visible plan at a
        # Scan ExistingRDD, hiding any repair exchange inside the
        # checkpointed subtree — only declare the repair inactive when
        # the WHOLE plan is visible and carries no round-robin.
        if (
            "RoundRobinPartitioning" not in plan_on
            and "ExistingRDD" not in plan_on
        ):
            out[name] = {"active": False}
            print(f"{name:32s} repair inactive (no RoundRobinPartitioning)")
            continue
        samples = {"on": [], "off": []}
        for variant, maxb in (("on", on_bytes), ("off", 0)):
            tables._REPAIR_MAX_BYTES = maxb
            consume(fn(spark, sf_dir))  # warmup per variant
        for _ in range(rounds):
            for variant, maxb in (("on", on_bytes), ("off", 0)):
                tables._REPAIR_MAX_BYTES = maxb
                t0 = time.perf_counter()
                consume(fn(spark, sf_dir))
                samples[variant].append(round(time.perf_counter() - t0, 3))
        med_on = statistics.median(samples["on"])
        med_off = statistics.median(samples["off"])
        out[name] = {
            "active": True,
            "on": samples["on"],
            "off": samples["off"],
            "median_on": med_on,
            "median_off": med_off,
            "off_over_on": round(med_off / med_on, 3) if med_on else None,
        }
        print(
            f"{name:32s} ON {med_on:6.3f}  OFF {med_off:6.3f}"
            f"  off/on {med_off / med_on:5.2f}",
            flush=True,
        )
    tables._REPAIR_MAX_BYTES = on_bytes
    if json_out:
        Path(json_out).write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
