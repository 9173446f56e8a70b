"""Solo steady-state probe: time one or more catalog queries N times in a
fresh process (bench-identical noop action + clearCache between runs), so
first-execution vs steady-state cost is attributable per query — mid-bench
per-query numbers on this box are ±2s noise (see .claude/skills/verify).

  python tools/solo_probe.py sf_dir repeats query [query ...]

Prints per-run wall seconds per query; nothing is persisted.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]
    repeats = int(sys.argv[2])
    names = sys.argv[3:]

    import __spark_entry__ as entrymod
    from stateful_spark_streaming_spark.session import get_spark

    spark = get_spark("solo-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    from bench import prewarm

    prewarm(spark, sf_dir)  # the bench's own pre-warm: tables + worker tiers

    for name in names:
        runs = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"solo:{name}:run{i}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 2))
            spark.catalog.clearCache()
        print(f"SOLO {name}: {runs}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
