"""Fixed cost of one Python worker stage, measured end to end.

Times chains of 0, 1, 2 and 3 identity ``mapInArrow`` stages over one
cached in-memory input (``ROWS`` rows in ``PARTITIONS`` partitions) on
a ``get_spark`` session, each job written to the ``noop`` sink. Every
chain runs ``REPEATS`` warm jobs after one warm-up; the medians give
the cost of each added stage (the median of the per-stage slopes over
chains 1-3 against chain 0). Kernel time is nil (the stages pass
batches through), so a rise here is a rise of the JVM <-> Python
worker boundary: worker start-up, per-task set-up, Arrow transfer.

Usage (from the repo root):

    python tools/worker_overhead.py

Prints one line per chain and a last JSON line with ``chain_ms`` (the
median job wall per chain length) and ``stage_ms``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = 200_000
PARTITIONS = 8
REPEATS = 7


def _identity(batches):
    yield from batches


def main() -> None:
    from vtzero_spark.engine.session import get_spark

    spark = get_spark("worker_overhead", cores=4, shuffle_partitions=8)
    base = spark.range(ROWS, numPartitions=PARTITIONS).selectExpr(
        "id", "id * 7 % 4096 AS x", "sha2(cast(id AS string), 256) AS s"
    ).cache()
    base.count()

    chain_ms = []
    for k in range(4):
        df = base
        for _ in range(k):
            df = df.mapInArrow(_identity, df.schema)
        walls = []
        for _ in range(REPEATS + 1):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append((time.perf_counter() - t0) * 1e3)
        med = statistics.median(walls[1:])
        chain_ms.append(med)
        print(f"stages={k} median_ms={med:.0f} "
              f"runs_ms={[round(w) for w in walls[1:]]}", flush=True)
    stage_ms = statistics.median(
        (chain_ms[k] - chain_ms[0]) / k for k in range(1, 4))
    print(json.dumps({"rows": ROWS, "partitions": PARTITIONS,
                      "repeats": REPEATS,
                      "chain_ms": [round(m, 1) for m in chain_ms],
                      "stage_ms": round(stage_ms, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
