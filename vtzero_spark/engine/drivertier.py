"""The driver tier: one bounded collect and one overlap helper.

Operators finish small inputs on the driver (a Dijkstra, a union-find,
a vectorized greedy sweep) and run distributed past ``SERIAL_ROWS``
rows.  Callers read ``drivertier.SERIAL_ROWS`` at call time, so a test
forces the distributed tier by setting it to 0.  Fail-loud guards (a
census that must stay small) pass their own cap and raise on ``None``.
"""

from __future__ import annotations

import threading
import uuid
from typing import Any, Callable

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import DataFrame

# rows a driver tier may collect: one bound for every tier choice
SERIAL_ROWS = 500_000


def collect_within(df: DataFrame, cap: int) -> pd.DataFrame | None:
    """``df`` as a pandas frame when it has at most ``cap`` rows, else
    ``None`` ("go distributed").  One ``limit(cap + 1)`` Arrow collect
    decides the tier and, in the small tier, already holds the rows."""
    pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def beside(main: Callable[[], Any],
           side: Callable[[], Any]) -> tuple[Any, Any]:
    """``(main(), side())``, ``side`` running on a second driver thread
    (Spark job submission is thread-safe).  When ``main`` raises, the
    side thread's tagged jobs are cancelled and the exception
    re-raises at once; a ``side`` failure re-raises after ``main``."""
    sc = SparkContext.getOrCreate()
    tag = f"vtz-beside-{uuid.uuid4().hex}"
    box: dict = {}

    def run() -> None:
        sc.addJobTag(tag)
        try:
            box["value"] = side()
        except BaseException as e:  # re-raised on the caller's thread
            box["error"] = e
        finally:
            sc.removeJobTag(tag)

    t = threading.Thread(target=run, name=tag, daemon=True)
    t.start()
    try:
        out = main()
    except BaseException:
        # a side job submitted after one cancel would escape it, so
        # cancel again until the side thread ends
        threading.Thread(target=_cancel_until_done, args=(sc, tag, t),
                         daemon=True).start()
        raise
    t.join()
    if "error" in box:
        raise box["error"]
    return out, box["value"]


def _cancel_until_done(sc: SparkContext, tag: str,
                       t: threading.Thread) -> None:
    while t.is_alive():
        sc.cancelJobsWithTag(tag)
        t.join(0.1)
