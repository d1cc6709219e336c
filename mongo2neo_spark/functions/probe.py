"""Driver-venue probe: the one shared primitive behind every
size-adaptive execution-venue choice in the engine.

Pattern (used by plans.pipeline's vocabulary probe and by
operators.link.spark_link_components' linked-pair collect): some stage
is a fixed-cost distributed job (Python UDF passes, CC rounds) whose
input is USUALLY tiny — a norm vocabulary, a linked-pair set.  Instead
of paying the fixed cost, run ONE
``LIMIT max+1`` job; if it comes back short we already hold the
complete input and the stage collapses to driver arithmetic over the
same shared functions (bit-identical by construction, parity
test-asserted per call site); if it comes back long, the caller keeps
the distributed path.  The probe itself is bounded: at most ``max_rows
+ 1`` rows ever reach the driver, and Spark plans a CollectLimit — no
full scan, no full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def driver_probe(df: DataFrame, max_rows: int, as_pandas: bool = False):
    """Collect ``df`` iff it has at most ``max_rows`` rows.

    Returns the complete row list (possibly empty) when the frame fits,
    else ``None`` — the caller's signal to stay distributed.  One job
    either way.  ``as_pandas=True`` collects a pandas frame over Arrow
    instead (timestamps naive in the session time zone, which is how
    ``createDataFrame`` reads them back).
    """
    if max_rows <= 0:
        return None
    head = df.limit(max_rows + 1)
    rows = head.toPandas() if as_pandas else head.collect()
    return rows if len(rows) <= max_rows else None
