"""Time-bucketing column expressions.

Spark-native analog of the reference's time-range slicing: the TDengine
reader splits [begin, end) into fixed ``splitInterval`` ranges and issues one
scan per range (plugin/reader/tdenginereader/.../TDengineReader.java:124-141);
InfluxDB2 builds a Flux range()+pivot query
(plugin/reader/influxdb2reader/.../InfluxDB2Reader.java:147-204). Here the
bucket is a pure column expression — Catalyst pushes the derived predicates
down and prunes partitions; no per-range task orchestration is needed.

All bucket math is integer (micros div step) so boundaries are exact and
timezone-independent (session tz pinned UTC; the reference defaults GMT+8 —
core/.../element/ColumnCast.java:91).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tier name -> bucket width in seconds
TIERS: dict[str, int] = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}
# cascade order: each tier is re-aggregable from the previous (60|300|3600|86400)
TIER_ORDER = ["1m", "5m", "1h", "1d"]


def bucket_start(ts: Column | str, tier: str) -> Column:
    """Floor ``ts`` to the start of its `tier` bucket, as a timestamp.

    Exact integer floor-division on epoch micros — no double rounding, no
    timezone dependence. Equivalent to ``date_trunc`` for 1m/1h/1d but also
    handles 5m (and any custom width).
    """
    step = TIERS[tier]
    c = F.col(ts) if isinstance(ts, str) else ts
    # timestamp_ntz -> timestamp is wall-clock identity under the pinned UTC
    # session tz; unix_micros needs LTZ
    c = c.cast("timestamp")
    step_us = step * 1_000_000
    return F.timestamp_seconds(
        (F.unix_micros(c) - F.pmod(F.unix_micros(c), F.lit(step_us))) / F.lit(1_000_000)
    )

