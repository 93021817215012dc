"""Stream-stream time-interval self-join: contacts across micro-batches.

The batch operator (operators/stjoin.py) finds co-location pairs over
a finished table; a live ping feed needs pairs where the two events
arrive in DIFFERENT micro-batches — which is exactly the workload
Structured Streaming's stream-stream join with event-time bounds
exists for, and the one streaming feature class the incremental ledger
twins (stateless contractions) and sessionize (explicit state) don't
cover. This module closes that gap with the canonical formulation:

- both sides are the SAME file-source stream (a self-join), each with
  an event-time WATERMARK;
- the equi-key is the SPATIAL block only (home cell vs the probe's
  map-side 3x3 neighbor explode — explode is stateless, so it composes
  with streaming); TIME is not a key at all: the ``|dt| <= tau``
  range lives in the join CONDITION, where Spark uses it together with
  the watermarks to bound and expire join state — the temporal
  blocking the batch operator does with a third key coordinate, the
  engine here does with state eviction;
- the exact predicate (integer dist^2 <= eps^2, a < b) rides the same
  join condition, so a pair is emitted exactly once (the probe-side
  a < home-side b argument from stjoin.py, unchanged).

Emission is append-mode: a contact appears when its second event
arrives, exactly once per checkpoint lineage. ``delay`` (the watermark)
is the late-data tolerance knob: state is held for ~delay + tau, so a
ping arriving later than ``delay`` out of order may miss its pair —
the standard streaming-correctness trade, stated here instead of
hidden (the parity pytest uses a generous delay so stream == batch
EXACTLY; production tightens it to bound state).

Columns: (event_id BIGINT, x BIGINT, y BIGINT, ts TIMESTAMP); output
(a, b) event-id pairs. eps is integer fixed-point like stjoin; tau is
seconds of event time.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from core_spark.operators import gridblock as gb


def stream_contacts(
    spark,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    eps: int,
    tau_seconds: int,
    delay: str = "1 hour",
    schema: str = "event_id bigint, x bigint, y bigint, ts timestamp",
    max_files_per_trigger: int = 1,
):
    """Start the streaming contact join; returns the StreamingQuery."""
    e = int(eps)
    w = int(tau_seconds)
    if e <= 0 or w <= 0:
        raise ValueError(
            f"stream_contacts: eps and tau must be > 0, got {eps},"
            f" {tau_seconds}")

    def side():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
            .where("event_id IS NOT NULL AND x IS NOT NULL"
                   " AND y IS NOT NULL AND ts IS NOT NULL")
            .withWatermark("ts", delay)
        )

    probe = gb.neighbours(
        side(), ["event_id AS a", "x AS ax", "y AS ay", "ts AS a_ts"],
        {"_gx": gb.cell("x", e), "_gy": gb.cell("y", e)},
    )
    home = side().selectExpr(
        "event_id AS b", "x AS bx", "y AS by", "ts AS b_ts",
        f"{gb.cell('x', e)} AS _gx", f"{gb.cell('y', e)} AS _gy",
    )
    cond = F.expr(
        "_gx = _gx2 AND _gy = _gy2 AND a < b"
        f" AND (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= {e * e}"
        f" AND b_ts >= a_ts - INTERVAL {w} SECOND"
        f" AND b_ts <= a_ts + INTERVAL {w} SECOND"
    )
    joined = probe.join(
        home.withColumnRenamed("_gx", "_gx2").withColumnRenamed(
            "_gy", "_gy2"),
        cond,
    ).select("a", "b")
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
