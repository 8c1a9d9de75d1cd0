"""Streaming latest-snapshot-wins: the reference's single most
load-bearing transform (S14, reference main.py:149-157 — keep each
key's newest observation) as a TRUE streaming operator.

The batch form is a row_number window over all history
(``events_latest_per_user_type``); re-running it per batch re-reads
everything. This form keeps one winner per (user_id, event_type) in
the state store and updates it as events arrive — O(1) state per key,
O(batch) work per trigger, the incremental shape the reference's
re-run-batch design approximates from the outside.

Tiebreak contract matches the batch window exactly: later ts wins;
equal ts → higher event_id wins (the "9.json" vs "10.json" ordering
fine print generalized, SURVEY.md §2.4 item 1-2). Emission is
update-mode: every batch that touches a key emits that key's current
winner; the last snapshot per key is the final answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """Each key's row with the greatest ``order_cols`` tuple, as one
    native aggregate: ``max(struct(*order_cols, *rest))`` per key,
    unpacked back to columns (keys, order_cols, then the remaining
    columns in input order). Struct comparison is field by field, so
    the order columns decide the winner; they must be unique per key
    for the remaining fields never to break a tie.

    On a stream the max lives in the aggregation state store: O(1)
    state per key, and a redelivered older row can never displace the
    stored winner. In update mode every key present in a micro-batch
    emits its current winner."""
    rest = [c for c in df.columns if c not in keys and c not in order_cols]
    return (
        df.groupBy(*keys)
        .agg(F.max(F.struct(*order_cols, *rest)).alias("_win"))
        .select(*keys, "_win.*")
    )


def latest_wins_stream(events: DataFrame) -> DataFrame:
    """Per-(user, type) newest event maintained across micro-batches."""
    best = latest_by_key(
        events.select("user_id", "event_type", "ts", "event_id", "value"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )
    return best.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "value",
    )
