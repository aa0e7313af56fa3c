"""Dedup operators.

``lww_dedup`` is the engine's core semantic aggregation (SURVEY.md
§2.6): per key keep the row with max (ts, seq) — the data-plane
expression of the reference's "checkpoint only the last record in
shard order" discipline (GetKinesisStream.java:283-288).

``salted_lww_dedup`` is the two-phase (salted) variant for skewed
keys — the engine's analogue of the reference's random-partition-key
load spreading (PutKinesisStream.java:264-269): a partial aggregate on
(key, salt) spreads a hot key over ``salt_buckets`` reducers, then a
final cheap aggregate unsalts. Note Spark's hash aggregate already
does map-side partial combine, which bounds per-reducer input to one
row per (key, map-partition); explicit salting matters when upstream
partitioning concentrates a key in few map partitions.

``dedup_exact`` removes byte-identical redelivered events
(at-least-once → effectively-once, GET:281-296).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_winners(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Per key, the row with max ``order_cols`` — the engine's ONE LWW
    winner selection (table merge, merge-on-read reads, compaction and
    migration all call it). One groupBy(key) aggregate of max_by over
    the struct of the other columns, ordered by the struct of
    ``order_cols`` — partial-agg friendly (one-pass, map-side combine),
    unlike a row_number window which needs a full sort per partition.
    Output columns: ``key_cols``, then every other column of ``df`` in
    its original order."""
    others = [c for c in df.columns if c not in key_cols]
    out = df.groupBy(*key_cols).agg(
        F.expr(
            "max_by(struct({o}), struct({k}))".format(
                o=", ".join(others), k=", ".join(order_cols)
            )
        ).alias("_w")
    )
    return out.select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in others])


def lww_dedup(
    df: DataFrame,
    key_cols: list[str] = ("conv_id", "turn_idx"),
    order_cols: list[str] = ("ts", "seq"),
) -> DataFrame:
    """Keep, per key, the event with max (ts, seq): max-ts last-writer
    wins, per-shard sequence breaks ties (north rule)."""
    return lww_winners(df, list(key_cols), list(order_cols))


def salted_lww_dedup(
    df: DataFrame,
    key_cols: list[str] = ("conv_id", "turn_idx"),
    order_cols: list[str] = ("ts", "seq"),
    salt_buckets: int = 8,
) -> DataFrame:
    """Two-phase LWW dedup for hot keys: partial winner per
    (key, salt), then final winner per key. Salt derives from ``seq``
    so it is deterministic and uniform within a key."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(order_cols[-1])), F.lit(salt_buckets))
    )
    partial = lww_winners(salted, list(key_cols) + ["_salt"], list(order_cols))
    return lww_winners(partial.drop("_salt"), list(key_cols), list(order_cols))


def dedup_exact(df: DataFrame, identity_cols: list[str] | None = None) -> DataFrame:
    """Drop exact redelivered duplicates. Identity defaults to the
    event coordinate (shard, seq) — two deliveries of the same stream
    position are the same event (GET:312-313)."""
    identity = identity_cols or ["shard", "seq"]
    return df.dropDuplicates(identity)
