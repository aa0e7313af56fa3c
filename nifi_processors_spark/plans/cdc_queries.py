"""CDC-semantics queries over the driver's ``events`` table.

The driver's parquet tables don't include a change-event stream, so a
deterministic one is DERIVED from ``events`` with pure arithmetic that
both Spark and DuckDB evaluate identically (the two-dialect template
below). Each query then exercises a real engine operator (SURVEY.md §2
numbers cited per query) and has a DuckDB oracle.

All timestamps leave the queries as epoch microseconds (``ts_us``) and
all float aggregates are rounded, so the driver's order-insensitive
value-hash is stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nifi_processors_spark.functions.attributes import (
    enrich_attributes,
    with_error_reason,
)
from nifi_processors_spark.operators.dedup import dedup_exact, lww_dedup
from nifi_processors_spark.plans.catalog import load_tables, render, scratch_dir

#: change-event stream derived from `events` — ≙ FIXTURES.md §2, with
#: op mix ~60/30/10 I/U/D, key-stable shards, per-shard monotone seq
#: (event_id is globally monotone ⇒ monotone within each shard).
CDC_BASE_TPL = """
SELECT
  CASE WHEN event_id % 10 <= 5 THEN 'I'
       WHEN event_id % 10 <= 8 THEN 'U'
       ELSE 'D' END AS op,
  'conv-' || lpad(cast(user_id % 120 AS @STR@), 6, '0') AS conv_id,
  cast(event_id % 16 AS int) AS turn_idx,
  CASE WHEN event_id % 4 = 0 THEN 'user'
       WHEN event_id % 4 = 1 THEN 'assistant'
       WHEN event_id % 4 = 2 THEN 'tool'
       ELSE 'system' END AS role,
  'msg-' || event_id || '-' || event_type AS text,
  CASE WHEN event_id % 3 = 0 THEN 'search'
       WHEN event_id % 7 = 0 THEN 'browser'
       ELSE NULL END AS tool,
  ts,
  event_id AS seq,
  cast(user_id % 8 AS int) AS shard,
  ts AS arrival_ts
FROM events
"""

#: the LWW final state of the derived stream (the oracle for both the
#: operator-level dedup and the full merge-engine replay)
_FINAL_STATE_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
w AS (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, seq DESC) AS rn
  FROM ce
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM w WHERE rn = 1 AND op <> 'D'
"""


def _ce(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["events"])
    return spark.sql(render(CDC_BASE_TPL, "spark"))


def _final_projection(df: DataFrame) -> DataFrame:
    return df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros("ts").alias("ts_us"),
    )


# --------------------------------------------------------------- queries

def cdc_lww_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator §2.6: LWW dedup window — the final table state is, per
    (conv_id, turn_idx), the max-(ts, seq) event; delete winners drop.

    Round 6: exchange on the key FIRST, then aggregate. The driver's
    events parquet is one row group, so a direct groupBy plans its
    partial sort-aggregate into the single-task scan stage (max_by is
    a struct-buffer aggregate → SortAggregate, and the sort of the
    whole stream ran on one core); repartitioning by the group key
    moves the sort behind a parallel exchange and the aggregate keeps
    its clustered distribution with no second shuffle (2.8s → 1.7s at
    sf1 scale). Same rows — the oracle is unchanged."""
    winners = lww_dedup(_ce(spark, sf_dir).repartition("conv_id", "turn_idx"))
    return _final_projection(winners.filter(F.col("op") != "D"))


def cdc_merge_full_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator §2.7 (MERGE INTO): full replay of the derived stream
    through the ACTUAL merge engine — TransactionalTable, 4 incremental
    batches — then read the final committed snapshot. The oracle is the
    same LWW SQL, so this correctness-gates the whole merge path."""
    from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
    from nifi_processors_spark.table import TransactionalTable

    ce = _ce(spark, sf_dir)
    path = os.path.join(scratch_dir("merge-replay-"), "t")
    table = TransactionalTable.create(
        spark, path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=16
    )
    for i in range(4):
        table.merge(ce.filter(F.pmod(F.col("seq"), F.lit(4)) == i), "replay", i)
    return _final_projection(table.read())


def cdc_merge_mor_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 merge-on-read strategy: the same full replay applied as
    delta-append merges (O(batch) writes, zero reads of existing
    data), then MAJOR COMPACTION folding deltas into base files with
    tombstone expiry, then the committed snapshot. Oracle identical to
    the copy-on-write replay — both strategies must converge."""
    from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
    from nifi_processors_spark.table import TransactionalTable

    ce = _ce(spark, sf_dir)
    path = os.path.join(scratch_dir("merge-mor-"), "t")
    table = TransactionalTable.create(
        spark, path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=16,
        merge_strategy="merge-on-read",
    )
    for i in range(4):
        table.merge(ce.filter(F.pmod(F.col("seq"), F.lit(4)) == i), "replay", i)
    table.compact(drop_tombstones=True)
    return _final_projection(table.read())


def cdc_validate_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operators §2.4 R1-R3: success/failure routing. Malformations are
    induced deterministically, then the vectorized validator splits the
    stream; output is the per-relationship count."""
    ce = _ce(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("seq") % 53 == 0, F.lit(None)).otherwise(F.col("text")),
    ).withColumn(
        "op", F.when(F.col("seq") % 97 == 0, F.lit("X")).otherwise(F.col("op"))
    )
    tagged = with_error_reason(ce)
    return (
        tagged.groupBy(F.coalesce("error_reason", F.lit("valid")).alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


CDC_VALIDATE_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
m AS (
  SELECT CASE WHEN seq % 97 = 0 THEN 'X' ELSE op END AS op,
         CASE WHEN seq % 53 = 0 THEN NULL ELSE text END AS text
  FROM ce
),
t AS (
  SELECT CASE
    WHEN op IS NULL THEN 'null_op'
    WHEN op NOT IN ('I','U','D') THEN 'bad_op'
    WHEN op <> 'D' AND text IS NULL THEN 'null_text'
    ELSE 'valid' END AS reason
  FROM m
)
SELECT reason, count(*) AS n FROM t GROUP BY reason
"""


def cdc_lineage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 metrics/lineage: per-shard event counts, seq ranges,
    distinct conversations, and max consumer lag (millisBehindLatest,
    GET:314-315) vs the stream high-water timestamp."""
    ce = _ce(spark, sf_dir)
    # high-water truncated to whole seconds, as integer µs — computed
    # entirely JVM-side (collecting a timestamp would round-trip
    # through the HOST's local timezone and shift on non-UTC machines)
    # and joined in as a broadcast scalar so the whole query is ONE
    # action (no separate driver collect job for the high-water mark).
    hw = ce.agg(
        F.unix_micros(F.date_trunc("second", F.max("ts"))).alias("_hw_us")
    )
    per_shard = ce.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.unix_micros(F.min("arrival_ts")).alias("_min_arr_us"),
    )
    return (
        per_shard.crossJoin(F.broadcast(hw))
        .withColumn("max_lag_ms", F.expr("(_hw_us - _min_arr_us) div 1000"))
        .drop("_hw_us", "_min_arr_us")
    )


CDC_LINEAGE_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')})
SELECT shard,
       count(*) AS n_events,
       min(seq) AS first_seq,
       max(seq) AS last_seq,
       count(DISTINCT conv_id) AS n_convs,
       ((SELECT epoch_us(date_trunc('second', max(ts))) FROM ce)
        - epoch_us(min(arrival_ts))) // 1000 AS max_lag_ms
FROM ce GROUP BY shard
"""


def cdc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 exact dedup of at-least-once redelivery: a deterministic
    20% of events are delivered twice; dedup on the stream coordinate
    (shard, seq) restores effectively-once counts."""
    ce = _ce(spark, sf_dir)
    delivered = ce.unionAll(ce.filter(F.col("seq") % 5 == 0))
    uniq = dedup_exact(delivered)  # (shard, seq) identity
    a = delivered.groupBy("shard").agg(F.count(F.lit(1)).alias("n_delivered"))
    b = uniq.groupBy("shard").agg(F.count(F.lit(1)).alias("n_unique"))
    return a.join(b, "shard")


CDC_DEDUP_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
d AS (SELECT * FROM ce UNION ALL SELECT * FROM ce WHERE seq % 5 = 0)
SELECT shard, count(*) AS n_delivered, count(DISTINCT seq) AS n_unique
FROM d GROUP BY shard
"""


def cdc_hot_key_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 K2 skew detection: hottest conversations by event count
    (what the salting policy keys off). Deterministic tie-break."""
    ce = _ce(spark, sf_dir)
    return (
        ce.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("conv_id"))
        .limit(10)
    )


CDC_HOT_KEY_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')})
SELECT conv_id, count(*) AS n FROM ce GROUP BY conv_id
ORDER BY n DESC, conv_id ASC LIMIT 10
"""

#: §2.2 K2 salting: distribution of the salted shuffle key (md5-based
#: so the oracle can reproduce it; the engine-internal salt uses
#: xxhash64 which stays Spark-side).
CDC_SALT_TPL = """
WITH ce AS ({base}),
s AS (SELECT @MD5INT(cast(seq AS @STR@))@ % 16 AS salt FROM ce)
SELECT salt, count(*) AS n FROM s GROUP BY salt
"""


def cdc_salt_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["events"])
    return spark.sql(
        render(CDC_SALT_TPL, "spark").format(base=render(CDC_BASE_TPL, "spark"))
    )


CDC_SALT_ORACLE = render(CDC_SALT_TPL, "duckdb").format(
    base=render(CDC_BASE_TPL, "duckdb")
)


def cdc_enrich_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 T1 attribute enrichment: the reference's per-record
    metadata (record number within shard, millis-behind) as vectorized
    columns — aggregated per shard for a compact, deterministic check."""
    ce = _ce(spark, sf_dir)
    enriched = enrich_attributes(ce, batch_start_ts="2024-02-01 00:00:00")
    return enriched.groupBy("shard").agg(
        F.max("record_number").alias("max_record_number"),
        F.min("millis_behind").alias("min_lag_ms"),
        F.max("millis_behind").alias("max_lag_ms"),
        F.count(F.lit(1)).alias("n"),
    )


CDC_ENRICH_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
e AS (
  SELECT shard,
         row_number() OVER (PARTITION BY shard ORDER BY seq) - 1 AS record_number,
         (epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(arrival_ts)) // 1000
           AS millis_behind
  FROM ce
)
SELECT shard, max(record_number) AS max_record_number,
       min(millis_behind) AS min_lag_ms, max(millis_behind) AS max_lag_ms,
       count(*) AS n
FROM e GROUP BY shard
"""

#: deterministic PII injection appended to every 7th event's text so
#: the redaction operator provably fires on all three pattern classes
#: Injected PII text, single-sourced: the Spark query F.lit()s these
#: exact Python constants and the oracle SQL embeds them as literals —
#: editing one side cannot drift from the other.
_PII_A = " contact user"
_PII_B = "@example.com or 555-123-4567 card 4111111111111111"
#: second injected class set (URL / IP / SSN / UUID / bearer / IBAN) —
#: exercises the structured-identifier half of the REDACTIONS library
_PII_2 = (
    " see https://ex.com/a?b=c from 10.0.42.7 ssn 123-45-6789 id "
    "123e4567-e89b-42d3-a456-426614174000 auth bearer abcDEF1234._x "
    "acct GB82WEST12345698765432"
)
_PII_SUFFIX = f"'{_PII_A}' || seq || '{_PII_B}'"
_PII_SUFFIX2 = f"'{_PII_2}'"


def cdc_content_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 T4 content rewrite: the ACTUAL vectorized redaction stage
    (functions/rewrite.redact_text — JVM regexp_replace chain, the
    CdcPipeline transform hook) over the derived stream with injected
    PII; output is per-op counts of each redaction class."""
    from nifi_processors_spark.functions.rewrite import redact_text

    ce = _ce(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("seq") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(_PII_A), F.col("seq"), F.lit(_PII_B)
            ),
        )
        .when(
            F.col("seq") % 11 == 0,
            F.concat(F.col("text"), F.lit(_PII_2)),
        )
        .otherwise(F.col("text")),
    )
    red = redact_text(ce)
    mark = lambda token: F.sum(  # noqa: E731
        F.col("text").contains(token).cast("long")
    )
    return red.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        mark("<EMAIL>").alias("n_email"),
        mark("<PHONE>").alias("n_phone"),
        mark("<CARDNUM>").alias("n_card"),
        mark("<URL>").alias("n_url"),
        mark("<IP>").alias("n_ip"),
        mark("<SSN>").alias("n_ssn"),
        mark("<UUID>").alias("n_uuid"),
        mark("<TOKEN>").alias("n_token"),
        mark("<IBAN>").alias("n_iban"),
    )


def _rewrite_oracle() -> str:
    """Oracle built from the SAME REDACTIONS pattern list the operator
    uses (single source of truth); DuckDB needs the 'g' flag for
    replace-all (Spark's regexp_replace is always global)."""
    from nifi_processors_spark.functions.rewrite import REDACTIONS

    expr = "text"
    for pat, repl in REDACTIONS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
m AS (
  SELECT op,
         CASE WHEN seq % 7 = 0
              THEN text || {_PII_SUFFIX}
              WHEN seq % 11 = 0
              THEN text || {_PII_SUFFIX2}
              ELSE text END AS text
  FROM ce
),
r AS (SELECT op, {expr} AS text FROM m)
SELECT op, count(*) AS n,
       cast(sum(CASE WHEN text LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS bigint) AS n_email,
       cast(sum(CASE WHEN text LIKE '%<PHONE>%' THEN 1 ELSE 0 END) AS bigint) AS n_phone,
       cast(sum(CASE WHEN text LIKE '%<CARDNUM>%' THEN 1 ELSE 0 END) AS bigint) AS n_card,
       cast(sum(CASE WHEN text LIKE '%<URL>%' THEN 1 ELSE 0 END) AS bigint) AS n_url,
       cast(sum(CASE WHEN text LIKE '%<IP>%' THEN 1 ELSE 0 END) AS bigint) AS n_ip,
       cast(sum(CASE WHEN text LIKE '%<SSN>%' THEN 1 ELSE 0 END) AS bigint) AS n_ssn,
       cast(sum(CASE WHEN text LIKE '%<UUID>%' THEN 1 ELSE 0 END) AS bigint) AS n_uuid,
       cast(sum(CASE WHEN text LIKE '%<TOKEN>%' THEN 1 ELSE 0 END) AS bigint) AS n_token,
       cast(sum(CASE WHEN text LIKE '%<IBAN>%' THEN 1 ELSE 0 END) AS bigint) AS n_iban
FROM r GROUP BY op
"""


def cdc_tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming windows: the ACTUAL tumbling-window operator
    (streaming/windows.py tumbling_event_stats — watermark + window
    aggregate; watermark is a no-op in bounded mode) applied to the
    derived stream, exported as epoch-micro window bounds."""
    from nifi_processors_spark.streaming.windows import tumbling_event_stats

    w = tumbling_event_stats(_ce(spark, sf_dir), window="1 minute")
    return w.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "shard", "n_events", "first_seq", "last_seq", "n_deletes",
    )


CDC_TUMBLING_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
w AS (
  SELECT (epoch_us(ts) // 60000000) * 60000000 AS ws, *
  FROM ce
)
SELECT ws AS window_start_us, ws + 60000000 AS window_end_us, shard,
       count(*) AS n_events, min(seq) AS first_seq, max(seq) AS last_seq,
       cast(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS bigint) AS n_deletes
FROM w GROUP BY ws, shard
"""


def cdc_session_window_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 session windows: the ACTUAL session-window operator
    (streaming/windows.py conversation_sessions — built-in
    session_window, 30-minute gap) over the derived stream."""
    from nifi_processors_spark.streaming.windows import conversation_sessions

    s = conversation_sessions(_ce(spark, sf_dir), gap="30 minutes")
    return s.select(
        "conv_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_turns", "first_turn", "last_turn",
    )


#: session semantics mirrored as the lag/cumsum pattern: a new session
#: starts when the gap since the previous event exceeds 30 min; the
#: session end is last-event + gap (Spark's session_window contract)
CDC_SESSION_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')}),
x AS (
  SELECT conv_id, turn_idx, ts, seq,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, seq) AS prev
  FROM ce
),
y AS (
  SELECT conv_id, turn_idx, ts, seq,
         CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM x
),
z AS (
  SELECT conv_id, turn_idx, ts,
         sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM y
)
SELECT conv_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800000000 AS session_end_us,
       count(*) AS n_turns,
       min(turn_idx) AS first_turn,
       max(turn_idx) AS last_turn
FROM z GROUP BY conv_id, sid
"""

def cdc_stateful_conv_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (build brief:
    applyInPandasWithState): the derived stream is replayed through a
    REAL multi-micro-batch streaming query (3 segment files, one per
    trigger, so state genuinely crosses batches and checkpoints), the
    per-conversation progress operator maintains explicit group state,
    and the memory-sink updates are reduced to each conversation's
    converged row. Every state field is monotone per key, so the
    oracle is the plain batch aggregate."""
    import glob
    import shutil
    import uuid

    from nifi_processors_spark.streaming.stateful import conversation_progress

    ce = _ce(spark, sf_dir).select("conv_id", "seq", "ts")
    work = scratch_dir("stateful-")
    seg_dir = os.path.join(work, "segments")
    os.makedirs(seg_dir)
    # three disjoint slices → three files → three micro-batches
    for i in range(3):
        part = os.path.join(work, f"slice{i}")
        ce.filter(F.pmod(F.col("seq"), F.lit(3)) == i).coalesce(1).write.parquet(part)
        src = glob.glob(os.path.join(part, "*.parquet"))[0]
        shutil.move(src, os.path.join(seg_dir, f"seg-{i}.parquet"))

    stream = (
        spark.readStream.schema("conv_id string, seq long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(seg_dir)
    )
    name = f"conv_progress_{uuid.uuid4().hex[:8]}"
    q = (
        conversation_progress(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    # per-batch updates → converged row per conversation (fields are
    # monotone, so max over updates = the final state)
    return spark.table(name).groupBy("conv_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_seq").alias("max_seq"),
        F.max("max_ts_us").alias("max_ts_us"),
    )


CDC_STATEFUL_ORACLE = f"""
WITH ce AS ({render(CDC_BASE_TPL, 'duckdb')})
SELECT conv_id, count(*) AS n_events, max(seq) AS max_seq,
       epoch_us(max(ts)) AS max_ts_us
FROM ce GROUP BY conv_id
"""

#: name → (spark_fn, oracle_sql) registry for this module
QUERIES = {
    "cdc_lww_replay": (cdc_lww_replay, _FINAL_STATE_ORACLE),
    "cdc_merge_full_replay": (cdc_merge_full_replay, _FINAL_STATE_ORACLE),
    "cdc_merge_mor_replay": (cdc_merge_mor_replay, _FINAL_STATE_ORACLE),
    "cdc_validate_route": (cdc_validate_route, CDC_VALIDATE_ORACLE),
    "cdc_lineage_stats": (cdc_lineage_stats, CDC_LINEAGE_ORACLE),
    "cdc_dedup_exact": (cdc_dedup_exact, CDC_DEDUP_ORACLE),
    "cdc_hot_key_topn": (cdc_hot_key_topn, CDC_HOT_KEY_ORACLE),
    "cdc_salt_distribution": (cdc_salt_distribution, CDC_SALT_ORACLE),
    "cdc_enrich_attributes": (cdc_enrich_attributes, CDC_ENRICH_ORACLE),
    "cdc_content_rewrite": (cdc_content_rewrite, _rewrite_oracle()),
    "cdc_tumbling_window_stats": (cdc_tumbling_window_stats, CDC_TUMBLING_ORACLE),
    "cdc_session_window_turns": (cdc_session_window_turns, CDC_SESSION_ORACLE),
    "cdc_stateful_conv_progress": (cdc_stateful_conv_progress, CDC_STATEFUL_ORACLE),
}
