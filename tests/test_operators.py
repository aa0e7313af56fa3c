"""Operator unit tests: LWW dedup (plain + salted), exact dedup,
validation, enrichment, and the merge paths."""

import pandas as pd

from nifi_processors_spark.functions.attributes import enrich_attributes, validate_events
from nifi_processors_spark.operators.dedup import dedup_exact, lww_dedup, salted_lww_dedup
from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.synth import SynthSpec, generate_events, oracle_apply
from nifi_processors_spark.table import TransactionalTable

SPEC = SynthSpec(n_conversations=40, turns_per_conv=5, n_shards=3,
                 hot_key_frac=0.5, seed=33)


def sdf(spark, pdf):
    return spark.createDataFrame(pdf.drop(columns=["arrival_idx"], errors="ignore"))


def winners_pd(spark_df):
    return (
        spark_df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "text"]]
    )


def expected_winners(ev):
    w = ev.sort_values(["ts", "seq"]).drop_duplicates(["conv_id", "turn_idx"], keep="last")
    return w.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
        ["conv_id", "turn_idx", "text"]
    ]


def test_lww_dedup_matches_pandas(spark):
    ev = generate_events(SPEC)
    got = winners_pd(lww_dedup(sdf(spark, ev)))
    pd.testing.assert_frame_equal(got, expected_winners(ev), check_dtype=False)


def test_salted_lww_dedup_same_result_as_plain(spark):
    # salting must be a pure physical rewrite: identical winners
    ev = generate_events(SPEC)
    plain = winners_pd(lww_dedup(sdf(spark, ev)))
    salted = winners_pd(salted_lww_dedup(sdf(spark, ev), salt_buckets=16))
    pd.testing.assert_frame_equal(plain, salted)


def test_dedup_exact_removes_redelivery(spark):
    ev = generate_events(SPEC)
    df = sdf(spark, ev)
    out = dedup_exact(df)
    assert out.count() == len(ev.drop_duplicates(["shard", "seq"]))


def test_validate_events_split(spark):
    ev = generate_events(SPEC).head(10).copy()
    ev.loc[ev.index[0], "text"] = None  # on op I/U → invalid
    ev.loc[ev.index[0], "op"] = "I"
    ev.loc[ev.index[1], "op"] = "Z"
    valid, invalid = validate_events(sdf(spark, ev))
    inv = invalid.toPandas()
    assert valid.count() == 8
    assert sorted(inv["error_reason"]) == ["bad_op", "null_text"]
    # a delete with null text is VALID (payload-free op)
    ev2 = ev.head(1).copy()
    ev2["op"], ev2["text"] = "D", None
    v2, i2 = validate_events(sdf(spark, ev2))
    assert v2.count() == 1 and i2.count() == 0


def test_enrich_attributes(spark):
    ev = generate_events(SPEC).head(50)
    out = enrich_attributes(sdf(spark, ev), batch_start_ts="2024-06-01 00:00:00").toPandas()
    assert {"batch_start_ts", "millis_behind", "record_number"} <= set(out.columns)
    # record_number is a 0-based dense ordinal per shard in seq order
    for _, g in out.groupby("shard"):
        g = g.sort_values("seq")
        assert list(g["record_number"]) == list(range(len(g)))
    assert (out["millis_behind"] > 0).all()  # batch start after arrivals


def test_merge_path_selection_small_vs_large(spark, tmp_path):
    """Copy-on-write has ONE formulation: the first merge into an empty
    table and a 5-row update into the populated table both run
    union-agg."""
    ev = generate_events(SPEC)
    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=4
    )
    r0 = t.merge(sdf(spark, ev), "s", 0)  # empty table
    assert r0["merge_path"] == "union-agg"
    small = ev.tail(5).copy()
    small["ts"] = small["ts"] + pd.Timedelta(days=365)
    small["text"] = "rewritten"
    small["op"] = "U"
    r1 = t.merge(sdf(spark, small), "s", 1)
    assert r1["merge_path"] == "union-agg" and r1["files_rewritten"] > 0
    # a redelivery under a new batch id is an LWW no-op: every key
    # unique, the 5 rewritten rows present
    r2 = t.merge(sdf(spark, small), "s", 2)
    assert r2["merge_path"] == "union-agg"
    out = t.read().toPandas()
    assert not out.duplicated(["conv_id", "turn_idx"]).any()
    assert (out["text"] == "rewritten").sum() == len(
        small.drop_duplicates(["conv_id", "turn_idx"])
    )


def test_merge_paths_agree_end_state(spark, tmp_path):
    """One bulk batch and two incremental batches converge to the
    same state, equal to the oracle."""
    ev = generate_events(SPEC)
    n = len(ev)
    final = {}
    for name, splits in [("bulk", [(0, n)]), ("cow", [(0, n // 2), (n // 2, n)])]:
        t = TransactionalTable.create(
            spark, str(tmp_path / name), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=4
        )
        for i, (lo, hi) in enumerate(splits):
            t.merge(sdf(spark, ev.iloc[lo:hi]), "s", i)
        final[name] = (
            t.read().orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(final["cow"], final["bulk"])
    exp = oracle_apply(ev).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        final["cow"][["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
        exp,
        check_dtype=False,
    )
