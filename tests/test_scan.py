"""Manifest-planned scans: every table scan goes through ``_scan``,
which never lists the manifest's files again with a Spark job (Spark
does so once a scan names more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` = 32 paths)
and leaves the session's threshold as it found it."""

import ast
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import job_ids
from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
from nifi_processors_spark.synth import SynthSpec, generate_events, oracle_apply
from nifi_processors_spark.table import _LISTING_THRESHOLD, TransactionalTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVENTS = generate_events(SynthSpec(n_conversations=60, turns_per_conv=6, seed=5))
N_DEAD = 40  # dead-letter files: one per partition


def mor_table(spark, path, n_dead=N_DEAD):
    """A merge-on-read table of > 32 live files (3 merges, each written
    one file per bucket: 16 × 3) whose first merge also commits
    ``n_dead`` dead-letter files."""
    t = TransactionalTable.create(
        spark, path, TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=16, merge_strategy="merge-on-read",
    )
    dead = spark.range(0, n_dead, 1, max(n_dead, 1)).select(
        F.col("id").cast("string").alias("conv_id"), F.lit("bad").alias("error_reason")
    )
    n = len(EVENTS)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TransactionalTable, "_write_parts", lambda self, rows, buckets: buckets)
        for i in range(3):
            part = EVENTS.iloc[i * n // 3:(i + 1) * n // 3].drop(columns=["arrival_idx"])
            t.merge(
                spark.createDataFrame(part), "s", i,
                lineage_fn=(lambda: (None, dead)) if i == 0 and n_dead else None,
            )
    assert len(t.manifest()["files"]) > 32
    assert len(t.manifest()["dead_letter_files"]) == n_dead
    return t


def assert_matches_oracle(t):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pd.testing.assert_frame_equal(
        t.read().orderBy(*KEY_COLS).toPandas()[cols],
        oracle_apply(EVENTS).reset_index(drop=True), check_dtype=False,
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    return mor_table(spark, str(tmp_path_factory.mktemp("scan") / "t"))


@pytest.mark.parametrize("threshold", [None, "40"])
def test_reads_of_many_files_start_no_job(spark, table, threshold):
    """Building read(), read_raw() and read_dead_letters() over > 32
    files starts no Spark job (Spark's file index would list each with
    one), and the session's threshold reads as before, unset or
    caller-set; the merge-on-read read equals the LWW oracle."""
    if threshold is not None:
        spark.conf.set(_LISTING_THRESHOLD, threshold)
    try:
        for build in (table.read, table.read_raw, table.read_dead_letters):
            with job_ids(spark, f"scan-{build.__name__}-{threshold}") as ids:
                df = build()
            assert ids == [], build.__name__
            assert spark.conf.get(_LISTING_THRESHOLD, None) == threshold
        assert df.count() == N_DEAD
    finally:
        spark.conf.unset(_LISTING_THRESHOLD)
    assert_matches_oracle(table)


def test_compact_starts_no_listing_job(spark, tmp_path):
    """compact() of 48 merge-on-read files runs the rewrite's shuffle
    map stage and its write: 2 jobs. Listing the files added a third."""
    t = mor_table(spark, str(tmp_path / "t"), n_dead=0)
    with job_ids(spark, "scan-compact") as ids:
        r = t.compact()
    cores = spark.sparkContext.defaultParallelism
    assert r["files_before"] == 48 and r["files_after"] == min(16, cores)
    assert len(ids) == 2, sorted(ids)
    assert spark.conf.get(_LISTING_THRESHOLD, None) is None
    assert_matches_oracle(t)


def test_spark_read_only_in_scan():
    """Every table and batch scan is built by ``_scan``: no other
    function of table.py or the pipeline touches ``spark.read``."""
    for rel in ("nifi_processors_spark/table.py", "nifi_processors_spark/streaming/pipeline.py"):
        tree = ast.parse(open(os.path.join(REPO, rel)).read())
        scans = [
            (fn.lineno, fn.end_lineno) for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "_scan"
        ]
        reads = [
            node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "read"
            and ast.unparse(node.value).split(".")[-1] == "spark"
        ]
        assert len(scans) == (1 if rel.endswith("table.py") else 0), rel
        assert all(any(lo <= ln <= hi for lo, hi in scans) for ln in reads), (rel, reads)
