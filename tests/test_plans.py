"""Plan-quality assertions: pushdown, pruning, broadcast, codegen —
the 'would this survive 100×' checks."""

from pyspark.sql import functions as F

from conftest import job_ids
from nifi_processors_spark.plans.explain import (
    codegen_stages,
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_extendedprice").filter(
        F.col("l_shipdate") < "1996-01-01"
    )
    assert any("l_shipdate" in f for f in pushed_filters(q))
    # column pruning: the scan must not read all 11 columns
    schemas = read_schemas(q)
    assert schemas and all(len(s.split(",")) <= 3 for s in schemas)


def test_small_dim_join_goes_broadcast(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    q = li.join(supp, li.l_suppkey == supp.s_suppkey).groupBy("s_name").count()
    assert has_broadcast_join(q)


def test_q5_join_chain_broadcasts_dims(spark):
    from nifi_processors_spark.plans.sql_queries import QUERIES

    q = QUERIES["q5_region_revenue"][0](spark, SF)
    # region/nation/supplier/customer are all broadcastable dims
    assert has_broadcast_join(q)
    assert codegen_stages(q) >= 1


def test_lww_dedup_is_single_shuffle_partial_agg(spark):
    from nifi_processors_spark.operators.dedup import lww_dedup
    from nifi_processors_spark.plans.cdc_queries import _ce

    winners = lww_dedup(_ce(spark, SF))
    # one exchange for the agg; no window sort in the plan
    plan = str(winners._jdf.queryExecution().executedPlan())
    assert count_exchanges(winners) == 1
    assert "Window" not in plan
    # partial aggregation (map-side combine) present
    assert "partial_max_by" in plan or "HashAggregate" in plan


def test_cow_merge_job_budget(spark, tmp_path):
    """A small copy-on-write merge into a populated table runs the size
    probe and ONE aggregation over ONE exchange, then the write: at most
    4 Spark jobs (with AQE, each shuffle map stage is its own job),
    counted from the status tracker on the real merge."""
    from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
    from nifi_processors_spark.synth import SynthSpec, generate_events
    from nifi_processors_spark.table import TransactionalTable

    ev = generate_events(SynthSpec(n_conversations=50, turns_per_conv=4, seed=3))
    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS, n_buckets=4
    )
    t.merge(spark.createDataFrame(ev.drop(columns=["arrival_idx"])), "s", 0)
    batch = spark.createDataFrame(ev.tail(3).drop(columns=["arrival_idx"]))
    with job_ids(spark, "test-cow-merge-job-budget") as jobs:
        r = t.merge(batch, "s", 1)
    assert 0 < len(jobs) <= 4, sorted(jobs)
    assert r["merge_path"] == "union-agg" and r["files_rewritten"] > 0


def test_ivf_probe_join_is_broadcast_not_cartesian(spark):
    """IVF ANN: the probe side (tiny query set) must broadcast into the
    per-cell join — never a cartesian product of all vectors."""
    from nifi_processors_spark.plans.sql_queries import QUERIES

    q = QUERIES["emb_ivf_ann_topk"][0](spark, SF)
    plan = str(q._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(q)


def test_minhash_band_join_has_no_cartesian_and_caps_buckets(spark):
    """Banded LSH candidate generation: equi-join on the band key (no
    cross join), and the hot-bucket cap's rank filter is in the plan."""
    from nifi_processors_spark.plans.sql_queries import QUERIES

    q = QUERIES["doc_dedup_minhash_lsh"][0](spark, SF)
    plan = str(q._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert "row_number" in plan  # the band-bucket cap window


def test_mor_delta_append_writes_without_reading_existing(spark, tmp_path):
    """merge-on-read: the delta-append merge plan contains ONE exchange
    (the bucket clustering) and never scans the table's own files."""
    import pandas as pd

    from nifi_processors_spark.schema import KEY_COLS, LWW_COLS, TRANSCRIPTS_SCHEMA
    from nifi_processors_spark.synth import SynthSpec, generate_events
    from nifi_processors_spark.table import TransactionalTable

    ev = generate_events(SynthSpec(n_conversations=50, turns_per_conv=4, seed=4))
    t = TransactionalTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, KEY_COLS, LWW_COLS,
        n_buckets=4, merge_strategy="merge-on-read",
    )
    t.merge(spark.createDataFrame(ev.drop(columns=["arrival_idx"])), "s", 0)
    first_files = {f["path"] for f in t.manifest()["files"]}
    r = t.merge(
        spark.createDataFrame(ev.tail(5).drop(columns=["arrival_idx"])), "s", 1
    )
    assert r["merge_path"] == "delta-append" and r["files_rewritten"] == 0
    # all first-commit files survive untouched
    assert first_files <= {f["path"] for f in t.manifest()["files"]}


def test_replay_query_leaves_no_temp_tables(tmp_path):
    """The replay queries build temp tables under one per-process
    scratch root that is removed at exit: a process running
    cdc_merge_full_replay leaves no nps-* dir in its TMPDIR."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import glob, os, sys
sys.path.insert(0, {repo!r})
from nifi_processors_spark.plans.cdc_queries import cdc_merge_full_replay
from nifi_processors_spark.session import get_spark
spark = get_spark("nps-leak-check", cores=2, shuffle_partitions=2)
assert cdc_merge_full_replay(spark, {SF!r}).count() > 0
print("LIVE", len(glob.glob(os.path.join({str(tmp_path)!r}, "nps-*"))))
"""
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "LIVE 1" in out.stdout  # the run did use the scratch root
    assert not list(tmp_path.glob("nps-*"))
