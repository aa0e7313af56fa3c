"""Endurance / bounded-resources evidence (round-5 VERDICT #5).

Drives ONE CdcPipeline through many hundreds of micro-batches
(``ENDURANCE_BATCHES`` segment files at max_files_per_trigger=1) with
poison rows in half the segments, then reports whether every resource
the stream touches stayed BOUNDED:

* main-table manifest count + data-file count (maintenance cadence:
  ``maintenance_every_n_batches`` compact+expire passes),
* lineage and dead-letter file counts (folded by compaction),
* driver RSS (sampled throughout — flat, not linear in batches),
* per-batch wall (median of a warmed window vs of the last K — flat,
  not growing),
* metrics record/drop counters.

Run directly (writes BENCH/endurance_r{N}.json) or through
tests/test_round5.py::test_endurance_bounded_metadata (small N).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for ln in f:
            if ln.startswith("VmRSS:"):
                return round(int(ln.split()[1]) / 1024, 1)
    return -1.0


def wall_windows(batch_secs: list[float]) -> tuple[float, float] | None:
    """(median wall of the warmed window, median of the last K) with
    K = max(10, n/10): the warmed window is batches K+1..2K, since the
    first batches of a warm session run faster than its steady state.
    None for fewer than 2K batches (the windows would overlap)."""
    import statistics

    k = max(10, len(batch_secs) // 10)
    if len(batch_secs) < 2 * k:
        return None
    return (statistics.median(batch_secs[k:2 * k]),
            statistics.median(batch_secs[-k:]))


def run_endurance(
    spark,
    work_dir: str,
    n_batches: int = 500,
    maintenance_every: int = 32,
    keep_last: int = 8,
) -> dict:
    import numpy as np
    import pandas as pd

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.streaming.pipeline import CdcPipeline
    from nifi_processors_spark.synth import (
        SynthSpec, generate_events, write_binlog,
    )

    n_shards = 4
    assert n_batches % n_shards == 0
    spec = SynthSpec(
        n_conversations=max(200, n_batches * 4),
        turns_per_conv=5,
        n_shards=n_shards,
        segments_per_shard=n_batches // n_shards,
        seed=7,
    )
    binlog = os.path.join(work_dir, "binlog")
    events = generate_events(spec)
    write_binlog(events, binlog, spec)
    segs = sorted(glob.glob(os.path.join(binlog, "seg-*.parquet")))
    # poison half the segments: one null-conv_id row each → dead
    # letters ride every other commit and maintenance must fold them
    for i, seg in enumerate(segs):
        if i % 2 == 0:
            pdf = pd.read_parquet(seg)
            bad = pdf.iloc[[0]].copy()
            bad["conv_id"] = None
            out = pd.concat([pdf, bad], ignore_index=True)
            for c in ("ts", "arrival_ts"):
                if c in out.columns:
                    out[c] = out[c].astype("datetime64[us]")
            out.to_parquet(seg, index=False)

    cfg = EngineConfig(
        binlog_dir=binlog,
        table_path=os.path.join(work_dir, "table"),
        checkpoint_dir=os.path.join(work_dir, "ckpt"),
        source_id="endurance",
        n_buckets=8,
        max_files_per_trigger=1,  # one segment per micro-batch
        maintenance_every_n_batches=maintenance_every,
        maintenance_keep_last=keep_last,
        metrics_path=os.path.join(work_dir, "metrics.jsonl"),
    )
    pipe = CdcPipeline(spark, cfg)

    rss_samples = [_rss_mb()]
    stop = threading.Event()

    def sampler():
        while not stop.is_set():
            rss_samples.append(_rss_mb())
            time.sleep(2.0)

    t = threading.Thread(target=sampler, daemon=True)
    t.start()
    t0 = time.perf_counter()
    pipe.run_once(timeout_s=3600)
    wall = time.perf_counter() - t0
    stop.set()
    t.join(timeout=5)

    with open(cfg.metrics_path) as f:
        recs = [json.loads(ln) for ln in f]
    batch_secs = [
        r["seconds"] for r in recs
        if r.get("kind") == "batch" and r.get("seconds") is not None
    ]
    windows = wall_windows(batch_secs)
    m_main = pipe.table.manifest()
    log_count = lambda p: len(  # noqa: E731
        [f for f in os.listdir(os.path.join(p, "_log")) if f.startswith("v")]
    )
    report = {
        "n_batches": len(batch_secs),
        "n_events": int(len(events)),
        "wall_sec": round(wall, 1),
        "final_rows": pipe.table.read().count(),
        "main_version": m_main["version"],
        "main_manifests_on_disk": log_count(cfg.table_path),
        "main_data_files": len(m_main["files"]),
        "main_lineage_files": len(m_main.get("lineage_files", [])),
        "main_dead_letter_files": len(m_main.get("dead_letter_files", [])),
        "batch_sec_warm": round(windows[0], 3) if windows else None,
        "batch_sec_last": round(windows[1], 3) if windows else None,
        "rss_mb_start": rss_samples[0],
        "rss_mb_end": rss_samples[-1],
        "rss_mb_max": max(rss_samples),
        "metrics_records": len(recs),
        "metrics_dropped": sum(
            r.get("count", 0) for r in recs if r.get("kind") == "dropped"
        ),
        "maintenance_every": maintenance_every,
        "keep_last": keep_last,
    }
    return report


def main() -> None:
    import shutil
    import tempfile

    from nifi_processors_spark.session import get_spark

    n = int(os.environ.get("ENDURANCE_BATCHES", "500"))
    spark = get_spark("endurance", cores=int(os.environ.get("ENDURANCE_CPUS", "16")),
                      shuffle_partitions=16)
    work = tempfile.mkdtemp(prefix="endurance-")
    try:
        report = run_endurance(spark, work, n_batches=n)
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "endurance_r5.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps(report))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
