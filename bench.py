"""Per-round benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value" (total seconds), "unit": "sec",
"queries": {name: sec}, "sf", plus merge-apply throughput extras}.

The merge-apply stage (cdc_merge_full_replay) is the BASELINE.json
headline metric — its events/sec is reported separately. The
two-parallelism scaling evidence lives in BENCH/scaling.py →
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nifi_processors_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "cdc_merge_full_replay",
    "cdc_lww_replay",
    "cdc_validate_route",
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_revenue",
    "events_sessionize",
    "doc_dedup_minhash_lsh",
    "doc_simhash",
    "emb_cosine_topk",
    "doc_token_stats",
]


def merge_apply_throughput(
    spark, sf_dir: str, strategy: str = "copy-on-write"
) -> tuple[int, float]:
    """Merge-apply throughput over an ENLARGED derived stream (≥1M
    events at sf0.1): the sf events table is replicated 16× with
    distinct conversation ids and interleaved seqs, written out as a
    binlog (outside timing), then replayed through the transactional
    LWW merge in 2 bulk batches. At 100k source events the flagship
    oracle query is driver-job-latency bound (~5 jobs × ~0.5 s per
    merge); this measurement is large enough to reflect the engine."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nifi_processors_spark.plans.cdc_queries import _ce
    from nifi_processors_spark.schema import (
        KEY_COLS,
        LWW_COLS,
        TRANSCRIPTS_SCHEMA,
    )
    from nifi_processors_spark.table import TransactionalTable

    repl = int(os.environ.get("BENCH_MERGE_REPLICAS", "16"))
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="bench-merge-", dir=base)
    try:
        ce = _ce(spark, sf_dir)
        big = (
            ce.crossJoin(F.broadcast(spark.range(repl).withColumnRenamed("id", "_r")))
            .withColumn("conv_id", F.concat_ws("-", "conv_id", "_r"))
            .withColumn("seq", F.col("seq") * repl + F.col("_r"))
            .withColumn("half", F.pmod(F.col("seq"), F.lit(2)))
            .drop("_r")
        )
        binlog = os.path.join(work, "binlog")
        big.write.partitionBy("half").parquet(binlog)  # outside timing
        batches = [
            spark.read.parquet(os.path.join(binlog, f"half={i}")) for i in range(2)
        ]
        n_events = sum(b.count() for b in batches)

        t0 = time.perf_counter()
        table = TransactionalTable.create(
            spark, os.path.join(work, "t"), TRANSCRIPTS_SCHEMA, KEY_COLS,
            LWW_COLS, n_buckets=64, merge_strategy=strategy,
        )
        for i, b in enumerate(batches):
            table.merge(b, "bench", i)
        if strategy == "merge-on-read":
            # a MOR replay isn't done until readers are scan-only again
            table.compact(drop_tombstones=True)
        dt = time.perf_counter() - t0
        return n_events, round(dt, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpu_control_tasks_per_sec(n_proc: int) -> float:
    """Pure-CPU control (same md5-loop workload as BENCH/scaling.py):
    what THIS host delivers at the bench's parallelism, independent of
    Spark. Recorded in the JSON so every BENCH_r{N} is
    self-interpreting against co-tenant noise — round 4's 298k-vs-430k
    merge reading needed a manual re-run to adjudicate; with the
    control inline, a depressed control explains a depressed wall."""
    import subprocess
    import tempfile

    code = (
        "import hashlib,time,sys\n"
        "from multiprocessing import Pool\n"
        "def w(_):\n"
        "    h=b'x'*64\n"
        "    for _ in range(200000): h=hashlib.md5(h).digest()\n"
        "    return 1\n"
        "if __name__=='__main__':\n"
        "    t0=time.perf_counter()\n"
        "    with Pool(int(sys.argv[1])) as p: p.map(w, range(64))\n"
        "    print(64/(time.perf_counter()-t0))\n"
    )
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(code)
        path = f.name
    try:
        out = subprocess.run(
            [sys.executable, path, str(n_proc)], capture_output=True, text=True
        )
        return round(float(out.stdout.strip()), 1)
    except Exception:
        return -1.0
    finally:
        os.unlink(path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    control_before = cpu_control_tasks_per_sec(cpus)
    spark = get_spark("bench", cores=cpus, shuffle_partitions=max(cpus, 16))

    import __spark_entry__ as entrymod

    # best-of-N per entry: host co-tenant noise swings single runs
    # 2-3× (BENCH/BASELINE.md), so round-over-round comparisons need
    # repeated attempts — best-of is the standard noise floor; the
    # full per-attempt walls are recorded so the spread is visible
    attempts = int(os.environ.get("BENCH_ATTEMPTS", "2"))

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    attempt_walls: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = qs[name]
        walls = []
        for _ in range(attempts):
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            del rows
        attempt_walls[name] = walls
        timings[name] = min(walls)

    # headline total stays the sum of the query suite (comparable
    # round-over-round); the merge-throughput measurements are
    # reported as their own entries + events/sec
    total = round(sum(timings.values()), 3)

    n_merge_events = 0
    attempt_walls["merge_apply_16x"] = []
    for _ in range(attempts):
        n_merge_events, sec = merge_apply_throughput(spark, sf_dir)
        attempt_walls["merge_apply_16x"].append(sec)
    merge_sec = min(attempt_walls["merge_apply_16x"])
    timings["merge_apply_16x"] = merge_sec
    # the write-optimized strategy on the same stream (delta-append
    # merges + major compaction back to scan-only base files)
    attempt_walls["merge_apply_16x_mor"] = []
    for _ in range(attempts):
        _, sec = merge_apply_throughput(spark, sf_dir, strategy="merge-on-read")
        attempt_walls["merge_apply_16x_mor"].append(sec)
    timings["merge_apply_16x_mor"] = min(attempt_walls["merge_apply_16x_mor"])
    control_after = cpu_control_tasks_per_sec(cpus)
    out = {
        "metric": "headline query wall time (sf parquet, local mode)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "attempt_walls": attempt_walls,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "attempts_per_entry": attempts,
        "merge_apply_events": n_merge_events,
        "merge_apply_events_per_sec": round(n_merge_events / merge_sec, 1)
        if merge_sec
        else None,
        # pure-CPU host control bracketing the run (tasks/s, same
        # md5-loop workload as BENCH/scaling.py): a depressed control
        # means co-tenant noise, not an engine regression
        "control_tasks_per_sec": {
            "before": control_before, "after": control_after,
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
