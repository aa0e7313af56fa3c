"""CDC ingest benchmark: one workload, one fresh local Spark process.

    python3 perfbench/run.py --workload trickle_cow --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
before any timer starts (and cached under ``.perfbench-work/``); the
engine runs with its own session defaults, except that every scratch
directory is kept inside the run's directory. The last stdout line is the
result, ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The
line before it is the full record (input fingerprint, host, effective
Spark conf, CPU control, sample counts), also written under
``.perfbench-work/out/``; a traced run also writes its spans there.
Exits 1 when a correctness gate fails or an operation fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")


def end_to_end(wl, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (wl.drain[0] / wl.drain[1], "1/s"),
        "batch_p50_s": (statistics.median(wl.batch_walls()), "s"),
        "read_p50_s": (statistics.median(wl.read_walls()), "s"),
    }


def _isolate(run_dir: str) -> None:
    """Keep every scratch file of the run (Python, Spark, JVM temp
    files) inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the engine's own scratch-dir knob: it would otherwise pick
    # /dev/shm on hosts with a large enough tmpfs
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        run_dir, "spark-local"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def run(workload: str, seed: int, seconds: float, traced: bool) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, full record)."""
    import host
    import spans as trace
    from workloads import WORKLOADS, JvmDied

    from nifi_processors_spark import session

    run_id = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    facts = host.facts()
    nproc = facts["nproc"]
    record: dict = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": traced,
        "run_id": run_id, "host": facts,
        "cpu_control_before": host.cpu_control(nproc),
    }
    tracer = trace.Tracer(run_id, traced)
    wl = WORKLOADS[workload](seed, run_dir, os.path.join(WORK, "cache"), tracer,
                             lambda: jvm is None or jvm.alive())
    jvm = spark = None
    correct, error = False, None
    try:
        log = wl.prepare()
        record["inputs"] = {
            "fingerprint": log.fingerprint, "events": log.n_events,
            "gen_s": log.gen_s, "cache_hit": log.cache_hit,
        }
        trace.install(tracer)
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        jvm = host.Jvm(spark)
        tracer.attach(spark)
        record["spark_conf"] = host.spark_conf(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        cpu0 = host.cpu_times()
        wl.measure(seconds)
        record["steal_share"] = host.steal_share(cpu0, host.cpu_times())
        record["observed"] = {
            "catchup_events_per_s": wl.catchup[0] / wl.catchup[1],
            "peak_rss_mb": jvm.sample(),
        }
        wl.check()
        correct = True
    except JvmDied:
        error = "driver JVM exited"
        wl.failed += wl.remaining()
        wl.attempted += wl.remaining()
    except Exception as e:  # a failed operation or gate ends the run
        error = f"{type(e).__name__}: {e}"
        traceback.print_exc()
    finally:
        if jvm is not None:
            jvm.stop(spark)
        trace.uninstall(tracer)
    shutil.rmtree(run_dir, ignore_errors=True)
    record["cpu_control_after"] = host.cpu_control(nproc)
    record.update(error=error, op_failure_ratio=wl.failed / max(wl.attempted, 1), samples={
        "batch_s": wl.batch_walls(), "read_s": wl.read_walls(),
        "hot_read_s": wl.read_walls("op.hot_lookup"), "scan_s": wl.read_walls("op.scan"),
        "tail_segments": wl.applied, "catchup": wl.catchup, "drain": wl.drain,
    })
    metrics = {}
    if correct:
        e2e = end_to_end(wl, setup_s)
        record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        if traced:
            metrics = trace.layer_metrics(tracer.spans, wl.t_measure, wl.pipe.table.path)
            out = os.path.join(WORK, "out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{run_id}.json"))
        else:
            metrics = e2e
    result = {
        "correct": correct,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["result"] = result
    return result, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nifi_processors_spark", "__init__.py")):
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"record-{record['run_id']}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench-record " + json.dumps(record))
    print(json.dumps(result))
    ok = result["correct"] and not result["failed"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
