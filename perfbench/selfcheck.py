"""Fast self-check of the benchmark itself, at tiny sizes.

    python3 perfbench/selfcheck.py

Runs every workload once in one Spark session with tiny inputs and
tracing on, then confirms that (1) the correctness gates pass on the
real output, (2) each gate rejects a deliberately wrong expected state
— final table, point lookups, dead-letter count and source watermark —
and (3) the traced spans nest as the per-layer metrics assume:
``stream.run_once`` ⊃ ``pipeline.apply_batch`` ⊃ ``table.merge`` /
``table.append`` / ``table.compact``, with status-store counters on
every merge. Exits 1 on the first failed check.
"""

from __future__ import annotations

import os
import shutil
import sys
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
import inputs  # noqa: E402
import run as runmod  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from inputs import GateError, Layout  # noqa: E402
from nifi_processors_spark.synth import SynthSpec  # noqa: E402


def tiny_layout(seed: int) -> Layout:
    return Layout(
        SynthSpec(n_conversations=200, turns_per_conv=8, n_shards=4,
                  update_ratio=1.5, hot_key_frac=0.02, seed=seed),
        preload_frac=0.35, preload_segments_per_shard=2,
        tail_segments_per_shard=3, invalid_every=2,
    )


@contextmanager
def patched(obj, attr, value):
    orig = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield orig
    finally:
        setattr(obj, attr, orig)


def must_reject(what: str, fn) -> None:
    try:
        fn()
    except GateError:
        print(f"  ok: gate rejects {what}")
        return
    raise SystemExit(f"FAIL: gate accepted {what}")


def check_gates(wl) -> None:
    wl.check()
    print(f"  ok: gates pass on {wl.name}")

    def wrong_text(events):
        exp = inputs.expected_state(events)
        exp.loc[exp.index[0], "text"] = "wrong"
        return exp

    def missing_row(events):
        return inputs.expected_state(events).iloc[1:]

    with patched(workloads, "expected_state", wrong_text):
        must_reject("a changed turn text", wl.check)
    with patched(workloads, "expected_state", missing_row):
        must_reject("a missing turn", wl.check)
    with patched(workloads, "n_invalid", lambda ev: inputs.n_invalid(ev) + 1):
        must_reject("a wrong dead-letter count", wl.check)
    table = wl.pipe.table
    with patched(table, "watermark", lambda *a, **k: -1):
        must_reject("a wrong source watermark", wl.check)
    conv, n_files, rows = wl.lookups[0]
    wrong = [dict(r, text="wrong") for r in rows] or [
        {"conv_id": conv, "turn_idx": 0, "role": "user", "text": "x", "tool": None, "ts": None}
    ]
    with patched(wl, "lookups", [(conv, n_files, wrong)]):
        must_reject("a wrong point-lookup result", wl.check)


def check_nesting(wl) -> None:
    sp = wl.tracer.spans
    by_id = {s["id"]: s for s in sp}

    def parent(s):
        return by_id[s["parent"]]["name"] if s["parent"] is not None else None

    merges = spans.named(sp, "table.merge")
    assert merges, "no table.merge spans"
    for s in spans.named(sp, "pipeline.apply_batch"):
        assert parent(s) in ("stream.run_once", None), f"apply_batch under {parent(s)}"
    run_once = spans.named(sp, "stream.run_once")
    assert run_once and spans.children(sp, run_once[0], "pipeline.apply_batch")
    for s in merges:
        assert parent(s) == "pipeline.apply_batch", f"merge under {parent(s)}"
        a = s["attrs"]
        assert a.get("jobs", 0) > 0 and a.get("stages", 0) > 0 and a.get("tasks", 0) > 0, a
    for s in spans.named(sp, "table.append"):
        assert parent(s) == "pipeline.apply_batch", f"append under {parent(s)}"
    assert spans.named(sp, "table.append"), "no dead-letter append span"
    if wl.name == "mor_read_mix":
        inner = [s for s in spans.named(sp, "table.compact")
                 if parent(s) == "pipeline.apply_batch"
                 and s["attrs"]["table"] == wl.pipe.table.path]
        assert inner, "maintenance compact did not run inside apply_batch"
    for s in sp:
        if "end" in s and s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s["name"], p["name"])
    layer = spans.layer_metrics(sp, wl.t_measure, wl.pipe.table.path)
    assert layer["table.merge_jobs"][0] > 0 and layer["pipeline.self_s"][0] > 0
    print(f"  ok: span tree nests on {wl.name} ({len(sp)} spans)")


def main() -> int:
    from nifi_processors_spark import session

    work = os.path.join(runmod.WORK, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    runmod._isolate(work)
    spark = jvm = None
    try:
        spark = session.get_spark("perfbench-selfcheck")
        jvm = host.Jvm(spark)
        for name, cls in workloads.WORKLOADS.items():
            print(name)
            tracer = spans.Tracer(f"selfcheck-{name}", traced=True)
            wl = cls(7, os.path.join(work, name), os.path.join(work, "cache"),
                     tracer, jvm.alive, tiny_layout(7))
            wl.prepare()
            spans.install(tracer)
            try:
                tracer.attach(spark)
                wl.setup(spark)
                wl.measure(0)
            finally:
                spans.uninstall(tracer)
            check_gates(wl)
            check_nesting(wl)
    except (AssertionError, SystemExit) as e:
        print(f"FAIL: {e}", file=sys.stderr)
        return 1
    finally:
        if jvm is not None:
            jvm.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("self-check passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
