"""Seeded benchmark inputs and the oracle gates that check results.

Every binlog comes from ``synth.generate_events`` / ``synth.write_binlog``
and is cached under the work directory, keyed by (layout, spec, seed,
``synth.GEN_VERSION``). Each cache entry records a content hash of the
generated events, so a result can say exactly which input it measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nifi_processors_spark import synth

#: bump when the layout below changes the bytes written for a spec
LAYOUT_VERSION = 1
#: cache entries kept; older ones are evicted (seeds rarely repeat)
CACHE_KEEP = 24

ORACLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class GateError(AssertionError):
    """A correctness gate found the program's output wrong."""


@dataclass(frozen=True)
class Layout:
    """How one workload's generated events are cut into binlog files.

    ``preload_frac``: share of events (arrival order) written as the
    pre-load binlog; the rest becomes the tail. ``tail_segments_per_shard``
    cuts the tail into per-shard segments. ``invalid_every``: every
    that-many-th tail segment gains one row with a null ``conv_id``."""

    spec: synth.SynthSpec
    preload_frac: float = 0.0
    preload_segments_per_shard: int = 1
    tail_segments_per_shard: int = 1
    invalid_every: int = 0


@dataclass
class Binlog:
    """A generated, cached binlog: pre-load files, tail files (in the
    order the benchmark stages them), and the content fingerprint."""

    preload: list[str]
    tail: list[str]
    fingerprint: str
    n_events: int
    gen_s: float
    cache_hit: bool


def _key(layout: Layout) -> str:
    blob = json.dumps(
        {"layout": LAYOUT_VERSION, "gen": synth.GEN_VERSION, **asdict(layout)},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


def _invalid_row(seg: pa.Table) -> pa.Table:
    """One change event that fails validation (null ``conv_id``), shaped
    like the segment it is appended to."""
    last = seg.slice(seg.num_rows - 1, 1).to_pylist()[0]
    last.update(conv_id=None, text="invalid: null conv_id")
    return pa.Table.from_pylist([last], schema=seg.schema)


def _write(events: pd.DataFrame, out_dir: str, spec: synth.SynthSpec,
           per_shard: int, invalid_every: int) -> list[str]:
    if events.empty:
        return []
    paths = synth.write_binlog(events, out_dir, replace(spec, segments_per_shard=per_shard))
    if invalid_every:
        for i, p in enumerate(paths):
            if i % invalid_every == invalid_every - 1:
                seg = pq.read_table(p)
                seg = seg.cast(pa.schema([f.with_nullable(True) for f in seg.schema]))
                pq.write_table(pa.concat_tables([seg, _invalid_row(seg)]), p)
    return paths


def _fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        df = pq.read_table(p).to_pandas()
        h.update(os.path.basename(p).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()[:24]


def binlog(cache_dir: str, layout: Layout) -> Binlog:
    """Generate (or reuse from the cache) the binlog for ``layout``."""
    root = os.path.join(cache_dir, _key(layout))
    meta_path = os.path.join(root, "meta.json")
    t0 = time.perf_counter()
    hit = os.path.exists(meta_path)
    if not hit:
        shutil.rmtree(root, ignore_errors=True)
        tmp = root + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        ev = synth.generate_events(layout.spec)
        cut = int(len(ev) * layout.preload_frac)
        pre = _write(ev.iloc[:cut], os.path.join(tmp, "preload"), layout.spec,
                     layout.preload_segments_per_shard, 0)
        tail = _write(ev.iloc[cut:], os.path.join(tmp, "tail"), layout.spec,
                      layout.tail_segments_per_shard, layout.invalid_every)
        rel = lambda ps: [os.path.relpath(p, tmp) for p in ps]  # noqa: E731
        meta = {
            "layout": asdict(layout),
            "gen_version": synth.GEN_VERSION,
            "preload": rel(pre),
            "tail": rel(tail),  # write_binlog returns arrival order
            "fingerprint": _fingerprint(pre + tail),
            "n_events": sum(pq.read_metadata(p).num_rows for p in pre + tail),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.replace(tmp, root)
        _evict(cache_dir)
    with open(meta_path) as f:
        meta = json.load(f)
    os.utime(meta_path)  # recency for eviction
    ab = lambda ps: [os.path.join(root, p) for p in ps]  # noqa: E731
    return Binlog(
        preload=ab(meta["preload"]), tail=ab(meta["tail"]),
        fingerprint=meta["fingerprint"], n_events=meta["n_events"],
        gen_s=time.perf_counter() - t0, cache_hit=hit,
    )


def _evict(cache_dir: str) -> None:
    entries = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if os.path.exists(os.path.join(cache_dir, d, "meta.json"))
    ]
    entries.sort(key=lambda d: os.path.getmtime(os.path.join(d, "meta.json")))
    for d in entries[:-CACHE_KEEP]:
        shutil.rmtree(d, ignore_errors=True)


def read_events(paths: list[str]) -> pd.DataFrame:
    """The change events in ``paths`` (missing pre-evolution ``tool``
    column → null), as the oracle consumes them; ``_file`` is the
    index of the file each event came from."""
    frames = []
    for i, p in enumerate(paths):
        df = pq.read_table(p).to_pandas()
        if "tool" not in df.columns:
            df["tool"] = None
        df["_file"] = i
        frames.append(df)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def n_invalid(events: pd.DataFrame) -> int:
    return int(events["conv_id"].isna().sum())


def expected_state(events: pd.DataFrame) -> pd.DataFrame:
    """``synth.oracle_apply`` of the valid events."""
    return synth.oracle_apply(events[events["conv_id"].notna()])


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[ORACLE_COLS].copy()
    out["turn_idx"] = out["turn_idx"].astype(np.int64)
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
    out["tool"] = out["tool"].astype(object).where(out["tool"].notna(), None)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def check_state(got: pd.DataFrame, expected: pd.DataFrame, what: str) -> None:
    """Per-turn equality of a table snapshot against the oracle."""
    g, e = _canonical(got), _canonical(expected)
    if len(g) != len(e):
        raise GateError(f"{what}: {len(g)} rows, oracle has {len(e)}")
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False)
    except AssertionError as exc:
        raise GateError(f"{what}: differs from oracle: {exc}") from None


def check_equal(name: str, got, expected) -> None:
    if got != expected:
        raise GateError(f"{name}: got {got!r}, expected {expected!r}")
