"""TransactionalTable — a from-scratch snapshot/commit-log lake table.

The target of the CDC pipeline. Iceberg-style semantics implemented
directly on parquet + an atomic JSON commit log (no Iceberg jars exist
in this environment; on a real cluster the merge pipeline would target
Iceberg via the same interface — the semantics below are what
`MERGE INTO ... WHEN MATCHED ...` provides there):

* **Atomic commits**: a snapshot is one JSON manifest under ``_log/``;
  committing is a single ``os.link`` (fails if the version exists —
  optimistic concurrency). Readers only ever see a committed manifest.
* **Bucketed layout**: rows are hash-bucketed by the merge key
  (``_bucket_expr``), and each data file holds the rows of one write
  task: one contiguous bucket range, recorded in the manifest as
  ``min_bucket``/``max_bucket`` (``_span``). A merge touches only the
  files whose span meets a bucket its batch hits — file-level pruning
  that scales with batch key-spread, not table size — and a write emits
  one file per task, not one per bucket.
* **LWW MERGE**: per (conv_id, turn_idx), max (ts, seq) wins; deletes
  are LWW tombstones (kept internally, filtered from public reads) so
  replaying events in ANY order converges to the same state — this is
  what makes the pipeline exactly-once under at-least-once redelivery
  (upgrading the reference's checkpoint-then-commit at-least-once,
  GetKinesisStream.java:281-296).
* **Exactly-once watermarks**: per-source high-water batch ids are
  committed in the same manifest as the data, so "applied" and
  "recorded as applied" are one atomic event (C1 in SURVEY.md §2.5).
* **Schema evolution**: manifest schema is unioned-by-name with each
  batch's schema; old files are read with the new schema (missing
  columns → null) — the FlowFile schema-freedom analogue (GET:256-257).
* **Side files**: per-(batch, shard) lineage rows (≙ provenance receive
  events GET:266-268 + millisBehindLatest GET:314-315) and the batch's
  dead letters (≙ REL_FAILURE, PUT:307-326) are parquet files
  referenced by the same manifest — atomic with the data.

Scale notes (100 TB / 1000 executors): bucket count is a table
property sized so bucket ≈ a few GB; merges shuffle once on the bucket
key with AQE skew splitting; unaffected buckets are never read or
rewritten; manifests hold per-file stats only (O(files), not O(rows)).
Copy-on-write favors read-heavy transcripts; a merge-on-read delta
layout is the documented alternative for update-dominated streams.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation
from pyspark.sql.pandas.types import to_arrow_schema

from nifi_processors_spark.operators.dedup import lww_winners
from nifi_processors_spark.schema import (
    DEAD_LETTER_SCHEMA,
    LINEAGE_SCHEMA,
    SchemaEvolutionError,
    schema_union,
)

INTERNAL_COLS = ["_seq", "_deleted"]
# never payload: the stream envelope (stripped from a batch before its
# payload joins the schema) and the columns every data file stores
_NON_PAYLOAD = frozenset(
    {"op", "seq", "shard", "arrival_ts", "arrival_idx", "_bucket", *INTERNAL_COLS}
)
_TMP_MANIFEST = ".tmp-"  # prefix of a manifest staged in _log/ before its link
# manifest lists of side files: small parquet files outside the bucketed
# layout, staged under lineage/ and folded by compact()
_SIDE_FILES = ("lineage_files", "dead_letter_files")
_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)  # for the driver-side lineage writer
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()  # one raise-and-restore of the threshold at a time
_ROWS_PER_PART = 500_000  # rows one write task aggregates and writes (_write_parts)


class ConcurrentCommitError(RuntimeError):
    pass


def _lww_order(manifest: dict) -> list[str]:
    """LWW ordering columns from the manifest — a table created with
    custom lww_cols merges by ITS order. The stream's `seq` is stored
    as the internal `_seq`; `_seq` is always the final tie-break (total
    order even for identical lww values)."""
    order = [
        ("_seq" if c == "seq" else c) for c in (manifest.get("lww_cols") or ["ts"])
    ]
    if "_seq" not in order:
        order.append("_seq")
    return order


def _schema(manifest: dict, internal: bool = False) -> T.StructType:
    """``manifest``'s table schema; ``internal`` adds the ``_seq`` and
    ``_deleted`` columns every data file carries."""
    s = T.StructType.fromJson(json.loads(manifest["schema"]))
    return s.add("_seq", T.LongType()).add("_deleted", T.BooleanType()) if internal else s


def _bucket_expr(manifest: dict):
    """Stable key→bucket hash of ``manifest``'s table. MUST never
    change for a live table (old files were placed with it). xxhash64
    is Spark-native and JVM-evaluated (whole-stage codegen — no Python
    in this path).

    Buckets hash the FULL merge key by default: a viral conversation's
    turns then spread across all buckets instead of concentrating in
    one — bucket-level skew is solved structurally (the reference's
    random-partition-key load spreading, PutKinesisStream.java:264-269,
    made deterministic). File pruning still works: any batch key hashes
    to exactly one bucket. Callers pass the snapshot they planned from,
    so the hash never follows a newer version's schema."""
    cols = manifest.get("bucket_cols") or ["conv_id", "turn_idx"]
    types = {f.name: f.dataType.typeName() for f in _schema(manifest).fields}
    widened = manifest.get("bucket_hash", "legacy") == "widened"
    exprs = []
    for c in cols:
        e = F.col(c)
        # canonical hash width per chain: int→long / float→double is
        # value-stable, so widening a key column's type never
        # re-buckets existing files
        if widened and types.get(c) in ("byte", "short", "integer", "long"):
            e = e.cast("long")
        elif widened and types.get(c) in ("float", "double"):
            e = e.cast("double")
        exprs.append(e)
    return F.pmod(F.xxhash64(*exprs), F.lit(manifest["n_buckets"])).cast("int")


def _span(f: dict) -> range:
    """The buckets a data file's rows hash into: its manifest entry's
    ``min_bucket``..``max_bucket``. Entries written when each file held
    one bucket (``{"bucket": b}``) span ``[b, b]``."""
    if "bucket" in f:
        return range(f["bucket"], f["bucket"] + 1)
    return range(f["min_bucket"], f["max_bucket"] + 1)


def _clustered(df: DataFrame, n_buckets: int, parts: int) -> DataFrame:
    """``df`` (carrying ``_bucket``) moved over one exchange into
    ``parts`` tasks, each holding one contiguous bucket range: the plain
    column ``_part`` is the task id. An aggregate grouped by
    ``["_part", "_bucket", *keys]`` reuses this partitioning (no second
    exchange); a computed expression given to ``repartitionById`` would
    not be recognised and adds one."""
    return df.withColumn(
        "_part", F.expr(f"CAST(_bucket * {parts} DIV {n_buckets} AS INT)")
    ).repartitionById(parts, "_part")


def _aligned(df: DataFrame, schema: T.StructType) -> list:
    """``df``'s columns cast to ``schema``'s fields, in its order; a
    field ``df`` lacks (an older file, a narrower batch) is a typed
    null. A column already of its field's type is a bare reference:
    each PySpark Column call costs a py4j round trip, and Catalyst
    drops a same-type cast anyway."""
    have = {f.name: f.dataType for f in df.schema.fields}
    return [
        F.col(f.name) if have.get(f.name) == f.dataType
        else (F.col(f.name) if f.name in have else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]


def _column_stats(md, name: str) -> tuple | None:
    """(min, max, null_count) of column ``name`` over every row group
    of a written file's parquet footer (``md``: its FileMetaData) —
    driver-side, a few ms, no Spark job. None when the column is absent
    or a row group has no min/max (an all-null one has none); the null
    count is None when a row group does not record it. At cluster scale
    these stats would be collected executor-side during the write (as
    Iceberg does); the manifest format is the same either way."""
    try:  # an absent column (index) or no row group (min) raises: None
        idx = [md.schema.column(i).path for i in range(md.num_columns)].index(name)
        mins, maxs, nulls = [], [], 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            # parquet writers may TRUNCATE long string stats (the stored
            # max can be a prefix that compares LOWER than real values —
            # unsound for pruning). Keys here are short ids; refuse
            # stats that could be truncated.
            if isinstance(st.max, (str, bytes)) and (len(st.max) >= 60 or len(st.min) >= 60):
                return None
            mins.append(st.min)
            maxs.append(st.max)
            nulls = None if nulls is None or st.null_count is None else nulls + st.null_count
        return min(mins), max(maxs), nulls
    except Exception:
        return None


def _aliased(exprs: dict) -> list:
    """The ``{name: aggregate}`` exprs of an Observation as columns."""
    return [c.alias(n) for n, c in exprs.items()]


def _obs_values(obs, df: DataFrame, exprs: dict) -> dict:
    """The values of ``df.observe(obs, *_aliased(exprs))`` by name.

    Reads the latched row by POSITION. ``Observation.get``
    round-trips the JVM row through ``PythonSQLUtils.toPyRow``, which
    asserts the row carries a schema — in foreachBatch the metrics row
    sometimes arrives as a schema-less GenericRow and that assertion
    fires. All our metrics are ints/longs/nulls, which py4j converts
    natively, so positional access on the JVM row is both safe and
    schema-independent. Blocks until the first action latches.

    The latched row is EMPTY when the first action's result is empty
    (e.g. every row of the batch was filtered out above the
    CollectMetrics node, as in an all-invalid micro-batch); the same
    aggregates are then computed over ``df`` with one direct job."""
    jrow = obs._jo.getRow()
    if jrow.size() == 0:
        return df.agg(*_aliased(exprs)).first().asDict()
    return {name: jrow.get(i) for i, name in enumerate(exprs)}


def _scan(
    spark: SparkSession, paths: list[str], schema: T.StructType, fmt: str = "parquet"
) -> DataFrame:
    """The one scan of files a manifest (or a stream's source log)
    names; it starts no Spark job. The explicit ``schema`` reads
    columns added after a file was written as null; leaf-file paths
    disable partition inference (no stray ``_bucket`` column); no paths
    is an empty frame. Spark's file index lists more paths than the
    session's ``parallelPartitionDiscovery.threshold`` (32) with a job,
    when the DataFrame is built, so the threshold is raised to
    ``len(paths)`` for the build alone."""
    if not paths:
        return spark.createDataFrame([], schema)
    reader = spark.read.schema(schema).format(fmt)
    with _LISTING_LOCK:
        if len(paths) <= int(spark.conf.get(_LISTING_THRESHOLD)):
            return reader.load(paths)
        old = spark.conf.get(_LISTING_THRESHOLD, None)  # None: unset
        spark.conf.set(_LISTING_THRESHOLD, str(len(paths)))
        try:
            return reader.load(paths)
        finally:
            if old is None:
                spark.conf.unset(_LISTING_THRESHOLD)
            else:
                spark.conf.set(_LISTING_THRESHOLD, old)


class TransactionalTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log_dir = os.path.join(path, "_log")

    # ------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        lww_cols: list[str] | None = None,
        n_buckets: int = 32,
        bucket_cols: list[str] | None = None,
        merge_strategy: str = "copy-on-write",
    ) -> "TransactionalTable":
        """Create an empty table (v0 manifest). ``bucket_cols``
        defaults to the full key (skew-proof); pass a prefix (e.g.
        ["conv_id"]) to co-locate conversations instead.

        ``merge_strategy``: ``copy-on-write`` rewrites touched buckets
        per merge (read-optimized — steady state for read-heavy
        transcripts); ``merge-on-read`` appends LWW-deduped DELTA
        files per merge (write-optimized — O(batch) with ZERO reads of
        existing data) and resolves winners at read time; ``compact()``
        is the major compaction folding deltas back into base files."""
        if merge_strategy not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown merge_strategy {merge_strategy!r}")
        lww_cols = lww_cols or ["ts"]
        bucket_cols = bucket_cols or list(key_cols)
        # the stream's `seq` orders LWW as the internal `_seq`
        unknown = {*key_cols, *bucket_cols, *(set(lww_cols) - {"seq"})} - set(schema.names)
        if unknown:
            raise ValueError(f"key/bucket/lww column(s) {sorted(unknown)} not in schema")
        t = cls(spark, path)
        os.makedirs(t._log_dir, exist_ok=True)
        if t.current_version() is not None:
            raise FileExistsError(f"table already exists at {path}")
        manifest = {
            "version": 0,
            "schema": schema.json(),
            "key_cols": key_cols,
            "lww_cols": lww_cols,
            "n_buckets": n_buckets,
            "bucket_cols": bucket_cols,
            # hash integer bucket cols as LONG / floats as DOUBLE from
            # day one (Iceberg's bucket-transform rule): type WIDENING
            # of a key column then never moves keys between buckets
            # (xxhash64 is type-sensitive: hash(int 5) ≠ hash(long 5)).
            # Tables created before this marker keep the legacy raw
            # hash — _bucket_expr must never change for live files.
            "bucket_hash": "widened",
            "merge_strategy": merge_strategy,
            "files": [],
            "lineage_files": [],
            "dead_letter_files": [],
            "watermarks": {},
            "parent": None,
            "stats": {},
        }
        t._commit_manifest(manifest)
        return t

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        t = cls(spark, path)
        return t.current_version() is not None

    # ------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._log_dir, f"v{version:012d}.json")

    def current_version(self) -> int | None:
        if not os.path.isdir(self._log_dir):
            return None
        versions = [
            int(f[1:-5])
            for f in os.listdir(self._log_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no table at {self.path}")
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        """Atomic commit: write tmp, hard-link to the versioned name.
        ``os.link`` raises EEXIST if another writer won the version —
        the caller retries against the new state (optimistic CC).
        The new link is a directory entry: ``_log`` is fsynced after
        it, or a power loss could drop a version readers already saw
        (Pillai et al., OSDI 2014)."""
        tmp = os.path.join(self._log_dir, f"{_TMP_MANIFEST}{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._manifest_path(manifest["version"]))
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {manifest['version']} already committed"
            ) from e
        finally:
            os.unlink(tmp)
        fd = os.open(self._log_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _commit(self, manifest: dict, cleanup: list[str]) -> dict:
        """The one commit path of every writer: publish ``manifest``
        atomically, or on a lost version race remove this attempt's
        staged dirs (``cleanup``, table-relative) and re-raise. Safe:
        staged dirs are uniquely named per attempt (``_staging_rel``),
        so only THIS loser's files are removed, never the winner's."""
        try:
            self._commit_manifest(manifest)
        except ConcurrentCommitError:
            self._discard(cleanup)
            raise
        return {"skipped": False, "version": manifest["version"], **manifest["stats"]}

    def _discard(self, rels: list[str]) -> None:
        for rel in rels:
            shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)

    def _parquet_parts(self, rel: str) -> list[str]:
        """The parquet part files written into the staged dir ``rel``,
        as sorted table-relative paths (manifest entries)."""
        return [
            os.path.join(rel, fn)
            for fn in sorted(os.listdir(os.path.join(self.path, rel)))
            if fn.endswith(".parquet")
        ]

    @staticmethod
    def _staging_rel(sub: str, version: int, kind: str = "commit") -> str:
        """Unique per-attempt dir: two writers racing the same version
        never share a data path (errorifexists is check-then-write, not
        atomic), a writer's os.walk can only see its own files, and a
        loser's cleanup rmtree cannot touch data the winner's committed
        manifest references — the manifest link alone decides the
        winner."""
        return os.path.join(sub, f"{kind}-{version:012d}-{uuid.uuid4().hex[:8]}")

    # --------------------------------------------------------- schema

    def table_schema(self, version: int | None = None) -> T.StructType:
        return _schema(self.manifest(version))

    def watermark(self, source_id: str, version: int | None = None) -> int | None:
        wm = self.manifest(version)["watermarks"].get(source_id)
        return None if wm is None else int(wm)

    # ----------------------------------------------------------- read

    def read(
        self,
        version: int | None = None,
        include_internal: bool = False,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Snapshot read (time travel via ``version``). Public shape
        drops internal columns and tombstones."""
        m = self.manifest(version)
        paths = [os.path.join(self.path, f["path"]) for f in m["files"]]
        df = _scan(self.spark, paths, _schema(m, internal=True))
        # merge-on-read resolution: when delta files exist, a key may
        # appear in several files — take the LWW winner per key (same
        # (lww_cols, _seq) order as the write path) in one shuffle.
        # Base-only snapshots (copy-on-write, or post-compaction) skip
        # this entirely — reads stay scan-only.
        if any(f.get("delta") for f in m["files"]):
            df = lww_winners(df, m["key_cols"], _lww_order(m))
        if not include_deleted:
            df = df.filter(~F.col("_deleted"))
        if not include_internal:
            df = df.drop(*INTERNAL_COLS)
        return df

    def read_raw(
        self, buckets: list[int] | set[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Scan-only snapshot read for INSERT-ONLY tables, optionally
        pruned to a set of bucket ids.

        Skips the merge-on-read LWW resolution shuffle: the caller
        asserts each key was written at most once (true for the
        incremental-dedup index tables, whose rows are immutable —
        merge's per-batch watermark guarantees a redelivered batch
        never lands twice). With ``buckets``, only data files whose
        bucket span meets one of them are read — the LSH index probe
        reads O(touched buckets) of the corpus, not O(corpus). Such a
        file also holds rows of the other buckets in its span: callers
        select their keys from the result."""
        m = self.manifest(version)
        files = m["files"]
        if buckets is not None:
            bset = {int(b) for b in buckets}
            files = [f for f in files if not bset.isdisjoint(_span(f))]
        paths = [os.path.join(self.path, f["path"]) for f in files]
        df = _scan(self.spark, paths, _schema(m, internal=True))
        return df.filter(~F.col("_deleted")).drop(*INTERNAL_COLS)

    def read_lineage(self) -> DataFrame:
        return self._read_side("lineage_files", LINEAGE_SCHEMA)

    def read_dead_letters(self) -> DataFrame:
        """The invalid rows of every committed batch (DEAD_LETTER_SCHEMA)."""
        return self._read_side("dead_letter_files", DEAD_LETTER_SCHEMA)

    def _read_side(self, key: str, schema: T.StructType) -> DataFrame:
        paths = [os.path.join(self.path, p) for p in self.manifest().get(key, [])]
        return _scan(self.spark, paths, schema)

    # ---------------------------------------------------------- merge

    def _write_bucketed(
        self, df: DataFrame, version: int, key_col: str, delta: bool = False
    ) -> tuple[str, list[dict]]:
        """The one bucketed write: ``df`` (carrying ``_bucket``, and the
        ``_part`` of ``_clustered``, which is not stored) lands as one
        parquet file per write task under a fresh staging dir, with
        ``_bucket`` a stored column. Each file becomes a manifest entry
        with its bucket span, row count, leading-key range and tombstone
        flag from ONE footer read; the 0-row file Spark writes for an
        empty frame is dropped.
        Returns (table-relative staging dir, file entries)."""
        commit_rel = self._staging_rel("data", version)
        df.drop("_part").write.mode("errorifexists").parquet(
            os.path.join(self.path, commit_rel)
        )
        entries = []
        for rel in self._parquet_parts(commit_rel):
            abs_p = os.path.join(self.path, rel)
            # read_metadata opens and closes the file per call —
            # ParquetFile would leave the handle to GC
            md = pq.read_metadata(abs_p)
            if md.num_rows == 0:
                os.remove(abs_p)
                continue
            lo, hi, _ = _column_stats(md, "_bucket") or (None, None, None)
            entry = {"path": rel, "min_bucket": lo, "max_bucket": hi, "rows": md.num_rows}
            key = _column_stats(md, key_col)
            # min/max stats EXCLUDE nulls, but the merge's LWW
            # aggregation groups null keys: a file holding a null-key
            # row must never be pruned on its non-null range, or a
            # null-key upsert would insert a second live row for the
            # same key and break LWW convergence
            if key is not None and key[2] == 0:
                entry["min_key"], entry["max_key"] = key[:2]
            if delta:
                entry["delta"] = True
            # whether the file may hold a delete tombstone, so a
            # compact(drop_tombstones=True) skips files that provably
            # hold none; no stats = flag absent = "may hold one". A
            # null _deleted is not a live row under read()'s
            # `~_deleted` filter, so a file holding one is flagged too
            dead = _column_stats(md, "_deleted")
            if dead is not None:
                entry["tombstones"] = dead[2] != 0 or bool(dead[1])
            entries.append(entry)
        return commit_rel, entries

    def _write_parts(self, rows: int, buckets: int) -> int:
        """How many tasks (so files) a write of ``rows`` rows into
        ``buckets`` buckets uses: one wave across every core — a
        trickle batch must not write from one task — or one per
        ``_ROWS_PER_PART`` rows when that is more, capped by the
        buckets (a task holds at least one bucket)."""
        cores = self.spark.sparkContext.defaultParallelism
        return max(1, min(buckets, max(cores, -(-rows // _ROWS_PER_PART))))

    def _resolved(
        self, m: dict, files: list[dict], schema: T.StructType,
        batch: DataFrame | None = None, batch_rows: int = 0, buckets=(),
    ) -> tuple[DataFrame, int]:
        """The one resolve-and-rewrite step of merge, compact and
        migrate: ``files`` of ``m`` scanned and aligned to ``schema``
        (tombstones and internal columns kept), ``_bucket`` stamped from
        ``m``, and unioned with ``batch`` (upsert rows carrying
        ``_bucket``; ``batch_rows`` estimates them, ``buckets`` are the
        buckets it can write); then clustered into ``parts`` write tasks
        — sized by the rows the manifest records (an entry without
        ``rows`` counts as one task's worth) and capped by the buckets
        in play, the batch's and the files' spans — and reduced to the
        LWW winner per key. Clustering by ``_part`` (a contiguous bucket
        range) satisfies the aggregate's clustered-distribution
        requirement (``_part`` and ``_bucket`` lead the group keys, and
        keys never span buckets), so the whole rewrite moves the
        payload over ONE exchange and each task writes one file. AQE
        keeps the explicit partition count (it coalesces only exchanges
        without one). With no batch and no delta file every key is
        already resolved, and the aggregate is skipped.
        Returns (rows to write, parts)."""
        df = batch
        if files or batch is None:
            paths = [os.path.join(self.path, f["path"]) for f in files]
            existing = _scan(self.spark, paths, _schema(m, internal=True))
            existing = existing.select(
                *_aligned(existing, schema), *INTERNAL_COLS
            ).withColumn("_bucket", _bucket_expr(m))
            df = existing if batch is None else batch.unionByName(existing)
        in_play = set(buckets).union(*(_span(f) for f in files))
        rows = batch_rows + sum(f.get("rows", _ROWS_PER_PART) for f in files)
        parts = self._write_parts(rows, len(in_play))
        df = _clustered(df, m["n_buckets"], parts)
        if batch is not None or any(f.get("delta") for f in files):
            df = lww_winners(df, ["_part", "_bucket", *m["key_cols"]], _lww_order(m))
        return df, parts

    @staticmethod
    def footer_row_estimate(df: DataFrame) -> int | None:
        """Exact row count from parquet footers for bare-scan,
        file-backed frames — a few ms on the driver, no Spark job.
        Returns None when the plan filters/expands rows (footer counts
        would overcount) or the inputs aren't parquet."""
        try:
            paths = [
                p[7:] if p.startswith("file://") else p for p in df.inputFiles()
            ]
            if paths and TransactionalTable._is_bare_scan(df):
                # a bulk batch spans hundreds of segment files; footer
                # opens are independent ~ms IO — threaded, the driver-
                # side estimate stays O(ms), not O(files) serial latency.
                # read_metadata (not ParquetFile) closes each file handle
                # per call instead of leaving fd release to GC
                with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
                    return sum(ex.map(lambda p: pq.read_metadata(p).num_rows, paths))
        except Exception:
            pass
        return None

    @staticmethod
    def _is_bare_scan(df: DataFrame) -> bool:
        """True iff the optimized logical plan contains only
        row-count-preserving nodes (scan + projection) — the only case
        where parquet-footer row counts equal the batch's row count."""
        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception:
            return False
        allowed = ("Relation", "Project", "LogicalRDD")
        for line in plan.splitlines():
            node = line.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
            if node and not any(node.startswith(a) for a in allowed):
                return False
        return True

    def merge(
        self,
        batch_df: DataFrame,
        source_id: str,
        batch_id: int,
        lineage_fn=None,
        retries: int = 4,
        backoff_ms: int = 50,
        upper_rows_hint: int | None = None,
    ) -> dict:
        """Apply one micro-batch of change events (op/conv_id/turn_idx/
        payload/ts/seq) with LWW semantics. Idempotent per
        (source_id, batch_id): a redelivered batch is skipped via the
        committed watermark; a replayed-from-scratch stream converges
        anyway because the merge itself is LWW-idempotent.

        ``lineage_fn()`` runs after the data write and before the
        manifest link; it returns ``(lineage rows, dead letters)`` —
        a list of LINEAGE_SCHEMA dicts and a DataFrame written in
        DEAD_LETTER_SCHEMA, either may be None — staged in this attempt and
        committed in the same manifest as the data. Raising aborts the
        commit with nothing made visible.

        A lost commit race is retried against the new table state, up
        to ``retries`` times with exponential backoff from
        ``backoff_ms`` (EngineConfig commit_retries /
        commit_retry_backoff_ms ≙ the reference's retry policy,
        ACP:181-188). Each contended attempt is recorded in the
        committed stats' ``attempt_history`` — the analogue of the
        producer's per-attempt error attributes (PUT:343-364).
        """
        history: list[dict] = []
        while True:
            try:
                return self._merge_once(
                    batch_df, source_id, batch_id, lineage_fn, history,
                    upper_rows_hint,
                )
            except ConcurrentCommitError as e:
                if len(history) == retries:
                    raise
                delay_ms = backoff_ms * 2 ** len(history)
                history.append({
                    "attempt": len(history) + 1,
                    "error": type(e).__name__,
                    "message": str(e),
                    "backoff_ms": delay_ms,
                })
                time.sleep(delay_ms / 1000.0)

    def append(
        self,
        df: DataFrame,
        source_id: str,
        batch_id: int,
        retries: int = 4,
        backoff_ms: int = 50,
    ) -> dict:
        """Insert ``df``'s rows (table columns only, e.g. a quarantine
        table's): a ``merge`` of them as upserts sequenced by
        ``batch_id``, so they are keyed, LWW-resolved and bucketed like
        every other write, and a redelivered (source_id, batch_id) is a
        watermark no-op."""
        return self.merge(
            df.withColumns({"op": F.lit("I"), "seq": F.lit(batch_id).cast("long")}),
            source_id, batch_id, retries=retries, backoff_ms=backoff_ms,
        )

    def _merge_once(
        self, batch_df, source_id, batch_id, lineage_fn, attempt_history,
        upper_rows_hint,
    ):
        m = self.manifest()
        wm = m["watermarks"].get(source_id)
        if wm is not None and batch_id <= int(wm):
            return {"skipped": True, "reason": "watermark", "batch_id": batch_id}

        n_buckets = m["n_buckets"]
        # --- schema evolution: union-by-name with the batch's payload
        batch_payload = T.StructType(
            [f for f in batch_df.schema.fields if f.name not in _NON_PAYLOAD]
        )
        # LOUD reject of retired names (round-5 VERDICT #6): after a
        # rename/drop migration, a producer still emitting the old
        # column name would otherwise be silently re-ADDED as a fresh
        # null-backed column by the union-by-name below — exactly the
        # quiet divergence schema evolution must never allow.
        retired = set(m.get("retired_cols") or [])
        stale = retired & {f.name for f in batch_payload.fields}
        if stale:
            raise SchemaEvolutionError(
                f"batch carries retired column(s) {sorted(stale)}: the "
                "table renamed or dropped them (migrate_rename_column/"
                "migrate_drop_column). Quiesce the producer and restart "
                "it with the current schema, or re-map the stream's "
                "columns before merge."
            )
        new_schema = schema_union(_schema(m), batch_payload)

        # --- normalize batch → upsert rows, counted by an Observation
        # that the merge's first job latches: the exact n_upserts and
        # buckets_touched of every path cost no job of their own (the
        # bucket set is bounded by n_buckets)
        counted = Observation()
        upsert_stats = {
            "n": F.count(F.lit(1)),
            "buckets": F.size(F.collect_set("_bucket")),
        }
        up = batch_df.select(
            *_aligned(batch_df, new_schema),
            F.col("seq").cast("long").alias("_seq"),
            (F.col("op") == F.lit("D")).alias("_deleted"),
        ).withColumn("_bucket", _bucket_expr(m))
        up = up.observe(counted, *_aliased(upsert_stats))

        def observed() -> tuple[int, int]:
            """(n_upserts, buckets_touched)"""
            vals = _obs_values(counted, up, upsert_stats)
            return int(vals["n"]), int(vals["buckets"])

        # --- size the batch WITHOUT a job when possible: the caller's
        # upper_rows_hint (e.g. footer rows of the raw pre-validation
        # stream batch) bounds it from above; without one, parquet
        # footers count a bare-scan, file-backed batch exactly (a
        # filtered view of a big file would overcount, so it gets no
        # estimate; building that answer costs an optimized plan, so
        # a hinted merge never asks). Either picks the bulk path and
        # sizes partitions; no estimate is reported as n_upserts.
        est_rows = upper_rows_hint
        if est_rows is None:
            est_rows = self.footer_row_estimate(batch_df)
        bulk = est_rows is not None and est_rows > 8 * n_buckets * 1000

        strategy = m.get("merge_strategy", "copy-on-write")
        key0 = m["key_cols"][0]
        # the buckets the batch can write → the batch's key range in
        # each (None: prune no file of that bucket). Merge-on-read
        # touches NO file (every existing file is kept, the batch lands
        # as delta files) and a bulk batch hits every bucket, so both
        # skip the size probe.
        probed = strategy == "copy-on-write" and not bulk
        ranges: dict[int, tuple | None] = dict.fromkeys(range(n_buckets))
        if probed:
            # the size probe: one light aggregate yields the touched
            # buckets and each one's key range (intra-bucket file
            # pruning); it latches `counted`, which then sizes the
            # partitions exactly
            ranges = {
                r["_bucket"]: (r["kmin"], r["kmax"])
                # F.min/F.max skip nulls, but the LWW aggregation groups
                # null keys — a bucket whose batch slice holds a null
                # leading key must not prune ANY file
                if r["kmin"] is not None and r["knulls"] == 0 else None
                for r in up.groupBy("_bucket").agg(
                    F.min(key0).alias("kmin"),
                    F.max(key0).alias("kmax"),
                    F.sum(F.isnull(key0).cast("long")).alias("knulls"),
                ).collect()
            }
            est_rows = observed()[0]

        # file-level pruning, two tiers: (1) a file whose bucket span
        # meets no bucket the batch hits is never read or rewritten;
        # (2) a file whose manifest [min_key, max_key] is disjoint from
        # the batch's key range in each bucket it meets cannot contain
        # any batch key (ranges are on the leading key column) — keep
        # it as-is.
        old_files = m["files"]
        touched, kept = [], list(old_files) if strategy == "merge-on-read" else []
        for f in [] if strategy == "merge-on-read" else old_files:
            hit = [ranges[b] for b in _span(f) if b in ranges]
            fmin, fmax = f.get("min_key"), f.get("max_key")
            if not hit or (fmin is not None and all(
                rng is not None and (fmax < rng[0] or fmin > rng[1]) for rng in hit
            )):
                kept.append(f)
            else:
                touched.append(f)

        # --- one formulation: the LWW winner per key over the batch
        # unioned with the touched files (_resolved): batch dedup and
        # merge-vs-existing fuse into ONE aggregation over ONE exchange.
        # Copy-on-write (union-agg) rewrites the touched files;
        # merge-on-read touches none, so it is delta-append
        # (write-optimized): the write alone (2 jobs: its shuffle-map
        # stage and the write) over O(batch) rows, appended as delta
        # files. Readers resolve winners (read()); compact() folds
        # deltas into base.
        version = m["version"] + 1
        merge_path = "delta-append" if strategy == "merge-on-read" else "union-agg"
        out, parts = self._resolved(
            m, touched, new_schema, batch=up, batch_rows=est_rows or 0, buckets=ranges
        )
        commit_rel, new_files = self._write_bucketed(
            out, version, key0, delta=strategy == "merge-on-read"
        )
        # the probe latched the counts; else the write did
        n_up, buckets_touched = observed()

        # --- side files (atomic with the data commit). lineage_fn
        # runs AFTER the data write (so Observation metrics that piggy-
        # backed on the merge's own jobs are latched — zero extra jobs)
        # but BEFORE the manifest commit (atomicity). A lineage_fn that
        # raises (e.g. fail-on-dead-letter) aborts the commit with
        # nothing made visible; this attempt's staged dirs are removed.
        side = {k: list(m.get(k, [])) for k in _SIDE_FILES}
        staged = [commit_rel]
        if lineage_fn is not None:
            lin_rel = self._staging_rel("lineage", version)
            staged.append(lin_rel)
            try:
                rows, dead_letters = lineage_fn()
                # the handful of lineage rows is written with pyarrow
                # on the driver — no Spark job for a few rows
                rel = self._write_lineage_rows(rows, lin_rel)
                if rel is not None:
                    side["lineage_files"].append(rel)
                if dead_letters is not None:
                    # executor-side: an all-invalid bulk batch never
                    # lands on the driver
                    dl_rel = os.path.join(lin_rel, "dead_letter")
                    dead_letters.select(
                        *_aligned(dead_letters, DEAD_LETTER_SCHEMA)
                    ).write.mode("errorifexists").parquet(
                        os.path.join(self.path, dl_rel)
                    )
                    side["dead_letter_files"] += self._parquet_parts(dl_rel)
            except Exception:
                self._discard(staged)
                raise

        watermarks = dict(m["watermarks"])
        watermarks[source_id] = batch_id
        stats = {
            "merge_path": merge_path,
            "n_upserts": n_up,
            "buckets_touched": buckets_touched,
            "files_rewritten": len(touched),
            "files_added": len(new_files),
            "merge_partitions": parts,
            # per-attempt commit-retry history (≙ the producer's
            # flattened attempt attributes, PUT:343-364)
            "commit_attempts": len(attempt_history) + 1,
            "attempt_history": list(attempt_history),
        }
        return self._commit(
            {
                # carry every other manifest key (retired_cols too)
                **m,
                "version": version,
                "schema": new_schema.json(),
                # MUST carry through every commit: files are placed by
                # this hash — losing either key would silently
                # re-bucket the table
                "bucket_cols": m.get("bucket_cols") or ["conv_id", "turn_idx"],
                "bucket_hash": m.get("bucket_hash", "legacy"),
                "merge_strategy": strategy,
                "files": kept + new_files,
                **side,
                "watermarks": watermarks,
                "parent": m["version"],
                "stats": stats,
            },
            staged,
        )

    def _write_lineage_rows(self, rows: list[dict], lin_rel: str) -> str | None:
        """Driver-side parquet write of a handful of lineage rows
        (LINEAGE_SCHEMA-shaped dicts) — Spark's vectorized reader reads
        it back like any executor-written file. Returns the file's
        table-relative path, or None for empty input."""
        if not rows:
            return None
        out_dir = os.path.join(self.path, lin_rel)
        os.makedirs(out_dir, exist_ok=True)
        rel = os.path.join(lin_rel, "part-00000.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [{k: r.get(k) for k in _LINEAGE_ARROW.names} for r in rows],
                schema=_LINEAGE_ARROW,
            ),
            os.path.join(self.path, rel),
        )
        return rel

    # ----------------------------------------------------- maintenance

    def compact(self, drop_tombstones: bool = False) -> dict:
        """Rewrite fragmented buckets so each is held by one base file;
        optionally expire delete tombstones (safe once no replay older
        than the deletes can arrive). The analogue of Iceberg's
        rewrite_data_files.

        The selection is closed: files whose bucket spans overlap,
        directly or through other files, form one group, and a group is
        rewritten whole or not at all — every version of a key lives in
        files spanning its bucket, so rewriting part of a group would
        leave a second base row beside the merge-on-read winner."""
        m = self.manifest()
        groups: list[list[dict]] = []  # files of overlapping spans
        end = -1  # the last bucket of the spans seen so far
        for f in sorted(m["files"], key=lambda f: _span(f).start):
            span = _span(f)
            if span.start > end:  # meets no earlier file's span
                groups.append([])
            groups[-1].append(f)
            end = max(end, span.stop - 1)

        def fragmented(fs: list[dict]) -> bool:
            return (
                # some bucket is held by more than one file: a group's
                # spans cover one contiguous range, so a second file
                # shares a bucket with an earlier one
                len(fs) > 1
                # delta files qualify regardless of count: folding them
                # into base restores scan-only reads
                or any(f.get("delta") for f in fs)
                # tombstone expiry touches only files that may actually
                # hold a tombstone: manifests record a per-file
                # `tombstones` flag from the parquet footer at write
                # time (absent = written before the flag existed =
                # unknown = must rewrite), so an expiry pass never
                # rewrites the whole table for a sliver of deletes
                or (drop_tombstones and any(f.get("tombstones", True) for f in fs))
            )

        frag = [f for fs in groups if fragmented(fs) for f in fs]
        version = m["version"] + 1
        files, staged = m["files"], []
        stats = {"compacted_buckets": len(set().union(*(_span(f) for f in frag)))}
        if frag:
            # a major compaction of merge-on-read deltas resolves LWW
            # winners (_resolved) so the rewritten base files hold
            # exactly one row per key. That MUST happen BEFORE tombstone
            # expiry — dropping tombstones first would resurrect the
            # older rows they shadow.
            df, _ = self._resolved(m, frag, _schema(m))
            if drop_tombstones:
                df = df.filter(~F.col("_deleted"))
            # the footer-derived tombstone flag of each rewritten file
            # is provably false after a drop_tombstones compaction
            commit_rel, new_files = self._write_bucketed(df, version, m["key_cols"][0])
            staged.append(commit_rel)
            rewritten = {f["path"] for f in frag}
            files = [f for f in m["files"] if f["path"] not in rewritten] + new_files
            stats["files_before"] = len(frag)
            stats["files_after"] = len(new_files)
        # fold side files: streaming deployments add one tiny lineage
        # file (and, for a poison batch, dead-letter files) per
        # micro-batch — left alone the manifest's lists (and the file
        # count) grow linearly forever. A copy-on-write stream never
        # fragments a bucket, so its pass is this metadata-only fold.
        folded, side_staged = self._fold_side_files(m, version)
        if not frag and not folded:
            return {"skipped": True, "reason": "nothing to compact"}
        return self._commit(
            {
                **m,
                **folded,
                "version": version,
                "files": files,
                "parent": m["version"],
                "stats": {
                    **stats,
                    "lineage_folded": "lineage_files" in folded,
                    "dead_letters_folded": "dead_letter_files" in folded,
                },
            },
            staged + side_staged,
        )

    def _fold_side_files(self, m: dict, version: int) -> tuple[dict, list[str]]:
        """Fold each side-file list of ``m`` holding more than one file
        into one file. Lineage (a few rows per batch) is concatenated
        with pyarrow on the driver, no Spark job; dead letters can be a
        whole bulk batch, so one executor-side Spark job rewrites them
        and none reaches the driver. Returns the folded manifest lists
        and their table-relative staging dirs; a list whose fold fails
        keeps its originals."""
        folded, staged = {}, []
        for key in _SIDE_FILES:
            srcs = [os.path.join(self.path, rel) for rel in m.get(key, [])]
            if len(srcs) < 2:
                continue
            rel_dir = self._staging_rel("lineage", version, kind="compact")
            out_dir = os.path.join(self.path, rel_dir)
            try:
                if key == "lineage_files":
                    os.makedirs(out_dir)
                    pq.write_table(
                        pa.concat_tables(
                            [pq.read_table(p) for p in srcs], promote_options="default"
                        ),
                        os.path.join(out_dir, "part-00000.parquet"),
                    )
                else:
                    dead = _scan(self.spark, srcs, DEAD_LETTER_SCHEMA)
                    dead.coalesce(1).write.mode("errorifexists").parquet(out_dir)
            except Exception:
                self._discard([rel_dir])
                continue
            folded[key] = self._parquet_parts(rel_dir)
            staged.append(rel_dir)
        return folded, staged

    # ------------------------------------------------ schema migration

    def migrate_rename_column(self, old: str, new: str) -> dict:
        """Rename a column via transactional full rewrite (round-5
        VERDICT #6). Column ADDS evolve in-flight (schema_union);
        renames cannot be expressed without per-field IDs in the file
        format, so this engine takes the explicit-migration route a
        field-ID lake format (Iceberg) would make metadata-only:

        1. quiesce writers (a racing merge loses the version CAS and
           its retry then fails LOUDLY on the retired name — no silent
           null-backed resurrection of the old column);
        2. call this method — one Spark job rewrites every bucket
           under the new schema and commits atomically;
        3. restart producers emitting the new name.

        Bucket-placement invariant: ``_bucket`` is computed from the
        OLD names/schema before the rename touches the rows — hashes
        are over VALUES, so placement is byte-stable (``_bucket_expr``
        must never change for live files). Key/bucket/lww column
        references in the manifest follow the rename."""
        return self._migrate_schema(old, new)

    def migrate_drop_column(self, col: str) -> dict:
        """Drop a column via the same transactional rewrite. Key,
        bucket, and LWW-order columns are structural — dropping them
        is rejected loudly."""
        return self._migrate_schema(col, None)

    def _migrate_schema(self, old: str, new: str | None) -> dict:
        m = self.manifest()
        schema = _schema(m)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise SchemaEvolutionError(f"no such column {old!r}")
        # reserved names: the stream envelope (op/seq/shard/arrival_*)
        # is stripped from batch payloads before merge, so a payload
        # column renamed onto one of those names would silently absorb
        # the envelope value instead of producer data; _bucket is the
        # bucket id every data file stores as a column
        if new is not None and (new in names or new in _NON_PAYLOAD):
            raise SchemaEvolutionError(
                f"column {new!r} already exists or is a reserved name"
            )
        structural = (
            set(m["key_cols"])
            | set(m.get("bucket_cols") or [])
            | set(m.get("lww_cols") or [])
        )
        if new is None and old in structural:
            raise SchemaEvolutionError(
                f"cannot drop structural column {old!r} (key/bucket/lww)"
            )

        # read EVERYTHING (tombstones + internal cols — a migration
        # must not change merge semantics), stamp buckets from the OLD
        # schema, then apply the rename/drop. Un-compacted
        # merge-on-read deltas are LWW-resolved (_resolved; tombstones
        # kept — expiry is compact()'s job), or the rewritten files
        # would hold every key version WITHOUT the delta flag and
        # read()'s LWW-resolution gate (`any(f.get("delta"))`) would
        # stop firing — duplicate key versions and resurrected
        # tombstones on every later read. Resolution runs on the OLD
        # names, before the rename touches any column.
        df, _ = self._resolved(m, m["files"], schema)
        df = df.drop(old) if new is None else df.withColumnRenamed(old, new)

        def _ren(c: str) -> str:
            return new if c == old else c

        new_fields = []
        for f in schema.fields:
            if f.name == old:
                if new is None:
                    continue
                new_fields.append(T.StructField(new, f.dataType, f.nullable))
            else:
                new_fields.append(f)
        new_schema = T.StructType(new_fields)
        key_cols = [_ren(c) for c in m["key_cols"]]
        version = m["version"] + 1
        # migration keeps tombstones (LWW-resolved above for MOR
        # sources) — their footer-derived flag lets a later
        # drop_tombstones compact prune correctly
        commit_rel, new_files = self._write_bucketed(df, version, key_cols[0])
        manifest = {
            **m,
            "version": version,
            "schema": new_schema.json(),
            "key_cols": key_cols,
            "bucket_cols": [_ren(c) for c in (m.get("bucket_cols") or [])],
            "lww_cols": [_ren(c) for c in (m.get("lww_cols") or [])],
            "files": new_files,
            # a rename RETIRES the old name and, crucially, UN-retires
            # the new one: renaming a→b then b→a (or re-introducing a
            # previously dropped name via rename) must leave the live
            # name mergeable again, or the retired-name guard would
            # reject every future batch — permanently bricking writes
            "retired_cols": sorted(
                (set(m.get("retired_cols") or []) | {old}) - {new}
            ),
            "parent": m["version"],
            "stats": {
                "migration": "rename" if new is not None else "drop",
                "column": old,
                **({"renamed_to": new} if new is not None else {}),
                "files_rewritten": len(m["files"]),
            },
        }
        return self._commit(manifest, [commit_rel])

    def expire_snapshots(
        self, keep_last: int = 10, grace_secs: float = 600.0
    ) -> dict:
        """Retention: drop manifest JSONs older than the newest
        ``keep_last`` versions and delete data/lineage files no
        retained manifest references. Bounds on-disk growth for
        fine-grained streaming deployments (1000s of micro-batches);
        time travel remains available within the retained window.

        Concurrency guard (``grace_secs``): an unreferenced file
        younger than the grace window is ALWAYS kept. A concurrent
        writer stages its commit directory (data written, manifest not
        yet linked) before the atomic os.link decides the version —
        those staged files are invisible to every manifest, and
        sweeping them would destroy the in-flight commit. Any file a
        racing writer could still reference is by construction younger
        than its commit attempt, so the age test makes expiry safe to
        run concurrently with merges/appends/compactions; genuinely
        orphaned files (loser attempts whose cleanup died) age out of
        the grace window and are collected on the next pass. Both sweeps
        (files, and temp manifests in ``_log/``) run on every call, also
        when no manifest expires: a killed writer leaves them behind."""
        now = time.time()
        log_names = os.listdir(self._log_dir)
        for fn in log_names:
            if fn.startswith(_TMP_MANIFEST):
                try:
                    tmp = os.path.join(self._log_dir, fn)
                    if now - os.path.getmtime(tmp) >= grace_secs:
                        os.remove(tmp)
                except OSError:
                    pass  # its writer unlinked it under us
        versions = sorted(
            int(f[1:-5])
            for f in log_names
            if f.startswith("v") and f.endswith(".json")
        )
        retained, expired = versions[-keep_last:], versions[:-keep_last]
        referenced: set[str] = set()
        for v in retained:
            mv = self.manifest(v)
            referenced.update(f["path"] for f in mv["files"])
            for key in _SIDE_FILES:
                referenced.update(mv.get(key, []))
        removed_files = skipped_young = 0
        for sub in ("data", "lineage"):
            base = os.path.join(self.path, sub)
            if not os.path.isdir(base):
                continue
            for root, _dirs, files in os.walk(base, topdown=False):
                for fn in files:
                    abs_p = os.path.join(root, fn)
                    if os.path.relpath(abs_p, self.path) in referenced:
                        continue
                    try:
                        age = now - os.path.getmtime(abs_p)
                    except OSError:
                        continue  # already gone (racing writer cleanup)
                    if age < grace_secs:
                        skipped_young += 1
                        continue
                    os.remove(abs_p)
                    removed_files += 1
                # empty-dir cleanup gets the SAME grace-window age test
                # as files: a concurrent writer mkdirs its commit-*/
                # directory before staging the first file into it, and
                # removing that still-empty directory mid-commit would
                # fail the in-flight stage. Old empty dirs (loser
                # attempts) age out and are collected on a later pass.
                try:
                    if (
                        not os.listdir(root)
                        and now - os.path.getmtime(root) >= grace_secs
                    ):
                        os.rmdir(root)
                except OSError:
                    pass  # racing writer created/removed it under us
        for v in expired:
            os.remove(self._manifest_path(v))
        return {
            "skipped": not expired,
            "expired_manifests": len(expired),
            "removed_files": removed_files,
            "skipped_in_grace": skipped_young,
            "retained_versions": retained,
        }
