"""Incremental MinHash/LSH near-duplicate detection for the ingest
path.

The batch dedup operators (plans/sql_queries: ``doc_dedup_minhash_*``)
recompute signatures over the WHOLE corpus per invocation — fine for a
one-shot audit, not for a 100 TB training-data pipeline where a
micro-batch of arriving documents must be deduplicated against
everything already ingested. This module maintains the LSH state the
same way the CDC engine maintains offsets: as transactional tables
updated exactly-once per micro-batch (≙ the reference's C1-C4
incremental checkpoint state, AbstractKinesisConsumerProcessor
.java:281-296, applied to content instead of positions).

Three insert-only ``TransactionalTable``s (merge-on-read: per-batch
delta appends are O(batch) with zero reads of existing data):

* ``bands``    (bk, doc_id, batch_id)  bucketed by bk  — the band →
  bucket index an arriving batch probes with a capped equi-join.
* ``shingles`` (doc_id, h, batch_id)   bucketed by doc_id — shingle
  ids for exact-Jaccard verification of candidate pairs.
* ``docs``     (doc_id, n, batch_id)   bucketed by doc_id — shingle
  counts (the union-size term of Jaccard).

Per-batch cost is O(batch + touched buckets), NOT O(corpus):

* signatures are computed for the arriving docs only (the whole-corpus
  recompute is what this module exists to avoid);
* the probe reads the index through ``TransactionalTable.read_raw``
  with bucket pruning — only data files whose bucket id appears in the
  batch's own band keys / candidate doc ids are opened;
* candidate pairs are bounded by the hot-bucket cap (cap² per bucket),
  exactly the batch operators' 100 TB guard.

Replay semantics match the engine's: each table's (source_id,
batch_id) watermark makes redelivered batches no-ops, and ``ingest``
derives its cap decisions and probe results ONLY from rows with
``batch_id < current`` — so a crash between commit and emit reproduces
the identical pair set on redelivery.

Equivalence contract (driver-gated): replaying batches 0..K-1 yields
exactly the pairs of the batch-recompute SQL with bucket-cap ranking
and pair ordering by ARRIVAL key (batch_id, doc_id) — see
``doc_dedup_minhash_incremental`` in plans/sql_queries.py and its
DuckDB oracle.
"""

from __future__ import annotations

import json
import logging
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from nifi_processors_spark.table import TransactionalTable, _bucket_expr

log = logging.getLogger(__name__)

BANDS_SCHEMA = T.StructType(
    [
        T.StructField("bk", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
    ]
)

SHINGLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("h", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
    ]
)

#: durable near-dup flag stream (start_stream's optional sink)
PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("doc_a", T.LongType(), False),
        T.StructField("doc_b", T.LongType(), False),
        T.StructField("jaccard", T.DoubleType(), True),
        T.StructField("batch_id", T.LongType(), False),
    ]
)

#: the three (band-pair) projections of the 6-hash signature — MUST
#: stay in lockstep with MH_REST_TPL's bands_raw (plans/sql_queries)
_BAND_PAIRS = (("m0", "m1"), ("m2", "m3"), ("m4", "m5"))


class MinHashLshIndex:
    """Persistent banded-MinHash index with capped probe-on-ingest."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "index.json")) as f:
            meta = json.load(f)
        self.cap = int(meta["cap"])
        self.n_buckets = int(meta["n_buckets"])
        self.bands = TransactionalTable(spark, os.path.join(path, "bands"))
        self.shingles = TransactionalTable(spark, os.path.join(path, "shingles"))
        self.docs = TransactionalTable(spark, os.path.join(path, "docs"))
        self._pins: list[DataFrame] = []      # per-ingest intermediates
        self._result_pins: list[DataFrame] = []  # returned pair DataFrames
        # per-instance view tag; ingest suffixes it PER BATCH (round-5
        # ADVICE: reusing one view name meant a returned pairs
        # DataFrame whose cache was evicted could in principle
        # recompute against a view re-pointed at a LATER batch — each
        # batch's views are now immutable once created). Stale batch
        # views are dropped on the next ingest's _release, so the
        # catalog holds at most one batch's views per index.
        self._tag = f"mh_inc_{uuid.uuid4().hex[:8]}"
        self._views: list[tuple[SparkSession, str]] = []

    # ------------------------------------------------------------- DDL

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, cap: int = 64,
        n_buckets: int = 16,
    ) -> "MinHashLshIndex":
        os.makedirs(path, exist_ok=True)
        meta_p = os.path.join(path, "index.json")
        if os.path.exists(meta_p):
            raise FileExistsError(f"index already exists at {path}")
        TransactionalTable.create(
            spark, os.path.join(path, "bands"), BANDS_SCHEMA,
            key_cols=["bk", "doc_id"], lww_cols=["batch_id"],
            n_buckets=n_buckets, bucket_cols=["bk"],
            merge_strategy="merge-on-read",
        )
        TransactionalTable.create(
            spark, os.path.join(path, "shingles"), SHINGLES_SCHEMA,
            key_cols=["doc_id", "h"], lww_cols=["batch_id"],
            n_buckets=n_buckets, bucket_cols=["doc_id"],
            merge_strategy="merge-on-read",
        )
        TransactionalTable.create(
            spark, os.path.join(path, "docs"), DOCS_SCHEMA,
            key_cols=["doc_id"], lww_cols=["batch_id"],
            n_buckets=n_buckets, bucket_cols=["doc_id"],
            merge_strategy="merge-on-read",
        )
        with open(meta_p, "w") as f:
            json.dump({"cap": cap, "n_buckets": n_buckets}, f)
        return cls(spark, path)

    # -------------------------------------------------------- plumbing

    def _release(self) -> None:
        while self._pins:
            df = self._pins.pop()
            try:
                df.unpersist()
            except Exception:
                pass
        while self._views:
            sess, name = self._views.pop()
            try:
                sess.catalog.dropTempView(name)
            except Exception:
                pass

    def _pin(self, df: DataFrame) -> DataFrame:
        df.persist()
        self._pins.append(df)
        return df

    def _signatures(self, docs: DataFrame, batch_id: int):
        """(e, sig) for the arriving batch — the SAME two-dialect
        fragments the batch operators execute (MH_E_TPL / MH_SIG_TPL),
        so incremental and batch signatures cannot drift."""
        from nifi_processors_spark.plans.catalog import render
        from nifi_processors_spark.plans.sql_queries import (
            MH_E_TPL, MH_SIG_TPL,
        )

        # inside foreachBatch the batch DataFrame belongs to a
        # micro-batch-scoped session whose temp-view catalog is NOT
        # the driver session's — resolve views through the batch's own
        # session or the SQL below can't see them
        sess = docs.sparkSession
        # per-BATCH view names (never overwritten; see __init__ note) —
        # stale ones are dropped by the next ingest's _release
        tag = f"{self._tag}_b{batch_id}"
        docs.createOrReplaceTempView(tag)
        self._views.append((sess, tag))
        e = sess.sql(
            render(
                MH_E_TPL.format(corpus=f"SELECT doc_id, text FROM {tag}"),
                "spark",
            )
        )
        self._pin(e).createOrReplaceTempView(f"{tag}_e")
        self._views.append((sess, f"{tag}_e"))
        sig = self._pin(
            sess.sql(render(MH_SIG_TPL.format(e=f"{tag}_e"), "spark"))
        )
        return e, sig

    @staticmethod
    def _band_keys(sig: DataFrame) -> DataFrame:
        parts = [
            sig.select(
                "doc_id",
                F.expr(f"concat('b{i}|', {x}, '_', {y})").alias("bk"),
            )
            for i, (x, y) in enumerate(_BAND_PAIRS)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _bucket_ids(self, df: DataFrame, table: TransactionalTable,
                    col: str, key: str) -> list[int]:
        """Distinct bucket ids the given keys hash into — a driver
        list bounded by n_buckets (same constraint class as a
        broadcast small side), used to prune the index read."""
        keyed = df.select(F.col(col).alias(key))
        expr = _bucket_expr(table.manifest())
        return [r[0] for r in keyed.select(expr.alias("b")).distinct().collect()]

    # ---------------------------------------------------------- ingest

    def ingest(
        self, docs: DataFrame, batch_id: int, source_id: str = "docs",
    ) -> tuple[DataFrame, dict]:
        """Probe-and-append one micro-batch.

        ``docs``: (doc_id long, text string) — pre-normalized text.
        Returns (pairs, stats): pairs is the materialized DataFrame of
        near-duplicates (doc_a, doc_b, jaccard) where doc_a arrived
        BEFORE doc_b (earlier batch, or same batch with smaller
        doc_id) — against the corpus, in O(batch + touched buckets).
        """
        self._release()
        b = int(batch_id)
        e, sig = self._signatures(docs, b)
        bands_raw = self._band_keys(sig)

        # --- pre-batch index snapshot, pruned to the batch's buckets.
        # read_raw resolves the file list NOW, so the later appends
        # cannot leak batch-b rows into the probe; the batch_id < b
        # filter additionally makes redelivery (rows already present)
        # reproduce identical cap decisions and pairs.
        touched = self._bucket_ids(bands_raw, self.bands, "bk", "bk")
        # bucket pruning narrows the FILES read; the broadcast semi-join
        # on the batch's own band keys narrows the ROWS that flow into
        # the cap count and the candidate join — the index side is
        # never broadcast and never shuffled whole.
        batch_bks = bands_raw.select("bk").distinct()
        idx_bands = (
            self.bands.read_raw(buckets=touched)
            .filter(F.col("batch_id") < b)
            .join(F.broadcast(batch_bks), "bk")
        )

        # --- hot-bucket cap in ARRIVAL order: stored rows are all
        # retained (enforced at their arrival); the batch's rows rank
        # behind them by doc_id. Induction ⇒ identical to ranking the
        # full corpus by (batch_id, doc_id) within each bucket.
        counts = idx_bands.groupBy("bk").agg(F.count("*").alias("cnt"))
        ranked = bands_raw.withColumn(
            "rk", F.row_number().over(Window.partitionBy("bk").orderBy("doc_id"))
        )
        retained = self._pin(
            ranked.join(F.broadcast(counts), "bk", "left")
            .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
            .filter(F.col("rk") + F.col("cnt") <= F.lit(self.cap))
            .select("bk", "doc_id")
        )
        retained_docs = retained.select("doc_id").distinct()

        # --- append FIRST (exactly-once via each table's watermark);
        # shingles/counts are stored only for docs retained in ≥1 band
        # — a doc capped out of every band can never appear in a future
        # candidate pair, so the stores stay bounded under viral
        # clusters exactly like the band index itself.
        def _append(tbl: TransactionalTable, df: DataFrame) -> dict:
            stamped = df.withColumn("batch_id", F.lit(b).cast("long"))
            return tbl.append(stamped, source_id, b)

        st_bands = _append(self.bands, retained)
        st_sh = _append(
            self.shingles, e.join(retained_docs, "doc_id").select("doc_id", "h")
        )
        st_docs = _append(
            self.docs, sig.join(retained_docs, "doc_id").select("doc_id", "n")
        )

        # --- probe: candidates = capped batch rows × earlier index
        # rows sharing a band key, plus within-batch pairs. Equi-joins
        # only; the batch side is the small side.
        cand_cross = (
            retained.alias("nw")
            .join(idx_bands.alias("ix"), "bk")
            .select(
                F.col("ix.doc_id").alias("doc_a"),
                F.col("nw.doc_id").alias("doc_b"),
            )
        )
        cand_within = (
            retained.alias("x")
            .join(retained.alias("y"), "bk")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
        )
        cand = self._pin(cand_cross.unionByName(cand_within).distinct())

        # --- exact-Jaccard verify from the shingle store (pruned to
        # the candidates' doc_a buckets) + the batch's own shingles
        a_buckets = self._bucket_ids(cand, self.shingles, "doc_a", "doc_id")
        ea = (
            self.shingles.read_raw(buckets=a_buckets)
            .filter(F.col("batch_id") < b)
            .select("doc_id", "h")
            .unionByName(e.select("doc_id", "h"))
        )
        inter = (
            cand.join(ea.alias("ea"), F.col("ea.doc_id") == F.col("doc_a"))
            .join(
                e.select(
                    F.col("doc_id").alias("_db"), F.col("h").alias("_hb")
                ),
                (F.col("_db") == F.col("doc_b"))
                & (F.col("_hb") == F.col("ea.h")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("ni"))
        )
        na = (
            self.docs.read_raw(buckets=a_buckets)
            .filter(F.col("batch_id") < b)
            .select("doc_id", "n")
            .unionByName(sig.select("doc_id", "n"))
        )
        jac = F.col("ni") / (F.col("n_a") + F.col("n_b") - F.col("ni"))
        pairs = (
            inter.join(
                na.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
                "doc_a",
            )
            .join(
                sig.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
                ),
                "doc_b",
            )
            .where(jac >= 0.5)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        )
        pairs.persist()
        self._result_pins.append(pairs)
        n_pairs = pairs.count()  # materialize against this snapshot
        stats = {
            "batch_id": b,
            "n_pairs": n_pairs,
            "touched_band_buckets": len(touched),
            "bands": st_bands,
            "shingles": st_sh,
            "docs": st_docs,
        }
        return pairs, stats

    # ------------------------------------------------------- streaming

    def start_stream(
        self,
        docs_stream,
        checkpoint_dir: str,
        pairs_path: str | None = None,
        source_id: str = "docs",
        maintain_every: int = 64,
        available_now: bool = True,
    ):
        """Run the index as a Structured Streaming sink: each
        micro-batch probes-and-appends inside ``foreachBatch`` (the
        same exactly-once shape as the CDC pipeline — Spark's
        checkpoint makes delivery at-least-once, the tables'
        (source_id, batch_id) watermarks make the appends idempotent,
        and ``ingest``'s batch_id < current reads make the PAIRS
        redelivery-identical too).

        ``docs_stream``: streaming DataFrame of (doc_id, text).
        ``pairs_path``: optional TransactionalTable path; each batch's
        near-dup pairs are appended there (idempotent per batch) so
        the flag stream is durable, not just observed. Returns the
        StreamingQuery."""
        pairs_tbl = None
        if pairs_path is not None:
            if TransactionalTable.exists(self.spark, pairs_path):
                pairs_tbl = TransactionalTable(self.spark, pairs_path)
            else:
                pairs_tbl = TransactionalTable.create(
                    self.spark, pairs_path, PAIRS_SCHEMA,
                    key_cols=["doc_a", "doc_b"], lww_cols=["batch_id"],
                    n_buckets=self.n_buckets, bucket_cols=["doc_a"],
                    merge_strategy="merge-on-read",
                )

        def _apply(df, batch_id: int):
            pairs, _st = self.ingest(df, batch_id, source_id=source_id)
            if pairs_tbl is not None:
                pairs_tbl.append(
                    pairs.withColumn("batch_id", F.lit(int(batch_id))),
                    source_id=f"{source_id}::pairs", batch_id=int(batch_id),
                )
            # streaming mode: nobody holds the returned pairs handle —
            # release its cache NOW (after the durable append) or the
            # result-pin list grows one persisted DataFrame per
            # micro-batch for the stream's lifetime
            self._release_results()
            if maintain_every and (int(batch_id) + 1) % maintain_every == 0:
                # advisory like the pipeline's maintenance — but a
                # persistently failing maintenance pass means unbounded
                # index growth, so it must be visible
                try:
                    self.maintain()
                    if pairs_tbl is not None:
                        pairs_tbl.compact()
                        pairs_tbl.expire_snapshots(keep_last=8)
                except Exception:
                    log.warning(
                        "LSH index maintenance failed at batch %s",
                        batch_id, exc_info=True,
                    )

        writer = (
            docs_stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .queryName(f"lsh-index-{source_id}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ----------------------------------------------------- maintenance

    def maintain(self, keep_last: int = 8) -> dict:
        """Fold per-batch delta slivers into per-bucket base files and
        expire old snapshots on all three tables — the compaction
        cadence that keeps file/manifest counts bounded over thousands
        of micro-batches (same contract as the pipeline's maintenance
        cadence)."""
        out = {}
        for name in ("bands", "shingles", "docs"):
            tbl: TransactionalTable = getattr(self, name)
            out[name] = {
                "compact": tbl.compact(),
                "expire": tbl.expire_snapshots(keep_last=keep_last),
            }
        return out

    def _release_results(self) -> None:
        while self._result_pins:
            df = self._result_pins.pop()
            try:
                df.unpersist()
            except Exception:
                pass

    def close(self) -> None:
        """Unpersist everything, including returned pair DataFrames
        (callers that hand results to a longer-lived cache manager pop
        ``_result_pins`` themselves first)."""
        self._release()
        self._release_results()
