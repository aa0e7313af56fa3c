"""ANN retrieval-quality gates (round-5 VERDICT #3): the LSH and IVF
scale paths are oracle-gated for DEFINITION correctness elsewhere;
these tests gate RETRIEVAL QUALITY against the exact brute-force
baseline, so a cell-count / probe / table-count change can no longer
degrade recall silently.

Recall is a property of the algorithm parameters, which live in the
shared two-dialect templates — both engines execute the identical
rendered SQL (equality is hash-gated per round), so the measurements
run on the DuckDB rendering for speed (no Spark session needed).

Two corpora, because achievable recall depends on data geometry:

* clustered (8 tight clusters — the regime ANN exists for): IVF
  multi-probe ≥ 0.9 recall@3, multi-table LSH ≥ 0.9 pair recall.
* structureless (the driver's synthetic sf0.1 embeddings: top-1
  cosine ≈ 0.41 ≈ noise floor, no label structure): information-
  theoretic recall for candidate-pruning ANN is ≈ (fraction of corpus
  scanned); the gates assert the theory floors hold (no silent
  DEGRADATION below nprobe/n_cells), and the exact blocked-BLAS path
  (emb_cosine_topk_blocked) remains the right tool for such data.
"""

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nifi_processors_spark.plans.sql_queries import QUERIES

SF01 = "/root/testdata/sf0.1"


def _oracle(name: str) -> str:
    return QUERIES[name][1]


def _con_for(path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    return con


@pytest.fixture(scope="module")
def clustered_path(tmp_path_factory):
    """8 tight unit-norm clusters, 400 vectors, deterministic."""
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n = 400
    lab = np.arange(n) % 8
    emb = centers[lab] + 0.05 * rng.normal(size=(n, 64))
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "label": pa.array([f"c{x}" for x in lab], pa.string()),
            "embedding": pa.array(
                [r.astype(np.float32).tolist() for r in emb],
                pa.list_(pa.float32()),
            ),
        }
    )
    p = str(tmp_path_factory.mktemp("ann_recall") / "embeddings.parquet")
    pq.write_table(tbl, p)
    return p


def _ivf_recall3(con) -> float:
    exact = con.execute(_oracle("emb_cosine_topk")).fetchdf()
    ivf = con.execute(_oracle("emb_ivf_ann_topk")).fetchdf()
    ex3 = {(r.qid, r.vec_id) for r in exact[exact.rk <= 3].itertuples()}
    iv = {(r.qid, r.vec_id) for r in ivf.itertuples()}
    return len(ex3 & iv) / len(ex3)


def _lsh_pair_recall(con) -> float:
    exact = con.execute(_oracle("emb_cosine_topk")).fetchdf()
    lsh = con.execute(_oracle("emb_lsh_ann_pairs")).fetchdf()
    truth = {
        frozenset((r.qid, r.vec_id))
        for r in exact[exact.cos_sim >= 0.25].itertuples()
    }
    got = {frozenset((r.vec_a, r.vec_b)) for r in lsh.itertuples()}
    return len(truth & got) / max(len(truth), 1)


def test_ivf_recall_clustered(clustered_path):
    """Multi-probe IVF (nprobe=2 of 8 cells) on clustered data: ≥ 0.9
    recall@3 (measured 0.917 at the pinned seed)."""
    assert _ivf_recall3(_con_for(clustered_path)) >= 0.9


def test_lsh_pair_recall_clustered(clustered_path):
    """Multi-table LSH (4 tables × 4 planes, OR-construction) on
    clustered data: ≥ 0.9 of the exact baseline's qualifying pairs
    found (measured 0.95; the retired single-table 8-plane scheme
    measured 0.125 on the same fixture)."""
    assert _lsh_pair_recall(_con_for(clustered_path)) >= 0.9


def test_ivf_recall_structureless_floor():
    """sf0.1 embeddings are structureless, so candidate-pruning recall
    ≈ scanned fraction = nprobe/n_cells = 0.25. Gate: never below the
    theory floor (measured 0.367 — affinity ranking beats random cell
    choice even on noise)."""
    assert _ivf_recall3(_con_for(f"{SF01}/embeddings.parquet")) >= 0.25


def test_lsh_pair_recall_structureless_floor():
    """Same tripwire for the LSH pairs path (measured 0.467 at the
    current 4×4 construction; was 0.03 single-table)."""
    assert _lsh_pair_recall(_con_for(f"{SF01}/embeddings.parquet")) >= 0.30
