"""Seeded input generators for the benchmark.

Every value is a pure function of ``(seed, stream, id)``: ids are cut into
fixed blocks and each block draws from its own ``numpy`` generator keyed on
``[seed, stream, block]``. Any subset of ids, in any order, split across
any number of Spark partitions, therefore yields the same rows. The engine
only ever receives the DataFrames built here; the driver recomputes the
same arrays for the oracle.

The vectors are a clustered 64-d Gaussian mixture: tight clusters are
where plain M-nearest trimming strands nodes (see ``build_index``), so
the graph build is exercised on the data shape it documents as hard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DIM = 64
COMPONENTS = 32
CENTER_SCALE = 3.0
BLOCK = 1024

# stream ids: one independent generator family per input
CENTERS, CORPUS, QUERIES, PROBE, CHURN, SCHEDULE = range(6)

# churn writes use ids above the corpus id space
INSERT_BASE = 1 << 40


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def centers(seed: int) -> np.ndarray:
    return _rng(seed, CENTERS).normal(size=(COMPONENTS, DIM)) * CENTER_SCALE


def mixture(seed: int, stream: int, ids: np.ndarray) -> np.ndarray:
    """Mixture vectors for ``ids`` (any order, any subset)."""
    ids = np.asarray(ids, dtype=np.int64)
    cen = centers(seed)
    out = np.empty((len(ids), DIM))
    blocks = ids // BLOCK
    for b in np.unique(blocks):
        rng = _rng(seed, stream, int(b))
        comp = rng.integers(0, COMPONENTS, BLOCK)
        noise = rng.normal(size=(BLOCK, DIM))
        sel = blocks == b
        off = ids[sel] % BLOCK
        out[sel] = cen[comp[off]] + noise[off]
    return out


def vector_frame(spark, seed: int, stream: int, n: int, partitions: int,
                 id_name: str = "vec_id", vec_name: str = "embedding"):
    """DataFrame of ``n`` mixture vectors with ids ``0..n-1``, generated
    inside the executors: each partition draws its own id range."""
    schema = f"{id_name} long, {vec_name} array<double>"

    def draw(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {id_name: ids, vec_name: list(mixture(seed, stream, ids))}
            )

    return spark.range(0, n, numPartitions=partitions).mapInPandas(draw, schema)


def frame(spark, ids: np.ndarray, vecs: np.ndarray, id_name: str, vec_name: str):
    """Small driver-side batch (queries, inserts) as a DataFrame."""
    pdf = pd.DataFrame(
        {id_name: np.asarray(ids, dtype=np.int64), vec_name: list(vecs)}
    )
    return spark.createDataFrame(pdf, f"{id_name} long, {vec_name} array<double>")


def query_batch(seed: int, step: int, pool: int, size: int) -> np.ndarray:
    """Held-out query ids for one batch of the serve schedule."""
    rng = _rng(seed, SCHEDULE, step)
    return np.sort(rng.choice(pool, size=size, replace=False)).astype(np.int64)


def churn_round(seed: int, rnd: int, live: np.ndarray, anchors: np.ndarray,
                n_insert: int, n_dups: int, n_delete: int, topics: int):
    """One maintenance round of the write stream.

    Returns ``(fresh_ids, fresh_vecs, dup_ids, dup_sources, delete_ids)``.
    New content arrives by topic: the fresh vectors come from the mixture
    components nearest to ``topics`` of the ``anchors`` (the index's cell
    centroids), drawn for this round, so an insert touches the same
    number of cells whatever the seed. The ``n_dups`` rows ``dup_ids`` are
    exact copies of the live vectors ``dup_sources`` and must be rejected
    by the duplicate gate. ``delete_ids`` are drawn from the live ids
    after the insert."""
    rng = _rng(seed, CHURN, rnd)
    live = np.sort(np.asarray(live, dtype=np.int64))
    ids = INSERT_BASE + rnd * n_insert + np.arange(n_insert, dtype=np.int64)
    fresh_ids, dup_ids = ids[: n_insert - n_dups], ids[n_insert - n_dups:]
    cen = centers(seed)
    anchors = np.asarray(anchors)
    cell_of = ((cen[:, None, :] - anchors[None]) ** 2).sum(-1).argmin(1)
    cells = rng.choice(np.unique(cell_of), size=topics, replace=False)
    comps = np.flatnonzero(np.isin(cell_of, cells))
    fresh_vecs = (cen[comps[rng.integers(0, len(comps), len(fresh_ids))]]
                  + rng.normal(size=(len(fresh_ids), DIM)))
    dup_sources = np.sort(rng.choice(live, size=n_dups, replace=False))
    after = np.union1d(live, fresh_ids)
    delete_ids = np.sort(rng.choice(after, size=n_delete, replace=False))
    return fresh_ids, fresh_vecs, dup_ids, dup_sources, delete_ids
