"""The two workloads and their output checks.

Both share one set-up: start the session (first set-up only), generate
the corpus, build a content-sharded index (``ivf_build`` ->
``balance_assignments`` -> ``build_index`` -> ``shard_centroids``). The
set-up runs ``Sizes.setups`` times per run and its median is ``setup_s``.

- ``serve``: save the index as a serving manifest and load it back as
  the ``ServingIndex`` bundle a serving process holds, then a closed loop
  of one client sending held-out query batches through ``ann_search`` in
  a fixed cycle of small (10-query) batches and one large (500-query)
  batch.
- ``churn``: a closed loop of maintenance rounds: insert a batch with
  planted exact duplicates through the serving-shaped duplicate gate,
  delete live ids with repair, then a small query probe.

Every call's result is collected (query results) or materialized with an
eager ``localCheckpoint`` (index handles) inside its timed span, and
checked outside it against a driver-side numpy brute force.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import gen, machine
from perfbench.spans import Tracer


@dataclass(frozen=True)
class Sizes:
    corpus: int = 8_000
    cells: int = 6
    nprobe: int = 3
    k: int = 10
    pool: int = 2_000  # held-out queries the serve batches draw from
    small: int = 10
    large: int = 500
    cycle: int = 5  # serve: every cycle-th batch is large
    insert: int = 100
    dups: int = 10  # planted exact duplicates per insert batch
    delete: int = 100
    topics: int = 2  # cells a round's fresh inserts land in
    setups: int = 2


FULL = Sizes()
TINY = Sizes(corpus=1_500, cells=4, nprobe=2, pool=300, large=100, insert=20,
             dups=4, delete=20, topics=1)

# HawkParams.new(ef_construction, ef_search, M)
PARAMS_ARGS = (64, 48, 16)

# the calls whose per-call quantities the traced run reports
CALLS = (
    "similarity.ivf_build",
    "hnsw.balance_assignments",
    "hnsw.build_index",
    "hnsw.shard_centroids",
    "graph_io.save_serving_index",
    "graph_io.load_serving_index",
    "hnsw.ann_search.small",
    "hnsw.ann_search.large",
    "hnsw.search_serving.large",
    "similarity.l2_topk_numpy.large",
    "hnsw.insert_batch",
    "hnsw.delete_from_index",
)


class Live:
    """Driver-side copy of the vectors the index should hold."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        order = np.argsort(ids)
        self.ids, self.vecs = ids[order], vecs[order]
        self.sq = (self.vecs ** 2).sum(axis=1)

    def rows(self, ids) -> np.ndarray:
        """Positions of ``ids``; -1 where an id is not live."""
        ids = np.asarray(ids, dtype=np.int64)
        pos = np.searchsorted(self.ids, ids)
        pos[pos >= len(self.ids)] = 0
        return np.where(self.ids[pos] == ids, pos, -1)

    def add(self, ids, vecs) -> "Live":
        return Live(np.concatenate([self.ids, ids]),
                    np.concatenate([self.vecs, vecs]))

    def drop(self, ids) -> "Live":
        keep = ~np.isin(self.ids, ids)
        return Live(self.ids[keep], self.vecs[keep])

    def truth(self, q: np.ndarray, k: int) -> np.ndarray:
        """Exact top-k ids per query (numpy brute force, squared L2)."""
        d = (q ** 2).sum(axis=1)[:, None] - 2 * q @ self.vecs.T + self.sq[None, :]
        part = np.argpartition(d, k - 1, axis=1)[:, :k]
        return self.ids[part]


class Run:
    """State of one benchmark run: spans, op and failure counts, and the
    samples the metrics are computed from."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, sizes: Sizes, workdir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.sizes, self.workdir = sizes, workdir
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", traced)
        self.spark = None
        self.attempted = 0
        self.failures: dict[str, set[str]] = {}
        self._op = ""
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {"storage_mb": [], "rounds": [], "paths": [],
                           "contrasts": []}
        from hawk_pack_spark.config import HawkParams

        self.params = HawkParams.new(*PARAMS_ARGS)

    @property
    def traced(self) -> bool:
        return self.tracer.traced

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        """Record a failed output check against the current op."""
        if not ok:
            self.failures.setdefault(self._op, set()).add(what)
        return ok

    @contextmanager
    def op(self, name: str, fatal: bool = False):
        """One workload op: counted as attempted; a failed check or an
        exception inside it counts it as failed (set-up ends the run)."""
        self.attempted += 1
        self._op = f"{name}#{self.attempted}"
        with self.tracer.span(name) as span:
            try:
                yield span
            except Exception as exc:
                if fatal:
                    raise
                traceback.print_exc(file=sys.stderr)
                self.check(False, f"raised {type(exc).__name__}: {exc}")
        if self.traced:
            self.info["storage_mb"].append([name, resident_mb(self.spark)])


def resident_mb(spark) -> float:
    """Bytes the block manager holds for cached/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / float(1 << 20)


def start_session(run: Run):
    from hawk_pack_spark.session import get_spark

    n = machine.cores()
    tmp = os.path.join(run.workdir, "tmp")
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: the JVM would otherwise write its counters
        # to /tmp, outside the run's directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if run.traced:
        conf.update({
            "spark.sql.pyspark.udf.profiler": "perf",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", f"local[{n}]", n, conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# set-up


def set_up(run: Run, first: bool):
    """One full set-up; returns (ServingIndex bundle, live corpus)."""
    from pyspark.sql import functions as F

    from hawk_pack_spark.operators import hnsw
    from hawk_pack_spark.operators.similarity import ivf_build
    from hawk_pack_spark.sources.graph_io import ServingIndex

    sz, p = run.sizes, run.params
    with run.op("setup", fatal=True) as span:
        if first:
            # no session yet to attribute jobs to: a plain span
            with run.tracer.span("session.start", "call") as start:
                run.spark = start_session(run)
            run.tracer.bind(run.spark)
            run.sample("session_s", start.wall)
            # the native build kernel compiles once per run, into the
            # run's own directory, before the first build needs it
            from hawk_pack_spark.operators import _native

            t0 = time.perf_counter()
            run.info["native"] = {
                "mode": "compiled once per run during the first set-up",
                "loaded": _native.get_lib() is not None,
                "compile_s": time.perf_counter() - t0,
            }
        spark = run.spark
        corpus = gen.vector_frame(spark, run.seed, gen.CORPUS, sz.corpus,
                                  machine.cores()).localCheckpoint()

        def balance():
            asg = hnsw.balance_assignments(
                assigned.select("vec_id", F.col("cluster").alias("shard")),
                # only a cell three times the average splits: the shard
                # count, and with it every call's task count, then holds
                # across seeds
                max_cell=(3 * sz.corpus) // sz.cells,
            ).localCheckpoint()
            return asg, 1 + asg.agg(F.max("shard")).collect()[0][0]

        assigned, t_ivf = run.tracer.call("similarity.ivf_build", lambda: ivf_build(
            corpus, n_clusters=sz.cells, max_iter=5, seed=run.seed,
            with_payload=False)[0].localCheckpoint())
        (asg, shards), t_bal = run.tracer.call("hnsw.balance_assignments", balance)
        index, t_build = run.tracer.call("hnsw.build_index", lambda: hnsw.build_index(
            corpus, metric="l2_sq", params=p, num_shards=shards,
            assignments=asg, seed=run.seed).localCheckpoint())
        cents, t_cent = run.tracer.call("hnsw.shard_centroids",
                                 lambda: hnsw.shard_centroids(index).collect())
        bundle = ServingIndex(index, cents, p, "l2_sq", len(cents))
    run.sample("setup_s", span.wall)
    run.sample("build_s", t_ivf + t_bal + t_build + t_cent)
    run.info["shards"] = len(cents)
    live = Live(np.arange(sz.corpus, dtype=np.int64),
                gen.mixture(run.seed, gen.CORPUS, np.arange(sz.corpus)))
    with run.op("setup.check"):
        ids = index_ids(bundle.index)
        run.check(np.array_equal(ids, live.ids),
                  "loaded index holds exactly the corpus ids")
        held = {r[0] for r in bundle.index.select("shard").distinct().collect()}
        run.check({int(r[0]) for r in bundle.centroids} == held,
                  "one centroid per shard")
    return bundle, live


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def index_ids(index) -> np.ndarray:
    return np.sort(np.array([r[0] for r in index.select("vec_id").collect()],
                            dtype=np.int64))


# ---------------------------------------------------------------------------
# result checks


def check_results(run: Run, rows, qids, qvecs, live: Live, k: int) -> float:
    """Every query gets k results with ranks 1..k, ascending distances
    that equal the squared L2 recomputed here, only live ids; returns
    recall@k against the exact truth."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    run.check(set(by_q) == {int(q) for q in qids},
              "a result for every query and no other")
    truth = live.truth(qvecs, k)
    hits = 0
    for qi, q in enumerate(qids):
        got = sorted(by_q.get(int(q), []), key=lambda r: r["rank"])
        ids = np.array([r["vec_id"] for r in got], dtype=np.int64)
        dist = np.array([r["dist"] for r in got])
        pos = live.rows(ids)
        run.check(len(got) == k and [r["rank"] for r in got] == list(
            range(1, k + 1)), "k results ranked 1..k")
        run.check(bool(np.all(np.diff(dist) >= 0)), "distances ascend")
        if not run.check(bool(np.all(pos >= 0)), "only live ids returned"):
            continue
        v = live.vecs[pos]
        exact = ((v - qvecs[qi]) ** 2).sum(axis=1)
        tol = 1e-9 * (live.sq[pos] + (qvecs[qi] ** 2).sum()) + 1e-9
        run.check(bool(np.all(np.abs(dist - exact) <= tol)),
                  "distance equals squared L2 recomputed on the driver")
        hits += len(set(ids.tolist()) & set(truth[qi].tolist()))
    return hits / (k * len(qids))


# ---------------------------------------------------------------------------
# workloads


def query(run: Run, bundle_or_index, kind: str, qids, qvecs, live: Live,
          centroids=None) -> tuple[float, float]:
    """One query batch through ``ann_search``; in a traced run a large
    batch is also run through each path the dispatch chooses between."""
    from hawk_pack_spark.operators import hnsw
    from hawk_pack_spark.operators.similarity import l2_topk_numpy

    sz = run.sizes
    qdf = gen.frame(run.spark, qids, qvecs, "query_id", "query_vec")
    decision: dict = {}
    rows, wall = run.tracer.call(f"hnsw.ann_search.{kind}", lambda: hnsw.ann_search(
        bundle_or_index, qdf, k=sz.k, metric="l2_sq", params=run.params,
        nprobe_shards=sz.nprobe, centroids=centroids,
        decision_out=decision).collect())
    run.info["paths"].append(decision.get("path"))
    recall = check_results(run, rows, qids, qvecs, live, sz.k)
    if run.traced and kind == "large":
        index = getattr(bundle_or_index, "index", bundle_or_index)
        cents = getattr(bundle_or_index, "centroids", centroids)
        contrast = {"ann_search_s": wall, "path": decision.get("path")}
        rows, contrast["search_serving_s"] = run.tracer.call(
            "hnsw.search_serving.large", lambda: hnsw.search_serving(
                index, qdf, k=sz.k, params=run.params,
                nprobe_shards=sz.nprobe, centroids=cents).collect())
        check_results(run, rows, qids, qvecs, live, sz.k)
        rows, contrast["l2_topk_numpy_s"] = run.tracer.call(
            "similarity.l2_topk_numpy.large", lambda: l2_topk_numpy(
                index, qdf, k=sz.k, vec_col="vec").collect())
        check_results(run, rows, qids, qvecs, live, sz.k)
        run.info["contrasts"].append(contrast)
    return recall, wall


def recall_probe(run: Run, bundle_or_index, live: Live, centroids=None) -> None:
    """Untimed recall@k of one large held-out batch against the live
    vectors."""
    qids = np.arange(run.sizes.large, dtype=np.int64)
    qvecs = gen.mixture(run.seed, gen.PROBE, qids)
    with run.op(f"{run.workload}.recall"):
        recall, _ = query(run, bundle_or_index, "large", qids, qvecs, live,
                          centroids)
        run.sample("recall", recall)


def restart(run: Run, bundle):
    """Save the built index as a serving manifest and load it back, the
    way a serving process (re)starts; returns the loaded bundle."""
    from hawk_pack_spark.sources.graph_io import load_serving_index, save_serving_index

    manifest = os.path.join(run.workdir, "manifest")
    with run.op("serve.restart", fatal=True):
        run.tracer.call("graph_io.save_serving_index", lambda: save_serving_index(
            bundle.index, manifest, centroids=bundle.centroids,
            params=run.params))
        loaded, t_load = run.tracer.call(
            "graph_io.load_serving_index",
            lambda: load_serving_index(run.spark, manifest, materialize=True))
        run.sample("load_s", t_load)
        run.info["manifest_bytes"] = dir_bytes(manifest)
        run.check(np.array_equal(index_ids(loaded.index), index_ids(bundle.index)),
                  "the loaded index holds the saved ids")
        return loaded


def warm_up(run: Run, bundle, pool: np.ndarray, live: Live) -> None:
    """One small and one large batch before the timed loop, checked but
    not sampled: the first batch of each shape after a restart pays
    Python-worker and JIT start-up (a 10-query batch 1.1-1.3 s against
    0.8-0.9 s warm, 4 cores) and would skew a median of a few samples."""
    from hawk_pack_spark.operators import hnsw

    sz = run.sizes
    with run.op("serve.warmup"):
        for i, size in enumerate((sz.small, sz.large)):
            qids = gen.query_batch(run.seed, 2_000_000 + i, sz.pool, size)
            qdf = gen.frame(run.spark, qids, pool[qids], "query_id", "query_vec")
            # a name outside CALLS: timed into no per-layer metric
            rows, _ = run.tracer.call("hnsw.ann_search.warmup", lambda: hnsw.ann_search(
                bundle, qdf, k=sz.k, metric="l2_sq", params=run.params,
                nprobe_shards=sz.nprobe).collect())
            check_results(run, rows, qids, pool[qids], live, sz.k)


def serve(run: Run, bundle, live: Live) -> None:
    sz = run.sizes
    bundle = restart(run, bundle)
    pool = gen.mixture(run.seed, gen.QUERIES, np.arange(sz.pool))
    warm_up(run, bundle, pool, live)
    deadline = time.perf_counter() + run.seconds
    step = hits = answered = 0
    # whole cycles only, so every run answers the same mix of batches
    while step % sz.cycle or step == 0 or time.perf_counter() < deadline:
        kind = "large" if step % sz.cycle == sz.cycle - 1 else "small"
        qids = gen.query_batch(run.seed, step, sz.pool,
                               sz.large if kind == "large" else sz.small)
        with run.op(f"serve.{kind}"):
            recall, wall = query(run, bundle, kind, qids, pool[qids], live)
            run.sample(f"{kind}_s", wall)
            run.sample("rows", len(qids))
            run.sample("rows_s", wall)
            hits += recall * len(qids)
            answered += len(qids)
        step += 1
    # every answered query was checked against the exact truth
    if answered:
        run.sample("recall", hits / answered)


def self_recall(run: Run, index, ids, vecs, cents) -> float:
    """Share of ``ids`` that, searched through the graph with the
    workload's ``ef_search``, come back as their own nearest hit (the
    reference's self-recall property). A search is approximate: a node
    the graph reaches can still fall outside the beam, so this is a
    measured quality, like recall@k; a self-hit must be at distance 0."""
    from hawk_pack_spark.operators import hnsw

    found = hnsw.search_serving(
        index, gen.frame(run.spark, ids, vecs, "query_id", "query_vec"),
        k=1, params=run.params, nprobe_shards=run.sizes.nprobe,
        centroids=cents).collect()
    own = [r for r in found if int(r["query_id"]) == int(r["vec_id"])]
    run.check(all(float(r["dist"]) == 0.0 for r in own),
              "a vector found by itself is at distance 0")
    return len(own) / len(ids)


def unreachable(rows, entries: dict) -> set:
    """Ids that no layer-0 edge path reaches from their shard's entry
    point: the islands a search can never return. ``rows`` are
    ``(shard, vec_id, e_layer, e_dst)``; ``entries`` maps shard to entry
    id."""
    adj: dict[int, dict[int, list]] = {}
    for shard, vid, layers, dsts in rows:
        adj.setdefault(int(shard), {})[int(vid)] = [
            int(d) for lay, d in zip(layers, dsts) if lay == 0]
    out = set()
    for shard, graph in adj.items():
        start = int(entries[shard])
        seen, stack = {start}, [start]
        while stack:
            for nxt in graph.get(stack.pop(), ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        out.update(set(graph) - seen)
    return out


def stranded(index, ids) -> set:
    """The ``ids`` that are islands of ``index`` (see ``unreachable``)."""
    from hawk_pack_spark.operators import hnsw

    rows = index.select("shard", "vec_id", "e_layer", "e_dst").collect()
    entries = {int(r[0]): int(r[1]) for r in hnsw.entry_points(index).collect()}
    return unreachable(rows, entries) & {int(i) for i in ids}


def churn(run: Run, bundle, live: Live) -> None:
    from hawk_pack_spark.operators import hnsw

    sz, spark = run.sizes, run.spark
    index, cents = bundle.index, bundle.centroids
    shards = len(cents)
    anchors = np.array([c[1] for c in sorted(cents, key=lambda c: c[0])])
    pool = gen.mixture(run.seed, gen.QUERIES, np.arange(sz.pool))
    deadline = time.perf_counter() + run.seconds
    rnd = 0
    while rnd == 0 or time.perf_counter() < deadline:
        fresh, fresh_vecs, dup_ids, dup_src, dels = gen.churn_round(
            run.seed, rnd, live.ids, anchors, sz.insert, sz.dups, sz.delete,
            sz.topics)
        batch = gen.frame(
            spark, np.concatenate([fresh, dup_ids]),
            np.concatenate([fresh_vecs, live.vecs[live.rows(dup_src)]]),
            "vec_id", "embedding")
        row = {"round": rnd}
        with run.op("churn.insert"):
            index, row["insert_s"] = run.tracer.call(
                "hnsw.insert_batch", lambda: hnsw.insert_batch(
                    index, batch, metric="l2_sq", params=run.params,
                    match_threshold=0.0, serving_gate=True,
                    centroids=cents).localCheckpoint())
            run.sample("insert_s", row["insert_s"])
            run.sample("rows", sz.insert)
            run.sample("rows_s", row["insert_s"])
            row["partitions"] = index.rdd.getNumPartitions()
            ids = index_ids(index)
            row["rejected"] = sz.insert - len(np.setdiff1d(ids, live.ids))
            run.check(np.array_equal(ids, np.union1d(live.ids, fresh)),
                      "rows = previous + every fresh vector; every planted "
                      "duplicate rejected")
            live = live.add(fresh, fresh_vecs)
            if rnd == 0:
                # no islands is what the engine's neighbour selection
                # promises on the built graph; after a delete's repair,
                # which it documents as approximate (forward-only
                # bridging), it is not promised
                run.check(not stranded(index, fresh),
                          "every accepted insert is reachable on layer 0 "
                          "from its shard's entry point")
                run.sample("self_recall", self_recall(
                    run, index, fresh, fresh_vecs, cents))
        del_df = spark.createDataFrame(pd.DataFrame({"vec_id": dels}))
        with run.op("churn.delete"):
            index, row["delete_s"] = run.tracer.call(
                "hnsw.delete_from_index", lambda: hnsw.delete_from_index(
                    index, del_df, metric="l2_sq",
                    params=run.params).localCheckpoint())
            run.sample("delete_s", row["delete_s"])
            row["partitions_after_delete"] = index.rdd.getNumPartitions()
            run.sample("rows", sz.delete)
            run.sample("rows_s", row["delete_s"])
            ids = index_ids(index)
            live = live.drop(dels)
            run.check(np.array_equal(ids, live.ids),
                      "row count = previous - deleted, deleted ids gone")
        qids = gen.query_batch(run.seed, 1_000_000 + rnd, sz.pool, sz.small)
        with run.op("churn.small"):
            _, row["probe_s"] = query(run, index, "small", qids, pool[qids], live,
                                      centroids=cents)
            run.sample("small_s", row["probe_s"])
        run.info["rounds"].append(row)
        rnd += 1
    # delete_from_index returns a union whose partitions split the shards
    # it touched, and the serving path needs whole shards per partition
    # (search_serving's stated requirement); a large batch dispatched to
    # serving raises on the handle as the rounds leave it. A deployment
    # re-partitions by shard before serving large batches again.
    with run.op("churn.compact"):
        index = index.repartition(shards, "shard").localCheckpoint()
    recall_probe(run, index, live, centroids=cents)
