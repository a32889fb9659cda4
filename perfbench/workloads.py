"""The benchmark workloads (``index-islands`` is runnable but not gated;
see README.md).

Each workload is a function ``(bench) -> None`` that stages its inputs,
warms up, runs its timed phases through ``bench.op`` / ``bench.loop`` and
checks every timed output. It records end-to-end values with
``bench.metric`` and traced-only counts with ``bench.count``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import datagen, oracle

DIM, R, L, ALPHA, EF, K = 64, 32, 64, 1.2, 100, 10

SIZES = {
    # sharded tier, overlapping clusters: shards of ~n*overlap/num_shards
    "index-build": {"n": 2_400, "num_shards": 4, "overlap": 2, "queries": 500},
    # dense driver tier, equal tight clusters of `n / clusters` points
    "index-islands": {"n": 8_192, "clusters": 64, "queries": 1_024},
    # dense index built in set-up; one large batch, then 256-query mini-batches
    "index-search": {"n": 6_000, "queries": 2_000, "minibatch": 256},
    # Zipf corpus with 10% planted near-copies; batch with 30% corpus copies
    "text-dedup": {"docs": 1_500, "batch": 500, "threshold": 0.5},
}


def _params(num_shards: int = 1, overlap: int = 2):
    from vamana_spark.params import VamanaParams

    return VamanaParams(dim=DIM, R=R, L=L, alpha=ALPHA, ef_search=EF,
                        num_shards=num_shards, shard_overlap=overlap)


def _vectors_table(id_name: str, vec_name: str, V: np.ndarray):
    """Arrow table (id long, vec list<float>) with ids 0..len(V)-1."""
    import pyarrow as pa

    flat = pa.array(np.ascontiguousarray(V, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, V.size + 1, V.shape[1], dtype=np.int32))
    return pa.table({id_name: pa.array(np.arange(len(V), dtype=np.int64)),
                     vec_name: pa.ListArray.from_arrays(offsets, flat)})


def _docs_table(ids: np.ndarray, texts: list):
    import pyarrow as pa

    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def _queries_pdf(Q: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"query_id": np.arange(len(Q), dtype=np.int64), "query_vec": list(Q)})


POINTS_SCHEMA = "vec_id long, embedding array<float>"
QUERIES_SCHEMA = "query_id long, query_vec array<float>"
DOCS_SCHEMA = "doc_id long, text string"


def _truth(bench, P: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Brute-force k nearest ids of the held-out queries: reference work,
    so untimed and outside the RSS sample."""
    with bench.rss.paused():
        return oracle.brute_knn(P, Q, K)


def _search_loop(bench, idx, q_df, P: np.ndarray, Q: np.ndarray, truth: np.ndarray,
                 budget_s: float) -> list:
    """Repeated full searches of the staged queries ``q_df`` until
    ``budget_s``; records recall and the kernel's per-query counts of the
    last checked result. Returns the wall times."""
    last = {}

    def search():
        return idx.search(q_df, K).toPandas()

    def check(res):
        problems, ids = oracle.check_search(res, P, Q, K)
        if ids is not None:
            last.update(ids=ids, dist_comps=float(res["dist_comps"].mean()),
                        hops=float(res["hops"].mean()))
        return problems

    times = bench.loop("index.vamana.search", budget_s, search, check)
    if times and last:
        with bench.rss.paused():
            bench.metric("recall", oracle.recall_at_k(last["ids"], truth))
        bench.count("index.kernels.search.dist_comps_per_query", last["dist_comps"])
        bench.count("index.kernels.search.hops_per_query", last["hops"])
    return times


def _graph_health(bench, idx) -> None:
    with bench.guarded("graph health"):
        health = idx.health_check()
        problems = [] if health["ok"] and health["n"] == idx.params.n else [f"health_check {health}"]
        bench.check("graph health", problems)
        bench.count("index.graph.avg_degree", float(health["avg_degree"]))
        if bench.trace:
            from vamana_spark.index.diagnostics import reachability

            reach = reachability(idx.graph_df, idx.params.medoid)
            bench.count("index.graph.reachable_frac", float(reach["reachable_fraction"]))


def _build_loop(bench, pts_df, n: int, params, budget_s: float):
    """Repeated timed builds until ``budget_s``; returns the last index
    (None if the warm-up build failed)."""
    from vamana_spark.index.vamana import VamanaIndex

    last = None

    def one():
        nonlocal last
        if last is not None:
            last.release()
        last = VamanaIndex.build(bench.spark, pts_df, params)
        return last

    def check(idx):
        ok = idx.params.n == n and 0 <= (idx.params.medoid or 0) < n
        return [] if ok else [f"built n={idx.params.n} medoid={idx.params.medoid}, want n={n}"]

    times = bench.loop("index.vamana.build", budget_s, one, check)
    return last, times


def _index_build_workload(bench, P: np.ndarray, Q: np.ndarray, num_shards: int,
                          overlap: int = 2) -> None:
    """Builds for 70% of the window, then the recall probe: repeated
    searches of the held-out queries on the last index for 30%."""
    truth = _truth(bench, P, Q)
    pts_df = bench.setup_stage("points", _vectors_table("vec_id", "embedding", P), POINTS_SCHEMA)
    q_df = bench.setup_stage("queries", _vectors_table("query_id", "query_vec", Q), QUERIES_SCHEMA)
    idx, times = _build_loop(bench, pts_df, len(P), _params(num_shards, overlap),
                             bench.seconds * 0.7)
    if times:
        bench.metric("throughput_per_s", len(P) / float(np.median(times)))
    if idx is None:
        return
    ptimes = _search_loop(bench, idx, q_df, P, Q, truth, bench.seconds * 0.3)
    if ptimes:
        bench.metric("op_p50_s", float(np.median(ptimes)))
    _graph_health(bench, idx)
    idx.release()


def index_build(bench) -> None:
    """Sharded-tier build over overlapping clusters."""
    sz = SIZES["index-build"]
    X = bench.setup_step("generate_s", lambda: datagen.overlapping_mixture(
        bench.rng, sz["n"] + sz["queries"], DIM))
    bench.describe(sz)
    _index_build_workload(bench, X[: sz["n"]], X[sz["n"] :], sz["num_shards"], sz["overlap"])


def index_islands(bench) -> None:
    """Dense driver-tier build over tight, well-separated clusters."""
    sz = SIZES["index-islands"]
    X, _ = bench.setup_step("generate_s", lambda: datagen.island_clusters(
        bench.rng, sz["n"] + sz["queries"], DIM, sz["clusters"]))
    bench.describe(sz)
    _index_build_workload(bench, X[: sz["n"]], X[sz["n"] :], 1)


def index_search(bench) -> None:
    """Large kernel-bound batch, then a closed loop of small batches."""
    from vamana_spark.index.vamana import VamanaIndex

    sz = SIZES["index-search"]
    n, nq, mb = sz["n"], sz["queries"], sz["minibatch"]
    X = bench.setup_step("generate_s", lambda: datagen.overlapping_mixture(bench.rng, n + nq, DIM))
    P, Q = X[:n], X[n:]
    truth = _truth(bench, P, Q)
    bench.describe(sz)
    pts_df = bench.setup_stage("points", _vectors_table("vec_id", "embedding", P), POINTS_SCHEMA)
    q_df = bench.setup_stage("queries", _vectors_table("query_id", "query_vec", Q), QUERIES_SCHEMA)
    with bench.op("index.vamana.build"):
        idx = bench.setup_step("build_s", lambda: VamanaIndex.build(bench.spark, pts_df, _params()))

    times = _search_loop(bench, idx, q_df, P, Q, truth, bench.seconds * 0.4)
    if times:
        bench.metric("throughput_per_s", nq / float(np.median(times)))

    # closed loop, one client: the next batch is sent only after the
    # previous result is collected; building the batch DataFrame is part
    # of sending it
    batches = [Q[s : s + mb] for s in range(0, nq - mb + 1, mb)]
    state = {"i": 0}

    def mini():
        Qb = batches[state["i"] % len(batches)]
        state["i"] += 1
        df = bench.spark.createDataFrame(_queries_pdf(Qb), QUERIES_SCHEMA)
        return Qb, idx.search(df, K).toPandas()

    def check_mini(out):
        Qb, res = out
        return oracle.check_search(res, P, Qb, K)[0]

    mtimes = bench.loop("index.vamana.search_minibatch", bench.seconds * 0.6, mini, check_mini)
    if mtimes:
        bench.metric("op_p50_s", float(np.median(mtimes)))
        bench.latency_tail("minibatch", mtimes)
    _graph_health(bench, idx)
    idx.release()


def text_dedup(bench) -> None:
    """MinHash-LSH near-dups over a corpus, then Bloom incremental dedup of
    a new batch against it."""
    from vamana_spark.operators.dedup import incremental_dedup, minhash_near_dups

    sz = SIZES["text-dedup"]
    thr = sz["threshold"]

    def generate():
        ids, texts, planted = datagen.corpus(bench.rng, sz["docs"])
        batch = datagen.new_batch(bench.rng, texts, sz["batch"], id_base=10 * sz["docs"])
        return (ids, texts, planted) + batch

    ids, texts, planted, b_ids, b_texts, b_keep = bench.setup_step("generate_s", generate)
    with bench.rss.paused():
        expect_keep = oracle.incremental_keep(b_ids.tolist(), b_texts, texts)
    if expect_keep != b_keep:
        raise RuntimeError("generator ground truth disagrees with the normalization oracle")
    bench.describe(sz, planted_pairs=len(planted), batch_kept=len(b_keep))
    by_id = dict(zip(ids.tolist(), texts))
    docs = bench.setup_stage("docs", _docs_table(ids, texts), DOCS_SCHEMA)
    batch = bench.setup_stage("batch", _docs_table(b_ids, b_texts), DOCS_SCHEMA)

    found = []

    def near():
        return minhash_near_dups(docs, threshold=thr).toPandas()

    def check_near(pairs):
        found.append({(int(a), int(b)) for a, b in zip(pairs["a_id"], pairs["b_id"])})
        return oracle.check_near_dups(pairs, by_id, thr)

    times = bench.loop("operators.dedup.minhash_near_dups", bench.seconds / 2, near, check_near)
    if times:
        bench.metric("throughput_per_s", sz["docs"] / float(np.median(times)))
        bench.metric("recall", len(found[-1] & planted) / len(planted))
        bench.count("operators.dedup.minhash.verified_pairs", float(len(found[-1])))

    kept_rows = []

    def inc():
        return incremental_dedup(batch, docs).select("doc_id").toPandas()

    def check_inc(kept):
        got = kept["doc_id"].tolist()
        kept_rows.append(len(got))
        if len(got) != len(set(got)) or set(got) != b_keep:
            return [f"incremental_dedup kept {len(got)} rows, want {len(b_keep)} (set mismatch)"]
        return []

    itimes = bench.loop("operators.dedup.incremental_dedup", bench.seconds / 2, inc, check_inc)
    if itimes:
        bench.metric("op_p50_s", float(np.median(itimes)))
        bench.count("operators.dedup.incremental_dedup.kept_rows", float(kept_rows[-1]))

    if bench.trace and found:
        from vamana_spark.operators.dedup import minhash_lsh_candidates

        with bench.guarded("minhash_lsh_candidates"):
            cands = minhash_lsh_candidates(docs, max_bucket_size=512).count()
            bench.count("operators.dedup.minhash.candidate_pairs", float(cands))
            bench.count("operators.dedup.minhash.useful_ratio", len(found[-1]) / max(cands, 1))


WORKLOADS = {
    "index-build": index_build,
    "index-islands": index_islands,
    "index-search": index_search,
    "text-dedup": text_dedup,
}
