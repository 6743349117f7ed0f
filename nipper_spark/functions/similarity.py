"""Similarity search over an embedding column (array<float>).

Two paths, same output contract (query_id, vec_id, cosine, rank):

- ``ann_brute_topk``: exact baseline. Queries are broadcast (they're
  the small side by construction); each partition scores its corpus
  shard as ONE numpy matmul per Arrow batch, emits only its local
  top-k, and a final per-query top-k window reduces ≤ k·partitions
  rows. The corpus is never shuffled, never collected.
- ``ann_lsh_topk``: the scale path. Random-hyperplane (sign-bit) LSH
  buckets corpus and queries; scoring happens only inside matching
  buckets (multi-probe over b bands), then the same final top-k.
  Recall < 1 by design — verified ≥ threshold against brute force in
  tests at sandbox scale.

Embedding near-dup pairs (cosine ≥ τ) reuse the LSH bucketing with a
pair-join instead of query scoring.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nipper_spark.operators.parallelism import ensure_min_parallelism
from nipper_spark.session import local_df


def _as_matrix(series: pd.Series) -> np.ndarray:
    return np.asarray([np.asarray(v, dtype=np.float32) for v in series])


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def ann_brute_topk(corpus: DataFrame, queries: list[tuple[int, list[float]]],
                   k: int = 10, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of each query against the corpus."""
    spark = corpus.sparkSession
    q_ids = [int(q) for q, _ in queries]
    q_mat = _normalize(np.asarray([v for _, v in queries],
                                  dtype=np.float32))
    bq = spark.sparkContext.broadcast((q_ids, q_mat))
    # narrow scans must not cap the scoring UDF's task count (guide §2.5)
    src = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            c = _normalize(_as_matrix(pdf["embedding"]))
            sims = c @ qm.T  # (corpus_batch, n_queries)
            kk = min(k, sims.shape[0])
            # local top-k per query only — tiny emission
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]
            out = {"query_id": [], "vec_id": [], "cosine": []}
            vec_ids = pdf["vec_id"].to_numpy()
            for qi, qid in enumerate(ids):
                rows = top[:, qi]
                out["query_id"].extend([qid] * len(rows))
                out["vec_id"].extend(vec_ids[rows].tolist())
                out["cosine"].extend(sims[rows, qi].astype(float).tolist())
            yield pd.DataFrame(out)

    local = src.mapInPandas(
        _score, schema="query_id long, vec_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(dim, n_bits)).astype(np.float32)


def lsh_bucket_udf(dim: int, n_bits: int = 16, bands: int = 4,
                   seed: int = 42):
    """array<float> → array<int> of ``bands`` bucket codes (sign-bit LSH,
    n_bits/bands bits per band). One numpy matmul per Arrow batch.
    A band code keeps 24 bits below its ``b << 24`` band tag, so more
    bits per band would overlap the tag and wrap the int32 codes."""
    bits_per_band = n_bits // bands
    if bits_per_band > 24:
        raise ValueError(f"lsh_bucket_udf: n_bits // bands = "
                         f"{bits_per_band} > 24 bits per band")
    planes = _hyperplanes(dim, n_bits, seed)

    @F.pandas_udf("array<int>")
    def _buckets(vec: pd.Series) -> pd.Series:
        m = _as_matrix(vec)
        signs = (m @ planes) > 0  # (n, n_bits)
        weights = (1 << np.arange(bits_per_band)).astype(np.int64)
        # one reshape+matmul replaces the per-row/per-band Python loop:
        # row-chunk b is exactly signs[i, b*bpb:(b+1)*bpb], so the
        # codes are identical to the scalar formulation
        codes = (signs.reshape(len(m), bands, bits_per_band) @ weights
                 + (np.arange(bands, dtype=np.int64) << 24)[None, :])
        return pd.Series(list(codes.astype(np.int32)))

    return _buckets


def ann_lsh_topk(corpus: DataFrame, queries: list[tuple[int, list[float]]],
                 k: int = 10, n_bits: int = 16, bands: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 seed: int = 42) -> DataFrame:
    """LSH-bucketed ANN: score only corpus rows sharing ≥1 band bucket
    with the query (multi-probe via the bands), exact cosine inside."""
    spark = corpus.sparkSession
    dim = len(queries[0][1])
    buckets = lsh_bucket_udf(dim, n_bits, bands, seed)
    # candidate generation on (vec_id, bucket) ONLY: the corpus vectors
    # must not ride the bands× bucket explode — the (query_id, vec_id)
    # dedup exchange would otherwise carry bands× embeddings
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.explode(buckets(F.col(vec_col))).alias("bucket"))
    qdf = local_df(
        spark, [(int(q), [float(x) for x in v]) for q, v in queries],
        "query_id long, q_embedding array<float>")
    q = qdf.select("query_id",
                   F.explode(buckets(F.col("q_embedding"))).alias("bucket"))
    cand = (c.join(F.broadcast(q), "bucket")
            .select("query_id", "vec_id")
            .dropDuplicates(["query_id", "vec_id"]))
    # embeddings join back by id AFTER dedup (candidates ≪ corpus), the
    # broadcast query table re-attaches q_embedding by query_id
    withv = (cand
             .join(corpus.select(F.col(id_col).alias("vec_id"),
                                 F.col(vec_col).alias("embedding")),
                   "vec_id")
             .join(F.broadcast(qdf), "query_id"))

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    scored = withv.withColumn("cosine", _cos("embedding", "q_embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (scored.select("query_id", "vec_id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_lsh_topk_df(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    n_bits: int = 16, bands: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "query_id",
                    q_vec_col: str = "q_embedding",
                    seed: int = 42) -> DataFrame:
    """LSH ANN with a query TABLE: same semantics as `ann_lsh_topk`,
    but the query side is a DataFrame end to end — bucket codes for
    BOTH sides come from the same `lsh_bucket_udf`, candidates are an
    equi-join on the band bucket (neither side collected; AQE
    broadcasts the query side when it is small), so a 10⁷-row query
    table works. Only the dim probe reads one corpus row on the
    driver. Output: (query_id, vec_id, cosine, rank) — identical to
    `ann_lsh_topk` on the same queries (same planes, same float op
    order)."""
    dim = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    buckets = lsh_bucket_udf(dim, n_bits, bands, seed)
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.explode(buckets(F.col(vec_col))).alias("bucket"))
    qdf = queries.select(F.col(q_id_col).alias("query_id"),
                         F.col(q_vec_col).alias("q_embedding"))
    q = qdf.select("query_id",
                   F.explode(buckets(F.col("q_embedding"))).alias("bucket"))
    cand = (c.join(q, "bucket")
            .select("query_id", "vec_id")
            .dropDuplicates(["query_id", "vec_id"]))
    withv = (cand
             .join(corpus.select(F.col(id_col).alias("vec_id"),
                                 F.col(vec_col).alias("embedding")),
                   "vec_id")
             .join(qdf, "query_id"))

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    scored = withv.withColumn("cosine", _cos("embedding", "q_embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (scored.select("query_id", "vec_id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _kmeans_centroids(sample: np.ndarray, k: int, iters: int = 8,
                      seed: int = 42) -> np.ndarray:
    """Deterministic mini k-means (fixed seed/iters, ties by index) on
    a driver-side sample — the IVF coarse quantizer. Pure numpy, so the
    Spark path and any oracle share exact float behavior."""
    rng = np.random.RandomState(seed)
    sample = _normalize(sample.astype(np.float32))
    idx = rng.choice(len(sample), size=min(k, len(sample)), replace=False)
    cent = sample[np.sort(idx)].copy()
    for _ in range(iters):
        sims = sample @ cent.T                     # cosine on unit vecs
        assign = np.argmax(sims, axis=1)           # first max wins (det.)
        for c in range(len(cent)):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


def ann_ivf_topk(corpus: DataFrame, queries: list[tuple[int, list[float]]],
                 k: int = 10, n_lists: int = 16, n_probe: int = 4,
                 sample_size: int = 2048, id_col: str = "vec_id",
                 vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """IVF ANN: k-means coarse quantizer → corpus sharded by nearest
    centroid (one shuffle key) → queries probe their ``n_probe``
    nearest lists only. The centroid table is broadcast; scoring is
    exact cosine inside the probed lists. Recall < 1 by design,
    verified ≥ threshold against brute force in tests."""
    spark = corpus.sparkSession
    src = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sample_rows = src.orderBy("vec_id").limit(sample_size).collect()
    sample = np.asarray([r["embedding"] for r in sample_rows],
                        dtype=np.float32)
    cent = _kmeans_centroids(sample, n_lists, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def _assign(vec: pd.Series) -> pd.Series:
        c = bc.value
        m = _normalize(_as_matrix(vec))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype("int32"))

    sharded = src.withColumn("list_id", _assign(F.col("embedding")))

    qm = _normalize(np.asarray([v for _, v in queries], dtype=np.float32))
    sims = qm @ cent.T
    probe_rows = []
    for (qid, qv), row in zip(queries, sims):
        order = np.argsort(-row, kind="stable")[:n_probe]
        for lid in order:
            probe_rows.append((int(qid), [float(x) for x in qv], int(lid)))
    qdf = local_df(
        spark, probe_rows,
        "query_id long, q_embedding array<float>, list_id int")

    cand = sharded.join(F.broadcast(qdf), "list_id")

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    scored = cand.withColumn("cosine", _cos("embedding", "q_embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (scored.select("query_id", "vec_id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_ivf_topk_df(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    n_lists: int = 16, n_probe: int = 4,
                    sample_size: int = 2048, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    q_id_col: str = "query_id",
                    q_vec_col: str = "q_embedding",
                    seed: int = 42) -> DataFrame:
    """IVF ANN with a query TABLE: same semantics as `ann_ivf_topk`,
    but probe assignment runs in a pandas UDF over the broadcast
    centroids instead of a driver loop — the query side is never
    collected, so a 10⁷-row query table works. The list-id join is an
    equi-join both sides shuffle on (or the probed-query side
    broadcasts, when AQE sees it small); ``n_lists`` bounds that key's
    cardinality, so size it ≳ cluster parallelism at scale.

    Output: (query_id, vec_id, cosine, rank), exact cosine inside the
    probed lists — bit-identical to `ann_ivf_topk` on the same
    queries (shared centroid training + the same float32 op order in
    assignment and probing)."""
    spark = corpus.sparkSession
    src = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    # bounded, deterministic training sample (same contract as
    # ann_ivf_topk: order by id, first sample_size rows)
    sample_rows = src.orderBy("vec_id").limit(sample_size).collect()
    sample = np.asarray([r["embedding"] for r in sample_rows],
                        dtype=np.float32)
    cent = _kmeans_centroids(sample, n_lists, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def _assign(vec: pd.Series) -> pd.Series:
        c = bc.value
        m = _normalize(_as_matrix(vec))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype("int32"))

    sharded = src.withColumn("list_id", _assign(F.col("embedding")))

    @F.pandas_udf("array<int>")
    def _probe(vec: pd.Series) -> pd.Series:
        c = bc.value
        m = _normalize(_as_matrix(vec))
        sims = m @ c.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    q = queries.select(F.col(q_id_col).alias("query_id"),
                       F.col(q_vec_col).alias("q_embedding"))
    probes = q.select("query_id", "q_embedding",
                      F.explode(_probe(F.col("q_embedding")))
                      .alias("list_id"))
    cand = sharded.join(probes, "list_id")

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    scored = cand.withColumn("cosine", _cos("embedding", "q_embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (scored.select("query_id", "vec_id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# ----------------------------------------------------------------------
# IVF-PQ: product-quantized inverted lists (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011) — the
# memory-compressed scale path: the index stores m small codes per
# vector instead of the vector; queries score candidates with an
# asymmetric-distance lookup table and only the final top candidates
# are re-ranked against true vectors fetched by id.
# ----------------------------------------------------------------------

def _kmeans_l2(sample: np.ndarray, k: int, iters: int = 8,
               seed: int = 42) -> np.ndarray:
    """Deterministic plain-L2 k-means (PQ codebooks must not normalize
    — residual subvectors are not unit vectors)."""
    rng = np.random.RandomState(seed)
    sample = sample.astype(np.float32)
    idx = rng.choice(len(sample), size=min(k, len(sample)), replace=False)
    cent = sample[np.sort(idx)].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)  # first min wins (deterministic)
        for c in range(len(cent)):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def train_ivfpq(sample: np.ndarray, n_lists: int, m: int, k_pq: int,
                seed: int = 42) -> dict:
    """Coarse quantizer (cosine k-means, shared with IVF) + per-subspace
    L2 codebooks trained on coarse residuals. Pure function of the
    sample — engine and oracle train identically."""
    coarse = _kmeans_centroids(sample, n_lists, seed=seed)
    norm = _normalize(sample.astype(np.float32))
    assign = np.argmax(norm @ coarse.T, axis=1)
    resid = norm - coarse[assign]
    dim = sample.shape[1]
    sub = dim // m
    books = [
        _kmeans_l2(resid[:, j * sub:(j + 1) * sub], k_pq, seed=seed + j)
        for j in range(m)]
    return {"coarse": coarse, "books": books, "m": m, "sub": sub}


def pq_encode(vecs: np.ndarray, model: dict) -> tuple[np.ndarray,
                                                      np.ndarray]:
    """(n, dim) → (list_ids (n,), codes (n, m)) — shared pure kernel."""
    norm = _normalize(vecs.astype(np.float32))
    coarse, books = model["coarse"], model["books"]
    m, sub = model["m"], model["sub"]
    lists = np.argmax(norm @ coarse.T, axis=1)
    resid = norm - coarse[lists]
    codes = np.empty((len(vecs), m), dtype=np.int32)
    for j in range(m):
        rj = resid[:, j * sub:(j + 1) * sub]
        d = ((rj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d, axis=1)
    return lists, codes


def pq_adc_scores(q: np.ndarray, list_ids: np.ndarray,
                  codes: np.ndarray, model: dict) -> np.ndarray:
    """Approximate inner products of one (normalized) query against
    coded vectors: q·centroid + Σ_j q_j·book_j[code_j] — identical
    float32 op order in the engine UDF and the oracle twin."""
    coarse, books = model["coarse"], model["books"]
    m, sub = model["m"], model["sub"]
    base = (coarse @ q).astype(np.float32)[list_ids]
    luts = [(books[j] @ q[j * sub:(j + 1) * sub]).astype(np.float32)
            for j in range(m)]
    s = base
    for j in range(m):
        s = s + luts[j][codes[:, j]]
    return s


def ann_ivfpq_topk(corpus: DataFrame,
                   queries: list[tuple[int, list[float]]], k: int = 10,
                   n_lists: int = 16, m: int = 8, k_pq: int = 32,
                   n_probe: int = 4, rerank: int = 16,
                   sample_size: int = 2048, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   seed: int = 42) -> DataFrame:
    """IVF-PQ ANN: bounded driver sample trains coarse centroids + PQ
    codebooks (broadcast); the corpus is encoded to (list_id, m codes)
    — the index never ships vectors; queries probe n_probe lists,
    score candidates by ADC lookup, keep rerank·k per query, then
    re-rank those EXACTLY against true vectors joined back by id.
    Output: (query_id, vec_id, cosine, rank) with exact cosines.
    Defaults are tuned on clustered (Gaussian-mixture) corpora to
    recall@10 ≥ 0.9 vs brute force — growing the exact-rerank
    shortlist is cheaper than probing more lists (the shortlist is
    rerank·k ids per query; a probed list is corpus/n_lists codes)."""
    spark = corpus.sparkSession
    src = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sample_rows = src.orderBy("vec_id").limit(sample_size).collect()
    sample = np.asarray([r["embedding"] for r in sample_rows],
                        dtype=np.float32)
    model = train_ivfpq(sample, n_lists, m, k_pq, seed)
    bc = spark.sparkContext.broadcast(model)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mod = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lists, codes = pq_encode(_as_matrix(pdf["embedding"]), mod)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "list_id": lists.astype("int32"),
                "codes": list(codes)})

    coded = src.mapInPandas(
        _encode, schema="vec_id long, list_id int, codes array<int>")

    qm = _normalize(np.asarray([v for _, v in queries], dtype=np.float32))
    sims = qm @ model["coarse"].T
    probe_rows = []
    for (qid, _), row, qv in zip(queries, sims, qm):
        for lid in np.argsort(-row, kind="stable")[:n_probe]:
            probe_rows.append((int(qid), [float(x) for x in qv],
                               int(lid)))
    qdf = local_df(
        spark, probe_rows, "query_id long, q_norm array<float>, list_id int")
    cand = coded.join(F.broadcast(qdf), "list_id")

    @F.pandas_udf("float")
    def _adc(q_norm: pd.Series, list_id: pd.Series,
             codes: pd.Series) -> pd.Series:
        mod = bc.value
        if not len(q_norm):
            return pd.Series([], dtype="float32")
        out = np.empty(len(q_norm), dtype=np.float32)
        qarr = np.asarray([np.asarray(x, dtype=np.float32)
                           for x in q_norm])
        lids = list_id.to_numpy()
        cmat = np.asarray([np.asarray(c) for c in codes], dtype=np.int32)
        # group rows by identical query to share the LUTs
        keys = {}
        for i in range(len(qarr)):
            keys.setdefault(qarr[i].tobytes(), []).append(i)
        for qb, idxs in keys.items():
            ii = np.asarray(idxs)
            out[ii] = pq_adc_scores(np.frombuffer(qb, dtype=np.float32),
                                    lids[ii], cmat[ii], mod)
        return pd.Series(out)

    scored = cand.withColumn("adc", _adc("q_norm", "list_id", "codes"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("vec_id"))
    short = (scored.withColumn("_r", F.row_number().over(w_adc))
             .filter(F.col("_r") <= rerank * k)
             .select("query_id", "vec_id"))

    # exact re-rank: true vectors join back by id (the index itself
    # never carries them)
    withvec = short.join(src, "vec_id")
    qexact = local_df(
        spark, [(int(q), [float(x) for x in v]) for q, v in queries],
        "query_id long, q_embedding array<float>")
    withq = withvec.join(F.broadcast(qexact), "query_id")

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    final = withq.withColumn("cosine", _cos("embedding", "q_embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (final.select("query_id", "vec_id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_ivfpq_topk_df(corpus: DataFrame, queries: DataFrame, k: int = 10,
                      n_lists: int = 16, m: int = 8, k_pq: int = 32,
                      n_probe: int = 4, rerank: int = 16,
                      sample_size: int = 2048, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      q_id_col: str = "query_id",
                      q_vec_col: str = "q_embedding",
                      seed: int = 42) -> DataFrame:
    """IVF-PQ with a query TABLE: probe assignment + query
    normalization run in pandas UDFs over the broadcast model — the
    query side is never collected (the `ann_ivfpq_topk` twin loops a
    driver list). Same codes, same ADC shortlist, same exact re-rank;
    bit-equal to the list variant on the same queries."""
    spark = corpus.sparkSession
    src = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sample_rows = src.orderBy("vec_id").limit(sample_size).collect()
    sample = np.asarray([r["embedding"] for r in sample_rows],
                        dtype=np.float32)
    model = train_ivfpq(sample, n_lists, m, k_pq, seed)
    bc = spark.sparkContext.broadcast(model)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mod = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lists, codes = pq_encode(_as_matrix(pdf["embedding"]), mod)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "list_id": lists.astype("int32"),
                "codes": list(codes)})

    coded = src.mapInPandas(
        _encode, schema="vec_id long, list_id int, codes array<int>")

    @F.pandas_udf("array<float>")
    def _qnorm(vec: pd.Series) -> pd.Series:
        mnorm = _normalize(_as_matrix(vec))
        return pd.Series([row.tolist() for row in mnorm])

    @F.pandas_udf("array<int>")
    def _probe(q_norm: pd.Series) -> pd.Series:
        coarse = bc.value["coarse"]
        mq = _as_matrix(q_norm)
        sims = mq @ coarse.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    q = queries.select(F.col(q_id_col).alias("query_id"),
                       F.col(q_vec_col).alias("q_embedding"))
    qn = q.withColumn("q_norm", _qnorm(F.col("q_embedding")))
    probes = qn.select("query_id", "q_norm",
                       F.explode(_probe(F.col("q_norm")))
                       .alias("list_id"))
    cand = coded.join(probes, "list_id")

    @F.pandas_udf("float")
    def _adc(q_norm: pd.Series, list_id: pd.Series,
             codes: pd.Series) -> pd.Series:
        mod = bc.value
        if not len(q_norm):
            return pd.Series([], dtype="float32")
        out = np.empty(len(q_norm), dtype=np.float32)
        qarr = np.asarray([np.asarray(x, dtype=np.float32)
                           for x in q_norm])
        lids = list_id.to_numpy()
        cmat = np.asarray([np.asarray(c) for c in codes], dtype=np.int32)
        keys = {}
        for i in range(len(qarr)):
            keys.setdefault(qarr[i].tobytes(), []).append(i)
        for qb, idxs in keys.items():
            ii = np.asarray(idxs)
            out[ii] = pq_adc_scores(np.frombuffer(qb, dtype=np.float32),
                                    lids[ii], cmat[ii], mod)
        return pd.Series(out)

    scored = cand.withColumn("adc", _adc("q_norm", "list_id", "codes"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("vec_id"))
    short = (scored.withColumn("_r", F.row_number().over(w_adc))
             .filter(F.col("_r") <= rerank * k)
             .select("query_id", "vec_id"))
    withvec = short.join(src, "vec_id").join(q, "query_id")

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    final = withvec.withColumn("cosine", _cos("embedding", "q_embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (final.select("query_id", "vec_id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def embedding_near_dup_pairs(vectors: DataFrame, threshold: float = 0.95,
                             n_bits: int = 16, bands: int = 8,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             seed: int = 42,
                             max_bucket: int = 64) -> DataFrame:
    """Pairs with cosine ≥ threshold via shared-LSH-bucket candidates;
    oversized buckets are capped to star edges (`max_bucket`, see
    `dedup.bucket_candidate_pairs`). Output: (id_a, id_b, cosine),
    id_a < id_b."""
    from .dedup import _capped_candidates
    sample = vectors.select(vec_col).first()
    dim = len(sample[0])
    buckets = lsh_bucket_udf(dim, n_bits, bands, seed)
    # candidate generation on (id, bucket) ONLY: the vectors must not
    # ride the bands× bucket explode through the self-join shuffle
    v = ensure_min_parallelism(vectors).select(
        F.col(id_col).alias("id"),
        F.explode(buckets(F.col(vec_col))).alias("bucket"))
    cand = _capped_candidates(v, ["bucket"], max_bucket)
    # join vectors back by id for exact-cosine verification — the pair
    # table is ≪ corpus, so this costs two id-keyed joins, not bands×
    # copies of every vector
    vecs = vectors.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("vec"))
    cand = (cand
            .join(vecs.withColumnRenamed("id", "id_a")
                      .withColumnRenamed("vec", "vec_a"), "id_a")
            .join(vecs.withColumnRenamed("id", "id_b")
                      .withColumnRenamed("vec", "vec_b"), "id_b"))

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(b))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    # deterministic, but marked nondeterministic so Catalyst cannot
    # substitute the UDF into the pushed-down threshold filter and
    # run the cosine verify twice per pair (see dedup.minhash_lsh_pairs)
    _cos = _cos.asNondeterministic()

    return (cand.withColumn("cosine", _cos("vec_a", "vec_b"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def embedding_near_dup_incremental(new_vecs: DataFrame,
                                   store_vecs: DataFrame,
                                   threshold: float = 0.95,
                                   n_bits: int = 16, bands: int = 8,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   seed: int = 42,
                                   max_bucket: int = 64) -> DataFrame:
    """Embedding near-dup pairs for an INCREMENTAL batch vs a persisted
    (id, embedding) store — every pair touches at least one new vector
    (store-vs-store pairs were emitted by earlier runs). Same
    hyperplane-LSH bucketing and capped-bucket candidate kernel as
    :func:`embedding_near_dup_pairs`; exact-cosine verification joins
    vectors back by id from the union, so only the candidate pairs pay
    for vector movement. Output: (id_a, id_b, cosine), id_a < id_b.
    Assumes monotone batch ids like the text-side incremental dedup.
    """
    from .dedup import _capped_candidates
    sample = new_vecs.select(vec_col).first()
    if sample is None:  # empty incremental batch → no pairs by contract
        return local_df(new_vecs.sparkSession, [],
                        "id_a long, id_b long, cosine double")
    dim = len(sample[0])
    buckets = lsh_bucket_udf(dim, n_bits, bands, seed)
    union = (new_vecs.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("vec"),
                             F.lit(True).alias("is_new"))
             .unionByName(store_vecs.select(
                 F.col(id_col).alias("id"),
                 F.col(vec_col).alias("vec"),
                 F.lit(False).alias("is_new"))))
    b = ensure_min_parallelism(union).select(
        "id", "is_new", F.explode(buckets(F.col("vec"))).alias("bucket"))
    cand = (_capped_candidates(b, ["bucket"], max_bucket,
                               payload_cols=["is_new"])
            .filter(F.col("is_new_a") | F.col("is_new_b")))
    vecs = union.select("id", "vec")
    cand = (cand
            .join(vecs.withColumnRenamed("id", "id_a")
                      .withColumnRenamed("vec", "vec_a"), "id_a")
            .join(vecs.withColumnRenamed("id", "id_b")
                      .withColumnRenamed("vec", "vec_b"), "id_b"))

    @F.pandas_udf("double")
    def _cos(a: pd.Series, bv: pd.Series) -> pd.Series:
        ma = _normalize(_as_matrix(a))
        mb = _normalize(_as_matrix(bv))
        return pd.Series((ma * mb).sum(axis=1).astype(float))

    _cos = _cos.asNondeterministic()
    return (cand.withColumn("cosine", _cos("vec_a", "vec_b"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))
