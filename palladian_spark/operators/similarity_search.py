"""Approximate-nearest-neighbor search over an embedding column
(array<float>).

- brute-force cosine top-k: the exactness baseline; crossJoin against a
  broadcast query set, cosine via an Arrow-batched numpy UDF.
- LSH-bucketed variant: signed-random-projection buckets bound the
  candidate space — the 100 TB path (bucket shuffle instead of full cross).

All vector math runs in numpy inside pandas UDFs: Catalyst higher-order
functions (zip_with/aggregate lambdas) are interpreted per element with no
whole-stage codegen, and a per-hyperplane nested-lambda expression
additionally costs seconds of analysis time per query (PLANS.md bans the
pattern; this module previously violated it). SRP hyperplanes are integer
weights derived cell-by-cell from md5 (a pure function of (dim, n_planes,
seed)) and the projection runs in fixed-point int64, so a DuckDB oracle
recomputes bit-identical buckets — the ``ann_ivf_topk`` seeded-determinism
pattern applied to the SRP family.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType
from pyspark.sql.window import Window

from .util import member_pairs, spread


def _top_k(
    df: DataFrame, query_id_col: str, id_col: str, score_col: str, k: int
) -> DataFrame:
    """The best ``k`` rows of each query, by score descending then id,
    numbered in a ``rank`` column."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.asc(id_col))
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _non_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop null/empty embedding rows BEFORE any numpy UDF: np.array over a
    batch containing None builds a ragged object array and the matmul/einsum
    throws, killing the stage — and at 10^12 rows null vectors WILL occur.
    A null/empty vector cannot participate in similarity, so filtering is
    the semantics, not a workaround (cheap JVM predicate, pushed to scan)."""
    return df.where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))


def _stack_valid(vecs: list, dim: int | None = None):
    """(rows, dim) float64 matrix over the batch's CONFORMING vectors plus
    the boolean keep-mask. A 10^12-row corpus WILL contain dimension-corrupt
    rows (truncated writes, schema drift); np.array over a ragged batch
    builds an object array and the matmul kills the stage, so deviant rows
    are masked out here and surface as null scores/buckets (excluded from
    similarity, like null vectors) instead of failing the job. With no
    expected ``dim`` the batch's first valid row sets it."""
    lens = np.fromiter(
        (len(v) if v is not None else -1 for v in vecs), dtype=np.int64, count=len(vecs)
    )
    if dim is None:
        valid = lens[lens > 0]
        if valid.size == 0:
            return np.zeros((0, 1), dtype=np.float64), lens > 0
        # modal length, not first-row length: a corrupt row that happens to
        # lead the batch must not redefine the batch's dimensionality
        dim = int(np.bincount(valid).argmax())
    ok = lens == dim
    if not ok.any():
        return np.zeros((0, dim), dtype=np.float64), ok
    mat = np.array([vecs[i] for i in np.nonzero(ok)[0]], dtype=np.float64)
    return mat, ok


# Fixed-point grain of the SRP projection and the PQ codes and tables:
# vectors quantize to floor(v * 2^20 + 0.5). 2^20 keeps the quantization
# error (~1e-6 relative) far below any angle the sketch can resolve while
# leaving int64 headroom: |dot| <= dim * |v| * 2^40, exact for
# |v| * dim < 2^23.
_SRP_SCALE = 1 << 20


def _iq(mat: np.ndarray) -> np.ndarray:
    """The fixed-point grid, int64: floor(x * 2^20 + 0.5) — the formulation
    the DuckDB oracles replay (``floor(x * 1048576.0 + 0.5)``), so every
    integer product built on it is bit-identical across engines."""
    return np.floor(mat * _SRP_SCALE + 0.5).astype(np.int64)


def _query_vectors(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    """The query side every top-k operator scores against: (query id,
    ``_qvec``) of the non-null query vectors. Callers broadcast it where
    they join it (queries are a broadcast-sized set)."""
    return _non_null_vectors(queries, vec_col).select(
        query_id_col, F.col(vec_col).alias("_qvec")
    )


@F.pandas_udf(DoubleType())
def _cosine_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """Pairwise cosine, rounded to 6 decimals (matches the DuckDB oracle's
    ``round(list_dot_product(a,b)/(sqrt(..)*sqrt(..)), 6)`` formulation —
    same op order, so float drift stays below the rounding grain).
    Length-mismatched pairs score null (undefined similarity, ranks last)."""
    lvals, rvals = left.tolist(), right.tolist()
    ok = np.fromiter(
        (
            a is not None and b is not None and len(a) == len(b) > 0
            for a, b in zip(lvals, rvals)
        ),
        dtype=bool,
        count=len(lvals),
    )
    out = np.full(len(lvals), np.nan)
    if ok.any():
        idx = np.nonzero(ok)[0]
        # per-length groups: one vectorized pass per distinct dim in batch
        by_len: dict[int, list[int]] = {}
        for i in idx:
            by_len.setdefault(len(lvals[i]), []).append(i)
        for rows in by_len.values():
            a = np.array([lvals[i] for i in rows], dtype=np.float64)
            b = np.array([rvals[i] for i in rows], dtype=np.float64)
            dots = np.einsum("ij,ij->i", a, b)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            nb = np.sqrt(np.einsum("ij,ij->i", b, b))
            denom = na * nb
            denom[denom == 0.0] = 1.0
            out[rows] = np.round(dots / denom, 6)
    # object dtype so masked rows are real NULLs — a float-dtype NaN would
    # survive as NaN, and Spark orders NaN ABOVE every value in desc sorts,
    # which would rank corrupt pairs first instead of last
    return pd.Series(
        [float(v) if k else None for k, v in zip(ok, out)], dtype="object"
    )


# Pinned: a UDF whose output a predicate reads (`cosine >= threshold`, a
# join's inferred `isnotnull(_cell)`, ivfpq_topk's `_codes IS NOT NULL`)
# is marked nondeterministic only to keep it in place, as
# canonicalize._jw_udf. A deterministic one lets Catalyst push the
# predicate through the projection, and below the spread() repartition,
# so it runs twice per row. The top-k operators filter no cosine and use
# the deterministic _cosine_udf.
_pinned_cosine_udf = F.pandas_udf(_cosine_udf.func, DoubleType()).asNondeterministic()


def _cosine_top_k(
    cand: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    score_col: str = "cosine",
) -> DataFrame:
    """The cosine-rank tail of every top-k operator: exact cosine of each
    (query, row) candidate's ``vec_col`` against its ``_qvec``, then each
    query's best ``k``."""
    scored = cand.select(
        query_id_col,
        id_col,
        _cosine_udf(F.col(vec_col), F.col("_qvec")).alias(score_col),
    )
    return _top_k(scored, query_id_col, id_col, score_col, k)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Queries must be small (broadcast):
    the corpus side streams once through the crossJoin; never use this for
    corpus-vs-corpus (that is lsh_topk / embedding_near_duplicates)."""
    q = F.broadcast(_query_vectors(queries, query_id_col, vec_col))
    # single-split embedding tables would run every cosine batch on one
    # core; no-op when the scan already has >= parallelism splits
    embeddings = spread(_non_null_vectors(embeddings, vec_col))
    return _cosine_top_k(embeddings.crossJoin(q), k, query_id_col, id_col, vec_col)


@lru_cache(maxsize=32)
def _srp_plane_ints(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Integer SRP hyperplane weights, (n_planes, dim) int64 in
    [-2^20, 2^20): w[p][d] = md5_lower64('srp:{seed}:{p}:{d}') mod 2^21
    - 2^20, where md5_lower64 = little-endian int of md5 digest bytes
    8..16 — exactly DuckDB's ``md5_number_lower``, so an oracle SQL can
    regenerate the identical plane family. Combined with the fixed-point
    vector quantization the whole projection is int64 arithmetic: no
    float-summation-order drift between engines, ever."""
    out = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"srp:{seed}:{p}:{d}".encode()).digest()
            out[p, d] = int.from_bytes(h[8:16], "little") % (1 << 21) - (1 << 20)
    return out


def _make_buckets_udf(n_planes: int, n_tables: int, seed: int = 42, dim: int | None = None):
    """SRP bucket ids per row, one per hash table (OR-amplification): the
    plane family is one (n_tables * n_planes, dim) int64 matrix, sliced per
    table; bit i of table t's bucket = sign(iq(vec) . plane_{t*n_planes+i})
    with iq = floor(v * 2^20 + 0.5). One integer matmul per Arrow batch.

    ``dim`` is the table-global vector width (callers derive it once via
    _table_dim); rows of any other length mask to null buckets. Only when
    dim is None does the batch's modal length decide — per-batch inference
    can mis-mask a batch where identically-corrupt rows outnumber valid
    ones."""

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        lists = vecs.tolist()
        mat, ok = _stack_valid(lists, dim)
        out: list = [None] * len(lists)
        if mat.shape[0]:
            planes = _srp_plane_ints(mat.shape[1], n_planes * n_tables, seed)
            bits = (_iq(mat) @ planes.T) >= 0  # (rows, n_tables*n_planes)
            bits = bits.reshape(mat.shape[0], n_tables, n_planes)
            weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
            buckets = (bits @ weights).astype(np.int64)  # (rows, n_tables)
            for row, i in zip(buckets, np.nonzero(ok)[0]):
                out[i] = row
        # dim-corrupt rows keep None -> the callers' posexplode drops them
        # (cannot participate)
        return pd.Series(out, dtype="object")

    return _buckets


def _table_dim(df: DataFrame, vec_col: str, sample: int = 1000) -> int | None:
    """Table-global embedding width: the modal length over the first
    ``sample`` non-null vectors. Bounded work (limit before the agg, so the
    scan stops early regardless of table size); modal, not first-row, so a
    corrupt row that happens to lead the table cannot define the dim."""
    row = (
        _non_null_vectors(df, vec_col)
        .select(F.size(F.col(vec_col)).alias("d"))
        .limit(sample)
        .groupBy("d")
        .count()
        .orderBy(F.desc("count"), F.asc("d"))
        .first()
    )
    return int(row["d"]) if row else None


def _explode_tables(df: DataFrame, bucket_udf, vec_col: str) -> DataFrame:
    """(row, [b_0..b_L]) -> one row per (table_id, bucket)."""
    return df.select(
        *df.columns, F.posexplode(bucket_udf(F.col(vec_col))).alias("_t", "_bucket")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """SRP-LSH candidate buckets -> exact cosine within bucket -> top-k.

    OR-amplified across ``n_tables`` independent plane sets: a corpus row is
    a candidate if it shares a bucket with the query in ANY table, so recall
    for a neighbor at angle theta is 1-(1-p^b)^L with p = 1 - theta/pi.
    Raise ``n_planes`` for tighter buckets (high-similarity regimes, big
    corpora); raise ``n_tables`` to buy recall. Approximate by design:
    documented recall loss for rows that collide in no table.

    The corpus-vs-corpus scale path: the join is an equi-join on
    (table_id, bucket), so only same-bucket candidates ever pay the Arrow
    cosine hop; cross-table duplicate candidates are deduped on the
    (query, id) pair BEFORE scoring.
    """
    bucket_udf = _make_buckets_udf(
        n_planes, n_tables, dim=_table_dim(embeddings, vec_col)
    )
    # corpus side only (the query side is broadcast — spreading it would
    # just add a shuffle in front of a tiny table)
    emb_b = _explode_tables(
        spread(_non_null_vectors(embeddings, vec_col)), bucket_udf, vec_col
    )
    q_b = F.broadcast(
        _explode_tables(_query_vectors(queries, query_id_col, vec_col), bucket_udf, "_qvec")
    )
    cand = emb_b.join(q_b, ["_t", "_bucket"]).dropDuplicates(
        [query_id_col, id_col]
    )
    return _cosine_top_k(cand, k, query_id_col, id_col, vec_col)


def _seed_rows(
    embeddings: DataFrame,
    n: int,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> list:
    """The seed sample both codebooks are cut from: the ``n`` non-null
    vectors with the smallest md5(id) hex (ties by id), of length ``dim``
    when one is given, as (id, vector) rows in that order — so any prefix
    is the sample of the smaller size, and ivfpq_topk cuts the IVF and the
    PQ codebook from one collect.

    A bounded collect (codebook size is a parameter, like a broadcast
    dimension table — NOT data-sized). Seeded by hash, NOT lowest-id: at
    scale ids correlate with ingest order and topic, so lowest-id seeds
    can all land in one cluster and the codebook degenerates (measured:
    clustered-corpus PQ recall 0.0 with lowest-id seeds, ~1.0 with hash
    seeds; IVF-PQ 0.76 -> 1.0). The dim filter runs BEFORE the limit, the
    same set the DuckDB oracles' modal-dim-filtered `order by md5(vec_id),
    vec_id limit n` selects; md5 hex compares identically as a string on
    both engines, and orderBy+limit runs as a TakeOrdered — no
    global-window shuffle. A production build would Lloyd-refine these
    seeds, which changes codeword VALUES but none of the assignment,
    encode or ADC plumbing."""
    pool = _non_null_vectors(embeddings, vec_col)
    if dim is not None:
        pool = pool.where(F.size(F.col(vec_col)) == F.lit(dim))
    return (
        pool.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n)
        .collect()
    )


def _centroid_matrix(rows: list) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic coarse-quantizer codebook over ``_seed_rows``: the
    centroid ids and their (n, dim) float64 matrix."""
    # SELECTION is by hash (diversity); matrix ORDER is id-ascending —
    # _make_probe_udf ties by array position (stable argsort), and the
    # oracle ties by `order by cos desc, c_id`, so the positions must be
    # id-sorted or duplicate seed vectors assign divergent cells
    # (review-caught: two identical seeds tie at cosine 1.0 and each
    # engine picked a different one under md5 ordering)
    rows = sorted(rows, key=lambda r: r[0])
    if not rows:
        # fully-null/empty embedding table: keep the codebook 2-D so the
        # eager norm in _make_probe_udf stays well-formed; the corpus side
        # is empty after the same filter, so no batch ever hits the matmul
        return np.zeros(0, dtype=np.int64), np.zeros((0, 1), dtype=np.float64)
    # seeds sampled without a table dim may hold a dim-corrupt row: it must
    # not enter (or ragged-crash) the codebook, so keep only rows of the
    # modal length
    lists = [list(r[1]) for r in rows]
    mat, ok = _stack_valid(lists)
    ids = np.array([r[0] for r, keep in zip(rows, ok) if keep], dtype=np.int64)
    return ids, mat


def _make_probe_udf(cent_ids: np.ndarray, cent_vecs: np.ndarray, n_probe: int):
    """array<long> of the ``n_probe`` nearest centroid ids per vector,
    nearest-first. One matmul per Arrow batch against the broadcast codebook.
    Cosine is rounded to 6 decimals BEFORE the argsort (same op order as the
    DuckDB oracle) so assignment ties break identically on both engines:
    stable argsort over ids-ascending centroids == `order by cos desc, c_id`.
    """
    cnorm = np.sqrt(np.einsum("ij,ij->i", cent_vecs, cent_vecs))
    cnorm[cnorm == 0.0] = 1.0

    @F.pandas_udf(ArrayType(LongType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        lists = vecs.tolist()
        mat, ok = _stack_valid(lists, cent_vecs.shape[1])
        out: list = [None] * len(lists)
        if mat.shape[0]:
            vnorm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            vnorm[vnorm == 0.0] = 1.0
            cos = np.round((mat @ cent_vecs.T) / (vnorm[:, None] * cnorm[None, :]), 6)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]
            probed = cent_ids[order]
            for row, i in zip(probed, np.nonzero(ok)[0]):
                out[i] = row
        # dim-corrupt rows keep None -> null cell -> equi-join drops them
        return pd.Series(out, dtype="object")

    return _probe.asNondeterministic()  # pinned: see _pinned_cosine_udf


def refine_centroids(
    embeddings: DataFrame,
    cent_ids: np.ndarray,
    cent_vecs: np.ndarray,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd refinement of the seeded codebook: assign every corpus vector
    to its nearest centroid (the same Arrow matmul as search-time
    assignment), then recompute each centroid as the member mean — the
    k-means step proper, run ``iters`` times.

    Distributed shape: the mean is ONE partial+final aggregation per
    iteration — explode vectors to (cell, dim_pos, value), groupBy
    (cell, dim_pos) avg — so per-iteration shuffle volume is
    n_centroids * dim doubles regardless of corpus size; the collect is
    bounded by the codebook size. Empty cells keep their previous centroid
    (the standard k-means convention). Refinement changes centroid VALUES
    only; assignment/probe/search plumbing (and their plans) are identical,
    which is why the oracle-facing contract query stays on the seeded
    codebook while refinement is pytest-gated for exact parity with a
    numpy reference implementation."""
    corpus = _non_null_vectors(embeddings, vec_col)
    for _ in range(iters):
        assign1 = _make_probe_udf(cent_ids, cent_vecs, 1)
        assigned = spread(corpus.select(vec_col)).withColumn(
            "_cell", F.element_at(assign1(F.col(vec_col)), 1)
        )
        sums = (
            assigned.select("_cell", F.posexplode(vec_col).alias("_p", "_v"))
            .groupBy("_cell", "_p")
            .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new_vecs = cent_vecs.copy()
        by_cell: dict[int, list] = {}
        for r in sums:
            # null cell = dim-corrupt row (assignment UDF masks it);
            # out-of-range pos = a corrupt row longer than the codebook dim
            if r["_cell"] is None or r["_p"] >= cent_vecs.shape[1]:
                continue
            by_cell.setdefault(r["_cell"], []).append(r)
        idx_of = {int(c): i for i, c in enumerate(cent_ids)}
        for cell, rows in by_cell.items():
            vec = np.zeros(cent_vecs.shape[1], dtype=np.float64)
            for r in rows:
                vec[r["_p"]] = r["_s"] / r["_n"]
            new_vecs[idx_of[int(cell)]] = vec
        cent_vecs = new_vecs
    return cent_vecs


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: coarse-quantize the corpus into
    ``n_centroids`` cells, probe the ``n_probe`` nearest cells per query,
    exact cosine only within probed cells.

    The 100 TB path when queries outnumber what brute-force can stream:
    corpus assignment is one matmul per Arrow batch; the search join is an
    equi-join on the cell id, so each query pays ~n_probe/n_centroids of the
    corpus instead of all of it. Cell sizes follow the data distribution —
    a hot cell (skew) is handled the same way as any skewed join key: AQE
    skew-join splitting, or salt the cell id and replicate the probe side.
    Approximate by design: a true neighbor assigned to an unprobed cell is
    missed; recall vs the exact baseline is pytest-gated.
    """
    cent_ids, cent_vecs = _centroid_matrix(
        _seed_rows(embeddings, n_centroids, id_col, vec_col, _table_dim(embeddings, vec_col))
    )
    if lloyd_iters and cent_ids.size:
        cent_vecs = refine_centroids(
            embeddings, cent_ids, cent_vecs, iters=lloyd_iters,
            id_col=id_col, vec_col=vec_col,
        )
    assign1 = _make_probe_udf(cent_ids, cent_vecs, 1)
    probe_n = _make_probe_udf(cent_ids, cent_vecs, n_probe)

    corpus = spread(_non_null_vectors(embeddings, vec_col)).select(
        id_col, vec_col
    )
    # element_at over the 1-probe array (not a scalar-UDF variant): the
    # single UDF family keeps tie-breaking provably identical on both sides
    corpus = corpus.withColumn("_cell", F.element_at(assign1(F.col(vec_col)), 1))

    q_probe = F.broadcast(
        _query_vectors(queries, query_id_col, vec_col).select(
            query_id_col, "_qvec", F.explode(probe_n(F.col("_qvec"))).alias("_cell")
        )
    )

    cand = corpus.join(q_probe, "_cell").dropDuplicates([query_id_col, id_col])
    return _cosine_top_k(cand, k, query_id_col, id_col, vec_col)


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column to int8
    codes: (vec_id, pos, code) with code = floor((v - min_d) * 255 /
    (max_d - min_d) + 0.5) - 128 over each dimension's corpus min/max.

    The 100 TB storage/scan path: int8 codes cut vector bytes 4× (and ANN
    candidate scans with them); rescoring on the float column touches only
    the final top-k candidates. Pure JVM plan — one partial+final agg for
    the per-dimension stats (output bounded by dim, broadcast back), then a
    codegen projection; no Python anywhere.

    floor(x + 0.5), NOT round(): numpy rounds half-to-even, DuckDB/Spark
    round half-away-from-zero — floor(+0.5) is the one formulation every
    engine computes identically, which is what makes the operator
    hash-verifiable cross-engine. A constant dimension (max == min)
    quantizes to code 0.
    """
    e = spread(_non_null_vectors(embeddings, vec_col)).select(id_col, vec_col)
    vals = e.select(id_col, F.posexplode(vec_col).alias("pos", "val"))
    stats = vals.groupBy("pos").agg(
        F.min("val").alias("_mn"), F.max("val").alias("_mx")
    )
    joined = vals.join(F.broadcast(stats), "pos")
    code = (
        F.when(F.col("_mx") == F.col("_mn"), F.lit(0))
        .otherwise(
            F.floor(
                (F.col("val") - F.col("_mn"))
                * F.lit(255.0)
                / (F.col("_mx") - F.col("_mn"))
                + F.lit(0.5)
            ).cast("int")
            - F.lit(128)
        )
    )
    return joined.select(
        id_col, F.col("pos").cast("long").alias("pos"), code.alias("code")
    )


def _pq_codebook(rows: list, m: int) -> np.ndarray | None:
    """Product-quantization codebook over ``_seed_rows`` of the table dim:
    the seed vectors on the fixed-point grid, sliced into ``m`` subvectors.
    Returns (m, n_cells, dim//m) int64, or None when the table has no
    conforming rows or its dim does not split into ``m`` equal subvectors.
    Seeded-deterministic like the IVF codebook, so a DuckDB oracle
    regenerates the identical codewords from the table itself."""
    if not rows or len(rows[0][1]) % m:
        return None
    iq = _iq(np.array([r[1] for r in rows], dtype=np.float64))  # (cells, dim)
    # (cells, m, ds) -> (m, cells, ds)
    return iq.reshape(len(rows), m, -1).transpose(1, 0, 2).copy()


def _make_pq_codes_udf(codebook: np.ndarray):
    """array<int> of ``m`` PQ codes per vector: code_s = argmin over cells
    of the integer squared L2 distance between the vector's s-th fixed-point
    subvector and the codeword. Ties break to the LOWEST cell index
    (np.argmin first-occurrence == the oracle's `order by dist, cell`).
    All arithmetic is int64 on a 2^20 fixed-point grid — |diff| <= 2^24 for
    |v| <= 16, so per-subspace distances stay < 2^53 and are bit-identical
    across engines (no float summation order, ever). Rows not of the
    codebook's dim code to null (masked, cannot participate)."""
    m, n_cells, ds = codebook.shape

    @F.pandas_udf(ArrayType(LongType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        lists = vecs.tolist()
        mat, ok = _stack_valid(lists, m * ds)
        out: list = [None] * len(lists)
        if mat.shape[0]:
            iq = _iq(mat).reshape(mat.shape[0], m, ds)
            codes = np.empty((mat.shape[0], m), dtype=np.int64)
            for s in range(m):  # loop keeps peak memory at rows*cells*ds
                diff = iq[:, s, None, :] - codebook[s][None, :, :]
                dist = np.einsum("rcd,rcd->rc", diff, diff)
                codes[:, s] = np.argmin(dist, axis=1)
            for row, i in zip(codes, np.nonzero(ok)[0]):
                out[i] = row
        return pd.Series(out, dtype="object")

    return _codes


def _adc_query_side(
    queries: DataFrame, codebook: np.ndarray, query_id_col: str, vec_col: str
) -> tuple[np.ndarray, DataFrame] | None:
    """The query side of both PQ operators: the queries of the codebook's
    dim, sorted by id, as their ADC tables T[q, s, c] = <iq(q_sub_s),
    codeword_{s,c}> — (n_q, m, n_cells) int64, exact — and the broadcast
    map (``_qi``, query id) from a table row to its query. None when no
    query has the codebook's dim."""
    m, _, ds = codebook.shape
    # bounded collect: queries are a broadcast-sized set (like brute force)
    rows = _non_null_vectors(queries, vec_col).select(query_id_col, vec_col).collect()
    q_rows = sorted((r for r in rows if len(r[1]) == m * ds), key=lambda r: r[0])
    if not q_rows:
        return None
    q_mat = _iq(np.array([r[1] for r in q_rows], dtype=np.float64))
    tables = np.einsum("qsd,scd->qsc", q_mat.reshape(len(q_rows), m, ds), codebook)
    qi_map = queries.sparkSession.createDataFrame(
        [(i, int(r[0])) for i, r in enumerate(q_rows)], f"_qi int, {query_id_col} long"
    )
    return tables, F.broadcast(qi_map)


def _empty_topk(
    embeddings: DataFrame, query_id_col: str, id_col: str, score_type: str
) -> DataFrame:
    """The PQ top-k result when the table or the query set has no vector
    the codebook can encode: no rows, and the ``score_type`` the same call
    returns when it finds neighbors."""
    return embeddings.sparkSession.createDataFrame(
        [], f"query_id long, vec_id long, score {score_type}, rank int"
    ).toDF(query_id_col, id_col, "score", "rank")


def _rescore(
    pool: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine top ``k`` of an ADC candidate pool (query id, row id):
    the floats are read only for the pool's rows."""
    cand = pool.join(corpus, id_col).join(
        F.broadcast(_query_vectors(queries, query_id_col, vec_col)), query_id_col
    )
    return _cosine_top_k(cand, k, query_id_col, id_col, vec_col, "score")


def pq_encode(
    embeddings: DataFrame,
    n_cells: int = 16,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: (id, codes array<m> of cell indices).
    The 100 TB storage path past int8 scalar quantization: a 64-dim float
    vector (256 B) compresses to m log2(n_cells)-bit codes (4 B at m=4,
    cells=16) — a 64x byte cut for the ANN scan, rescoring on the float
    column only for final candidates. One Arrow matmul-shaped pass; the
    codebook is a bounded parameter-sized collect broadcast with the UDF."""
    dim = _table_dim(embeddings, vec_col)
    codebook = _pq_codebook(_seed_rows(embeddings, n_cells, id_col, vec_col, dim), m)
    src = spread(_non_null_vectors(embeddings, vec_col)).select(id_col, vec_col)
    if codebook is None:
        return src.select(id_col, F.lit(None).cast(ArrayType(LongType())).alias("codes")).where(F.lit(False))
    codes_udf = _make_pq_codes_udf(codebook)
    # emitted by a one-element generator, not pinned: a pin keeps the
    # filters on `codes` above the UDF, but once Spark extracts the UDF
    # they read its output as `size(pythonUDF0) > 0` (the null check here,
    # the size filter a caller's posexplode infers). No filter on a
    # generator's output passes below it, so the plan holds none of them.
    return src.select(
        id_col, F.explode(F.array(codes_udf(F.col(vec_col)))).alias("codes")
    ).where(F.col("codes").isNotNull())


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    m: int = 4,
    rescore_factor: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-ADC top-k: encode the corpus to ``m`` codes per row, score every
    row against every query through per-subspace lookup tables (asymmetric
    distance computation on the inner product), rank by score — and, with
    ``rescore_factor`` > 0, exact-cosine rescore the top k*factor ADC
    candidates (the production PQ shape: the code scan generates candidates,
    floats are touched only for the short rescore list).

    The scan-cheap ANN path: per corpus row the ADC score is m table
    lookups + (m-1) adds on int64 — no float math, no per-pair dot product
    — so the full-corpus scan that brute force cannot afford becomes
    affordable (compose with IVF cell restriction for the 10^9-vector
    regime; this operator measures the PQ half). The ADC tables T[q][s][c]
    = dot(iq(q_sub), codeword) are (n_q, m, n_cells) int64, broadcast with
    the UDF; the only shuffles are the top-k windows. Approximate by design
    (quantization error moves near-ties; rescoring restores exact order
    WITHIN the candidate pool); pool recall vs the exact baseline is
    pytest-gated. ADC scores are exact int64 on both engines — the DuckDB
    oracle recomputes codebook, codes, tables, scores, and the rescore
    bit-identically (fixed-point grid; the rescore cosine uses the same
    round-6 formulation as the IVF oracle).

    Returns (query_id, vec_id, score, rank) with rank 1..k per query; in
    rescore mode score is the exact cosine (rounded to 6 decimals) and rank
    orders by it, ties broken by ascending id.
    """
    dim = _table_dim(embeddings, vec_col)
    codebook = _pq_codebook(_seed_rows(embeddings, n_cells, id_col, vec_col, dim), m)
    side = None if codebook is None else _adc_query_side(
        queries, codebook, query_id_col, vec_col
    )
    if side is None:
        return _empty_topk(
            embeddings, query_id_col, id_col, "double" if rescore_factor else "long"
        )
    tables, qi_map = side
    n_q = tables.shape[0]
    codes_udf = _make_pq_codes_udf(codebook)

    @F.pandas_udf(ArrayType(LongType()))
    def _scores(codes: pd.Series) -> pd.Series:
        lists = codes.tolist()
        out: list = [None] * len(lists)
        idx = [i for i, c in enumerate(lists) if c is not None]
        if idx:
            cm = np.array([lists[i] for i in idx], dtype=np.int64)  # (rows, m)
            acc = np.zeros((n_q, cm.shape[0]), dtype=np.int64)
            for s in range(m):
                acc += tables[:, s, cm[:, s]]
            for col, i in zip(acc.T, idx):
                out[i] = col
        return pd.Series(out, dtype="object")

    corpus = spread(_non_null_vectors(embeddings, vec_col)).select(id_col, vec_col)
    scored = corpus.select(
        id_col, F.posexplode(_scores(codes_udf(F.col(vec_col)))).alias("_qi", "score")
    )
    adc = scored.join(qi_map, "_qi").select(query_id_col, id_col, "score")
    if not rescore_factor:
        return _top_k(adc, query_id_col, id_col, "score", k)
    pool = _top_k(adc, query_id_col, id_col, "score", k * rescore_factor).select(
        query_id_col, id_col
    )
    return _rescore(pool, corpus, queries, k, query_id_col, id_col, vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_cells: int = 16,
    m: int = 4,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the composed 10^9-vector ANN architecture. The IVF coarse
    quantizer restricts WHICH rows are scanned (each query touches
    ~n_probe/n_centroids of the corpus via a cell equi-join), PQ-ADC
    restricts HOW MUCH is read per row (m code bytes, int64 table
    lookups), and the float column is touched only for the top k*factor
    rescore pool — multiplicative savings, the FAISS IVFPQ layout
    (Jegou et al. 2011, public) on Spark joins.

    Both codebooks are the seeded-deterministic families the component
    operators pin, cut from one ``_seed_rows`` collect (the IVF matrix is
    then id-ordered so assignment ties break like the oracle's `order by
    cos desc, c_id`), so the DuckDB oracle recomputes cell assignment,
    probe lists, PQ codes, ADC scores, pool, and rescore bit-identically.
    Pool recall vs exact is pytest-gated on the clustered corpus.
    """
    if rescore_factor < 1:
        # unlike pq_topk there is no ADC-only output mode here; a silent
        # `rank <= 0` filter would read as "no neighbors" (review-caught)
        raise ValueError("ivfpq_topk requires rescore_factor >= 1")
    dim = _table_dim(embeddings, vec_col)
    seeds = _seed_rows(embeddings, max(n_centroids, n_cells), id_col, vec_col, dim)
    cent_ids, cent_vecs = _centroid_matrix(seeds[:n_centroids])
    pq_cb = _pq_codebook(seeds[:n_cells], m)
    side = None if pq_cb is None or not cent_ids.size else _adc_query_side(
        queries, pq_cb, query_id_col, vec_col
    )
    if side is None:
        return _empty_topk(embeddings, query_id_col, id_col, "double")
    tables, qi_map = side
    n_q = tables.shape[0]

    # corpus pass: cell assignment + PQ codes in ONE stage (two Arrow UDFs
    # over the same scan — no shuffle between them)
    assign1 = _make_probe_udf(cent_ids, cent_vecs, 1)
    # pinned: see _pinned_cosine_udf
    codes_udf = _make_pq_codes_udf(pq_cb).asNondeterministic()
    corpus = spread(_non_null_vectors(embeddings, vec_col)).select(id_col, vec_col)
    enc = (
        corpus.withColumn("_cell", F.element_at(assign1(F.col(vec_col)), 1))
        .withColumn("_codes", codes_udf(F.col(vec_col)))
        .where(F.col("_cell").isNotNull() & F.col("_codes").isNotNull())
        .select(id_col, "_cell", "_codes")
    )

    # query probe lists, broadcast (bounded: n_q * n_probe rows); a query
    # not of the table dim probes no cell
    probe_n = _make_probe_udf(cent_ids, cent_vecs, n_probe)
    q_probe = F.broadcast(
        _query_vectors(queries, query_id_col, vec_col).select(
            query_id_col, F.explode(probe_n(F.col("_qvec"))).alias("_cell")
        )
    )

    @F.pandas_udf(LongType())
    def _adc(qis: pd.Series, codes: pd.Series) -> pd.Series:
        cl = codes.tolist()
        qa = qis.to_numpy()
        out = np.zeros(len(cl), dtype=np.int64)
        ok = np.fromiter(
            (c is not None and 0 <= q < n_q for c, q in zip(cl, qa)),
            dtype=bool,
            count=len(cl),
        )
        if ok.any():
            idx = np.nonzero(ok)[0]
            cm = np.array([cl[i] for i in idx], dtype=np.int64)
            qv = qa[idx].astype(np.int64)
            s = np.zeros(len(idx), dtype=np.int64)
            for si in range(m):
                s += tables[qv, si, cm[:, si]]
            out[idx] = s
        return pd.Series(out)

    cand = (
        enc.join(q_probe, "_cell")
        .join(qi_map, query_id_col)
        .withColumn("_score", _adc(F.col("_qi"), F.col("_codes")))
    )
    pool = _top_k(cand, query_id_col, id_col, "_score", k * rescore_factor).select(
        query_id_col, id_col
    )
    return _rescore(pool, corpus, queries, k, query_id_col, id_col, vec_col)


def recommended_srp_planes(n_vectors: int, floor: int = 10) -> int:
    """SRP plane count that keeps the bucket pairing linear: random
    (cosine ~0) pairs collide per table at 0.5^planes, so the expected
    candidate count is ~C(n,2) * tables * 0.5^planes — planes must grow
    with log2(n) or the join goes quadratic. ceil(log2 n) + 2 keeps
    expected random collisions per table at ~n/8 pairs. Measured at the
    100x probe (BENCH.md): 200k vectors at 10 planes -> ~8x10^7
    candidates (GC-bound); at 18 planes (this formula) -> bounded,
    124 s end to end. Raise n_tables alongside to hold recall
    (per-table recall is p^planes for match probability p)."""
    import math

    return max(floor, math.ceil(math.log2(max(n_vectors, 2))) + 2)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP buckets, each bucket's
    vectors paired by util.member_pairs (the vector rides along),
    OR-amplified across ``n_tables`` tables (pairs deduped before the
    cosine filter). At threshold 0.95 a true pair collides per table with
    p^10 ~ 0.35, so 4 tables put recall near 0.82; raise n_tables for more.

    The defaults fit ~<=10^5 vectors; at larger corpora size ``n_planes``
    with :func:`recommended_srp_planes` (the bucket pairing's candidate count
    is what scales, not the verify) and raise ``n_tables`` to hold recall.
    """
    bucket_udf = _make_buckets_udf(
        n_planes, n_tables, dim=_table_dim(embeddings, vec_col)
    )
    b = _explode_tables(
        spread(_non_null_vectors(embeddings, vec_col).select(F.col(id_col), F.col(vec_col))),
        bucket_udf,
        vec_col,
    )
    return (
        member_pairs(b, ["_t", "_bucket"], [id_col, vec_col])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("_va"),
            F.col(f"b.{vec_col}").alias("_vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            _pinned_cosine_udf(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
