"""Nearest-neighbor and embedding contract queries: exact, SRP-LSH, IVF,
PQ and IVF-PQ top-k, PQ codes, int8 quantization and near duplicates.
Every oracle recomputes the whole operator in DuckDB, the hashed
families through md5-derived integer planes and a 2^20 fixed-point grid."""

from __future__ import annotations

from pyspark.sql import functions as F

from palladian_spark.operators.similarity_search import (
    brute_force_topk, embedding_near_duplicates, ivf_topk, ivfpq_topk, lsh_topk,
    pq_encode, pq_topk, quantize_embeddings,
)

from contract import query
from contract.common import _read


def _srp_buckets_sql(n_planes: int, n_tables: int, seed: int = 42) -> str:
    """CTE chain recomputing the integer-SRP bucket family of
    similarity_search._make_buckets_udf from scratch: md5-derived int64
    plane weights (DuckDB md5_number_lower == little-endian bytes 8..16 of
    the digest, the exact function the Spark UDF evaluates), fixed-point
    vector quantization floor(v * 2^20 + 0.5), integer dot products — so
    bucket ids are bit-identical across engines by construction (no float
    summation order anywhere). Ends with `buckets(vec_id, t, bucket)`;
    `ev(vec_id, v)` holds the modal-dim float vectors for rescoring.
    """
    total = n_planes * n_tables
    return f"""
        e as (select vec_id, embedding::DOUBLE[] as v from embeddings
              where embedding is not null and len(embedding) > 0),
        -- table-global modal dim: rows of any other length cannot
        -- participate (mirrors _stack_valid's global-dim mask)
        dim as (select d from (select len(v) as d, count(*) as c
                               from e group by 1 order by c desc, d limit 1)),
        ev as (select vec_id, v from e, dim where len(v) = dim.d),
        iq as (select vec_id,
                      list_transform(v, x -> cast(floor(x * 1048576.0 + 0.5) as bigint)) as q
               from ev),
        planes as (
          select p.p, d.d,
                 (md5_number_lower('srp:{seed}:' || p.p || ':' || d.d)
                  % 2097152)::bigint - 1048576 as w
          from (select unnest(range({total})) as p) p,
               (select unnest(range((select d from dim))) as d) d),
        proj as (select iq.vec_id,
                        pl.p // {n_planes} as t, pl.p % {n_planes} as i,
                        sum(iq.q[pl.d + 1] * pl.w)::bigint as s
                 from iq, planes pl
                 group by 1, 2, 3),
        buckets as (select vec_id, t,
                           sum(case when s >= 0 then (1::bigint << i)
                               else 0 end)::bigint as bucket
                    from proj group by 1, 2)
    """


@query(headline=True, oracle=lambda: """
            with q as (select vec_id as qid, embedding::DOUBLE[] as qv
                       from embeddings where vec_id < 3),
            s as (select q.qid as query_id, e.vec_id,
                         round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(q.qv, q.qv))), 6) as cos
                  from embeddings e cross join q),
            r as (select query_id, vec_id,
                         row_number() over (partition by query_id
                                            order by cos desc, vec_id) as rnk
                  from s)
            select query_id, vec_id, rnk from r where rnk <= 5
        """)
def ann_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qset = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = brute_force_topk(emb, qset, k=5)
    return res.select("query_id", "vec_id", F.col("rank").alias("rnk"))


# Full independent SRP-LSH recomputation (md5-derived integer
# planes + fixed-point projection, see _srp_buckets_sql): candidate
# = any shared (table, bucket), then the same round-6 cosine
# rescoring formulation as ann_topk.
@query(headline=True, oracle=lambda: f"""
            with {_srp_buckets_sql(n_planes=3, n_tables=16)},
            qb as (select vec_id as query_id, t, bucket from buckets
                   where vec_id < 3),
            cand as (select distinct qb.query_id, b.vec_id
                     from buckets b join qb using (t, bucket)),
            s as (select cand.query_id, cand.vec_id,
                         round(list_dot_product(e.v, q.v) /
                               coalesce(nullif(sqrt(list_dot_product(e.v, e.v))
                                               * sqrt(list_dot_product(q.v, q.v)), 0), 1),
                               6) as cos
                  from cand
                  join ev e on e.vec_id = cand.vec_id
                  join ev q on q.vec_id = cand.query_id),
            r as (select query_id, vec_id,
                         row_number() over (partition by query_id
                                            order by cos desc, vec_id) as rnk
                  from s)
            select query_id, vec_id, rnk from r where rnk <= 5
        """)
def ann_lsh_topk(spark, sf_dir):
    # SRP-LSH bucketed top-k — the corpus-vs-corpus scale path; recall
    # vs the exact baseline is gated in pytest
    # (tests/test_spark_operators.py::test_lsh_topk_recall_vs_brute_force).
    # The md5-derived integer plane family + fixed-point projection is
    # fully SQL-expressible, so the oracle recomputes the whole operator
    # independently (see _srp_buckets_sql).
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qset = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # The synthetic neighbors sit at cosine ~0.3 (near-random angle),
    # so buckets are kept loose (b=3) and recall is bought with 16
    # OR-amplified tables; real near-dup corpora run b=8+.
    res = lsh_topk(emb, qset, k=5, n_planes=3, n_tables=16)
    return res.select("query_id", "vec_id", F.col("rank").alias("rnk"))


# IVF: same cosine formulation/rounding as the Spark UDFs; assignment
# and probe tie-break `order by cos desc, c_id` == the UDF's stable
# argsort over ids-ascending centroids.
@query(headline=True, oracle=lambda: """
            with e0 as (select vec_id, embedding::DOUBLE[] as v from embeddings
                        where embedding is not null and len(embedding) > 0),
            -- modal-dim filter mirrors _centroid_matrix/_stack_valid: a
            -- dim-corrupt row must neither enter the codebook nor diverge
            -- the two engines (DuckDB list_dot_product errors on ragged)
            dim as (select d from (select len(v) as d, count(*) as c
                                   from e0 group by 1 order by c desc, d limit 1)),
            e as (select vec_id, v from e0, dim where len(v) = dim.d),
            c as (select vec_id as c_id, v as cv from e
                 order by md5(vec_id::varchar), vec_id limit 16),
            ac as (select e.vec_id, c.c_id,
                          round(list_dot_product(e.v, c.cv) /
                                coalesce(nullif(sqrt(list_dot_product(e.v, e.v))
                                                * sqrt(list_dot_product(c.cv, c.cv)), 0), 1),
                                6) as cos
                   from e cross join c),
            assign as (select vec_id, c_id from (
                         select vec_id, c_id,
                                row_number() over (partition by vec_id
                                                   order by cos desc, c_id) as rn
                         from ac) where rn = 1),
            qprobe as (select vec_id as qid, c_id from (
                         select vec_id, c_id,
                                row_number() over (partition by vec_id
                                                   order by cos desc, c_id) as rn
                         from ac where vec_id < 3) where rn <= 4),
            cand as (select distinct qp.qid as query_id, a.vec_id
                     from qprobe qp join assign a using (c_id)),
            s as (select cand.query_id, cand.vec_id,
                         round(list_dot_product(e.v, q.v) /
                               coalesce(nullif(sqrt(list_dot_product(e.v, e.v))
                                               * sqrt(list_dot_product(q.v, q.v)), 0), 1),
                               6) as cos
                  from cand
                  join e on e.vec_id = cand.vec_id
                  join e q on q.vec_id = cand.query_id),
            r as (select query_id, vec_id,
                         row_number() over (partition by query_id
                                            order by cos desc, vec_id) as rnk
                  from s)
            select query_id, vec_id, rnk from r where rnk <= 5
        """)
def ann_ivf_topk(spark, sf_dir):
    # IVF coarse-quantized top-k — the probe-limited ANN scale path.
    # Seeded deterministic centroids (16 smallest-md5 vec_ids - a
    # uniform sample; lowest-id seeds degenerate on id-clustered
    # corpora) make the whole assignment+probe+search SQL-expressible,
    # so unlike the SRP-LSH variant this one gets a full independent
    # DuckDB oracle.
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qset = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = ivf_topk(emb, qset, k=5, n_centroids=16, n_probe=4)
    return res.select("query_id", "vec_id", F.col("rank").alias("rnk"))


# PQ-ADC: every quantity is int64 on the 2^20 fixed-point grid
# (iq(x) = floor(x*2^20+0.5)); dist = <a,a> - 2<a,b> + <b,b> equals
# numpy's sum((a-b)^2) exactly (all dots < 2^53, double-exact in
# DuckDB's list_dot_product). Ties: argmin-first == order by dist,
# c_idx; final rank order by score desc, vec_id.
@query(headline=True, oracle=lambda: """
            with e0 as (select vec_id, embedding::DOUBLE[] as v from embeddings
                        where embedding is not null and len(embedding) > 0),
            dim as (select d from (select len(v) as d, count(*) as c
                                   from e0 group by 1 order by c desc, d limit 1)),
            e as (select vec_id, v from e0, dim where len(v) = dim.d),
            eq as (select vec_id,
                          list_transform(v, x ->
                              cast(floor(x * 1048576.0 + 0.5) as bigint)) as iv,
                          (select d from dim) // 4 as ds
                   from e
                   -- dim % m != 0 -> no codebook on the Spark side
                   -- (pq requires equal subvectors); mirror the empty
                   -- result instead of silently truncating trailing dims
                   where (select d from dim) % 4 = 0),
            -- codeword sources: the 16 conforming vectors with the smallest
            -- md5(vec_id) hex (string compare == Spark's orderBy(md5(...)));
            -- cell index = rank within that hash order
            cb as (select row_number() over (order by md5(vec_id::varchar), vec_id) - 1
                              as c_idx, iv, ds
                   from (select vec_id, iv, ds from eq
                         order by md5(vec_id::varchar), vec_id limit 16)),
            subs as (select unnest(generate_series(0, 3)) as s),
            esub as (select vec_id, s, list_slice(iv, s*ds + 1, (s+1)*ds) as sub
                     from eq, subs),
            csub as (select c_idx, s, list_slice(iv, s*ds + 1, (s+1)*ds) as sub
                     from cb, subs),
            dists as (select e.vec_id, e.s, c.c_idx,
                             cast(list_dot_product(e.sub, e.sub) as bigint)
                             - 2 * cast(list_dot_product(e.sub, c.sub) as bigint)
                             + cast(list_dot_product(c.sub, c.sub) as bigint) as dist
                      from esub e join csub c using (s)),
            codes as (select vec_id, s, c_idx as code from (
                        select vec_id, s, c_idx,
                               row_number() over (partition by vec_id, s
                                                  order by dist, c_idx) as rn
                        from dists) where rn = 1),
            qsub as (select vec_id as query_id, s, sub from esub where vec_id < 3),
            t as (select q.query_id, q.s, c.c_idx,
                         cast(list_dot_product(q.sub, c.sub) as bigint) as contrib
                  from qsub q join csub c using (s)),
            scores as (select t.query_id, codes.vec_id,
                              sum(t.contrib)::bigint as score
                       from codes join t on t.s = codes.s and t.c_idx = codes.code
                       group by 1, 2),
            pool as (select query_id, vec_id from (
                       select query_id, vec_id,
                              row_number() over (partition by query_id
                                                 order by score desc, vec_id) as rn
                       from scores) where rn <= 20),
            resc as (select p.query_id, p.vec_id,
                            round(list_dot_product(e.v, q.v) /
                                  coalesce(nullif(sqrt(list_dot_product(e.v, e.v))
                                                  * sqrt(list_dot_product(q.v, q.v)), 0), 1),
                                  6) as cos
                     from pool p
                     join e on e.vec_id = p.vec_id
                     join e q on q.vec_id = p.query_id),
            r as (select query_id, vec_id, round(cos * 1000000)::bigint as cos_ppm,
                         row_number() over (partition by query_id
                                            order by cos desc, vec_id) as rnk
                  from resc)
            select query_id, vec_id, cos_ppm, rnk from r where rnk <= 5
        """)
def ann_pq_topk(spark, sf_dir):
    # Product-quantization ANN in the production shape: int64 ADC code
    # scan (m=4 table lookups per corpus row — a 64x byte cut vs float
    # vectors) generates k*4 candidates per query, exact cosine rescores
    # only that pool. Codebook = the 16 conforming vectors with the
    # smallest md5(vec_id) (a deterministic uniform sample — diverse
    # under id/topic correlation); all ADC arithmetic is int64 on a 2^20
    # fixed-point grid, so the DuckDB oracle recomputes codebook, codes,
    # ADC tables, candidate pool, and the round-6 rescore bit-
    # identically. Pool recall vs the exact baseline is pytest-gated
    # (tests/test_spark_operators.py).
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qset = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = pq_topk(emb, qset, k=5, n_cells=16, m=4, rescore_factor=4)
    return res.select(
        "query_id",
        "vec_id",
        F.round(F.col("score") * 1000000).cast("long").alias("cos_ppm"),
        F.col("rank").alias("rnk"),
    )


# IVF-PQ composition: IVF assignment/probe CTEs + PQ code/table CTEs
# + cell-restricted ADC scoring + round-6 rescore (see the two
# component oracles for the per-stage parity arguments)
@query(headline=True, oracle=lambda: """
            with e0 as (select vec_id, embedding::DOUBLE[] as v from embeddings
                        where embedding is not null and len(embedding) > 0),
            dim as (select d from (select len(v) as d, count(*) as c
                                   from e0 group by 1 order by c desc, d limit 1)),
            e as (select vec_id, v from e0, dim where len(v) = dim.d),
            -- IVF codebook: 16 smallest-md5 conforming vec_ids, round-6 cosine assignment
            c as (select vec_id as c_id, v as cv from e
                 order by md5(vec_id::varchar), vec_id limit 16),
            ac as (select e.vec_id, c.c_id,
                          round(list_dot_product(e.v, c.cv) /
                                coalesce(nullif(sqrt(list_dot_product(e.v, e.v))
                                                * sqrt(list_dot_product(c.cv, c.cv)), 0), 1),
                                6) as cos
                   from e cross join c),
            assign as (select vec_id, c_id from (
                         select vec_id, c_id,
                                row_number() over (partition by vec_id
                                                   order by cos desc, c_id) as rn
                         from ac) where rn = 1),
            qprobe as (select vec_id as qid, c_id from (
                         select vec_id, c_id,
                                row_number() over (partition by vec_id
                                                   order by cos desc, c_id) as rn
                         from ac where vec_id < 3) where rn <= 4),
            -- PQ codebook: smallest-md5 sample, fixed-point subvectors
            eq as (select vec_id,
                          list_transform(v, x -> cast(floor(x * 1048576.0 + 0.5) as bigint)) as iv,
                          (select d from dim) // 4 as ds
                   from e
                   -- dim % m != 0 -> no codebook on the Spark side
                   -- (pq requires equal subvectors); mirror the empty
                   -- result instead of silently truncating trailing dims
                   where (select d from dim) % 4 = 0),
            cb as (select row_number() over (order by md5(vec_id::varchar), vec_id) - 1 as c_idx, iv, ds
                   from (select vec_id, iv, ds from eq
                         order by md5(vec_id::varchar), vec_id limit 16)),
            subs as (select unnest(generate_series(0, 3)) as s),
            esub as (select vec_id, s, list_slice(iv, s*ds + 1, (s+1)*ds) as sub from eq, subs),
            csub as (select c_idx, s, list_slice(iv, s*ds + 1, (s+1)*ds) as sub from cb, subs),
            dists as (select e.vec_id, e.s, c.c_idx,
                             cast(list_dot_product(e.sub, e.sub) as bigint)
                             - 2 * cast(list_dot_product(e.sub, c.sub) as bigint)
                             + cast(list_dot_product(c.sub, c.sub) as bigint) as dist
                      from esub e join csub c using (s)),
            codes as (select vec_id, s, c_idx as code from (
                        select vec_id, s, c_idx,
                               row_number() over (partition by vec_id, s
                                                  order by dist, c_idx) as rn
                        from dists) where rn = 1),
            qsub as (select vec_id as qid, s, sub from esub where vec_id < 3),
            t as (select q.qid, q.s, c.c_idx,
                         cast(list_dot_product(q.sub, c.sub) as bigint) as contrib
                  from qsub q join csub c using (s)),
            -- candidates: corpus rows in probed cells
            cand as (select distinct qp.qid, a.vec_id
                     from qprobe qp join assign a using (c_id)),
            scores as (select cand.qid, cand.vec_id, sum(t.contrib)::bigint as score
                       from cand
                       join codes on codes.vec_id = cand.vec_id
                       join t on t.qid = cand.qid and t.s = codes.s and t.c_idx = codes.code
                       group by 1, 2),
            pool as (select qid, vec_id from (
                       select qid, vec_id,
                              row_number() over (partition by qid
                                                 order by score desc, vec_id) as rn
                       from scores) where rn <= 20),
            resc as (select p.qid as query_id, p.vec_id,
                            round(list_dot_product(e.v, q.v) /
                                  coalesce(nullif(sqrt(list_dot_product(e.v, e.v))
                                                  * sqrt(list_dot_product(q.v, q.v)), 0), 1),
                                  6) as cos
                     from pool p
                     join e on e.vec_id = p.vec_id
                     join e q on q.vec_id = p.qid),
            r as (select query_id, vec_id, round(cos * 1000000)::bigint as cos_ppm,
                         row_number() over (partition by query_id
                                            order by cos desc, vec_id) as rnk
                  from resc)
            select query_id, vec_id, cos_ppm, rnk from r where rnk <= 5
        """)
def ann_ivfpq_topk(spark, sf_dir):
    # IVF-PQ composition - the 10^9-vector architecture: IVF cell
    # restriction bounds WHICH rows are scanned, PQ-ADC bounds the
    # bytes per scanned row, floats touched only for the rescore pool.
    # Both codebooks seeded-deterministic, so the oracle recomputes
    # assignment, probes, codes, ADC scores, pool, and rescore
    # bit-identically.
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qset = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = ivfpq_topk(
        emb, qset, k=5, n_centroids=16, n_probe=4, n_cells=16, m=4,
        rescore_factor=4,
    )
    return res.select(
        "query_id",
        "vec_id",
        F.round(F.col("score") * 1000000).cast("long").alias("cos_ppm"),
        F.col("rank").alias("rnk"),
    )


@query(headline=True, oracle=lambda: """
            with e0 as (select vec_id, embedding::DOUBLE[] as v from embeddings
                        where embedding is not null and len(embedding) > 0),
            dim as (select d from (select len(v) as d, count(*) as c
                                   from e0 group by 1 order by c desc, d limit 1)),
            e as (select vec_id, v from e0, dim where len(v) = dim.d),
            eq as (select vec_id,
                          list_transform(v, x ->
                              cast(floor(x * 1048576.0 + 0.5) as bigint)) as iv,
                          (select d from dim) // 4 as ds
                   from e
                   -- dim % m != 0 -> no codebook on the Spark side
                   -- (pq requires equal subvectors); mirror the empty
                   -- result instead of silently truncating trailing dims
                   where (select d from dim) % 4 = 0),
            cb as (select row_number() over (order by md5(vec_id::varchar), vec_id) - 1
                              as c_idx, iv, ds
                   from (select vec_id, iv, ds from eq
                         order by md5(vec_id::varchar), vec_id limit 16)),
            subs as (select unnest(generate_series(0, 3)) as s),
            esub as (select vec_id, s, list_slice(iv, s*ds + 1, (s+1)*ds) as sub
                     from eq, subs),
            csub as (select c_idx, s, list_slice(iv, s*ds + 1, (s+1)*ds) as sub
                     from cb, subs),
            dists as (select e.vec_id, e.s, c.c_idx,
                             cast(list_dot_product(e.sub, e.sub) as bigint)
                             - 2 * cast(list_dot_product(e.sub, c.sub) as bigint)
                             + cast(list_dot_product(c.sub, c.sub) as bigint) as dist
                      from esub e join csub c using (s)),
            codes as (select vec_id, s, c_idx as code from (
                        select vec_id, s, c_idx,
                               row_number() over (partition by vec_id, s
                                                  order by dist, c_idx) as rn
                        from dists) where rn = 1)
            select vec_id, s::int as s, code from codes
        """)
def embedding_pq_codes(spark, sf_dir):
    # the PQ storage artifact itself: m=4 cell codes per vector (the
    # 64x-compressed ANN scan column) - same codebook/fixed-point
    # grid as ann_pq_topk, exploded to (vec_id, s, code) rows
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    enc = pq_encode(emb, n_cells=16, m=4)
    return enc.select(
        "vec_id", F.posexplode("codes").alias("s", "code")
    )


# int8 quantization: identical double op order + floor(x+0.5) on
# both engines (round() differs: numpy half-even vs SQL half-away).
@query(headline=True, oracle=lambda: """
            with e as (select vec_id, embedding::DOUBLE[] as v from embeddings
                       where embedding is not null and len(embedding) > 0),
            x as (select vec_id, v,
                         unnest(generate_series(1, len(v))) as pos1 from e),
            vals as (select vec_id, pos1, v[pos1] as val from x),
            stats as (select pos1, min(val) as mn, max(val) as mx
                      from vals group by pos1)
            select vec_id, (pos1 - 1)::bigint as pos,
                   case when mx = mn then 0
                        else cast(floor((val - mn) * 255.0 / (mx - mn) + 0.5) as int) - 128
                   end as code
            from vals join stats using (pos1)
        """)
def embedding_quantize(spark, sf_dir):
    # int8 scalar quantization (vec_id, pos, code) — pure JVM plan;
    # floor(x+0.5) formulation is engine-portable (see operator doc).
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return quantize_embeddings(emb)


@query(oracle=lambda: f"""
            with {_srp_buckets_sql(n_planes=10, n_tables=4)},
            cand as (select distinct l.vec_id as id_a, r.vec_id as id_b
                     from buckets l join buckets r using (t, bucket)
                     where l.vec_id < r.vec_id),
            s as (select cand.id_a, cand.id_b,
                         round(list_dot_product(a.v, b.v) /
                               coalesce(nullif(sqrt(list_dot_product(a.v, a.v))
                                               * sqrt(list_dot_product(b.v, b.v)), 0), 1),
                               6) as cos
                  from cand
                  join ev a on a.vec_id = cand.id_a
                  join ev b on b.vec_id = cand.id_b)
            -- trunc, not ::bigint: Spark's long cast truncates toward zero
            -- while DuckDB's cast rounds
            select id_a, id_b, cast(trunc(cos * 1000000) as bigint) as cosine_ppm
            from s where cos >= 0.3
        """)
def embedding_near_dups(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = embedding_near_duplicates(emb, threshold=0.3)
    return pairs.select(
        "id_a", "id_b", (F.col("cosine") * 1000000).cast("long").alias("cosine_ppm")
    )
