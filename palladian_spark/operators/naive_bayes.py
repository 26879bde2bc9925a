"""Distributed general Naive Bayes — the Spark shape of
``classification/nb/NaiveBayesLearner.java:28-79`` +
``NaiveBayesClassifier.java:77-113`` (kernel twin with the reference's
own test goldens: :mod:`palladian_spark.kernels.naive_bayes`).

Training is pure hash aggregates: per-(feature, value, category) counts
for nominal features and per-(feature, category) (n, Σx, Σx²) for
numeric ones.  Classification is a cross join of the instance table
with the (tiny, broadcast) category list plus one left join per
feature — no Python anywhere.

Cross-engine determinism (the contract-query discipline): numeric sums
are accumulated as BIGINTs over integer-valued features, so mean /
sample-stddev / Gaussian density are each ONE double expression over
exact integers — bit-identical in Spark and DuckDB; the density
normalization Σ 1/(sd·√2π) is summed as per-category nano integers
(never floats) so no accumulation order exists; the final score is an
explicit fixed-order sum of per-feature log terms (columns, not an
aggregate), rounded to milli.  The float-exact reference semantics
(Welford accumulation, double sums) live in the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

LAPLACE = "1e-5"  # parses as double in both Spark and DuckDB


def nb_priors(df: DataFrame, category_col: str) -> DataFrame:
    return df.groupBy(F.col(category_col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_c")
    )


def nb_nominal_counts(df: DataFrame, category_col: str, col: str) -> DataFrame:
    return df.groupBy(
        F.col(col).cast("string").alias("value"),
        F.col(category_col).alias("category"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def nb_numeric_stats(df: DataFrame, category_col: str, col: str) -> DataFrame:
    """(category, n, sx, sx2) with exact bigint sums — requires an
    integer-valued feature column (the engine-exact regime; floats fall
    back to the kernel's Welford semantics). NULL cells are skipped, as
    the kernel skips missing features: n counts the non-NULL values."""
    return df.groupBy(F.col(category_col).alias("category")).agg(
        F.count(F.col(col)).alias("n"),
        F.sum(F.col(col).cast("long")).alias("sx"),
        F.sum((F.col(col).cast("long") * F.col(col).cast("long"))).alias("sx2"),
    )


def _sd_expr(n: str = "n", sx: str = "sx", sx2: str = "sx2") -> str:
    """Sample stddev from exact sums: sqrt((Σx² − (Σx)²/n)/(n−1)),
    clamped at 0 against closed-form rounding."""
    return (
        f"case when {n} <= 1 then cast(0 as double) else "
        f"sqrt(greatest((cast({sx2} as double) - cast({sx} as double) * {sx} / {n})"
        f" / ({n} - 1), cast(0 as double))) end"
    )


def nb_scores(
    df: DataFrame,
    category_col: str,
    id_col: str,
    nominal_cols: list[str],
    numeric_cols: list[str],
) -> DataFrame:
    """Train on `df` and score every (row, category) pair.  Output:
    (id, category, score_milli) — the full posterior table behind
    :func:`nb_classify` (whose argmax consumes it), and the confidence
    source for threshold/ROC evaluation."""
    priors = nb_priors(df, category_col)
    n_total = df.count()
    k = priors.count()

    rows = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c).cast("string").alias(f"v_{c}") for c in nominal_cols],
        *[F.col(c).cast("long").alias(f"x_{c}") for c in numeric_cols],
    )
    scored = rows.crossJoin(F.broadcast(priors))
    terms = [f"ln(cast(n_c as double) / {n_total})"]

    for c in nominal_cols:
        counts = nb_nominal_counts(df, category_col, c).select(
            F.col("value").alias(f"v_{c}"),
            "category",
            F.col("cnt").alias(f"cnt_{c}"),
        )
        scored = scored.join(F.broadcast(counts), [f"v_{c}", "category"], "left")
        # a NULL value adds no term: the reference skips missing features
        terms.append(
            f"case when v_{c} is null then 0.0 else"
            f" ln((coalesce(cnt_{c}, 0) + {LAPLACE})"
            f" / (n_c + {LAPLACE} * {k})) end"
        )

    for c in numeric_cols:
        stats = nb_numeric_stats(df, category_col, c)
        # normalization: per-category PDF maxima summed as nano ints
        norm = stats.select(
            F.expr(
                f"case when ({_sd_expr()}) > 0 then "
                f"cast(floor(1e9 / (({_sd_expr()}) * sqrt(2 * pi())) + 0.5) as bigint)"
                f" else 0 end"
            ).alias("t")
        ).agg(F.sum("t").alias(f"norm_nano_{c}"))
        stats = stats.select(
            "category",
            F.col("n").alias(f"n_{c}"),
            F.col("sx").alias(f"sx_{c}"),
            F.col("sx2").alias(f"sx2_{c}"),
        )
        scored = scored.join(F.broadcast(stats), "category", "left").crossJoin(
            F.broadcast(norm)
        )
        sd = _sd_expr(f"n_{c}", f"sx_{c}", f"sx2_{c}")
        mean = f"(cast(sx_{c} as double) / n_{c})"
        density = (
            f"case when n_{c} is not null and ({sd}) > 0"
            f" and norm_nano_{c} > 0 then "
            f"(1.0 / sqrt(2 * pi() * ({sd}) * ({sd}))"
            f" * exp(-((x_{c} - {mean}) * (x_{c} - {mean}))"
            f"       / (2 * ({sd}) * ({sd}))))"
            f" / (cast(norm_nano_{c} as double) / 1e9)"
            f" else cast(0 as double) end"
        )
        terms.append(f"case when ({density}) > 0 then ln({density}) else 0.0 end")

    score = " + ".join(f"({t})" for t in terms)
    return scored.select(
        F.col("id").alias(id_col),
        "category",
        F.expr(f"cast(floor(1000 * ({score}) + 0.5) as bigint)").alias(
            "score_milli"
        ),
    )


def nb_classify(
    df: DataFrame,
    category_col: str,
    id_col: str,
    nominal_cols: list[str],
    numeric_cols: list[str],
) -> DataFrame:
    """Train on `df` and classify every row of `df` (the contract
    shape).  Output: (id, predicted, score_milli)."""
    scored = nb_scores(df, category_col, id_col, nominal_cols, numeric_cols)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_milli").desc(), F.col("category").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            id_col,
            F.col("category").alias("predicted"),
            "score_milli",
        )
    )


def nb_scored_with_clause(
    category_col: str,
    id_col: str,
    nominal_exprs: dict[str, str],
    numeric_cols: list[str],
    documents: str = "documents",
) -> str:
    """The shared DuckDB WITH clause ending in the full posterior table
    `nb_scored(id, category, score_milli)` — composed by both
    :func:`nb_classify_sql` (argmax) and the ROC oracle
    (__spark_entry__ classifier_roc)."""
    nom_ctes, nom_joins, terms = [], [], []
    row_feats = ", ".join(
        [f"cast({e} as varchar) as v_{c}" for c, e in nominal_exprs.items()]
        + [f"cast({c} as bigint) as x_{c}" for c in numeric_cols]
    )
    terms.append("ln(cast(p.n_c as double) / (select n from nb_n))")
    for c, e in nominal_exprs.items():
        nom_ctes.append(
            f"nb_cnt_{c} as (select cast({e} as varchar) as v_{c},"
            f" {category_col} as category, count(*)::bigint as cnt_{c}"
            f" from {documents} group by 1, 2)"
        )
        nom_joins.append(
            f"left join nb_cnt_{c} c_{c}"
            f" on c_{c}.v_{c} = r.v_{c} and c_{c}.category = p.category"
        )
        terms.append(
            f"case when r.v_{c} is null then 0.0 else"
            f" ln((coalesce(c_{c}.cnt_{c}, 0) + {LAPLACE})"
            f" / (p.n_c + {LAPLACE} * (select k from nb_k))) end"
        )
    num_ctes, num_joins = [], []
    for c in numeric_cols:
        sd_raw = (
            f"case when n_{c} <= 1 then cast(0 as double) else "
            f"sqrt(greatest((cast(sx2_{c} as double) - cast(sx_{c} as double)"
            f" * sx_{c} / n_{c}) / (n_{c} - 1), cast(0 as double))) end"
        )
        num_ctes.append(
            f"nb_st_{c} as (select {category_col} as category,"
            f" count({c})::bigint as n_{c},"
            f" sum(cast({c} as bigint))::bigint as sx_{c},"
            f" sum(cast({c} as bigint) * cast({c} as bigint))::bigint as sx2_{c}"
            f" from {documents} group by 1),"
            f"nb_norm_{c} as (select sum(case when ({sd_raw}) > 0 then"
            f" cast(floor(1e9 / (({sd_raw}) * sqrt(2 * pi())) + 0.5) as bigint)"
            f" else 0 end)::bigint as norm_nano_{c} from nb_st_{c})"
        )
        num_joins.append(
            f"left join nb_st_{c} s_{c} on s_{c}.category = p.category"
            f" cross join nb_norm_{c}"
        )
        sd = (
            f"case when s_{c}.n_{c} <= 1 then cast(0 as double) else "
            f"sqrt(greatest((cast(s_{c}.sx2_{c} as double) -"
            f" cast(s_{c}.sx_{c} as double) * s_{c}.sx_{c} / s_{c}.n_{c})"
            f" / (s_{c}.n_{c} - 1), cast(0 as double))) end"
        )
        mean = f"(cast(s_{c}.sx_{c} as double) / s_{c}.n_{c})"
        density = (
            f"case when s_{c}.n_{c} is not null and ({sd}) > 0"
            f" and norm_nano_{c} > 0 then "
            f"(1.0 / sqrt(2 * pi() * ({sd}) * ({sd}))"
            f" * exp(-((r.x_{c} - {mean}) * (r.x_{c} - {mean}))"
            f"       / (2 * ({sd}) * ({sd}))))"
            f" / (cast(norm_nano_{c} as double) / 1e9)"
            f" else cast(0 as double) end"
        )
        terms.append(f"case when ({density}) > 0 then ln({density}) else 0.0 end")

    score = " + ".join(f"({t})" for t in terms)
    all_ctes = ",\n".join(
        [
            f"nb_n as (select count(*)::bigint as n from {documents})",
            f"nb_k as (select count(distinct {category_col})::bigint as k"
            f" from {documents})",
            f"nb_pri as (select {category_col} as category,"
            f" count(*)::bigint as n_c from {documents} group by 1)",
            f"nb_rows as (select {id_col}, {row_feats} from {documents})",
        ]
        + nom_ctes
        + num_ctes
    )
    return f"""
with {all_ctes},
nb_scored as (
  select r.{id_col}, p.category,
         cast(floor(1000 * ({score}) + 0.5) as bigint) as score_milli
  from nb_rows r
  cross join nb_pri p
  {' '.join(nom_joins)}
  {' '.join(num_joins)})"""


def nb_classify_sql(
    category_col: str,
    id_col: str,
    nominal_exprs: dict[str, str],
    numeric_cols: list[str],
    documents: str = "documents",
) -> str:
    """Full independent DuckDB recomputation of :func:`nb_classify`.
    `nominal_exprs` maps feature name -> SQL expression."""
    with_clause = nb_scored_with_clause(
        category_col, id_col, nominal_exprs, numeric_cols, documents
    )
    return f"""
{with_clause}
select {id_col}, category as predicted, score_milli from (
  select *, row_number() over (partition by {id_col}
                               order by score_milli desc, category asc) as rn
  from nb_scored) where rn = 1
"""
