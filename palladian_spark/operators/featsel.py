"""Distributed feature-selection rankers — the Spark shape of
``classification/featureselection/ChiSquaredFeatureRanker.java:63-116``
and ``InformationGainFeatureRanker.java:62-130`` (kernel twins with
reference-golden parity: :mod:`palladian_spark.kernels.featsel`).

Scale shape: one melt of the instance table into (feature, value,
category) rows, then pure hash aggregates — per-(feature,value,category)
counts, category totals and row totals ride tiny broadcasts.  Nothing
is ever collected except MDLP boundaries, which are fit from the
DISTINCT-VALUE aggregate (vocabulary-sized, not row-sized).

Cross-engine determinism for the contract query: chi² is computed from
exact integer counts in one double expression (IEEE-identical in Spark
and DuckDB) and rounded to micro units BEFORE any summation, so no
float accumulation order can flip the result; entropies are summed as
per-term micro integers with ``ln(p)/ln(2)`` spelled out the same way
on both engines.  The float-exact reference semantics live in the
kernel (pytest-gated); the integerization here is the determinism shim,
same pattern as lm_quality/bm25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt_features(
    df: DataFrame, category_col: str, feature_cols: list[str]
) -> DataFrame:
    """(feature, value, category) long table — one row per (instance,
    feature), the iteration of ChiSquaredFeatureRanker.java:81-90."""
    structs = ", ".join(
        f"named_struct('feature', '{c}', 'value', cast({c} as string))"
        for c in feature_cols
    )
    return df.select(
        F.col(category_col).alias("category"),
        F.explode(F.expr(f"array({structs})")).alias("fv"),
    ).select("fv.feature", "fv.value", "category")


def chi_squared_scores(
    df: DataFrame, category_col: str, feature_cols: list[str]
) -> DataFrame:
    """Per-feature chi² with average merging
    (ChiSquaredFeatureRanker.java:95-115 + AverageMergingStrategy
    .java:21-29), micro-integerized: each (feature, value, category)
    cell is floor(1e6·chi² + 0.5); the per-row average is an integer
    division by the category count; the feature score sums those.
    Output: (feature, n_values, chi2_avg_sum_micro)."""
    n_total = df.count()
    cells = (
        melt_features(df, category_col, feature_cols)
        .groupBy("feature", "value", "category")
        .agg(F.count(F.lit(1)).alias("n_11"))
    )
    row_tot = cells.groupBy("feature", "value").agg(F.sum("n_11").alias("row_sum"))
    cat_tot = (
        df.groupBy(F.col(category_col).alias("category"))
        .agg(F.count(F.lit(1)).alias("cat_n"))
    )
    n_cats = cat_tot.count()
    # every (feature,value) row scores EVERY category (the Java matrix
    # sets all columns), so cross join rows × categories then pick up
    # the observed n_11 (absent -> 0)
    full = (
        row_tot.crossJoin(F.broadcast(cat_tot))
        .join(cells, ["feature", "value", "category"], "left")
        .select(
            "feature", "value", "category", "row_sum", "cat_n",
            F.coalesce("n_11", F.lit(0)).alias("n_11"),
        )
    )
    # (N_11+N_01)=cat_n, (N_11+N_10)=row_sum, (N_10+N_00)=N-cat_n,
    # (N_01+N_00)=N-row_sum — the Java denominator, simplified.  The
    # degenerate denominator-zero case (a value or category covering the
    # whole dataset) is Java NaN/Inf (kernel preserves it); the contract
    # shim pins it to 0 because NaN/Inf don't round-trip engines.
    scored = full.select(
        "feature", "value",
        F.expr(
            f"""case when row_sum = {n_total} or cat_n = {n_total} then 0
                 else cast(floor(1e6 *
                 (cast({n_total} as double)
                  * cast((n_11 * ({n_total} - row_sum - (cat_n - n_11)) -
                          (row_sum - n_11) * (cat_n - n_11)) as double)
                  * cast((n_11 * ({n_total} - row_sum - (cat_n - n_11)) -
                          (row_sum - n_11) * (cat_n - n_11)) as double))
                 / (cast(cat_n as double) * row_sum
                    * ({n_total} - cat_n) * ({n_total} - row_sum))
                 + 0.5) as bigint) end"""
        ).alias("chi2_micro"),
    )
    row_avg = scored.groupBy("feature", "value").agg(
        F.expr(f"cast(sum(chi2_micro) div {n_cats} as bigint)").alias("avg_micro")
    )
    return row_avg.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum("avg_micro").alias("chi2_avg_sum_micro"),
    )


_ENT_TERM = (
    "cast(floor(-1e6 * (cast(c as double) / {n}) "
    "* (ln(cast(c as double) / {n}) / ln(2.0)) + 0.5) as bigint)"
)


def information_gain_scores(
    df: DataFrame, category_col: str, feature_cols: list[str]
) -> DataFrame:
    """Per-feature information gain (InformationGainFeatureRanker
    .java:62-130): G(t) = H(C) − (H(category###value) − H(value)),
    entropies summed as per-term micro integers.  Output: (feature,
    ig_micro)."""
    n_total = df.count()
    term = _ENT_TERM.format(n=n_total)
    # the (feature, category, value) counts, from one pass over the melt;
    # the value counts sum them up rather than re-reading the melt
    joint = (
        melt_features(df, category_col, feature_cols)
        .groupBy("feature", "category", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    class_h = (
        df.groupBy(F.col(category_col).alias("category"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr(term)).alias("h_class_micro"))
    )
    joint_h = joint.groupBy("feature").agg(F.sum(F.expr(term)).alias("h_joint_micro"))
    value_h = (
        joint.groupBy("feature", "value")
        .agg(F.sum("c").alias("c"))
        .groupBy("feature")
        .agg(F.sum(F.expr(term)).alias("h_value_micro"))
    )
    return (
        joint_h.join(value_h, "feature")
        .crossJoin(F.broadcast(class_h))
        .select(
            "feature",
            (
                F.col("h_class_micro")
                - F.col("h_joint_micro")
                + F.col("h_value_micro")
            ).alias("ig_micro"),
        )
    )


def feature_ranking(
    df: DataFrame, category_col: str, feature_cols: list[str]
) -> DataFrame:
    """Combined contract surface: (feature, n_values,
    chi2_avg_sum_micro, ig_micro), one row per feature."""
    chi = chi_squared_scores(df, category_col, feature_cols)
    ig = information_gain_scores(df, category_col, feature_cols)
    return chi.join(ig, "feature")


def mdlp_fit_boundaries(
    df: DataFrame, value_col: str, category_col: str
) -> list[float]:
    """Fit Fayyad–Irani MDLP cut points for one numeric column,
    distributed: aggregate to (value, category, count) — distinct-value
    sized — then run the weighted kernel recursion on the driver
    (Binner.java:104-186 semantics, parity-tested).

    Driver bound: the collect ships one row per distinct (value,
    category), so it follows the column's cardinality, not the table's
    row count — but a continuous column of n rows can have ~n distinct
    values. The kernel then expands each group back to its count and
    runs the reference's per-instance recursion, so driver memory and
    time are row-sized (1M rows over 1.6k distinct values: 2.5 s on one
    core). Right for classifier-sized training sets (<= ~1M rows); beyond
    that, round or sample the column before fitting."""
    from palladian_spark.kernels.featsel import mdlp_boundaries_weighted

    rows = (
        df.groupBy(
            F.col(value_col).cast("double").alias("v"),
            F.col(category_col).alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return mdlp_boundaries_weighted([(r["v"], r["c"], r["n"]) for r in rows])


def mdlp_discretize(
    df: DataFrame, value_col: str, category_col: str, out_col: str | None = None
) -> DataFrame:
    """Append a bin-index column for `value_col` (Binner.bin semantics:
    #{boundary < value})."""
    out_col = out_col or f"{value_col}_bin"
    bounds = mdlp_fit_boundaries(df, value_col, category_col)
    if not bounds:
        return df.withColumn(out_col, F.lit(0))
    arr = "array(" + ",".join(f"cast({b} as double)" for b in bounds) + ")"
    return df.withColumn(
        out_col,
        F.expr(
            f"size(filter({arr}, b -> b < cast({value_col} as double)))"
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin for the feature_ranking contract query
# ---------------------------------------------------------------------------
def feature_ranking_sql(
    category_col: str, feature_exprs: dict[str, str], documents: str = "documents"
) -> str:
    """Full independent DuckDB recomputation of :func:`feature_ranking`
    over `documents` with `feature_exprs` mapping feature name -> SQL
    expression (cast to varchar by the oracle)."""
    melt_selects = " union all ".join(
        f"select '{name}' as feature, cast({expr} as varchar) as value,"
        f" {category_col} as category from {documents}"
        for name, expr in feature_exprs.items()
    )
    return f"""
with fs_n as (select count(*)::bigint as n from {documents}),
fs_melt as ({melt_selects}),
fs_cells as (
  select feature, value, category, count(*)::bigint as n_11
  from fs_melt group by 1, 2, 3),
fs_rows as (
  select feature, value, sum(n_11)::bigint as row_sum
  from fs_cells group by 1, 2),
fs_cats as (
  select {category_col} as category, count(*)::bigint as cat_n
  from {documents} group by 1),
fs_ncats as (select count(*)::bigint as k from fs_cats),
fs_full as (
  select r.feature, r.value, c.category, r.row_sum, c.cat_n,
         coalesce(x.n_11, 0)::bigint as n_11
  from fs_rows r
  cross join fs_cats c
  left join fs_cells x
    on x.feature = r.feature and x.value = r.value and x.category = c.category),
fs_scored as (
  select feature, value,
         case when row_sum = n.n or cat_n = n.n then 0
              else cast(floor(1e6 *
                (cast(n.n as double)
                 * cast((n_11 * (n.n - row_sum - (cat_n - n_11)) -
                         (row_sum - n_11) * (cat_n - n_11)) as double)
                 * cast((n_11 * (n.n - row_sum - (cat_n - n_11)) -
                         (row_sum - n_11) * (cat_n - n_11)) as double))
                / (cast(cat_n as double) * row_sum
                   * (n.n - cat_n) * (n.n - row_sum))
                + 0.5) as bigint) end as chi2_micro
  from fs_full, fs_n n),
fs_rowavg as (
  select feature, value,
         cast(sum(chi2_micro) // (select k from fs_ncats) as bigint) as avg_micro
  from fs_scored group by 1, 2),
fs_chi as (
  select feature, count(*)::bigint as n_values,
         sum(avg_micro)::bigint as chi2_avg_sum_micro
  from fs_rowavg group by 1),
fs_hclass as (
  select sum(cast(floor(-1e6 * (cast(c as double) / n.n)
                        * (ln(cast(c as double) / n.n) / ln(2.0))
                        + 0.5) as bigint))::bigint as h_class
  from (select count(*)::bigint as c from {documents} group by {category_col}),
       fs_n n),
fs_hjoint as (
  select feature,
         sum(cast(floor(-1e6 * (cast(c as double) / n.n)
                        * (ln(cast(c as double) / n.n) / ln(2.0))
                        + 0.5) as bigint))::bigint as h_joint
  from (select feature, category, value, count(*)::bigint as c
        from fs_melt group by 1, 2, 3), fs_n n
  group by feature),
fs_hvalue as (
  select feature,
         sum(cast(floor(-1e6 * (cast(c as double) / n.n)
                        * (ln(cast(c as double) / n.n) / ln(2.0))
                        + 0.5) as bigint))::bigint as h_value
  from (select feature, value, count(*)::bigint as c
        from fs_melt group by 1, 2), fs_n n
  group by feature)
select c.feature, c.n_values, c.chi2_avg_sum_micro,
       (h.h_class - j.h_joint + v.h_value)::bigint as ig_micro
from fs_chi c
join fs_hjoint j on c.feature = j.feature
join fs_hvalue v on c.feature = v.feature
cross join fs_hclass h
"""
