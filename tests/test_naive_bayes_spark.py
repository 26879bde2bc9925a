"""Distributed Naive Bayes vs the (reference-golden) kernel on the
same synthetic table: predictions must agree, scores to 1e-6."""

import math

from palladian_spark.kernels.naive_bayes import classify, most_likely, train
from palladian_spark.operators.naive_bayes import nb_classify


def test_nb_spark_matches_kernel(spark):
    import random

    rng = random.Random(11)
    cats = ["en", "de", "zh"]
    srcs = ["web", "book", "code"]
    rows = []
    for i in range(300):
        cat = rng.choice(cats)
        # category-correlated features so decisions are non-trivial
        src = srcs[(cats.index(cat) + (0 if rng.random() < 0.7 else 1)) % 3]
        n = int(rng.gauss(100 + 40 * cats.index(cat), 15))
        rows.append((i, cat, src, max(n, 1)))
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long"
    )
    got = {
        r["doc_id"]: (r["predicted"], r["score_milli"])
        for r in nb_classify(df, "lang", "doc_id", ["source"], ["n_chars"]).collect()
    }
    instances = [({"source": s, "n_chars": n}, c) for _, c, s, n in rows]
    model = train(instances)
    mismatch_pred = 0
    for i, cat, s, n in rows:
        scores = classify({"source": s, "n_chars": n}, model)
        want_pred = most_likely(scores)
        want_milli = math.floor(1000 * scores[want_pred] + 0.5)
        pred, milli = got[i]
        if pred != want_pred:
            mismatch_pred += 1
        else:
            assert abs(milli - want_milli) <= 1, (i, milli, want_milli)
    assert mismatch_pred == 0


def test_nb_null_nominal_adds_no_term(spark):
    """A NULL nominal or numeric value is skipped, as the reference skips
    missing features: the Spark scores follow the kernel, and the DuckDB
    twin (nb_classify_sql) follows Spark exactly."""
    import random

    import duckdb

    from palladian_spark.operators.naive_bayes import nb_classify_sql

    rng = random.Random(5)
    rows = []
    for i in range(200):
        cat = rng.choice(["en", "de"])
        src = None if i % 7 == 0 else rng.choice(["web", "book", "code"])
        n = None if i % 5 == 0 else rng.randint(1, 50) + (30 if cat == "de" else 0)
        rows.append((i, cat, src, n))
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long"
    )
    got = {
        r["doc_id"]: (r["predicted"], r["score_milli"])
        for r in nb_classify(df, "lang", "doc_id", ["source"], ["n_chars"]).collect()
    }
    model = train([({"source": s, "n_chars": n}, c) for _, c, s, n in rows])
    for i, _cat, s, n in rows:
        scores = classify({"source": s, "n_chars": n}, model)
        want = most_likely(scores)
        assert got[i][0] == want, i
        assert abs(got[i][1] - math.floor(1000 * scores[want] + 0.5)) <= 1, i

    sql = nb_classify_sql("lang", "doc_id", {"source": "source"}, ["n_chars"])
    with duckdb.connect() as con:
        con.register("documents", df.toPandas())
        oracle = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert oracle == got
