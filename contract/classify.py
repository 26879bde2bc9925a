"""Classifier and pattern-mining contract queries: Naive Bayes, ROC-AUC,
the nominal classifier, feature ranking, dictionary scoring, context
patterns and FP-growth."""

from __future__ import annotations

from pyspark.sql import functions as F

from palladian_spark.operators.featsel import (
    feature_ranking as _feature_ranking, feature_ranking_sql,
)
from palladian_spark.operators.naive_bayes import (
    nb_classify as _nb_classify, nb_classify_sql, nb_scored_with_clause, nb_scores,
)
from palladian_spark.operators.nominal import (
    nominal_classify as _nominal_classify, nominal_classify_sql,
)
from palladian_spark.operators.relations import (
    association_rules, frequent_itemsets, mine_context_patterns,
)
from palladian_spark.operators.roc import roc_auc_exact, roc_auc_exact_sql
from palladian_spark.operators.scoring import classify_documents_relational

from contract import query
from contract.common import GAZETTEER, _read


_GAZ_ALT = "|".join(sorted(GAZETTEER))

# the classifiers' nominal features as DuckDB expressions over documents
_NOMINAL_FEATURES_SQL = {"source": "source", "first_word": "split_part(text, ' ', 1)"}


@query(headline=True, oracle=lambda: f"""
{nb_scored_with_clause("lang", "doc_id", _NOMINAL_FEATURES_SQL, ["n_chars"])},
roc_scores as (
  select s.doc_id, s.score_milli as score, d.lang
  from nb_scored s join documents d using (doc_id)
  where s.category = 'en'),
{roc_auc_exact_sql("roc_scores", "lang = 'en'", "doc_id")}
""")
def classifier_roc(spark, sf_dir):
    # distributed ROC-AUC (RocCurves.java twin, reference unit
    # golden) of the Naive Bayes posterior for class 'en': exact
    # integer formulation AUC*P*N = sum over negatives of
    # tp-so-far under the (score desc, doc asc) total order
    docs = _read(spark, sf_dir, "documents").withColumn(
        "first_word", F.expr("element_at(split(text, ' '), 1)")
    )
    scores = nb_scores(
        docs, "lang", "doc_id", ["source", "first_word"], ["n_chars"]
    ).where(F.col("category") == "en")
    labeled = scores.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_true")),
        "doc_id",
    ).select("doc_id", "is_true", F.col("score_milli").alias("score"))
    return roc_auc_exact(labeled, "is_true", "score", "doc_id")


@query(
    headline=True,
    oracle=lambda: nominal_classify_sql("lang", "doc_id", _NOMINAL_FEATURES_SQL),
)
def nominal_classify(spark, sf_dir):
    # co-occurrence nominal classifier (NominalClassifier.java twin,
    # value-only count matrix incl. its cross-feature row-sharing
    # quirk) over source + first_word, class = lang
    docs = _read(spark, sf_dir, "documents").withColumn(
        "first_word", F.expr("element_at(split(text, ' '), 1)")
    )
    return _nominal_classify(docs, "lang", "doc_id", ["source", "first_word"])


@query(
    headline=True,
    oracle=lambda: nb_classify_sql("lang", "doc_id", _NOMINAL_FEATURES_SQL, ["n_chars"]),
)
def nb_classify(spark, sf_dir):
    # general Naive Bayes (nominal + Gaussian numeric; NaiveBayes
    # Learner/Classifier/Model twins, reference-test-golden kernel):
    # train on the documents table (class = lang; features source,
    # first_word, n_chars) and classify every row; engine-exact via
    # bigint sums + nano-int normalization + fixed-order log terms
    docs = _read(spark, sf_dir, "documents").withColumn(
        "first_word", F.expr("element_at(split(text, ' '), 1)")
    )
    return _nb_classify(docs, "lang", "doc_id", ["source", "first_word"], ["n_chars"])


@query(headline=True, oracle=lambda: feature_ranking_sql(
    "lang",
    {
        "source": "source",
        "first_word": "split_part(text, ' ', 1)",
        "len_bucket": "length(bin(n_chars))",
    },
))
def feature_ranking(spark, sf_dir):
    # chi-squared + information-gain feature rankers
    # (ChiSquaredFeatureRanker/InformationGainFeatureRanker twins,
    # reference-golden kernels) over three derived nominal features
    # with lang as the target class; micro-integerized for
    # engine-exact hashing
    docs = (
        _read(spark, sf_dir, "documents")
        .withColumn("first_word", F.expr("element_at(split(text, ' '), 1)"))
        .withColumn("len_bucket", F.expr("length(bin(n_chars))"))
    )
    return _feature_ranking(docs, "lang", ["source", "first_word", "len_bucket"])


@query(headline=True, oracle=lambda: f"""
            with m as (
              select unnest(regexp_extract_all(
                  text, '(\\w+ \\w+ \\w+) ({_GAZ_ALT})\\b')) as m
              from documents),
            s as (select regexp_extract(m, '(\\w+ \\w+ \\w+) ({_GAZ_ALT})\\b', 1)
                             as prefix,
                         regexp_extract(m, '(\\w+ \\w+ \\w+) ({_GAZ_ALT})\\b', 2)
                             as term
                  from m),
            c as (select prefix, term, count(*)::bigint as cnt
                  from s group by 1, 2),
            r as (select prefix, term, cnt,
                         row_number() over (order by cnt desc, prefix, term)
                             as rnk
                  from c)
            select prefix, term, cnt, rnk from r where rnk <= 20
        """)
def pattern_mining(spark, sf_dir):
    return mine_context_patterns(
        _read(spark, sf_dir, "documents"), list(GAZETTEER), top_k=20
    )


@query(oracle=lambda: f"""
            with baskets as (
              select doc_id,
                     list_distinct(regexp_extract_all(
                         text, '\\b({_GAZ_ALT})\\b', 1)) as items
              from documents
              where len(regexp_extract_all(text, '\\b({_GAZ_ALT})\\b', 1)) > 0),
            nb as (select count(*) as n from baskets),
            singles as (select doc_id, unnest(items) as item from baskets),
            s1 as (select item as items, count(*)::bigint as freq
                   from singles group by 1),
            pairs as (select a.item || ',' || b.item as items,
                             count(*)::bigint as freq
                      from singles a
                      join singles b
                        on a.doc_id = b.doc_id and a.item < b.item
                      group by 1)
            select items, freq
            from (select * from s1 union all select * from pairs)
            where freq >= ceil(0.2 * (select n from nb))
        """)
def fpgrowth_itemsets(spark, sf_dir):
    return frequent_itemsets(
        _read(spark, sf_dir, "documents"), GAZETTEER, min_support=0.2
    )


# 1->1 association rules: Spark FPGrowth keeps itemsets with
# freq >= ceil(minSupport*n) and rules with confidence >=
# minConfidence; confidence/support emitted as floor(x*10000) so
# the identical IEEE division hashes identically in both engines.
@query(oracle=lambda: f"""
            with baskets as (
              select doc_id,
                     list_distinct(regexp_extract_all(
                         text, '\\b({_GAZ_ALT})\\b', 1)) as items
              from documents
              where len(regexp_extract_all(text, '\\b({_GAZ_ALT})\\b', 1)) > 0),
            nb as (select count(*) as n from baskets),
            singles as (select doc_id, unnest(items) as item from baskets),
            s1 as (select item, count(*)::bigint as freq
                   from singles group by 1),
            dpairs as (select a.item as antecedent, b.item as consequent,
                              count(*)::bigint as freq
                       from singles a
                       join singles b
                         on a.doc_id = b.doc_id and a.item <> b.item
                       group by 1, 2)
            select p.antecedent,
                   p.consequent,
                   floor((p.freq::double / s.freq::double) * 10000)::bigint
                       as confidence_bp,
                   floor((p.freq::double / (select n from nb)) * 10000)::bigint
                       as support_bp
            from dpairs p
            join s1 s on s.item = p.antecedent
            where p.freq >= ceil(0.2 * (select n from nb))
              and p.freq::double / s.freq::double >= 0.5
        """)
def fpgrowth_rules(spark, sf_dir):
    return association_rules(
        _read(spark, sf_dir, "documents"),
        GAZETTEER,
        min_support=0.2,
        min_confidence=0.5,
    )


# ---- scoring join: DefaultScorer as broadcast dictionary join ----
@query(headline=True, oracle=lambda: """
            -- unique-term semantics: the reference DefaultScorer scores each
            -- distinct document term once, and training adds each (doc, term)
            -- once (PalladianTextClassifier.java:201-205, :222-227)
            with words as (
              select distinct doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]+')) as term
              from documents),
            model as (
              select term, category, count(*)::double as cnt
              from (select distinct doc_id, lang as category,
                           unnest(regexp_extract_all(lower(text), '[a-z]+')) as term
                    from documents)
              group by 1, 2),
            dc as (select term, sum(cnt) as dict_count from model group by 1),
            sm as (select m.term, m.category,
                          pow(m.cnt / d.dict_count, 2) as term_score
                   from model m join dc d using (term)),
            scores as (select w.doc_id, s.category,
                              round(sum(s.term_score), 9) as score
                       from words w join sm s using (term)
                       group by 1, 2),
            r as (select doc_id, category,
                         row_number() over (partition by doc_id
                                            order by score desc, category) as rn
                  from scores)
            select doc_id, category as predicted from r where rn = 1
        """)
def classify_docs(spark, sf_dir):
    return classify_documents_relational(_read(spark, sf_dir, "documents"))
