"""Training-data curation operators: document chunking and deterministic
dataset splitting.

Both are pure JVM-expression plans (no Python in the hot path, no Catalyst
HOF lambdas — PLANS.md bans the interpreted-per-element pattern), so they
whole-stage-codegen and scale with the scan:

- ``chunk_documents``: fixed-width overlapping character windows — the
  standard pre-tokenization step that turns arbitrary-length documents into
  model-context-sized training rows. One generator (posexplode over a
  bounded ``sequence``) per document; no shuffle at all — chunking is
  embarrassingly row-local.
- ``dataset_split``: content-addressed train/val/test assignment by
  comparing a prefix of md5(text) against fixed hex cut-points. Content
  hashing (not row ids) keeps the split stable under repartitions, id
  reassignment, and incremental reloads — the property a 100 TB corpus
  actually needs; row-number splits are not reproducible across runs.

Reference scope note: the reference (xiaming9880/palladian) stops at
document-level processing; these two close the gap between its text stack
and an LLM-scale data pipeline (round instructions: dedup/curation ops are
first-class alongside SURVEY §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import spread


def chunk_documents(
    df: DataFrame,
    size: int = 500,
    stride: int = 400,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, text) -> one row per overlapping chunk of ``size`` chars,
    advancing ``stride`` chars (overlap = size - stride).

    chunk i covers characters [i*stride, i*stride + size); the last chunk is
    the first one whose window reaches the end of the document (it may be
    shorter). Every document yields >= 1 chunk (empty/null text -> one empty
    chunk), so no rows vanish silently — a curation pipeline that drops
    short documents must do so explicitly with a filter, not as a chunking
    side effect.

    Scale shape: zero shuffles — a generator inside the scan stage. Both
    ``substring`` and ``length`` are character-based (UTF-8 aware) in Spark
    and DuckDB, so the oracle recomputes identical chunks on multibyte text.

    Guard rails: ``sequence(0, n-1)`` requires n >= 1 — Spark's sequence()
    with a negative stop is DESCENDING, never empty (the round-3 10x-bench
    bug class), so n is clamped with greatest(1, ...).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_chunks = F.greatest(
        F.lit(1),
        F.lit(1)
        + F.floor(
            (F.length(txt) - F.lit(size) + F.lit(stride) - F.lit(1)) / F.lit(stride)
        ).cast("int"),
    )
    return (
        df.select(
            F.col(id_col),
            txt.alias("_txt"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias(
                "chunk_id", "_i"
            ),
        )
        .select(
            id_col,
            "chunk_id",
            F.substring(
                F.col("_txt"), F.col("_i") * F.lit(stride) + F.lit(1), size
            ).alias("chunk_text"),
        )
    )


# 80/90 percentile cut-points over the first md5 hex byte: 0xcc/0x100 = 79.7%,
# 0xe6/0x100 = 89.8%. Hex-string comparison (not hex->int conversion) because
# both engines emit lowercase hex md5 and compare strings identically — no
# integer-parsing function needs to exist on both sides.
_SPLIT_CUTS = (("train", "cc"), ("val", "e6"))


def dataset_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic content-hash train/val/test split (~80/10/10).

    Assignment = first two hex chars of md5(text) against fixed cut-points;
    a document's split follows its CONTENT, so exact duplicates always land
    in the same split (no train/test leakage through duplicated text), and
    the assignment is reproducible on any engine with an md5 — which is also
    what makes it independently DuckDB-oracle-able.
    """
    prefix = F.substring(F.md5(F.coalesce(F.col(text_col), F.lit(""))), 1, 2)
    split = F.lit("test")
    for name, cut in reversed(_SPLIT_CUTS):
        split = F.when(prefix < F.lit(cut), F.lit(name)).otherwise(split)
    return df.select(F.col(id_col), split.alias("split"))


def stratified_sample(
    df: DataFrame,
    strata_col: str = "source",
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic top-k sample per stratum, ordered by md5(id).

    The curation counterpart of random stratified sampling: hashing the id
    gives a uniform-but-reproducible order inside each stratum, so the
    sample is stable across runs/engines (and DuckDB-oracle-able), while
    exact per-stratum counts hold by construction — `sample(fraction)`
    guarantees neither. One hash-partitioned window per stratum; nothing
    wider than (id, stratum) shuffles.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.select(id_col, strata_col)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(id_col, strata_col)
    )


def remove_near_duplicates(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    broadcast_clusters: bool = True,
) -> DataFrame:
    """Keep one representative per near-dup cluster: drop every doc whose
    cluster label differs from its own id (the representative is the
    cluster-min id), keep all unclustered docs. clusters: (doc_id, cluster)
    as produced by connected components over near-dup pairs. The removal
    costs one (id, id) join — the corpus text never shuffles. Broadcast by
    default (the cluster map holds only docs that HAD a near-dup pair);
    pass broadcast_clusters=False on corpora whose duplicate-pair set
    itself exceeds executor memory and let AQE pick the join."""
    c = clusters.select(
        F.col(id_col).alias("_cid"), F.col("cluster").alias("_cluster")
    )
    if broadcast_clusters:
        c = F.broadcast(c)
    return (
        df.join(c, df[id_col] == F.col("_cid"), "left")
        .where(F.col("_cluster").isNull() | (F.col("_cluster") == F.col(id_col)))
        .drop("_cid", "_cluster")
    )


DECON_BENCH_MOD = 20
DECON_THRESHOLD_1000 = 500


def benchmark_overlap(
    docs: DataFrame,
    bench_mod: int = DECON_BENCH_MOD,
    threshold_1000: int = DECON_THRESHOLD_1000,
    n: int = 3,
) -> DataFrame:
    """Decontamination: flag training documents whose word-``n``-gram
    shingle set is contained (>= threshold) in some benchmark document's
    shingle set — the standard eval-leakage gate (GPT-3 appendix C /
    PaLM-style 3-gram overlap) run before any corpus ships.

    The benchmark split is carved deterministically from the same table
    (``doc_id % bench_mod == 0``) per BASELINE.json's
    synthesize-at-small-scale rule; in production the benchmark side is
    whatever eval suite the run guards.

    Output: (doc_id, bench_doc, inter, n_shingles, containment_1000),
    containment = |shingles(train) ∩ shingles(bench)| / |shingles(train)|
    in integer thousandths, one row per flagged (train, bench) pair.

    Scale shape: shingles are built in one Arrow hop (dedup's
    _make_shingle_udf — Catalyst HOF lambdas are interpreted per
    element); the containment join BROADCASTS the benchmark side, which
    is the decontamination invariant — eval suites are fixed-size while
    the corpus is 100 TB, so the train side never shuffles at all and
    the aggregate keys on (train doc, bench doc) hit map-side combine.
    Containment (not Jaccard) is deliberate: a 50-token eval question
    pasted into a 10k-token web page has tiny Jaccard but full
    containment of the page's offending region; per-train-doc
    normalization also keeps the denominator local.
    """
    from palladian_spark.operators.dedup import _sized_shingles

    shingled = spread(docs).select(
        F.col("doc_id").alias("doc"), F.inline(_sized_shingles("text", n))
    )
    bench = shingled.where(F.col("doc") % bench_mod == 0).select(
        F.col("doc").alias("bench_doc"), "shingle"
    )
    # each train row carries its doc's shingle-set size: one read, no
    # size aggregate joined back
    train = shingled.where(F.col("doc") % bench_mod != 0).select(
        F.col("doc").alias("doc_id"), "shingle", "n_shingles"
    )
    inter = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_doc", "n_shingles")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.where(F.col("inter") * 1000 >= F.col("n_shingles") * threshold_1000)
        .select(
            "doc_id",
            "bench_doc",
            "inter",
            "n_shingles",
            F.expr("cast((1000 * inter) div n_shingles as bigint)").alias(
                "containment_1000"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style quality gate)
# ---------------------------------------------------------------------------
# Integer-thousandths thresholds (Rae et al. 2021 "Gopher" §A1.1 uses
# 0.20 for the most-common-2-gram character fraction; the synthetic
# corpus tops out lower, so the defaults here are tuned to exercise all
# three verdicts on it — both are oracle-mirrored parameters).
REP_TOP_BIGRAM_1000 = 100
REP_DUP_WORD_1000 = 680
# Fraction thresholds are meaningless on tiny documents (3 unique
# bigrams already read 333 thousandths); Gopher applies its repetition
# filters only above a minimum length, mirrored here.
REP_MIN_WORDS = 20


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_bigram_1000: int = REP_TOP_BIGRAM_1000,
    dup_word_1000: int = REP_DUP_WORD_1000,
    min_words: int = REP_MIN_WORDS,
) -> DataFrame:
    """Within-document repetition metrics, the Gopher-style filter every
    LLM corpus runs: (doc_id, n_words, n_distinct_words,
    dup_word_frac_1000, top_bigram_frac_1000, verdict).

    dup_word_frac = (n_words - n_distinct) / n_words; top_bigram_frac =
    count of the modal word 2-gram / (n_words - 1). verdict:
    'drop-repetitive' (top bigram over threshold), 'drop-low-diversity'
    (dup words over threshold), else 'keep'; documents under
    ``min_words`` always keep (fractions are noise at that length).

    Scale shape: ONE Arrow hop, zero shuffles — the metrics are
    row-local, so a pandas UDF computes all four counters per document
    inside the scan stage (a pure-SQL plan would explode every word and
    shuffle on (doc, bigram); repetition needs no cross-document state,
    so it never should). Tokenization is the dedup family's
    ``[a-z0-9]+`` over lower(), byte-identical in Python re / RE2, so
    the DuckDB oracle recomputes everything from raw text.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_t = StructType(
        [
            StructField("n_words", LongType()),
            StructField("n_distinct_words", LongType()),
            StructField("n_bigrams", LongType()),
            StructField("top_bigram_cnt", LongType()),
        ]
    )

    @F.pandas_udf(out_t)
    def stats(texts):
        import re
        from collections import Counter

        import pandas as pd

        rows = []
        for t in texts:
            ws = re.findall(r"[a-z0-9]+", (t or "").lower())
            bigs = Counter(zip(ws, ws[1:]))
            rows.append(
                (
                    len(ws),
                    len(set(ws)),
                    max(len(ws) - 1, 0),
                    max(bigs.values()) if bigs else 0,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_words",
                "n_distinct_words",
                "n_bigrams",
                "top_bigram_cnt",
            ],
        )

    dup = F.when(
        F.col("n_words") > 0,
        F.expr("(1000 * (n_words - n_distinct_words)) div n_words"),
    ).otherwise(F.lit(0)).cast("bigint")
    top = F.when(
        F.col("n_bigrams") > 0,
        F.expr("(1000 * top_bigram_cnt) div n_bigrams"),
    ).otherwise(F.lit(0)).cast("bigint")
    return (
        spread(docs)
        .select(F.col(id_col), stats(F.col(text_col)).alias("_s"))
        .select(id_col, "_s.*")
        .withColumn("dup_word_frac_1000", dup)
        .withColumn("top_bigram_frac_1000", top)
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            "dup_word_frac_1000",
            "top_bigram_frac_1000",
            F.when(F.col("n_words") < min_words, F.lit("keep"))
            .when(
                F.col("top_bigram_frac_1000") >= top_bigram_1000,
                F.lit("drop-repetitive"),
            )
            .when(
                F.col("dup_word_frac_1000") >= dup_word_1000,
                F.lit("drop-low-diversity"),
            )
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def repetition_stats_sql(
    documents: str = "documents",
    top_bigram_1000: int = REP_TOP_BIGRAM_1000,
    dup_word_1000: int = REP_DUP_WORD_1000,
    min_words: int = REP_MIN_WORDS,
) -> str:
    """Final select — DuckDB twin of :func:`repetition_stats`."""
    return f"""
    rep_words as (
      select doc_id,
             regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')
               as ws
      from {documents}),
    rep_base as (
      select doc_id, len(ws)::bigint as n_words,
             len(list_distinct(ws))::bigint as n_distinct_words,
             list_filter(list_transform(ws,
                 (x, i) -> case when i < len(ws)
                                then x || ' ' || ws[i+1] end),
               x -> x is not null) as bigs
      from rep_words),
    rep_top as (
      select doc_id, max(cnt)::bigint as top_bigram_cnt
      from (select doc_id, b, count(*) as cnt
            from (select doc_id, unnest(bigs) as b from rep_base)
            group by 1, 2)
      group by 1)
    select doc_id, n_words, n_distinct_words,
           case when n_words > 0
                then (1000 * (n_words - n_distinct_words)) // n_words
                else 0 end::bigint as dup_word_frac_1000,
           case when len(bigs) > 0
                then (1000 * coalesce(top_bigram_cnt, 0)) // len(bigs)
                else 0 end::bigint as top_bigram_frac_1000,
           case when n_words < {min_words} then 'keep'
                when (case when len(bigs) > 0
                           then (1000 * coalesce(top_bigram_cnt, 0))
                                // len(bigs)
                           else 0 end) >= {top_bigram_1000}
                then 'drop-repetitive'
                when (case when n_words > 0
                           then (1000 * (n_words - n_distinct_words))
                                // n_words
                           else 0 end) >= {dup_word_1000}
                then 'drop-low-diversity'
                else 'keep' end as verdict
    from rep_base left join rep_top using (doc_id)"""


# ---------------------------------------------------------------------------
# PII injection + redaction
# ---------------------------------------------------------------------------
# The synthetic documents table contains no PII, so :func:`with_pii`
# plants it deterministically (keyed on doc_id) per BASELINE.json's
# synthesize-at-small-scale rule — the same injector pattern as
# code_curation.augment_corpus. In production the redactor runs over the
# raw corpus directly.
PII_MODS = {"email": 3, "ipv4": 5, "phone": 7}

# (kind, pattern, mask) applied IN ORDER (order is part of the contract;
# counts are taken per-kind on the UNredacted text, so they are
# order-independent — only the masked text depends on order). Patterns
# stay in the RE2 ∩ java.util.regex common subset; the ipv4 ``\b`` is
# engine-identical only over ASCII, so the scan scrubs non-ASCII runs
# first (SCRUB_NON_ASCII, same invariant as the code secret scan).
PII_PATTERNS = [
    ("email", r"[\w.+-]+@[\w-]+\.[\w.-]+", "<EMAIL>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{3}-\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def with_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, text) -> same rows with deterministic planted PII
    trailers (email for id%3==0, ipv4 for id%5==0, phone for id%7==0).
    Pure codegen projection, no shuffle."""
    did = F.col(id_col)

    def planted(kind):
        if kind == "email":
            body = F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            )
        elif kind == "ipv4":
            body = F.concat(
                F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0.1")
            )
        else:  # phone
            body = F.concat(
                F.lit(" call +1-555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            )
        return F.when(did % PII_MODS[kind] == 0, body).otherwise(F.lit(""))

    text = F.concat(
        F.coalesce(F.col(text_col), F.lit("")),
        *[planted(k) for k in PII_MODS],
    )
    return docs.select(did.alias(id_col), text.alias(text_col))


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The PII redaction pass (cf. BigCode/The-Stack PII pipeline):
    (doc_id, n_email, n_ipv4, n_phone, redacted_hash) where the hash is
    md5 of the text after every pattern is masked in PII_PATTERNS order.

    Scale shape: one codegen projection inside the scan — counting and
    masking are row-local regexp work, zero shuffles, no Python. The
    masked corpus itself would be written by the same projection; the
    contract query emits its hash so the oracle can verify the full
    masked text without hauling it through the compare."""
    from palladian_spark.operators.code_curation import SCRUB_NON_ASCII

    scrub = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), SCRUB_NON_ASCII, ":"
    )
    counts = [
        F.size(F.regexp_extract_all(scrub, F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]
    red = scrub
    for _, pat, mask in PII_PATTERNS:
        red = F.regexp_replace(red, pat, mask)
    return docs.select(
        F.col(id_col), *counts, F.md5(red).alias("redacted_hash")
    )


def with_pii_sql(documents: str = "documents") -> str:
    """CTE body ``pii_src`` — DuckDB twin of :func:`with_pii`."""
    planted = {
        "email": "' contact user' || cast(doc_id as varchar)"
        " || '@example.com'",
        "ipv4": "' from 10.' || cast(doc_id % 256 as varchar) || '.0.1'",
        "phone": "' call +1-555-' ||"
        " lpad(cast(doc_id % 1000 as varchar), 3, '0') || '-0199'",
    }
    trailers = " || ".join(
        f"case when doc_id % {PII_MODS[k]} = 0 then {planted[k]}"
        f" else '' end"
        for k in PII_MODS
    )
    return f"""
    pii_src as (
      select doc_id, coalesce(text, '') || {trailers} as text
      from {documents})"""


def pii_redact_sql(src: str = "pii_src") -> str:
    """Final select — DuckDB twin of :func:`pii_redact`."""
    from palladian_spark.operators.code import _sql_str
    from palladian_spark.operators.code_curation import SCRUB_NON_ASCII

    counts = ", ".join(
        f"len(regexp_extract_all(scrub, {_sql_str(pat)}))::bigint"
        f" as n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "scrub"
    for _, pat, mask in PII_PATTERNS:
        red = f"regexp_replace({red}, {_sql_str(pat)}, '{mask}', 'g')"
    return f"""
    select doc_id, {counts}, md5({red}) as redacted_hash
    from (select doc_id,
                 regexp_replace(coalesce(text, ''),
                                {_sql_str(SCRUB_NON_ASCII)}, ':', 'g')
                   as scrub
          from {src})"""


def benchmark_overlap_sql(
    documents: str = "documents",
    bench_mod: int = DECON_BENCH_MOD,
    threshold_1000: int = DECON_THRESHOLD_1000,
) -> str:
    """Final select — DuckDB twin of :func:`benchmark_overlap` (3-gram
    shingles, same first-occurrence-distinct + size>n semantics as the
    doc_ngram_jaccard oracle)."""
    return f"""
    dc_sh as (
      select doc_id as doc,
             list_distinct(list_transform(
                list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            (x, i) -> i <= len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3),
                (x, i) -> x || ' ' ||
                          regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
                          regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) as shingles
      from {documents}),
    dc_tok as (select doc, unnest(shingles) as shingle from dc_sh),
    dc_bench as (select doc as bench_doc, shingle from dc_tok
                 where doc % {bench_mod} = 0),
    dc_train as (select doc as doc_id, shingle from dc_tok
                 where doc % {bench_mod} != 0),
    dc_sizes as (select doc_id, count(*)::bigint as n_shingles
                 from dc_train group by 1),
    dc_inter as (
      select t.doc_id, b.bench_doc, count(*)::bigint as inter
      from dc_train t join dc_bench b on t.shingle = b.shingle
      group by 1, 2)
    select i.doc_id, i.bench_doc, i.inter, s.n_shingles,
           ((1000 * i.inter) // s.n_shingles)::bigint as containment_1000
    from dc_inter i join dc_sizes s on s.doc_id = i.doc_id
    where 1000 * i.inter >= s.n_shingles * {threshold_1000}"""


# ---------------------------------------------------------------------------
# Exact substring-duplication spans (Lee et al. 2022 semantics)
# ---------------------------------------------------------------------------
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
# ACL 2022) removes every substring of length >= L that appears more than
# once in the corpus. The published implementation is a suffix array — a
# single-machine structure; the distributable equivalent used here is
# hash-blocking every L-gram position: positions whose L-gram hash occurs
# in >= 2 DISTINCT documents are duplicated, and runs of duplicated
# positions closer than L merge into maximal spans (the islands-and-gaps
# window trick, same as events_sessionize). Cross-document only: a
# within-doc repeat is the doc_repetition gate's job.
#
# Scale shape: gram hashing is pure codegen (explode(sequence) +
# substring + md5-slice) bounded by DUP_SPAN_MAX_CHARS per doc; the one
# heavy shuffle is the gram-hash aggregate — rows are (60-bit hash,
# doc, pos), map-side combine collapses within-partition repeats, and the
# min!=max distinct-doc test avoids a countDistinct expand. The span
# merge is a per-doc window over duplicated positions only (a small
# subset after the semi-join). At 100 TB this is the same cost class as
# MinHash shingling — linear scan + one wide aggregate — which is what
# makes it the practical stand-in for a corpus-wide suffix array.
DUP_SPAN_L = 40
DUP_SPAN_MAX_CHARS = 2000


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = DUP_SPAN_L,
    max_chars: int = DUP_SPAN_MAX_CHARS,
) -> DataFrame:
    """documents -> per-doc duplicated-span stats:
    (doc_id, n_chars, analyzed_chars, n_spans, dup_chars, dup_frac_1000).

    A span is a maximal run of positions whose ``gram_len``-gram also
    appears in another document; dup_chars is the total character count
    covered by spans (what Lee et al. would cut). OUTPUT CONTRACT for the
    ``max_chars`` bound: only the first ``max_chars`` characters are
    analyzed (the bound is part of the operator contract, mirrored in the
    oracle); n_chars is the TRUE document length, analyzed_chars the
    analyzed prefix length, and dup_frac_1000 is relative to
    analyzed_chars — so a consumer can always see when truncation
    occurred instead of mistaking a capped doc for a short one."""
    from pyspark.sql import Window

    from palladian_spark.operators.dedup import portable_token_hash

    full_len = F.length(F.coalesce(F.col(text_col), F.lit("")))
    t = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, max_chars)
    base = df.select(
        F.col(id_col).alias("doc"), full_len.alias("_full"), t.alias("_t")
    ).localCheckpoint(eager=False)
    # localCheckpoint: the gram branch and the final stats join both read
    # base; the GRAM table itself is deliberately NOT materialized — at
    # content scale, recomputing a codegen projection is cheaper than
    # storing ~(doc, pos, hash) per character (the recompute-vs-store
    # call every 100 TB design makes).
    grams = base.where(F.length("_t") >= gram_len).select(
        "doc",
        F.explode(
            F.sequence(F.lit(1), F.length("_t") - gram_len + 1)
        ).alias("pos"),
        "_t",
    ).select(
        "doc",
        "pos",
        portable_token_hash(F.expr(f"substring(_t, pos, {gram_len})")).alias("h"),
    )
    # ONE shuffle for duplicate detection: window min/max doc per hash
    # (same exchange a groupBy(h) would cost, but no second gram scan and
    # no hash self-join afterwards)
    wh = Window.partitionBy("h")
    dup_pos = (
        grams.withColumn("_mn", F.min("doc").over(wh))
        .withColumn("_mx", F.max("doc").over(wh))
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc", "pos")
    )
    w = Window.partitionBy("doc").orderBy("pos")
    runs = (
        dup_pos.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > gram_len)).cast(
                "int"
            ),
        )
        .withColumn(
            "_run", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc", "_run")
        .agg(
            (F.max("pos") - F.min("pos") + gram_len).alias("_len"),
        )
    )
    per_doc = runs.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_spans"), F.sum("_len").alias("dup_chars")
    )
    return (
        base.select(
            "doc",
            F.col("_full").alias("n_chars"),
            F.length("_t").alias("analyzed_chars"),
        )
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("analyzed_chars").cast("bigint").alias("analyzed_chars"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
            F.expr(
                "cast((1000 * coalesce(dup_chars, 0))"
                " div greatest(analyzed_chars, 1) as bigint)"
            ).alias("dup_frac_1000"),
        )
    )


def dup_span_stats_sql(
    documents: str = "documents",
    gram_len: int = DUP_SPAN_L,
    max_chars: int = DUP_SPAN_MAX_CHARS,
) -> str:
    """Final SELECT — DuckDB twin of :func:`dup_span_stats`."""
    return f"""
    with ds_base as (
      select doc_id as doc,
             length(coalesce(text, '')) as full_len,
             substr(coalesce(text, ''), 1, {max_chars}) as t
      from {documents}),
    ds_grams as (
      select doc, pos,
             ('0x' || substr(md5(substr(t, pos, {gram_len})), 1, 15))::bigint as h
      from (select doc, t,
                   unnest(generate_series(1, length(t) - {gram_len} + 1)) as pos
            from ds_base
            where length(t) >= {gram_len})),
    ds_dup_h as (
      select h from ds_grams group by h
      having min(doc) <> max(doc)),
    ds_dup_pos as (
      select doc, pos from ds_grams where h in (select h from ds_dup_h)),
    ds_runs as (
      select doc, run_id,
             max(pos) - min(pos) + {gram_len} as len
      from (
        select doc, pos,
               sum(case when prev is null or pos - prev > {gram_len}
                        then 1 else 0 end)
                 over (partition by doc order by pos
                       rows between unbounded preceding and current row) as run_id
        from (select doc, pos,
                     lag(pos) over (partition by doc order by pos) as prev
              from ds_dup_pos))
      group by 1, 2),
    ds_per_doc as (
      select doc, count(*)::bigint as n_spans, sum(len)::bigint as dup_chars
      from ds_runs group by 1)
    select b.doc as doc_id, b.full_len::bigint as n_chars,
           length(b.t)::bigint as analyzed_chars,
           coalesce(p.n_spans, 0)::bigint as n_spans,
           coalesce(p.dup_chars, 0)::bigint as dup_chars,
           ((1000 * coalesce(p.dup_chars, 0)) // greatest(length(b.t), 1))::bigint
               as dup_frac_1000
    from ds_base b
    left join ds_per_doc p on p.doc = b.doc"""


# ---------------------------------------------------------------------------
# Sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    capacity: int = 1024,
    bucket_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic next-fit sequence packing: assign each document to a
    fixed-token-budget training sequence.

    The last pre-training step after chunk/dedup/split: concatenating
    variable-length documents into model-context-sized sequences ("sequence
    packing") so no context window trains mostly on padding. Packing is an
    inherently SEQUENTIAL fold (each document's bin depends on everything
    packed before it), so a 100 TB corpus can't pack globally — and doesn't
    need to: training order inside a shard is arbitrary. The scale design is
    therefore bucket-local packing:

    - bucket = first ``bucket_chars`` hex chars of md5(doc_id) — a
      content-independent, engine-portable shard key (16^bucket_chars
      buckets; raise to 2-3 chars / 256-4096 buckets at cluster scale so a
      bucket's (doc_id, token_count) pairs — 16 bytes/doc — fit one task);
    - inside a bucket, documents are packed in doc_id order by NEXT-FIT:
      a new sequence starts exactly when the running fill plus the incoming
      document's token count would exceed ``capacity``. A document longer
      than ``capacity`` occupies a sequence alone (packing never truncates —
      length control is chunk_documents' job, upstream).

    Plan shape: one codegen projection (regex token count + md5 bucket) over
    the scan, ONE shuffle on the bucket key, then applyInPandas runs the
    per-bucket fold — a single linear pass over an int64 array; only
    (doc_id, token_count) crosses the shuffle, never text. The fold is the
    one honest row-loop in the repo's curation suite: next-fit has a true
    loop-carried dependency, so there is nothing to vectorize — but each
    bucket is independent, which is where the parallelism lives.

    Next-fit (not first-fit-decreasing) is chosen deliberately: it is
    single-pass streaming, order-stable, and exactly reproducible in ANSI
    SQL (a recursive CTE), which gives the operator a full independent
    DuckDB oracle instead of a fixture pin. Its packing efficiency is within
    a few percent of FFD at web-corpus length distributions once
    capacity >> median document length (the 100 TB operating point).

    Output: (doc_id, bucket, seq_id, pos_in_seq, token_count) —
    seq_id is bucket-local and 1-based; (bucket, seq_id) is the global
    sequence key. Token semantics = the reference tokenizer regex
    (Tokenizer.java TOKEN_SPLIT_REGEX, same counts as token_counts()).
    """
    import numpy as np

    from .textstats import TOKEN_REGEX_RE2, _extract_all

    if capacity <= 0:
        raise ValueError("capacity must be positive")
    cap = int(capacity)
    base = spread(df).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(
            _extract_all(F.coalesce(F.col(text_col), F.lit("")), TOKEN_REGEX_RE2)
        )
        .cast("long")
        .alias("token_count"),
        F.substring(F.md5(F.col(id_col).cast("string")), 1, bucket_chars).alias(
            "bucket"
        ),
    )

    schema = (
        "doc_id long, bucket string, seq_id long, pos_in_seq long, "
        "token_count long"
    )

    def _pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        tc = pdf["token_count"].to_numpy()
        n = len(tc)
        seq = np.empty(n, dtype=np.int64)
        pos = np.empty(n, dtype=np.int64)
        s, fill, p = 1, 0, 0
        for i in range(n):
            t = int(tc[i])
            # mirror the oracle recursion exactly: the FIRST document never
            # opens a new sequence; afterwards overflow (fill + t > cap)
            # starts one — including when t alone exceeds cap (the oversize
            # document then sits in its own sequence).
            if i > 0 and fill + t > cap:
                s += 1
                fill = 0
                p = 0
            p += 1
            fill += t
            seq[i] = s
            pos[i] = p
        pdf["seq_id"] = seq
        pdf["pos_in_seq"] = pos
        return pdf[["doc_id", "bucket", "seq_id", "pos_in_seq", "token_count"]]

    return base.groupBy("bucket").applyInPandas(_pack, schema)


def pack_sequences_sql(
    token_regex_sql: str,
    capacity: int = 1024,
    bucket_chars: int = 1,
    documents: str = "documents",
) -> str:
    """Full independent DuckDB recomputation of pack_sequences: the next-fit
    fold as a recursive CTE that advances every bucket one document per
    iteration (recursion depth = max docs per bucket)."""
    cap = int(capacity)
    return f"""
        with recursive ps_d as (
          select doc_id,
                 len(regexp_extract_all(coalesce(text, ''),
                     '{token_regex_sql}'))::bigint as token_count,
                 substr(md5(cast(doc_id as varchar)), 1, {bucket_chars})
                     as bucket
          from {documents}),
        ps_o as (
          select *, row_number() over (partition by bucket order by doc_id)
                     as rn
          from ps_d),
        ps_rec as (
          select bucket, rn, doc_id, token_count,
                 1::bigint as seq_id, token_count as fill
          from ps_o where rn = 1
          union all
          select o.bucket, o.rn, o.doc_id, o.token_count,
                 case when r.fill + o.token_count > {cap}
                      then r.seq_id + 1 else r.seq_id end,
                 case when r.fill + o.token_count > {cap}
                      then o.token_count else r.fill + o.token_count end
          from ps_rec r
          join ps_o o on o.bucket = r.bucket and o.rn = r.rn + 1)
        select doc_id, bucket, seq_id,
               row_number() over (partition by bucket, seq_id order by doc_id)
                   as pos_in_seq,
               token_count
        from ps_rec"""


def near_dup_kept(docs: DataFrame) -> DataFrame:
    """The near-dedup keep set over the documents shape (doc_id, text):
    3-gram Jaccard pairs at threshold 1/5 -> connected components ->
    cluster-min representative + every unclustered doc. THE single
    definition of the near-dedup recipe — doc_dedup_near,
    doc_dup_clusters' action, and curation_report all consume this
    helper so the parameters can never drift apart."""
    from .dedup import ngram_jaccard_pairs_exact
    from ..operators.canonicalize import connected_components

    pairs = ngram_jaccard_pairs_exact(
        docs, n=3, threshold_num=1, threshold_den=5
    )
    edges = pairs.select(
        F.lpad(F.col("doc_a").cast("string"), 12, "0").alias("left_value"),
        F.lpad(F.col("doc_b").cast("string"), 12, "0").alias("right_value"),
    )
    clusters = connected_components(edges).select(
        F.col("value").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster"),
    )
    return remove_near_duplicates(docs.select("doc_id"), clusters).select(
        "doc_id"
    )


def curation_report(docs: DataFrame) -> DataFrame:
    """The ship-it verdict table: every per-document curation gate joined
    into one row — (doc_id, n_words, quality_ok, verdict, n_pii,
    exact_keep, near_keep, contaminated, keep). ``keep`` is the corpus a
    training run would actually read: quality in range AND repetition
    verdict 'keep' AND the document is its exact-dup group's canonical
    row AND survives near-dedup AND is not benchmark-contaminated (PII is
    reported, not a drop gate — the pipeline redacts instead).

    quality_ok pins explicit integer thresholds (Gopher-style): at least
    10 words and mean word length in [2, 12], expressed as cross-
    multiplied integers so both engines compare exactly.

    Operates on the documents shape (doc_id, text) — the near-dup and
    decontamination gates pin those names internally, so the report does
    NOT offer column-renaming parameters it could not honor (a silently
    half-forwarded rename would compute some gates over the wrong
    columns; review-caught).

    Scale shape: every component's cost is its own audited plan (see
    PLANS.md per gate); the report adds only id-keyed equi-joins of
    id-sized flag tables — the corpus text is never re-shuffled, and the
    near-dup/decontaminate sides are pair-bounded. This is the text-side
    twin of code_curation_report."""
    from .dedup import exact_dedup
    from ..operators.textstats import quality_counts

    id_col = "doc_id"
    q = quality_counts(docs).select(id_col, "n_words", "sum_word_chars")
    rep = repetition_stats(docs).select(id_col, "verdict")
    pii = pii_redact(docs)
    n_pii = None
    for kind, _, _ in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        n_pii = c if n_pii is None else n_pii + c
    pii = pii.select(id_col, n_pii.cast("long").alias("n_pii"))

    exact = exact_dedup(docs).select(F.col(id_col), F.lit(1).alias("_ex"))
    near = near_dup_kept(docs).withColumn("_nr", F.lit(1))
    cont = (
        benchmark_overlap(docs)
        .select(F.col("doc_id").alias(id_col))
        .distinct()
        .withColumn("_ct", F.lit(1))
    )

    quality_ok = (
        (F.col("n_words") >= 10)
        & (2 * F.col("n_words") <= F.col("sum_word_chars"))
        & (F.col("sum_word_chars") <= 12 * F.col("n_words"))
    ).cast("int")
    out = (
        docs.select(id_col)
        .join(q, id_col)
        .join(rep, id_col)
        .join(pii, id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .join(cont, id_col, "left")
        .select(
            id_col,
            F.col("n_words").cast("long").alias("n_words"),
            quality_ok.alias("quality_ok"),
            "verdict",
            "n_pii",
            F.coalesce(F.col("_ex"), F.lit(0)).alias("exact_keep"),
            F.coalesce(F.col("_nr"), F.lit(0)).alias("near_keep"),
            F.coalesce(F.col("_ct"), F.lit(0)).alias("contaminated"),
        )
    )
    keep = (
        (F.col("quality_ok") == 1)
        & (F.col("verdict") == "keep")
        & (F.col("exact_keep") == 1)
        & (F.col("near_keep") == 1)
        & (F.col("contaminated") == 0)
    ).cast("int")
    return out.withColumn("keep", keep)
