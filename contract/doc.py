"""Document contract queries: text statistics, curation gates (chunking,
splits, packing, repetition, PII, decontamination, the curation report),
term statistics and retrieval, spelling, POS tags and noun phrases, BPE,
sketches, exact and near deduplication, co-occurrence, and the date,
coordinate and address taggers over derived corpora.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
from pyspark.sql import functions as F

from palladian_spark.kernels.pos import classify_token, train_pos_tagger
from palladian_spark.operators.bpe import (
    bpe_merges as _bpe_merges, bpe_merges_sql, bpe_token_counts as _bpe_token_counts,
    bpe_token_counts_sql,
)
from palladian_spark.operators.canonicalize import connected_components
from palladian_spark.operators.chunking import noun_phrase_chunks, noun_phrases_sql
from palladian_spark.operators.cooccurrence import (
    CONTEXT_WINDOW, SENTENCE, scoped_cooccurrences,
)
from palladian_spark.operators.curation import (
    benchmark_overlap, benchmark_overlap_sql, chunk_documents, curation_report,
    dataset_split, dup_span_stats, dup_span_stats_sql, near_dup_kept, pack_sequences,
    pack_sequences_sql, pii_redact, pii_redact_sql, repetition_stats,
    repetition_stats_sql, stratified_sample, with_pii, with_pii_sql,
)
from palladian_spark.operators.dates import normalize_dates
from palladian_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs_exact, portable_token_hash,
    simhash_pairs, simhash_pairs_wide, simhash_signatures, simhash_signatures_wide,
)
from palladian_spark.operators.geo import tag_addresses, tag_coordinates
from palladian_spark.operators.mixture import mixture_sample, mixture_sample_sql
from palladian_spark.operators.pos_tagging import pos_tag_documents
from palladian_spark.operators.sketches import (
    benchmark_bloom_bits, benchmark_bloom_bits_sql, token_cms, token_cms_sql,
    token_hll_registers, token_hll_registers_sql,
)
from palladian_spark.operators.spelling import (
    bigram_typos, corpus_context, corpus_dictionary, correct_tokens,
    double_deletion_typos, spell_corrections_sql,
)
from palladian_spark.operators.termcorpus import (
    bm25_topk, bm25_topk_sql, doc_keywords as _doc_keywords, doc_keywords_sql,
    doc_terms_sql, term_corpus, term_corpus_sql,
)
from palladian_spark.operators.textstats import (
    LANG_MARKERS, fingerprints, language_id, length_histogram, length_histogram_sql,
    lm_quality, lm_quality_sql, quality_counts, structure_stats, token_counts,
)
from palladian_spark.operators.util import member_pairs

from contract import query
from contract.common import (
    REFERENCE_FIXTURES, _doc_mentions, _gazetteer_presence_sql, _read,
)

# ---- text analysis over documents (SURVEY §2.5 + curation ops) ----
_TOKEN_REGEX_SQL = (
    r"(?:[A-Z][a-z]?\.)+"
    r"|[\p{L}\w+]+(?:[-\.,][\p{L}\w]+)*"
    r"|\.[\p{L}\w]+"
    r"|</?[\p{L}\w]+>"
    r"|\$\d+\.\d+"
    r"|[^\w\s<]+"
)


@query(headline=True, oracle=lambda: f"""
            select doc_id,
                   len(regexp_extract_all(text, '{_TOKEN_REGEX_SQL}')) as token_count
            from documents
        """)
def doc_token_counts(spark, sf_dir):
    return token_counts(_read(spark, sf_dir, "documents"))


_EN_MARKERS = "'the','and','of','to','in','is','that','with'"


def _doc_quality_sql() -> str:
    return f"""
            with w as (
              select doc_id, text,
                     regexp_extract_all(lower(text), '[a-z]+') as words
              from documents)
            select doc_id,
                   length(text) as n_chars,
                   len(words) as n_words,
                   coalesce(list_sum(list_transform(words, w -> length(w))), 0)::int
                       as sum_word_chars,
                   len(list_filter(words, w -> w in ({_EN_MARKERS}))) as stopword_hits,
                   (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       as punct_chars
            from w
        """


@query(oracle=_doc_quality_sql)
def doc_quality(spark, sf_dir):
    return quality_counts(_read(spark, sf_dir, "documents"))


def _lang_hits_sql() -> str:
    cols = []
    for lang in sorted(LANG_MARKERS):
        lst = ",".join(f"'{w}'" for w in LANG_MARKERS[lang])
        cols.append(
            f"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), "
            f"w -> w in ({lst}))) as hits_{lang}"
        )
    return ", ".join(cols)


def _language_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    # best-language expression: left-to-right strictly-greater scan, matching
    # the Spark fold in language_id (earlier language wins ties).
    best = "'unknown'"
    best_hits = "0"
    for lang in langs:
        best = f"case when hits_{lang} > {best_hits} then '{lang}' else {best} end"
        best_hits = f"greatest({best_hits}, hits_{lang})"
    return f"""
            with h as (select doc_id, {_lang_hits_sql()} from documents)
            select doc_id, {", ".join(f"hits_{lang}" for lang in langs)},
                   {best} as lang_guess
            from h
        """


@query(oracle=_language_id_sql)
def doc_language_id(spark, sf_dir):
    return language_id(_read(spark, sf_dir, "documents"))


@query(oracle=lambda: """
            select doc_id,
                   md5(array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' '))
                       as fingerprint_md5
            from documents
        """)
def doc_fingerprints(spark, sf_dir):
    return fingerprints(_read(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint_md5"
    )


# chunking: n_chunks = 1 + floor((len-size+stride-1)/stride), clamped
# to >= 1; substr/length are char-based on both engines.
@query(headline=True, oracle=lambda: """
            with d as (select doc_id, coalesce(text, '') as t from documents),
            n as (select doc_id, t,
                         greatest(1, 1 + cast(floor((length(t) - 101) / 400.0) as int)) as nc
                  from d),
            x as (select doc_id, t,
                         unnest(generate_series(0, nc - 1)) as chunk_id
                  from n)
            select doc_id, chunk_id::bigint as chunk_id,
                   substr(t, chunk_id * 400 + 1, 500) as chunk_text
            from x
        """)
def doc_chunks(spark, sf_dir):
    out = chunk_documents(_read(spark, sf_dir, "documents"), size=500, stride=400)
    # posexplode emits int ordinals; DuckDB generate_series emits bigint
    return out.select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"), "chunk_text")


@query(headline=True, oracle=lambda: """
            select doc_id,
                   case when substr(md5(coalesce(text, '')), 1, 2) < 'cc' then 'train'
                        when substr(md5(coalesce(text, '')), 1, 2) < 'e6' then 'val'
                        else 'test' end as split
            from documents
        """)
def doc_split(spark, sf_dir):
    return dataset_split(_read(spark, sf_dir, "documents"))


@query(headline=True, oracle=lambda: pack_sequences_sql(_TOKEN_REGEX_SQL, capacity=1024))
def doc_pack_sequences(spark, sf_dir):
    # next-fit sequence packing into 1024-token training sequences,
    # bucket-local (md5(doc_id) shard) so the sequential fold
    # parallelizes; full recursive-CTE DuckDB oracle
    return pack_sequences(_read(spark, sf_dir, "documents"), capacity=1024)


def _doc_repetition_sql() -> str:
    return f"""
            with {repetition_stats_sql()}
        """


@query(headline=True, oracle=_doc_repetition_sql)
def doc_repetition(spark, sf_dir):
    # Gopher-style within-doc repetition gate: dup-word and
    # top-bigram fractions + keep/drop verdict, one Arrow hop
    return repetition_stats(_read(spark, sf_dir, "documents"))


@query(headline=True, oracle=lambda: f"""
            with {with_pii_sql()}
            {pii_redact_sql()}
        """)
def doc_pii_redact(spark, sf_dir):
    # PII counts + full-masked-text hash over the deterministically
    # PII-injected corpus (emails / ipv4 / phones planted by doc_id
    # mod; production runs the same redactor on the raw corpus)
    return pii_redact(with_pii(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {doc_terms_sql()}
            {term_corpus_sql()}
        """)
def doc_term_corpus(spark, sf_dir):
    # reference TermCorpus (AbstractTermCorpus.java idf store) as one
    # distinct+count aggregate: (term, df, n_docs), min_df=2
    return term_corpus(_read(spark, sf_dir, "documents"))


_BM25_QUERY = ("spark", "table", "vector")  # the fixed retrieval query


@query(headline=True, oracle=lambda: f"""
            with {doc_terms_sql()},
            {bm25_topk_sql(_BM25_QUERY)}
        """)
def doc_bm25_topk(spark, sf_dir):
    # ranked retrieval: BM25 top-k docs for the fixed query-term set
    # (integer milli scoring — engine-exact ranking)
    return bm25_topk(_read(spark, sf_dir, "documents"), _BM25_QUERY)


@query(headline=True, oracle=lambda: f"""
            with {doc_terms_sql()}
            {doc_keywords_sql()}
        """)
def doc_keywords(spark, sf_dir):
    # top-3 keywords per doc by the integer tf/(df+1) rarity score
    # (float tf-idf semantics are kernel-level, pytest-pinned against
    # TfIdfSimilarity.java)
    return _doc_keywords(_read(spark, sf_dir, "documents"))


@query(headline=True, oracle=lambda: spell_corrections_sql(top_k=150))
def doc_spell_corrections(spark, sf_dir):
    # Norvig-style spelling correction (PalladianSpellChecker.java
    # twin): corpus-derived frequency dictionary + context bigrams,
    # two deterministic typo families (middle-char deletion of top
    # bigrams; double deletion of long words), corrected by the
    # fully distributed explode+join decision procedure — distance-1
    # with context boosts and the reference's last-put-wins
    # tie-break, distance-2 fallback through <=10-char intermediates
    docs = _read(spark, sf_dir, "documents")
    t1 = bigram_typos(docs, top_k=150).select(
        F.lit("bigram").alias("family"),
        F.col("left"),
        F.col("word").alias("orig"),
        "token",
    )
    t2 = double_deletion_typos(docs).select(
        F.lit("dist2").alias("family"),
        F.lit(None).cast("string").alias("left"),
        F.col("word").alias("orig"),
        "token",
    )
    typos = t1.unionByName(t2)
    res = correct_tokens(
        typos, corpus_dictionary(docs), corpus_context(docs)
    ).select(
        F.col("token").alias("r_token"),
        F.col("left").alias("r_left"),
        "corrected",
        "score",
    )
    return typos.join(
        res,
        (typos.token == res.r_token) & typos.left.eqNullSafe(res.r_left),
        "left",
    ).select(
        "family",
        F.col("left").alias("left_ctx"),
        "orig",
        "token",
        "corrected",
        F.col("score").cast("long").alias("score"),
    )


# distributed BPE trainer: unrolled per-round CTEs recompute pair
# counts, the lexicographic-tie argmax, and the greedy merge (runs
# resolved via gaps-and-islands windows) — see operators/bpe.py
@query(headline=True, oracle=lambda: bpe_merges_sql(8))
def bpe_merges(spark, sf_dir):
    # distributed BPE vocabulary training (Sennrich 2016): pair counts
    # and merges run over the DISTINCT-WORD table, so per-round cost is
    # vocabulary-sized, not corpus-sized; the argmax merge is a 1-row
    # collect per round. Fully recomputed by an unrolled window-function
    # CTE chain in DuckDB (greedy run semantics via gaps-and-islands).
    res = _bpe_merges(_read(spark, sf_dir, "documents"), n_merges=8)
    return res.select(
        "merge_rank",
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "pair_count",
    )


@query(oracle=lambda: bpe_token_counts_sql(8))
def bpe_token_counts(spark, sf_dir):
    # per-doc token counts under the trained 8-merge BPE vocabulary:
    # encoding is a join against the trained word table, not a re-scan
    return _bpe_token_counts(_read(spark, sf_dir, "documents"), n_merges=8)


# HLL register table: portable md5 hash + bit ops + bin-length rho;
# per-lang sketches max-merge into the '*' row (exact merge)
@query(headline=True, oracle=lambda: token_hll_registers_sql(8))
def doc_token_hll(spark, sf_dir):
    # per-language + max-merged ('*') HyperLogLog register tables over
    # the token stream (2^8 registers; portable 60-bit md5 hash, rho
    # via binary-string length — no float anywhere). The register
    # table IS the sketch: output is bounded by langs * 256 regardless
    # of corpus size; estimator accuracy is pytest-gated separately.
    return token_hll_registers(_read(spark, sf_dir, "documents"), p=8)


@query(headline=True, oracle=length_histogram_sql)
def doc_length_histogram(spark, sf_dir):
    # log2-bucketed size profile per lang + merged '*' row - bounded
    # output, integer bin-length buckets, one grouping-sets scan
    return length_histogram(_read(spark, sf_dir, "documents"))


@query(headline=True, oracle=lambda: token_cms_sql(4, 1024))
def doc_token_cms(spark, sf_dir):
    # count-min sketch of the token-frequency distribution: 4x1024
    # exact counters (mergeable by sum); point-estimate accuracy is
    # pytest-gated, the counter table is hash-verified
    return token_cms(_read(spark, sf_dir, "documents"))


@query(headline=True, oracle=lambda: benchmark_bloom_bits_sql(65536, 3, 20))
def doc_decon_bloom(spark, sf_dir):
    # Bloom bitset over the benchmark split's 3-gram shingles - the
    # broadcast-compact pre-filter for the decontamination gate (no
    # false negatives; FP rate pytest-gated)
    return benchmark_bloom_bits(_read(spark, sf_dir, "documents"))


# mixture sampling: naive global-window twin of the two-level cut
@query(headline=True, oracle=lambda: mixture_sample_sql(
    "1 + (('0x' || substr(md5(source), 1, 15))::bigint % 3)", 0.4
))
def doc_mixture_sample(spark, sf_dir):
    # deterministic mixture sampling: per-source char budgets from
    # integer weights (w = 1 + src_index % 3), selection = hash-ordered
    # prefix per source. Spark runs the two-level bucket cut (no
    # global window — see operators/mixture.py); the oracle recomputes
    # the equivalent naive global-window formulation.
    docs = _read(spark, sf_dir, "documents")
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    # md5-derived weights: total over ARBITRARY source strings with NO
    # parsing (review-caught: int() vs try_cast disagree on '1.5',
    # out-of-int32 suffixes, ...). Null sources get no weight — the
    # oracle's md5(NULL) is NULL, its wsum ignores it, and the
    # using(source) join excludes null-source rows.
    weights = {
        s: 1 + int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 3
        for s in srcs
        if s is not None
    }
    return mixture_sample(docs, weights, budget_fraction=0.4)


@query(headline=True, oracle=lambda: f"""
            {dup_span_stats_sql()}
        """)
def doc_dup_spans(spark, sf_dir):
    # exact substring-duplication spans (Lee et al. 2022 semantics,
    # hash-blocked 40-grams, cross-doc only): per-doc span count +
    # duplicated-char fraction
    return dup_span_stats(_read(spark, sf_dir, "documents"))


def _doc_decontaminate_sql() -> str:
    return f"""
            with {benchmark_overlap_sql()}
        """


@query(headline=True, oracle=_doc_decontaminate_sql)
def doc_decontaminate(spark, sf_dir):
    # eval-leakage gate: train docs whose 3-gram shingle set is
    # >=50% contained in a benchmark doc's (benchmark = doc_id%20==0,
    # broadcast side — fixed-size in production)
    return benchmark_overlap(_read(spark, sf_dir, "documents"))


# ---- dedup family (SURVEY training-data ops) ----
def _doc_exact_dedup_sql() -> str:
    return """
            select doc_id, md5(text) as content_hash
            from (select doc_id, text,
                         row_number() over (partition by md5(text) order by doc_id) rn
                  from documents)
            where rn = 1
        """


@query(headline=True, oracle=_doc_exact_dedup_sql)
def doc_exact_dedup(spark, sf_dir):
    return exact_dedup(_read(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("content_hash")
    )


@query(oracle=lambda: """
            with sh as (
              select doc_id as doc,
                     list_distinct(list_transform(
                        list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                    (x, i) -> i <= len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3),
                        (x, i) -> x || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) as shingles
              from documents),
            tok as (select doc, unnest(shingles) as shingle from sh),
            sizes as (select doc, count(*) as n_shingles from tok group by doc),
            shared as (
              select a.doc as doc_a, b.doc as doc_b, count(*) as shared
              from tok a join tok b on a.shingle = b.shingle and a.doc < b.doc
              group by 1, 2)
            select doc_a, doc_b, shared, sa.n_shingles as n_a, sb.n_shingles as n_b
            from shared
            join sizes sa on doc_a = sa.doc
            join sizes sb on doc_b = sb.doc
            where 5 * shared >= 1 * (sa.n_shingles + sb.n_shingles - shared)
        """)
def doc_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs_exact(
        _read(spark, sf_dir, "documents"), n=3, threshold_num=1, threshold_den=5
    )


@query(headline=True, oracle=lambda: """
            with sh as (
              select doc_id as doc,
                     list_distinct(list_transform(
                        list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                    (x, i) -> i <= len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3),
                        (x, i) -> x || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) as shingles
              from documents),
            tok as (select doc, unnest(shingles) as shingle from sh),
            sizes as (select doc, count(*) as n_shingles from tok group by doc),
            shared as (
              select a.doc as doc_a, b.doc as doc_b, count(*) as shared
              from tok a join tok b on a.shingle = b.shingle and a.doc < b.doc
              group by 1, 2),
            j as (
              select doc_a, doc_b,
                     round(shared::double /
                           (sa.n_shingles + sb.n_shingles - shared), 6) as jac
              from shared
              join sizes sa on doc_a = sa.doc
              join sizes sb on doc_b = sb.doc)
            select doc_a, doc_b,
                   round(jac * 1000000)::bigint as jaccard_ppm
            from j where jac >= 0.2
        """)
def doc_minhash_pairs(spark, sf_dir):
    # Oracled against EXACT shingle-Jaccard pairs: at the 0.2 threshold
    # the banded-LSH candidate set provably contains every qualifying
    # pair on this corpus (recall gate in pytest), and the verify step
    # recomputes exact Jaccard, so the approximate path's output equals
    # the exact oracle. ppm via round() (not cast-truncate) so the
    # *1e6 of a 6-decimal double never lands one ulp below an integer.
    pairs = minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.2
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 1000000).cast("long").alias("jaccard_ppm"),
    )


_SIMHASH_BITS = 60


def _simhash_sig_sql() -> str:
    """60-bit portable SimHash CTE body (matches simhash_signatures with
    portable_token_hash): md5-derived token hash, per-bit +-1 votes,
    signature bit = sign of vote."""
    sums = ", ".join(
        f"sum(case when (h>>{i})&1=1 then 1 else -1 end) as b{i}"
        for i in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"case when b{i}>0 then (1::bigint<<{i}) else 0::bigint end"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
        with toks as (
          select doc_id as doc, ('0x' || substr(md5(t),1,15))::bigint as h
          from (select doc_id,
                       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as t
                from documents)),
        votes as (select doc, {sums} from toks group by doc)
        select doc, ({sig})::bigint as simhash from votes
    """


@query(oracle=_simhash_sig_sql)
def doc_simhash(spark, sf_dir):
    # portable 60-bit md5 token hash (not xxhash64) so DuckDB can
    # recompute the identical bit votes — the xxhash64 fast path is the
    # default in the operator and exercised by pytest.
    return simhash_signatures(
        _read(spark, sf_dir, "documents"), bits=60, hash_fn=portable_token_hash
    )


@query(headline=True, oracle=lambda: f"""
            with sig as ({_simhash_sig_sql()})
            select a.doc as doc_a, b.doc as doc_b,
                   bit_count(xor(a.simhash, b.simhash))::int as hamming
            from sig a join sig b on a.doc < b.doc
            where bit_count(xor(a.simhash, b.simhash)) <= 3
        """)
def doc_simhash_pairs(spark, sf_dir):
    # banded hamming join (pigeonhole over max_hamming+1 bands, recall
    # 1.0) — oracled against the exact all-pairs hamming filter.
    # max_hamming=3 (the standard SimHash near-dup radius): pigeonhole
    # banding splits the 60-bit signature into max_hamming+1 bands, so
    # the band width is 60/(h+1) bits and bucket occupancy ~ n/2^width.
    # h=6 gave 8-bit bands whose buckets hold n/256 docs — measured
    # near-quadratic at the 10x bench (150s, 190k junk pairs); h=3
    # gives 15-bit bands and a linear candidate regime.
    sigs = simhash_signatures(
        _read(spark, sf_dir, "documents"), bits=60, hash_fn=portable_token_hash
    )
    return simhash_pairs(sigs, max_hamming=3, bits=60)


def _simhash_wide_sig_sql() -> str:
    """120-bit portable SimHash CTE body (matches simhash_signatures_wide):
    two 60-bit halves from md5 hex chars 1..15 and 16..30 of each token,
    per-bit +-1 votes, signature bit = sign of vote."""
    sums = ", ".join(
        f"sum(case when (h_lo>>{i})&1=1 then 1 else -1 end) as lo{i}"
        for i in range(60)
    ) + ", " + ", ".join(
        f"sum(case when (h_hi>>{i})&1=1 then 1 else -1 end) as hi{i}"
        for i in range(60)
    )
    sig_lo = " + ".join(
        f"case when lo{i}>0 then (1::bigint<<{i}) else 0::bigint end"
        for i in range(60)
    )
    sig_hi = " + ".join(
        f"case when hi{i}>0 then (1::bigint<<{i}) else 0::bigint end"
        for i in range(60)
    )
    return f"""
        with toks as (
          select doc,
                 ('0x' || substr(m,1,15))::bigint as h_lo,
                 ('0x' || substr(m,16,15))::bigint as h_hi
          from (select doc_id as doc, md5(t) as m
                from (select doc_id,
                             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as t
                      from documents))),
        votes as (select doc, {sums} from toks group by doc)
        select doc, ({sig_lo})::bigint as simhash_lo,
                    ({sig_hi})::bigint as simhash_hi
        from votes
    """


@query(headline=True, oracle=lambda: f"""
            with sig as ({_simhash_wide_sig_sql()})
            select a.doc as doc_a, b.doc as doc_b,
                   (bit_count(xor(a.simhash_lo, b.simhash_lo))
                    + bit_count(xor(a.simhash_hi, b.simhash_hi)))::int as hamming
            from sig a join sig b on a.doc < b.doc
            where bit_count(xor(a.simhash_lo, b.simhash_lo))
                  + bit_count(xor(a.simhash_hi, b.simhash_hi)) <= 3
        """)
def doc_simhash_wide_pairs(spark, sf_dir):
    # 120-bit signature (two portable 60-bit md5-slice halves): the
    # scale-safe variant — 4 bands x 30 bits give bucket capacity 2^30
    # vs the 60-bit path's 2^15, so the within-bucket verify stays
    # linear to ~10^9 docs per band value. Oracled against the exact
    # all-pairs two-long hamming filter.
    sigs = simhash_signatures_wide(_read(spark, sf_dir, "documents"))
    return simhash_pairs_wide(sigs, max_hamming=3)


def _pos_model():
    """The POS tagger trained on the checked-in slash corpus (the fixture
    the Java-parity gate uses)."""
    with open(os.path.join(REFERENCE_FIXTURES, "pos_train_corpus.txt"), encoding="utf-8") as f:
        return train_pos_tagger(f.read())


def _pos_tag_map() -> list[tuple[str, str]]:
    """(token, tag) for every distinct whitespace token in the three
    checked-in sf corpora, classified by the golden-gated POS kernel.

    The per-token classification is the ONE part of doc_pos_tags no SQL
    engine can recompute (model-driven argmax over n-gram features); its
    semantics are pinned by the Java-parity goldens in
    tests/test_pos_tagger.py, and POS tags are a pure function of the
    token, so inlining the (31-token) vocabulary map converts the rest of
    the oracle — tokenization, the distributed explode, the per-doc
    aggregation — into an independent DuckDB recomputation. Unseen tokens
    map to a loud sentinel instead of dropping, so corpus drift fails the
    hash compare instead of hiding."""
    model = _pos_model()
    con = duckdb.connect()
    vocab: set[str] = set()
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        for (tok,) in con.execute(
            f"select distinct unnest(regexp_extract_all(text, '\\S+')) "
            f"from '{path}'"
        ).fetchall():
            vocab.add(tok)
    con.close()
    return [(tok, classify_token(tok, model).upper()) for tok in sorted(vocab)]


def _pos_tag_rows() -> str:
    """_pos_tag_map as the rows of a DuckDB VALUES list."""
    return ", ".join(
        f"('{tok.replace(chr(39), chr(39) * 2)}', '{tag}')"
        for tok, tag in _pos_tag_map()
    )


def _pos_tags_sql() -> str:
    """De-pinned (late round 4): tokenize + classify-by-inlined-map +
    aggregate, replacing the frozen sf0.01 fixture. Tokenizer twin
    (\\S+ == kernel WordTokenizer on these corpora) is asserted by
    tests/test_string_tagger_oracle.py::test_tokenizer_twin."""
    return f"""
        with toks as (
          select doc_id, unnest(regexp_extract_all(text, '\\S+')) as token
          from documents),
        tagged as (
          select t.doc_id,
                 coalesce(tm.tag, 'UNSEEN:' || t.token) as tag
          from toks t
          left join (values {_pos_tag_rows()}) tm(token, tag) on t.token = tm.token)
        select doc_id, tag, count(*)::bigint as n_tokens
        from tagged group by 1, 2
    """


# De-pinned round 4 (was the last frozen-fixture oracle): POS tags
# are a pure function of the token, so the kernel-classified
# vocabulary map is inlined (31 tokens, semantics pinned by the
# Java-parity goldens) and tokenization + distribution + counting
# recompute independently in SQL. See _pos_tag_map docstring for
# the trust boundary.
@query(headline=True, oracle=_pos_tags_sql)
def doc_pos_tags(spark, sf_dir):
    # PalladianPosTagger over the documents table: model trained on the
    # checked-in slash corpus (the same fixture the Java-parity gate
    # uses), broadcast, one Arrow hop per batch. Tag distribution per
    # (doc_id, tag). Oracle: inlined kernel-classified vocabulary map
    # + independent SQL tokenize/count (see _pos_tag_map).
    docs = _read(spark, sf_dir, "documents")
    return (
        pos_tag_documents(docs, _pos_model(), keep_cols=["doc_id"])
        .groupBy("doc_id", "tag")
        .agg(F.count("*").alias("n_tokens"))
    )


@query(headline=True, oracle=lambda: noun_phrases_sql(_pos_tag_rows()))
def doc_noun_phrases(spark, sf_dir):
    # NP chunking (PhraseChunker.java interface, self-contained
    # a?j*n+ rule over Brown tags from the Java-parity POS tagger),
    # re-expressed as window functions; oracle mirrors the windows
    # over the inlined token->tag map (doc_pos_tags de-pin pattern)
    docs = _read(spark, sf_dir, "documents")
    tagged = pos_tag_documents(docs, _pos_model(), keep_cols=["doc_id"])
    return noun_phrase_chunks(tagged)


# ---- co-occurrence edges (SURVEY §2.6, CoOccurrenceRetriever) ----
@query(oracle=lambda: f"""
            with pres as ({_gazetteer_presence_sql()})
            select a.value as subj, b.value as obj, count(*) as support
            from pres a join pres b
              on a.doc_id = b.doc_id and a.value < b.value
            group by 1, 2
        """)
def doc_cooccur(spark, sf_dir):
    # each document's distinct values paired once (util.member_pairs),
    # so the mention UDF scan is read once
    m = _doc_mentions(spark, sf_dir).select("doc_id", "value")
    return (
        member_pairs(m, ["doc_id"], "value")
        .groupBy(F.col("a").alias("subj"), F.col("b").alias("obj"))
        .agg(F.count("*").alias("support"))
    )


# term set for the scoped co-occurrence queries (substring semantics)
_COOC_TERMS = ["filter", "join", "row", "spark", "table", "vector"]


@query(oracle=lambda: f"""
            with derived as (
              select doc_id,
                     regexp_replace(text, ' the ', '. The ', 'g') || '. Done' as text
              from documents),
            sent as (
              select doc_id,
                     generate_subscripts(regexp_split_to_array(text, '\\. '), 1) as sent_idx,
                     unnest(regexp_split_to_array(text, '\\. ')) as s
              from derived),
            pres as (
              select doc_id, sent_idx, t.term
              from sent, (values {", ".join(f"('{t}')" for t in _COOC_TERMS)}) t(term)
              where contains(s, t.term))
            select a.term as term_a, b.term as term_b, count(*)::bigint as n
            from pres a join pres b
              on a.doc_id = b.doc_id and a.sent_idx = b.sent_idx and a.term < b.term
            group by 1, 2
        """)
def doc_cooccur_sentence(spark, sf_dir):
    # SENTENCE scope (CoOccurrenceRetriever.java:122-133) over the
    # sentence-bearing derived corpus (same derivation as
    # doc_structure); substring containment per reference semantics.
    docs = _read(spark, sf_dir, "documents")
    derived = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", " the ", ". The "),
            F.lit(". Done"),
        ).alias("text"),
    )
    return scoped_cooccurrences(derived, _COOC_TERMS, scope=SENTENCE)


@query(headline=True, oracle=lambda: f"""
            with pairs as (
              select a.term as term_a, b.term as term_b
              from (values {", ".join(f"('{t}')" for t in _COOC_TERMS)}) a(term),
                   (values {", ".join(f"('{t}')" for t in _COOC_TERMS)}) b(term)
              where a.term < b.term),
            counts as (
              select p.term_a, p.term_b,
                     len(regexp_extract_all(d.text, p.term_a || '.{{0,200}}' || p.term_b))
                     + len(regexp_extract_all(d.text, p.term_b || '.{{0,200}}' || p.term_a))
                         as c
              from pairs p cross join documents d)
            select term_a, term_b, sum(c)::bigint as n
            from counts group by 1, 2 having sum(c) > 0
        """)
def doc_cooccur_window(spark, sf_dir):
    # CONTEXT_200_CHARS scope (CoOccurrenceRetriever.java:135-152):
    # count of `a.{0,200}b` + `b.{0,200}a` regex matches.
    docs = _read(spark, sf_dir, "documents")
    return scoped_cooccurrences(docs, _COOC_TERMS, scope=CONTEXT_WINDOW, window=200)


@query(headline=True, oracle=lambda: """
            with d as (
              select doc_id,
                     (13 + doc_id % 16)::int as dd,
                     (1 + doc_id % 12)::int as mm,
                     (doc_id % 10)::int as h,
                     (13 + doc_id % 7)::int as d4,
                     (1900 + doc_id % 200)::int as cyr,
                     case (1 + doc_id % 12)
                       when 1 then 'January' when 2 then 'February'
                       when 3 then 'March' when 4 then 'April'
                       when 5 then 'May' when 6 then 'June'
                       when 7 then 'July' when 8 then 'August'
                       when 9 then 'September' when 10 then 'October'
                       when 11 then 'November' else 'December' end as mname
              from documents),
            parsed as (
              select doc_id, printf('2021-03-%02dT0%d:1%d:2%d', dd, h, h, h) as value,
                     'YYYY-MM-DDTHH:MM:SS+HH:MM' as fmt, true as has_time,
                     strptime(printf('2021-03-%02dT0%d:1%d:2%d', dd, h, h, h),
                              '%Y-%m-%dT%H:%M:%S') as t
              from d
              union all
              select doc_id, printf('%02d/%02d/2022', mm, dd),
                     'MM/DD/YYYY', false,
                     strptime(printf('%02d/%02d/2022', mm, dd), '%m/%d/%Y')
              from d
              union all
              select doc_id, printf('%02d.%02d.1999', dd, mm),
                     'DD.MM.YYYY', false,
                     strptime(printf('%02d.%02d.1999', dd, mm), '%d.%m.%Y')
              from d
              union all
              select doc_id, printf('%s %dth, 2005', mname, d4),
                     'MMMM DD, YYYY', false,
                     strptime(printf('%s %dth, 2005', mname, d4), '%B %dth, %Y')
              from d)
            select doc_id, value, fmt,
                   year(t)::int as year, month(t)::int as month, day(t)::int as day,
                   case when has_time then hour(t)::int end as hour,
                   case when has_time then minute(t)::int end as minute,
                   case when has_time then second(t)::int end as second,
                   strftime(t, '%Y-%m-%d %H:%M:%S') as ts
            from parsed
            union all
            select doc_id, cyr::varchar as value, 'YYYY' as fmt,
                   cyr as year, null::int as month, null::int as day,
                   null::int as hour, null::int as minute, null::int as second,
                   null::varchar as ts
            from d
        """)
def doc_dates_normalized(spark, sf_dir):
    # date normalization (reference extraction/date DateParserLogic
    # semantics, golden-pinned kernel): a deterministic date-bearing
    # corpus derived from doc_id runs through the FULL ordered
    # find-and-mask tagger loop + per-format normalization; the
    # DuckDB oracle re-derives the same strings arithmetically and
    # normalizes them INDEPENDENTLY via strptime. Days are kept in
    # 13..28 so the EU/USA/ISO family attribution is unambiguous.
    docs = _read(spark, sf_dir, "documents")
    months = F.array(*[F.lit(m) for m in [
        "January", "February", "March", "April", "May", "June",
        "July", "August", "September", "October", "November", "December",
    ]])
    dd = (F.col("doc_id") % 16 + 13).cast("int")
    mm = (F.col("doc_id") % 12 + 1).cast("int")
    h = (F.col("doc_id") % 10).cast("int")
    d4 = (F.col("doc_id") % 7 + 13).cast("int")
    cyr = (F.col("doc_id") % 200 + 1900).cast("int")
    derived = docs.select(
        "doc_id",
        F.format_string(
            "released 2021-03-%02dT0%d:1%d:2%d then %02d/%02d/2022 "
            "also %02d.%02d.1999 and %s %dth, 2005 in %d",
            dd, h, h, h, mm, dd, dd, mm, F.element_at(months, mm), d4, cyr,
        ).alias("content"),
    )
    out = normalize_dates(derived, text_col="content", keep_cols=["doc_id"])
    return out.select(
        "doc_id", "value", "fmt", "year", "month", "day",
        "hour", "minute", "second", "ts",
    )


# Independent recomputation of the derived coordinate corpus:
# identical printf derivation, integer microdegrees for the
# decimal form, same-order IEEE double expression + portable
# floor(x*1e6 + 0.5) for the DMS form. Positions from the fixed
# template prefix lengths.
@query(headline=True, oracle=lambda: """
            with d as (
              select doc_id,
                     doc_id % 90 as latd, (doc_id * 13) % 100 as latf,
                     (doc_id * 3) % 180 as lngd, (doc_id * 7) % 100 as lngf,
                     case when doc_id % 2 = 0 then 'N' else 'S' end as ns,
                     case when doc_id % 3 = 0 then 'W' else 'E' end as ew,
                     doc_id % 60 as mm1, (doc_id * 7) % 60 as ss1,
                     (doc_id * 11) % 60 as mm2, (doc_id * 17) % 60 as ss2
              from documents),
            parts as (
              select *,
                     printf('%d.%02d%s %d.%02d%s',
                            latd, latf, ns, lngd, lngf, ew) as degv,
                     printf('%d°%d′%d″%s %d°%d′%d″%s',
                            latd, mm1, ss1, ns, lngd, mm2, ss2, ew) as dmsv
              from d)
            select doc_id, 5 as start, (5 + length(degv))::int as "end",
                   degv as value,
                   (case ns when 'S' then -1 else 1 end
                    * (latd*1000000 + latf*10000))::bigint as lat_udeg,
                   (case ew when 'W' then -1 else 1 end
                    * (lngd*1000000 + lngf*10000))::bigint as lng_udeg
            from parts
            union all
            select doc_id, (5 + length(degv) + 6)::int as start,
                   (5 + length(degv) + 6 + length(dmsv))::int as "end",
                   dmsv as value,
                   floor((case ns when 'S' then -1.0 else 1.0 end
                          * (latd + mm1/60.0 + ss1/3600.0))
                         * 1000000 + 0.5)::bigint as lat_udeg,
                   floor((case ew when 'W' then -1.0 else 1.0 end
                          * (lngd + mm2/60.0 + ss2/3600.0))
                         * 1000000 + 0.5)::bigint as lng_udeg
            from parts
        """)
def doc_coordinates(spark, sf_dir):
    # geo-coordinate extraction (reference extraction/location/
    # CoordinateTagger.java, kernel golden-pinned vs the reference's
    # own CoordinateTaggerTest cases): a deterministic coordinate-
    # bearing corpus derived from doc_id carries one decimal-degree
    # pair and one DMS pair per doc; the DuckDB oracle re-derives the
    # strings and converts to microdegrees INDEPENDENTLY (integer
    # arithmetic for the decimal form, the same left-to-right IEEE
    # double expression + portable floor(x*1e6 + 0.5) for DMS).
    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    latd = (did % 90).cast("int")
    latf = (did * 13 % 100).cast("int")
    lngd = (did * 3 % 180).cast("int")
    lngf = (did * 7 % 100).cast("int")
    ns = F.when(did % 2 == 0, F.lit("N")).otherwise(F.lit("S"))
    ew = F.when(did % 3 == 0, F.lit("W")).otherwise(F.lit("E"))
    mm1 = (did % 60).cast("int")
    ss1 = (did * 7 % 60).cast("int")
    mm2 = (did * 11 % 60).cast("int")
    ss2 = (did * 17 % 60).cast("int")
    derived = docs.select(
        "doc_id",
        F.format_string(
            "site %d.%02d%s %d.%02d%s near "
            "%d°%d′%d″%s %d°%d′%d″%s end",
            latd, latf, ns, lngd, lngf, ew,
            latd, mm1, ss1, ns, lngd, mm2, ss2, ew,
        ).alias("content"),
    )
    return tag_coordinates(derived, text_col="content", keep_cols=["doc_id"])


# street-name stems for the doc_addresses derived corpus
_ADDRESS_WORDS = ["Baker", "Cherry", "Oak", "Maple", "King", "Queen", "Garden", "Hill"]


# Arithmetic recomputation of the derived address corpus: the
# template fixes every span start/value as a function of doc_id.
@query(headline=True, oracle=lambda: f"""
            with w(i, word) as (values {", ".join(f"({i}, '{w}')" for i, w in enumerate(_ADDRESS_WORDS))}),
            d as (
              select doc_id,
                     w1.word as w1, w2.word as w2,
                     (doc_id % 400 + 1)::int as n1,
                     ((doc_id * 7) % 90 + 1)::int as n2
              from documents
              join w w1 on w1.i = doc_id % 8
              join w w2 on w2.i = (doc_id * 3 + 1) % 8),
            p as (
              select doc_id, w1, w2, n1::varchar as n1s, n2::varchar as n2s,
                     6 as s1
              from d),
            rows_ as (
              select doc_id, s1 as start,
                     (s1 + length(w1) + 7)::int as "end",
                     w1 || ' Street' as value, 'STREET' as tag from p
              union all
              select doc_id, (s1 + length(w1) + 8)::int,
                     (s1 + length(w1) + 8 + length(n1s))::int,
                     n1s, 'STREETNR' from p
              union all
              select doc_id, (s1 + length(w1) + 8 + length(n1s) + 5)::int,
                     (s1 + length(w1) + 8 + length(n1s) + 5 + length(n2s))::int,
                     n2s, 'STREETNR' from p
              union all
              select doc_id,
                     (s1 + length(w1) + 8 + length(n1s) + 5 + length(n2s) + 1)::int,
                     (s1 + length(w1) + 8 + length(n1s) + 5 + length(n2s) + 1
                      + length(w2) + 5)::int,
                     w2 || ' Road', 'STREET' from p)
            select doc_id, start, "end", value, tag from rows_
        """)
def doc_addresses(spark, sf_dir):
    # street + house-number extraction (reference extraction/location/
    # AddressTagger.java, kernel golden-pinned against the reference's
    # own AddressTaggerTest incl. the XML fixture corpus): derived
    # address-bearing corpus, arithmetic DuckDB oracle (the template
    # makes every span position and value a pure function of doc_id).
    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    words = F.array(*[F.lit(w) for w in _ADDRESS_WORDS])
    w1 = F.element_at(words, (did % 8 + 1).cast("int"))
    w2 = F.element_at(words, ((did * 3 + 1) % 8 + 1).cast("int"))
    n1 = (did % 400 + 1).cast("int")
    n2 = (did * 7 % 90 + 1).cast("int")
    derived = docs.select(
        "doc_id",
        F.format_string(
            "visit %s Street %d and %d %s Road soon", w1, n1, n2, w2
        ).alias("content"),
    )
    return tag_addresses(derived, text_col="content", keep_cols=["doc_id"])


@query(headline=True, oracle=lambda: """
            with recursive sh as (
              select doc_id as doc,
                     list_distinct(list_transform(
                        list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                    (x, i) -> i <= len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3),
                        (x, i) -> x || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) as shingles
              from documents),
            tok as (select doc, unnest(shingles) as shingle from sh),
            sizes as (select doc, count(*) as n_shingles from tok group by doc),
            shared as (
              select a.doc as doc_a, b.doc as doc_b, count(*) as shared
              from tok a join tok b on a.shingle = b.shingle and a.doc < b.doc
              group by 1, 2),
            pairs as (
              select doc_a, doc_b from shared
              join sizes sa on doc_a = sa.doc
              join sizes sb on doc_b = sb.doc
              where 5 * shared >= 1 * (sa.n_shingles + sb.n_shingles - shared)),
            nodes as (select doc_a as doc from pairs union select doc_b from pairs),
            edges as (select doc_a as src, doc_b as dst from pairs
                      union select doc_b, doc_a from pairs),
            reach(a, b) as (
              select doc, doc from nodes
              union
              select r.a, e.dst from reach r join edges e on r.b = e.src)
            select a as doc_id, min(b) as cluster from reach group by a
        """)
def doc_dup_clusters(spark, sf_dir):
    # duplicate clusters = connected components over exact-Jaccard
    # near-dup pairs (exact pairs here for full SQL oracle-ability; at
    # 100 TB feed minhash_lsh_pairs as the edge list — CC is agnostic
    # to the pair generator). Deliberately runs the DISTRIBUTED
    # contraction rounds to an empty edge set (small_graph_edges=0), so
    # the at-scale CC path itself is hash-verified against an independent
    # DuckDB recursive-CTE transitive closure (min reachable node).
    # doc ids are zero-padded to width 12 before CC so the operator's
    # lexicographic min equals numeric min.
    pairs = ngram_jaccard_pairs_exact(
        _read(spark, sf_dir, "documents"), n=3, threshold_num=1, threshold_den=5
    )
    edges = pairs.select(
        F.lpad(F.col("doc_a").cast("string"), 12, "0").alias("left_value"),
        F.lpad(F.col("doc_b").cast("string"), 12, "0").alias("right_value"),
    )
    comp = connected_components(edges, small_graph_edges=0)
    return comp.select(
        F.col("value").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster"),
    )


@query(headline=True, oracle=lambda: """
            select doc_id, source from (
              select doc_id, source,
                     row_number() over (partition by source
                                        order by md5(doc_id::varchar), doc_id) as rn
              from documents) t
            where rn <= 10
        """)
def doc_stratified_sample(spark, sf_dir):
    return stratified_sample(
        _read(spark, sf_dir, "documents"), strata_col="source", k=10
    )


# the ship-it verdict table composes the component gates' oracles
# verbatim as nested-WITH subqueries (each is already a full
# independent recompute; quality thresholds are cross-multiplied
# integers). PII counts run over the RAW text (no synthetic
# injection - that exists only to exercise doc_pii_redact).
@query(headline=True, oracle=lambda: f"""
        with crp_q as ({_doc_quality_sql()}),
        crp_rep as ({_doc_repetition_sql()}),
        crp_ex as ({_doc_exact_dedup_sql()}),
        crp_near as ({_doc_dedup_near_sql()}),
        crp_cont as (select distinct doc_id from ({_doc_decontaminate_sql()})),
        crp_src as (select doc_id, coalesce(text, '') as text from documents),
        crp_pii as ({pii_redact_sql("crp_src")}),
        crp_flags as (
          select d.doc_id,
                 q.n_words::bigint as n_words,
                 case when q.n_words >= 10
                       and 2 * q.n_words <= q.sum_word_chars
                       and q.sum_word_chars <= 12 * q.n_words
                      then 1 else 0 end as quality_ok,
                 rep.verdict,
                 (p.n_email + p.n_phone + p.n_ipv4)::bigint as n_pii,
                 case when ex.doc_id is not null then 1 else 0 end as exact_keep,
                 case when nr.doc_id is not null then 1 else 0 end as near_keep,
                 case when ct.doc_id is not null then 1 else 0 end as contaminated
          from documents d
          join crp_q q using (doc_id)
          join crp_rep rep using (doc_id)
          join crp_pii p using (doc_id)
          left join crp_ex ex using (doc_id)
          left join crp_near nr using (doc_id)
          left join crp_cont ct using (doc_id))
        select *,
               case when quality_ok = 1 and verdict = 'keep'
                     and exact_keep = 1 and near_keep = 1
                     and contaminated = 0
                    then 1 else 0 end as keep
        from crp_flags
    """)
def doc_curation_report(spark, sf_dir):
    # the ship-it verdict table: every doc-side gate (quality,
    # repetition, exact/near dedup, decontamination, PII counts)
    # joined into one keep/drop row per document - the text twin of
    # code_curation_report. Oracle composes the component gates'
    # independent oracles verbatim (nested WITH subqueries).
    return curation_report(_read(spark, sf_dir, "documents"))


def _doc_dedup_near_sql() -> str:
    return """
            with recursive sh as (
              select doc_id as doc,
                     list_distinct(list_transform(
                        list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                    (x, i) -> i <= len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3),
                        (x, i) -> x || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
                                  regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) as shingles
              from documents),
            tok as (select doc, unnest(shingles) as shingle from sh),
            sizes as (select doc, count(*) as n_shingles from tok group by doc),
            shared as (
              select a.doc as doc_a, b.doc as doc_b, count(*) as shared
              from tok a join tok b on a.shingle = b.shingle and a.doc < b.doc
              group by 1, 2),
            pairs as (
              select doc_a, doc_b from shared
              join sizes sa on doc_a = sa.doc
              join sizes sb on doc_b = sb.doc
              where 5 * shared >= 1 * (sa.n_shingles + sb.n_shingles - shared)),
            nodes as (select doc_a as doc from pairs union select doc_b from pairs),
            edges as (select doc_a as src, doc_b as dst from pairs
                      union select doc_b, doc_a from pairs),
            reach(a, b) as (
              select doc, doc from nodes
              union
              select r.a, e.dst from reach r join edges e on r.b = e.src),
            cc as (select a as doc_id, min(b) as cluster from reach group by a)
            select d.doc_id from documents d
            left join cc on d.doc_id = cc.doc_id
            where cc.cluster is null or cc.cluster = d.doc_id
        """


@query(headline=True, oracle=_doc_dedup_near_sql)
def doc_dedup_near(spark, sf_dir):
    # the actual curation ACTION over doc_dup_clusters' output: keep
    # the cluster-min representative + every unclustered doc. Uses the
    # default size-gated (driver-local union-find) CC path, so between
    # this query and doc_dup_clusters BOTH physical CC strategies are
    # value-verified against independent SQL.
    return near_dup_kept(_read(spark, sf_dir, "documents"))


# ---- url/date taggers + masked sentence detection (SURVEY §2.2/2.5) ----
@query(oracle=lambda: """
            with derived as (
              select doc_id,
                     regexp_replace(text, ' the ', '. The ', 'g')
                     || ' visit https://ex' || (doc_id % 50)
                     || '.org/a on March ' || (doc_id % 28 + 1)
                     || ', ' || (doc_id % 25 + 2000) || '. Done' as text
              from documents)
            select doc_id,
                   len(regexp_extract_all(text, 'https?://[^ ]+'))::int as n_urls,
                   len(regexp_extract_all(text, 'March \\d{1,2}, \\d{4}'))::int
                       as n_dates,
                   (1 + len(regexp_extract_all(text, '\\. [A-Z]')))::int
                       as n_sentences
            from derived
        """)
def doc_structure(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    derived = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", " the ", ". The "),
            F.lit(" visit https://ex"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".org/a on March "),
            (F.col("doc_id") % 28 + 1).cast("string"),
            F.lit(", "),
            (F.col("doc_id") % 25 + 2000).cast("string"),
            F.lit(". Done"),
        ).alias("text"),
    )
    return structure_stats(derived)


@query(headline=True, oracle=lm_quality_sql)
def doc_lm_quality(spark, sf_dir):
    # CCNet-style unigram-LM scoring: the model trains and scores in
    # one plan (token aggregate + broadcast totals + token equi-join)
    return lm_quality(_read(spark, sf_dir, "documents"))
