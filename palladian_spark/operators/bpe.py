"""Distributed byte-pair-encoding (BPE) vocabulary training.

The canonical LLM-tokenizer construction (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public algorithm),
re-expressed for Spark's execution model:

- The corpus compresses to a DISTINCT-WORD frequency table first (one
  groupBy). Every subsequent round's cost is proportional to the distinct
  vocabulary (~10^7-10^8 at 100 TB), not the corpus: pair counting, merge
  selection, and merge application never touch the raw text again. This is
  the property that makes BPE training tractable at web scale — the 100 TB
  scan happens exactly once.
- Per merge round: adjacent-pair counts are one partial+final aggregation
  over the word table (pairs built JVM-side via slice+arrays_zip — no
  Python, no lambda HOFs); the argmax merge is a bounded collect (1 row);
  applying the merge is one Arrow pass over the word table (greedy
  left-to-right within each word — per-word sequential logic, the
  documented pandas-UDF case).
- The driver loop runs ``n_merges`` rounds (a bounded parameter, like
  k-means iterations); the word table is re-persisted per round and
  localCheckpoint-ed periodically to truncate lineage.

Determinism: words are the maximal ``[a-z]+`` runs of the raw text (no
case folding — Unicode lowercasing differs across engines), ties on pair
count break lexicographically (binary collation on both engines), and the
greedy merge's run semantics (overlapping candidates only arise in
same-token runs; take every other) are reproduced exactly by the DuckDB
oracle's window-function formulation — the whole trainer is
SQL-expressible and hash-verified end to end.

Reference anchor: the reference tokenizes and builds n-gram dictionaries
(`palladian-core/.../extraction/token/Tokenizer.java`,
`.../classification/text/DictionaryBuilder`); subword vocabulary training
is the scale-path extension of that dictionary construction for LLM data
pipelines (SURVEY "LLM-data-pipeline operators").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .util import spread

# maximal lowercase-ASCII runs: engine-identical (no case folding, no
# Unicode classes — RE2/Java/ICU all agree on [a-z]+)
WORD_RE = "[a-z]+"
# merge rounds between localCheckpoint lineage cuts (store-less training)
CHECKPOINT_EVERY = 4


def _word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the one pass that touches raw text."""
    return (
        spread(docs.where(F.col(text_col).isNotNull()))
        .select(F.explode(F.regexp_extract_all(text_col, F.lit(WORD_RE), F.lit(0))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the tokenized word table, weighted by
    word freq. Overlapping occurrences all count ("aaa" -> (a,a) twice),
    matching the classic counting step. Pure JVM: slice + arrays_zip +
    explode (no lambda HOFs, no Python)."""
    return (
        words.where(F.size("tokens") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(tokens, 1, size(tokens) - 1)"),
                    F.expr("slice(tokens, 2, size(tokens) - 1)"),
                )
            ).alias("p"),
            "freq",
        )
        .select(
            F.col("p")["0"].alias("left"),
            F.col("p")["1"].alias("right"),
            "freq",
        )
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("pair_count"))
    )


def _greedy_merge(tokens: list, left: str, right: str) -> list:
    """One BPE merge applied greedily left-to-right (the standard scan:
    after a merge, scanning resumes AFTER the merged token, so overlapping
    candidates in same-token runs resolve to every other position)."""
    out = []
    i, n = 0, len(tokens)
    while i < n:
        if i + 1 < n and tokens[i] == left and tokens[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


def _make_merge_udf(left: str, right: str):
    @F.pandas_udf(ArrayType(StringType()))
    def _merge(tok: pd.Series) -> pd.Series:
        return tok.map(lambda t: _greedy_merge(list(t), left, right))

    return _merge


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    store=None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over the corpus. Returns the learned
    merge list [(rank, left, right, pair_count)] (rank 1 = first merge) and
    the final word table (word, freq, tokens) with all merges applied —
    reusable for encoding (a word's token count after training is a pure
    lookup, no re-scan of text).

    Stops early when no pair remains (every word fully merged).

    With a ``store`` (sources.checkpoint.StageStore) every round is a
    resumable stage boundary (the north rule's checkpoint requirement
    applied to vocabulary training): the word table persists as
    ``bpe_words_<r>`` and the chosen merge as ``bpe_merge_<r>``, so a
    killed 30-round run over a 100 TB corpus restarts at the last
    completed round — in particular the one corpus-sized scan (round 0's
    word frequencies) is never repaid. Completed rounds replay from
    manifests with zero recompute; training MORE rounds on top of an
    existing store extends it in place."""
    spark = docs.sparkSession
    merges: list[tuple[int, str, str, int]] = []

    def _words0():
        return _word_freqs(docs, text_col).withColumn(
            "tokens", F.split("word", "")
        )

    if store is not None:
        words = store.run("bpe_words_0", _words0)
    else:
        words = _words0().persist()
        words.count()  # materialize before the loop
    for rank in range(1, n_merges + 1):
        if (
            store is not None
            and store.is_complete(f"bpe_merge_{rank}")
            and store.is_complete(f"bpe_words_{rank}")
        ):
            mrow = store.read(f"bpe_merge_{rank}").collect()[0]
            merges.append(
                (
                    int(mrow["merge_rank"]),
                    mrow["left"],
                    mrow["right"],
                    int(mrow["pair_count"]),
                )
            )
            words = store.read(f"bpe_words_{rank}")
            continue
        best = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .first()
        )
        if best is None:
            break
        left, right, cnt = best["left"], best["right"], int(best["pair_count"])
        merges.append((rank, left, right, cnt))
        merge_udf = _make_merge_udf(left, right)
        nxt = words.select(
            "word", "freq", merge_udf(F.col("tokens")).alias("tokens")
        )
        if store is not None:
            store.write(
                f"bpe_merge_{rank}",
                spark.createDataFrame(
                    [(rank, left, right, cnt)],
                    "merge_rank int, left string, right string, pair_count long",
                ),
            )
            words = store.write(f"bpe_words_{rank}", nxt)
            continue
        # truncate lineage periodically: n_merges chained Arrow UDFs
        # otherwise replay from round 1 on every downstream action
        if rank % CHECKPOINT_EVERY == 0:
            nxt = nxt.localCheckpoint()
        nxt = nxt.persist()
        nxt.count()
        words.unpersist()
        words = nxt
    return merges, words


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Contract surface: the learned merge table
    (merge_rank, left, right, pair_count)."""
    spark = docs.sparkSession
    merges, words = bpe_train(docs, n_merges=n_merges, text_col=text_col)
    words.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def _bpe_rounds_sql(n_merges: int) -> str:
    """DuckDB CTE chain recomputing the whole trainer independently:
    word freqs -> char tokens -> ``n_merges`` unrolled rounds of
    (pair count -> argmax merge -> greedy application). The greedy scan is
    window functions: overlapping merge candidates only arise as runs of
    identical tokens (l=r), and greedy-left-to-right takes every other
    position in a run — gaps-and-islands (grp = pos - row_number) + odd
    island index, then drop the row after each taken position and renumber.
    Returns the CTE bodies (no WITH); tok{n_merges} is the final word
    table, best{r} the r-th merge."""
    parts = [
        """w as (select word, count(*)::bigint as freq from (
             select unnest(regexp_extract_all(text, '[a-z]+')) as word
             from documents where text is not null) group by 1),
        tok0 as materialized (select word, freq,
                        unnest(generate_series(1, length(word))) as pos,
                        unnest(regexp_extract_all(word, '[a-z]')) as token
                 from w)"""
    ]
    for r in range(1, n_merges + 1):
        p = f"tok{r - 1}"
        parts.append(
            f"""pc{r} as materialized (select token as l, nxt as r, sum(freq)::bigint as cnt from (
                    select token, freq,
                           lead(token) over (partition by word order by pos) as nxt
                    from {p}) where nxt is not null group by 1, 2),
        best{r} as materialized (select l, r, cnt from pc{r} order by cnt desc, l, r limit 1),
        cand{r} as (select word, freq, pos, token,
                           lead(token) over (partition by word order by pos) as nxt,
                           case when token = (select l from best{r})
                                 and lead(token) over (partition by word order by pos)
                                     = (select r from best{r})
                                then 1 else 0 end as c
                    from {p}),
        runs{r} as (select *, case when c = 1
                                   then pos - row_number() over (
                                            partition by word, c order by pos)
                              end as grp
                    from cand{r}),
        take{r} as (select *, case when c = 1
                                    and row_number() over (
                                            partition by word, grp order by pos) % 2 = 1
                                   then 1 else 0 end as tk
                    from runs{r}),
        tok{r} as materialized (select word, freq,
                          row_number() over (partition by word order by pos) as pos,
                          case when tk = 1 then token || nxt else token end as token
                   from (select *, lag(tk) over (partition by word order by pos) as ptk
                         from take{r})
                   where coalesce(ptk, 0) = 0)"""
        )
    return ",\n        ".join(parts)


def bpe_merges_sql(n_merges: int = 8) -> str:
    """Full independent DuckDB oracle for :func:`bpe_merges`."""
    rounds = _bpe_rounds_sql(n_merges)
    sel = "\n            union all ".join(
        f"select {r} as merge_rank, l as lhs, r as rhs, cnt as pair_count from best{r}"
        for r in range(1, n_merges + 1)
    )
    return f"with {rounds}\n            {sel}"


def bpe_token_counts_sql(n_merges: int = 8) -> str:
    """Full independent DuckDB oracle for :func:`bpe_token_counts`."""
    rounds = _bpe_rounds_sql(n_merges)
    return f"""with {rounds},
        wc as (select word, count(*)::bigint as ntok
               from tok{n_merges} group by word),
        dw as (select doc_id, unnest(regexp_extract_all(text, '[a-z]+')) as word
               from documents where text is not null)
        select dw.doc_id, count(*) as n_words, sum(wc.ntok)::bigint as n_bpe_tokens
        from dw join wc using (word) group by 1"""


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BPE token count under the trained vocabulary:
    (doc_id, n_words, n_bpe_tokens). Encoding is a JOIN, not a re-scan —
    each document's words look up their post-merge token counts in the
    trained word table (broadcast if the vocabulary fits, shuffle join
    otherwise), which is how a 100 TB corpus is encoded after training:
    one pass over the text for words, one join against the vocabulary."""
    merges, words = bpe_train(docs, n_merges=n_merges, text_col=text_col)
    # cut the vocabulary-sized token counts loose from the persisted word
    # table, then release it: Spark's CacheManager holds cached plans
    # until explicit unpersist — without this, every call leaks a cached
    # word table for the session lifetime (review-caught)
    wc = words.select("word", F.size("tokens").alias("_ntok")).localCheckpoint(
        eager=True
    )
    words.unpersist()
    doc_words = (
        spread(docs.where(F.col(text_col).isNotNull()))
        .select(
            id_col,
            F.explode(F.regexp_extract_all(text_col, F.lit(WORD_RE), F.lit(0))).alias("word"),
        )
    )
    out = (
        doc_words.join(wc, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_ntok").alias("n_bpe_tokens"),
        )
    )
    # materialize before dropping the persisted word table out from under
    # the plan is the caller's job — the join keeps a reference, so leave
    # unpersist to GC here (bounded: one table per call)
    return out


# ---------------------------------------------------------------------------
# Production-vocabulary path: frequency-weighted sample -> in-driver trainer
# ---------------------------------------------------------------------------
def _train_local(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Exact in-driver BPE trainer over a (word, freq) vocabulary with
    the SAME semantics as the distributed rounds (overlap-counting pair
    frequencies, argmax tie-break count desc / left asc / right asc,
    greedy left-to-right merge application).  Incremental pair-count
    maintenance (the standard learn-bpe bookkeeping): after a merge only
    words CONTAINING that pair are re-tokenized, so per-round cost is
    proportional to affected words, not the vocabulary."""
    from collections import Counter, defaultdict

    words = [(list(w), int(f)) for w, f in vocab]
    counts: Counter = Counter()
    index: dict[tuple[str, str], set[int]] = defaultdict(set)

    def _count_word(idx: int, sign: int) -> None:
        tokens, freq = words[idx]
        for a, b in zip(tokens, tokens[1:]):
            counts[(a, b)] += sign * freq
            if sign > 0:
                index[(a, b)].add(idx)

    for i in range(len(words)):
        _count_word(i, +1)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        for pair, cnt in counts.items():
            if cnt <= 0:
                continue
            key = (-cnt, pair[0], pair[1])
            if best is None or key < best[0]:
                best = (key, pair, cnt)
        if best is None:
            break
        _, (left, right), cnt = best
        merges.append((rank, left, right, cnt))
        for idx in list(index[(left, right)]):
            tokens, freq = words[idx]
            merged = _greedy_merge(tokens, left, right)
            if merged == tokens:
                continue
            _count_word(idx, -1)
            words[idx] = (merged, freq)
            _count_word(idx, +1)
    return merges


def bpe_train_sampled(
    docs: DataFrame,
    n_merges: int = 8,
    sample_words: int = 1_000_000,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Production-vocabulary BPE path: ONE corpus scan builds the
    distinct-word frequency table; the top ``sample_words`` words by
    (freq desc, word asc) — frequency-weighted, deterministic — are
    collected and trained in-driver by :func:`_train_local`.

    Regime guidance (the round-4 review's bound, now closed by this
    path): the exact distributed trainer (:func:`bpe_train`) runs one
    synchronous pair-count aggregate + 1-row argmax + one Arrow
    re-tokenize per merge — correct and vocabulary-sized per round, but
    a production 32k-merge vocabulary means 32k sequential Spark jobs
    whose fixed scheduling cost (~0.5 s/round locally) dominates: days
    of driver latency regardless of data size.  This sampled path pays
    the corpus scan once and then trains merge rounds at in-memory
    speed; when ``sample_words`` covers the whole vocabulary it is
    EXACTLY equivalent (pytest-pinned), and at 100 TB a 1-10M-word
    frequency sample preserves the head of the pair distribution that
    determines early merges (Sennrich's published trainer operates on
    exactly this word-frequency representation)."""
    top = (
        _word_freqs(docs, text_col)
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(sample_words)
        .collect()
    )
    return _train_local([(r["word"], r["freq"]) for r in top], n_merges)
