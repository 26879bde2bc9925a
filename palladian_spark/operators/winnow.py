"""Winnowing fingerprints (MOSS) for partial-copy detection over the
source-code table.

The published algorithm (Schleimer, Wilkerson & Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
plagiarism detector): normalize content, hash every character k-gram,
slide a window of w consecutive k-gram hashes and keep each window's
MINIMUM — the selected fingerprints are a deterministic ~2/(w+1)
subsample with the guarantee that any shared substring of length
>= t = w + k - 1 produces at least one shared fingerprint. This catches
PARTIAL copies (a copied function inside an otherwise-different file),
which whole-file hashing (code_exact_dupes), type-2 normalization
hashing (code_clone_groups) and whole-file token Jaccard
(code_near_clones) all miss.

Complements, not duplicates: exact dedup = identical blobs; type-2 =
identical up to renaming; type-3 = whole-file token-set similarity;
winnowing = shared *substrings* anywhere in the pair.

Spark path: fingerprint selection is per-document local (the paper's
point — no cross-row context), so it runs as ONE Arrow hop (numpy
sliding-window minima over md5-based gram hashes); the only shuffles
are the fingerprint-grain dedup, the cap and size windows and the
fingerprint-blocked pairing (util.member_pairs) with an explicit
ubiquitous-fingerprint cap (the minhash/fork posture). The
DuckDB oracle recomputes selection through an algorithmically
INDEPENDENT formulation — positions unnested in SQL, `min() over
(order by pos rows between current row and w-1 following)` — so a green
row checks the algorithm, not a transliteration of the plan. Hashes are
the portable md5-slice bigint (`('0x' || substr(md5(g),1,15))::bigint`
== hashlib md5 hexdigest[:15] base-16), identical across engines.

Scale shape: normalization + fingerprinting is a linear map over the
content scan (bounded by WINNOW_MAX_CHARS per file, oracle-mirrored);
distinct (file, fp) rows are fingerprint-subsampled (~2/(w+1) of
grams); the pairing is blocked on fp with `max_files_per_fp`
dropping boilerplate fingerprints (cap documented in the contract, the
resolve_calls / fork_pairs posture); verification is arithmetic over
the pair aggregate — content never crosses a shuffle.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .util import member_pairs

WINNOW_K = 8  # char k-gram length over normalized content
WINNOW_W = 4  # window size; guarantee threshold t = WINNOW_W + WINNOW_K - 1
WINNOW_MAX_CHARS = 20_000  # normalized-prefix bound (hostile megabyte rows)
WINNOW_MAX_FILES_PER_FP = 50  # ubiquitous-fingerprint cap (boilerplate)
WINNOW_MIN_SHARED = 2  # pairs reported at >= this many shared fingerprints

_NORM = re.compile(r"[^A-Za-z0-9]+")


def _normalize(text: str, max_chars: int = WINNOW_MAX_CHARS) -> str:
    """Lowercased alphanumeric stream (the MOSS text normalization),
    bounded to ``max_chars``."""
    return _NORM.sub("", text or "").lower()[:max_chars]


def _gram_hash(gram: str) -> int:
    """Portable 60-bit hash — equals DuckDB
    ('0x' || substr(md5(g), 1, 15))::bigint."""
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:15], 16)


def winnow_select(
    text: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
) -> list:
    """The paper's selection over one document: distinct window-min
    k-gram hashes (the distinct VALUE set is invariant to the
    rightmost-tie rule, so no tie-breaking is needed). Kernel shared by
    the Arrow batch path and the unit tests."""
    norm = _normalize(text, max_chars)
    n_grams = len(norm) - k + 1
    if n_grams < w:  # no full window -> no fingerprints (full-window rule)
        return []
    h = np.fromiter(
        (_gram_hash(norm[i : i + k]) for i in range(n_grams)),
        dtype=np.int64,
        count=n_grams,
    )
    mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
    return sorted(int(x) for x in np.unique(mins))


def winnow_fingerprints(
    source: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
) -> DataFrame:
    """(repo, path, ..., content) -> distinct (f, fp) fingerprint rows.
    One Arrow hop over the content scan, exploded inline (see
    operators/util.annotate). winnow_select
    already returns a unique list per document, so the trailing
    distinct() is a no-op on well-formed corpora; it stays as the
    dedup guard for duplicated (repo, path) input rows, matching the
    oracle's `select distinct f, fp`."""

    @F.pandas_udf(ArrayType(LongType()))
    def _fps(contents: pd.Series) -> pd.Series:
        return pd.Series([winnow_select(c, k, w, max_chars) for c in contents])

    return source.select(
        F.concat_ws("/", "repo", "path").alias("f"),
        F.explode(_fps(F.col("content"))).alias("fp"),
    ).distinct()


def winnow_pairs(
    source: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
    max_files_per_fp: int = WINNOW_MAX_FILES_PER_FP,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Partial-copy candidate pairs: files sharing >= min_shared
    winnowing fingerprints, with the fingerprint-set Jaccard in integer
    thousandths. Output: (file_a, file_b, n_shared, n_a, n_b,
    jaccard_1000), file_a < file_b.

    Fingerprints selected by more than ``max_files_per_fp`` files are
    dropped before pairing (boilerplate headers select the same
    minima everywhere; the cap is part of the contract and mirrored in
    the oracle) — the fork_pairs / resolve_calls fan-out posture. Files
    sharing a fingerprint are paired by util.member_pairs."""
    # each (file, fp) row carries its fingerprint's file count (the cap)
    # and its file's kept-fingerprint count, so the fingerprints are read
    # once: no cut, no cap or size aggregate joined back
    kept = (
        winnow_fingerprints(source, k, w, max_chars)
        .withColumn("_nf", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("_nf") <= max_files_per_fp)
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("f")))
    )
    return (
        member_pairs(kept, ["fp"], ["f", "sz"])
        .groupBy(
            F.col("a.f").alias("file_a"),
            F.col("b.f").alias("file_b"),
            F.col("a.sz").alias("n_a"),
            F.col("b.sz").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select(
            "file_a",
            "file_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "cast((1000 * n_shared) div (n_a + n_b - n_shared) as bigint)"
            ).alias("jaccard_1000"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB rendering — independent window-function formulation
# ---------------------------------------------------------------------------
def winnow_pairs_sql(
    src: str = "code_src",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
    max_files_per_fp: int = WINNOW_MAX_FILES_PER_FP,
    min_shared: int = WINNOW_MIN_SHARED,
) -> str:
    """CTE chain + final select — DuckDB twin of :func:`winnow_pairs`,
    via explicit positions + windowed minima (not a port of the numpy
    kernel)."""
    return f"""
    wn_norm as (
      select distinct repo || '/' || path as f,
             substr(lower(regexp_replace(coalesce(content, ''),
                                         '[^A-Za-z0-9]+', '', 'g')),
                    1, {max_chars}) as norm
      from {src}),
    wn_grams as (
      select f, length(norm) - {k} + 1 as n_grams,
             unnest(generate_series(1, length(norm) - {k} + 1)) as pos,
             norm
      from wn_norm
      where length(norm) - {k} + 1 >= {w}),
    wn_mins as (
      -- partition by (f, norm), not f alone: duplicated (repo, path)
      -- rows with DIFFERENT content must window each variant's gram
      -- stream separately (identical duplicates are collapsed by the
      -- distinct in wn_norm) — this is what keeps the formulation
      -- equal to the Spark per-row kernel + distinct under dup input
      select f, n_grams, pos,
             min(('0x' || substr(md5(substr(norm, pos, {k})), 1, 15))::bigint)
               over (partition by f, norm order by pos
                     rows between current row and {w - 1} following) as fp
      from wn_grams),
    wn_fps as (
      select distinct f, fp from wn_mins
      where pos <= n_grams - {w} + 1),
    wn_good as (
      select fp from wn_fps group by fp
      having count(*) <= {max_files_per_fp}),
    wn_kept as (
      select f, fp from wn_fps where fp in (select fp from wn_good)),
    wn_sizes as (
      select f, count(*)::bigint as sz from wn_kept group by f),
    wn_shared as (
      select a.f as file_a, b.f as file_b, count(*)::bigint as n_shared
      from wn_kept a
      join wn_kept b on a.fp = b.fp and a.f < b.f
      group by 1, 2)
    select s.file_a, s.file_b, s.n_shared,
           sa.sz as n_a, sb.sz as n_b,
           ((1000 * s.n_shared) // (sa.sz + sb.sz - s.n_shared))::bigint
               as jaccard_1000
    from wn_shared s
    join wn_sizes sa on sa.f = s.file_a
    join wn_sizes sb on sb.f = s.file_b
    where s.n_shared >= {min_shared}"""
