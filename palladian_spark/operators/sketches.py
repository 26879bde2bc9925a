"""Mergeable cardinality sketches for corpus profiling.

HyperLogLog (Flajolet et al. 2007 — public algorithm) over the portable
60-bit md5 token hash the dedup family already uses: distinct-token
counting at 100 TB in 2^p integer registers per group. The register table
IS the sketch — `max` over registers merges sketches exactly (per-lang
sketches max-merge into the corpus-wide sketch with zero approximation
added), so shards/partitions/days combine with one tiny aggregation
instead of a distinct over 10^12 tokens.

Engine parity: the hash is `conv(substring(md5(w),1,15),16,10)` (DuckDB:
`('0x' || substr(md5(w),1,15))::bigint`), the register index and suffix
are bit ops, and rho comes from the binary-string length (`conv(w,10,2)`
/ `bin(w)` — no float log2), so the whole register table hash-verifies
cross-engine. The float estimate is intentionally NOT part of the
contract output: it derives from the registers driver-side
(:func:`hll_estimate`) and is accuracy-gated in pytest instead.

Spark has approx_count_distinct (HLL++) built in; this operator exists
because its sketch must be engine-portable, deterministic, and mergeable
OUTSIDE Spark (the DuckDB oracle recomputes it bit-identically) — the
property a lineage/metrics table needs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import spread

# same word rule as the BPE trainer: engine-identical, no case folding
WORD_RE = "[a-z]+"
_HASH_BITS = 60  # conv(substring(md5,1,15),16,10): 15 hex chars


def token_hll_registers(
    docs: DataFrame,
    p: int = 8,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group HLL register table over the corpus token stream:
    (group, register, max_rho), 2^p registers per group, plus the
    max-merged corpus-wide sketch as group '*'.

    One scan + one vocabulary-bounded aggregation: the groupBy output is
    at most n_groups * 2^p rows regardless of corpus size, and every
    operation before it is a codegen projection (md5, bit ops, string
    length — no Python, no float). Registers a token never hit are absent
    (the estimator treats them as rho 0)."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    h = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
    toks = (
        spread(docs.where(F.col(text_col).isNotNull()))
        .select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.regexp_extract_all(text_col, F.lit(WORD_RE), F.lit(0))
            ).alias("word"),
        )
        .select("grp", h.alias("h"))
        .select(
            "grp",
            F.col("h").bitwiseAND(m - 1).alias("register"),
            F.shiftright("h", p).alias("w"),
        )
        .select(
            "grp",
            "register",
            F.when(F.col("w") == 0, F.lit(w_bits + 1))
            .otherwise(
                F.lit(w_bits + 1)
                - F.length(F.conv(F.col("w").cast("string"), 10, 2))
            )
            .alias("rho"),
        )
    )
    # ONE grouping-sets aggregation yields both levels — a union of
    # per-group and merged re-expands the lineage into TWO full corpus
    # scans (verified in the executed plan); Expand duplicates rows into
    # the partial aggregate instead, which map-side-combines to the same
    # bounded output on a single scan. grouping() (not null-coalescing)
    # marks the merged level so a genuine null group cannot collide with
    # the '*' row.
    agg = toks.groupingSets(
        [["grp", "register"], ["register"]], "grp", "register"
    ).agg(F.max("rho").alias("max_rho"), F.grouping("grp").alias("_g"))
    return agg.select(
        F.when(F.col("_g") == 1, F.lit("*"))
        .otherwise(F.col("grp"))
        .alias(group_col),
        "register",
        "max_rho",
    )


def token_hll_registers_sql(p: int = 8, group_col: str = "lang") -> str:
    """Full independent DuckDB oracle for :func:`token_hll_registers`."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    return f"""
        with toks as (
          select {group_col} as grp,
                 ('0x' || substr(md5(word), 1, 15))::bigint as h
          from (select {group_col},
                       unnest(regexp_extract_all(text, '[a-z]+')) as word
                from documents where text is not null)),
        rhos as (select grp, h & {m - 1} as register,
                        case when (h >> {p}) = 0 then {w_bits + 1}
                             else {w_bits + 1} - length(bin(h >> {p}))
                        end as rho
                 from toks),
        per_grp as (select grp, register, max(rho) as max_rho
                    from rhos group by 1, 2)
        select grp as {group_col}, register, max_rho from per_grp
        union all
        select '*' as {group_col}, register, max(max_rho) as max_rho
        from per_grp group by 2
    """


def hll_register_rho(hash_col, p: int = 6):
    """Expression-level HLL pieces over a 60-bit integer hash column:
    (register, rho) Columns for embedding the sketch in ANY aggregation
    (e.g. the StageStore per-partition metrics table). Same bit/bin-length
    formulation as :func:`token_hll_registers`."""
    m = 1 << p
    w_bits = _HASH_BITS - p
    w = F.shiftright(hash_col, p)
    register = hash_col.bitwiseAND(m - 1)
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return register, rho


def lineage_register_rho(sha_col):
    """(register, rho) of a sha256-hex lineage column, p=6: its first 15
    hex digits read as the 60-bit hash. The one lineage sketch that
    StageStore manifests and the streaming metrics rows both keep."""
    h = F.conv(F.substring(sha_col, 1, 15), 16, 10).cast("long")
    return hll_register_rho(h, p=6)


def token_cms(
    docs: DataFrame,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Count-min sketch of the corpus token-frequency distribution:
    (row, counter, count), ``depth`` salted hash rows x ``width`` counters.
    Point estimate = min over rows of counter[h_row(token)] — never an
    underestimate, overshoots by <= 2N/width w.p. >= 1 - 2^-depth (Cormode
    & Muthukrishnan 2005, public algorithm). Sketches merge by elementwise
    SUM (per-shard/per-day heavy-hitter tracking at 100 TB in
    depth*width*8 bytes).

    One scan: the k row-hashes build JVM-side as an array, posexplode
    feeds a single partial+final aggregate whose output is bounded by
    depth*width regardless of corpus size. Same portable md5 hash family
    as HLL, so the DuckDB oracle recomputes every counter exactly."""
    hashes = F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"cms:{i}:"), F.col("word"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(width),
            )
            for i in range(depth)
        ]
    )
    return (
        spread(docs.where(F.col(text_col).isNotNull()))
        .select(
            F.explode(
                F.regexp_extract_all(text_col, F.lit(WORD_RE), F.lit(0))
            ).alias("word")
        )
        .select(F.posexplode(hashes).alias("row", "counter"))
        .groupBy("row", "counter")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def token_cms_sql(depth: int = 4, width: int = 1024) -> str:
    """Full independent DuckDB oracle for :func:`token_cms`."""
    rows = " union all ".join(
        f"""select {i} as row,
                   ('0x' || substr(md5('cms:{i}:' || word), 1, 15))::bigint
                       % {width} as counter
            from toks"""
        for i in range(depth)
    )
    return f"""
        with toks as (
          select unnest(regexp_extract_all(text, '[a-z]+')) as word
          from documents where text is not null),
        h as ({rows})
        select row, counter, count(*)::bigint as count
        from h group by 1, 2
    """


def cms_estimate(counters: dict[tuple[int, int], int], token: str,
                 depth: int = 4, width: int = 1024) -> int:
    """Point-frequency estimate from a {(row, counter): count} table —
    driver-side helper for the pytest accuracy gate."""
    import hashlib

    est = None
    for i in range(depth):
        h = int(hashlib.md5(f"cms:{i}:{token}".encode()).hexdigest()[:15], 16)
        c = counters.get((i, h % width), 0)
        est = c if est is None else min(est, c)
    return est or 0


# 3-word shingle construction shared with the decontamination gate
# (curation.benchmark_overlap / dedup._shingles): space-joined
# [a-z0-9]+ runs of the lowercased text, docs with <= 3 words have none
_SHINGLE_TOKEN_RE = "[a-z0-9]+"


def benchmark_bloom_bits(
    docs: DataFrame,
    m_bits: int = 65536,
    k: int = 3,
    bench_mod: int = 20,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom filter over the benchmark split's n-gram shingles: the set
    bit indices (bit), <= m_bits rows. The broadcast-compact form of the
    decontamination gate's bench side: at 100 TB the train scan tests
    each shingle against m_bits/8 bytes of bitset JVM-side and only the
    rare false-positive hits reach the exact containment join — the
    same two-phase shape as LSH-then-verify. Size m ~ 1.44*k*n/ln2 bits
    for the target FP rate: 2^16 bits holds ~10^3 bench shingles at
    ~1e-4 FP (an undersized 2^12 filter measured 24% FP on this corpus —
    the sizing rule is the operator's scale knob); a real eval suite's
    ~10^6 shingles wants 2^24 bits = 2 MB, still broadcast-trivial. No false negatives by
    construction (pytest pins both properties).

    Same shingle definition as doc_decontaminate (space-joined [a-z0-9]+
    3-grams) and the portable md5 hash family, so the DuckDB oracle
    recomputes the exact bit set."""
    from .dedup import _shingles

    bench = docs.where(
        F.col(id_col).isNotNull() & (F.col(id_col) % bench_mod == 0)
    )
    shingles = (
        spread(bench)
        .select(F.explode(_shingles(text_col, n)).alias("shingle"))
        .distinct()
    )
    bits = F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bloom:{i}:"), F.col("shingle"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(m_bits),
            )
            for i in range(k)
        ]
    )
    return (
        shingles.select(F.explode(bits).alias("bit")).distinct()
    )


def benchmark_bloom_bits_sql(
    m_bits: int = 65536, k: int = 3, bench_mod: int = 20
) -> str:
    """Full independent DuckDB oracle for :func:`benchmark_bloom_bits`
    (3-gram shingle expression mirrors the doc_decontaminate oracle)."""
    salts = " union all ".join(
        f"""select distinct
                   ('0x' || substr(md5('bloom:{i}:' || shingle), 1, 15))::bigint
                       % {m_bits} as bit
            from sh_t"""
        for i in range(k)
    )
    return f"""
        with sh as (
          select list_distinct(list_transform(
                   list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                               (x, i) -> i <= len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3),
                   (x, i) -> x || ' ' ||
                             regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
                             regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) as shingles
          from documents
          where doc_id is not null and doc_id % {bench_mod} = 0),
        sh_t as (select distinct unnest(shingles) as shingle from sh)
        select distinct bit from ({salts})
    """


def hll_estimate(registers: dict[int, int], p: int = 8) -> float:
    """Standard HLL estimator from a {register: max_rho} table (missing
    registers = 0): bias-corrected harmonic mean with the small-range
    linear-counting correction. Driver-side helper — accuracy (not
    cross-engine float parity) is what pytest gates, so this stays out of
    the contract output."""
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    zeros = sum(1 for j in range(m) if registers.get(j, 0) == 0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est
