"""Deduplication operators over a documents table (doc_id, text, ...).

Scale notes: every variant avoids O(n²) — exact dedup is one hash
aggregate; near-dup variants bound the pair space by blocking (LSH bands /
shared shingles / simhash bands) before any pairwise math. Each block is
paired by util.member_pairs: one aggregate collects a block's members and
pairs them inside it, so the blocked rows are read once, with no self-join
and no cut feeding its two sides; a member may carry its payload (shingle-set
size, signature) so no size aggregate is joined back. Hashing, voting and
joins are built-in expressions (xxhash64, md5, array ops). Python runs per
row in two Arrow-batched pandas UDFs: shingle assembly (_make_shingle_udf)
and minhash banding (minhash_lsh_pairs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import member_pairs, spread


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents via md5 hash-groupBy.

    Returns (content_hash, dup_count, doc_ids) for groups with >1 member.
    md5 (not xxhash64) so a DuckDB oracle can verify values byte-for-byte.
    """
    return (
        df.select(id_col, F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per identical content (deterministic)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _make_shingle_udf(n: int):
    """words -> distinct word n-gram shingles, each with the size of its
    document's shingle set (n_shingles), Arrow-batched.

    The previous formulation was a Catalyst ``transform(sequence(...),
    i -> concat_ws(' ', slice(...)))`` — HOF lambda bodies are interpreted
    per ELEMENT (no codegen), measured at ~21 us per shingle (5.7 s for a
    5k-doc corpus); the same work is ~0.2 s of Python string joins per
    Arrow batch. dict.fromkeys preserves first-occurrence order exactly
    like array_distinct did, and a doc with <= n words has no shingles
    (the size > n semantics both engines pin)."""
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    sized = StructType(
        [StructField("shingle", StringType()), StructField("n_shingles", LongType())]
    )

    @F.pandas_udf(ArrayType(sized))
    def _shingles(words: pd.Series) -> pd.Series:
        out = []
        for ws in words:
            ws = list(ws) if ws is not None else []
            sh = dict.fromkeys(" ".join(ws[i : i + n]) for i in range(len(ws) - n))
            out.append([(s, len(sh)) for s in sh])
        return pd.Series(out)

    return _shingles


def _sized_shingles(text_col: str, n: int = 3) -> Column:
    """(shingle, n_shingles) structs of a text column's distinct word
    n-gram shingles (regex JVM-side, shingle assembly in one Arrow hop —
    see _make_shingle_udf): ``F.inline`` it to get one row per shingle
    that already knows its set's size, with no size aggregate joined
    back. Callers feed it straight to a generator over a spread() frame:
    a small parquet arrives as ONE split, which would run the regex +
    shingle stage (and every Arrow stage downstream of it) on a single
    core; at real table sizes the split count already exceeds
    parallelism and the repartition never fires."""
    words = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    return _make_shingle_udf(n)(words)


def _shingles(text_col: str, n: int = 3) -> Column:
    """The distinct word n-gram shingles of a text column, as an array
    (see _sized_shingles)."""
    return _sized_shingles(text_col, n)["shingle"]


def _shingle_overlap(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_a, doc_b, shared, n_a, n_b) for every doc pair (doc_a < doc_b)
    sharing at least one word n-gram shingle: shared = |A ∩ B|, n_a and
    n_b the shingle-set sizes. Blocking = shared shingle, so only docs
    sharing >=1 shingle are compared: util.member_pairs per shingle, the
    sizes riding on each row, then one pair aggregate — fully relational
    (DuckDB-verifiable)."""
    shingled = spread(df).select(
        F.col(id_col).alias("doc"), F.inline(_sized_shingles(text_col, n))
    )
    return (
        member_pairs(shingled, ["shingle"], ["doc", "n_shingles"])
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_shingles").alias("n_a"),
            F.col("b.n_shingles").alias("n_b"),
        )
        .agg(F.count("*").alias("shared"))
        .select("doc_a", "doc_b", "shared", "n_a", "n_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard, exact within blocks
    (see _shingle_overlap)."""
    return (
        _shingle_overlap(df, text_col, id_col, n)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
) -> DataFrame:
    """ngram_jaccard_pairs with integer-only outputs and a rational
    threshold filter (den*shared >= num*union), so the DuckDB oracle
    compares exact integers with no float rounding in play."""
    return _shingle_overlap(df, text_col, id_col, n).where(
        F.lit(threshold_den) * F.col("shared")
        >= F.lit(threshold_num) * (F.col("n_a") + F.col("n_b") - F.col("shared"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    band_size: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified by exact Jaccard.

    shingle -> per-permutation minhash (crc32 affine family, one numpy
    pandas-UDF call per document; util.band_hashes_for_shingles) -> band
    buckets -> bucket join -> exact Jaccard re-check on candidates only.
    This is the 100 TB-scale path: the full-corpus work is linear scans +
    one bucket-key shuffle; exact verification touches only candidates.

    The verify step is fully relational over int64 shingle HASHES: shared
    counts come from a (doc, shingle_hash) equi-join restricted to candidate
    docs, sizes from the distinct-shingle count per doc. Nothing wider than
    (long, long) ever shuffles — the earlier formulation joined raw
    string-shingle arrays onto every candidate pair and array_intersect'ed
    them, which shuffled the whole corpus text through the verify stage.
    (Jaccard over 64-bit hashes equals string Jaccard up to xxhash64
    collisions — vanishing at any realistic shingle-set size.)
    """
    from pyspark.sql.types import ArrayType, LongType

    from .util import band_hashes_for_shingles, banding_params

    a_const, b_const = banding_params(num_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def _doc_bands(shingle_lists: pd.Series) -> pd.Series:
        return pd.Series(
            [
                band_hashes_for_shingles(
                    list(lst) if lst is not None else [], a_const, b_const, band_size
                )
                for lst in shingle_lists
            ]
        )

    # localCheckpoint: the bands, the sizes and the verify tokens all read
    # the shingles; without the cut the shingle UDF would run three times.
    # The size filter sits above the cut: below it, Catalyst would push it
    # through the projection and run the shingle UDF twice.
    # Trade-off (applies to every localCheckpoint cut in this package):
    # lineage is truncated, so on a multi-executor cluster a lost executor
    # makes the block unrecoverable (fails the job) where persist would
    # recompute. For production stage boundaries use StageStore
    # (sources/checkpoint.py) — reliable parquet materialization with
    # resume; the local cuts here only dedupe work INSIDE one job
    sigs = (
        spread(df)
        .select(F.col(id_col).alias("doc"), _shingles(text_col, shingle_n).alias("_shingles"))
        .localCheckpoint(eager=False)
        .where(F.size("_shingles") > 0)
    )
    bands = sigs.select(
        "doc", F.posexplode(_doc_bands(F.col("_shingles"))).alias("band_id", "band_hash")
    )
    cand = (
        member_pairs(bands, ["band_id", "band_hash"], "doc")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .dropDuplicates()
        # candidates are referenced 3x below (doc set + both join sides);
        # materialize once instead of re-running the bucket pairing
        .localCheckpoint()
    )
    sizes = sigs.select("doc", F.size("_shingles").alias("n_sh"))
    tok = sigs.select("doc", F.explode("_shingles").alias("_s")).select(
        "doc", F.xxhash64("_s").alias("sh")
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # only candidate docs' shingle hashes enter the verify join
    tok_c = tok.join(cand_docs, "doc", "left_semi")
    shared = (
        cand.join(tok_c.select(F.col("doc").alias("doc_a"), "sh"), "doc_a")
        .join(tok_c.select(F.col("doc").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    verified = (
        shared.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def portable_token_hash(col) -> "F.Column":
    """60-bit token hash both Spark and DuckDB can compute identically:
    first 15 hex chars of md5, parsed as an integer. Slower than xxhash64
    (md5 + string slice + base conversion) — use only where cross-engine
    verifiability matters more than throughput."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """SimHash per document from word-token hashes, JVM-side.

    Per token: xxhash64 (or ``hash_fn``, e.g. :func:`portable_token_hash`
    with bits=60 for DuckDB-verifiable signatures); per bit: sum(+1/-1)
    weighted votes; signature bit = sign of the vote. Near-dups then differ
    in few bits (see :func:`simhash_pairs` for the banded hamming join).
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    df = spread(df)  # single-split inputs would tokenize on one core
    tokens = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("token"),
    ).withColumn("h", hash_fn(F.col("token")))
    bit_votes = [
        F.sum(
            F.when(F.expr(f"(h >> {i}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = tokens.groupBy("doc").agg(*bit_votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        # shiftleft wraps at bit 63 like Java longs — intentional
        bit = F.shiftleft(F.lit(1).cast("long"), i)
        sig = sig + F.when(F.col(f"b{i}") > 0, bit).otherwise(F.lit(0).cast("long"))
    return votes.select("doc", sig.alias("simhash"))


def portable_token_hash_hi(col) -> "F.Column":
    """Second independent 60-bit portable token hash: hex chars 16..30 of
    the same md5 digest. Pairs with :func:`portable_token_hash` to form a
    120-bit SimHash signature (see :func:`simhash_signatures_wide`)."""
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long")


def simhash_signatures_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits_per_half: int = 60,
) -> DataFrame:
    """120-bit SimHash per document as two 60-bit longs (simhash_lo,
    simhash_hi). Both halves come from md5 hex slices of each token
    (:func:`portable_token_hash` and :func:`portable_token_hash_hi`), so
    DuckDB recomputes them bit-identically.

    Why wide: a 60-bit signature at hamming<=3 forces 4 bands x 15 bits,
    so band buckets hold ~n/2^15 docs — linear only while n << 32k per
    bucket (~10^9 docs total). Two 60-bit halves give 4 bands x 30 bits
    (bucket capacity ~2^30), lifting the ceiling by a factor of 2^15 with
    identical h<=3 semantics. One md5 per token feeds both halves.
    """
    df = spread(df)  # single-split inputs would tokenize on one core
    tokens = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("token"),
    )
    tokens = tokens.withColumn("_md5", F.md5(F.col("token"))).select(
        "doc",
        F.conv(F.substring("_md5", 1, 15), 16, 10).cast("long").alias("h_lo"),
        F.conv(F.substring("_md5", 16, 15), 16, 10).cast("long").alias("h_hi"),
    )
    bit_votes = [
        F.sum(
            F.when(F.expr(f"(h_lo >> {i}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"lo{i}")
        for i in range(bits_per_half)
    ] + [
        F.sum(
            F.when(F.expr(f"(h_hi >> {i}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"hi{i}")
        for i in range(bits_per_half)
    ]
    votes = tokens.groupBy("doc").agg(*bit_votes)
    sig_lo = F.lit(0).cast("long")
    sig_hi = F.lit(0).cast("long")
    for i in range(bits_per_half):
        bit = F.shiftleft(F.lit(1).cast("long"), i)
        sig_lo = sig_lo + F.when(F.col(f"lo{i}") > 0, bit).otherwise(F.lit(0).cast("long"))
        sig_hi = sig_hi + F.when(F.col(f"hi{i}") > 0, bit).otherwise(F.lit(0).cast("long"))
    return votes.select("doc", sig_lo.alias("simhash_lo"), sig_hi.alias("simhash_hi"))


def simhash_pairs_wide(
    signatures: DataFrame,
    max_hamming: int = 3,
    bits_per_half: int = 60,
    id_col: str = "doc",
    lo_col: str = "simhash_lo",
    hi_col: str = "simhash_hi",
) -> DataFrame:
    """Banded hamming join over a two-long (120-bit) SimHash signature.

    Pigeonhole over the CONCATENATED signature: max_hamming+1 contiguous
    bands; a pair within the radius matches exactly on >=1 band, so the
    (band_id, band_value) equi-join has recall 1.0. Each band must lie
    entirely inside one half (bands_per_half = (max_hamming+1)/2), which
    holds for the standard h=3 / 60-bit halves (4 bands x 30 bits, bucket
    capacity 2^30 — the scale regime the 60-bit single-long variant lacks,
    see simhash_pairs). Verification: popcount(xor lo) + popcount(xor hi).
    """
    n_bands = max_hamming + 1
    if n_bands % 2 != 0:
        raise ValueError("wide banding needs an even band count (max_hamming odd)")
    per_half = n_bands // 2
    if bits_per_half % per_half != 0:
        raise ValueError("band width must divide bits_per_half")
    width = bits_per_half // per_half
    mask = (1 << width) - 1
    band_vals = []
    for col in (lo_col, hi_col):
        for b in range(per_half):
            band_vals.append(F.expr(f"({col} >> {b * width}) & {mask}L").cast("long"))
    banded = signatures.select(
        F.col(id_col).alias("doc"),
        F.col(lo_col).alias("slo"),
        F.col(hi_col).alias("shi"),
        F.posexplode(F.array(*band_vals)).alias("band_id", "band_val"),
    )
    return (
        member_pairs(banded, ["band_id", "band_val"], ["doc", "slo", "shi"])
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            (
                F.bit_count(F.col("a.slo").bitwiseXOR(F.col("b.slo")))
                + F.bit_count(F.col("a.shi").bitwiseXOR(F.col("b.shi")))
            ).cast("int").alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: hamming is determined by the
        # (doc_a, doc_b) pair, so the order is semantics-free, but Catalyst
        # cannot push a non-key predicate through Deduplicate itself — left
        # above, every far candidate pair would shuffle just to be dropped
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    id_col: str = "doc",
    sig_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs from SimHash signatures via a banded hamming join.

    Pigeonhole blocking: the signature is split into ``max_hamming + 1``
    contiguous bit bands; any pair within hamming distance ``max_hamming``
    differs in at most that many bands, so it matches EXACTLY on at least
    one band — the candidate equi-join on (band_id, band_value) has recall
    1.0, no all-pairs comparison anywhere. Candidates then verify with
    ``bit_count(xor) <= max_hamming``. Pure JVM expressions end to end;
    the only shuffles are the band-key grouping (util.member_pairs, the
    signature riding on each member) and the pair dedup.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands
    band_vals = []
    for b in range(n_bands):
        lo = b * width
        w = bits - lo if b == n_bands - 1 else width  # last band absorbs remainder
        mask = (1 << w) - 1 if w < 64 else -1
        band_vals.append(
            F.expr(f"({sig_col} >> {lo}) & {mask}L").cast("long")
        )
    banded = signatures.select(
        F.col(id_col).alias("doc"),
        F.col(sig_col).alias("sig"),
        F.posexplode(F.array(*band_vals)).alias("band_id", "band_val"),
    )
    return (
        member_pairs(banded, ["band_id", "band_val"], ["doc", "sig"])
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
            .cast("int")
            .alias("hamming"),
        )
        # same ordering rationale as simhash_pairs_wide: filter first,
        # dedup the (much smaller) true-pair set
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
