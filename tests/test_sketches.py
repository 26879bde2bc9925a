"""HyperLogLog register sketch: estimator accuracy, exact merge property,
and hostile inputs."""

from pyspark.sql import functions as F


def _regs(rows, grp):
    return {r["register"]: r["max_rho"] for r in rows if r["lang"] == grp}


def test_hll_estimate_accuracy_and_merge(spark):
    """At p=8 (256 registers) the standard error is ~6.5%; gate the
    corpus-wide estimate at +-20% (3 sigma) of the true distinct-token
    count on the sf0.001 documents table, and pin the merge property:
    the '*' row MUST equal the register-wise max over the per-lang rows
    (HLL merge is exact, not approximate)."""
    from palladian_spark.operators.sketches import (
        hll_estimate,
        token_hll_registers,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = token_hll_registers(docs, p=8).collect()

    merged = _regs(rows, "*")
    langs = {r["lang"] for r in rows} - {"*"}
    for j, rho in merged.items():
        assert rho == max(
            _regs(rows, lang).get(j, 0) for lang in langs
        ), f"register {j}: '*' row is not the max-merge"

    true = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0))
            ).alias("w")
        )
        .distinct()
        .count()
    )
    est = hll_estimate(merged, p=8)
    assert abs(est - true) / true <= 0.20, f"HLL est {est:.0f} vs true {true}"


def test_hll_registers_deterministic_and_hostile(spark):
    from palladian_spark.operators.sketches import token_hll_registers

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, "alpha DELTA 42", "en"),
         (3, None, "de"), (4, "!!!", "de"), (5, "beta beta beta", "fr")],
        "doc_id long, text string, lang string",
    )
    a = sorted(map(tuple, token_hll_registers(docs, p=4).collect()))
    b = sorted(map(tuple, token_hll_registers(docs, p=4).collect()))
    assert a == b and len(a) > 0
    # duplicate tokens add nothing: fr has one distinct token -> exactly
    # one register row
    assert sum(1 for r in a if r[0] == "fr") == 1
    # null text / no [a-z] tokens -> no rows for that group
    assert not any(r[0] == "de" for r in a)


def test_cms_never_underestimates_and_bounds_overshoot(spark):
    """CMS guarantees: est(token) >= true count for EVERY token, and at
    4x1024 over a small vocabulary collisions are rare enough that the
    large majority of estimates are exact."""
    from palladian_spark.operators.sketches import cms_estimate, token_cms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    table = {(r["row"], r["counter"]): r["count"]
             for r in token_cms(docs).collect()}

    true = {
        r["w"]: r["c"]
        for r in docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert true, "corpus has tokens"
    exact = 0
    for tok, cnt in true.items():
        est = cms_estimate(table, tok)
        assert est >= cnt, (tok, est, cnt)
        exact += est == cnt
    assert exact / len(true) >= 0.9
    # total mass check: every row of the sketch sums to N
    n_tokens = sum(true.values())
    for i in range(4):
        assert sum(v for (r, _), v in table.items() if r == i) == n_tokens


def test_bloom_no_false_negatives_and_low_fp(spark):
    """Every benchmark shingle must hit all k bits (no false negatives —
    the property the decontamination pre-filter depends on); non-benchmark
    shingles false-positive at roughly the theoretical rate."""
    import hashlib

    from palladian_spark.operators.dedup import _shingles
    from palladian_spark.operators.sketches import benchmark_bloom_bits
    from palladian_spark.operators.util import spread

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bits = {r["bit"] for r in benchmark_bloom_bits(docs).collect()}
    assert bits and max(bits) < 65536 and min(bits) >= 0

    def k_bits(shingle):
        return [
            int(hashlib.md5(f"bloom:{i}:{shingle}".encode()).hexdigest()[:15], 16)
            % 65536
            for i in range(3)
        ]

    sh = (
        spread(docs).withColumn("_shingles", _shingles("text", 3))
        .select("doc_id", F.explode_outer("_shingles").alias("s"))
        .where(F.col("s").isNotNull())
        .collect()
    )
    bench = {r["s"] for r in sh if r["doc_id"] % 20 == 0}
    train = {r["s"] for r in sh if r["doc_id"] % 20 != 0} - bench
    assert bench and train
    for s in bench:
        assert all(b in bits for b in k_bits(s)), s
    fp = sum(all(b in bits for b in k_bits(s)) for s in train) / len(train)
    # theoretical (1 - e^{-kn/m})^k: ~10^3 bench shingles in 2^16 bits
    # -> fill ~4.5%, FP ~1e-4; gate with wide margin
    assert fp <= 0.02, fp


def test_hll_estimate_exact_small_range():
    """Linear-counting regime: tiny cardinalities estimate closely (the
    small-range correction), and an empty register table estimates ~0."""
    import hashlib

    from palladian_spark.operators.sketches import hll_estimate

    assert hll_estimate({}, p=8) == 0.0
    # simulate 30 distinct tokens through the real hash path
    p, m = 8, 256
    regs: dict = {}
    for i in range(30):
        h = int(hashlib.md5(f"tok{i}".encode()).hexdigest()[:15], 16)
        j, w = h & (m - 1), h >> p
        rho = (60 - p + 1) if w == 0 else (60 - p + 1 - w.bit_length())
        regs[j] = max(regs.get(j, 0), rho)
    est = hll_estimate(regs, p=8)
    assert abs(est - 30) / 30 <= 0.15, est


def test_length_histogram_buckets_and_merge(spark):
    """Bucket = bit-length (sizes in [2^(b-1), 2^b)); zero-size bucket 0;
    the '*' row is the exact column-wise sum of the per-group rows."""
    from palladian_spark.operators.textstats import length_histogram

    docs = spark.createDataFrame(
        [(1, "en", 0), (2, "en", 1), (3, "en", 7), (4, "de", 8),
         (5, "de", 1023), (6, "de", 1024), (7, "fr", None), (8, "fr", 5)],
        "doc_id long, lang string, n_chars long",
    )
    rows = length_histogram(docs).collect()
    per = {(r["lang"], r["bucket"]): (r["n_docs"], r["total_chars"]) for r in rows}
    assert per[("en", 0)] == (1, 0)
    assert per[("en", 1)] == (1, 1)
    assert per[("en", 3)] == (1, 7)      # 7 -> [4, 8)
    assert per[("de", 4)] == (1, 8)      # 8 -> [8, 16)
    assert per[("de", 10)] == (1, 1023)
    assert per[("de", 11)] == (1, 1024)
    assert per[("fr", 3)] == (1, 5)
    assert ("fr", None) not in per  # null sizes excluded
    for (lang, b), (n, t) in list(per.items()):
        if lang != "*":
            continue
        got_n = sum(v[0] for (l2, b2), v in per.items() if l2 != "*" and b2 == b)
        got_t = sum(v[1] for (l2, b2), v in per.items() if l2 != "*" and b2 == b)
        assert (n, t) == (got_n, got_t), b
