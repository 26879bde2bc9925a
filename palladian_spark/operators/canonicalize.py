"""Entity canonicalization at scale: MinHash-LSH blocking -> pairwise metric
re-scoring -> connected components by contraction -> canonical ids.

North-rule stage (BASELINE.json): upgrades the reference's implicit
canonicalization (dictionary override T11, WordDB synonym sets) to an
explicit scalable pipeline. Blocking bounds the candidate-pair space to
O(n·bands) instead of O(n²); the exact string metric
(kernels.similarity.jaro_winkler_similarity, golden-tested) only runs inside
blocks; components come from random-priority local contraction rounds that
shrink the edge set until it fits on the driver, where union-find finishes.

Each decision has one definition that the driver-local and the
distributed path share: _block_keys is the blocking, MAX_BUCKET caps a
block, the Jaro-Winkler kernel is the scorer.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..kernels.similarity import jaro_winkler_similarity
from .util import band_hashes_for_shingles, banding_params, member_pairs, spread

# blocking: 16 minhash permutations in bands of 4 over char 3-shingles;
# a block larger than MAX_BUCKET is dropped before any pair is formed
NUM_HASHES = 16
BAND_SIZE = 4
SHINGLE_N = 3
MAX_BUCKET = 1000
# driver-local pair sets above this are scored on the executors
PARALLEL_SCORE_OVER = 100_000

_A, _B = banding_params(NUM_HASHES)


def _block_keys(value: str | None) -> list[int]:
    """The blocking keys of one value; two values are compared iff they
    share a key at the same position.

    Keys 0..n_bands-1 are the banded minhash of the lowercased char
    shingles: P(collide) = 1-(1-J^band_size)^n_bands keeps blocks selective
    (single-hash bands degenerate on short strings: the global min-shingle
    concentrates and puts half the values in one block). The last key is a
    64-bit hash of the lowercase 2-char prefix, so edit-close names sharing
    a prefix are always compared (Jaro-Winkler's prefix boost means
    high-similarity pairs almost always share it).
    """
    s = value or ""
    low = s.lower()
    n = SHINGLE_N
    shingles = list({low[i : i + n] for i in range(max(len(low) - n + 1, 1))})
    prefix = hashlib.blake2b(s[:2].lower().encode(), digest_size=8).digest()
    return band_hashes_for_shingles(shingles, _A, _B, BAND_SIZE) + [
        int.from_bytes(prefix, "little", signed=True)
    ]


# numpy inside an Arrow batch beats Catalyst higher-order functions here:
# transform()/aggregate() lambda bodies are interpreted per element and a
# nested-lambda minhash costs seconds of analysis time per query
@F.pandas_udf(ArrayType(LongType()))
def _block_keys_udf(vals: pd.Series) -> pd.Series:
    return pd.Series([_block_keys(v) for v in vals])


def _jw(left: pd.Series, right: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_winkler_similarity(a or "", b or "") for a, b in zip(left, right)]
    )


# Marked nondeterministic only to pin it in place: a deterministic UDF
# lets Catalyst push `sim >= threshold` through the projection, which
# evaluates the UDF twice — once in the filter, once for the sim column.
_jw_udf = F.pandas_udf(_jw, DoubleType()).asNondeterministic()


def candidate_pairs(values: DataFrame) -> DataFrame:
    """Blocked candidate pairs (left < right), deduplicated: every pair of
    ``value``s sharing a _block_keys key in a block of at most MAX_BUCKET
    values (util.member_pairs). The cap drops a skewed block (e.g. a hub
    2-char prefix) before any pair is formed, so pairing never turns
    quadratic.

    The result is a lazy local checkpoint: whatever filters the caller
    adds run over the distinct pairs, not over the raw collisions.
    """
    values = spread(values)  # single-split value tables: one-core key UDF
    bands = values.select(
        "value",
        F.posexplode(_block_keys_udf(F.col("value"))).alias("band_id", "band_hash"),
    )
    pairs = (
        member_pairs(bands, ["band_id", "band_hash"], "value", MAX_BUCKET)
        .select(F.col("a").alias("left_value"), F.col("b").alias("right_value"))
        .dropDuplicates(["left_value", "right_value"])
    )
    # plan barrier: score_pairs' filters name only the dedup keys, so
    # Catalyst would push them (Jaro-Winkler UDF included) below the
    # dedup into the pairing step and score every raw band collision
    return pairs.localCheckpoint(eager=False)


def score_pairs(pairs: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact Jaro-Winkler (kernels.similarity, golden-tested) over every
    pair; keep pairs scoring >= threshold, with the score as `sim`."""
    return pairs.withColumn("sim", _jw_udf("left_value", "right_value")).where(
        F.col("sim") >= threshold
    )


def _union_find(edge_rows) -> dict[str, str]:
    """Driver-side union-find with path compression; component = lex-min."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for left, right in edge_rows:
        ra, rb = find(left), find(right)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
            parent.setdefault(lo, lo)
        else:
            parent.setdefault(ra, ra)
    return {v: find(v) for v in list(parent)}


def _closed_min(node: str, nbr: str, salt: int):
    """Over arcs (node, nbr): the node of minimum priority
    (xxhash64(v, salt), v) in node's closed neighbourhood."""

    def prio(c: str):
        return F.struct(F.xxhash64(c, F.lit(salt)).alias("h"), F.col(c).alias("n"))

    return F.least(prio(node), F.min(prio(nbr)).over(Window.partitionBy(node)))["n"]


def _driver_frame(spark, rows: list[tuple[str, str]], *names: str) -> DataFrame:
    """Driver-local string pairs -> DataFrame through pandas and Arrow:
    ``createDataFrame(list)`` hands the pickled rows to a Python worker to
    decode, the Arrow batch goes straight to the JVM."""
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=list(names), dtype=object),
        ", ".join(f"{n} string" for n in names),
    )


def connected_components(
    edges: DataFrame, small_graph_edges: int = 200_000
) -> DataFrame:
    """Connected components over an undirected edge list.

    edges: (left_value, right_value). Returns (value, component) for every
    endpoint of an edge whose two ends differ; component is the
    lexicographic-min value of the value's component. A value seen only in
    self-loops (or beside a null) is not a node.

    One path at every size: contract the graph until its edge set fits on
    the driver (<= small_graph_edges), then finish with union-find there. A
    contraction round maps every node to the node of minimum priority
    (xxhash64(node, round), node) in its closed neighbourhood — a fresh
    pseudo-random order each round — and rewrites
    each edge to its two representatives — the random-priority local
    contraction of Łącki et al., "Connected Components at Scale via Local
    Contractions" (2018). A component's min-priority node absorbs all of
    its neighbours, so every round strictly shrinks the edge set and the
    loop needs no cap. The priority must be a hash: under lex-min priority
    a sorted near-duplicate chain loses only one node per round. A graph
    already at or below the gate runs zero rounds.
    """
    spark = edges.sparkSession

    def cut(pairs: DataFrame, a: str, b: str) -> DataFrame:
        # (least, greatest), no self-loops, distinct; the lazy cut is
        # materialized by the caller's count, so the plan above runs once
        return (
            pairs.select(F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"))
            .where(F.col("src") < F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    e = cut(edges, "left_value", "right_value")
    n_edges = e.count()
    node_of = None  # (value, node): each value's representative so far
    rnd = 0
    while n_edges > small_graph_edges:
        rnd += 1
        # windows, not joins: the static size estimate of an inner join is
        # the product of its sides, and checkpoints carry it forward, so a
        # join per round grows the estimate's digits geometrically
        arcs = (
            e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .select(
                "src",
                "dst",
                _closed_min("src", "dst", rnd).alias("rs"),
                _closed_min("dst", "src", rnd).alias("rd"),
            )
            .localCheckpoint(eager=False)
        )
        e = cut(arcs.where(F.col("src") < F.col("dst")), "rs", "rd")
        n_edges = e.count()
        rep = arcs.select(F.col("src").alias("v"), F.col("rs").alias("r")).distinct()
        node_of = (
            rep.toDF("value", "node")
            if node_of is None
            else node_of.join(rep, node_of.node == rep.v, "left").select(
                "value", F.coalesce("r", "node").alias("node")
            )
        )

    roots = list(_union_find((r["src"], r["dst"]) for r in e.collect()).items())
    if node_of is None:
        return _driver_frame(spark, roots, "value", "component")
    root_of = _driver_frame(spark, roots, "node", "root")
    node_of = node_of.join(F.broadcast(root_of), "node", "left").select(
        "value", F.coalesce("root", "node").alias("node")
    )
    return node_of.select(
        "value", F.min("value").over(Window.partitionBy("node")).alias("component")
    )


def _local_canonicalize(
    freq_rows: list[tuple[str, int]], threshold: float, spark
) -> list[tuple[str, str]]:
    """Driver-local block -> score -> union-find -> canonical pick, for a
    distinct value set that fits on the driver. The same _block_keys, the
    same MAX_BUCKET cap and the same Jaro-Winkler kernel as the
    distributed path, so the results are identical.

    Scoring cost note: a hot 2-char-prefix bucket can explode into 10^5+
    pairs, and a serial Python JW loop at ~25 us/pair then dominates the
    whole KG pipeline (measured 9 s of a 13 s run at the 10x bench). Pair
    sets above PARALLEL_SCORE_OVER are scored through score_pairs on all
    cores instead, and only the surviving edges return to the driver
    union-find.

    Gate tuning (measured on 4 cores at load 1.9-3.1): the kg_triples
    mention values of `tools/make_scaled_data.py --factor 10` are 1,304
    values with 211,137 driver-local candidate pairs, above
    PARALLEL_SCORE_OVER; the serial scoring step alone takes 6.1-7.7 s on
    them. canonicalize_values over them, first call / later calls in one
    session, all three with the same mapping:
    - parallel-scored (this path): 7.7-9.6 s / 4.1-5.7 s
    - the value set handed to the distributed path: 9.5-10.2 s / 4.9-6.2 s
    - serial scoring only: 6.3-7.3 s / 5.3-7.7 s
    The parallel round trip pays its worker start once per session and
    then wins, so pair sets this hot keep it."""
    from collections import defaultdict

    values = [v for v, _ in freq_rows]
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    for v in values:
        for key in enumerate(_block_keys(v)):
            buckets[key].append(v)

    pairs: set[tuple[str, str]] = set()
    for bucket in buckets.values():
        if len(bucket) < 2 or len(bucket) > MAX_BUCKET:
            continue
        bucket = sorted(set(bucket))
        for i, x in enumerate(bucket):
            for y in bucket[i + 1 :]:
                pairs.add((x, y))

    if len(pairs) > PARALLEL_SCORE_OVER:
        # pandas -> createDataFrame takes the Arrow fast path (columnar
        # batch upload); a list of tuples would pickle row-by-row
        pair_pdf = pd.DataFrame(list(pairs), columns=["left_value", "right_value"])
        pair_df = spark.createDataFrame(pair_pdf).repartition(
            spark.sparkContext.defaultParallelism
        )
        edges = [
            (r["left_value"], r["right_value"])
            for r in score_pairs(pair_df, threshold)
            .select("left_value", "right_value")
            .collect()
        ]
    else:
        edges = [
            (x, y) for x, y in pairs if jaro_winkler_similarity(x, y) >= threshold
        ]
    mapping = _union_find(edges)

    comp_members: dict[str, list[str]] = defaultdict(list)
    for v, c in mapping.items():
        comp_members[c].append(v)
    freq_d = dict(freq_rows)
    canonical: dict[str, str] = {}
    for members in comp_members.values():
        rep = min(members, key=lambda m: (-freq_d[m], -len(m), m))
        for m in members:
            canonical[m] = rep
    return [(v, canonical.get(v, v)) for v in values]


def canonicalize_values(
    values: DataFrame,
    threshold: float = 0.9,
    small_values: int = 100_000,
    freq_col: str | None = None,
) -> DataFrame:
    """(value) -> (value, canonical): full block -> score -> CC -> pick.

    With freq_col set, `values` is already aggregated (value, freq) rows —
    the incremental-merge path (pipeline.merge_triples) reconstructs
    frequencies from mentioned-in support sums instead of re-scanning
    mention rows.

    Canonical surface form per component = most frequent, ties by longest
    then lexicographic (deterministic). Values outside any component map to
    themselves.

    Physical strategy is size-gated like broadcast-join planning: the
    distinct-value set is usually orders of magnitude smaller than the
    corpus (entity surface forms repeat), so when it fits on the driver
    (<= small_values) the whole block/score/union-find runs locally in one
    collect instead of ~10 distributed jobs whose fixed costs dominate.
    Above the gate, the LSH + pandas-UDF + contraction-CC DataFrame path
    runs — that is the 10^12-file shape.
    """
    spark = values.sparkSession
    values = values.where(F.col("value").isNotNull())
    if freq_col is not None:
        freq = values.select("value", F.col(freq_col).cast("long").alias("freq"))
    else:
        freq = values.groupBy("value").agg(F.count("*").alias("freq"))
    # one pass over the (possibly expensive) upstream: the gate's count
    # materializes the lazy cut in one fully parallel job, and the collect
    # or every distributed branch (LSH keys, pairing, final joins)
    # then reads the cut rows instead of re-running the mention scan.
    # Count, not a limit(k).collect() probe: CollectLimit escalates over
    # 1, 4, 16, ... partitions, each job recomputing the upstream
    freq = freq.localCheckpoint(eager=False)
    if freq.count() <= small_values:
        freq_rows = [(r[0], r[1]) for r in freq.collect()]
        mapping = _local_canonicalize(freq_rows, threshold, spark)
        return _driver_frame(spark, mapping, "value", "canonical")

    distinct = freq.select("value")
    edges = score_pairs(candidate_pairs(distinct), threshold).select(
        "left_value", "right_value"
    )
    components = connected_components(edges)
    # every component member is a value of freq, so the inner join keeps
    # them all; min over (-freq, -length, value) is the pick of the
    # driver-local path, in one aggregate
    pick = F.min(F.struct(-F.col("freq"), -F.length("value"), F.col("value")))
    canonical = (
        components.join(freq, "value")
        .groupBy("component")
        .agg(pick.alias("_pick"))
        .select("component", F.col("_pick.value").alias("canonical"))
    )
    mapping = components.join(canonical, "component").select("value", "canonical")
    return distinct.join(mapping, "value", "left").select(
        "value", F.coalesce("canonical", F.col("value")).alias("canonical")
    )
