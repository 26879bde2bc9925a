"""Scaling-efficiency evidence for the north rule (BASELINE.json):
"throughput scaling efficiency >= 0.8 between N and 4N executors".

No real cluster exists in this sandbox, so the same job runs at two
parallelism levels on the same input — local[8] vs local[32] — each in
its own JVM (subprocess), and efficiency = (T_8 / T_32) / 4.

The measured job is the full KG pipeline (mention detection -> triple
emission -> LSH canonicalization -> dedup) over the sf0.1 documents
corpus replicated REPL times JVM-side (explode over a sequence — a
deterministic derivation, no external data). Replication makes per-row
UDF compute dominate fixed job overhead, which is what a 1000-executor
run over 100 TB looks like; without it the sandbox would measure Spark's
constant costs, not the pipeline's scalability.

Usage:
  python tools/scaling_bench.py                 # N and 4N levels -> BENCH_SCALING.json
  python tools/scaling_bench.py --ladder        # 1/2/4/8-core ladder
  python tools/scaling_bench.py --cores 8       # one measured run (JSON)

Each attempt reports, next to wall-clock: the job tree's own CPU-seconds
(utime+stime of the JVM + Python workers from /proc), its utilization of
the nominal cores, and the external neighbor load during the window —
so a steal-corrected efficiency (throughput ratio / delivered-core ratio)
stands beside the nominal (wall-clock) one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL = int(os.environ.get("SPARK_GRAFT_SCALE_REPL", "60"))
if REPL < 1:
    # sequence(0, REPL-1) with REPL=0 counts DOWN (Spark defaults step to
    # -1), silently yielding an extra negative-key replica
    raise SystemExit(f"SPARK_GRAFT_SCALE_REPL must be >= 1, got {REPL}")

# Data partitioning is a property of the DATA, not the cluster size: a real
# N-executor and 4N-executor cluster read the SAME splits and run the SAME
# shuffle-partition count (nobody retunes spark.sql.shuffle.partitions when
# the cluster shrinks). Earlier revisions set both to `cores`, which gave
# the small level 2-way partitioning — one skewed partition idled the other
# core (measured cpu_util 0.54 at N=2) and the "inefficiency" was really a
# partitioning artifact. A fixed count >> max cores amortizes waves/tails
# identically at both levels, which is exactly the N-vs-4N contract.
PARTITIONS = int(os.environ.get("SPARK_GRAFT_SCALE_PARTITIONS", "64"))


def replicated_docs(spark, sf_dir: str, repl: int, text_repl: int = 10):
    """documents replicated `repl`x (rows) and `text_repl`x (content length)
    with unique per-replica doc refs.

    Row replication scales the table; text replication scales per-row text
    to realistic source-file sizes (the sf documents average ~300 chars;
    real code files are KBs) so per-row UDF compute dominates fixed
    per-stage costs the way it does in production.
    """
    from pyspark.sql import functions as F

    import __spark_entry__ as e

    docs = e._read(spark, sf_dir, "documents")
    # repartition BEFORE the explode: the base parquet is one split, and
    # exploding first would make the whole replicated corpus flow through a
    # single serial task (an Amdahl floor on every downstream stage).
    # Fixed PARTITIONS (not defaultParallelism): both cluster sizes must
    # see identically-partitioned input, like a real cluster reading the
    # same files.
    docs = (
        docs.repartition(PARTITIONS)
        .withColumn("_r", F.explode(F.expr(f"sequence(0, {repl - 1})")))
        # cast before the multiply: sequence() yields INTs and ANSI mode
        # overflows int32 at repl >= 215 (239 * 10M > 2^31)
        .withColumn(
            "doc_id",
            F.col("doc_id") + F.col("_r").cast("long") * F.lit(10_000_000).cast("long"),
        )
        .drop("_r")
    )
    if text_repl > 1:
        docs = docs.withColumn(
            "text", F.concat_ws(" . ", F.array_repeat(F.col("text"), text_repl))
        )
    return docs


def replicated_source(spark, sf_dir: str, repl: int, text_repl: int = 10):
    """The replicated corpus in the (repo, path, commit, lang, content)
    source shape the KG pipeline ingests."""
    import __spark_entry__ as e
    from palladian_spark.pipeline import documents_as_source

    docs = replicated_docs(spark, sf_dir, repl, text_repl)
    corpus = e._capitalized_corpus(docs).withColumnRenamed("content", "text")
    return documents_as_source(corpus)


def _proc_tree_cpu_seconds() -> float:
    """CPU-seconds (utime+stime) of this process plus all live descendants
    (the Spark JVM and its Python UDF workers), read from /proc.

    Used to report per-attempt utilization next to wall-clock: on a noisy
    shared host, wall is contaminated by neighbors, but the job tree's own
    CPU-seconds are not — so cpu/(cores*wall) shows how many of the
    nominal cores the host actually delivered during the window.
    """
    clk = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    # build pid -> ppid map in one /proc pass
    ppid = {}
    ticks = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            # after the comm field: state, ppid, ..., utime(11), stime(12),
            # cutime(13), cstime(14). cutime/cstime hold the CPU of REAPED
            # children (e.g. respawned Python UDF workers), which a
            # live-descendant walk alone would drop from the window delta;
            # live children are counted directly, so adding the reaped
            # totals never double-counts.
            ppid[int(d)] = int(parts[1])
            ticks[int(d)] = (
                int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
            )
        except (OSError, IndexError, ValueError):
            continue
    tree = {me}
    changed = True
    while changed:
        changed = False
        for pid, par in ppid.items():
            if par in tree and pid not in tree:
                tree.add(pid)
                changed = True
    return sum(ticks.get(p, 0) for p in tree) / clk


def _host_busy_cpu_seconds() -> float:
    """Host-wide non-idle CPU-seconds since boot (all cores summed), from
    /proc/stat. Delta over the timed window minus the job tree's own CPU
    = external neighbor load during the attempt."""
    clk = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    user, nice, system, idle, iowait, irq, softirq, steal = (
        int(x) for x in fields[:8]
    )
    return (user + nice + system + irq + softirq + steal) / clk


def run_once(cores: int, repl: int) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # same shuffle-partition count at every cluster size (see PARTITIONS)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(PARTITIONS)
    # cluster-faithful heap: a real cluster fixes memory PER EXECUTOR, so
    # total heap scales with cluster size (4N executors = 4x total). A
    # constant total (the old 8g default) gave the small level 4 GB/core
    # and the large 1 GB/core — a GC-pressure bias AGAINST the large
    # level that a real N-vs-4N comparison doesn't have. 2 GB/core here.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(4, 2 * cores)}g")
    # fixed GC parallelism at every level: a real cluster scales by MORE
    # fixed-size executor JVMs (identical per-JVM GC threads at N and 4N
    # executors); local mode conflates executor size with cluster size and
    # would give the large level 4x the GC threads (and G1's parallel-phase
    # termination spinning scales with them).
    os.environ.setdefault(
        "SPARK_GRAFT_JAVA_OPTS", "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=1"
    )
    from bench import build_spark, warmup

    from palladian_spark.pipeline import extract_triples

    spark = build_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    # SPARK_GRAFT_SCALE_JOB=code measures the source-code extraction
    # pipeline (code_triples: pure-JVM regex extraction + aggregates)
    # instead of the default NL mention->triple pipeline; same harness,
    # pinning, and CPU accounting either way.
    job = os.environ.get("SPARK_GRAFT_SCALE_JOB", "kg")
    # materialize the input before the timed window (input synthesis is
    # benchmark scaffolding, not pipeline work — on a cluster the table
    # already exists on disk)
    if job == "code":
        from pyspark.sql import functions as F

        from palladian_spark.operators.code import code_corpus

        # text_repl=1: only the leading 8 tokens feed the templates, so
        # longer text adds no code content — rows scale the table, and
        # BODY scales per-file content: the synthetic template renders
        # ~150-byte files, but the 10^12-file production regime has
        # KB-scale files whose regex scan dominates; replicating the
        # body keeps extraction semantics (same matches, `body`x support)
        # while making per-row compute production-shaped. At body=1 the
        # job measures Spark's shuffle constants, not the extractor.
        body = int(os.environ.get("SPARK_GRAFT_SCALE_BODY", "10"))
        source = code_corpus(replicated_docs(spark, SF_DIR, repl, text_repl=1))
        if body > 1:
            source = source.withColumn(
                "content",
                F.concat_ws("\n", F.array_repeat(F.col("content"), body)),
            )
        # Stage the synthesized table as PARQUET and read it back — the
        # production shape (the Iceberg table already exists on disk; the
        # timed job scans it). A localCheckpoint here was measurably worse
        # than scaffolding should be: the 1.8 GB of heap-resident string
        # blocks plus the concat stage's garbage left G1 debt that was
        # collected DURING the timed window, inflating the 8-core
        # process-tree CPU ~1.5x (per-task executor CPU from Spark's stage
        # metrics inflated only 1.12x) and deflating the
        # measured efficiency to ~0.65. Parquet staging moves scaffolding
        # cost out of the JVM heap entirely.
        stage_dir = os.path.join(
            "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp",
            f"scale_code_input_{os.getpid()}.parquet",
        )
        source.write.mode("overwrite").parquet(stage_dir)
        import shutil as _shutil
        import atexit as _atexit

        _atexit.register(_shutil.rmtree, stage_dir, ignore_errors=True)
        # identical input splits at every level: FileSourceScan's split
        # size is min(maxPartitionBytes, max(openCost, total/minPartitionNum))
        # and minPartitionNum DEFAULTS TO defaultParallelism — so without
        # pinning it, local[2] read the staged table as 3 giant splits and
        # local[8] as 8, which changed the partial-agg behavior per task
        # (3 huge hash maps passing rows through vs 8 sort-spilling ones:
        # 443 vs 355 MB shuffle write, 209 vs 943 task-CPU-s for the SAME
        # extraction). Same principle as the fixed shuffle PARTITIONS: the
        # data's layout is a property of the data, not the cluster size.
        spark.conf.set("spark.sql.files.minPartitionNum", str(PARTITIONS))
        source = spark.read.parquet(stage_dir)
    else:
        source = replicated_source(spark, SF_DIR, repl).localCheckpoint()
    n_docs = source.count()

    cpu0 = _proc_tree_cpu_seconds()
    host0 = _host_busy_cpu_seconds()

    # periodic max-sampler: the job tree's CPU counters vanish when a
    # process exits (cutime only captures DIRECT reaped children, so a
    # Python worker reaped by the JVM mid-run, or an end-of-window exit,
    # silently drops CPU from a single final sample — observed as a
    # 778 s 2-core run reporting 260 CPU-s). A daemon thread samples
    # every 2 s and the running max is the window's floor.
    import threading

    peak = {"cpu": cpu0}
    stop_evt = threading.Event()

    def _sampler():
        while not stop_evt.wait(2.0):
            peak["cpu"] = max(peak["cpu"], _proc_tree_cpu_seconds())

    th = threading.Thread(target=_sampler, daemon=True)
    th.start()

    t0 = time.perf_counter()
    if job == "code":
        from palladian_spark.operators.code import code_triples

        triples = code_triples(source)
    else:
        triples = extract_triples(source, model=None, canonicalize=True)
    # force with every output column materialized (bench.py's pattern):
    # count() would let Catalyst prune the lineage min() / support sum out
    # of the final aggregate and time lighter-than-production work
    from bench import force

    n_triples, _ = force(triples)
    secs = time.perf_counter() - t0
    stop_evt.set()
    th.join(timeout=5)
    job_cpu = max(peak["cpu"], _proc_tree_cpu_seconds()) - cpu0
    host_cpu = _host_busy_cpu_seconds() - host0

    out = {
        "cores": cores,
        "job": job,
        "repl": repl,
        "body": int(os.environ.get("SPARK_GRAFT_SCALE_BODY", "10"))
        if job == "code"
        else None,
        "docs": n_docs,
        "triples": n_triples,
        "secs": round(secs, 2),
        "triples_per_sec": round(n_triples / secs, 1),
        "docs_per_sec": round(n_docs / secs, 1),
        # steal evidence: job-tree CPU-seconds over the timed window,
        # utilization of the nominal cores, and external (neighbor) load
        # in cores during the same window
        "job_cpu_secs": round(job_cpu, 1),
        "cpu_util": round(job_cpu / (cores * secs), 3),
        "external_load_cores": round(max(0.0, host_cpu - job_cpu) / secs, 2),
    }
    spark.stop()
    return out


def _pick_cpus(n: int) -> list[int]:
    """n logical CPUs, one per DISTINCT physical core first (SMT siblings
    only after every core is used once): on a hyperthreaded host a naive
    0..n-1 pin can hand the small level half the physical cores its
    nominal count implies, making the N-vs-4N ratio reflect topology
    instead of the pipeline. On non-SMT hosts this is 0..n-1."""
    import glob

    cpus = sorted(
        int(p.rsplit("cpu", 1)[1])
        for p in glob.glob("/sys/devices/system/cpu/cpu[0-9]*")
        if p.rsplit("cpu", 1)[1].isdigit()
    )

    def core_key(c: int) -> str:
        try:
            base = f"/sys/devices/system/cpu/cpu{c}/topology"
            with open(f"{base}/physical_package_id") as f:
                pkg = f.read().strip()
            with open(f"{base}/core_id") as f:
                core = f.read().strip()
            return f"{pkg}:{core}"
        except OSError:
            return f"cpu:{c}"

    seen: set[str] = set()
    primaries, siblings = [], []
    for c in cpus:
        k = core_key(c)
        (siblings if k in seen else primaries).append(c)
        seen.add(k)
    picked = (primaries + siblings)[:n]
    if len(picked) < n:
        raise SystemExit(f"host has {len(picked)} CPUs, cannot pin {n}")
    return picked


def _attempt(cores: int, pin: bool = False) -> dict:
    """One fresh-JVM measured run at `cores` (subprocess isolation).

    With ``pin`` the whole job tree is bound to exactly `cores` CPUs via
    ``taskset``. local[N] caps only TASK slots — the unpinned JVM still
    sizes GC/JIT/netty pools for all host CPUs and Python workers float
    free, so an unpinned "2-core" run actually consumes ~3.3 cores
    (measured: cpu_util 1.6-1.7), understating T_N and deflating the
    efficiency ratio. Pinning makes "N cores" mean N the way a real
    N-executor cluster does (and lets the JVM size its GC threads to N).
    """
    cmd = [sys.executable, os.path.abspath(__file__), "--cores", str(cores)]
    if pin:
        cmd = ["taskset", "-c", ",".join(map(str, _pick_cpus(cores)))] + cmd
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        # surface the child's stderr — a silent IndexError here would kill
        # a multi-hour ladder without ever printing the actual cause
        raise RuntimeError(
            f"attempt cores={cores} pin={pin} failed rc={proc.returncode}:\n"
            + proc.stderr[-2000:]
        )
    run = json.loads(lines[-1])
    run["pinned"] = pin
    print(json.dumps(run), flush=True)
    return run


def _estimators(best_n: dict, best_4n: dict) -> dict:
    """Nominal and steal-corrected N->4N efficiency from two best attempts.

    Nominal: (T_N / T_4N) / 4 — the headline, contaminated by whatever the
    neighbors were doing during each wall-clock window.

    Steal-corrected: same throughput ratio, but divided by the ratio of
    cores the host ACTUALLY DELIVERED to the job tree (job CPU-seconds /
    wall) instead of the nominal 4x. This removes neighbor steal without
    assuming anything about the job: if the job had a serial stage, the
    4N run would not consume 4x the CPU and the delivered ratio itself
    would expose it (delivered_4n/delivered_n -> 1), so a high corrected
    number TOGETHER WITH a ~4x delivered ratio is evidence of real
    scaling. Both factors are reported so the reading can be audited.
    """
    thr = best_4n["docs_per_sec"] / best_n["docs_per_sec"]
    nominal = thr * best_n["cores"] / best_4n["cores"]
    delivered_n = best_n["job_cpu_secs"] / best_n["secs"]
    delivered_4n = best_4n["job_cpu_secs"] / best_4n["secs"]
    delivered_ratio = delivered_4n / delivered_n
    corrected = thr / delivered_ratio if delivered_ratio > 0 else None
    return {
        "pair": f"{best_n['cores']}->{best_4n['cores']}",
        "throughput_ratio": round(thr, 3),
        "nominal_efficiency": round(nominal, 3),
        "delivered_cores": [round(delivered_n, 2), round(delivered_4n, 2)],
        "delivered_ratio": round(delivered_ratio, 3),
        "steal_corrected_efficiency": round(corrected, 3) if corrected else None,
    }


def main() -> None:
    if "--cores" in sys.argv:
        cores = int(sys.argv[sys.argv.index("--cores") + 1])
        print(json.dumps(run_once(cores, REPL)))
        return

    attempts = int(os.environ.get("SPARK_GRAFT_SCALE_ATTEMPTS", "3"))
    pin = "--pin" in sys.argv
    if "--ladder" in sys.argv:
        levels = [1, 2, 4, 8]
    else:
        small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        levels = [small, 4 * small]

    all_runs: dict[int, list[dict]] = {c: [] for c in levels}
    for _ in range(attempts):
        for cores in levels:
            all_runs[cores].append(_attempt(cores, pin=pin))

    # best-of-N per level: the sandbox host has noisy neighbors, so
    # wall-clock is contaminated by external load; the fastest attempt is
    # the closest to the machine's true capability at each level
    best = {c: min(rs, key=lambda r: r["secs"]) for c, rs in all_runs.items()}

    pairs = []
    for n in levels:
        if 4 * n in best:
            pairs.append(_estimators(best[n], best[4 * n]))
    job = os.environ.get("SPARK_GRAFT_SCALE_JOB", "kg")
    summary = {
        "metric": "scaling_efficiency",
        # conservative headline: the WORST N->4N pair must clear the bar,
        # not the most favorable one
        "value": min((p["nominal_efficiency"] for p in pairs), default=None),
        "unit": "ratio",
        "pinned": pin,
        "job": job,
        "estimators": pairs,
        "runs": {str(c): rs for c, rs in all_runs.items()},
        "sf": SF_DIR,
        "repl": REPL,
    }
    print(json.dumps(summary))
    out_name = "BENCH_SCALING_PINNED.json" if pin else "BENCH_SCALING.json"
    if job != "kg":
        out_name = out_name.replace(".json", f"_{job.upper()}.json")
    with open(os.path.join(REPO, out_name), "w", encoding="utf-8") as f:
        json.dump(summary, f, indent=1)
    print(f"wrote {out_name} (fold results into BENCH.md by hand)")



if __name__ == "__main__":
    main()
