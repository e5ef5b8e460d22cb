"""SparkSession factory with scale-oriented defaults.

Tuned for the target profile (1000-executor cluster over ~100 TB) but safe
on ``local[N]``: AQE on (coalescing + skew-join splitting), Arrow transfer
for the pandas-UDF slow path, and shuffle partitions sized by parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At cluster scale shuffle partitions should be ~2-3x total cores and
# large enough that a partition of the biggest shuffle fits in executor
# memory; AQE coalescing shrinks small stages back down at runtime.
# Compiled rule sets codegen into ONE big method per projection; past
# ~8000 bytecodes HotSpot's DontCompileHugeMethods default leaves that
# method INTERPRETED — the 16M-doc flagship measured 36.6 s vs 50.6 s
# at 32 cores (28%) with the limit lifted, identical violations. Spark
# can't split expression-internal code below the threshold (the rule
# union is one expression tree), so lift the limit instead: the method
# is hot by construction and C2-compiling it once per executor is noise.
_JVM_FLAGS = "-XX:-DontCompileHugeMethods"

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pin a timezone so timestamp semantics match the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # 128 MB input splits — the parquet-side default that holds at 100 TB.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # PySpark wraps every F.* / Column call in a call-site capture that
    # walks the Python stack and makes ~5 extra JVM round trips; building
    # one flagship validate_run plan issued 4,430 py4j commands with it and
    # 1,860 without. Off, an analysis error still raises but its query
    # context loses the Python file:line. Turn it back on through
    # get_spark(extra_conf=...) when chasing such an error — PySpark reads
    # it once per process, so it must be set on the first session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "json-validator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster pass ~2-3x total executor cores instead.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # parse local[N]; fall back to 32 for cluster masters
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = 32 if inner in ("", "*") else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "64m"
    # Coalesce floor stays at Spark's 1 MB default (pinned explicitly):
    # a session-wide 64 KB floor — the first cut of the minhash 10x-probe
    # remedy — kept validation's post-shuffle stages fragmented into
    # hundreds of tiny tasks and measured the 1M-doc flagship at
    # 5.9-16.9 s vs 5.1-7.7 s with the default floor (A/B, round 5).
    # Row-heavy/byte-light exchanges (shingle postings, banded keys —
    # ~100x compression, where the 1 MB floor concentrated tens of
    # millions of rows into a handful of tasks) get their 64 KB floor
    # PER PIPELINE via size_shuffle_for(min_partition_size=...) at the
    # shingle entry point instead.
    conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = "1m"
    if extra_conf:
        conf.update(extra_conf)
    # _JVM_FLAGS prepend (driver covers local[N]; executor covers real
    # clusters) — user-supplied options from extra_conf are kept after
    # ours so an explicit +DontCompileHugeMethods still wins.
    for k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        user = conf.get(k, "")
        if _JVM_FLAGS not in user:
            conf[k] = f"{_JVM_FLAGS} {user}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def size_shuffle_for(
    spark: SparkSession,
    df,
    advisory_bytes: int = 64 << 20,
    cap: int = 32768,
    max_stats: int = 512,
    min_partition_size: str = "1m",
) -> int:
    """Automatic shuffle sizing (VERDICT r04 #5), data-proportional form.

    Sets AQE's ``coalescePartitions.initialPartitionNum`` so reduce
    stages START as wide as the *input* warrants — ``max(base shuffle
    partitions, input_bytes / advisory)`` — and AQE coalesces back down
    to the 64 MB advisory at runtime. Data-per-partition therefore stays
    roughly constant as the corpus grows (the minhash 10x probe's
    fixed-64-partition 822 MB/task figure was the failure mode this
    removes), while a bench-scale corpus whose scan is smaller than
    ``base × advisory`` keeps the base width and pays ZERO extra
    scheduling / shuffle-block overhead (a blanket 8x wide start
    measured ~15-35% slower on the 16M-doc flagship at 32 cores —
    BENCH.md round 5).

    Source bytes come from the DataFrame's own input files via the
    Hadoop FileSystem (works for file:/hdfs:/s3a:); with more than
    ``max_stats`` files the sizes are sampled and extrapolated, so the
    driver cost is bounded at any corpus size. Frames with no file
    inputs (in-memory/synthetic) keep the base width.

    ``min_partition_size`` sets the AQE coalesce floor for the caller's
    pipeline: the 1 MB default suits byte-dense exchanges (validation's
    rule/uniqueness stages, where a smaller floor fragments reduce
    stages into tiny tasks); shingle/banded pipelines pass ``"64k"``
    because their exchanges compress ~100x and the 1 MB floor would
    concentrate tens of millions of rows into a handful of tasks (the
    minhash 10x probe's 810 MB/task stage).

    The confs are set on the session (AQE reads them at execution time,
    so a per-plan scope is impossible); concurrent queries on the same
    session share them — the same sharing every AQE knob has. Each
    pipeline entry point calls this right before its own actions, so
    sequential workloads each execute under their own sizing.
    """
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    total = 0
    if files:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        step = max(1, len(files) // max_stats)
        sampled = files[::step]
        got = 0
        for f in sampled:
            try:
                p = jvm.org.apache.hadoop.fs.Path(f)
                fs = p.getFileSystem(hconf)
                got += fs.getFileStatus(p).getLen()
            except Exception:
                pass
        total = int(got * (len(files) / max(1, len(sampled))))
    initial = max(base, min(total // advisory_bytes, cap))
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(initial)
    )
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        min_partition_size,
    )
    return initial
