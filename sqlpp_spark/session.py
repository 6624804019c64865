"""SparkSession factory tuned for the target execution profile.

Local testing runs on ``local[N]`` (one JVM); the configs are chosen so
the same code scales to a multi-executor cluster: AQE handles runtime
re-planning (partition coalescing, skew joins, join-strategy switching),
shuffle partitions default to core count locally (on a real cluster this
is overridden to ~2-3× total executor cores or left to AQE), and Arrow
is enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "sqlpp_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).

    PySpark's per-call origin capture
    (``spark.python.sql.dataFrameDebugging.enabled``, a static conf) is
    off: it adds py4j round trips around every ``functions`` call the
    sqlpp compiler makes. What users lose is the Python call site in
    the query context of Spark runtime errors; for a sqlpp query that
    site is a line of ``compiler/compile.py``, and sqlpp's own errors
    carry source locations (``frontend/errors.py``).

    Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
    a static conf) holds 2,000 classes instead of Spark's 100. An
    embedder runs a fixed set of query shapes over and over, and each
    action Janino-compiles its whole-stage code unless the cache still
    holds it. The 15 ``perfbench`` dialect rows and ``dedup_minhash``
    need about 180 classes, so a 100-entry LRU recompiles most of them
    on every repetition. One pass over the 28 headline rows and every
    ``sqlpp_`` row (106 rows at sf0.01) compiles 1,430 distinct
    classes; 2,000 holds that working set with headroom. The cost is
    about 14 MB more JVM metaspace for the ~1,460 classes kept. The size
    stays bounded because Spark compiles some bind values into the
    code as constants: with an unbounded cache, varying binds would
    grow metaspace without limit. The conf is static and JVM-wide: an
    embedder who passes their own session to ``SqlppEngine`` must set
    it on their own builder.
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus_env}]" if cpus_env else "local[*]"
    else:
        master = f"local[{cpus}]"
    n_shuffle = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle partitions ≈ cores for local mode. At cluster scale AQE
        # coalesces from a high initial number, so we set a high initial
        # partition num and let AQE shrink it — the right behavior both
        # locally and on 1000 executors.
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r19 opt (guide §3.1/§9): let the planner pick shuffled-hash
        # over sort-merge when its size conditions hold, and let AQE
        # rewrite SMJ→SHJ at runtime when every post-shuffle partition
        # is under the local-map threshold. Re-measured (see
        # OPTIMIZATION_r19.md #1): a plan NO-OP at sf0.1 — every
        # headline join is already broadcast or a similar-sized SMJ
        # the planner correctly refuses to hash-build — so this is the
        # guide-baseline for CLUSTER scale, not a local win. Scale-
        # safe: SHJ fires only under the planner's size conditions,
        # the AQE rewrite is bounded by the 128m per-partition build
        # cap, and AQE skew splitting still applies — both knobs
        # parameterized for cluster tuning.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_MAX", "128m"),
        )
        # r19 (guide §2.3): shuffle/broadcast codec, measured both ways
        # in an interleaved two-round A/B at sf0.1 — zstd is 0.87x on
        # pipeline_clean_corpus (the largest text-payload shuffle) but
        # 1.1-1.2x on the small-broadcast rows (q5/q10/funnel: per-task
        # decompress latency), wash on minhash/ngram. One codec governs
        # both surfaces, so the local default stays lz4 and the knob is
        # the cluster lever: on a real network the ratio win dominates
        # (set SPARK_GRAFT_IO_CODEC=zstd there).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No \r progress-bar spam on stdout: the bench's one-line JSON
        # record must be the last thing a tail-capture sees.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # driver fixtures store events.ts as TIMESTAMP(NANOS); read as
        # long and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # a native recursive CTE (compiler/compile.py) is bounded by
        # spark.sqlpp.recursive.maxIterations, as the driver loop is,
        # not by a row count the loop does not have
        .config("spark.sql.cteRecursionRowLimit", "-1")
        # see the docstring
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        pass  # Spark Connect session: no local sparkContext
    return spark


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """Load every driver-generated parquet table as a DataFrame and
    register temp views so both the DataFrame and SQL APIs see them.
    """
    from sqlpp_spark.sources.tables import read_table

    dfs = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            dfs[name] = df
    return dfs
