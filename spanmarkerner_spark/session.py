"""SparkSession factory tuned for this engine.

Local-mode testing uses local[N]; the same conf block is what we'd
ship with spark-submit on a real cluster (AQE on, Arrow on, sensible
shuffle parallelism). Session TZ pinned to UTC so results compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make spanmarkerner_spark importable on executors — the local
    equivalent of `spark-submit --py-files pkg.zip` (north_rule). In
    local mode workers inherit the driver env only at fork, so a
    driver-side sys.path tweak is NOT enough; addPyFile works in both
    local and cluster mode."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # imported from a zip: spark-submit --py-files already
        # distributed exactly this archive to every executor
        _SHIPPED.add(key)
        return
    tmp = tempfile.mkdtemp(prefix="smns_pyfiles_")
    # in local mode executors fetch the zip from this path when their
    # first task starts, so it lives until the interpreter exits
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zip_path = shutil.make_archive(
        os.path.join(tmp, "spanmarkerner_spark_pkg"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "spanmarkerner_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one BLAS thread per python worker — N workers already saturate
    # the cores; nested BLAS threading only adds contention
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    # route the scorer's multi-MB numpy temporaries through a brk heap
    # that never shrinks: with default glibc, every batch re-mmaps and
    # re-faults ~40MB (and under 32 workers those faults contend on
    # cgroup page-charging — measured 7-8s sys per worker). MMAP_MAX=0
    # + a high trim threshold cut minor faults 10x and zeroed sys time
    # (do NOT set MMAP_THRESHOLD_ instead — measured worse: it keeps
    # trim-at-top refaulting alive).
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 << 20))
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores) if str(cores).isdigit() else 32, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # byte-based post-shuffle coalescing is wrong for this engine:
        # its per-byte compute is ~1000x typical SQL (interpreted HOF
        # chains, Arrow-UDF stages), so AQE's byte heuristic
        # serializes compute-dense stages behind byte-small exchanges.
        # Round-2 measured the NER chain collapse (32-core run at 10%
        # CPU); round 6 RE-TESTED enablement after the explicit
        # numbered repartitions (exempt from coalescing) took over the
        # entry points: kg_e2e improved (8.1 -> 6.8s at sf1.0 volume —
        # the post-NER linking/relations exchanges coalesce nicely),
        # but the minhash-LSH verify phase regressed 2.2 -> 4.0s warm
        # at the same volume (array_intersect per candidate pair
        # serialized behind a ~4MB pair exchange), and explicit-width
        # pinning of the bucket/verify exchanges did not reliably
        # recover it under measurement noise. Net across the bench:
        # wash-to-negative — kept OFF (OPTIMIZATION_r06.md, O18).
        # Skew-join splitting stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ensure_min_parallelism(df, min_partitions: int | None = None):
    """Repartition a DataFrame ONLY if its scan is under-split.

    The dedup/similarity operators start with compute-dense per-row
    expression chains (shingling, signatures, quantized cosines) whose
    CPU cost per byte is orders of magnitude above a typical SQL scan —
    the same imbalance that motivates the NER pipeline's explicit
    repartition. A small parquet input (one 128MB split) would run
    those chains single-threaded on a 32-core session. At 100 TB the
    scan has plenty of splits and this is a NO-OP — no extra shuffle
    is ever added to a well-split input.
    """
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def narrow(df: DataFrame, n_rows: int) -> DataFrame:
    """Size one frame of an iterative round by its row count: return
    `df.coalesce(w)` with w = max(1, min(session width,
    n_rows // 50_000 + 1)), or `df` itself when w reaches the
    session's `spark.sql.shuffle.partitions`.

    The one way the engine sizes the shuffles inside iterative loops.
    The rounds of the graph and components operators run over derived
    tables usually orders of magnitude smaller than the corpus, yet
    the session width is a cluster-width constant, so a small graph
    pays (#stages x partitions) near-empty tasks per round. About 50k
    rows per partition is the policy (size partitions from observed
    data, not a fixed setting — DS2, ICDE 2021). `n_rows` must bound
    the rows `df` itself carries, not just one of its inputs, and
    comes from `cut()`'s free count, never from a new count() job.

    Apply it to a frame the round's keyed operators read: the output
    of an aggregation, window or join, or a cut (a cut forgets the
    partitioning it materialized). The coalesce adds no exchange.
    At w = 1 the frame is SinglePartition, so an aggregation or
    window on it adds no exchange, and a join of it adds none when
    the planner broadcasts the other side. At 1 < w < session width
    the frame's partitioning is unknown, so the next keyed operator
    still exchanges at the session width and the coalesce only runs
    the narrowed side in w tasks; `BENCH.md` measures that range
    slower than a `repartition(w, key)`. The width is a property of
    the plan, never of the session conf, so concurrent driver
    threads cannot see each other's width.
    """
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    w = max(1, min(width, n_rows // 50_000 + 1))
    return df.coalesce(w) if w < width else df


def cut(df: DataFrame) -> tuple[DataFrame, int]:
    """Truncate `df`'s lineage: materialize it eagerly and return
    (frame over the materialized blocks, row count).

    The one lineage cut of the engine — every operator or writer that
    cuts lineage goes through here, so the checkpoint policy lives in
    one place:
    - reliable or local: a reliable checkpoint() when the session has
      a checkpoint dir, else localCheckpoint(). Set
      `spark.checkpoint.dir` (HDFS/S3) in the deployment and every cut
      survives executor loss; localCheckpoint blocks die with their
      executor, which is fine in local mode and for short jobs;
    - the row count rides the materializing job as an observed
      metric, so it costs no extra Spark job (an eager checkpoint
      followed by count() runs 4 jobs on a grouped frame, this runs
      the checkpoint's 2). Callers take the count from here, never
      from a count() or isEmpty() on the returned frame.
    """
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if df.sparkSession.sparkContext.getCheckpointDir():
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    return out, obs.get["n"]


def release(df: DataFrame) -> None:
    """Drop the blocks of a frame returned by `cut` once nothing lazy
    still reads it — what keeps an iterative operator's storage
    bounded by a round or two instead of growing with the round
    count. Spark logs one warning per released local cut (its lineage
    is gone; that is the point). Reliable checkpoint files stay on
    disk (Spark removes them only with
    spark.cleaner.referenceTracking.cleanCheckpoints)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
