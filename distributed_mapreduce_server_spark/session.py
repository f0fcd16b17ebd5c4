"""SparkSession factory tuned for both local testing and cluster scale.

The reference manager hand-schedules partitions and worker liveness
(reference: mapreduce/manager/__main__.py:96-140); on Spark that job
belongs to the scheduler + AQE, so the session is where those knobs
live.
"""

from __future__ import annotations

import contextlib
import math
import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dmrs-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, dynamic join-strategy switches (sort-merge ->
      broadcast when the built side turns out small).
    - Arrow on: any Pandas-UDF path transfers columnar batches.
    - shuffle.partitions sized by SPARK_GRAFT_CPUS locally; on a real
      cluster this would be ~2-3x total cores and AQE coalesces down.
    """
    # Python workers (Pandas UDF / mapInPandas) import this package by
    # name from pickled closures; they read PYTHONPATH from the
    # environment, not the driver's sys.path — so export the package
    # root before the JVM starts or any run from outside the repo dir
    # dies with ModuleNotFoundError in the executor.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        # local[N, 2]: allow one task retry, like a real cluster
        # (maxFailures defaults to 4 there but to 1 in plain local[N]) —
        # the reference's worker-death/task-redistribution guarantee is
        # Spark task re-execution, and local runs should exhibit it too.
        builder = builder.master(f"local[{cpus},2]")
        # Local-ONLY latency trims (a real cluster keeps the defaults:
        # compression pays for itself once shuffle blocks cross a NIC,
        # and locality waits matter when data has a home executor):
        # in-process shuffles are pure memcpy, so compressing them only
        # burns CPU, and every block is process-local by construction.
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.locality.wait", "0")
        )
    return builder.getOrCreate()


# SCALING.md finding 1, fed back into code (VERDICT r12 task 2): the
# graph family's wedge/label shuffles spill at the session's fixed
# partition count once the edge frame outgrows it (measured: triangles
# 260 s at 32 partitions vs 108 s at 128 on the 10x corpus, identical
# plan). AQE only coalesces DOWN from the configured number, so the
# RAISE must come from the code. Calibration: the 10x rehearsal
# corpus' 12.0M-edge graph maps to exactly the measured-good 128
# partitions -> ~94k edges per task keeps each wedge-stage task's
# fan-out within executor memory; sf0.1's 1.2M edges stay at the
# 32-cpu floor (no change to shipped plans), and the 3x corpus gets
# 64 (and AQE still coalesces tiny stages below the floor).
GRAPH_EDGE_ROWS_PER_TASK = 94_000
# Backstop, not a scale ceiling: one local session never benefits past
# this many tasks per stage; a real cluster raises the floor (cores)
# instead, and the formula follows it.
MAX_SIZED_PARTITIONS = 8192


def sized_shuffle_partitions(
    n_rows: int, rows_per_task: int, cpus: int | None = None
) -> int:
    """Partition count that keeps a shuffle stage near ``rows_per_task``
    input rows per task: next power of two of n_rows / rows_per_task,
    floored at the session's core count (anything less idles cores)
    and capped at MAX_SIZED_PARTITIONS. Deterministic — same inputs,
    same plan shape across runs."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    want = max(1, math.ceil(n_rows / max(rows_per_task, 1)))
    return max(cpus, min(MAX_SIZED_PARTITIONS, 2 ** math.ceil(math.log2(want))))


@contextlib.contextmanager
def data_sized_shuffle(spark: SparkSession, n_rows: int, rows_per_task: int):
    """Scope ``spark.sql.shuffle.partitions`` to a value sized from a
    MEASURED input row count (an eager edge/frame count the operator
    already takes), restoring the previous value on exit. The conf is
    read at ACTION time, so callers must wrap the materializing action
    (count / eager localCheckpoint), not just plan construction.

    Single-threaded-session assumption (the same one
    persistent_rdd_ids documents): the conf is session-global, so a
    concurrent query materializing inside the window inherits the
    raised value — harmless (AQE coalesces) but worth knowing."""
    target = sized_shuffle_partitions(n_rows, rows_per_task)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield target
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Scope arbitrary SQL confs (r14): set each key=value, restore the
    previous values on exit. Same ACTION-time caveat and
    single-threaded-session assumption as :func:`data_sized_shuffle`.

    First use: switching AQE off around fixed-shape iterative loops
    (graph rounds) whose joins are explicitly broadcast-hinted — AQE's
    per-job re-planning and separate broadcast-materialization jobs
    dominate a sub-second round, and nothing in a fixed broadcast+agg
    round needs runtime re-optimization.

    A key that was unset on entry (no value, no default) is unset
    again on exit rather than pinned to the scoped value."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def retire_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist EVERY persistent RDD in the context and return how
    many were dropped.

    ``localCheckpoint(eager=True)`` results (the two-phase kernels',
    the iterative graph loops') are persisted RDD blocks that
    ``spark.catalog.clearCache()`` does NOT touch — without an explicit
    retire they are freed only when the driver-side object is GC'd
    (ContextCleaner), so a long single-session run (an 82-query bench,
    a 240-key correctness drive) accumulates storage blocks
    non-deterministically and squeezes execution memory.

    ONLY call this between queries: a localCheckpointed frame has its
    lineage CUT, so unpersisting its blocks makes any LATER action on
    it fail loudly (it cannot silently recompute — by design). Session
    callers (bench harness, long drives) own that boundary; operators
    never call this.
    """
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(False)
        n += 1
    return n


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Snapshot the ids of every currently-persisted RDD (cache AND
    localCheckpoint blocks). Diffing two snapshots around a
    ``localCheckpoint(eager=True)`` isolates exactly that frame's
    block set, so iterative operators can retire superseded rounds
    with :func:`unpersist_rdd_ids` instead of leaking every round's
    checkpoint for the life of the session.

    SINGLE-THREADED-SESSION ASSUMPTION (ADVICE r8): the diff captures
    ANY RDD persisted in the window — if another query runs
    concurrently in the same SparkSession, its cache/checkpoint
    blocks can land in the diff and be unpersisted by the caller;
    for a localCheckpointed frame (lineage cut) that is an
    unrecoverable job failure, not a recompute. Prefer
    :func:`checkpointed_rdd_ids` (per-frame, concurrency-safe) for
    eagerly localCheckpointed frames — the snapshot diff remains for
    frames persisted via ``persist()`` where no single backing RDD is
    reachable from the plan."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def checkpointed_rdd_ids(df) -> set[int]:
    """The persisted block id of a localCheckpointed DataFrame, read
    off the frame's own plan — concurrency-safe retirement (VERDICT
    r9: a snapshot diff can only assume a single-threaded session;
    this cannot capture a neighbor's blocks). After
    ``localCheckpoint(eager=True)`` the analyzed plan IS a
    ``LogicalRDD`` wrapping the checkpointed internal RDD, and that
    RDD's id is exactly the persisted block set (verified: the id
    equals the snapshot diff around the checkpoint).

    Lazy ``localCheckpoint(eager=False)`` results (the kcore and LPA
    loops pass these) are accepted too: their plan is the same
    ``LogicalRDD``, so the id is known at once, but no block exists
    under it until the first action on the frame. The caller must
    materialize the frame before the id means anything for
    retirement. Raises loudly if the plan is not a LogicalRDD —
    callers must pass the checkpoint RESULT, not an arbitrary
    frame."""
    plan = df._jdf.queryExecution().analyzed()
    cls = plan.getClass().getName()
    if not cls.endswith("LogicalRDD"):
        raise ValueError(
            f"checkpointed_rdd_ids wants a localCheckpoint(eager=True) "
            f"result (LogicalRDD plan); got {cls}"
        )
    return {int(plan.rdd().id())}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> int:
    """Release the storage blocks of the given persistent RDD ids
    (non-blocking); returns how many were still live. Safe on ids
    already cleaned by the ContextCleaner. Same fail-loud contract as
    :func:`retire_persistent_rdds`: a localCheckpointed frame whose
    blocks are released cannot be acted on again (lineage is cut) —
    only retire frames genuinely superseded."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for i in ids:
        if m.containsKey(i):
            m.get(i).unpersist(False)
            n += 1
    return n
