"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen for
cluster-scale behavior: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), dynamic partition overwrite (so a
partitioned re-write replaces only touched partitions), Arrow for the
few Pandas-UDF paths, and bounded files-per-scan-partition.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Conservative caps that matter at 100 TB: AQE coalesces small shuffle
# partitions, skew joins get split, and partitioned writes cap file row
# counts so one giant partition key cannot produce a multi-GB file.
_ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start every shuffle WIDE and let AQE coalesce down: with a fixed
    # spark.sql.shuffle.partitions=32, a 28 GB pair shuffle runs
    # ~900 MB tasks and spills (the r10 sf10 sweep measured
    # graph_neighbor_jaccard at slope +1.08 from exactly this), while
    # AQE can only merge partitions, never add them.  512 initial
    # partitions puts the same shuffle at ~55 MB/task; small shuffles
    # still coalesce to a handful of tasks, so short queries pay ~0.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Let AQE coalesce shuffles INSIDE cached/persisted plans too: by
    # default caching compiles with AQE's partition-count changes
    # disabled (to keep a cached relation's output partitioning
    # reusable), so every persisted subtree ran its exchanges at the
    # full initialPartitionNum — with the wide-start posture above
    # that is 512 near-empty tasks per cached shuffle at small scale
    # (r16 measured dedup_clusters' persisted pair pipeline paying
    # ~1500 such tasks ≈ half its wall; at cluster scale the same
    # conf is what keeps cached-plan shuffles advisory-sized instead
    # of fixed-width).  Output rows are unaffected; a downstream
    # consumer that could have reused the cached partitioning may
    # plan one extra exchange, which AQE then sizes correctly.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Keep partition-key columns as the strings we wrote, instead of
    # re-inferring int/double from directory names (reference semantics:
    # partition dimensions are always STRING).
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # Read TIMESTAMP(NANOS) parquet columns as long (Spark has no native
    # nanos type); queries that need them as timestamps convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime bloom-filter injection: when one join side is selective,
    # the optimizer builds a bloom filter from it and pushes the filter
    # into the other side's scan — at 100 TB this prunes shuffle input
    # for fact-to-filtered-dim joins without any operator-level change.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


def _pid_alive(pid: int) -> bool:
    """Portable liveness probe — ``/proc`` exists only on Linux, and a
    false 'dead' verdict here rmtree's a LIVE process's scratch dirs
    (the exact corruption the per-pid dirs exist to prevent).
    ``kill(pid, 0)`` sends no signal; EPERM still means alive."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OSError):
        return True
    return True


#: warehouse dirs this PROCESS has claimed (cleared-once guard: see
#: _claim_warehouse)
_CLAIMED_WAREHOUSES: set[str] = set()


def _claim_warehouse(wh: str) -> None:
    """First claim by THIS process clears any pre-existing dir: under
    our own pid it can only be a SIGKILLed run's leftover adopted via
    pid reuse (the stale sweep skips pid == getpid(), and atexit
    never ran for a kill -9) — its stale managed tables would collide
    with or silently fold into this run's (r15 review).  Later calls
    in the same process must NOT clear it: the dir then holds OUR
    live tables.  Exit cleanup registers once per claim."""
    import atexit
    import shutil
    if wh in _CLAIMED_WAREHOUSES:
        return
    shutil.rmtree(wh, ignore_errors=True)
    _CLAIMED_WAREHOUSES.add(wh)
    atexit.register(shutil.rmtree, wh, ignore_errors=True)


def _sweep_stale_dirs(root: str) -> None:
    """Remove ``run-<pid>`` dirs whose owning process is gone — crash
    leftovers from previous harness runs (live pids are left alone)."""
    import shutil

    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return
    for name in entries:
        if not name.startswith("run-"):
            continue
        try:
            pid = int(name.split("-", 1)[1])
        except ValueError:
            continue
        if pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def get_spark(app_name: str = "dynamic-partitioner-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``). On a real cluster, pass ``master=None`` and submit
    through spark-submit; the confs here are master-agnostic.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Per-PROCESS warehouse: managed tables (bucketed joins, catalog
    # keys) from two concurrent harness processes must not fight over
    # one ./spark-warehouse — a shared dir let run B's DROP+overwrite
    # empty the table run A was mid-query on (r8 parallel-sweep FAIL).
    # Static conf: only effective when this factory creates the JVM;
    # cleaned at exit, stale dirs of dead pids swept here.
    wh_root = os.path.join(os.getcwd(), ".scratch", "warehouse")
    wh = os.path.join(wh_root, f"run-{os.getpid()}")
    builder = builder.config("spark.sql.warehouse.dir", wh)
    _sweep_stale_dirs(wh_root)
    _claim_warehouse(wh)
    # local-mode driver == executor: the 1g default heap gives a ~0.5g
    # storage pool that evicts persisted relations mid-query and makes
    # timings swing; size it to the machine (static conf — only applies
    # when this factory creates the JVM, a cluster sets its own)
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # Bound the window in which GC-released blocks linger: operators
    # that truncate lineage with localCheckpoint (triangle census,
    # pagerank, cluster resolution) rely on the ContextCleaner to
    # reclaim the checkpointed blocks once unreachable — but the
    # cleaner only acts on JVM GC, and an idle large-heap driver can
    # stay GC-quiet for the default 30 min.  5 min caps how long a
    # swept session accumulates dead edge-set/rank blocks (static
    # conf — only applies when this factory creates the JVM).
    builder = builder.config("spark.cleaner.periodicGC.interval", "5min")
    for k, v in _ENGINE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    The driver hands us a pre-built session; these confs are all
    runtime-settable so queries behave identically there.
    """
    for k, v in _ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build — keep going
            pass
    return spark


@contextmanager
def _conf_override(spark: SparkSession, key: str, value: str | None):
    """Set a session SQL conf for the block, restoring (or unsetting,
    if it was unset) on exit.  THE one save/restore implementation for
    the package — hand-rolled copies had drifted in their save idioms
    (get-with-default vs bare get vs try/except) and restore idioms
    (set vs unset-or-set).  ``value=None`` is a no-op."""
    if value is None:
        yield
        return
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
