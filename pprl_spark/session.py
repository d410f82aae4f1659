"""SparkSession construction tuned for this engine.

Plain ``python`` runs (tests, perfbench, tools) get a ``local[N]`` master,
a sized driver heap and the tuning confs below. Under ``spark-submit``
(``PYSPARK_GATEWAY_PORT`` set) the launcher's ``--master``,
``--driver-memory`` and ``--conf`` values win, and the already-running
driver JVM's heap and flags are left alone. AQE is always on for
partition coalescing and runtime join re-planning. Its skew-join split
fires only past 256 MB per partition, so it does not balance the pair
join at these sizes; hot blocks there are capped and, in the shuffled
join shapes, salted by ``operators.candidates``.

A warm session reuses what it has built: the codegen cache holds every
class a ``linkage`` pass or an oracle sweep generates, and a ``local[...]``
session this module starts itself forks its Python workers from
:mod:`pprl_spark._daemon`, which stops each task re-reading
``pyspark.zip``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pprl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    launcher: dict[str, str | None] = {}
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the driver JVM: its heap and JVM flags are
        # fixed (so never set here, which would only misreport them to the
        # heap-sized broadcast budget) and every key it set wins
        SparkContext._ensure_initialized()
        launcher = {"spark.driver.memory": None, "spark.driver.extraJavaOptions": None}
        launcher.update(SparkConf().getAll())
    master = launcher.get("spark.master") or master or f"local[{cpus}]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    n_threads = int(n) if n.isdigit() else cpus
    if shuffle_partitions is None:
        # Partition count must follow DATA VOLUME, not a universal
        # multiplier: at 100k docs/source, 4x partitions-per-thread wins
        # (local[32]: 89s @1x -> 73s @4x; local[4]: 387s -> 313s) because
        # big blocked-join partitions interleave across contended cores —
        # but on the small sf0.1 driver suite the same 4x rule DOUBLES
        # total time (87s -> 165s): per-task overhead swamps tiny
        # shuffles, worst in the iterative connected-components loop.
        # Default = threads (right for the small scale tests run at);
        # large jobs pass shuffle_partitions=4*cores explicitly
        # (tools/_scale_job.py) — on a real cluster, size to
        # data-bytes/partition (~128MB), not to core count.
        shuffle_partitions = n_threads
    defaults = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Keep the heap LEAN: in this container a larger heap is strictly
        # slower when headroom exists (30k-doc linkage, local[32]: 2g ->
        # 35s, 8g -> 86s, 16g -> 104s — fresh-page faults + GC dwarf the
        # work), while 16+ threads allocating Arrow batches on 2g hit
        # GCLocker starvation. Empirical table from the 100k-doc sweep:
        # <=8 threads -> 2g, >8 -> 5g. Override via PPRL_DRIVER_MEMORY.
        "spark.driver.memory": os.environ.get(
            "PPRL_DRIVER_MEMORY", "2g" if n_threads <= 8 else "5g"
        ),
        # Long-lived local sessions accumulate broadcast/checkpoint blocks
        # whose cleanup waits on driver GC (ContextCleaner is weak-ref
        # driven); the default 30min periodic GC lets a multi-query bench
        # session build memory pressure that intermittently doubles a
        # query's wall time. 2min bounds the drift.
        "spark.cleaner.periodicGC.interval": "2min",
        # The generated-class cache is static and keyed by source, and its
        # default 100 entries are fewer than one warm pass uses: a
        # perfbench linkage run compiles 143 distinct classes, an sf0.01
        # oracle sweep 1,203. At 100, every warm linkage pass recompiled
        # ~90 byte-identical classes and the JIT compiled them again.
        # 2000 is the sweep plus headroom; it costs Metaspace nothing on
        # a linkage run and 6 MB by the end of the sweep.
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Arrow's JNI critical sections starve G1 allocations under load
        # ("Retried waiting for GCLocker too often"); raising the retry
        # budget is the standard mitigation (JDK-8192647 era guidance)
        "spark.driver.extraJavaOptions": (
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
        ),
    }
    if not launcher and master.startswith("local"):
        # under spark-submit, --py-files reach the workers only after the
        # daemon has started, so it could not import this package; here
        # the workers get its root on their path, wherever they start
        defaults["spark.python.daemon.module"] = "pprl_spark._daemon"
        defaults["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
    builder = SparkSession.builder
    for key, value in defaults.items():
        if key not in launcher:
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
