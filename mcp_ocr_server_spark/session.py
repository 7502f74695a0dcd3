"""SparkSession factory with the engine's standard configuration.

The reference sizes a worker pool from YAML (internal/config/config.go:220-227);
here parallelism is Spark's task scheduling (SURVEY.md §2.6 P2) and the knobs
that matter are shuffle partitioning, AQE, and Arrow batch size for the
binary-heavy media columns (SURVEY.md §4 "Vectorization").

Python workers fork from `spark_daemon`, not from `pyspark.daemon`.  Every
task's set-up calls `importlib.invalidate_caches()`, which on Python 3.11
and 3.12 makes each zip importer re-read all of `pyspark.zip` -- about a
quarter of a CPU second per task, more than many of the UDF bodies cost.
The daemon skips the re-read while the archive is unchanged.  Python 3.13
reads lazily, so the module can be deleted once that is the floor.

The extraction job's JVM runs C1 only, with the full-size code cache.
In local mode that JVM is driver and executor at once and only glues
the Python workers' stages together, yet HotSpot's C2 compiler threads
were its largest CPU consumer, on the cores the workers need.  With C2
off, HotSpot's ergonomics shrink the code cache from 240 MB to 48 MB,
which a few job calls in one session fill (the sweeper flushes it, and
a full cache disables the compiler), so the size is set explicitly.
Spark's codegen cache is sized above the job's working set of generated
classes, so repeated calls in one session reuse them.  Sessions that run
the JVM-heavy registry queries keep C2 (`jvm_heavy=True`): C1 runs
Spark's generated loops several times slower there.  Measurements:
CHANGES.md and ROADMAP item 4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_CONFIG, JobConfig

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mcp-ocr-server-spark",
    master: str | None = None,
    cfg: JobConfig = DEFAULT_CONFIG,
    shuffle_partitions: int | None = None,
    *,
    jvm_heavy: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the extraction pipeline.

    - AQE on: runtime partition coalescing + skew-join splitting backstop
      behind our explicit cost-based repartitioning (SURVEY.md §4 item 1).
    - Arrow on, small maxRecordsPerBatch: media spans carry encoded-image
      BinaryType columns; large rows x default 10k-row batches would blow
      executor memory (SURVEY.md §7 "Large binaries through Arrow").
    - PYTHONPATH propagated so python workers import this package when
      tests run from a checkout rather than an installed wheel.
    - Unless ``jvm_heavy``: C1-only JIT with a 240 MB code cache and a
      1000-class codegen cache for the JVM this call launches (why:
      module docstring).  The entry points that run registry queries
      (`bench.py`, `scripts/run_query.py`, the tests) pass
      ``jvm_heavy=True`` and get HotSpot's defaults.  Only a JVM that
      PySpark launches from here gets the flags; under `spark-submit`
      the driver JVM already runs (`scripts/run_extract.py` gives the
      `--driver-java-options` equivalent).  Cluster executors keep C2.
      A `spark.driver.extraJavaOptions` in `PYSPARK_SUBMIT_ARGS` is
      applied after these settings and replaces them: the caller wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pythonpath if pythonpath else "")
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_batch_rows),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "mcp_ocr_server_spark.spark_daemon")
        # P4 backstops (SURVEY.md §2.6), honestly scoped:
        # - the cooperative engine deadline is the ONLY mechanism active
        #   in local mode (Spark's scheduler skips the speculation
        #   thread when isLocal; nothing else can interrupt a task hung
        #   in native code here);
        # - on a real cluster (spark-submit, the north-rule deployment)
        #   these configs make speculation re-attempt stragglers past
        #   4x the stage median (all stages are idempotent) and the
        #   reaper then guarantees killed attempts actually die — the
        #   reaper never initiates kills by itself.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.task.reaper.enabled", "true")
        .config("spark.task.reaper.killTimeout", "120s")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if not jvm_heavy:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        ).config("spark.sql.codegen.cache.maxEntries", "1000")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
