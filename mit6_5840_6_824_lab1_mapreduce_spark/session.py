"""SparkSession factory tuned for both local testing and 100 TB posture.

Local tests run on ``local[N]``; the conf below is chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime
partition coalescing + skew-join splitting), Arrow for any Python
exchange, UTC session time zone for deterministic timestamp semantics.

Cluster-scale knobs that matter at 100 TB (documented here, harmless
locally):
- ``spark.sql.shuffle.partitions``: sized ~2-3x total cores on a real
  cluster; AQE coalesces down, so err high. Locally 32.
- ``spark.sql.files.maxPartitionBytes``: 128m default keeps scan tasks
  balanced; at 100 TB this yields ~800k scan tasks, which is fine.
- ``spark.sql.adaptive.skewJoin.enabled``: splits skewed shuffle
  partitions at runtime (hot keys in joins).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "mr-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # Local mode runs driver == all executors in ONE JVM; the Spark
    # default (1g) starves AQE-elected broadcast builds well below the
    # data scales this sandbox can hold (found by the round-6 sf1.0
    # smoke: dedup CC died building a broadcast at 6M lineitem /
    # 50k docs). 8g mirrors a small production driver; override with
    # SPARK_GRAFT_DRIVER_MEM. Only effective for the process that
    # launches the JVM — harmless on an already-running session.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # Every Python task forks from this daemon; it stops each task
        # re-reading pyspark.zip and the Spark jar (worker_daemon.py).
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def warm_python_worker_pool(spark: SparkSession) -> None:
    """Prime the Python worker pool TWO-DEEP (round-6 measurement;
    bench.warm_up and bench.reset call it for bench.py and every timing
    tool in tools/, so the invariant cannot drift between them):

    - `PythonWorkerFactory` culls idle pooled workers after a
      HARDCODED 1 minute (no conf knob), and each re-fork pays the
      pandas/pyarrow import — inside whatever job runs next.
    - A task whose plan chains TWO Python operators holds two workers
      at once, so such a query (multimodal_audio_decode's unfused
      build→parse pipeline) draws on a 2x-deep pool; priming only
      one layer leaves its second stage to fork+import mid-query.

    Measured on local[4], 4 vCPUs, JVM already warm: the two-deep
    job below on fresh workers takes 3.5-3.7 s wall and 11.7-12.3 s
    of executor time against 0.7 s of CPU; on the primed pool it
    takes 0.47-0.51 s. Without `worker_daemon` the primed job took
    1.13-1.23 s: the 210 s of blocked time round 6 measured for
    multimodal_audio_decode on local[32] also held every task's zip
    re-read.

    If any query ever chains a THIRD Python stage, add a third
    `.mapInPandas` hop here."""
    n = spark.sparkContext.defaultParallelism

    def _noop(batches):
        yield from batches

    (
        spark.range(n * 4, numPartitions=n)
        .mapInPandas(_noop, schema="id long")
        .mapInPandas(_noop, schema="id long")
        .count()
    )


def local_rows_df(spark: SparkSession, rows, schema: str):
    """Driver-local literal rows -> DataFrame WITHOUT Python-worker
    execution (r13 optimization round, guide §4/§5).

    ``spark.createDataFrame(list, schema)`` parallelizes the pickled
    rows into ``defaultParallelism`` Python-backed partitions, so every
    downstream action launches one Python worker round trip PER CORE
    to deserialize a handful of rows. A 16-row table's collect() on
    local[4], 4 vCPUs, median of 10: 166 ms wall and 216 ms of executor
    time for 20 ms of CPU (4 tasks), against 80 ms and 2 ms here.
    Without `worker_daemon` the same collect() took 404 ms and 1,052
    ms: most of the 0.5-2.8 s r13 measured on local[32] was each
    task's zip re-read. The pandas/Arrow path ships the same rows to
    the JVM as Arrow batches at CREATION time instead, so execution is
    a plain JVM scan; coalesce(1) collapses the per-batch slices (a
    loop-result table is at most a few hundred rows — consumers
    broadcast or collect it).

    Supported cell types here: int/str (all the call sites need).
    Empty input gets a JVM local relation built with the declared
    schema, so every field keeps its type and nullability and the plan
    is a ``LocalTableScan <empty>``: an EMPTY
    ``createDataFrame([], schema)`` still executes one empty
    Python-backed partition per core per action (count() on local[4],
    4 vCPUs, median of 10: 244 ms vs 109 ms for the local relation).
    """
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if not rows:
        jss = spark._jsparkSession
        return DataFrame(
            jss.createDataFrame(
                spark._jvm.java.util.ArrayList(), jss.parseDataType(st.json())
            ),
            spark,
        )
    import pandas as pd

    pdf = pd.DataFrame([tuple(r) for r in rows], columns=[f.name for f in st])
    return spark.createDataFrame(pdf, st).coalesce(1)
