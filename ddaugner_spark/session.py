"""SparkSession factory with scale-oriented defaults.

Tuning rationale (targets a 1000-executor / 100 TB deployment; local[N]
is only the test harness):

* AQE on — runtime coalescing of shuffle partitions + skew-join splitting
  (BASELINE.json north_star mandates AQE-driven partition coalescing).
* ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster this is overridden to ~2-3x total cores by spark-submit conf.
* Arrow enabled for every pandas-UDF boundary; batch size sized so a
  tagging batch amortizes model/dictionary setup.
* UTC session timezone so timestamp semantics match the DuckDB oracle
  (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ddaugner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; cluster: override.
        inside = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = os.cpu_count() or 8 if inside == "*" else int(inside)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # measured on this box: 8g clearly beats 16g/48g (write 4.1s vs
        # 4.9s/54s at 32 cores) — large heaps thrash the VM's memory
        # system; stage materialization goes through compact parquet, not
        # deserialized caches, so the heap stays small
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # throughput batch workload with heavy interpreted-HOF allocation:
        # ParallelGC measured 47.5s vs G1's 61.5s on the 32-core mention
        # pipeline leg (G1's concurrent cycles steal cores; 16g heaps
        # regress both — keep 8g).  Applies at first JVM launch only.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_FLAGS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        # keep the auto-broadcast threshold conservative: dimension tables
        # are broadcast explicitly (F.broadcast); a generous threshold lets
        # AQE broadcast multi-million-row fact sides, whose single-threaded
        # driver-side build serializes the whole stage (measured: the
        # mention self-join stopped scaling past 8 cores at 64 MB)
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        # Python workers unpickle the package's Arrow kernels by module
        # path; without this they import it only when started from the
        # checkout root
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
