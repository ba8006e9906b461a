"""SparkSession factory tuned for the engine.

The reference runs a single in-memory SQLite connection (builder.go:353-361,
explicitly not thread-safe per README.md:347-371); our execution substrate is
a SparkSession. Configuration choices here are the scale-out story:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast-join demotion/promotion replace any hand-tuned plan knobs.
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics and
  parity with the DuckDB correctness oracle (UTC-naive timestamps).
- Arrow enabled: every pandas interchange (XLSX ingestion, pandas UDFs in the
  pipeline operators) rides vectorized Arrow batches, not pickled rows.
- shuffle partitions default to the local core count; on a real cluster this
  is overridden by AQE's coalescing against
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(os.cpu_count() or 8, 8)


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Driver heap for local mode: half of physical RAM, capped at 32g and
    never below Spark's own 1g default. A heap as large as the machine
    gets the JVM killed before it ever collects its garbage."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, physical_bytes // 2**31))}g"


def get_spark(
    app_name: str = "filesql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    In local/test mode ``master`` defaults to ``local[N]`` with
    ``SPARK_GRAFT_CPUS`` threads. On a cluster, pass ``master=None`` with a
    pre-configured environment and the builder inherits it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    nshuffle = shuffle_partitions or int(cpus or DEFAULT_SHUFFLE_PARTITIONS)

    # In local mode the driver JVM IS the executor: Spark's 1g default
    # heap starves 32 task threads (and a deep ANTLR parse alone can OOM
    # it — seen in round 10's fuzz corpus). Size it to the machine; on a
    # real cluster the submit config overrides this.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold instead of always preferring sort-merge: skips the per-side
        # sorts on equi-joins whose build side fits a partition hash table
        # (r17, guide-recommended baseline; measured over the SMJ-heavy
        # query basket at sf0.1: -8% total, no query slower; AQE skew-join
        # splitting still applies to SHJ, and size conditions — not this
        # flag — keep huge build sides on sort-merge at cluster scale).
        # Cluster-scale caveat (ADVICE r17): SHJ build sides do not spill,
        # and the size conditions are ESTIMATE-based — a bad post-filter
        # estimate can hand SHJ an oversized build partition and OOM an
        # executor. At cluster scale keep AQE skew splitting on (it is,
        # above) and consider scoping this flag per-job or reverting to
        # the sort-merge default where stats are known-poor.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Files: pack small files, split big ones, at ~128MB per task.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Keep driver results bounded — the engine never collects big tables.
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
