"""SparkSession factory tuned for the engine.

Defaults follow the driver environment (local[$SPARK_GRAFT_CPUS]) but the
conf set here is the one we would ship on a real cluster: AQE on (runtime
re-planning, skew-join handling), Arrow on (every pandas UDF path), and a
shuffle-partition count that callers override per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_MEMINFO = "/proc/meminfo"


def _default_driver_memory() -> str:
    """Half of this host's RAM (``MemTotal`` in /proc/meminfo), capped at
    16g. A heap as large as RAM lets the driver JVM grow until the kernel
    kills it on a host without swap; the cap is the old fixed default.
    16g when /proc/meminfo is unreadable (non-Linux hosts)."""
    try:
        with open(_MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(16 << 10, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(
    app_name: str = "syzgydb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans bypass AQE by default (canChangeCachedPlanOutput-
        # Partitioning=false), so every persisted relation here (LM
        # models, minhash signatures, gram/tf relations) was built AND
        # consumed at the raw shuffle-partition count — 32 tiny cached
        # partitions locally, and at cluster scale whatever the static
        # setting is, never the data-sized count AQE would pick. Letting
        # AQE coalesce cached-plan output sizes cached relations by the
        # advisory partition size instead (scale-adaptive on both ends);
        # explicit repartition(n) calls (the `_spread` parallelism
        # floor) keep their user-pinned count — AQE never coalesces
        # REPARTITION_BY_NUM shuffles. Row values are unaffected.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_GRAFT_CACHED_PLAN_AQE", "true"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Scan-split sizing: Spark's 128m default assumes a lake of many
        # 100MB+ files. The local fixtures are ONE file of a few MB per
        # table — at 128m every scan is a single task and compute-bound
        # operators (Arrow kernels, tokenizers) run on one of 32 cores.
        # 4m splits parallelize multi-row-group fixtures without
        # measurable empty-split overhead on the smallest ones; a real
        # deployment overrides via SPARK_GRAFT_MAX_PARTITION_BYTES
        # (the rule stays the same: total input / target parallelism).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _parse_bytes(s: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m',
    '128MB') to bytes."""
    s = str(s).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s.endswith("b") and not s[-2:-1].isdigit():
        s = s[:-1]
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    try:
        return int(float(s) * mult)
    except ValueError:
        return 128 * 1024 * 1024


def scan_splits_estimate(df, enough: int | None = None) -> int | None:
    """Estimate how many scan splits the DataFrame's file sources
    yield, from the *plan only* — ``df.inputFiles()`` resolves the
    logical plan's relations without converting to an RDD or running
    a job. Each file contributes ceil(size / maxPartitionBytes)
    splits when its size is statable (local paths; at cluster scale
    the caller's big-input branch never needs this precision), else 1.

    Byte splits are BOUNDED BY THE FILE'S ROW-GROUP COUNT for local
    parquet: a row group is parquet's minimum split unit, so a big
    single-row-group file reads as ONE task no matter how small
    maxPartitionBytes goes — the byte estimate alone told `_spread`-
    style callers the scan was already parallel when it wasn't
    (measured: a 15 MB one-row-group documents file serialized every
    compute-bound kernel at sf1). One footer read per multi-split
    local file, driver-side — the same metadata Spark's own scan
    planning reads.

    Returns None for in-memory / non-file plans (no files): callers
    should treat those as small. With ``enough``, a listing of at
    least ``enough`` files returns its file count, a lower bound that
    already meets the caller's threshold, without fetching one path
    per py4j round trip or reading any size.
    """
    import math
    import os as _os

    try:
        jfiles = df._jdf.inputFiles()
    except Exception:
        return None
    n_files = len(jfiles)
    if not n_files:
        return None
    if enough is not None and n_files >= enough:
        return n_files  # every file is at least one split
    files = list(jfiles)
    max_bytes = _parse_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f
        try:
            size = _os.path.getsize(path)
            n = max(1, math.ceil(size / max_bytes))
        except OSError:
            splits += 1
            continue
        if n > 1 and path.endswith(".parquet"):
            try:
                import pyarrow.parquet as _pq

                n = min(n, _pq.ParquetFile(path).metadata.num_row_groups)
            except Exception:
                pass  # remote path / unreadable footer: keep byte estimate
        splits += n
    return splits
