"""SparkSession factory with scale-oriented defaults.

The driver may hand us its own session (``__spark_entry__.entry``),
so every query must also work without these conf defaults — we rely
on per-plan hints (``broadcast()``) rather than session conf where
correctness or plan shape matters.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "real-estate-etl-dev-spark") -> SparkSession:
    """Build (or reuse) a local session tuned for the test harness.

    On a real cluster these confs come from spark-submit; the ones
    here encode the engine's posture: AQE on (runtime re-plan,
    partition coalescing, skew-join splitting), Arrow on (pandas-UDF
    tier), sane shuffle parallelism for local[N].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not up to
        # defaultParallelism (guide §2.2/§9): with parallelismFirst
        # (Spark's default) every tiny shuffle fans out to one
        # partition per core — pure scheduling overhead at bench scale,
        # and at 100 TB the size-based target is the recommended
        # posture anyway (partitions in the 100 MB-1 GB band).
        # CPU-heavy small-byte stages that genuinely need a spread get
        # it explicitly via sources.readers.fan_out.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # The advisory target is parameterised: default 16 MB locally —
        # expression-heavy stages here (decimal folds, CDC explodes,
        # string dedups) carry far more CPU per byte than production
        # fact scans, so the byte target that balances task overhead
        # against per-row work sits lower than the I/O-bound
        # production setting (256m per guide §9, where network/disk
        # amortisation dominates).  Override via SPARK_GRAFT_ADVISORY_MB.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_MB", "16") + "m",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter join pruning: a selective dim-side
        # filter injects might_contain(bloom(join_key)) into the fact
        # scan before the shuffle.  Spark ships it off by default; the
        # default thresholds (creation side ≤ 10 MB, application-side
        # scan ≥ 10 GB) mean it only fires at real fact-table sizes —
        # a no-op at test SFs, a large shuffle-volume win at 100 TB.
        # tests/test_plan_shapes.py proves the machinery fires when
        # the thresholds are met.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


@contextmanager
def conf_span(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the enclosed block, then restore them.

    On exit, even when the block raises, each key goes back to the
    value it held at entry; a key that was unset at entry is unset
    again, so Spark's own default applies.  NOT reentrant: the session
    conf is shared state, so two spans that overlap on one session
    without strict nesting (another thread, an interleaved generator)
    restore each other's values, and any thread sharing the session
    sees the override for the whole span.
    """
    prevs = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in prevs.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
