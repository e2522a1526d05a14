"""SparkSession factory tuned for this engine.

The reference engine's runtime knobs are a page size in bytes and a
buffer count (``/root/reference/src/QueryMain.java:26-41``); Spark's
equivalents are shuffle partitioning, AQE, and memory management —
configured once here and then left to Catalyst/Tungsten.

Design-for-scale notes (local[N] is the test harness, not the target):

- AQE is on: runtime partition coalescing + skew-join splitting mean
  the same plan survives a 100x scale-up without hand-retuning
  ``spark.sql.shuffle.partitions``.
- CBO is on so stats (``ANALYZE TABLE``) feed join reordering, the
  Spark analog of the reference's ``.stat``-file cost model
  (``src/qp/optimizer/PlanCost.java``).
- Arrow is on: every pandas_udf/applyInPandas extension operator
  transfers columnar batches, not pickled rows.
- Session timezone is pinned to UTC so timestamp semantics are stable
  across engines (and match the DuckDB oracle).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_PACKAGE_ROOT = Path(__file__).resolve().parent.parent
_VENDORED_PROTOBUF = _PACKAGE_ROOT / "third_party" / "protobuf"


def _export_pythonpath(entry: str, first: bool = False) -> None:
    """Add ``entry`` to this process's PYTHONPATH (at the front when
    ``first``) unless it is already there. Python workers inherit the
    JVM's environment, captured at gateway launch."""
    prior = os.environ.get("PYTHONPATH")
    parts = prior.split(os.pathsep) if prior else []
    if entry not in parts:
        parts = [entry, *parts] if first else [*parts, entry]
        os.environ["PYTHONPATH"] = os.pathsep.join(parts)


def _export_vendored_protobuf():
    """Put the vendored pure-python protobuf on PYTHONPATH — but ONLY
    when the environment has none installed — so Spark's python
    WORKERS can import it (their interpreter also auto-imports the
    shim's ``sitecustomize``, which relaxes the gencode/runtime
    known-skew gate; see third_party/protobuf/README.md). Must run
    BEFORE the first SparkSession: workers inherit the JVM's
    environment, which is captured at gateway launch.

    Returns True when the vendor dir was (or already is) exported.

    The mutation is deliberately process-wide and NOT restored after
    gateway launch: transformWithState's driver-side state-protocol
    worker is spawned with the CURRENT process environment at query
    start (restoring PYTHONPATH post-launch crashes it — measured),
    and lazily-forked python daemons need it too. The side effect on
    unrelated child processes — the vendor's ``sitecustomize.py``
    would shadow a real one (only the first on sys.path loads) — is
    defused inside the shim itself: it CHAINS to the next
    sitecustomize it finds on sys.path after patching (see
    third_party/protobuf/sitecustomize.py).
    """
    try:
        import google.protobuf  # noqa: F401

        return False  # a real install exists; never shadow it
    except ImportError:
        pass
    if not (_VENDORED_PROTOBUF / "google" / "protobuf").is_dir():
        return False
    _export_pythonpath(str(_VENDORED_PROTOBUF))
    return True


def get_spark(
    app_name: str = "kaj_query_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the local harness; on a real cluster, pass ``None`` via
    spark-submit and let the cluster manager decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    vendor_exported = _export_vendored_protobuf()
    # the workers import this package (the codec and streaming UDFs,
    # the worker daemon below) from where the driver imported it, not
    # from whatever the driver's cwd happens to be
    _export_pythonpath(str(_PACKAGE_ROOT), first=True)
    pre_existing = SparkSession.getActiveSession()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the driver fixtures store TIMESTAMP(NANOS), which Spark rejects
        # by default; read as long and let the catalog convert (catalog.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixtures may also arrive as timestamp[us] NTZ-annotated; the
        # classic TIMESTAMP type (wall-clock-identical under the UTC
        # session) keeps unix_micros()/watermarks analyzable (catalog.py
        # re-asserts this per read for driver-supplied sessions)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # runtime bloom-filter pushdown: when a selective build side of
        # a shuffle join can't be broadcast, inject its key bloom filter
        # into the probe-side SCAN — at 100 TB this skips whole row
        # groups of the fact table that a BHJ threshold can't touch
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    # cluster-mode executors don't inherit the driver process env, and
    # a local gateway launched before this call captured an older one:
    # ship the exported PYTHONPATH to the workers explicitly
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
    )
    if master == "local" or master.startswith("local["):
        # workers import the installed pyspark instead of Spark's zip
        # (see worker_daemon.py); local only, where the package root
        # exported above is on the daemon's path for certain
        builder = builder.config(
            "spark.python.daemon.module", "kaj_query_engine_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if vendor_exported and pre_existing is not None:
        # the EXECUTOR-side python daemons capture their env from the
        # JVM at gateway launch: an export landing after that reaches
        # the driver-side TWS worker but not the executors' — warn
        # instead of letting a streaming worker die on a raw
        # ModuleNotFoundError mid-query
        import warnings

        warnings.warn(
            "vendored protobuf was exported AFTER the Spark gateway "
            "launched (a SparkSession already existed): "
            "transformWithStateInPandas executor workers may not see "
            "it and can fail with ModuleNotFoundError. Create the "
            "session via get_spark() first, or install protobuf.",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
