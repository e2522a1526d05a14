"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting (`session.py` turns it on) handles most
skew at runtime by splitting oversized shuffle partitions. Salting is
the *plan-level* complement for the cases AQE can't fix:

- a hot GROUP BY key whose single reducer becomes the straggler
  (AQE can split a partition, not a key);
- a broadcast-ineligible join with a few pathological keys.

Both helpers keep results exactly equal to the unsalted plan — the
salt only changes physical distribution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[Column, Column, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation over a salted key.

    ``aggs`` is a list of (partial_agg_col, final_agg_expr_builder
    applied to the partial column name, output name) triples expressed
    as (partial Column, final Column over the partial alias, name):
    stage 1 aggregates per (keys, salt) — hot keys spread over
    ``salt_buckets`` reducers — stage 2 combines the per-salt partials
    (a shuffle of |keys| x salt_buckets rows, tiny by construction).

    Only algebraic aggregates decompose this way (SUM/COUNT/MIN/MAX —
    AVG as SUM+COUNT); that is exactly the set the reference engine
    supports (``/root/reference/src/qp/utils/AggregateAttribute.java``).
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partials = salted.groupBy(*keys, "_salt").agg(
        *[p.alias(f"_p_{name}") for p, _f, name in aggs]
    )
    return partials.groupBy(*keys).agg(
        *[f(F.col(f"_p_{name}")).alias(name) for _p, f, name in aggs]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the LEFT side's hot keys spread across
    ``salt_buckets`` partitions; the RIGHT side is replicated
    ``salt_buckets``× (explode) so every salted left row still meets
    its matches.

    Use when the right side is too big to broadcast but small enough
    to replicate B× — i.e., skew concentrated on the left. Join key
    becomes (key, salt): no reducer receives more than ~1/B of a hot
    key.

    Only ``inner``/``left``/``left_semi``/``left_anti`` preserve the
    unsalted result: any right-preserving join would emit each right
    replica's unmatched row B times.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got {how!r}"
        )
    salted_left = left.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated_right = right.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    out = salted_left.join(replicated_right, [key, "_salt"], how)
    return out.drop("_salt")


def spread_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition ``df`` by ``id_col`` into max(cluster
    parallelism, input file count) partitions, before a per-row
    compute that dwarfs the scan (tokenize, shingle, md5 per gram).

    A fixture-sized parquet file arrives as ONE scan split and would
    serialize that compute on one core. The count is pinned: a bare
    ``repartition(col)`` leaves the choice to AQE, which coalesces a
    tiny-bytes shuffle back to one partition. The file-count floor
    keeps a 100 TB corpus (far more splits than cores) from being
    squeezed DOWN to core count and ballooning per-task output.
    ``inputFiles()`` only walks the logical plan; ``df.rdd`` would
    compile the physical plan and, for a post-shuffle input, report
    the shuffle-partition setting instead. Results never depend on
    the spread: every caller's output is partitioning-invariant.
    """
    sc = df.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, len(df.inputFiles()))
    return df.repartition(n_parts, F.col(id_col))
