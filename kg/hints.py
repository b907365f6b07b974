"""Plan-shape hints gated on evidence instead of hope.

An explicit ``F.broadcast`` OVERRIDES Catalyst's size check: on a table
that later outgrows the executor broadcast budget the job OOMs instead of
degrading to a shuffle join.  The reference never has this problem (its
sink client streams documents); the Spark mapping must therefore gate
every broadcast hint on an actual size estimate and otherwise leave the
decision to Catalyst + AQE, whose runtime re-plan converts a sort-merge
join back to broadcast when the built side turns out small.

Two gates:

* ``maybe_broadcast`` — uses Catalyst's own optimized-plan statistics:
  file-backed plans report real bytes, and checkpoints/UDF stages
  propagate their child's estimate (SPARK-39834), so the gate sees what
  auto-broadcast would see — just with this module's explicit budget.
  Plans with NO estimate (raw-RDD lineage reports the
  ``spark.sql.defaultSizeInBytes`` Long.Max sentinel) get NO hint and
  AQE decides.
* ``broadcast_if_small`` — for tables whose Catalyst estimate mistrusts
  the caller less than the caller mistrusts it: gates on an exact row
  count the caller already paid for (e.g. over localCheckpoint blocks)
  times a documented bytes-per-row model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# conservative executor broadcast budget: well under the 8 GB hard limit
# and the default 10 MB auto threshold × a healthy margin for the
# vocabulary tables this repo broadcasts (entity_map, mention embeddings)
DEFAULT_MAX_BYTES = 64 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan, or None when the
    estimate is unavailable/unknown.  "Unknown" includes the
    defaultSizeInBytes sentinel (Long.Max-ish) that in-memory relations
    and post-UDF plans report."""
    try:
        # py4j maps scala.math.BigInt to a Python int
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # defaultSizeInBytes is Long.MaxValue; anything absurdly large is the
    # "no statistics" sentinel rather than a real estimate
    if size < 0 or size >= (1 << 62):
        return None
    return size


def maybe_broadcast(df: DataFrame, max_bytes: int = DEFAULT_MAX_BYTES) -> DataFrame:
    """Broadcast hint iff Catalyst's size estimate proves the side small.

    Unknown or over-budget size → the DataFrame is returned UNHINTED and
    the join strategy is left to Catalyst/AQE (shuffle join at worst) —
    the scale-safe failure mode, vs the unconditional hint's OOM."""
    size = plan_size_bytes(df)
    if size is not None and size <= max_bytes:
        return F.broadcast(df)
    return df


def spread_to_slots(df: DataFrame) -> DataFrame:
    """Repartition UP to the task-slot count when the input arrives
    coarser — for compute-bound per-row stages (signature projections,
    shingling, Arrow UDFs) that a compact parquet input would otherwise
    serialize onto one core (a small file is ONE split).  At real scale
    inputs have more splits than slots and this is a no-op, so no
    gratuitous corpus shuffle.

    The width probe (``df.rdd``) is only taken on shuffle-free plans: on
    a plan containing an Exchange, materializing the RDD under AQE
    executes every upstream query stage just to read a partition count —
    and the repartitioned plan would then run them all AGAIN.  Such
    plans already own shuffle-partition-count parallelism downstream of
    their exchange, so they pass through unhinted."""
    try:
        plan = df._jdf.queryExecution().sparkPlan().toString()
    except Exception:
        return df
    if "Exchange" in plan:
        return df
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df


def broadcast_if_small(
    df: DataFrame, row_count: int, bytes_per_row: int
) -> DataFrame:
    """Broadcast hint iff ``row_count × bytes_per_row`` fits
    ``DEFAULT_MAX_BYTES`` (read at call time).  For materialized
    DataFrames whose Catalyst stats are unknown (e.g. a localCheckpoint'd
    mapInPandas result) — the caller supplies the row count it already
    paid for."""
    if row_count * bytes_per_row <= DEFAULT_MAX_BYTES:
        return F.broadcast(df)
    return df


_INFER_GEN_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def exclude_generate_filter_inference(spark) -> None:
    """Exclude Catalyst's ``InferFiltersFromGenerate`` rule (idempotent).

    The rule adds ``size(e) > 0 AND isnotnull(e)`` above every
    ``explode(e)``; ``PushDownPredicates`` then pushes that filter below
    the projections that bound ``e``'s building blocks as attributes,
    substituting the full expression chain back in — the array is
    recomputed twice in the filter, and any tokenizer-style expression
    re-captured inside a higher-order-fn lambda is re-evaluated PER
    ELEMENT again (the exact O(L) → O(L²) rot the attribute-binding
    discipline in ``kg.ops.text.winnow_fingerprints`` /
    ``kg.ops.curate._gram_hashes`` exists to prevent).  Measured on the
    13-gram pass: 10-20 s → 2.2 s at sf0.1, identical output.

    What the rule buys — pruning empty-array rows before the generate —
    is a no-op for this repo's plans (``explode`` with outer=false
    already skips them; no source pruning ever hangs off these filters),
    so every op that explodes an HOF-built array calls this before
    returning its plan.  Runtime-settable conf; results are bit-identical
    either way.
    """
    cur = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    if not cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", _INFER_GEN_RULE)
    elif _INFER_GEN_RULE not in cur:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules", cur + "," + _INFER_GEN_RULE
        )
