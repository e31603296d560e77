"""Training-data mixing operators: deterministic stratified sampling
and token-budget shard packing.

The two export-side steps a corpus pipeline runs after curation:

* :func:`deterministic_sample` — per-stratum keep rates (the "data
  mixing" weights of C4/Pile/Dolma recipes) applied with a HASH of the
  row key, not a RNG: the same row is kept or dropped on every run, on
  every engine, at any parallelism — reproducible corpus builds and an
  exact DuckDB oracle. Spark's own ``sampleBy`` is seeded-RNG and
  partition-order dependent; hash gating is the published fix
  (e.g. CCNet's deterministic head/middle/tail split by paragraph hash).
* :func:`pack_shards` — assign rows to fixed-token-budget training
  shards in a deterministic global order WITHOUT a single-partition
  global window. Distributed exclusive prefix sum: contiguous
  order-key range buckets -> bucket-local window cumsum (parallel) ->
  n_buckets-row driver collect of bucket totals -> broadcast offsets
  join. At 100 TB the only driver traffic is one row per bucket.

All hashing is md5-based (repo convention) so the DuckDB oracle
reproduces values bit-for-bit; swap for xxhash64 in production.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: 2^32 — hash_fraction denominator
_U32 = 4294967296.0


def hash_fraction(key: Column) -> Column:
    """Uniform-ish [0, 1) fraction from the first 8 hex chars of
    md5(key) — deterministic across engines and runs."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(_U32)
    )


def deterministic_sample(
    df: DataFrame,
    rates: DataFrame | dict,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Keep each row iff hash_fraction(salt || key) < its stratum's
    rate. ``rates`` is a tiny (stratum, rate) dim (dict accepted) —
    broadcast, never shuffled against the corpus. A stratum with no
    rate row keeps everything (rate 1.0). ``salt`` decorrelates
    independent sampling passes over the same keys."""
    spark = df.sparkSession
    if isinstance(rates, dict):
        rates = spark.createDataFrame(
            list(rates.items()), f"{stratum_col} string, rate double"
        )
    frac = hash_fraction(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return (
        df.join(F.broadcast(rates), stratum_col, "left")
        .filter(frac < F.coalesce(F.col("rate"), F.lit(1.0)))
        .drop("rate")
    )


def pack_shards(
    df: DataFrame,
    weight_col: str,
    budget: int,
    order_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Deterministic shard assignment: in ``order_col`` order, each row
    gets ``cum_before`` = exclusive prefix sum of ``weight_col`` and
    ``shard_id`` = floor(cum_before / budget). A row that straddles a
    budget boundary belongs to the shard its first token lands in.

    The prefix sum is computed with bucket-local windows over
    ``n_buckets`` contiguous slices of the order-key range plus
    broadcast bucket offsets — the global-window single-partition
    bottleneck never appears in the plan. Bucket skew is bounded by the
    order-key distribution (ids: near-uniform); raise n_buckets for
    wider clusters.

    ``order_col`` must be NUMERIC (the bucketing arithmetically splits
    its [min, max] range); a clear TypeError is raised otherwise. For
    a string key, derive a numeric one first — e.g.
    ``df.withColumn("ok", F.xxhash64("doc_id"))`` when any
    deterministic order will do (hash order is stable but arbitrary),
    or a precomputed rank when the pack must follow a semantic order.
    """
    spark = df.sparkSession
    from pyspark.sql import types as T

    dt = df.schema[order_col].dataType
    if not isinstance(dt, (T.NumericType,)):
        raise TypeError(
            f"pack_shards: order_col {order_col!r} has type "
            f"{dt.simpleString()}, but the range bucketing needs a "
            "numeric key — derive one (e.g. F.xxhash64(col) for an "
            "arbitrary stable order, or a rank column) and pass it "
            "as order_col."
        )
    lo_hi = df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ).first()
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    out_cols = [*df.columns, "cum_before", "shard_id"]
    if lo is None:
        return df.select(
            "*",
            F.lit(None).cast("long").alias("cum_before"),
            F.lit(None).cast("long").alias("shard_id"),
        )
    width = max(1, (int(hi) - int(lo)) // n_buckets + 1)
    bucketed = df.withColumn(
        "_bucket", F.floor((F.col(order_col) - F.lit(int(lo))) / F.lit(width))
    )
    w = Window.partitionBy("_bucket").orderBy(order_col)
    local = bucketed.withColumn(
        "_cum_incl", F.sum(F.col(weight_col).cast("long")).over(w)
    )
    totals = (
        bucketed.groupBy("_bucket")
        .agg(F.sum(F.col(weight_col).cast("long")).alias("t"))
        .collect()
    )
    acc, offs = 0, []
    for r in sorted(totals, key=lambda r: r["_bucket"]):
        offs.append((r["_bucket"], acc))
        acc += r["t"]
    odf = spark.createDataFrame(offs, "_bucket long, _off long")
    cum_before = F.col("_off") + F.col("_cum_incl") - F.col(weight_col).cast("long")
    return (
        local.join(F.broadcast(odf), "_bucket")
        .select(
            *df.columns,
            cum_before.alias("cum_before"),
            F.floor(cum_before / F.lit(int(budget))).cast("long").alias("shard_id"),
        )
        .select(out_cols)
    )


def temperature_rates(
    df: DataFrame,
    alpha: float,
    stratum_col: str = "source",
    target_fraction_of_max: float = 1.0,
) -> DataFrame:
    """Temperature-scaled mixture weights over the observed strata —
    the multilingual/multi-source sampling rule of public recipes
    (mBERT/XLM-R exponentiated sampling; Pile/Dolma source upweighting):
    a stratum with share p_i of the corpus is sampled proportionally to
    ``p_i ** alpha``. ``alpha=1`` keeps natural proportions, ``alpha=0``
    is uniform-over-strata, ``0<alpha<1`` flattens head strata and
    boosts the tail.

    Returns a (stratum, n, p, q, rate) dim for
    :func:`deterministic_sample`: ``q`` is the renormalized target
    share and ``rate = q/p`` scaled so the LARGEST rate equals
    ``target_fraction_of_max`` (keep rates are probabilities — you
    can't sample more than you have without replacement, so the
    binding stratum keeps everything and the others downsample
    proportionally).

    One groupBy on the stratum column (map-side combinable); the dim is
    strata-sized, broadcast onward.
    """
    counts = df.groupBy(stratum_col).agg(F.count("*").cast("double").alias("n"))
    tot = counts.agg(F.sum("n").alias("_t"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        "n",
        (F.col("n") / F.col("_t")).alias("p"),
        F.pow(F.col("n") / F.col("_t"), F.lit(float(alpha))).alias("_w"),
    )
    wt = w.agg(F.sum("_w").alias("_wt"))
    q = w.crossJoin(F.broadcast(wt)).select(
        stratum_col, "n", "p", (F.col("_w") / F.col("_wt")).alias("q")
    )
    rmax = q.agg(F.max(F.col("q") / F.col("p")).alias("_rmax"))
    return q.crossJoin(F.broadcast(rmax)).select(
        stratum_col,
        "n",
        "p",
        "q",
        (
            (F.col("q") / F.col("p")) / F.col("_rmax")
            * F.lit(float(target_fraction_of_max))
        ).alias("rate"),
    )
