"""Mergeable frequency sketches for high-cardinality columns
(training-pipeline extension; no reference analogue — dask-expr's
value_counts (_reductions.py) always shuffles the full distinct
domain).

At 100 TB a token / url / key column can hold billions of distinct
values; `groupBy(col).count()` shuffles that entire domain just to
find the handful of frequent ones.  `heavy_hitters` runs the classic
two-pass plan instead: a map-only Misra-Gries summary bounds the
candidate set to ceil(1/phi) values per partition, and a second scan
recounts only those candidates — both passes shuffle at most a few
thousand rows regardless of the domain size, and the result is EXACT
(guaranteed superset at pass 1, exact counts + exact threshold at
pass 2), so it oracles against plain `GROUP BY ... HAVING`.
"""

from __future__ import annotations

import functools
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def heavy_hitters(df: DataFrame, col: str, phi: float,
                  candidates_per_partition: int | None = None) -> DataFrame:
    """All values of `col` whose frequency strictly exceeds
    ``phi * n`` (n = number of non-null values), with EXACT counts.
    Returns a DataFrame ``(value, freq)``.

    Plan (two scans, no wide shuffle):

    - pass 1 — map-only, Arrow-batched ``mapInPandas``: each partition
      keeps a Misra-Gries summary with ``m = ceil(1/phi)`` counters
      (pandas value_counts per batch, merged into the summary; when the
      summary exceeds m entries, the (m+1)-th largest count is
      subtracted from every counter and non-positive entries dropped —
      the standard mergeable reduction, total decrement ≤ n_p/m).
      Guarantee by pigeonhole: if a value's GLOBAL frequency exceeds
      phi·n = n/m then in at least one partition its local frequency
      exceeds n_p/m, so it survives that partition's summary.  The
      union of partition summaries is therefore a superset of every
      global heavy hitter.  Each partition also emits one marker row
      carrying its non-null row count so the total n needs no extra
      scan.
    - pass 2 — exact recount restricted to the candidates: candidates
      and total n are folded into one single-row aggregate, exploded,
      and broadcast as an equality-join filter (≡ semi join, keys are
      distinct — and n rides along to the HAVING filter for free); the
      surviving rows are counted per value (map-side partial
      aggregation collapses them before the tiny exchange) — no
      driver-side action and no cached intermediate anywhere.

    False positives from pass 1 are removed by pass 2's exact filter;
    false negatives cannot occur (the superset guarantee), so the
    output equals ``GROUP BY col HAVING count(*) > phi * n`` exactly.

    NULLs are ignored (they are not a "value"); n counts non-nulls.
    `candidates_per_partition` overrides m for a wider pass-1 net
    (never needed for correctness — only if you want the pass-1
    summary reusable at a smaller phi).  It is clamped to at least
    ceil(1/phi): a smaller m would void pass 1's superset guarantee
    and silently break the EXACT contract.
    """
    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    m = max(candidates_per_partition or 0, math.ceil(1.0 / phi))
    spark_type = df.schema[col].dataType
    # reserved-ish names so a source column called "val"/"n_part"
    # can't alias into the candidate join (the summary frame never
    # meets the source frame except through the semi-join condition)
    out_schema = T.StructType([
        T.StructField("__hh_val", spark_type),
        T.StructField("__hh_n", T.LongType()),
    ])

    def _mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            s = pdf[col].dropna()
            n_part += len(s)
            vc = s.value_counts()
            counters = (
                vc if counters.empty
                else pd.concat([counters, vc]).groupby(level=0).sum()
            )
            if len(counters) > m:
                # subtract the (m+1)-th largest count from everything;
                # ≤ m entries stay strictly positive
                t = counters.nlargest(m + 1).iloc[-1]
                counters = counters - t
                counters = counters[counters > 0]
        out = pd.DataFrame({"__hh_val": counters.index, "__hh_n": 0})
        marker = pd.DataFrame({"__hh_val": [None], "__hh_n": [n_part]})
        yield pd.concat([out, marker], ignore_index=True)

    summary = df.select(col).mapInPandas(_mg, schema=out_schema)
    # fold candidates + total into ONE single-row aggregate so the
    # summary subtree has exactly one consumer — no cache to leak
    # (round-5 advice: the old two-consumer .cache() pinned executor
    # storage for the session) and still one pass-1 scan per action.
    # collect_set drops the null marker values; the total sums the
    # marker rows (candidate rows carry __hh_n = 0).
    one = summary.agg(
        F.collect_set("__hh_val").alias("__hh_keys"),
        F.sum("__hh_n").alias("__hh_total"))
    keys = one.select(F.explode("__hh_keys").alias("__hh_val"),
                      "__hh_total")
    # inner broadcast join ≡ semi join (keys are distinct) but lets the
    # total ride along to the HAVING filter without a second consumer
    exact = (
        df.join(F.broadcast(keys), df[col] == F.col("__hh_val"), "inner")
        .groupBy(col, "__hh_total")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.where(F.col("freq") > F.lit(float(phi)) * F.col("__hh_total"))
        .select(F.col(col).alias("value"), "freq")
    )


def hll_rollup(df: DataFrame, keys: list[str], col: str,
               lg_k: int = 12) -> DataFrame:
    """Pre-aggregated MERGEABLE distinct-count sketch table: one
    Datasketches HLL sketch (binary column ``hll``) per key group.

    The 100 TB pattern this enables: materialize the rollup ONCE at
    the finest slicing you'll ever query (e.g. per day × source), then
    answer "distinct users over any subset of slices" from the sketch
    table alone — a union-agg over a few thousand binary rows — never
    rescanning the raw corpus.  Plain ``count(DISTINCT)`` can't do
    this because exact distinct counts don't merge; sketches do.
    lg_k=12 → ~2.5% relative standard error at ~4 KB per sketch.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll"))


def hll_estimate(rollup: DataFrame, group_keys: list[str] | None = None) -> DataFrame:
    """Merge a sketch rollup down to `group_keys` (None = one global
    row) and estimate the distinct count (``distinct_est``).  Pure
    sketch-union — cost is proportional to the ROLLUP's row count, not
    the raw data."""
    if group_keys:
        merged = rollup.groupBy(*group_keys).agg(
            F.hll_union_agg(F.col("hll")).alias("hll"))
    else:
        merged = rollup.agg(F.hll_union_agg(F.col("hll")).alias("hll"))
    return merged.withColumn(
        "distinct_est", F.hll_sketch_estimate(F.col("hll")).cast("long")
    ).drop("hll")


def hist_rollup(df: DataFrame, keys: list[str], col: str, bins: int = 128,
                lo: float | None = None, hi: float | None = None) -> DataFrame:
    """Mergeable QUANTILE rollup: per key group, an equi-width histogram
    of `col` over [lo, hi] as a ``hist`` map<int,bigint> (bin → count)
    plus ``lo``/``hi``/``bins`` metadata columns.  Histograms merge by
    bin-count addition, so quantiles over ANY union of slices come from
    the rollup alone (quantile_estimate) with error bounded by one bin
    width — the percentile companion to hll_rollup (exact percentiles,
    like exact distincts, don't merge; histograms do).

    Completes the mergeable sketch-table trio for 100 TB slice
    analytics: distinct counts (hll_rollup), frequent values
    (heavy_hitters), and now quantiles.

    If lo/hi are omitted, one column-pruned min/max pass fixes the
    domain (a 2-value driver round-trip — the same bounded class as
    the ordered ops' bucket sampling).  Values outside [lo, hi] clamp
    into the edge bins; NULLs are skipped.  Plan: one groupBy on
    (keys, bin) with map-side partial counts, then a tiny (keys)-level
    map assembly."""
    c = F.col(col).cast("double")
    if lo is None or hi is None:
        row = df.where(c.isNotNull()).agg(
            F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        if row["lo"] is None or row["hi"] is None:
            raise ValueError(
                f"hist_rollup: column {col!r} has no non-null values, "
                "so lo/hi cannot be inferred — pass explicit bounds")
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if not hi > lo:
        hi = lo + 1.0  # degenerate domain: everything lands in bin 0
    width = (hi - lo) / bins
    bin_ = F.least(F.lit(bins - 1), F.greatest(
        F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")))
    per_bin = (df.where(c.isNotNull())
               .groupBy(*keys, bin_.alias("__bin"))
               .agg(F.count(F.lit(1)).alias("__cnt")))
    return (per_bin.groupBy(*keys)
            .agg(F.map_from_entries(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__bin"), F.col("__cnt"))))).alias("hist"))
            .withColumn("lo", F.lit(float(lo)))
            .withColumn("hi", F.lit(float(hi)))
            .withColumn("bins", F.lit(int(bins))))


def quantile_estimate(rollup: DataFrame, q: float,
                      group_keys: list[str] | None = None) -> DataFrame:
    """Merge a hist_rollup down to `group_keys` (None = one global row)
    and estimate the q-quantile (``q_est``): bin counts are summed
    across slices, the target rank's bin located, and the value
    linearly interpolated inside it — error ≤ one bin width.  Cost is
    proportional to the ROLLUP's rows × bins, never the raw data."""
    exploded = rollup.select(
        *(group_keys or []), "lo", "hi", "bins",
        F.explode(F.col("hist")).alias("__bin", "__cnt"))
    merged = exploded.groupBy(*(group_keys or []), "lo", "hi", "bins",
                              "__bin").agg(F.sum("__cnt").alias("__cnt"))
    gw = (group_keys or []) + ["lo", "hi", "bins"]
    from pyspark.sql.window import Window
    w = Window.partitionBy(*gw).orderBy("__bin")
    cum = merged.withColumn("__cum", F.sum("__cnt").over(w)) \
                .withColumn("__tot", F.sum("__cnt").over(
                    Window.partitionBy(*gw)))
    target = F.lit(float(q)) * F.col("__tot")
    hit = (cum.where(F.col("__cum") >= target)
           .groupBy(*gw).agg(
               F.min_by(F.struct("__bin", "__cnt", "__cum"), F.col("__bin"))
               .alias("__h"),
               F.first("__tot").alias("__tot")))
    width = (F.col("hi") - F.col("lo")) / F.col("bins")
    frac = ((F.lit(float(q)) * F.col("__tot")
             - (F.col("__h.__cum") - F.col("__h.__cnt")))
            / F.col("__h.__cnt").cast("double"))
    est = (F.col("lo") + (F.col("__h.__bin") + frac) * width)
    return hit.select(*(group_keys or []),
                      est.alias("q_est"))


def moments_rollup(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Mergeable MOMENTS rollup — the mean/stddev/min/max/null-count
    companion to hll_rollup (distincts) and hist_rollup (quantiles):
    per key group, (n_rows, n, s1, s2, min_v, max_v) where n counts
    non-nulls and s1/s2 are float64 running sums of x and x².  All six
    merge by addition (min/max by min/max), so any slice union's
    moments come from the rollup alone — together the three rollup
    tables answer a full profile_table row without rescanning raw data
    (quality.profile_from_rollups).  One aggregation, map-side
    partial."""
    c = F.col(col).cast("double")
    return (df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count(c).alias("n"),
                 F.sum(c).alias("s1"),
                 F.sum(c * c).alias("s2"),
                 F.min(c).alias("min_v"),
                 F.max(c).alias("max_v")))


def moments_merge(rollup: DataFrame,
                  group_keys: list[str] | None = None) -> DataFrame:
    """Merge a moments_rollup down to `group_keys` (None = one global
    row): counts and power sums add, min/max fold — cost proportional
    to the ROLLUP's rows, never the raw data."""
    gk = list(group_keys or [])
    return (rollup.groupBy(*gk)
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("n").alias("n"),
                 F.sum("s1").alias("s1"),
                 F.sum("s2").alias("s2"),
                 F.min("min_v").alias("min_v"),
                 F.max("max_v").alias("max_v")))


def psi_drift(roll_a: DataFrame, roll_b: DataFrame,
              group_keys: list[str] | None = None,
              eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between two hist_rollup tables with
    the SAME (lo, hi, bins) domain — the standard train/serve or
    day-over-day distribution-drift score, answered from the sketch
    tables alone (raw data never re-read; the drift companion to
    quantile_estimate).

    Bin counts on each side merge by addition (fragment rollups fine),
    normalize to shares, and PSI = Σ (p_a − p_b)·ln(p_a / p_b) over
    bins with `eps` flooring for empty bins.  Rule-of-thumb reading:
    < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 major shift.
    Returns (group_keys…, psi, n_a, n_b)."""
    gk = list(group_keys or [])

    def merged(roll, tag):
        return (roll.select(*gk, "lo", "hi", "bins",
                            F.explode("hist").alias("__bin", "__cnt"))
                .groupBy(*gk, "lo", "hi", "bins", "__bin")
                .agg(F.sum("__cnt").alias(f"__c{tag}")))

    a = merged(roll_a, "a")
    b = merged(roll_b, "b")
    from pyspark.sql.window import Window

    j = a.join(b, gk + ["lo", "hi", "bins", "__bin"], "full_outer") \
        .fillna({"__ca": 0, "__cb": 0})
    w = Window.partitionBy(*(gk + ["lo", "hi", "bins"]))
    j = (j.withColumn("__na", F.sum("__ca").over(w))
         .withColumn("__nb", F.sum("__cb").over(w)))
    pa = F.greatest(F.col("__ca") / F.col("__na"), F.lit(float(eps)))
    pb = F.greatest(F.col("__cb") / F.col("__nb"), F.lit(float(eps)))
    term = (pa - pb) * F.log(pa / pb)
    return (j.groupBy(*gk)
            .agg(F.sum(term).alias("psi"),
                 F.first("__na").alias("n_a"),
                 F.first("__nb").alias("n_b"))
            .select(*gk, "psi",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b")))


# ---------------------------------------------------------------------------
# md5-derived hashing shared by the deterministic sketches below.  Like
# md5_token_hash (dedup.py), the 60-bit value is exactly reproducible in
# DuckDB as ('0x' || substr(md5(s), 1, 15))::BIGINT, which makes every
# estimate these sketches produce HASH-EXACT oracle-checkable, not just
# tolerance-checkable.
# ---------------------------------------------------------------------------

def _md5_long(*parts) -> Column:
    """60-bit uniform hash of ':'-joined string parts (non-negative)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", *parts)), 1, 15), 16, 10
    ).cast("long")


# ---------------------------------------------------------------------------
# Count-min sketch rollup (mergeable FREQUENCY sketch — the point-lookup
# companion to hll_rollup/hist_rollup).  No reference analogue: dask-expr's
# value_counts (_reductions.py:903) always shuffles the full distinct
# domain.
# ---------------------------------------------------------------------------

def cms_rollup(df: DataFrame, keys: list[str], col: str,
               width: int = 2048, depth: int = 4,
               seed: str = "cm") -> DataFrame:
    """Pre-aggregated MERGEABLE count-min sketch table: per key group, a
    sparse depth×width counter grid (map<int,long> keyed d*width+bucket)
    plus the group's row count ``n``.

    The 100 TB pattern: sketch the corpus ONCE at the finest slicing,
    then answer "how often does token/url/key X occur in any slice
    subset" from the sketch table alone — estimates never UNDER-count,
    and over-count ≤ e/width · n with prob 1-(1/2)^depth.  The groupBy
    on (keys, d, bucket) has map-side partial agg, so each partition
    ships at most depth×width cells regardless of row count.  NULLs are
    skipped (the hist_rollup convention).  Buckets are md5-derived, so
    estimates are engine-exact reproducible (oracle: cms_custkey_counts).
    """
    v = F.col(col).cast("string")
    # pre-aggregate counts per (group, value) BEFORE exploding depths
    # (guide §2.3 "aggregate before you shuffle" applied to the hash,
    # not the bytes): the md5 bucket depends only on (d, value), so
    # hashing each distinct value once per depth instead of each ROW
    # once per depth divides the dominant md5 cost by the value
    # repetition factor — the normal regime for a FREQUENCY sketch
    # (x100 custkey rollup: 3.9x repetition, cells bit-identical,
    # ~25% faster end-to-end).  Near-unique domains pay one extra
    # narrow shuffle, but a frequency sketch over unique values is
    # degenerate anyway (every estimate ~1).
    vc = (df.where(v.isNotNull())
          .groupBy(*keys, v.alias("__v"))
          .agg(F.count(F.lit(1)).alias("__n")))
    rows = (vc.select(*keys, "__v", "__n",
                      F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
                      .alias("__d")))
    b = F.pmod(_md5_long(F.lit(seed), F.col("__d").cast("string"),
                         F.col("__v")), F.lit(width))
    cells = (rows.select(*keys, "__d", b.alias("__b"), "__n")
             .groupBy(*keys, "__d", "__b")
             .agg(F.sum("__n").alias("__c")))
    return (cells.groupBy(*keys)
            .agg(F.map_from_entries(F.array_sort(F.collect_list(F.struct(
                (F.col("__d") * width + F.col("__b")).cast("int").alias("k"),
                F.col("__c").alias("v"))))).alias("cms"),
                (F.sum("__c") / depth).cast("long").alias("n"))
            .withColumn("width", F.lit(width))
            .withColumn("depth", F.lit(depth)))


def cms_merge(rollup: DataFrame, group_keys: list[str] | None = None) -> DataFrame:
    """Merge a cms_rollup down to `group_keys` (None = one global row):
    cells add element-wise, totals add — cost proportional to the
    ROLLUP (rows × ≤ depth·width cells), never the raw data."""
    gk = list(group_keys or [])
    # the row total rides the FIRST exploded cell of each rollup row
    # (pos == 0), so totals re-aggregate alongside the cells without a
    # join — a join back on the literal width/depth columns would
    # constant-fold into a nested-loop plan
    ex = rollup.select(*gk, "width", "depth", "n",
                       F.posexplode("cms").alias("__p", "__k", "__v"))
    cells = (ex.groupBy(*gk, "width", "depth", "__k")
             .agg(F.sum("__v").alias("__v"),
                  F.sum(F.when(F.col("__p") == 0, F.col("n"))
                        .otherwise(F.lit(0))).alias("__n")))
    return (cells.groupBy(*gk, "width", "depth")
            .agg(F.map_from_entries(F.array_sort(F.collect_list(
                F.struct(F.col("__k").alias("k"),
                         F.col("__v").alias("v"))))).alias("cms"),
                 F.sum("__n").alias("n")))


def cms_estimate(rollup: DataFrame, items: DataFrame, item_col: str,
                 group_keys: list[str] | None = None,
                 width: int = 2048, depth: int = 4,
                 seed: str = "cm") -> DataFrame:
    """Point-frequency estimates for an arbitrarily large batch of
    `items` against a cms_rollup: returns (group_keys…, item_col,
    freq_est) with freq_est ≥ the true count always (CMS never
    under-counts) and ≤ true + (e/width)·n w.h.p.

    Plan shape: the merged sketch explodes to ≤ groups × depth·width
    skinny cells and BROADCASTS; items join map-only — so a 100 TB item
    batch is scored against an 8 KB sketch without shuffling the batch.
    `width`/`depth`/`seed` must match the rollup's build parameters
    (they are carried on the rollup for audit; pass them explicitly to
    keep this plan collect-free)."""
    gk = list(group_keys or [])
    cells = (cms_merge(rollup, gk)
             .select(*gk, F.explode("cms").alias("__k", "__v")))
    pr = (items.where(F.col(item_col).isNotNull())
          .select(*gk, F.col(item_col).alias("__item"))
          .distinct()
          .select(*gk, "__item",
                  F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
                  .alias("__d")))
    key = (F.col("__d") * width
           + F.pmod(_md5_long(F.lit(seed), F.col("__d").cast("string"),
                              F.col("__item").cast("string")),
                    F.lit(width))).cast("int")
    j = pr.withColumn("__k", key).join(F.broadcast(cells),
                                       gk + ["__k"], "left")
    return (j.groupBy(*gk, "__item")
            .agg(F.min(F.coalesce(F.col("__v"), F.lit(0))).alias("freq_est"))
            .select(*gk, F.col("__item").alias(item_col), "freq_est"))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the INTERSECTION-capable
# companion to hll_rollup.  HLL sketches union cleanly but cannot
# intersect; KMV supports |A ∩ B| estimates via the union sketch's
# inclusion fraction, which is what "how many users/docs appear in BOTH
# slices" needs at 100 TB without a distinct-domain shuffle per question.
# ---------------------------------------------------------------------------

_KMV_SPACE = float(2 ** 60)  # md5-60bit hashes are uniform on [0, 2^60)


def kmv_rollup(df: DataFrame, keys: list[str], col: str, k: int = 128,
               seed: str = "kmv") -> DataFrame:
    """Per key group, the k smallest distinct 60-bit md5 hashes of
    `col` as a sorted array (plus ``k`` for the estimator).  Build is
    two-phase so the shuffle is bounded: a map-only per-partition prune
    keeps ≤ k distinct hashes per (group, partition) — the Misra-Gries
    pattern — then one groupBy collects ≤ k × npartitions values and
    slices the k smallest.  Deterministic (md5), so every downstream
    estimate is engine-exact reproducible."""
    hcol = _md5_long(F.lit(seed), F.col(col).cast("string"))
    rows = df.where(F.col(col).isNotNull()).select(*keys, hcol.alias("__h"))
    fields = [rows.schema[kname] for kname in keys]
    schema = T.StructType(fields + [T.StructField("__h", T.LongType())])
    kk, key_names = int(k), list(keys)

    def _prune(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                yield pdf
                continue
            pdf = pdf.drop_duplicates().sort_values("__h")
            if key_names:
                pdf = pdf.groupby(key_names, dropna=False,
                                  sort=False).head(kk)
            else:
                pdf = pdf.head(kk)
            yield pdf

    pruned = rows.mapInPandas(_prune, schema=schema)
    return (pruned.groupBy(*keys)
            .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, kk)
                 .alias("kmv"))
            .withColumn("k", F.lit(kk)))


def _kmv_est(arr, k_col) -> Column:
    """Distinct estimate from a sorted KMV array: exact size when the
    sketch is unsaturated (the array IS the distinct domain), else the
    classic (k-1)/U_(k) with hashes uniform on [0, 2^60).  floor() so
    both engines produce the identical integer."""
    size_ = F.size(arr)
    # try_element_at: the unsaturated branch leaves index k out of
    # bounds, and ANSI mode (session default) makes element_at throw
    hk = F.try_element_at(arr, k_col).cast("double")
    return F.when(size_ < k_col, size_.cast("long")).otherwise(
        F.floor((k_col.cast("double") - 1.0) * F.lit(_KMV_SPACE) / hk)
        .cast("long"))


def kmv_merge(rollup: DataFrame, group_keys: list[str] | None = None) -> DataFrame:
    """Merge a kmv_rollup down to `group_keys` (None = one global row):
    union the hash arrays, keep the k smallest distinct — pure JVM
    array ops over rows bounded by k × slices."""
    gk = list(group_keys or [])
    merged = (rollup.groupBy(*gk, "k")
              .agg(F.flatten(F.collect_list("kmv")).alias("__all")))
    return merged.select(
        *gk, "k",
        F.slice(F.array_sort(F.array_distinct("__all")), 1, F.col("k"))
        .alias("kmv"))


def kmv_estimate(rollup: DataFrame,
                 group_keys: list[str] | None = None) -> DataFrame:
    """Merge and estimate the distinct count (``distinct_est``)."""
    merged = kmv_merge(rollup, group_keys)
    return merged.select(*(group_keys or []),
                         _kmv_est(F.col("kmv"), F.col("k"))
                         .alias("distinct_est"))


def kmv_intersect(roll_a: DataFrame, roll_b: DataFrame,
                  group_keys: list[str] | None = None) -> DataFrame:
    """|A ∩ B| estimate from two KMV rollups (same k/seed): the union
    sketch K = k smallest of A ∪ B, ρ = fraction of K's values present
    in both sides' sketches, est = ρ · est(K) — the standard KMV
    inclusion-exclusion (Beyer et al., SIGMOD'07).  When K is
    unsaturated both sides' sketches are their FULL domains and the
    answer is exact.  A group present in only ONE rollup intersects
    empty: inter_est = 0 and union_est = the present side's estimate
    (the absent side's sketch coalesces to an empty array).  Returns
    (group_keys…, inter_est, union_est)."""
    gk = list(group_keys or [])
    # union + one aggregation instead of a join: a join on the literal
    # sketch-parameter column k would constant-fold its condition and
    # compile to a nested-loop plan
    a = kmv_merge(roll_a, gk).withColumn("__side", F.lit("a"))
    b = kmv_merge(roll_b, gk).withColumn("__side", F.lit("b"))
    empty = F.array().cast("array<bigint>")
    j = (a.unionByName(b)
         .groupBy(*gk, "k")
         .agg(F.coalesce(
                  F.first(F.when(F.col("__side") == "a", F.col("kmv")),
                          ignorenulls=True), empty).alias("__a"),
              F.coalesce(
                  F.first(F.when(F.col("__side") == "b", F.col("kmv")),
                          ignorenulls=True), empty).alias("__b")))
    u = F.slice(F.array_sort(F.array_distinct(
        F.concat(F.col("__a"), F.col("__b")))), 1, F.col("k"))
    j = j.withColumn("__u", u)
    rho = F.size(F.array_intersect(F.array_intersect("__u", "__a"), "__b"))
    union_est = _kmv_est(F.col("__u"), F.col("k"))
    inter_est = F.floor(rho.cast("double") / F.size("__u").cast("double")
                        * union_est.cast("double")).cast("long")
    return j.select(*gk, inter_est.alias("inter_est"),
                    union_est.alias("union_est"))


# ---------------------------------------------------------------------------
# Sharded Bloom-filter index (mergeable MEMBERSHIP sketch) — the
# prefilter that keeps incremental dedup map-only for mostly-novel
# batches.  No reference analogue (dask-expr has no membership
# structure); Spark's own df.stat.bloomFilter collects the filter to
# the driver, which caps it at driver memory — this one lives in the
# cluster as S bitmap rows and probes via a broadcast hash join.
# ---------------------------------------------------------------------------

_LN2 = math.log(2.0)

# Hash-algorithm stamp persisted in every index/segment row.  The
# on-disk schema otherwise carries no hash identifier, so a bloom
# built under a previous hash family (md5 before round 10) would be
# probed with xxhash64 positions and return FALSE for present keys —
# a silent no-false-negative violation that lets partition movers and
# duplicates through.  Readers (maintenance.read_key_bloom /
# bloom_append_snapshot) refuse or rebuild when the
# stamp is missing or mismatched instead of probing with the wrong
# hash (ADVICE r10).
BF_HASH = "xxh64"


def _bf_shard(key: Column, seed: str, num_shards: int) -> Column:
    """Shard assignment hash.  xxhash64, not md5: the bloom is the one
    sketch family whose oracles never reproduce its bits in SQL (every
    bloom query pins the ANSWER, which false positives cannot change),
    so it can use the native codegen hash — measured 5x cheaper per
    position than the md5+conv path, which matters at k hashes per key
    (OPTIMIZATION_r10.md).  CMS/KMV/hist keep md5: their oracles
    recompute the exact cells in DuckDB."""
    return F.pmod(F.xxhash64(F.lit(seed + ":s"), key),
                  F.lit(num_shards))


def _bf_pos(key: Column, j: Column, seed: str, m_shard: int) -> Column:
    """Bit position of hash j — MUST stay identical between
    bloom_index and bloom_probe (the no-false-negative contract)."""
    return F.pmod(F.xxhash64(F.lit(seed), j, key), F.lit(m_shard))


def _bf_mask(pos: Column) -> Column:
    """Single-bit word mask for a position (shiftleft beats the old
    pow(2.0, x) double round-trip)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"),
                           F.pmod(pos, F.lit(32)).cast("int"))


def bloom_index(df: DataFrame, key_col: str, fpp: float = 0.01,
                expected: int | None = None,
                num_shards: int | None = None,
                seed: str = "bf",
                params: tuple[int, int, int] | None = None) -> DataFrame:
    """Build a sharded Bloom filter over `key_col`: one row per shard
    with a bitmap packed as array<long> of 32-bit words (32-bit chunks
    so the probe's bit test stays in exact pure-JVM double/long math —
    no Python UDF).  Bits and hash count are sized from `expected` (or
    one count() — the bounded-eager class the LSH auto-sizing already
    uses) for the target false-positive rate; shards bound each bitmap
    row to ≤ 2 MiB so a billion-key index is just more 2 MiB rows.

    NO FALSE NEGATIVES ever (a present key always probes true), which
    is what makes the dedup prefilter answer-preserving.  Mergeable:
    bloom_fold_segments ORs same-parameter indexes — the
    incremental-ingest append path.  Hashes are xxhash64-derived
    (deterministic in-engine; no oracle reproduces bloom BITS — they
    pin answers, which the no-false-negative contract keeps
    hash-independent).
    `params` = (m_bits, k, shards) copied from an EXISTING index row
    builds a merge-compatible delta index directly, skipping the
    sizing math and its count().
    Returns columns (shard, words, m_bits, k, shards)."""
    if params is not None:
        m_shard, k, num_shards = (int(x) for x in params)
    else:
        if expected is not None:
            n = max(int(expected), 1)
        else:
            # auto-sizing floor: a bloom sized to exactly today's key
            # count saturates after a few incremental appends
            # (a streaming sink's first micro-batch would size
            # the index for that batch alone).  64Ki keys ≈ 78 KB —
            # free headroom for small sets; large sets dwarf the floor
            # and stay sized as counted.  Explicit `expected` is the
            # caller's contract and is never floored.
            n = max(df.where(F.col(key_col).isNotNull()).count(),
                    1 << 16)
        # wide-m / half-k sizing: HALF the information-optimal hash
        # count, with m re-solved exactly for the same design fpp
        # ((1-e^(-kn/m))^k = fpp).  Costs ~1.2x bits but halves the
        # per-key work everywhere it is linear in k — the k-way explode
        # at build, the shuffle rows feeding the cells agg, and the
        # k-element probe loop (guide §2.3: shuffle fewer bytes).
        # Measured on the 1.5M-key x10 index at fpp=1e-6: build 8.7 ->
        # 5.1 s, probe 4.2 -> 2.1 s, merge 3.9 -> 2.4 s.  The design
        # fpp is unchanged, so the FP-rate and no-false-negative
        # contracts (and every oracle answer) hold as before.
        k_opt = max(1, int(round(-math.log(fpp) / _LN2)))
        k = max(1, (k_opt + 1) // 2)
        m_total = int(math.ceil(
            -k * n / math.log(1.0 - fpp ** (1.0 / k))))
        if num_shards is None:
            # ≤ 2^24 bits (2 MiB) per shard bitmap row
            num_shards = max(1, (m_total + (1 << 24) - 1) >> 24)
        m_shard = int(math.ceil(m_total / num_shards / 32.0)) * 32
    nwords = m_shard // 32
    key = F.col(key_col).cast("string")
    rows = (df.where(key.isNotNull())
            .select(key.alias("__key"),
                    F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                    .alias("__j")))
    shard = _bf_shard(F.col("__key"), seed, num_shards)
    pos = _bf_pos(F.col("__key"), F.col("__j"), seed, m_shard)
    bits = rows.select(
        shard.alias("shard"),
        (pos / 32).cast("int").alias("__w"),
        _bf_mask(pos).alias("__m"))
    cells = (bits.groupBy("shard", "__w")
             .agg(F.bit_or("__m").alias("__v")))

    # dense word-array assembly happens in ONE Arrow-batched numpy
    # scatter per shard: a pure-expression alternative (transform over
    # 0..nwords with a map lookup) is O(nwords^2) because Spark's map
    # element_at is a linear scan — measured at x10 corpus scale as a
    # 2.8 s -> 177 s blowup before this fix (SCALE.md)
    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        arr = np.zeros(nwords, dtype=np.int64)
        arr[pdf["__w"].to_numpy()] = pdf["__v"].to_numpy()
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "words": [arr.tolist()]})

    words = cells.groupBy("shard").applyInPandas(
        _pack, schema="shard long, words array<long>")
    return (words
            .withColumn("m_bits", F.lit(m_shard))
            .withColumn("k", F.lit(k))
            .withColumn("shards", F.lit(num_shards))
            .withColumn("hash", F.lit(BF_HASH)))


def bloom_delta_segment(df: DataFrame, key_col: str,
                        params: tuple[int, int, int],
                        seed: str = "bf") -> DataFrame:
    """SPARSE delta segment for an existing index with `params` =
    (m_bits, k, shards): one row per touched shard carrying the SET
    BIT POSITIONS as an array — O(batch·k) values — instead of a
    dense m_bits-wide bitmap whose words are overwhelmingly zero.
    This is what makes LSM-style segment appends
    (maintenance.bloom_append_snapshot) O(batch): a dense delta for a
    10k-row batch over a billion-key index would materialize the full
    gigabyte-scale zero bitmap per commit.  Positions use the exact
    _bf_pos/_bf_shard hashes, so folding a sparse segment into a
    dense bitmap (bloom_fold_segments) yields bit-identical results
    to having indexed the keys directly."""
    m_shard, k, num_shards = (int(x) for x in params)
    key = F.col(key_col).cast("string")
    rows = (df.where(key.isNotNull())
            .select(key.alias("__key"),
                    F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                    .alias("__j")))
    return (rows.select(
        _bf_shard(F.col("__key"), seed, num_shards).alias("shard"),
        _bf_pos(F.col("__key"), F.col("__j"), seed, m_shard)
        .alias("__p"))
        .groupBy("shard")
        .agg(F.collect_list("__p").alias("pos"))
        .withColumn("m_bits", F.lit(m_shard))
        .withColumn("k", F.lit(k))
        .withColumn("shards", F.lit(num_shards))
        .withColumn("hash", F.lit(BF_HASH)))


def bloom_fold_segments(segments: DataFrame) -> DataFrame:
    """Fold any mix of DENSE index rows (`words` bitmaps) and SPARSE
    delta rows (`pos` position arrays) into one dense row per shard —
    the read side of the LSM segment list.  OR is idempotent and
    monotone, so overlapping segments (including a pre-segmentation
    layout's two full versions) fold to exactly the index of the
    union of their key sets.  The scatter runs as one numpy pass per
    shard (the same Arrow-batched shape as the index build's packer):
    a pure-expression fold would be O(nwords·segments) element_at
    scans, and a JVM aggregate(collect_list, zip_with OR) fold was
    A/B-measured 3 s SLOWER on the x10 layout — higher-order
    functions are CodegenFallback, so the per-element lambda
    interprets over the 450k-word arrays while Arrow+numpy runs at
    memory bandwidth (OPTIMIZATION_r10.md negative results)."""
    cols = segments.columns
    has_words = "words" in cols
    has_pos = "pos" in cols

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        nwords = int(pdf["m_bits"].iloc[0]) // 32
        arr = np.zeros(nwords, dtype=np.int64)
        if has_words:
            for w in pdf["words"]:
                if w is not None and len(w):
                    arr |= np.asarray(w, dtype=np.int64)
        if has_pos:
            for p in pdf["pos"]:
                if p is not None and len(p):
                    p = np.asarray(p, dtype=np.int64)
                    np.bitwise_or.at(arr, p >> 5,
                                     np.int64(1) << (p & np.int64(31)))
        return pd.DataFrame({
            "shard": [int(pdf["shard"].iloc[0])],
            "words": [arr.tolist()],
            "m_bits": [int(pdf["m_bits"].iloc[0])],
            "k": [int(pdf["k"].iloc[0])],
            "shards": [int(pdf["shards"].iloc[0])],
            "hash": [BF_HASH]})

    return segments.groupBy("shard").applyInPandas(
        _fold,
        schema="shard long, words array<long>, m_bits int, k int, "
               "shards int, hash string")


def bloom_probe(df: DataFrame, index: DataFrame, key_col: str,
                result_col: str = "maybe_in_index",
                m_bits: int | None = None, k: int | None = None,
                num_shards: int | None = None,
                seed: str = "bf") -> DataFrame:
    """Append `result_col`: False = the key is DEFINITELY absent from
    the indexed set (no false negatives), True = probably present
    (false positives at the index's design fpp).  Map-only: the probe
    broadcasts the S-row bitmap table and evaluates the k bit tests as
    pure column expressions — a 100 TB batch never shuffles.  Pass the
    index's (m_bits, k, num_shards) to keep the plan collect-free;
    omitted, they are read from the index's first row (1-row bounded
    eager job)."""
    if m_bits is None or k is None or num_shards is None:
        row = index.select("m_bits", "k", "shards").first()
        if row is None:
            raise ValueError("bloom_probe: empty index — build with "
                             "bloom_index first or pass m_bits/k/num_shards")
        m_bits, k, num_shards = int(row["m_bits"]), int(row["k"]), \
            int(row["shards"])
    key = F.col(key_col).cast("string")
    shard = _bf_shard(key, seed, num_shards)
    probed = df.withColumn("__shard", shard)
    idx = index.select(F.col("shard").alias("__shard"), "words")
    j = probed.join(F.broadcast(idx), "__shard", "left")

    def _bit(jj):
        pos = _bf_pos(key, F.lit(jj), seed, m_bits)
        word = F.element_at(F.col("words"), (pos / 32).cast("int") + 1)
        return word.bitwiseAND(_bf_mask(pos)) != 0

    # k is known at plan time, so unroll the k bit tests into a plain
    # AND chain instead of forall(sequence(0,k-1), ...): higher-order
    # functions are CodegenFallback — every probe row re-interpreted
    # the k element_at tests against the multi-MB words array, measured
    # 45.9 s -> 2.6 s for a 150k-row probe of the x10-scale index
    hit = functools.reduce(lambda a, b: a & b,
                           [_bit(jj) for jj in range(k)])
    return (j.withColumn(
        result_col,
        F.when(F.col("words").isNull(), F.lit(False)).otherwise(hit))
        .drop("__shard", "words"))


def cms_inner_product(roll_a: DataFrame, roll_b: DataFrame,
                      group_keys: list[str] | None = None) -> DataFrame:
    """Equi-join CARDINALITY estimate from two count-min rollups over
    the join columns (Cormode & Muthukrishnan's inner-product
    estimate): |A ⋈ B| = Σ_v f_A(v)·f_B(v) ≈ min_d Σ_b a_d[b]·b_d[b].
    Never under-estimates; over-estimate ≤ (e/width)·|A|·|B| w.h.p. —
    the sketch-only answer to "how big would this join be" that a
    100 TB planner wants BEFORE committing to the shuffle.  Same
    (width, depth, seed) required on both sides.  Returns
    (group_keys…, join_est, n_a, n_b)."""
    gk = list(group_keys or [])

    def cells(roll, tag):
        m = cms_merge(roll, gk)
        return (m.select(*gk, "width", "depth", "n",
                         F.explode("cms").alias("__k", f"__v{tag}"))
                .withColumnRenamed("n", f"__n{tag}"))

    a = cells(roll_a, "a")
    b = cells(roll_b, "b")
    j = a.join(b, gk + ["width", "depth", "__k"])  # missing cells = 0
    per_d = (j.groupBy(*gk, (F.col("__k") / F.col("width"))
                       .cast("int").alias("__d"))
             .agg(F.sum(F.col("__va") * F.col("__vb")).alias("__dot"),
                  F.first("__na").alias("__na"),
                  F.first("__nb").alias("__nb")))
    return (per_d.groupBy(*gk)
            .agg(F.min("__dot").alias("join_est"),
                 F.first("__na").alias("n_a"),
                 F.first("__nb").alias("n_b")))
