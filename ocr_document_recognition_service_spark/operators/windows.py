"""Window/ordering operators (SURVEY §2.7 W1–W6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def reading_order_rank(
    df: DataFrame, part: str, order_cols: list[str]
) -> DataFrame:
    """W1: row_number per partition in a deterministic order."""
    w = Window.partitionBy(part).orderBy(*[F.col(c).asc() for c in order_cols])
    return df.withColumn("rank", F.row_number().over(w).cast("long"))


def chunk_ids(
    docs: DataFrame,
    length_col: str = "n_chars",
    order_col: str = "doc_id",
    max_chars: int = 4000,
    group_size: int = 65536,
) -> DataFrame:
    """W2 size-capped chunking, scalable two-pass prefix-sum form.

    chunk_id = floor(global running length BEFORE the row / max_chars),
    globally ordered by the numeric *order_col* (the deterministic
    window re-expression of the reference's stateful carry loop,
    wiki_parser_to_pdf.py:89-105; also the template for salt-splitting
    oversized blobs).

    A plain ``Window.orderBy`` funnels the whole table through ONE task.
    Here the running sum decomposes over a group key that is monotone in
    the global order — grp = floor(order_col / group_size) — so:

    - pass 1: cumulative sum WITHIN each group (keyed window; the big
      table moves through one hash exchange, every group in parallel,
      group population bounded by *group_size*);
    - pass 2: per-group totals (map-side-combined agg, n/group_size
      rows) → exclusive prefix over groups (a window over only the tiny
      per-group table) → broadcast-joined back.

    At 10^11 rows and the default group_size the offsets table is ~10^6
    short rows — driver-trivial; recurse the same decomposition if ever
    not.  Values are exactly the global-window result (integer sums),
    which is what the SQL oracle computes.
    """
    grp = F.floor(F.col(order_col) / group_size)
    staged = docs.select(order_col, length_col).withColumn("_g", grp)
    wg = Window.partitionBy("_g").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = staged.withColumn(
        "_cum", F.sum(length_col).over(wg) - F.col(length_col)
    )
    wo = Window.orderBy("_g").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        staged.groupBy("_g")
        .agg(F.sum(length_col).alias("_tot"))
        .withColumn(
            "_off", F.coalesce(F.sum("_tot").over(wo), F.lit(0)).cast("long")
        )
        .select("_g", "_off")
    )
    return (
        local.join(F.broadcast(offs), "_g")
        .select(
            F.col(order_col),
            F.col(length_col),
            F.floor((F.col("_cum") + F.col("_off")) / max_chars)
            .cast("int")
            .alias("chunk_id"),
        )
    )


def global_rank(
    df: DataFrame,
    order_col: str,
    group_size: int = 65536,
    out: str = "rank",
) -> DataFrame:
    """Distributed global row_number over a UNIQUE numeric order
    column — the ``chunk_ids`` two-pass decomposition applied to row
    counts (rank = rows before + 1): within-group row_number over
    grp = floor(order_col / group_size), plus broadcast per-group
    exclusive count prefixes.  No single-task global window."""
    grp = F.floor(F.col(order_col) / group_size)
    staged = df.withColumn("_g", grp)
    wg = Window.partitionBy("_g").orderBy(order_col)
    local = staged.withColumn("_rn", F.row_number().over(wg))
    wo = Window.orderBy("_g").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        staged.groupBy("_g")
        .agg(F.count("*").alias("_c"))
        .withColumn(
            "_off", F.coalesce(F.sum("_c").over(wo), F.lit(0)).cast("long")
        )
        .select("_g", "_off")
    )
    return (
        local.join(F.broadcast(offs), "_g")
        .withColumn(out, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_g", "_rn", "_off")
    )


def sorted_zip(
    a: DataFrame, b: DataFrame, order_a: str, order_b: str
) -> DataFrame:
    """W6 sorted zip: pair the i-th row of *a* (by *order_a*) with the
    i-th row of *b* (by *order_b*) — the reference's
    ``zip(sorted(images), sorted(labels))`` pairing
    (eval_loader.py:30-41) as a rank equi-join; inner join truncates to
    the shorter side exactly like ``zip``.  Ranks come from
    ``global_rank`` (two-pass), so no single-task window."""
    ra = global_rank(a, order_a)
    rb = global_rank(b, order_b)
    return ra.join(rb, "rank", "inner")


def balanced_sample(
    df: DataFrame,
    group_col: str,
    order_col: str,
    n_per_group: int,
    group_size: int = 65536,
) -> DataFrame:
    """W4 balanced per-source sample (the reference's 50k-per-source
    train set, datasets/README.md 'v2_50k'): the *n_per_group* smallest
    *order_col* rows per *group_col*.

    A plain ``Window.partitionBy(group_col)`` funnels every group's FULL
    row set through one task to be ranked — with a 3-value group key
    that is a straggler by construction at 100 TB.  Here the per-group
    rank is the ``global_rank`` two-pass decomposition applied within
    each group (*order_col* must be numeric and unique per group):

    - pass 1: row_number within (group, band) where band =
      floor(order_col / group_size) — every band in parallel, band
      population bounded by *group_size*;
    - pass 2: per-(group, band) counts → exclusive prefix over bands
      (a window over the tiny counts table) → broadcast back.

    Both sides are pruned before the join: a row with local rank >
    n_per_group, or a band whose offset is already ≥ n_per_group, can
    never survive the final ``rank ≤ n`` filter — so the join touches
    at most n_per_group rows per live band, not the table.

    Non-numeric order keys (e.g. urls) cannot band monotonically, so
    they take the salted two-stage top-n instead: stage 1 keeps the
    n smallest within each of *n_salts* hash-salted sub-groups (the
    group's rows split B ways — the per-group top-n is provably a
    subset of the union of per-salt top-ns), stage 2 exact-ranks the
    ≤ n×B survivors per group.  Exact for any orderable type; the
    funnel is bounded by n×n_salts survivor rows, never the group.
    """
    from pyspark.sql.types import NumericType

    if not isinstance(df.schema[order_col].dataType, NumericType):
        n_salts = 64
        salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_salts))
        w1 = Window.partitionBy(group_col, "_salt").orderBy(
            F.col(order_col).asc()
        )
        survivors = (
            df.withColumn("_salt", salt)
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= n_per_group)
        )
        w2 = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
        return (
            survivors.withColumn("_rn2", F.row_number().over(w2))
            .filter(F.col("_rn2") <= n_per_group)
            .drop("_salt", "_rn", "_rn2")
        )

    grp = F.floor(F.col(order_col) / group_size)
    staged = df.withColumn("_g", grp)
    wg = Window.partitionBy(group_col, "_g").orderBy(F.col(order_col).asc())
    local = staged.withColumn("_rn", F.row_number().over(wg)).filter(
        F.col("_rn") <= n_per_group
    )
    wo = (
        Window.partitionBy(group_col)
        .orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        staged.groupBy(group_col, "_g")
        .agg(F.count("*").alias("_c"))
        .withColumn(
            "_off", F.coalesce(F.sum("_c").over(wo), F.lit(0)).cast("long")
        )
        .filter(F.col("_off") < n_per_group)
        .select(group_col, "_g", "_off")
    )
    return (
        local.join(F.broadcast(offs), [group_col, "_g"])
        .filter(F.col("_rn") + F.col("_off") <= n_per_group)
        .drop("_g", "_rn", "_off")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join (an operator Spark's join zoo lacks): for every left
    row, attach the right row with the GREATEST right.ts ≤ left.ts for
    the same key (inclusive, left-outer: unmatched rows keep NULLs) —
    DuckDB's ``ASOF LEFT JOIN`` semantics, used as the oracle.

    Plan: tag-union both sides, one window per key ordered by
    (ts, tag) with right rows (tag 0) sorting before left rows at equal
    ts, carry the latest right values forward with
    ``last(..., ignorenulls=True)``, keep the left rows.  ONE keyed
    shuffle of the union — no per-key loop, no range explosion; at
    100 TB this is a single sort-within-partition pass.

    *right* must be unique per (key, ts) — pre-aggregate it otherwise
    (an ambiguous as-of match has no deterministic answer).
    *right_cols* may not collide with left's non-key columns (the
    output would carry two columns of the same name — ambiguous
    downstream); rename on the right side first.
    """
    lcols = left.columns
    clash = (set(right_cols) | {"asof_ts"}) & {
        c for c in lcols if c not in (key, ts)
    }
    # the carried struct adds its own asof_ts field, and key/ts are
    # emitted from the left side — right_cols may not reuse any of them
    clash |= set(right_cols) & {key, ts, "asof_ts"}
    if clash:
        raise ValueError(
            f"asof_join: right_cols/output names collide with left "
            f"columns: {sorted(clash)}; alias them on the right first"
        )
    r = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_tag"),
        *[F.col(c) for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in lcols if c not in (key, ts)],
    ).withColumn("_rts", F.col(ts))
    l = left.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias("_tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c)
          for c in right_cols],
        *[F.col(c).alias(f"_l_{c}") for c in lcols if c not in (key, ts)],
    ).withColumn("_rts", F.lit(None).cast(left.schema[ts].dataType))
    # the matched right row must carry ATOMICALLY (all its columns from
    # one row): carry a struct that is NULL on left rows, so
    # last(ignorenulls) always lands on a whole right row
    u = l.unionByName(r).withColumn(
        "_rrow",
        F.when(
            F.col("_tag") == 0,
            F.struct(
                F.col("_rts").alias("asof_ts"),
                *[F.col(c).alias(c) for c in right_cols],
            ),
        ),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "_carry", F.last("_rrow", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("_tag") == 1).select(
        key,
        ts,
        *[F.col(f"_l_{c}").alias(c) for c in lcols if c not in (key, ts)],
        F.col("_carry.asof_ts").alias("asof_ts"),
        *[F.col(f"_carry.{c}").alias(c) for c in right_cols],
    )


def range_join_bucketed(
    probes: DataFrame,
    intervals: DataFrame,
    key: str,
    ts: str,
    t_start: str,
    t_end: str,
    bucket_secs: int = 3600,
) -> DataFrame:
    """Range (interval-containment) join — natively Spark plans
    ``ts BETWEEN t_start AND t_end`` as a broadcast nested loop.  The
    scale-correct shape: explode each interval to the time buckets it
    covers, bucket each probe, EQUI-join on (key, bucket), then apply
    the exact range predicate.  Work = probes + interval-spans/bucket,
    one keyed shuffle; pick *bucket_secs* ≈ typical interval length so
    span fan-out stays O(1) per interval.
    """
    spans = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(t_start)) / bucket_secs),
                F.floor(F.unix_timestamp(F.col(t_end)) / bucket_secs),
            )
        ),
    )
    pr = probes.withColumn(
        "_bkt", F.floor(F.unix_timestamp(F.col(ts)) / bucket_secs)
    )
    return (
        pr.join(spans, on=[key, "_bkt"])
        .filter(F.col(ts).between(F.col(t_start), F.col(t_end)))
        .drop("_bkt")
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event exceeds *gap_seconds*; session_id = running
    count of session starts (classic lag + cumulative-sum plan).  Gaps
    are fractional seconds, the same doubles as SQL ``epoch()``:
    whole-second ``unix_timestamp`` differences would keep a 1800.5 s
    gap inside a 1800 s session.  A TIMESTAMP_NTZ column (parquet
    timestamps without a zone) is read in the session time zone, UTC
    in ``session.build_session``, as ``epoch()`` reads a naive
    timestamp."""

    def epoch(c):
        return c.cast("timestamp").cast("double")

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    prev = F.lag(ts_col).over(w)
    is_start = F.when(
        prev.isNull() | (epoch(F.col(ts_col)) - epoch(prev) > gap_seconds),
        1,
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("session_id", F.sum(is_start).over(wc))


def temperature_sample(
    df: DataFrame,
    group_col: str = "lang",
    tau: float = 0.5,
    target_frac: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Source-temperature sampling (the GPT-3 §2.2 / Pile / mC4
    multilingual-rebalancing staple): keep a *target_frac* slice of
    the corpus with group shares reweighted to n_g^tau — tau < 1
    flattens the distribution (upweights low-resource groups,
    downweights dominant ones), tau = 1 preserves natural shares,
    tau = 0 is uniform-per-group.

    Per group: weight w_g = n_g^tau / Σ n_h^tau, acceptance p_g =
    round(min(1, target_frac·N·w_g / n_g), 6).  A row is kept iff its
    deterministic id-hash coin u = int(md5(id)[:8], 16) / 2^32 < p_g —
    no engine RNG, so reruns and the SQL twin agree row-for-row (the
    hash_order_sample/lineage-pid idiom).  tau = 0.5 computes n^tau
    via sqrt, which is IEEE-exact in every engine; other taus go
    through pow, where cross-engine ulps could flip a row only if u
    lands within 1e-6 of p_g (the 6dp rounding absorbs pow ulps).

    Plan: one tiny groupBy count (map-side combine), the per-group
    probabilities BROADCAST back, and a codegen filter — the corpus
    never shuffles; at 100 TB this is a scan + a broadcast hash join.
    Returns kept rows plus (n_group, p_group) for audit."""
    n_tau = (
        F.sqrt(F.col("_n"))
        if tau == 0.5
        else F.pow(F.col("_n"), F.lit(float(tau)))
    )
    counts = (
        df.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count("*").alias("_n"))
        .withColumn("_ntau", n_tau)
    )
    # Σ n^tau and N: a 1-row cross join keeps everything in-plan
    totals = counts.agg(
        F.sum("_ntau").alias("_ztau"), F.sum("_n").alias("_ntot")
    )
    probs = counts.crossJoin(F.broadcast(totals)).select(
        "_g",
        F.col("_n").alias("n_group"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(target_frac))
                * F.col("_ntot")
                * (F.col("_ntau") / F.col("_ztau"))
                / F.col("_n"),
            ),
            6,
        ).alias("p_group"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        df.join(
            F.broadcast(probs), df[group_col] == F.col("_g")
        )
        .filter(u < F.col("p_group"))
        .drop("_g")
    )
