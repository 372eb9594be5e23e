"""Count-based per-key windows — the reference's core feature.

Ralf windows count ROWS per key, not time (``ralf/operators/window.py``):

- ``TumblingWindow(size)``: buffer per key; when the buffer reaches ``size``
  rows emit ``Record(key, window=[...])`` and reset (emit+reset
  ``ralf/operators/window.py:44-51``). Only *full* windows are ever emitted.
- ``SlidingWindow(window_size, slide_size)``: buffer per key; when
  ``len == window_size`` emit the window then drop the oldest ``slide_size``
  rows (``ralf/operators/window.py:107-120``). Supports a per-key slide size
  loaded from a plan (``:88-100``).

Batch re-expression (deterministic given the table's (ts, seq) order):

- tumbling: ``wid = floor((row_number()-1)/size)`` then group by (key, wid),
  keeping only groups with exactly ``size`` rows.
- sliding: a rows-frame window ``ROWS BETWEEN size-1 PRECEDING AND CURRENT
  ROW`` filtered to every ``slide``-th full window:
  ``rn >= size AND (rn - size) % slide == 0``.

Both are a single shuffle on the key (the sort is per-partition after hash
exchange); at 100 TB the shuffle is unavoidable — the window content itself
never leaves the executor. The window payload column is
``ArrayType(StructType(...))`` mirroring ralf's ``window: List[Record]``
schema (``ralf/operators/window.py:24-31``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ralf_spark.operators.util import persist
from ralf_spark.table import FeatureTable


def _ranked(table: FeatureTable) -> tuple[DataFrame, Column]:
    w = Window.partitionBy(table.key).orderBy(*table.order_cols())
    return table.df, F.row_number().over(w)


def tumbling_count_window(
    table: FeatureTable,
    size: int,
    payload_cols: Sequence[str] | None = None,
    aggs: Sequence[Column] | None = None,
) -> FeatureTable:
    """Per-key tumbling count window (``ralf/operators/window.py:14-51``).

    With ``aggs`` the window contents are aggregated directly (one hash-agg,
    map-side partial — preferred at scale); otherwise the full window payload
    is materialized as ``window: array<struct>`` like the reference emits.
    Output: one row per (key, window_id) for FULL windows only, with
    ``window_id`` 0-based in (ts, seq) order.
    """
    if table.key is None:
        raise ValueError("tumbling window requires a keyed table")
    if size <= 0:
        raise ValueError("size must be positive")
    df, rn = _ranked(table)
    df = df.withColumn("_rn", rn).withColumn(
        "window_id", F.floor((F.col("_rn") - 1) / size)
    )
    grouped = df.groupBy(table.key, "window_id")
    if aggs is not None:
        out = grouped.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    else:
        cols = payload_cols or [
            c for c in table.df.columns if c != table.key
        ]
        payload = F.struct(*[F.col(c) for c in cols])
        # sorted by the in-window rank so the array order is deterministic
        out = grouped.agg(
            F.count(F.lit(1)).alias("_n"),
            F.array_sort(
                F.collect_list(F.struct(F.col("_rn").alias("_o"), payload.alias("p")))
            ).alias("_w"),
        ).withColumn("window", F.col("_w.p")).drop("_w")
    return FeatureTable(
        out.where(F.col("_n") == size).drop("_n"), key=table.key
    )


#: ``payload_strategy="auto"`` switches from the rows-frame plan to the
#: explode plan at this window size (see :func:`sliding_count_window`).
LARGE_WINDOW_THRESHOLD = 64


def _explode_emit(df, key: str, payload, window_size: int):
    """The explode strategy's emit + rebuild half, shared by the plain
    and the salted rank paths: ``df`` carries ``_rn`` (int per-key rank)
    and ``_slide`` (long). Emit positions are pos = window_size + j*slide
    (j >= 0); row ``_rn`` belongs to the window ending at pos iff
    pos-window_size < _rn <= pos. Integer ``div`` spells ceil/floor
    exactly (ANSI-safe). Everything here is (key, pos)-keyed — fine-
    grained under a hot key, which is why only the RANK needs salting."""
    j0 = F.when(
        F.col("_rn") <= window_size, F.lit(0).cast("long")
    ).otherwise(F.expr(f"(_rn - {window_size} + _slide - 1) div _slide"))
    j1 = F.expr("(_rn - 1) div _slide")
    # slide > window_size gaps: a row between emits is in NO window;
    # sequence(j0, j1) with j1 < j0 would count DOWN, so emit empty.
    seq = F.when(j1 >= j0, F.sequence(j0, j1)).otherwise(
        F.array().cast("array<long>")
    )
    df = df.withColumn("_j", F.explode(seq)).withColumn(
        # int like the frame path's row_number-derived pos
        "pos",
        (F.lit(window_size) + F.col("_j") * F.col("_slide")).cast("int"),
    )
    return (
        df.groupBy(key, "pos")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_rn").alias("_o"), payload.alias("p"))
                )
            ).alias("_w"),
        )
        # only FULL windows emit (tail positions never reach size)
        .where(F.col("_n") == window_size)
        .select(key, "pos", F.col("_w.p").alias("window"))
    )


def sliding_count_window(
    table: FeatureTable,
    window_size: int,
    slide_size: int = 1,
    payload_cols: Sequence[str] | None = None,
    per_key_slide: DataFrame | None = None,
    slide_col: str = "slide_size",
    payload_strategy: str = "auto",
    clamp_slide: bool = True,
) -> FeatureTable:
    """Per-key sliding count window (``ralf/operators/window.py:54-124``).

    Emits the last ``window_size`` rows at every ``slide_size``-th row once
    the first full window exists — exactly the reference's emit-then-trim
    sequence (emit at ``len == window_size`` then drop oldest ``slide_size``,
    ``:107-120``). ``per_key_slide`` reproduces the per-key slide plan
    (``:88-100``): a small (key, slide_size) frame, broadcast-joined.

    ``clamp_slide`` (default, reference parity): when ``slide_size >
    window_size`` the effective slide is ``window_size`` — the reference's
    ``buf = buf[slide:]`` can only drop what is buffered (Python slicing
    clamps, ``:119``), so its emit period never exceeds the window; found
    by property test against the reference buffer loop. ``False`` gives
    Flink-style SAMPLING windows instead: emit every ``slide_size`` rows,
    rows between windows never emitted.

    Two physical strategies for materializing payloads:

    - ``"frame"``: ``collect_list().over(ROWS window_size-1 PRECEDING)``.
      One analytic pass, but the frame materializes a ``window_size`` array
      for EVERY input row before the emit filter drops non-emitting rows —
      amplification × ``window_size`` regardless of slide.
    - ``"explode"``: each row fans out only to the windows that actually
      emit it (``ceil(window_size / slide)`` copies — the true output
      payload size), then one (key, pos) hash-agg rebuilds the windows.
      At the reference's own simulation config (window=672, slide=12,
      ``ralf/simulation/process.py:88-89``) this moves 672× → 56× — and
      the agg is map-side partial, so the frame plan's full-sort window
      is replaced by an ordinary shuffle.
    - ``"auto"`` (default): ``"frame"`` below :data:`LARGE_WINDOW_THRESHOLD`
      (one pass, no extra shuffle — cheapest for small windows), else
      ``"explode"``.

    Output columns: key, ``pos`` (1-based rank of the window's last row —
    deterministic window identity), ``window`` array<struct>. Identical
    output for either strategy (asserted in tests).
    """
    if table.key is None:
        raise ValueError("sliding window requires a keyed table")
    if window_size <= 0 or slide_size <= 0:
        raise ValueError("window_size and slide_size must be positive")
    if payload_strategy not in ("auto", "frame", "explode"):
        raise ValueError(f"unknown payload_strategy: {payload_strategy!r}")
    if payload_strategy == "auto":
        payload_strategy = (
            "explode" if window_size >= LARGE_WINDOW_THRESHOLD else "frame"
        )
    cols = payload_cols or [c for c in table.df.columns if c != table.key]
    w = Window.partitionBy(table.key).orderBy(*table.order_cols())
    payload = F.struct(*[F.col(c) for c in cols])

    def _clamped(slide: Column) -> Column:
        return F.least(slide, F.lit(window_size)) if clamp_slide else slide

    if payload_strategy == "explode":
        df = table.df.withColumn("_rn", F.row_number().over(w))
        if per_key_slide is not None:
            df = df.join(F.broadcast(per_key_slide), on=table.key, how="left")
            slide = F.coalesce(F.col(slide_col), F.lit(slide_size))
        else:
            slide = F.lit(slide_size)
        slide = _clamped(slide)
        df = df.withColumn("_slide", slide.cast("long"))
        return FeatureTable(
            _explode_emit(df, table.key, payload, window_size),
            key=table.key,
        )

    frame = w.rowsBetween(-(window_size - 1), 0)
    df = (
        table.df.withColumn("_rn", F.row_number().over(w))
        .withColumn("window", F.collect_list(payload).over(frame))
    )
    if per_key_slide is not None:
        df = df.join(F.broadcast(per_key_slide), on=table.key, how="left")
        slide = F.coalesce(F.col(slide_col), F.lit(slide_size))
    else:
        slide = F.lit(slide_size)
    slide = _clamped(slide)
    out = (
        df.where(
            (F.col("_rn") >= window_size)
            & (((F.col("_rn") - window_size) % slide) == 0)
        )
        .select(table.key, F.col("_rn").alias("pos"), "window")
    )
    return FeatureTable(out, key=table.key)


def salted_sliding_count_window(
    table: FeatureTable,
    window_size: int,
    slide_size: int = 1,
    payload_cols: Sequence[str] | None = None,
    salt_buckets: int | str = "auto",
    target_ratio: float = 2.0,
    stats_skip_rows: int | None = None,
) -> FeatureTable:
    """Hot-key-safe sliding count window (r10, VERDICT r9 #7).

    The window-skew probe measured the plain operator's hot-key straggler
    at 226x the median task TIME at 48x (SCALEPROBE.md finding 13): both
    payload strategies rank rows with ``row_number() OVER (PARTITION BY
    key)``, and AQE cannot split a window partition. Salting a rank is
    harder than salting a join — membership depends on the row's GLOBAL
    per-key position — so the hot keys get a TWO-PHASE RANGE RANK
    instead: order-preserving buckets on the first ordering column's
    value (per-hot-key min/max from one tiny aggregate), per-(key,
    bucket) local ``row_number`` (the hot key now sorts across
    ``salt_buckets`` tasks), plus each bucket's cumulative row offset
    (a hot_keys × buckets table, broadcast). Everything downstream of
    the rank is the explode strategy's (key, pos) fine-grained path
    (:func:`_explode_emit` — shared code, not a re-implementation).

    Output is row-identical to ``sliding_count_window(...,
    payload_strategy="explode")`` (pinned by test and by the registry
    oracle): bucketing on the order value is monotone, ties share a
    bucket (same value → same bucket), and the within-bucket comparator
    is the same ``order_cols()`` total order.

    ``salt_buckets="auto"`` (default): one per-key count pass finds the
    hot keys (count > target_ratio × rows/partitions — the same skew
    test as :func:`~ralf_spark.operators.skew.choose_salt_buckets`);
    no hot keys → delegates to the plain explode spelling with no resalt
    cost. Stats-first (r11, VERDICT r10 #6): when the plan's row
    estimate proves the input is at most ``stats_skip_rows`` rows
    (default :data:`~ralf_spark.operators.skew.SALT_STATS_SKIP_ROWS`),
    the count job is skipped entirely and the plain spelling runs —
    ``stats_skip_rows=0`` forces the measured pass. Cold keys always take the plain single-window rank; only hot
    keys pay the two-phase plumbing. NULL keys route like any other
    key (r12): cold NULL → plain branch; hot NULL → the salted
    two-phase rank through null-safe (``<=>``) joins, which stay
    broadcast-hash — the r11 "hot NULL key stays an unsalted
    straggler" residual is closed. Balance caveat: range buckets
    follow the ORDER column's distribution (a hot key whose timestamps
    all collide degrades to one bucket — pre-transform pathological
    order columns). Fixed ``slide_size`` only (the per-key-slide plan
    keeps the plain spelling).
    """
    if table.key is None:
        raise ValueError("sliding window requires a keyed table")
    if window_size <= 0 or slide_size <= 0:
        raise ValueError("window_size and slide_size must be positive")
    key = table.key
    df = table.df
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def plain() -> FeatureTable:
        return sliding_count_window(
            table, window_size, slide_size,
            payload_cols=payload_cols, payload_strategy="explode",
        )

    if salt_buckets == 1:
        return plain()
    from ralf_spark.operators.skew import SALT_STATS_SKIP_ROWS
    from ralf_spark.operators.util import plan_row_estimate

    if stats_skip_rows is None:
        stats_skip_rows = SALT_STATS_SKIP_ROWS
    if stats_skip_rows > 0:
        # stats-first (r11, VERDICT r10 #6): when the plan proves the
        # whole input is small, skip the eager per-key count job — even
        # a fully-hot key is one modest rank task below the floor. Pass
        # stats_skip_rows=0 to force the measured pass (the oracle gate
        # does, to exercise the two-phase rank on a small fixture).
        est = plan_row_estimate(df)
        if 0 <= est <= stats_skip_rows:
            return plain()
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("_c")).persist()
    try:
        row = counts.agg(
            F.sum("_c").alias("t"), F.max("_c").alias("m")
        ).first()
        total = row["t"] or 0
        if total == 0:
            return plain()
        thresh = target_ratio * total / p
        # `isin` membership is NULL for a NULL key (it can neither
        # select INTO hdf nor OUT of rest — r11, ADVICE r10), so NULL
        # is tracked as its own explicit flag: a hot NULL key routes to
        # the salted branch via isNull() and the downstream joins are
        # null-safe (r12 — closes the r11 "hot NULL key stays an
        # unsalted straggler" residual); a cold NULL key takes the
        # plain-rank branch like any cold key.
        hot_rows = counts.where(F.col("_c") > thresh).collect()
        hot = [r[0] for r in hot_rows if r[0] is not None]
        null_hot = any(r[0] is None for r in hot_rows)
    finally:
        counts.unpersist()
    if not hot and not null_hot:
        return plain()
    if salt_buckets == "auto":
        import math

        buckets = min(p, math.ceil((row["m"] / total) * p / target_ratio))
    elif isinstance(salt_buckets, str):
        raise ValueError(
            f"salt_buckets must be 'auto' or an int; got {salt_buckets!r}"
        )
    else:
        buckets = int(salt_buckets)
    if buckets < 2:
        return plain()

    from ralf_spark.functions.timeutil import epoch_us

    anchor_name = table.ts or table.seq
    dtype = dict(df.dtypes)[anchor_name]
    anchor = (
        epoch_us(df, anchor_name).cast("double")
        if dtype.startswith("timestamp")
        else F.col(anchor_name).cast("double")
    )
    slide = min(slide_size, window_size)  # clamp, reference parity
    cols = payload_cols or [c for c in df.columns if c != key]
    payload = F.struct(*[F.col(c) for c in cols])

    is_hot = F.col(key).isin(hot) if hot else F.lit(False)
    if null_hot:
        is_hot = F.col(key).isNull() | is_hot
        rest = df.where(F.col(key).isNotNull() & ~F.col(key).isin(hot))
    else:
        # NULL-safe negation: ~isin(hot) is NULL (not False) for a NULL
        # key, so the rest branch must admit cold NULL keys explicitly
        # or they vanish from the output (ADVICE r10 — row identity)
        rest = df.where(F.col(key).isNull() | ~F.col(key).isin(hot))
    hdf = persist(df.where(is_hot))
    w = Window.partitionBy(key).orderBy(*table.order_cols())
    ranked_rest = rest.withColumn("_rn", F.row_number().over(w))
    # joins below use null-safe equality so a HOT NULL key flows through
    # the same two-phase rank as any hot key (r12); <=> is hash-joinable,
    # so the broadcast-hash strategy is unchanged
    stats = hdf.groupBy(key).agg(
        F.min(anchor).alias("_mn"), F.max(anchor).alias("_mx")
    ).withColumnRenamed(key, "_sk")
    span = F.col("_mx") - F.col("_mn")
    # NULL anchors bucket to -1 EXPLICITLY: ascending sort puts NULLs
    # FIRST, so bucket -1 preserves the plain row_number order. The
    # isNull branch must come first — `least(NULL, hi)` returns hi
    # (least skips nulls), which would rank null rows LAST, and a plain
    # NULL bucket would drop them at the (key, _rb) equi-joins below.
    rb = F.when(anchor.isNull(), F.lit(-1).cast("long")).otherwise(
        F.when(span <= 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.floor((anchor - F.col("_mn")) / span * buckets).cast(
                    "long"
                ),
                F.lit(buckets - 1).cast("long"),
            )
        )
    )
    j = (
        hdf.join(
            F.broadcast(stats), F.col(key).eqNullSafe(F.col("_sk"))
        )
        .drop("_sk")
        .withColumn("_rb", rb)
    )
    bc = j.groupBy(key, "_rb").agg(F.count(F.lit(1)).alias("_bc"))
    wofs = (
        Window.partitionBy(key)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        bc.withColumn(
            "_off", F.coalesce(F.sum("_bc").over(wofs), F.lit(0))
        )
        .select(
            F.col(key).alias("_ok"),
            F.col("_rb").alias("_orb"),
            "_off",
        )
    )
    wloc = Window.partitionBy(key, "_rb").orderBy(*table.order_cols())
    ranked_hot = (
        j.join(
            F.broadcast(offs),
            F.col(key).eqNullSafe(F.col("_ok"))
            & (F.col("_rb") == F.col("_orb")),
        )
        .withColumn(
            "_rn", (F.col("_off") + F.row_number().over(wloc)).cast("int")
        )
        .select(*df.columns, "_rn")
    )
    ranked = ranked_rest.select(*df.columns, "_rn").unionByName(ranked_hot)
    ranked = ranked.withColumn("_slide", F.lit(slide).cast("long"))
    return FeatureTable(
        _explode_emit(ranked, key, payload, window_size), key=key
    )
