"""Count-min sketch: bounded-memory frequency estimation over unbounded
key streams (Cormode & Muthukrishnan 2005).

The 100 TB problem it solves: exact token/URL/key frequency tables grow
with the *vocabulary* (billions of rows for web-scale token streams),
but a CMS is a fixed ``d × w`` grid of counters — kilobytes — with a
one-sided guarantee: ``estimate >= true`` always, and
``estimate <= true + εN`` w.h.p. for ``w = ⌈e/ε⌉``.  The build is ONE
map-side-combinable groupBy whose key space is capped at ``d·w`` cells
regardless of stream size, so two sketches merge by cell-wise addition
(partial aggregation IS the merge — the property that makes it a
streaming/distributed-native summary).

Deterministic by construction: the ``d`` probe positions are sliced
from a single md5 digest (six hex digits each — 24 bits ≫ log2(w)), no
RNG — so the DuckDB oracle rebuilds the identical sketch and the
registered face is hash-exact, overestimates included.

Reference scope: the reference has no sketch surface; §2.4 extension
alongside the HLL/percentile approximates of `rel_approx_sketch`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .storemaint import atomic_replace, collapse_replays


def _probe_positions(col: Column, w: int, d: int, seed: int) -> list[Column]:
    """``d`` positions in ``[0, w)`` from ONE md5 digest of ``seed:value``
    (the bloom-filter slicing pattern — five 24-bit slices fit the
    32-hex digest)."""
    if d < 1 or d > 5:
        raise ValueError(f"cms: d must be 1..5, got {d}")
    if w < 2:
        raise ValueError(f"cms: w must be >= 2, got {w}")
    digest = F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string")))
    return [
        F.conv(F.substring(digest, p * 6 + 1, 6), 16, 10).cast("bigint") % w
        for p in range(d)
    ]


def cms_build(
    df: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 3,
    seed: int = 47,
) -> DataFrame:
    """Build the sketch: ``(row, col, cnt)`` — at most ``d·w`` rows.

    Each input key increments one cell per hash row; the groupBy key
    space is the CELL grid, not the key space, so the shuffle is bounded
    by the sketch geometry however large (or skewed) the stream is.
    """
    probes = _probe_positions(F.col(key_col), w, d, seed)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(p).alias("row"), pos.alias("col"))
                    for p, pos in enumerate(probes)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(
        F.col("c.row").alias("row"), F.col("c.col").alias("col")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probe: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 3,
    seed: int = 47,
) -> DataFrame:
    """Point-query the sketch for every key in ``probe``: the estimate is
    the MIN over the ``d`` cells the key hashes to (an absent cell reads
    0 — the key was never seen).  Returns ``(key_col, cms_count)``.

    The sketch side is ≤ ``d·w`` rows and broadcasts; estimating any
    number of probe keys is a map-side join + one groupBy(key) min.
    """
    probes = _probe_positions(F.col(key_col), w, d, seed)
    pk = probe.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(p).alias("row"), pos.alias("col"))
                    for p, pos in enumerate(probes)
                ]
            )
        ).alias("c"),
    ).select(key_col, F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    joined = pk.join(F.broadcast(sketch), ["row", "col"], "left")
    return (
        joined.groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_count"))
    )


def hll_sketches(
    df: DataFrame, stratum_col: str, key_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-stratum mergeable HLL sketches: ``(stratum, hll_sketch)``.

    The 100 TB distinct-count pattern: each stratum (a source, a day, a
    shard) keeps a KB-sized Datasketches HLL binary instead of its key
    set, and ANY later slice's cardinality is a sketch union
    (:func:`hll_estimate`) — never a re-scan of the data.  Relative
    error is ~1.04/sqrt(2^lg_k) (±1.6% at the default lg_k=12), and
    union does not degrade the bound.  One map-side-combinable groupBy;
    the sketch column persists to parquet like any binary column, so a
    daily pipeline appends one sketch row per stratum per run.

    Spark-4 surface (`hll_sketch_agg`, Apache DataSketches HLL);
    engine-specific binaries, so faces verify the ESTIMATE against the
    exact count within the error bound (the `rel_approx_sketch`
    boolean-verification pattern) rather than hashing sketch bytes.
    """
    return df.groupBy(stratum_col).agg(
        F.expr(f"hll_sketch_agg({key_col}, {int(lg_k)})").alias("hll_sketch")
    )


def hll_estimate(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Union-merge HLL sketches and estimate: one row per group (or ONE
    global row with ``group_cols=None``) with ``n_distinct_est``.  The
    merge is the whole point: the global estimate comes from the
    per-stratum sketches alone — the raw data is never re-read.
    """
    est = F.expr(f"hll_sketch_estimate(hll_union_agg({sketch_col}))").alias(
        "n_distinct_est"
    )
    if group_cols:
        return sketches.groupBy(*group_cols).agg(est)
    return sketches.agg(est)


def hll_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    stratum_col: str,
    key_col: str,
    lg_k: int = 12,
    batch_id: int = 0,
) -> None:
    """One sketch-append cycle against a parquet sketch store: build the
    arriving batch's per-stratum HLL sketches (:func:`hll_sketches`) and
    APPEND one ``(stratum, batch_id, hll_sketch)`` row per stratum.

    This is the ``foreachBatch`` body for a maintained distinct-count
    store — the incremental face of the batch sketch, and the "daily
    pipeline appends one sketch row per stratum per run" pattern the
    batch docstring describes.  Unlike the CDC store
    (:func:`~lightfusion_spark.operators.cdc.merge_into_state`), append
    here needs NO read-modify-write cycle: HLL union is IDEMPOTENT
    (registers are maxima, coupon lists are sets), so a micro-batch
    replayed after a checkpoint recovery duplicates store ROWS but can
    never change any downstream ESTIMATE — the estimate-level guarantee
    the parity tests assert.  The store grows one row per stratum per
    batch; :func:`hll_compact_state` folds it back to one row per
    stratum whenever that matters, preserving every estimate exactly.

    At 100 TB the append writes O(strata) KB-sized rows per run and the
    raw keys are never stored — any later slice's cardinality is a
    union over the store alone (:func:`hll_estimate`), never a re-scan.
    A production deployment swaps the parquet append for a
    transactional table format's append; the union semantics — and the
    tests — stay identical.
    """
    sk = hll_sketches(batch_df, stratum_col, key_col, lg_k=lg_k)
    sk = sk.select(
        F.col(stratum_col),
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        "hll_sketch",
    )
    sk.write.mode("append").parquet(state_dir)


def hll_compact_state(
    spark,
    state_dir: str,
    stratum_col: str,
) -> None:
    """Fold a :func:`hll_append_batch` store back to ONE row per
    stratum: union-merge each stratum's appended sketches
    (``hll_union_agg`` — the same merge every estimate goes through, so
    compaction is estimate-preserving by construction) and replace the
    store.  ``batch_id`` keeps the latest id folded in, recording how
    far the compacted row has seen.  The replacement goes through
    :func:`~lightfusion_spark.operators.storemaint.atomic_replace`
    (r17 — staging write + two-rename swap: a crash can no longer
    catch the store between the overwrite's delete and its write, and
    the pre-overwrite ``localCheckpoint`` the in-place write needed
    is gone with the in-place write)."""
    state = spark.read.parquet(state_dir)
    compacted = state.groupBy(stratum_col).agg(
        F.max("batch_id").alias("batch_id"),
        F.expr("hll_union_agg(hll_sketch)").alias("hll_sketch"),
    ).select(stratum_col, "batch_id", "hll_sketch")
    atomic_replace(spark, compacted, state_dir)


def sketch_append_batch(
    batch_sketch: DataFrame,
    state_dir: str,
    batch_id: int,
    cnt_col: str = "cnt",
) -> None:
    """One ADDITIVE-sketch append cycle: write the arriving batch's
    sketch cells (``hist_sketch`` bins or ``cms_build`` cells — any
    ``(cell..., cnt)`` rows whose merge is cell-wise addition) to a
    parquet store as ``(cell..., cnt, batch_id, segment='raw')`` rows.

    The replay-safety mechanism is the OPPOSITE of the HLL store's
    (:func:`hll_append_batch`): addition is not idempotent, so a
    replayed micro-batch would double-count if appends were blind.
    Instead the append is batch-id-ADDRESSED — the per-batch sketch is
    a deterministic function of the batch's rows, so a replay writes
    byte-identical rows under the same ``batch_id`` and the read side
    (:func:`sketch_state_cells`) collapses them (MAX per cell per
    batch) before summing.  This is the checkpointed
    batch-id-addressed-write pattern; with ``foreachBatch`` +
    checkpointing only the in-flight batch can ever replay, and it is
    exactly the one the dedup makes harmless.

    At 100 TB each append writes O(strata × n_bins) (hist) or O(d·w)
    (CMS) integer rows — KBs — regardless of input size, and any later
    slice's estimate sums matching cells instead of re-scanning data.
    """
    cell_cols = [c for c in batch_sketch.columns if c != cnt_col]
    (
        batch_sketch.select(
            *cell_cols,
            F.col(cnt_col),
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            F.lit("raw").alias("segment"),
        ).write.mode("append").parquet(state_dir)
    )


def _probe_fence(state: DataFrame):
    """The compaction fence = the compacted segment's batch_id (None if
    never compacted).  Bounded 1-row driver reduction (the CDC
    existence-probe class)."""
    return (
        state.where(F.col("segment") == "compacted")
        .agg(F.max("batch_id"))
        .first()[0]
    )


def _split_state(state: DataFrame, cnt_col: str, fence):
    """Split store rows into (cell_cols, compacted rows, fence-filtered
    + replay-deduped raw rows).  The fence: raw rows at or below it
    were already folded in, so surviving copies (a replay that landed
    after compaction) must be DROPPED, not summed."""
    cell_cols = [
        c for c in state.columns if c not in (cnt_col, "batch_id", "segment")
    ]
    raw = state.where(F.col("segment") == "raw")
    if fence is not None:
        raw = raw.where(F.col("batch_id") > fence)
    deduped = collapse_replays(raw.drop("segment"), cell_cols)
    compacted = state.where(F.col("segment") == "compacted")
    return cell_cols, compacted, deduped


def sketch_cells_of(
    state: DataFrame, cnt_col: str = "cnt", fence: int | None = None
) -> DataFrame:
    """The PURE live-cell merge over store-shaped rows ``(cell...,
    cnt, batch_id, segment)``: fence-filter, collapse per-batch replay
    duplicates (MAX per (cell, batch_id)), and sum compacted + raw per
    cell.  ``fence`` is the compaction fence when the caller knows it
    (:func:`sketch_state_cells` probes it from the store; a raw-only
    state needs ``None``).  Exposed separately so batch pipelines can
    run the exact store merge over in-engine rows — e.g. per-day
    sketches built in one pass — without a filesystem round-trip."""
    cell_cols, compacted, deduped = _split_state(state, cnt_col, fence)
    return (
        deduped.select(*cell_cols, cnt_col)
        .unionByName(compacted.select(*cell_cols, cnt_col))
        .groupBy(*cell_cols)
        .agg(F.sum(cnt_col).alias(cnt_col))
    )


def sketch_state_cells(
    spark, state_dir: str, cnt_col: str = "cnt"
) -> DataFrame:
    """The live cell view of a :func:`sketch_append_batch` store: the
    compacted segment plus fence-filtered, replay-deduped raw batches,
    summed per cell — equal to the one-pass batch sketch over all data
    ingested so far (cell-wise addition is partition-independent), so
    the streamed store feeds ``hist_quantiles`` / ``cms_estimate`` /
    ``cms_join_size`` unchanged."""
    state = spark.read.parquet(state_dir)
    return sketch_cells_of(state, cnt_col, _probe_fence(state))


def sketch_compact_state(
    spark, state_dir: str, through_batch_id: int, cnt_col: str = "cnt"
) -> None:
    """Fold raw batches with ``batch_id <= through_batch_id`` into the
    compacted segment (one row per cell, ``batch_id =
    through_batch_id`` as the new fence); later raw rows are kept
    as-is.  ``through_batch_id`` is the caller's FENCE and must only
    cover batches the streaming checkpoint has committed: a batch that
    can still replay must stay raw (addressed, deduplicable) — once
    folded, a late replay of it is dropped by the fence rather than
    double-counted, which is the correct outcome for a committed batch.
    The replacement goes through
    :func:`~lightfusion_spark.operators.storemaint.atomic_replace`
    (r17 — staging write + two-rename swap; the pre-overwrite
    ``localCheckpoint`` went with the in-place write)."""
    state = spark.read.parquet(state_dir)
    fence = _probe_fence(state)
    cell_cols, compacted, deduped = _split_state(state, cnt_col, fence)
    if fence is not None and through_batch_id < fence:
        raise ValueError(
            f"sketch_compact_state: through_batch_id {through_batch_id} is "
            f"below the existing compaction fence {fence}"
        )
    eligible = deduped.where(F.col("batch_id") <= through_batch_id)
    keep = deduped.where(F.col("batch_id") > through_batch_id).select(
        *cell_cols, cnt_col, "batch_id", F.lit("raw").alias("segment")
    )
    folded = (
        eligible.select(*cell_cols, cnt_col)
        .unionByName(compacted.select(*cell_cols, cnt_col))
        .groupBy(*cell_cols)
        .agg(F.sum(cnt_col).alias(cnt_col))
        .select(
            *cell_cols,
            cnt_col,
            F.lit(int(through_batch_id)).cast("long").alias("batch_id"),
            F.lit("compacted").alias("segment"),
        )
    )
    atomic_replace(spark, folded.unionByName(keep), state_dir)


def hist_sketch(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-stratum mergeable quantile histograms: ``(stratum, bin, cnt)``.

    The third leg of the mergeable-summary trio (CMS = frequencies,
    HLL = distinct counts, this = quantiles; Agarwal et al. 2013,
    "Mergeable summaries"): each stratum keeps ``n_bins`` integer
    counters over a fixed ``[lo, hi)`` grid, and ANY later slice's
    quantiles come from summing the matching bin rows
    (:func:`hist_quantiles`) — never a re-sort of the data.  One
    map-side-combinable groupBy whose key space is capped at
    ``strata × n_bins`` cells; merge = cell-wise addition, so partial
    aggregation IS the merge and the error bound (one bin width =
    ``(hi−lo)/n_bins``) survives union un-degraded — unlike sampling
    approaches, which degrade as streams merge.

    Unlike the HLL sketch (engine-specific binary), the histogram is
    plain integer rows, so registered faces hash-verify the ESTIMATES
    themselves.  Out-of-range values clamp into the edge bins (their
    quantile estimates then saturate at the grid edge — pick ``lo``/
    ``hi`` from domain knowledge or a footer-stats pass); NULLs are
    ignored, matching SQL percentile semantics.

    ``extra_group_cols`` adds partition columns (a day, a shard) to
    the group key — the one-pass way to build what N per-partition
    sketch runs would (e.g. every daily append of a
    :func:`sketch_append_batch` store at once); merge back by summing
    cells, the same merge as always.
    """
    if not hi > lo:
        raise ValueError(f"hist_sketch: need hi > lo, got [{lo}, {hi})")
    if n_bins < 2:
        raise ValueError(f"hist_sketch: need n_bins >= 2, got {n_bins}")
    width = (hi - lo) / n_bins
    b = F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(width))
    b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), b.cast("int")))
    extras = [F.col(c) for c in (extra_group_cols or [])]
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(stratum_col), *extras, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Estimate quantiles from histogram-sketch rows alone: one row per
    (group, q) — or per q with ``group_cols=None``, which merges EVERY
    sketch row into one global histogram (the merge property made
    visible: the raw data is never re-read).

    Estimate = linear interpolation inside the first bin whose
    cumulative count reaches ``q·total``; max error is one bin width.
    All arithmetic is row-level IEEE ops over integer counts, so
    estimates replay bit-exactly across engines.  ``lo``/``hi``/
    ``n_bins`` must match the :func:`hist_sketch` call (the sketch is
    gridless rows; the grid is the caller's contract).  ``qs`` must lie
    in (0, 1] — q=0 is the grid floor by definition, not a lookup.
    """
    if any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"hist_quantiles: qs must be in (0, 1], got {qs}")
    width = (hi - lo) / n_bins
    gcols = list(group_cols or [])
    merged = sketch.groupBy(*gcols, "bin").agg(F.sum("cnt").alias("cnt"))
    from pyspark.sql.window import Window

    part = Window.partitionBy(*gcols)
    cum = F.sum("cnt").over(part.orderBy("bin"))
    total = F.sum("cnt").over(part)
    rows = merged.select(
        *gcols,
        "bin",
        "cnt",
        cum.alias("cum"),
        total.alias("total"),
    ).select(
        *gcols,
        "bin",
        "cnt",
        "cum",
        (F.col("cum") - F.col("cnt")).alias("cumb"),
        "total",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    target = F.col("q") * F.col("total").cast("double")
    est = F.lit(float(lo)) + F.lit(width) * (
        F.col("bin").cast("double")
        + (target - F.col("cumb").cast("double")) / F.col("cnt").cast("double")
    )
    return rows.where(
        (F.col("cum").cast("double") >= target)
        & (F.col("cumb").cast("double") < target)
    ).select(*gcols, "q", est.alias("est"))


def cms_join_size(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    d: int = 3,
) -> DataFrame:
    """Estimate an equi-join's output cardinality from two CMS sketches
    alone — the classic sketch inner product (Cormode & Muthukrishnan
    2005 §4.3): ``|A ⋈ B| = Σ_k a_k·b_k``, and each CMS hash row's
    cell-wise inner product overestimates that sum (colliding keys only
    ADD cross terms), so the MIN over the ``d`` rows is a one-sided
    estimate: ``estimate >= true`` always, ``<= true + εN_aN_b/w``
    w.h.p.  Both sketches must share (w, d, seed) — same grid, or the
    products are meaningless.

    The 100 TB use is join PLANNING: deciding shuffle partitions, skew
    salting, or broadcast-vs-merge for a join between two corpus-scale
    tables without scanning either — two KB-sized sketch tables join on
    (row, col) and reduce to ONE row ``(join_size_est)``.  Integer
    arithmetic end to end, so faces hash-verify the estimate exactly.
    """
    a = sketch_a.select("row", "col", F.col("cnt").alias("cnt_a"))
    b = sketch_b.select("row", "col", F.col("cnt").alias("cnt_b"))
    per_row = (
        a.join(b, ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    # a hash row with NO colliding cells has dot 0 only if the sketches
    # share no occupied cell in that row — true inner product is then 0
    # too (every key of A hashes somewhere in every row); rows absent
    # from the join entirely mean disjoint occupancy => estimate 0.
    rows = per_row.sparkSession.range(int(d)).select(
        F.col("id").cast("int").alias("row")
    )
    return (
        rows.join(per_row, "row", "left")
        .agg(
            F.min(F.coalesce(F.col("dot"), F.lit(0))).alias("join_size_est")
        )
    )
