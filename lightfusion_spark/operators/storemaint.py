"""The batch-addressed cell store — ONE mechanism behind every additive
maintained store (the BLEU/chrF/WER/ROUGE/QA/win-rate/binary-score/
pass@k eval-metric stores, the ranking store, and the raw segment of
the additive sketch store) — plus its layout maintenance.

The format: each batch appends its cells — rows that are a
DETERMINISTIC function of the batch's data, at most one row per key —
tagged with a ``batch_id`` long (:func:`append_cells`, one parquet
append per batch).  The replay policy: a batch replayed after
checkpoint recovery re-appends bit-identical rows under the same
``batch_id``, so the read side takes the MAX of every cell column per
(keys, ``batch_id``) — the identity on a clean store
(:func:`collapse_replays`) — then sums each cell across batches per
key, coalesced to zero and cast back to the column's own type
(:func:`cell_sums`).  :func:`read_cells` is the two steps together.

Adding a store is three pieces: a cells fold shared with the one-shot
metric (its groupBy keys become the store keys), ``append_cells`` in
the ``*_append_batch`` body, and ``read_cells`` feeding the one-shot's
finisher VERBATIM in ``*_from_store`` — so streamed == one-shot is an
identity of the expression tree.  Stores with other replay regimes
(the annotation store's MIN-resolve, the HLL union, the conversation
and IVF stores) do not use these helpers.

Maintenance: the cheapest correct append is one parquet file per
batch, so a long-lived store accumulates one file per batch forever.
:func:`compact_cell_store` is the store-agnostic PHYSICAL rewrite: it
only ever collapses BIT-IDENTICAL full rows — exactly the rows a
replayed batch re-appends, and never two distinct logical rows — so
streamed-equals-one-shot parity survives compaction bit for bit and
replay stays addressable (batch ids live in the rows, untouched), all
test-pinned in ``tests/test_storemaint.py``.  :func:`atomic_replace`
is the crash-safe whole-relation replacement for SEMANTIC rewrites
(the HLL union-fold, the sketch fence fold, the CDC snapshot); both go
through one staging-write + two-rename swap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def append_cells(cells: DataFrame, path: str, batch_id: int) -> None:
    """Append one batch's cells to the store at ``path`` as
    ``(cells..., batch_id)`` parquet rows."""
    cells.withColumn("batch_id", F.lit(int(batch_id)).cast("long")).write.mode(
        "append"
    ).parquet(path)


def collapse_replays(
    state: DataFrame, keys: Sequence[str] = ()
) -> DataFrame:
    """MAX of every cell column per (``keys``, ``batch_id``): replays
    write identical values, so MAX is the identity on clean stores."""
    cells = [c for c in state.columns if c not in keys and c != "batch_id"]
    return state.groupBy(*keys, "batch_id").agg(
        *[F.max(c).alias(c) for c in cells]
    )


def cell_sums(
    per_batch: DataFrame, keys: Sequence[str] = ()
) -> list[Column]:
    """One sum per cell column (everything but ``keys`` and
    ``batch_id``), coalesced to zero and cast back to the column's own
    type."""
    return [
        F.coalesce(F.sum(c), F.lit(0)).cast(t).alias(c)
        for c, t in per_batch.dtypes
        if c not in keys and c != "batch_id"
    ]


def read_cells(
    spark: SparkSession, path: str, keys: Sequence[str] = ()
) -> DataFrame:
    """The store at ``path`` read back to one summed cell row per key
    (one row in all when ``keys`` is empty), replays collapsed."""
    per_batch = collapse_replays(spark.read.parquet(path), keys)
    return per_batch.groupBy(*keys).agg(*cell_sums(per_batch, keys))


def _swap_in(spark, path: str, who: str, suffix: str, write, carry=False):
    """The one crash-safe replacement routine: ``write(tmp)`` fills a
    sibling ``{path}{suffix}`` staging directory (and may validate it —
    raising leaves the live store untouched), then a two-rename swap
    replaces ``path``.  Crash windows: before the first rename the
    store is untouched; between renames ``{path}_pre`` holds the
    original and every later call REFUSES until an operator renames it
    back or removes it (it may be the only copy); a stale staging
    directory never blocks a retry.  ``carry`` moves ``_``-prefixed
    side relations (manifests) the new layout lacks from the old
    directory into the new.  Returns what ``write`` returns."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    pre = f"{path}_pre"
    if fs.exists(hpath(pre)):
        raise RuntimeError(
            f"{who}: {pre} exists — a previous run crashed mid-swap and "
            "it may be the only copy of the store; rename it back over "
            "the store (or remove it after verifying the store reads) "
            "before retrying"
        )
    tmp = f"{path}{suffix}"
    if fs.exists(hpath(tmp)):
        fs.delete(hpath(tmp), True)
    out = write(tmp)
    had_prior = fs.exists(hpath(path))
    if had_prior and not fs.rename(hpath(path), hpath(pre)):
        raise RuntimeError(f"{who}: could not stage {path}")
    if not fs.rename(hpath(tmp), hpath(path)):
        if had_prior:
            fs.rename(hpath(pre), hpath(path))
        raise RuntimeError(f"{who}: could not swap in {tmp}")
    if had_prior and carry:
        # same-named artifacts the write already produced (_SUCCESS) stay
        for st in fs.listStatus(hpath(pre)):
            name = st.getPath().getName()
            if name.startswith("_") and not fs.exists(
                hpath(f"{path}/{name}")
            ):
                fs.rename(st.getPath(), hpath(f"{path}/{name}"))
    if had_prior:
        fs.delete(hpath(pre), True)
    return out


def atomic_replace(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Crash-safe whole-relation replacement for maintained stores
    whose replacement is SEMANTIC (the HLL union-fold, the
    additive-sketch fence fold, the CDC snapshot) rather than a
    row-identical rewrite.  ``mode("overwrite")`` on the directory
    being replaced deletes it BEFORE writing, so a crash in between
    loses the store — and in the CDC ``foreachBatch`` case the
    streaming replay then sees "no store" and silently rebuilds from
    the arriving batch alone.

    ``df`` MAY lazily read from ``path``: the plan materializes into a
    sibling ``{path}_staging`` directory first (one materialization,
    no defensive ``localCheckpoint``), then the swap of
    :func:`_swap_in` replaces the live directory; a first write (no
    prior store) simply lands.
    """
    _swap_in(
        spark,
        path,
        "atomic_replace",
        "_staging",
        lambda tmp: df.write.mode("error").parquet(tmp),
    )


def compact_cell_store(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Fold a batch-appended cell store down to ``target_files``
    parquet files (default ONE), collapsing bit-identical replay
    residue, without changing what any read computes.

    The ``ivf_compact`` maintenance contract, applied generically:

    * validate-then-swap: the rewrite lands in a sibling
      ``{path}_compacting`` directory and must hold exactly the
      source's distinct row count AND the full ``batch_id`` set
      before the swap of :func:`_swap_in` replaces the live directory
      — a torn rewrite aborts with the store untouched;
    * ``_``-prefixed side relations (e.g. the binary-score store's
      ``_meta`` manifest) ride along: parquet reads never see them,
      and the swap carries them from the old directory into the new;
    * run offline (no concurrent appends), the standard maintenance
      contract; file counts come from the Hadoop ``FileSystem`` glob
      (portable beyond local disk).

    Returns ``{rows, rows_collapsed, batches, files_before,
    files_after}``.

    100 TB shape: cell stores are O(batches × bounded cells) — tiny
    relative to the corpora they summarize — so two scans plus one
    ``coalesce(target_files)`` write is the whole cost; reads
    afterwards open ``target_files`` files instead of one per batch.
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def _files(p: str) -> int:
        stats = fs.globStatus(hpath(f"{p}/*.parquet"))
        return 0 if stats is None else len(stats)

    def _batches(df: DataFrame) -> set:
        rows = df.select("batch_id").distinct().collect()
        return {r["batch_id"] for r in rows}

    if int(target_files) < 1:
        raise ValueError(
            f"compact_cell_store: target_files must be >= 1, got "
            f"{target_files}"
        )
    src = spark.read.parquet(path)
    if "batch_id" not in src.columns:
        raise ValueError(
            f"compact_cell_store: {path} has no batch_id column — not a "
            "batch-appended cell store (this compactor only collapses "
            "bit-identical replay rows, which only batch-addressed "
            "stores guarantee)"
        )

    def write(tmp: str) -> dict:
        files_before = _files(path)
        n_src = src.count()
        # bit-identical replay residue ONLY: full-row distinct
        kept = src.dropDuplicates()
        n_kept = kept.count()
        batches = _batches(src)
        kept.coalesce(int(target_files)).write.mode("error").parquet(tmp)
        written = spark.read.parquet(tmp)
        got = written.count()
        got_batches = _batches(written)
        if got != n_kept or got_batches != batches:
            raise RuntimeError(
                f"compact_cell_store: rewrite holds {got} rows over "
                f"{len(got_batches)} batches but the source scan kept "
                f"{n_kept} over {len(batches)} at {path} — aborting with "
                f"the live store untouched; inspect {tmp}"
            )
        return {
            "rows": int(got),
            "rows_collapsed": int(n_src - n_kept),
            "batches": len(batches),
            "files_before": files_before,
        }

    stats = _swap_in(
        spark, path, "compact_cell_store", "_compacting", write, carry=True
    )
    return {**stats, "files_after": _files(path)}
