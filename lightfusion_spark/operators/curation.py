"""Corpus-curation operators for training-data pipelines (SURVEY §2.4).

The four terminal stages of a pre-training data pipeline that sit
*after* dedup and *before* the tokenizer:

* :func:`decontaminate` — benchmark n-gram decontamination (the GPT-3
  appendix-C style filter): drop or flag corpus documents that share a
  word n-gram with a held-out evaluation set.
* :func:`quality_retention` — per-source retention report for a
  composite quality-rule gate (Gopher-style length / word-length /
  punctuation rules).
* :func:`pack_sequences` — token-budget shard packing: assign documents
  to fixed-token-budget packs (the unit a trainer streams), scalable by
  packing independently inside hash groups.
* :func:`mixture_sample` — deterministic hash-based stratified
  sampling that hits a target source-mixture under a global token
  budget.

All four are pure DataFrame algebra over built-in functions — no Python
in the hot path — and every hash is the MD5-derived 56-bit scheme from
``operators.dedup`` so a DuckDB oracle replays them value-for-value.

Scale notes (100 TB):

* ``decontaminate`` is one equi-join on an 8-byte n-gram hash. The
  benchmark side of a decontamination run is small (benchmarks are
  MBs, the corpus is TBs) — it is broadcast, so the corpus never
  shuffles; only the exploded corpus n-grams stream past the hash set.
* ``quality_retention`` is a narrow projection + one groupBy(source)
  with map-side partial aggregation — one small shuffle.
* ``pack_sequences`` avoids the classic global-cumulative-sum
  bottleneck (a single-partition window) by packing independently
  within ``n_groups`` hash groups: each group is a parallel sequential
  fill, the window partitions by group, and the shuffle is one hash
  exchange on the group id.  Packs never span groups, so writers can
  emit pack files truly in parallel.
* ``mixture_sample`` aggregates per-stratum counts (tiny), broadcasts
  the resulting rate table back, and filters map-side on a per-row
  deterministic uniform — no second shuffle, no sampling bias from
  partitioning, and re-runs are reproducible because the uniform is a
  pure function of (id, seed), never ``rand()``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _md5_long, doc_shingles

#: Denominator of the deterministic per-row uniform: u = h % 1e6 / 1e6.
_U_MOD = 1_000_000


def _uniform(id_col: str, seed: int):
    """Deterministic U[0,1) from (id, seed) — reproducible across engines
    and partitionings, unlike ``F.rand`` whose stream depends on the
    partition index."""
    h = _md5_long(F.col(id_col).cast("string"), seed=seed)
    return (h % _U_MOD) / F.lit(float(_U_MOD))


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with ``bench``.

    Returns ``(id_col, n_hit_ngrams, contaminated)`` — one row per corpus
    document; callers drop the flagged rows (``where(~contaminated)``)
    or keep the counts for a contamination audit.

    Both sides reduce to distinct 8-byte n-gram hashes; the join is a
    hash equi-join on that key.  With ``broadcast_bench`` (the realistic
    shape: benchmarks are MBs) the corpus side never shuffles.
    """
    corpus_grams = doc_shingles(df, id_col, text_col, n).select(
        F.col(id_col), _md5_long(F.col("shingle")).alias("g")
    )
    bench_grams = (
        doc_shingles(bench, id_col, text_col, n)
        .select(_md5_long(F.col("shingle")).alias("g"))
        .distinct()
    )
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        corpus_grams.join(bench_grams, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def quality_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality-rule flags (Gopher-style) + the composite gate.

    Rules (each its own boolean so audits can attribute drops):

    * ``r_n_words``   — 10 <= word count <= 100_000
    * ``r_word_len``  — 2 <= mean word length <= 12
    * ``r_punct``     — punctuation chars <= 20% of characters
    * ``keep``        — conjunction of all rules
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n_words = F.size(toks)
    awl = F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w)) / n_words
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^A-Za-z0-9\s]"), 0))
    punct_ratio = n_punct / F.length(F.col(text_col))
    r1 = (n_words >= 10) & (n_words <= 100_000)
    r2 = (awl >= 2) & (awl <= 12)
    r3 = punct_ratio <= 0.2
    return df.select(
        F.col(id_col),
        F.col("source"),
        n_words.alias("n_words"),
        r1.alias("r_n_words"),
        r2.alias("r_word_len"),
        r3.alias("r_punct"),
        (r1 & r2 & r3).alias("keep"),
    )


def quality_retention(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-source retention report of the :func:`quality_rules` gate:
    ``(source, n_docs, n_kept, retention)`` — the number every curation
    run reports before anyone commits to a filter."""
    flags = quality_rules(df, id_col, text_col)
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        )
        .withColumn("retention", F.round(F.col("n_kept") / F.col("n_docs"), 6))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col,
    capacity: int,
    n_groups: int = 8,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs.

    A document lands in the pack whose running total (of documents
    before it, in deterministic ``id`` order within its hash group) has
    not yet reached ``capacity``::

        group   = md5_56(id) % n_groups          -- parallelism unit
        prev    = sum(tokens) over (group order by id) - tokens
        pack_no = floor(prev / capacity)

    Packs are therefore ~``capacity`` tokens (the straddling document
    spills into the next pack — the trainer-side convention where the
    tokenizer truncates/continues across pack boundaries).  Returns the
    input ids annotated with ``(pack_group, pack_no, n_tokens)``.

    ``token_col`` may be a column name or a Column expression (e.g. a
    token-count projection from ``operators.text.token_counts``).
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    grp = (_md5_long(F.col(id_col).cast("string")) % n_groups).alias("pack_group")
    base = df.select(F.col(id_col), tok.cast("bigint").alias("n_tokens"), grp)
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.sum("n_tokens").over(w) - F.col("n_tokens")
    # integer DIV, not floor-after-double-division: double quotients
    # can round up across a pack boundary once running totals pass
    # ~2^53/capacity tokens (r15 advice) — `div` is exact at any scale
    return (
        base.withColumn("_prev", prev)
        .withColumn(
            "pack_no", F.expr(f"_prev div {int(capacity)}").cast("bigint")
        )
        .drop("_prev")
    )


def pack_efficiency_report(
    df: DataFrame,
    id_col: str,
    token_col,
    capacities: tuple[int, ...] = (512, 1024, 2048, 4096, 8192),
    n_groups: int = 8,
) -> DataFrame:
    """Capacity-sweep packing statistics — the number a trainer needs
    BEFORE committing to a context length: at each candidate
    ``capacity``, how many packs does this corpus make, how often is
    a document split across a pack boundary (attention
    fragmentation), and how much tail padding does each parallel fill
    group leave?  One row per capacity::

        (capacity, n_docs, n_tokens, n_packs, n_split_docs,
         n_crossings, split_rate6, tail_waste_tokens, fill_rate6)

    Semantics are :func:`pack_sequences`'s streaming-fill convention
    (same hash groups, same id order, same straddle rule) read as the
    TOKEN STREAM the trainer actually consumes: ``n_packs`` counts the
    fixed-capacity training sequences each group's concatenated
    stream yields (``ceil(group_total / capacity)``), ``n_crossings``
    counts pack boundaries landing INSIDE documents (``(prev + tok -
    1) div cap - prev div cap``; a document longer than the capacity
    crosses several — attention fragmentation), ``n_split_docs``
    counts documents with at least one crossing,
    ``tail_waste_tokens`` is the padding in each group's final
    partial sequence, and ``fill_rate6 = n_tokens / (n_packs *
    capacity)`` — under the straddle convention ALL waste is group
    tails, so fill approaches 1 as corpora grow and the
    capacity-sensitive column is the split rate (falls as capacity
    grows; the sweep prices it against sequence count).  Relation to
    :func:`pack_sequences`'s ASSIGNMENT ids (a doc belongs wholly to
    ``floor(prev/cap)``): ``n_packs`` exceeds ``max(pack_no)+1``
    summed over groups by exactly the crossings of each group's FINAL
    document (test-pinned identity).  Empty corpus -> empty report.

    100 TB shape: the ``prev`` running total is ONE window over the
    hash groups (capacity-independent, computed once); the sweep is a
    scalar explode (rows x |capacities| integer tuples) into a
    map-side-combinable per-capacity aggregation, and the group-tail
    arithmetic runs over ``n_groups x |capacities|`` rows.  No join
    carries text; zero Python.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    grp = (_md5_long(F.col(id_col).cast("string")) % n_groups).alias(
        "pack_group"
    )
    base = df.select(F.col(id_col), tok.cast("bigint").alias("n_tokens"), grp)
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_prev")
    docs = base.select("pack_group", "n_tokens", prev)
    caps = F.explode(
        F.array(*[F.lit(int(c)).cast("bigint") for c in capacities])
    ).alias("capacity")
    # integer DIV throughout (r15 advice): floor-after-double-division
    # is exact only for totals under ~2^53; `div` on bigints is exact
    # at any corpus size and any capacity, matching the docstring's
    # advertised integer-div semantics
    crossings = F.when(
        F.col("n_tokens") > 0,
        F.expr("(_prev + n_tokens - 1) div capacity")
        - F.expr("_prev div capacity"),
    ).otherwise(F.lit(0))
    per_cap_docs = (
        docs.select("n_tokens", "_prev", caps)
        .select(
            "capacity",
            "n_tokens",
            crossings.cast("bigint").alias("_x"),
        )
        .groupBy("capacity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_x") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_split_docs"),
            F.sum("_x").cast("long").alias("n_crossings"),
        )
    )
    totals = docs.groupBy("pack_group").agg(
        F.sum("n_tokens").cast("long").alias("_total")
    )
    packs_g = F.expr("(_total - 1) div capacity") + F.lit(1)
    per_cap_groups = (
        totals.where(F.col("_total") > 0)
        .select("_total", caps)
        .select(
            "capacity",
            packs_g.cast("bigint").alias("_packs"),
            (packs_g.cast("bigint") * F.col("capacity") - F.col("_total"))
            .cast("bigint")
            .alias("_waste"),
        )
        .groupBy("capacity")
        .agg(
            F.sum("_packs").cast("long").alias("n_packs"),
            F.sum("_waste").cast("long").alias("tail_waste_tokens"),
        )
    )
    return (
        per_cap_docs.join(per_cap_groups, "capacity", "left")
        .select(
            "capacity",
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("n_packs"), F.lit(0))
            .cast("long")
            .alias("n_packs"),
            "n_split_docs",
            "n_crossings",
            F.when(
                F.col("n_docs") > 0,
                F.round(
                    F.col("n_split_docs").cast("double")
                    / F.col("n_docs").cast("double"),
                    6,
                ),
            ).alias("split_rate6"),
            F.coalesce(F.col("tail_waste_tokens"), F.lit(0))
            .cast("long")
            .alias("tail_waste_tokens"),
            F.when(
                F.coalesce(F.col("n_packs"), F.lit(0)) > 0,
                F.round(
                    F.col("n_tokens").cast("double")
                    / (F.col("n_packs") * F.col("capacity")).cast("double"),
                    6,
                ),
            ).alias("fill_rate6"),
        )
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    token_col,
    target_shares: dict[str, float],
    token_budget: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic stratified sampling toward a target mixture.

    Computes per-stratum token counts, derives the sampling rate that
    would land each stratum at ``target_shares[stratum] * token_budget``
    tokens (capped at 1.0 — no upsampling), then keeps a row iff its
    deterministic uniform ``u(id, seed)`` falls under the stratum's
    rate.  Returns the kept rows with ``(sample_rate, u)`` attached.

    Unlisted strata get share 0.0 (dropped).  Because ``u`` is a pure
    function of the id, the sample is stable across re-runs, cluster
    sizes, and partitionings — the property ``df.sample()`` does NOT
    have.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    base = df.withColumn("_tok", tok.cast("bigint"))
    counts = base.groupBy(strata_col).agg(F.sum("_tok").alias("_stratum_tokens"))
    share = F.coalesce(
        *[
            F.when(F.col(strata_col) == k, F.lit(float(v)))
            for k, v in sorted(target_shares.items())
        ],
        F.lit(0.0),
    )
    rates = counts.select(
        F.col(strata_col),
        F.round(
            F.least(F.lit(1.0), share * token_budget / F.col("_stratum_tokens")), 6
        ).alias("sample_rate"),
    )
    u = F.round(_uniform(id_col, seed), 6).alias("u")
    return (
        base.join(F.broadcast(rates), strata_col)
        .withColumn("u", u)
        .where(F.col("u") < F.col("sample_rate"))
        .drop("_tok")
    )


def quality_model_filter(
    spark,
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_path: str,
    threshold: float = 0.5,
    batch_size: int = 256,
    passthrough_cols: list[str] | None = None,
    extra_features: list | None = None,
) -> DataFrame:
    """MODEL-based quality filtering — the canonical production use of
    the reference's own capability (batch inference inside a data
    pipeline, round-6 item 6): cheap JVM text features → LightGBM
    classifier → retention gate.

    Features are the four ``text.text_stats`` signals (n_words,
    avg_word_len, punct_ratio, en_stop_ratio) assembled JVM-side into
    one ``array<double>``; the classifier runs through the same
    Arrow-batched iterator pandas UDF as every other model in the repo
    (per-executor parsed-model cache, one ``predict`` call per Arrow
    batch — ``functions/inference.py``; ``batch_size`` is validated
    but no longer splits the batch).  ``p_keep`` is the softmax probability
    of class 1 rounded to 6 digits BEFORE the gate compares it to
    ``threshold``, so the keep decision is engine-reproducible.

    Returns ``(id_col, *passthrough_cols, n_words, p_keep, keep)`` for
    every document — ``passthrough_cols`` ride through so pipeline
    composers don't join back to (and re-execute) the input lineage.

    ``extra_features``: Column expressions appended (in order, cast to
    double) after the four text signals — e.g. a categorical source
    code for a model with categorical splits.  They may reference any
    passthrough column.

    Scale (100 TB): feature extraction is a narrow single-pass
    projection and inference is embarrassingly parallel — the whole
    filter is shuffle-free; the model ships once per executor (closure
    or torrent broadcast past 4 MB).
    """
    from ..functions.inference import make_lightgbm_udf
    from .text import text_stats

    extra = list(passthrough_cols or [])
    feats = text_stats(df, id_col, text_col, passthrough_cols=extra)
    vec = F.array(
        F.col("n_words").cast("double"),
        F.col("avg_word_len"),
        F.col("punct_ratio"),
        F.col("en_stop_ratio"),
        *[e.cast("double") for e in (extra_features or [])],
    )
    udf = make_lightgbm_udf(model_path, batch_size=batch_size, spark=spark)
    p_keep = F.round(F.element_at(F.col("_probs"), 2), 6)
    return (
        feats.select(
            F.col(id_col), *extra, F.col("n_words"), udf(vec).alias("_probs")
        )
        .select(
            F.col(id_col),
            *extra,
            F.col("n_words"),
            p_keep.alias("p_keep"),
            (p_keep >= F.lit(threshold)).alias("keep"),
        )
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    fractions: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int = 0,
) -> DataFrame:
    """Deterministic train/val/test assignment by hash threshold.

    A row's split is a pure function of ``(id, seed)``: the hash-uniform
    ``u`` lands in ``[0, f_train)`` -> train, ``[f_train, f_train+f_val)``
    -> val, else test.  Unlike ``df.randomSplit`` the assignment is
    stable across re-runs, cluster sizes and partitionings, documents
    never migrate between splits when the corpus grows (new ids draw
    fresh uniforms; existing ids keep theirs), and the three splits are
    disjoint by construction.  Adds ``(u, split)``.
    """
    return _threshold_split(df, id_col, fractions, seed)


def _threshold_split(
    df: DataFrame, key_col: str, fractions: tuple[float, float, float], seed: int
) -> DataFrame:
    """Shared hash-threshold assignment for the row-level and group-level
    split operators (one recipe, so the two cannot drift)."""
    f_train, f_val = float(fractions[0]), float(fractions[1])
    u = F.round(_uniform(key_col, seed), 6)
    split = (
        F.when(F.col("u") < f_train, F.lit("train"))
        .when(F.col("u") < f_train + f_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("u", u).withColumn("split", split)


def group_aware_split(
    df: DataFrame,
    group_col: str,
    fractions: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int = 0,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split hash is taken
    on ``group_col`` (a dedup-cluster id, a source domain, an author —
    whatever unit correlates documents), so EVERY row of a group lands
    in the same split.  Near-duplicates or same-origin documents
    straddling train and test are the eval-contamination vector a
    row-level split cannot close — dedup first, then split by the
    surviving correlation unit.

    Same stable hash-threshold recipe as :func:`train_val_test_split`
    (shared ``_threshold_split``): assignment is a pure function of
    ``(group, seed)``, so it never changes across re-runs, cluster
    sizes, partitionings, or corpus growth, and fractions are realized
    in expectation over GROUPS (weight skew across groups is the
    caller's to audit — the split face emits per-group counts for
    exactly that).  Adds ``(u, split)``; zero shuffle — the assignment
    is a row-local projection.
    """
    return _threshold_split(df, group_col, fractions, seed)


def calibration_report(
    df: DataFrame, score_col: str, label_col: str, n_bins: int = 10
) -> DataFrame:
    """Reliability summary of a [0,1] model score against binary
    outcomes — the audit a model-based quality gate owes its users
    before its threshold means anything: bin by ``floor(score·n_bins)``
    (top edge clamped into the last bin), and per bin report the count,
    the mean score (predicted positive rate), the observed positive
    fraction, and their signed gap.  The weighted |gap| sum over bins
    is the standard Expected Calibration Error; rows carry everything
    needed to compute it (test-pinned).

    Determinism discipline: both means go through exact DECIMAL sums
    before one final rounded division, so partial-aggregation order can
    never move a bin's value.  ONE map-side-combinable aggregation over
    ≤ ``n_bins`` groups — scan-speed at any corpus size.
    """
    if n_bins < 1:
        raise ValueError(f"calibration_report: n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col)
    b = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    n = F.count(F.lit(1))
    mean_score = F.round(
        F.sum(s.cast("decimal(18,6)")).cast("double") / n, 6
    )
    frac_pos = F.round(
        F.sum(F.col(label_col).cast("int").cast("decimal(18,6)")).cast("double") / n,
        6,
    )
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            n.alias("n"),
            mean_score.alias("mean_score"),
            frac_pos.alias("frac_pos"),
        )
        .withColumn("gap", F.round(F.col("frac_pos") - F.col("mean_score"), 6))
    )


def shard_assign(
    df: DataFrame, id_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Deterministic global shuffle into training shards.

    The trainer-facing export step: every row gets a shard (uniform by
    hash) and a reproducible pseudo-random position inside its shard —
    together a global permutation of the corpus WITHOUT a global sort.
    One hash exchange on ``shard``; the per-shard window never sees more
    than |corpus| / n_shards rows, so parallelism is the shard count
    (pick n_shards ~ output-file count at 100 TB, e.g. 100k), and each
    shard is one writer task (`partitionBy(shard)`).

    Adds ``(shard, shard_pos)``; ``shard_pos`` is 0-based and dense.
    """
    sid = F.col(id_col).cast("string")
    shard = (_md5_long(sid, seed=seed) % n_shards).alias("shard")
    order_h = _md5_long(sid, seed=seed + 1).alias("_order_h")
    w = Window.partitionBy("shard").orderBy("_order_h", id_col)
    return (
        df.select("*", shard, order_h)
        .withColumn("shard_pos", F.row_number().over(w) - F.lit(1))
        .drop("_order_h")
    )


def shard_balanced(
    df: DataFrame,
    id_col: str,
    size_col: str,
    n_shards: int,
) -> DataFrame:
    """Size-balanced shard assignment — the token-budget sibling of
    :func:`shard_assign`: hash sharding balances ROW counts, but
    training shards need balanced TOTAL size (tokens/bytes), or the
    long tail of a skewed document-length distribution concentrates in
    a few shards and the data-parallel step waits on stragglers.

    Snake (boustrophedon) allocation over the size-sorted corpus: rank
    rows by ``(size DESC, id ASC)`` — the exact global rank comes from
    :func:`global_row_number`, the two-pass range-partition pattern, so
    there is NO single-task window — then walk shards 0..k-1, k-1..0,
    0..k-1, … so each shard receives one row per "block" of k and the
    running totals stay within one document of each other (the classic
    LPT-style bound: with sizes sorted descending, max-min shard load
    is at most the largest item in the last block).  Deterministic,
    partition-invariant, and oracle-replayable as pure integer
    arithmetic over ROW_NUMBER.

    Emits ``(id, size, shard)``; NULL sizes are refused loudly (they
    cannot rank portably).  Scale: one range exchange + O(P) offsets —
    the same cost envelope as any global sort, paid once per export.
    """
    if n_shards < 1:
        raise ValueError(
            f"shard_balanced: n_shards must be >= 1, got {n_shards}"
        )
    if df.where(F.col(size_col).isNull()).limit(1).count():
        raise ValueError(
            f"shard_balanced: NULL {size_col} rows present — size or drop "
            "them explicitly before sharding"
        )
    ranked = global_row_number(
        df.select(F.col(id_col), F.col(size_col)),
        (F.col(size_col).desc(), F.col(id_col).asc()),
        rn_col="_rn",
    )
    k = n_shards
    block = F.expr(f"(_rn - 1) DIV {k}")
    pos = F.expr(f"(_rn - 1) % {k}")
    shard = F.when(block % 2 == 0, pos).otherwise(F.lit(k - 1) - pos)
    return ranked.select(
        F.col(id_col),
        F.col(size_col),
        shard.cast("int").alias("shard"),
    )


def corpus_health_report(
    df: DataFrame, id_col: str, text_col: str, source_col: str = "source"
) -> DataFrame:
    """The per-source corpus health dashboard every curation run reports
    daily: ``(source, n_docs, n_unique, dup_surplus, n_kept,
    retention)`` in ONE pass.

    * ``n_unique`` — distinct normalized-content fingerprints
      (``text.fingerprint``'s md5 over lowercased, whitespace-collapsed
      text), so ``dup_surplus = n_docs - n_unique`` is the exact-dup
      overhang per source;
    * ``n_kept``/``retention`` — the Gopher-style
      :func:`quality_rules` composite gate.

    Shape: one narrow projection computing flags + fingerprint per row,
    one groupBy(source) — count-distinct expands internally (the exact
    answer; swap ``approx_count_distinct`` at 100 TB dashboards where
    ±2% serves).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    flags = quality_rules(df, id_col, text_col).select(
        id_col, F.col(source_col), "keep"
    )
    fps = df.select(F.col(id_col), F.md5(norm).alias("_fp"))
    joined = flags.join(fps, id_col)
    return (
        joined.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("_fp")).alias("n_unique"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        )
        .select(
            source_col,
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("dup_surplus"),
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_docs"), 6).alias("retention"),
        )
    )


def corpus_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    source_col: str = "source",
) -> DataFrame:
    """Distribution drift between two corpus snapshots, per source — the
    release gate a recurring crawl runs before swapping training data:
    "did this month's snapshot shift the unigram distribution, and
    which token moved most?"

    Returns one row per source present in either snapshot::

        (source, n_tokens_old, n_tokens_new, vocab_old, vocab_new,
         vocab_union, tv, top_token, top_delta_ppm)

    * ``tv`` — total variation distance between the snapshots' unigram
      distributions, ``0.5 · Σ_t |p_t - q_t|`` ∈ [0, 1].  Computed
      EXACTLY in integers: ``Σ|c_old·N_new - c_new·N_old|`` is a BIGINT
      sum of cross-multiplied counts (no float until the single final
      division), so the result is partition-order-proof and replays
      hash-exact in any engine.  Disjoint token supports give exactly
      1.0 by the same formula; a source missing from one snapshot
      entirely is defined as tv = 1.0.
    * ``top_token`` / ``top_delta_ppm`` — the most-moved token and its
      signed per-million share change ``q_ppm - p_ppm``, both from
      exact integer division (``c·10⁶ div N``); ties break by token
      ascending, so the winner is deterministic.

    Integer-overflow bound (documented like pca's): the cross products
    need ``2·N_old·N_new < 2^63``, i.e. up to ~2·10⁹ tokens per source
    per snapshot; past that, widen the two products to
    ``DECIMAL(38,0)`` — the sums stay exact either way.

    Shape at 100 TB: one explode + map-side-combinable
    groupBy(source, token) per snapshot, a full-outer equi-join of the
    two Zipf-bounded count tables on (source, token), per-source totals
    broadcast back onto it, ONE aggregation for the summary and one
    window for the top token — the corpora themselves are scanned once
    each and never rejoined.
    """
    co = _unigram_counts(old, text_col, source_col, "old")
    cn = _unigram_counts(new, text_col, source_col, "new")
    return _drift_report(co, cn)


def _unigram_counts(df: DataFrame, text_col: str, source_col: str, tag: str) -> DataFrame:
    """Per-(source, token) occurrence counts — one snapshot's side of the
    drift computation: one explode + one map-side-combinable groupBy."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    )
    return toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias(f"c_{tag}")
    )


def _drift_report(co: DataFrame, cn: DataFrame) -> DataFrame:
    """:func:`corpus_drift`'s body over prebuilt count tables — shared
    verbatim by the one-shot operator and :func:`corpus_drift_indexed`,
    so the amortized path is output-identical by construction."""
    totals = (
        co.groupBy("source")
        .agg(
            F.sum("c_old").alias("n_old"),
            F.count(F.lit(1)).alias("vocab_old"),
        )
        .join(
            cn.groupBy("source").agg(
                F.sum("c_new").alias("n_new"),
                F.count(F.lit(1)).alias("vocab_new"),
            ),
            "source",
            "full_outer",
        )
        .select(
            "source",
            F.coalesce(F.col("n_old"), F.lit(0)).alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
            F.coalesce(F.col("vocab_old"), F.lit(0)).alias("vocab_old"),
            F.coalesce(F.col("vocab_new"), F.lit(0)).alias("vocab_new"),
        )
    )
    joined = (
        co.join(cn, ["source", "tok"], "full_outer")
        .select(
            "source",
            "tok",
            F.coalesce(F.col("c_old"), F.lit(0)).alias("c_old"),
            F.coalesce(F.col("c_new"), F.lit(0)).alias("c_new"),
        )
        .join(F.broadcast(totals), "source")
    )
    per_tok = joined.select(
        "source",
        "tok",
        F.abs(
            F.col("c_old") * F.col("n_new") - F.col("c_new") * F.col("n_old")
        ).alias("cross_abs"),
        (
            # an absent snapshot is the zero measure: share 0 (the CASE
            # also keeps ANSI mode from throwing DIVIDE_BY_ZERO)
            F.expr("CASE WHEN n_new = 0 THEN 0L ELSE c_new * 1000000L div n_new END")
            - F.expr("CASE WHEN n_old = 0 THEN 0L ELSE c_old * 1000000L div n_old END")
        ).alias("delta_ppm"),
    )
    summary = per_tok.groupBy("source").agg(
        F.sum("cross_abs").alias("_s"),
        F.count(F.lit(1)).alias("vocab_union"),
    )
    w = Window.partitionBy("source").orderBy(
        F.abs(F.col("delta_ppm")).desc(), F.col("tok").asc()
    )
    top = (
        per_tok.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "source",
            F.col("tok").alias("top_token"),
            F.coalesce(F.col("delta_ppm"), F.lit(0)).alias("top_delta_ppm"),
        )
    )
    return (
        totals.join(summary, "source", "left")
        .join(top, "source", "left")
        .select(
            "source",
            F.col("n_old").alias("n_tokens_old"),
            F.col("n_new").alias("n_tokens_new"),
            "vocab_old",
            "vocab_new",
            F.coalesce(F.col("vocab_union"), F.lit(0)).alias("vocab_union"),
            F.when((F.col("n_old") == 0) | (F.col("n_new") == 0), F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("_s").cast("double")
                    / (
                        F.lit(2.0)
                        * F.col("n_old").cast("double")
                        * F.col("n_new").cast("double")
                    ),
                    6,
                )
            )
            .alias("tv"),
            "top_token",
            "top_delta_ppm",
        )
    )


def numeric_drift(
    old: DataFrame,
    new: DataFrame,
    stratum_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """Per-stratum distribution drift of a NUMERIC column between two
    snapshots — the third leg of the drift-monitoring trio
    (:func:`corpus_drift` = text, ``profile.schema_drift`` = structure,
    this = values): total variation distance between the snapshots'
    binned value distributions on the :func:`~.sketch.hist_sketch`
    grid, plus the most-moved bin.

    Composition, not new machinery: each snapshot becomes a mergeable
    histogram (``strata × n_bins`` integer cells — the sketch the
    monitoring stores already maintain), and the TV/top-mover report is
    :func:`corpus_drift`'s ``_drift_report`` VERBATIM over (stratum,
    bin) cells instead of (source, token) counts — the same exact
    integer cross-product arithmetic, so the result replays hash-exact.
    NULL values are excluded (null drift is ``schema_drift``'s job);
    out-of-grid values clamp into the edge bins exactly as the sketch
    documents.

    Returns ``(stratum, n_values_old, n_values_new, n_bins_old,
    n_bins_new, n_bins_union, tv, top_bin, top_delta_ppm)``.
    """
    return _numeric_rename(
        _drift_report(
            _numeric_cells(old, stratum_col, value_col, lo, hi, n_bins, "old"),
            _numeric_cells(new, stratum_col, value_col, lo, hi, n_bins, "new"),
        )
    )


def _numeric_cells(df, stratum_col, value_col, lo, hi, n_bins, tag):
    """One snapshot's histogram cells in :func:`_drift_report`'s
    (source, tok, c_tag) shape."""
    from .sketch import hist_sketch

    return hist_sketch(df, stratum_col, value_col, lo, hi, n_bins).select(
        F.col(stratum_col).alias("source"),
        F.col("bin").alias("tok"),
        F.col("cnt").alias(f"c_{tag}"),
    )


def _numeric_rename(rep: DataFrame) -> DataFrame:
    """Project :func:`_drift_report`'s token-named columns onto the
    numeric report's bin-named schema."""
    return rep.select(
        F.col("source").alias("stratum"),
        F.col("n_tokens_old").alias("n_values_old"),
        F.col("n_tokens_new").alias("n_values_new"),
        F.col("vocab_old").alias("n_bins_old"),
        F.col("vocab_new").alias("n_bins_new"),
        F.col("vocab_union").alias("n_bins_union"),
        "tv",
        F.col("top_token").alias("top_bin"),
        "top_delta_ppm",
    )


@dataclass
class DriftIndex:
    """Prebuilt reference side of the drift gate: the reference
    snapshot's (source, token) count table, ``localCheckpoint``-pinned
    so gating N batches never re-tokenizes the reference corpus."""

    ref_counts: DataFrame
    source_col: str


def corpus_drift_index(
    ref: DataFrame, text_col: str, source_col: str = "source"
) -> DriftIndex:
    """Precompute the reference side of :func:`corpus_drift` — the
    continual-ingest pattern (same shape as
    :func:`contamination_index`): a crawl pipeline compares every
    arriving micro-batch against the SAME vetted reference snapshot,
    so re-tokenizing and re-counting the reference per batch is pure
    waste.  Build once here, gate each batch with
    :func:`corpus_drift_indexed`; the composition is output-identical
    to ``corpus_drift(ref, batch)`` on the same inputs (both run
    ``_drift_report`` over the same count tables; asserted in
    tests/test_curation.py and through a real streamed availableNow
    run in tests/test_streaming.py).  Rebuild only when the reference
    snapshot changes."""
    return DriftIndex(
        ref_counts=_unigram_counts(
            ref, text_col, source_col, "old"
        ).localCheckpoint(eager=True),
        source_col=source_col,
    )


def corpus_drift_indexed(
    batch: DataFrame, index: DriftIndex, text_col: str
) -> DataFrame:
    """:func:`corpus_drift`'s per-batch body against a prebuilt
    :class:`DriftIndex`: tokenize and count the ARRIVING batch only,
    then run the shared drift report against the pinned reference
    counts — the ``foreachBatch`` "is today's crawl weird?" alarm for
    continual ingest.  Per-batch work is one explode+groupBy over the
    batch plus a join against the Zipf-bounded reference vocabulary;
    the reference corpus itself is never rescanned."""
    return _drift_report(
        index.ref_counts,
        _unigram_counts(batch, text_col, index.source_col, "new"),
    )


@dataclass
class NumericDriftIndex:
    """Prebuilt reference side of :func:`numeric_drift`: the reference
    snapshot's histogram cells, pinned, plus the grid they were binned
    on (a batch compared on a different grid would be nonsense — the
    gate re-bins every batch with the INDEX's grid)."""

    ref_cells: DataFrame
    stratum_col: str
    value_col: str
    lo: float
    hi: float
    n_bins: int


def numeric_drift_index(
    ref: DataFrame,
    stratum_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> NumericDriftIndex:
    """Precompute the reference side of :func:`numeric_drift` — the
    numeric leg of the continual-ingest monitor (same pattern as
    :func:`corpus_drift_index`): the reference histogram is ``strata ×
    n_bins`` integer cells, pinned once; each arriving batch re-bins on
    the SAME grid and runs the shared drift report.  Output-identical
    to ``numeric_drift(ref, batch, …)`` on the same inputs (asserted
    in tests/test_curation.py).  Rebuild only when the reference
    snapshot (or the grid) changes."""
    cells = _numeric_cells(
        ref, stratum_col, value_col, lo, hi, n_bins, "old"
    ).localCheckpoint(eager=True)
    return NumericDriftIndex(
        ref_cells=cells,
        stratum_col=stratum_col,
        value_col=value_col,
        lo=lo,
        hi=hi,
        n_bins=n_bins,
    )


def numeric_drift_indexed(
    batch: DataFrame, index: NumericDriftIndex
) -> DataFrame:
    """:func:`numeric_drift`'s per-batch body against a prebuilt
    :class:`NumericDriftIndex`: bin the ARRIVING batch on the index's
    grid, then run the shared drift report against the pinned
    reference cells — per batch, one cell aggregation over the batch
    plus a join against at most ``strata × n_bins`` reference rows."""
    cn = _numeric_cells(
        batch, index.stratum_col, index.value_col, index.lo, index.hi,
        index.n_bins, "new",
    )
    return _numeric_rename(_drift_report(index.ref_cells, cn))


def temperature_mixture_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    token_col,
    temperature: float,
    token_budget: int,
    seed: int = 0,
) -> DataFrame:
    """Temperature-based mixture reweighting (the XLM-R/mT5 pretraining
    knob): target shares are DERIVED from the data instead of handed in
    — ``q_i ∝ p_i^(1/T)`` over the observed token shares ``p_i``, so
    ``T=1`` keeps the natural mixture, ``T→∞`` approaches uniform, and
    low-resource strata get boosted without anyone hand-tuning a share
    table.

    Shapes and determinism follow :func:`mixture_sample` exactly: one
    tiny per-stratum aggregation, rates broadcast back, keep iff the
    hash-uniform ``u(id, seed)`` falls under the stratum rate.  The
    ``p^(1/T)`` power is transcendental, so it is ROUNDed to 6 digits
    before normalization (the registry's libm discipline); shares and
    the normalizer are exact-DECIMAL sums.  No upsampling: rates cap
    at 1.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    alpha = 1.0 / temperature
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    base = df.withColumn("_tok", tok.cast("bigint"))
    # Pin the per-stratum aggregate (one row per stratum — tiny at any
    # scale): the rate chain below consumes it three times (total,
    # wsum, rates), and without the pin each consumer re-runs the full
    # upstream of ``df`` — for a composed input like
    # pipe_mixture_domain's NB-routed corpus that is three extra
    # corpus passes.  The final keep-join is then the only other
    # consumer of ``base``.
    from .fanout import pin

    counts = pin(
        base.groupBy(strata_col).agg(F.sum("_tok").alias("_stratum_tokens"))
    )
    total = counts.agg(F.sum("_stratum_tokens").alias("_total_tokens"))
    weighted = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "_w",
            F.round(
                F.pow(F.col("_stratum_tokens") / F.col("_total_tokens"), F.lit(alpha)),
                6,
            ),
        )
    )
    wsum = weighted.agg(
        F.sum(F.col("_w").cast("decimal(28,6)")).cast("double").alias("_wsum")
    )
    rates = (
        weighted.crossJoin(F.broadcast(wsum))
        .select(
            F.col(strata_col),
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("_w") / F.col("_wsum"))
                    * token_budget
                    / F.col("_stratum_tokens"),
                ),
                6,
            ).alias("sample_rate"),
        )
    )
    u = F.round(_uniform(id_col, seed), 6).alias("u")
    return (
        base.join(F.broadcast(rates), strata_col)
        .withColumn("u", u)
        .where(F.col("u") < F.col("sample_rate"))
        .drop("_tok")
    )


def weighted_reservoir_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
    seed: int = 13,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per stratum — the
    Efraimidis–Spirakis A-ES scheme: each row draws a deterministic
    uniform ``u`` and is ranked by ``ln(u) / w``; the top ``k`` keys are
    a weighted sample without replacement (P(i first) = w_i / Σw).  The
    curation use: token-count-weighted document selection, where a
    uniform row sample would under-represent long documents' token mass.

    Deterministic and engine-replayable: ``u = (md5_56(seed:id) % 1e6
    + 1) / (1e6 + 1)`` (never 0, so ``ln`` is finite) and the key is
    ``round(ln(u)/w, 6)`` — the repo's transcendental-rounding rule.
    Ties (and k-th-place ties) order by (key desc, id asc).  Rows with
    non-positive weight are EXCLUDED (they cannot be drawn by A-ES).
    ``id_col`` is the randomness source, so it must be unique per row
    within a stratum — duplicate ids draw the SAME uniform and share
    their fate (deterministic, but not independent draws).

    Returns ``(strata_col?, id_col, weight_col, rank)``.

    Scale (100 TB): one projection computes keys row-local, one per-
    stratum ROW_NUMBER window takes the top k — a single shuffle on the
    stratum key.  Unlike driver-side reservoirs, nothing accumulates
    state: the "reservoir" is the window's top-k, which Spark maintains
    with a partial top-k (TakeOrdered-style) on the map side.
    """
    from pyspark.sql.window import Window

    u = (
        (_md5_long(F.col(id_col).cast("string"), seed=seed) % _U_MOD) + 1
    ) / F.lit(float(_U_MOD + 1))
    key = F.round(F.log(u) / F.col(weight_col), 6)
    parts = [strata_col] if strata_col is not None else []
    src = (
        df.where(F.col(weight_col) > 0)
        .select(*parts, F.col(id_col), F.col(weight_col), key.alias("_key"))
    )
    w = Window.partitionBy(*[F.col(c) for c in parts] or [F.lit(1)]).orderBy(
        F.col("_key").desc(), F.col(id_col).asc()
    )
    return (
        src.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*parts, id_col, weight_col, "rank")
    )


def _bloom_word_count(n_bits: int) -> int:
    if n_bits <= 0 or n_bits % 64 != 0:
        raise ValueError(f"bloom: n_bits must be a positive multiple of 64, got {n_bits}")
    return n_bits // 64


def _bloom_positions(col, n_bits: int, n_hashes: int, seed: int) -> list:
    """All probe positions from ONE md5 evaluation: six hex digits per
    probe (24 bits >> log2(n_bits)) sliced out of the 32-digit digest —
    5x cheaper than a digest per probe at n_hashes=5 (measured 13.8 ->
    ~4 s on the sf0.01 decontamination face)."""
    if n_hashes < 1 or n_hashes > 5:
        raise ValueError(f"bloom: n_hashes must be 1..5, got {n_hashes}")
    digest = F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string")))
    return [
        F.conv(F.substring(digest, p * 6 + 1, 6), 16, 10).cast("bigint") % n_bits
        for p in range(n_hashes)
    ]


def bloom_build(
    hashes: DataFrame,
    value_col: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
    seed: int = 40,
) -> list[int]:
    """Distributed Bloom-filter build over a hash column: each value sets
    ``n_hashes`` md5-derived bit positions; the bit array is aggregated
    as ``n_bits/64`` longs via one map-side-combinable ``bit_or`` groupBy
    and only those words (16 KiB at 2^17 bits) reach the driver.

    Deterministic by construction (md5 probes, no RNG), so the filter is
    reproducible across runs/engines — the property that lets
    :func:`decontaminate_bloom` stay oracle-exact.
    """
    n_words = _bloom_word_count(n_bits)
    probes = F.array(*_bloom_positions(F.col(value_col), n_bits, n_hashes, seed))
    words = (
        hashes.select(F.explode(probes).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            # shiftleft()'s python signature only takes an int literal, so
            # the column-shift is spelled in SQL
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    out = [0] * n_words
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def bloom_might_contain(
    col,
    words: list[int],
    n_bits: int,
    n_hashes: int = 5,
    seed: int = 40,
):
    """JVM membership probe against a literal Bloom bit array: true iff
    ALL ``n_hashes`` positions are set — no false negatives ever, false
    positives at the classic ``(1 - e^(-kn/m))^k`` rate."""
    n_words = _bloom_word_count(n_bits)
    if len(words) != n_words:
        # a short array would make element_at read NULL past the end and
        # the probe silently return false — a FALSE NEGATIVE, the one
        # failure mode a Bloom filter must never have
        raise ValueError(
            f"bloom: words has {len(words)} longs but n_bits={n_bits} "
            f"needs exactly {n_words}"
        )
    words_lit = F.array(*[F.lit(x).cast("long") for x in words])
    cond = None
    for pos in _bloom_positions(col, n_bits, n_hashes, seed):
        word = F.element_at(words_lit, (pos / 64).cast("int") + 1)
        c = F.getbit(word, (pos % 64).cast("int")) == 1
        cond = c if cond is None else (cond & c)
    return cond


def decontaminate_bloom(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
    seed: int = 40,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter on the corpus side —
    IDENTICAL output by construction (a Bloom filter has no false
    negatives, and every false positive dies in the exact join that
    follows), which is why the registered face shares the exact
    operator's DuckDB oracle verbatim.

    Why it exists (100 TB): plain decontaminate broadcasts the FULL
    distinct bench n-gram hash set (8 bytes each — a 10^9-gram
    benchmark suite is ~8 GB, past broadcast limits).  The Bloom bit
    array is ~1-2 bits per gram (128 MB for 10^9 at 1% FP), cheap to
    broadcast; ~99% of corpus grams short-circuit in the map-side probe
    and only the survivors (true hits + the FP trickle) reach the exact
    equi-join, whose build side can then stay a broadcast.  At test
    scale the measured prefilter pass-rate is asserted in
    tests/test_curation.py.
    """
    corpus_grams = doc_shingles(df, id_col, text_col, n).select(
        F.col(id_col), _md5_long(F.col("shingle")).alias("g")
    )
    bench_grams = (
        doc_shingles(bench, id_col, text_col, n)
        .select(_md5_long(F.col("shingle")).alias("g"))
        .distinct()
    )
    words = bloom_build(bench_grams, "g", n_bits, n_hashes, seed)
    pref = corpus_grams.where(
        bloom_might_contain(F.col("g"), words, n_bits, n_hashes, seed)
    )
    hits = (
        pref.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@dataclass(frozen=True)
class ContaminationIndex:
    """The bench side of :func:`decontaminate_bloom`, built ONCE and
    reused across calls: the distinct benchmark n-gram hashes pinned in
    memory (``localCheckpoint`` — micro-batches must not re-shingle the
    benchmark suite) plus the Bloom bit array over them and the exact
    geometry it was built with (a probe with different geometry would
    silently produce false negatives, so the gate re-derives every
    probe from the stored values)."""

    bench_grams: DataFrame
    words: list[int]
    n: int
    n_bits: int
    n_hashes: int
    seed: int


def contamination_index(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
    seed: int = 40,
) -> ContaminationIndex:
    """Precompute the benchmark-suite side of the decontamination gate.

    The continual-ingest pattern: a crawl pipeline gates every arriving
    micro-batch against the SAME benchmark suite, so shingling the
    suite, deduping its grams and folding the Bloom array per batch is
    pure waste — at 100 TB ingest the bench side is a fixed artifact
    (rebuild only when the benchmark suite changes).  Build once here,
    gate each batch with :func:`decontaminate_bloom_indexed`; the
    composition is output-identical to :func:`decontaminate_bloom` on
    the same inputs (asserted in tests/test_curation.py), which keeps
    the streaming gate under the batch operator's oracle."""
    bench_grams = (
        doc_shingles(bench, id_col, text_col, n)
        .select(_md5_long(F.col("shingle")).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    words = bloom_build(bench_grams, "g", n_bits, n_hashes, seed)
    return ContaminationIndex(
        bench_grams=bench_grams,
        words=words,
        n=n,
        n_bits=n_bits,
        n_hashes=n_hashes,
        seed=seed,
    )


def decontaminate_bloom_indexed(
    df: DataFrame,
    index: ContaminationIndex,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """:func:`decontaminate_bloom`'s per-batch body against a prebuilt
    :class:`ContaminationIndex`: the arriving batch's grams
    short-circuit on the broadcast-literal Bloom probe and only
    survivors reach the exact equi-join against the pinned bench grams
    — the ``foreachBatch`` gate for continual-ingest decontamination
    (the decontamination sibling of the incremental-dedup foreachBatch
    face).  No false negatives by Bloom construction; every false
    positive dies in the exact join, so the verdicts equal the batch
    operator's exactly."""
    corpus_grams = doc_shingles(df, id_col, text_col, index.n).select(
        F.col(id_col), _md5_long(F.col("shingle")).alias("g")
    )
    pref = corpus_grams.where(
        bloom_might_contain(
            F.col("g"), index.words, index.n_bits, index.n_hashes, index.seed
        )
    )
    hits = (
        pref.join(F.broadcast(index.bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def preference_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    max_pairs_per_group: int = 1,
    margin: float = 0.0,
    round_digits: int = 6,
) -> DataFrame:
    """Chosen/rejected pair construction for preference tuning (DPO,
    RLHF reward modelling): within each ``group_col`` (a prompt, a
    query, a task id), pair the i-th best-scored row with the i-th
    worst (i = 1..``max_pairs_per_group``), keeping a pair only when
    the score gap clears ``margin`` — pairs a model can't distinguish
    teach nothing and dilute the batch.

    Deterministic by construction: rows are totally ordered by
    ``(score DESC, id ASC)``, so ranks, pairs, and output are a pure
    function of the data — no sampling, no ties left to the engine.
    The i-th worst is rank ``m+1-i`` of the SAME ordering (a reversed
    total order is the same total order), so one window pass yields
    both sides; ``2·i <= m`` stops the pair index from crossing the
    middle (a row never pairs with itself, a (chosen, rejected) row
    pair is never emitted twice in reversed roles).

    Scale (100 TB): one shuffle on ``group_col`` for the window, then a
    self-equi-join on ``(group, pair index)`` — both sides are already
    rank-filtered to ≤ ``max_pairs_per_group`` rows per group, so the
    join input is tiny regardless of group fan-out.  Skewed prompt
    groups cost what their window sort costs; nothing is all-pairs.
    """
    if max_pairs_per_group < 1:
        raise ValueError(
            "preference_pairs: max_pairs_per_group must be >= 1, got "
            f"{max_pairs_per_group}"
        )
    ranked = df.select(
        F.col(group_col).alias("group"),
        F.col(id_col).alias("_id"),
        F.round(F.col(score_col).cast("double"), round_digits).alias("_score"),
    ).select(
        "*",
        F.row_number().over(
            Window.partitionBy("group").orderBy(
                F.col("_score").desc(), F.col("_id").asc()
            )
        ).alias("_rk"),
        F.count(F.lit(1)).over(Window.partitionBy("group")).alias("_m"),
    )
    chosen = ranked.where(
        (F.col("_rk") <= max_pairs_per_group) & (2 * F.col("_rk") <= F.col("_m"))
    ).select(
        "group",
        F.col("_rk").alias("pair_rank"),
        F.col("_id").alias("chosen_id"),
        F.col("_score").alias("chosen_score"),
    )
    rejected = ranked.select(
        F.col("group").alias("group_r"),
        (F.col("_m") + 1 - F.col("_rk")).alias("pair_rank_r"),
        F.col("_id").alias("rejected_id"),
        F.col("_score").alias("rejected_score"),
    )
    return (
        chosen.join(
            rejected,
            (F.col("group") == F.col("group_r"))
            & (F.col("pair_rank") == F.col("pair_rank_r")),
        )
        .where(
            F.col("chosen_score") - F.col("rejected_score") >= F.lit(float(margin))
        )
        .select(
            "group",
            "pair_rank",
            "chosen_id",
            "chosen_score",
            "rejected_id",
            "rejected_score",
            F.round(F.col("chosen_score") - F.col("rejected_score"), round_digits)
            .alias("score_gap"),
        )
    )


def global_row_number(
    df: DataFrame,
    ordering,
    rn_col: str = "_grn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scalable exact global row number over a TOTAL order — the
    distributed replacement for ``row_number().over(Window.orderBy(...))``,
    which Spark executes by moving every row into ONE task (the
    WindowExec "No Partition Defined" path — a single-task sort/OOM at
    corpus scale).

    Classic two-pass pattern instead: (1) ``repartitionByRange`` on the
    ordering (range partition *p* holds a contiguous slice of the total
    order) + ``sortWithinPartitions``, pinned with a lazy
    ``localCheckpoint`` so both passes see identical partition
    membership; (2) one cheap count-per-partition aggregate gives the
    driver O(P) prefix offsets, broadcast-joined back; the within-
    partition index comes from ``monotonically_increasing_id``'s
    documented layout (partition id in the upper 31 bits, record index
    in the lower 33) — no window, no second data shuffle.

    ``ordering`` must be a TOTAL order (include a unique id as the
    final key): ties split across range-partition boundaries would
    otherwise make the rank nondeterministic.
    """
    spark = df.sparkSession
    n_parts = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    part = (
        df.repartitionByRange(n_parts, *ordering)
        .sortWithinPartitions(*ordering)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    part = part.withColumn("_pid", F.shiftright("_mid", 33))
    cnts = sorted(
        (r["_pid"], r["n"])
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in cnts:
        offsets.append((pid, acc))
        acc += n
    off = spark.createDataFrame(offsets, "_pid long, _off long")
    return (
        part.join(F.broadcast(off), "_pid")
        .withColumn(
            rn_col,
            F.col("_off") + (F.col("_mid") % F.lit(1 << 33)) + F.lit(1),
        )
        .drop("_pid", "_mid", "_off")
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_stages: int = 4,
    ascending: bool = True,
) -> DataFrame:
    """Curriculum assignment: bucket the corpus into ``n_stages``
    equal-size difficulty stages (exact NTILE semantics over the score)
    and give each row its deterministic position within its stage — the
    order a curriculum scheduler streams (easy → hard when
    ``ascending``, the reverse for anti-curriculum).  Emits ``(id,
    score, stage, stage_pos)``.

    NULL scores are refused loudly (same contract as the probe/PCA
    geometry guards): a NULL would sort differently across engines and
    silently concentrate in stage 1 or ``n_stages``.

    Scale (100 TB): an unpartitioned ``ntile().over(Window.orderBy())``
    would move ALL rows to a single task (WindowExec's "No Partition
    Defined" path) — a single-task sort/OOM at corpus scale.  Instead
    the global rank comes from :func:`global_row_number` (range
    partition + per-partition offsets — the sort is split across
    executors, driver state is O(partitions)), and stage / stage_pos
    are then pure per-row integer arithmetic reproducing NTILE's exact
    bucket sizes: with ``q, r = divmod(n, k)`` the first ``r`` stages
    get ``q+1`` rows.  At trainer scale you materialize this once per
    curriculum build, not per epoch.
    """
    if n_stages < 1:
        raise ValueError(f"curriculum_order: n_stages must be >= 1, got {n_stages}")
    n_null = df.where(F.col(score_col).isNull()).limit(1).count()
    if n_null:
        raise ValueError(
            f"curriculum_order: NULL {score_col} rows present — score or drop "
            "them explicitly before ordering"
        )
    direction = (
        (F.col(score_col).asc(), F.col(id_col).asc())
        if ascending
        else (F.col(score_col).desc(), F.col(id_col).desc())
    )
    ranked = global_row_number(
        df.select(F.col(id_col), F.col(score_col)), direction, rn_col="_rn"
    )
    return _ntile_from_rank(ranked, id_col, score_col, n_stages)


def _ntile_from_rank(
    ranked: DataFrame, id_col: str, score_col: str, n_stages: int
) -> DataFrame:
    """NTILE(k) + in-stage position from an exact global rank ``_rn``
    over ``n`` rows, as pure JVM integer arithmetic: ``q, r =
    divmod(n, k)``; ranks ``<= r*(q+1)`` fall in the first ``r``
    (larger) stages, the rest in stages of size ``q``; ``stage_pos =
    rn - stage_start``.  Bit-identical to Spark's/DuckDB's NTILE tie
    handling because the rank itself encodes the total order."""
    # the count is known exactly from the rank pass — one max, no rescan
    n = ranked.agg(F.max("_rn").alias("n")).collect()[0]["n"] or 0
    q, r = divmod(n, n_stages)
    rn = F.col("_rn")
    big = F.lit(r * (q + 1))  # rows covered by the r larger stages
    # integer DIV (not double /): exact past 2^53 rows
    stage = F.when(
        rn <= big,
        F.expr(f"CAST((_rn - 1) DIV {q + 1} AS INT) + 1"),
    ).otherwise(
        F.expr(
            f"CAST({r + 1} + (_rn - {r * (q + 1)} - 1) DIV {max(q, 1)} AS INT)"
        )
    )
    staged = ranked.withColumn("stage", stage)
    start = (F.col("stage") - 1) * F.lit(q) + F.least(
        F.col("stage") - 1, F.lit(r)
    )
    return staged.select(
        id_col,
        score_col,
        "stage",
        (F.col("_rn") - start).cast("int").alias("stage_pos"),
    )


def decontaminate_fuzzy(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus documents that are
    MinHash near-duplicates of a held-out evaluation set.  The exact
    :func:`decontaminate` catches verbatim n-gram overlap; paraphrased
    or lightly-edited eval leakage (the common contamination mode in
    scraped corpora — same answer, reflowed words) clears an exact
    n-gram gate while sitting at high shingle-Jaccard, which is
    precisely what the fuzzy pair machinery measures.

    Composition, not new machinery: the cross-corpus pairs come from
    ``dedup.minhash_incremental`` (corpus side banded against the bench
    side — LSH candidates, then exact-Jaccard verification), then one
    per-document aggregation turns pairs into a verdict.  Every corpus
    row is emitted: ``(id, n_bench_matches, max_jaccard,
    contaminated)`` — ``max_jaccard`` is NULL for clean documents.

    Scale (100 TB): the bench side is benchmark-sized (MBs); the corpus
    never self-joins — candidates are the (band, sig) equi-join of
    corpus bands against bench bands, so candidate volume is bounded by
    bench fan-out, and the exact verification touches only survivors.
    Inherits the banded, never-all-pairs story of
    :func:`~lightfusion_spark.operators.dedup.minhash_incremental`
    wholesale.
    """
    from .dedup import minhash_incremental

    pairs = minhash_incremental(
        df, bench, id_col, text_col,
        n_hashes=n_hashes, rows_per_band=rows_per_band,
        shingle_n=shingle_n, threshold=threshold,
    )
    hits = pairs.groupBy("id_a").agg(
        F.count(F.lit(1)).alias("n_bench_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        df.select(F.col(id_col))
        .join(hits, F.col(id_col) == F.col("id_a"), "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bench_matches", F.lit(0)).alias("n_bench_matches"),
            "max_jaccard",
            (F.coalesce("n_bench_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def diversity_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    quota_per_cluster: int,
    n_centroids: int = 16,
    seed: int = 0,
    round_digits: int = 6,
) -> DataFrame:
    """Cluster-stratified sampling over an embedding column: assign each
    vector to its coarse cell (the deterministic IVF quantizer), then
    keep up to ``quota_per_cluster`` rows per cell by deterministic
    hash priority.  Emits ``(id, centroid_id, sample_rank)``.

    This is the eval-set / few-shot-pool / annotation-batch constructor
    a uniform sample gets wrong: uniform sampling reproduces the
    corpus's cluster skew, so head topics swamp the tail and the sample
    "covers" only what was already overrepresented.  Capping per cell
    guarantees every occupied region of embedding space contributes, at
    the cost of deliberately non-proportional rates — the same
    trade :func:`temperature_mixture_sample` makes for source strata,
    here for semantic strata that no metadata column captures.

    Determinism: cell assignment is the seeded-centroid GEMM the IVF
    faces replay in SQL; the in-cell priority is the md5 uniform of
    ``(seed, id)`` — a pure function of the data, reproducible across
    engines, partitionings, and re-runs.

    Scale (100 TB): centroids broadcast (literal-inlined); assignment
    is one Arrow-batched GEMM pass; the per-cell top-``quota`` is a
    rank window whose partial (WindowGroupLimit) prunes each partition
    to its local top rows BEFORE the exchange, so the shuffle carries
    ~``quota x partitions`` rows per cell, never the corpus.
    """
    if quota_per_cluster < 1:
        raise ValueError(
            "diversity_sample: quota_per_cluster must be >= 1, got "
            f"{quota_per_cluster}"
        )
    from .similarity import assign_to_centroids, seed_centroids

    cents = seed_centroids(corpus, id_col, vec_col, n_centroids)
    assign = assign_to_centroids(corpus, cents, id_col, vec_col, round_digits)
    pri = _md5_long(F.col(id_col).cast("string"), seed=seed)
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("_pri").asc(), F.col(id_col).asc()
    )
    return (
        assign.select(F.col(id_col), F.col("centroid_id"), pri.alias("_pri"))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota_per_cluster)
        .select(id_col, "centroid_id", "sample_rank")
    )


def _dsir_grams(df: DataFrame, text_col: str):
    """Unigrams + bigrams of the whitespace tokens of ``lower(text)``
    as one exploded ``gram`` column (empties dropped BEFORE bigram
    formation, so both engines see identical adjacency)."""
    tk = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    grams = F.concat(
        tk,
        F.expr(
            "transform(slice(_tk, 1, greatest(size(_tk) - 1, 0)), (x, i) -> "
            "concat(x, ' ', _tk[i + 1]))"
        ),
    )
    return df.withColumn("_tk", tk).withColumn("gram", F.explode(grams))


def dsir_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    seed: int = 17,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by ``log p_target(x) − log p_raw(x)`` under two hashed
    bag-of-ngrams models — the published recipe for steering a
    web-scale corpus toward a trusted target domain without training a
    classifier.  Returns ``(id, logw_micro)`` (BIGINT micro units).

    Features are unigrams+bigrams hashed into ``n_buckets`` md5 buckets
    — the vocabulary is bounded BY CONSTRUCTION (the paper's trick), so
    both bag models and the per-bucket log-ratio table are ≤ n_buckets
    rows however large either corpus is; the ratio table broadcasts and
    scoring is one map-side join + one grouped BIGINT sum.  Bucket
    log-probs are add-``alpha`` smoothed, ``ROUND(LN(·),6)``-rounded,
    and differenced in micro units, so weights replay hash-exactly in
    DuckDB (same discipline as ``nbayes``).  Documents with no tokens
    get ``logw_micro = 0`` (equal prior odds — they carry no evidence).
    """
    if n_buckets < 2:
        raise ValueError(f"dsir_weights: need n_buckets >= 2, got {n_buckets}")
    bucket = (
        _md5_long(F.col("gram"), seed=seed) % F.lit(int(n_buckets))
    ).alias("bucket")

    # Degenerate-parallelism guard (r17): the gram explode + md5 bucket
    # hash runs over the raw corpus TWICE (bag counts + doc scoring) and
    # the target once; fan the projected rows out so those passes run
    # wide instead of in one task on single-split scans.  Bucket counts
    # and ratio sums are exact integers — partitioning-proof.
    from .fanout import fan_out as _fan_out

    src = _fan_out(df.select(id_col, text_col))
    raw_counts = (
        _dsir_grams(src, text_col)
        .select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    tgt_counts = (
        _dsir_grams(_fan_out(target_df.select(text_col)), text_col)
        .select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot_r = raw_counts.agg(F.sum("cr").alias("tr"))
    tot_t = tgt_counts.agg(F.sum("ct").alias("tt"))
    a, b = float(alpha), float(alpha) * float(n_buckets)
    # Per-bucket log-ratio over the RAW-occupied buckets (every scored
    # gram lands in one by construction); ≤ n_buckets rows, broadcast.
    lp = lambda c, t: F.floor(  # noqa: E731
        F.round(
            F.log(
                (F.coalesce(c, F.lit(0)).cast("double") + F.lit(a))
                / (t.cast("double") + F.lit(b))
            ),
            6,
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    ratios = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(tot_r)
        .crossJoin(tot_t)
        .select(
            "bucket",
            (lp(F.col("ct"), F.col("tt")) - lp(F.col("cr"), F.col("tr"))).alias(
                "ratio_micro"
            ),
        )
    )
    doc_sums = (
        _dsir_grams(src, text_col)
        .select(F.col(id_col).alias("_id"), bucket)
        .join(F.broadcast(ratios), "bucket")
        .groupBy("_id")
        .agg(F.sum("ratio_micro").alias("logw_micro"))
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(doc_sums, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("logw_micro"), F.lit(0)).alias("logw_micro"),
        )
    )


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    seed: int = 17,
    sample_seed: int = 13,
) -> DataFrame:
    """The DSIR resample step: draw ``k`` documents WITHOUT replacement
    with probability ∝ ``exp(logw)`` via the Gumbel-top-k trick — rank
    by ``logw + g`` where ``g = −ln(−ln(u))`` on a deterministic md5
    uniform, take the top k (Gumbel-max: argmax of logits+Gumbel is a
    softmax draw; top-k extends it to sampling without replacement).
    Returns ``(id, logw_micro, rank)``.

    Engine-replayable like the A-ES sampler: ``u = (md5_56(seed:id) %
    1e6 + 1) / (1e6 + 1)`` (never 0 or 1, so both logs are finite) and
    the Gumbel is ``round(−ln(−ln(u)), 6)``; ``logw`` re-enters as the
    exact double ``logw_micro / 1e6``.  Ties order (key DESC, id ASC).
    One window over the key projection — the selection itself is a
    map-side partial top-k, same shape as the weighted reservoir.
    """
    weights = dsir_weights(
        df, target_df, id_col, text_col, n_buckets=n_buckets, alpha=alpha, seed=seed
    )
    u = (
        (_md5_long(F.col(id_col).cast("string"), seed=sample_seed) % _U_MOD) + 1
    ) / F.lit(float(_U_MOD + 1))
    g = F.round(-F.log(-F.log(u)), 6)
    key = (F.col("logw_micro").cast("double") / F.lit(1e6)) + g
    w = Window.orderBy(F.col("_key").desc(), F.col(id_col).asc())
    return (
        weights.select(id_col, "logw_micro", key.alias("_key"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "logw_micro", "rank")
    )


def unimax_allocate(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    max_epochs: int,
    budget_frac: tuple[int, int] = (1, 2),
) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): spread a total
    token budget as UNIFORMLY as possible across strata (sources /
    languages), except no stratum may repeat more than ``max_epochs``
    epochs of its own data — the principled alternative to temperature
    mixing that needs no tuned exponent and provably bounds
    low-resource over-repetition.

    The budget is ``B = total_tokens * num div den`` with
    ``budget_frac = (num, den)`` (derived in-plan from the corpus, so
    the same call works at every scale factor).  Water-filling in one
    pass over the per-stratum totals, sorted by cap ``c = epochs *
    size`` ascending: stratum i (of N, 1-based) is CAPPED iff
    ``c_i * (N - i + 1) <= B - prefix_caps_before_i`` — the condition
    is monotone along the sort, so the capped set is a prefix; every
    uncapped stratum splits the remaining budget equally, as integers:
    ``base = rem div K`` with the ``rem % K`` leftover tokens going to
    the first ``leftover`` uncapped strata in sort order
    (largest-remainder style — allocations SUM EXACTLY to min(B,
    sum of caps), no rounding drift).

    Returns one row per stratum: ``(strata, stratum_tokens, cap,
    alloc, epochs)``.  Everything is integer arithmetic except
    ``epochs = alloc / stratum_tokens`` — one exact IEEE division —
    so the result is hash-exact with no rounding.

    100 TB shape: the corpus-scale work is ONE map-side-combinable
    aggregation (per-stratum token sums); the water-filling windows
    run over the N-row stratum relation (N = number of sources /
    languages — tens, by construction), so the unpartitioned sort is
    N rows on one task, never the corpus.  Apply the result by
    joining ``alloc``/``stratum_tokens`` back as a broadcast sampling
    rate.
    """
    if max_epochs < 1:
        raise ValueError(f"unimax_allocate: max_epochs must be >= 1, got {max_epochs}")
    num, den = budget_frac
    if num < 1 or den < 1:
        raise ValueError(
            f"unimax_allocate: budget_frac must be positive integers, got {budget_frac}"
        )
    sizes = (
        df.groupBy(F.col(strata_col).alias("strata"))
        .agg(F.coalesce(F.sum(F.col(token_col).cast("bigint")), F.lit(0)).alias(
            "stratum_tokens"
        ))
        .select(
            "strata",
            "stratum_tokens",
            (F.col("stratum_tokens") * F.lit(int(max_epochs))).alias("cap"),
        )
    )
    # N is tens of strata: these windows sort N rows, not the corpus
    w = Window.orderBy(F.col("cap").asc(), F.col("strata").asc())
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = sizes.select(
        "strata",
        "stratum_tokens",
        "cap",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("prefix"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.expr(
            f"(sum(stratum_tokens) over ()) * {int(num)} div {int(den)}"
        ).alias("budget"),
    ).withColumn(
        "capped",
        F.col("cap") * (F.col("n") - F.col("i") + 1)
        <= F.col("budget") - F.col("prefix"),
    )
    summary = staged.agg(
        F.sum(F.when(F.col("capped"), F.col("cap")).otherwise(0)).alias(
            "total_capped"
        ),
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).alias("n_capped"),
    )
    rem = F.col("budget") - F.col("total_capped")
    k_unc = F.col("n") - F.col("n_capped")
    base = F.when(k_unc > 0, F.expr(
        "(budget - total_capped) div (n - n_capped)"
    )).otherwise(F.lit(0))
    leftover = F.when(k_unc > 0, rem % k_unc).otherwise(F.lit(0))
    rank_unc = F.col("i") - F.col("n_capped")
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(
        base + F.when(rank_unc <= leftover, 1).otherwise(0)
    )
    return (
        staged.crossJoin(F.broadcast(summary))
        .select(
            "strata",
            "stratum_tokens",
            "cap",
            alloc.cast("bigint").alias("alloc"),
            F.when(F.col("stratum_tokens") > 0, 
                   alloc.cast("double") / F.col("stratum_tokens").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("epochs"),
        )
    )
