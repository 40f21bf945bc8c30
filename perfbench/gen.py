"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical files.  Three artifacts:

* ``model_text`` — a multiclass LightGBM text model (``iterations`` x
  ``num_class`` trees, ``num_leaves`` leaves each, ``num_features``
  features).  Trees grow leaf-wise the way LightGBM numbers them, and a
  share of the split nodes use missing-type NaN with a random default
  direction, so NaN features take both branches.
* ``write_feature_parquet`` — ``id BIGINT, features ARRAY<DOUBLE>`` split
  into a fixed number of files (one Spark task each), with a stated share
  of NaN elements.
* ``write_tsv`` — headerless, tab-separated rows in the reference's
  ``multiclass.test`` layout: an integer label, then the features.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: decision_type bits (LightGBM tree.h): bit1 default-left, bits 2-3 the
#: missing type (2 = NaN).
_DEFAULT_LEFT = 2
_MISSING_NAN = 2 << 2


def _fmt(values) -> str:
    return " ".join(repr(float(v)) for v in values)


def _tree_text(rng: np.random.Generator, idx: int, num_leaves: int, num_features: int,
               nan_node_share: float) -> str:
    n_internal = num_leaves - 1
    left = [0] * n_internal
    right = [0] * n_internal
    # where each leaf hangs: (internal node, is_left); the root leaf has none
    leaf_parent: list[tuple[int, bool] | None] = [None]
    for node in range(n_internal):
        leaf = int(rng.integers(0, len(leaf_parent)))
        new_leaf = len(leaf_parent)
        parent = leaf_parent[leaf]
        if parent is not None:
            p, is_left = parent
            (left if is_left else right)[p] = node
        left[node], right[node] = ~leaf, ~new_leaf
        leaf_parent[leaf] = (node, True)
        leaf_parent.append((node, False))

    split_feature = rng.integers(0, num_features, size=n_internal)
    threshold = np.round(rng.normal(0.0, 0.8, size=n_internal), 6)
    nan_node = rng.random(n_internal) < nan_node_share
    default_left = rng.random(n_internal) < 0.5
    decision_type = np.where(
        nan_node, _MISSING_NAN | np.where(default_left, _DEFAULT_LEFT, 0), _DEFAULT_LEFT
    )
    leaf_value = rng.normal(0.0, 0.05, size=num_leaves)
    leaf_count = rng.integers(20, 2000, size=num_leaves)
    lines = [
        f"Tree={idx}",
        f"num_leaves={num_leaves}",
        "num_cat=0",
        "split_feature=" + " ".join(str(int(f)) for f in split_feature),
        "split_gain=" + _fmt(np.round(rng.random(n_internal) * 100, 4)),
        "threshold=" + _fmt(threshold),
        "decision_type=" + " ".join(str(int(d)) for d in decision_type),
        "left_child=" + " ".join(str(c) for c in left),
        "right_child=" + " ".join(str(c) for c in right),
        "leaf_value=" + _fmt(leaf_value),
        "leaf_weight=" + _fmt(leaf_count * 0.25),
        "leaf_count=" + " ".join(str(int(c)) for c in leaf_count),
        "internal_value=" + _fmt(np.zeros(n_internal)),
        "internal_weight=" + _fmt(np.zeros(n_internal)),
        "internal_count=" + " ".join("0" for _ in range(n_internal)),
        "is_linear=0",
        "shrinkage=0.1",
    ]
    return "\n".join(lines) + "\n\n"


def model_text(seed: int, iterations: int = 100, num_class: int = 5, num_leaves: int = 31,
               num_features: int = 28, nan_node_share: float = 0.25) -> str:
    """A multiclass LightGBM text model, deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_trees = iterations * num_class
    parts = [
        "tree\nversion=v4\n"
        f"num_class={num_class}\nnum_tree_per_iteration={num_class}\nlabel_index=0\n"
        f"max_feature_idx={num_features - 1}\n"
        f"objective=multiclass num_class:{num_class}\n"
        "feature_names=" + " ".join(f"Column_{i}" for i in range(num_features)) + "\n"
        "feature_infos=" + " ".join("[-4:4]" for _ in range(num_features)) + "\n\n"
    ]
    parts += [_tree_text(rng, i, num_leaves, num_features, nan_node_share) for i in range(n_trees)]
    parts.append("end of trees\n")
    return "".join(parts)


def feature_matrix(seed: int, n_rows: int, num_features: int, nan_share: float,
                   stream: int) -> np.ndarray:
    rng = np.random.default_rng([seed, stream])
    x = np.round(rng.normal(0.0, 1.0, size=(n_rows, num_features)), 6)
    if nan_share > 0:
        x[rng.random(x.shape) < nan_share] = np.nan
    return x


def write_feature_parquet(path: str, seed: int, n_rows: int, num_features: int = 28,
                          nan_share: float = 0.05, n_files: int = 8) -> np.ndarray:
    """Write the ``id, features`` table as ``n_files`` parquet files under
    ``path``; returns the feature matrix (row ``i`` has ``id == i``)."""
    x = feature_matrix(seed, n_rows, num_features, nan_share, stream=2)
    os.makedirs(path, exist_ok=True)
    for part, rows in enumerate(np.array_split(np.arange(n_rows), n_files)):
        flat = pa.array(x[rows].ravel(), type=pa.float64())
        offsets = pa.array(np.arange(len(rows) + 1, dtype=np.int32) * num_features)
        table = pa.table({
            "id": pa.array(rows, type=pa.int64()),
            "features": pa.ListArray.from_arrays(offsets, flat),
        })
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
    return x


def write_tsv(path: str, seed: int, n_rows: int, num_features: int = 28,
              num_class: int = 5) -> None:
    """Headerless TSV: ``label`` then ``num_features`` features per row."""
    rng = np.random.default_rng([seed, 3])
    labels = rng.integers(0, num_class, size=n_rows)
    x = np.round(rng.normal(0.0, 1.0, size=(n_rows, num_features)), 6)
    cols = {"label": pa.array(labels, type=pa.int32())}
    cols.update({f"f{i}": pa.array(x[:, i]) for i in range(num_features)})
    pacsv.write_csv(
        pa.table(cols), path,
        write_options=pacsv.WriteOptions(include_header=False, delimiter="\t"),
    )
