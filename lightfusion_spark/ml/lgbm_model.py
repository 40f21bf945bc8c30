"""Pure-NumPy scorer for the public LightGBM *text* model format.

The reference engine (milenkovicm/lightfusion) scores models by FFI into the
LightGBM C++ library (``Booster::from_file`` + ``Booster::predict``,
reference ``src/udf.rs:92-97,187-189``).  This environment has no ``lightgbm``
wheel and the reference's model blob is a missing LFS pointer
(``.MISSING_LARGE_BLOBS:1``), so we re-implement prediction over the
*documented public text format* that ``Booster::save_model`` emits:

    tree
    version=v4
    num_class=5
    num_tree_per_iteration=5
    max_feature_idx=27
    objective=multiclass num_class:5
    ...
    Tree=0
    num_leaves=3
    split_feature=0 1
    threshold=0.5 1.25
    decision_type=2 2
    left_child=1 -1
    right_child=-2 -3
    leaf_value=0.1 0.2 0.3
    ...
    end of trees

Semantics implemented (matching LightGBM's ``Tree::Predict``):

* numerical splits: ``value <= threshold`` goes left, else right;
* categorical splits (``decision_type`` bit0): the node's ``threshold``
  holds the *categorical-split index*; ``cat_boundaries`` maps that index
  to a word range inside ``cat_threshold`` (a uint32 bitset); a row whose
  truncated feature value is a member of the bitset goes left, anything
  else — negative values, NaN, out-of-range categories — goes right
  (LightGBM ``Tree::CategoricalDecision`` / ``Common::FindInBitset``);
* ``decision_type`` bit flags: bit0 = categorical split,
  bit1 = default-left for missing values, bits 2-3 = missing type
  (0 = none, 1 = zero, 2 = NaN);
* child encoding: a negative child ``c`` denotes leaf ``~c`` (= ``-c - 1``);
* multiclass: tree ``t`` contributes to class ``t % num_tree_per_iteration``;
  raw scores go through softmax for ``multiclass``, sigmoid for ``binary``,
  identity otherwise.

A model this scorer would mis-score is REJECTED at parse time with
:class:`~lightfusion_spark.errors.UnsupportedModelError`: the ``poisson``,
``gamma``, ``tweedie`` and ``cross_entropy_lambda`` objectives (LightGBM
applies ``exp``/``log1p(exp)``), a ``sqrt`` objective flag, a
``sigmoid:<k>`` coefficient other than 1 on ``binary``/``multiclassova``,
``average_output`` (random-forest models) and linear trees
(``is_linear=1``).

Traversal is vectorized over rows with NumPy (no Python-per-row loop).
Each node's decision fields — default-left, missing-type Zero, the route a
NaN takes, categorical — are derived from ``decision_type`` once, when the
tree is built.  Per tree, a shrinking array of active row indices descends
level by level, and rows drop out of it as they reach a leaf.  Tree depth
bounds the loop, so one call costs O(depth) NumPy ops per tree whatever the
row count: scoring a whole batch in one call is far cheaper than scoring it
in chunks, and gives the same bits, because every row is scored on its own
(per-tree sums in tree order, the softmax along the row).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..errors import UnsupportedModelError

_CATEGORICAL_MASK = 1
_DEFAULT_LEFT_MASK = 2
_MISSING_TYPE_NONE = 0
_MISSING_TYPE_ZERO = 1
_MISSING_TYPE_NAN = 2
#: objectives whose output transform :meth:`LightGBMModel.predict` lacks
_UNSCORED_OBJECTIVES = ("poisson", "gamma", "tweedie", "cross_entropy_lambda")


@dataclass
class Tree:
    """One decision tree parsed from a ``Tree=N`` section."""

    num_leaves: int
    split_feature: np.ndarray  # (num_leaves - 1,) int
    threshold: np.ndarray  # (num_leaves - 1,) float64
    decision_type: np.ndarray  # (num_leaves - 1,) int
    left_child: np.ndarray  # (num_leaves - 1,) int  (negative => leaf ~c)
    right_child: np.ndarray  # (num_leaves - 1,) int
    leaf_value: np.ndarray  # (num_leaves,) float64
    shrinkage: float = 1.0
    #: categorical-split bitsets (``num_cat > 0`` trees only):
    #: ``cat_boundaries`` (n_cat_splits + 1,) prefix offsets into
    #: ``cat_threshold`` (uint32 bitset words); a categorical node's
    #: ``threshold`` value is its index into ``cat_boundaries``.
    cat_boundaries: np.ndarray | None = None
    cat_threshold: np.ndarray | None = None

    def __post_init__(self) -> None:
        # Per-node decision fields, derived once from ``decision_type`` so
        # that traversal decodes no bits.
        dtyp = self.decision_type
        missing_type = (dtyp >> 2) & 3
        self._default_left = (dtyp & _DEFAULT_LEFT_MASK) != 0
        self._missing_zero = missing_type == _MISSING_TYPE_ZERO
        self._has_zero_missing = np.count_nonzero(self._missing_zero) > 0
        self._categorical = (dtyp & _CATEGORICAL_MASK) != 0
        self._has_categorical = np.count_nonzero(self._categorical) > 0
        if self._has_categorical and self.cat_boundaries is None:
            raise ValueError(
                "decision_type marks a categorical split but the tree has no "
                "cat_boundaries/cat_threshold section"
            )
        # Where a NaN goes at each numerical node: missing-type NaN takes the
        # default branch; otherwise NaN counts as 0.0, which missing-type
        # Zero sends the default way and missing-type None compares.
        self._nan_left = np.where(
            (missing_type == _MISSING_TYPE_NAN) | self._missing_zero,
            self._default_left,
            0.0 <= self.threshold,
        )

    def _categorical_go_left(self, vals: np.ndarray, thr: np.ndarray) -> np.ndarray:
        """Vectorized ``Tree::CategoricalDecision`` (LightGBM tree.h):
        membership of ``trunc(value)`` in the node's uint32 bitset goes
        left; NaN, negatives and out-of-range categories go right."""
        # NaN -> -1 -> the int_fval < 0 "go right" branch (LightGBM's
        # comment: "NaN is always in the right").
        int_fval = np.trunc(np.where(np.isnan(vals), -1.0, vals)).astype(np.int64)
        cat_idx = thr.astype(np.int64)
        start = self.cat_boundaries[cat_idx]
        n_words = self.cat_boundaries[cat_idx + 1] - start
        word = int_fval >> 5
        in_range = (int_fval >= 0) & (word < n_words)
        safe_word = np.where(in_range, start + word, 0)
        bit = (self.cat_threshold[safe_word] >> (int_fval & 31)) & 1
        return in_range & (bit == 1)

    def predict(self, features: np.ndarray) -> np.ndarray:
        """Score a (n_rows, n_features) float64 matrix -> (n_rows,) raw values."""
        n_rows = features.shape[0]
        if self.num_leaves <= 1:
            return np.full(n_rows, self.leaf_value[0], dtype=np.float64)

        out = np.empty(n_rows, dtype=np.float64)
        rows = np.arange(n_rows)  # rows still descending; all start at the root
        node = np.zeros(n_rows, dtype=np.int64)
        for _ in range(self.num_leaves - 1):  # the longest root-to-leaf path
            thr = self.threshold[node]
            vals = features[rows, self.split_feature[node]]
            # LightGBM NumericalDecision: ``value <= threshold``, except a
            # NaN takes its node's precomputed route and, at missing-type
            # Zero nodes, |value| <= kZeroThreshold (1e-35) the default one.
            go_left = (vals <= thr) | (np.isnan(vals) & self._nan_left[node])
            if self._has_zero_missing:
                is_zero = self._missing_zero[node] & (np.abs(vals) <= 1e-35)
                go_left = np.where(is_zero, self._default_left[node], go_left)
            if self._has_categorical:
                cat = self._categorical[node]
                go_left[cat] = self._categorical_go_left(vals[cat], thr[cat])
            node = np.where(go_left, self.left_child[node], self.right_child[node])
            at_leaf = node < 0
            n_done = np.count_nonzero(at_leaf)
            if n_done:
                out[rows[at_leaf]] = self.leaf_value[~node[at_leaf]]  # leaf ~c
                if n_done == len(node):
                    return out
                descending = ~at_leaf
                rows = rows[descending]
                node = node[descending]
        raise ValueError(
            f"malformed tree: a path from the root is longer than its "
            f"{self.num_leaves - 1} splits (the child links form a cycle)"
        )


@dataclass
class LightGBMModel:
    """A parsed LightGBM text-format model (ensemble of :class:`Tree`)."""

    num_class: int
    num_tree_per_iteration: int
    max_feature_idx: int
    objective: str
    trees: list[Tree] = field(default_factory=list)

    @property
    def num_features(self) -> int:
        return self.max_feature_idx + 1

    @property
    def n_outputs(self) -> int:
        """Length of the output vector per input row (n_classes, or 1)."""
        return self.num_class if self.num_class > 1 else 1

    # -- prediction ---------------------------------------------------------
    def predict_raw(self, features: np.ndarray) -> np.ndarray:
        """Sum tree outputs per class.  Returns (n_rows, n_outputs)."""
        features = np.asarray(features, dtype=np.float64)
        if features.ndim == 1:
            features = features.reshape(1, -1)
        if features.shape[1] < self.num_features:
            raise ValueError(
                f"model expects {self.num_features} features, got {features.shape[1]}"
            )
        n_rows = features.shape[0]
        k = max(self.num_tree_per_iteration, 1)
        raw = np.zeros((n_rows, self.n_outputs), dtype=np.float64)
        for t_idx, tree in enumerate(self.trees):
            cls = t_idx % k if self.n_outputs > 1 else 0
            raw[:, cls] += tree.predict(features)
        return raw

    def predict(self, features: np.ndarray) -> np.ndarray:
        """Apply the objective transform.  Returns (n_rows, n_outputs).

        ``multiclass``/``multiclassova`` -> softmax (ova uses per-class
        sigmoid), ``binary`` -> sigmoid, anything else -> raw scores.
        Mirrors what ``Booster::predict`` returns in the reference
        (probability vectors in the golden test, ``src/lib.rs:139-145``).
        """
        raw = self.predict_raw(features)
        obj = self.objective.split(" ")[0] if self.objective else ""
        if obj == "multiclass":
            shifted = raw - raw.max(axis=1, keepdims=True)
            e = np.exp(shifted)
            return e / e.sum(axis=1, keepdims=True)
        if obj in ("binary", "multiclassova", "cross_entropy"):
            return 1.0 / (1.0 + np.exp(-raw))
        return raw


def _ints(text: str) -> np.ndarray:
    return np.array(text.split(), dtype=np.int64)


def _floats(text: str) -> np.ndarray:
    # NumPy converts each token with Python's own float(): the same bits
    return np.array(text.split(), dtype=np.float64)


def _parse_kv(line: str) -> tuple[str, str]:
    key, _, value = line.partition("=")
    return key.strip(), value.strip()


def _check_scorable(header: dict[str, str], flags: set[str]) -> None:
    """Raise :class:`UnsupportedModelError` for a model header that
    :meth:`LightGBMModel.predict` would mis-score."""
    obj, *params = header.get("objective", "").split() or [""]
    if obj in _UNSCORED_OBJECTIVES:
        raise UnsupportedModelError(
            f"objective {obj!r} is not supported: LightGBM transforms its "
            "raw scores and this scorer would return them untransformed"
        )
    if "sqrt" in params:
        raise UnsupportedModelError(
            f"objective {obj!r} with the sqrt flag is not supported"
        )
    sigmoid = dict(p.split(":", 1) for p in params if ":" in p).get("sigmoid")
    if obj in ("binary", "multiclassova") and float(sigmoid or 1) != 1.0:
        raise UnsupportedModelError(
            f"objective {obj!r} with sigmoid:{sigmoid} is not supported "
            "(only sigmoid:1)"
        )
    if "average_output" in flags:
        raise UnsupportedModelError(
            "average_output models (random forests) are not supported"
        )


def parse_model_str(text: str) -> LightGBMModel:
    """Parse the LightGBM text model format into a :class:`LightGBMModel`;
    raises :class:`UnsupportedModelError` for a model it would mis-score."""
    header: dict[str, str] = {}
    flags: set[str] = set()
    trees: list[Tree] = []
    cur: dict[str, str] | None = None

    def flush() -> None:
        nonlocal cur
        if cur is None:
            return
        if cur.get("is_linear", "0") != "0":
            raise UnsupportedModelError(
                f"tree {len(trees)} is linear (is_linear=1): linear trees "
                "are not supported"
            )
        num_leaves = int(cur["num_leaves"])
        dtyp = (
            _ints(cur["decision_type"])
            if cur.get("decision_type")
            else np.full(max(num_leaves - 1, 0), 2, dtype=np.int64)
        )
        num_cat = int(cur.get("num_cat", "0"))
        cat_boundaries = cat_threshold = None
        if num_cat > 0:
            cat_boundaries = _ints(cur["cat_boundaries"])
            cat_threshold = _ints(cur["cat_threshold"])
            if len(cat_boundaries) != num_cat + 1:
                raise ValueError(
                    f"cat_boundaries has {len(cat_boundaries)} entries, "
                    f"expected num_cat + 1 = {num_cat + 1}"
                )
            if cat_boundaries[-1] != len(cat_threshold):
                raise ValueError(
                    "cat_boundaries does not cover cat_threshold: "
                    f"last offset {cat_boundaries[-1]} != {len(cat_threshold)} words"
                )
        trees.append(
            Tree(
                num_leaves=num_leaves,
                split_feature=_ints(cur.get("split_feature", "")),
                threshold=_floats(cur.get("threshold", "")),
                decision_type=dtyp,
                left_child=_ints(cur.get("left_child", "")),
                right_child=_ints(cur.get("right_child", "")),
                leaf_value=_floats(cur["leaf_value"]),
                shrinkage=float(cur.get("shrinkage", "1")),
                cat_boundaries=cat_boundaries,
                cat_threshold=cat_threshold,
            )
        )
        cur = None

    in_trees = False
    for raw_line in text.splitlines():
        line = raw_line.strip()
        if not line:
            continue
        if line == "end of trees":
            flush()
            break
        if line.startswith("Tree="):
            flush()
            in_trees = True
            cur = {}
            continue
        if "=" not in line:
            if not in_trees:
                flags.add(line)
            continue
        key, value = _parse_kv(line)
        if in_trees and cur is not None:
            cur[key] = value
        else:
            header[key] = value
    flush()

    if "max_feature_idx" not in header:
        raise ValueError("not a LightGBM text model: missing max_feature_idx")
    _check_scorable(header, flags)
    num_class = int(header.get("num_class", "1"))
    return LightGBMModel(
        num_class=num_class,
        num_tree_per_iteration=int(header.get("num_tree_per_iteration", str(num_class))),
        max_feature_idx=int(header["max_feature_idx"]),
        objective=header.get("objective", ""),
        trees=trees,
    )


def load_model(path: str) -> LightGBMModel:
    """Load a text-format model from disk (``Booster::from_file`` analogue,
    reference ``src/udf.rs:92-97``)."""
    with open(path, "r", encoding="utf-8") as fh:
        return parse_model_str(fh.read())
