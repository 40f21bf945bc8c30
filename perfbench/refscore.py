"""Row-wise pure-Python reference scorer for LightGBM text models.

The benchmark's correctness gate for inference.  It shares no code with
the scorer under test: its own parser, one row and one tree at a time,
plain Python floats.  It follows LightGBM's ``Tree::Decision`` and
``ConvertOutput`` for the features the benchmark's models use:

* numerical splits, ``value <= threshold`` goes left;
* missing types none (NaN scored as 0.0), zero (``|v| <= 1e-35`` takes
  the default direction) and NaN (NaN takes the default direction);
* categorical splits through the ``cat_boundaries``/``cat_threshold``
  bitsets; NaN, negative and out-of-range categories go right;
* raw scores summed in tree order, tree ``t`` feeding class
  ``t % num_tree_per_iteration``;
* ``multiclass`` softmax, sigmoid for ``binary``, ``multiclassova`` and
  ``cross_entropy``, raw scores otherwise.
"""

from __future__ import annotations

import math

_ZERO_THRESHOLD = 1e-35


def _ints(text: str) -> list[int]:
    return [int(v) for v in text.split()]


def _floats(text: str) -> list[float]:
    return [float(v) for v in text.split()]


class RefTree:
    def __init__(self, kv: dict[str, str]):
        self.num_leaves = int(kv["num_leaves"])
        self.leaf_value = _floats(kv["leaf_value"])
        n_internal = self.num_leaves - 1
        self.split_feature = _ints(kv.get("split_feature", ""))
        self.threshold = _floats(kv.get("threshold", ""))
        self.decision_type = _ints(kv["decision_type"]) if kv.get("decision_type") else [2] * n_internal
        self.left = _ints(kv.get("left_child", ""))
        self.right = _ints(kv.get("right_child", ""))
        self.cat_boundaries = _ints(kv.get("cat_boundaries", ""))
        self.cat_threshold = _ints(kv.get("cat_threshold", ""))

    def _categorical_left(self, value: float, node: int) -> bool:
        if math.isnan(value):
            return False
        category = int(value)  # truncates toward zero, like static_cast<int>
        if category < 0:
            return False
        idx = int(self.threshold[node])
        start, end = self.cat_boundaries[idx], self.cat_boundaries[idx + 1]
        word = category // 32
        if word >= end - start:
            return False
        return (self.cat_threshold[start + word] >> (category % 32)) & 1 == 1

    def _numerical_left(self, value: float, node: int) -> bool:
        dtype = self.decision_type[node]
        missing_type = (dtype >> 2) & 3
        default_left = bool(dtype & 2)
        if math.isnan(value) and missing_type != 2:
            value = 0.0
        if (missing_type == 1 and abs(value) <= _ZERO_THRESHOLD) or (
            missing_type == 2 and math.isnan(value)
        ):
            return default_left
        return value <= self.threshold[node]

    def score(self, row) -> float:
        if self.num_leaves <= 1:
            return self.leaf_value[0]
        node = 0
        while node >= 0:
            value = float(row[self.split_feature[node]])
            if self.decision_type[node] & 1:
                go_left = self._categorical_left(value, node)
            else:
                go_left = self._numerical_left(value, node)
            node = self.left[node] if go_left else self.right[node]
        return self.leaf_value[~node]


class RefModel:
    def __init__(self, text: str):
        header: dict[str, str] = {}
        sections: list[dict[str, str]] = []
        for raw in text.splitlines():
            line = raw.strip()
            if line == "end of trees":
                break
            if line.startswith("Tree="):
                sections.append({})
                continue
            key, sep, value = line.partition("=")
            if not sep:
                continue
            (sections[-1] if sections else header)[key.strip()] = value.strip()
        self.num_class = int(header.get("num_class", "1"))
        self.per_iteration = max(int(header.get("num_tree_per_iteration", str(self.num_class))), 1)
        self.objective = header.get("objective", "").split(" ")[0]
        self.trees = [RefTree(kv) for kv in sections]

    @property
    def n_outputs(self) -> int:
        return self.num_class if self.num_class > 1 else 1

    def raw(self, row) -> list[float]:
        out = [0.0] * self.n_outputs
        for t, tree in enumerate(self.trees):
            cls = t % self.per_iteration if self.n_outputs > 1 else 0
            out[cls] += tree.score(row)
        return out

    def predict(self, row) -> list[float]:
        raw = self.raw(row)
        if self.objective == "multiclass":
            top = max(raw)
            e = [math.exp(v - top) for v in raw]
            total = sum(e)
            return [v / total for v in e]
        if self.objective in ("binary", "multiclassova", "cross_entropy"):
            return [1.0 / (1.0 + math.exp(-v)) for v in raw]
        return raw


def argmax(values: list[float]) -> int:
    """First index of the maximum, ignoring NaN (the SQL ``argmax``)."""
    best, best_i = None, -1
    for i, v in enumerate(values):
        if not math.isnan(v) and (best is None or v > best):
            best, best_i = v, i
    return best_i
