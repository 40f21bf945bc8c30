"""Unit tests for the pure-NumPy LightGBM text-format scorer.

The reference has no unit tests of its batching/inference kernel (SURVEY.md
§5); these cover what ``src/udf.rs``/``lightgbm3`` delegated to the C++ lib:
tree traversal, leaf encoding, missing-value routing, softmax.
"""

import math

import numpy as np
import pytest

from lightfusion_spark.ml.fixture import build_model_text
from lightfusion_spark.ml.lgbm_model import Tree, parse_model_str

SIMPLE_MODEL = """tree
version=v4
num_class=1
num_tree_per_iteration=1
label_index=0
max_feature_idx=1
objective=regression

Tree=0
num_leaves=3
num_cat=0
split_feature=0 1
split_gain=1 1
threshold=0.5 1.5
decision_type=2 2
left_child=1 -1
right_child=-2 -3
leaf_value=10 20 30
shrinkage=1

end of trees
"""


def test_parse_header_and_tree():
    m = parse_model_str(SIMPLE_MODEL)
    assert m.num_class == 1 and m.max_feature_idx == 1 and len(m.trees) == 1
    t = m.trees[0]
    assert t.num_leaves == 3
    assert list(t.left_child) == [1, -1] and list(t.right_child) == [-2, -3]


def test_tree_traversal_hand_computed():
    m = parse_model_str(SIMPLE_MODEL)
    # root: f0 <= 0.5 -> node 1 (f1 <= 1.5 -> leaf 0 else leaf 2); else leaf 1
    out = m.predict_raw(np.array([
        [0.0, 1.0],   # left, left  -> leaf 0 = 10
        [0.0, 2.0],   # left, right -> leaf 2 = 30
        [1.0, 0.0],   # right       -> leaf 1 = 20
        [0.5, 1.5],   # boundary: <= goes left twice -> leaf 0 = 10
    ]))
    assert out[:, 0].tolist() == [10.0, 30.0, 20.0, 10.0]


def test_missing_value_default_direction():
    # decision_type = 2 (numerical, default-left bit set? bit1=2 -> default left
    # but missing_type bits (>>2)&3 == 0 -> NaN treated as 0.0)
    m = parse_model_str(SIMPLE_MODEL)
    out = m.predict_raw(np.array([[np.nan, np.nan]]))
    # NaN -> 0.0; 0.0 <= 0.5 left; 0.0 <= 1.5 left -> leaf 0 = 10
    assert out[0, 0] == 10.0
    # missing_type=NaN (2<<2=8) + default_left (2) + numerical = 10
    nan_model = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=10 2")
    m2 = parse_model_str(nan_model)
    out2 = m2.predict_raw(np.array([[np.nan, 2.0]]))
    # default-left at root -> node 1; f1=2.0 > 1.5 -> leaf 2 = 30
    assert out2[0, 0] == 30.0
    # default right when bit1 unset: decision_type = 8
    nan_right = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=8 2")
    out3 = parse_model_str(nan_right).predict_raw(np.array([[np.nan, 2.0]]))
    assert out3[0, 0] == 20.0  # root default-right -> leaf 1


def test_single_leaf_tree():
    t = Tree(
        num_leaves=1,
        split_feature=np.empty(0, np.int64),
        threshold=np.empty(0),
        decision_type=np.empty(0, np.int64),
        left_child=np.empty(0, np.int64),
        right_child=np.empty(0, np.int64),
        leaf_value=np.array([7.5]),
    )
    assert t.predict(np.zeros((3, 2))).tolist() == [7.5, 7.5, 7.5]


def test_multiclass_softmax_hand_computed():
    # 2 classes, 1 iteration, single-split trees we can compute by hand
    text = """tree
num_class=2
num_tree_per_iteration=2
max_feature_idx=0
objective=multiclass num_class:2

Tree=0
num_leaves=2
num_cat=0
split_feature=0
split_gain=1
threshold=0
decision_type=2
left_child=-1
right_child=-2
leaf_value=1.0 2.0
shrinkage=1

Tree=1
num_leaves=2
num_cat=0
split_feature=0
split_gain=1
threshold=0
decision_type=2
left_child=-1
right_child=-2
leaf_value=3.0 0.5
shrinkage=1

end of trees
"""
    m = parse_model_str(text)
    p = m.predict(np.array([[-1.0], [1.0]]))
    # row 0: raw = (1.0, 3.0) -> softmax
    e0, e1 = math.exp(1.0 - 3.0), math.exp(0.0)
    assert p[0, 0] == pytest.approx(e0 / (e0 + e1))
    assert p[0].sum() == pytest.approx(1.0)
    # row 1: raw = (2.0, 0.5)
    f0, f1 = math.exp(0.0), math.exp(0.5 - 2.0)
    assert p[1, 1] == pytest.approx(f1 / (f0 + f1))


def test_fixture_model_roundtrip_and_shape():
    text = build_model_text(num_class=5, num_features=28)
    m = parse_model_str(text)
    assert m.num_class == 5 and m.num_features == 28 and len(m.trees) == 10
    rng = np.random.RandomState(0)
    p = m.predict(rng.standard_normal((17, 28)))
    assert p.shape == (17, 5)
    np.testing.assert_allclose(p.sum(axis=1), 1.0, rtol=1e-12)
    assert (p > 0).all()


def test_fixture_model_hand_computed_row():
    """Walk the fixture trees by hand for the all-zeros row."""
    text = build_model_text(num_class=2, num_features=4, n_iterations=1)
    m = parse_model_str(text)
    # class 0 tree: f0=0, f1=1, thresholds 0.0/0.5; x=0 -> left (0<=0), left (0<=0.5) -> l0
    # class c leaf values: l0=-0.5+0.1c, l1=.2+.05c, l2=.6-.07c (it=0)
    x = np.zeros((1, 4))
    raw = m.predict_raw(x)
    assert raw[0, 0] == pytest.approx(-0.5)
    assert raw[0, 1] == pytest.approx(-0.4)


CAT_MODEL = """tree
version=v4
num_class=1
num_tree_per_iteration=1
label_index=0
max_feature_idx=1
objective=regression

Tree=0
num_leaves=3
num_cat=2
split_feature=0 1
split_gain=1 1
threshold=0 1
decision_type=1 1
left_child=1 -1
right_child=-2 -3
cat_boundaries=0 1 3
cat_threshold=37 2 2
leaf_value=10 20 30
shrinkage=1

end of trees
"""
# node0: categorical split 0 on f0, bitset word 37 = {0, 2, 5}
# node1: categorical split 1 on f1, TWO words [2, 2] = {1, 33}


def test_categorical_decision_bitset_membership():
    m = parse_model_str(CAT_MODEL)
    out = m.predict_raw(np.array([
        [0.0, 1.0],    # f0 in {0,2,5} -> left; f1=1 in {1,33} -> leaf 0
        [2.0, 33.0],   # left; 33 hits the SECOND bitset word -> leaf 0
        [5.0, 2.0],    # left; 2 not in {1,33} -> leaf 2
        [1.0, 0.0],    # f0=1 not in set -> right -> leaf 1
        [6.0, 0.0],    # out of bitset range (still word 0, bit unset) -> leaf 1
        [64.0, 0.0],   # beyond the bitset's words entirely -> right -> leaf 1
    ]))
    assert out[:, 0].tolist() == [10.0, 10.0, 30.0, 20.0, 20.0, 20.0]


def test_categorical_decision_nan_negative_fractional():
    """CategoricalDecision edge routing: NaN -> right, negative int -> right,
    fractional values truncate toward zero (so -0.5 -> category 0)."""
    m = parse_model_str(CAT_MODEL)
    out = m.predict_raw(np.array([
        [np.nan, 1.0],   # NaN -> right -> leaf 1
        [-3.0, 1.0],     # negative -> right -> leaf 1
        [-0.5, 1.0],     # trunc(-0.5) = 0, NOT negative -> in {0,2,5} -> leaf 0
        [2.9, 1.0],      # trunc(2.9) = 2 -> left -> leaf 0
        [0.0, np.nan],   # left, then NaN at node1 -> right -> leaf 2
    ]))
    assert out[:, 0].tolist() == [20.0, 20.0, 10.0, 10.0, 30.0]


def test_categorical_mixed_with_numerical():
    """The committed quality_cat fixture: every tree roots at a categorical
    split with a numerical split below — vectorized scorer vs a hand walk."""
    from lightfusion_spark.ml.fixture import build_quality_cat_model_text

    m = parse_model_str(build_quality_cat_model_text())
    assert len(m.trees) == 4 and m.num_features == 5
    t0 = m.trees[0]  # cats {0,2,5,7,11,13,17,19}; below: n_words <= 20
    assert list(t0.cat_boundaries) == [0, 1]
    # source 2 (in set), n_words 10 <= 20 -> leaf 0 = -(-0.35) = 0.35
    assert t0.predict(np.array([[10.0, 5.0, 0.01, 0.1, 2.0]]))[0] == 0.35
    # source 2, n_words 30 -> leaf 2 = -(0.45) = -0.45
    assert t0.predict(np.array([[30.0, 5.0, 0.01, 0.1, 2.0]]))[0] == -0.45
    # source 3 (not in set) -> right -> leaf 1 = -(0.12) = -0.12
    assert t0.predict(np.array([[10.0, 5.0, 0.01, 0.1, 3.0]]))[0] == -0.12
    t2 = m.trees[2]  # iteration 1 class 0: cats {1,4,9,16,33}, two words
    assert list(t2.cat_boundaries) == [0, 2]
    assert t2.predict(np.array([[10.0, 5.0, 0.5, 0.1, 33.0]]))[0] != \
        t2.predict(np.array([[10.0, 5.0, 0.5, 0.1, 32.0]]))[0]


def test_categorical_malformed_rejected():
    # bit0 set but no cat_boundaries/cat_threshold section
    bad = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=1 2")
    with pytest.raises(ValueError, match="categorical"):
        parse_model_str(bad)
    # cat_boundaries length inconsistent with num_cat
    bad2 = CAT_MODEL.replace("cat_boundaries=0 1 3", "cat_boundaries=0 1")
    with pytest.raises(ValueError, match="cat_boundaries"):
        parse_model_str(bad2)


def test_feature_count_validation():
    m = parse_model_str(SIMPLE_MODEL)
    with pytest.raises(ValueError):
        m.predict_raw(np.zeros((1, 1)))


def test_zero_missing_type_default_direction():
    """missing_type==Zero (decision_type bits 2-3 == 1): a |v|<=1e-35 value
    takes the default branch, not the threshold comparison (ADVICE r1)."""
    # decision_type=4: numerical, default-RIGHT, missing=Zero
    zero_right = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=4 2")
    m = parse_model_str(zero_right)
    # root f0=0.0 is "missing" -> default right -> leaf 1 = 20 (NOT 0<=0.5 left)
    assert m.predict_raw(np.array([[0.0, 0.0]]))[0, 0] == 20.0
    # non-zero value still routed by threshold: 0.3 <= 0.5 -> left; f1=0 <= 1.5 -> leaf 0
    assert m.predict_raw(np.array([[0.3, 0.3]]))[0, 0] == 10.0
    # decision_type=6: default-LEFT, missing=Zero -> zero goes left
    zero_left = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=6 6")
    m2 = parse_model_str(zero_left)
    # root: 0.0 missing -> default left -> node1; f1 0.0 missing -> left -> leaf 0
    assert m2.predict_raw(np.array([[0.0, 0.0]]))[0, 0] == 10.0
    # NaN under missing=Zero converts to 0.0 then takes the default branch
    assert m.predict_raw(np.array([[np.nan, 0.0]]))[0, 0] == 20.0


# Models LightGBMModel.predict would mis-score: each is SIMPLE_MODEL with
# one objective or flag change, rejected at parse (so at CREATE FUNCTION).
_LINEAR_TREE = """is_linear=1
leaf_const=1 2 3
num_features=1 0 0
leaf_features=0
leaf_coeff=0.5
shrinkage=1
"""
_UNSCORABLE = {
    "poisson": ("objective=regression", "objective=poisson"),
    "gamma": ("objective=regression", "objective=gamma"),
    "tweedie": (
        "objective=regression",
        "objective=tweedie tweedie_variance_power:1.5",
    ),
    "cross_entropy_lambda": (
        "objective=regression",
        "objective=cross_entropy_lambda",
    ),
    "sqrt": ("objective=regression", "objective=regression sqrt"),
    "binary_sigmoid_2": ("objective=regression", "objective=binary sigmoid:2"),
    "multiclassova_sigmoid_half": (
        "objective=regression",
        "objective=multiclassova num_class:1 sigmoid:0.5",
    ),
    "average_output": (
        "objective=regression\n",
        "objective=regression\naverage_output\n",
    ),
    "is_linear": ("shrinkage=1\n", _LINEAR_TREE),
}


@pytest.mark.parametrize("case", sorted(_UNSCORABLE))
def test_unscorable_model_rejected_by_name(case, tmp_path):
    from lightfusion_spark.errors import UnsupportedModelError
    from lightfusion_spark.functions.inference import make_lightgbm_udf

    old, new = _UNSCORABLE[case]
    assert old in SIMPLE_MODEL
    text = SIMPLE_MODEL.replace(old, new)
    with pytest.raises(UnsupportedModelError):
        parse_model_str(text)
    # CREATE FUNCTION validates through the same parse, before any Spark work
    path = tmp_path / "bad.lgbm"
    path.write_text(text)
    with pytest.raises(UnsupportedModelError):
        make_lightgbm_udf(str(path))


@pytest.mark.parametrize(
    "objective",
    [
        "binary sigmoid:1",
        "multiclassova num_class:1 sigmoid:1",
        "cross_entropy",
        "regression_l1",
    ],
)
def test_scorable_objectives_still_parse(objective):
    text = SIMPLE_MODEL.replace(
        "objective=regression", f"objective={objective}"
    )
    assert parse_model_str(text).objective == objective


def test_committed_and_benchmark_models_still_parse():
    import glob
    import os

    from perfbench import gen

    models = glob.glob(
        os.path.join(
            os.path.dirname(__file__),
            "..",
            "lightfusion_spark",
            "fixtures",
            "models",
            "*.lgbm",
        )
    )
    assert len(models) == 4
    for path in models:
        with open(path, encoding="utf-8") as fh:
            assert parse_model_str(fh.read()).trees
    assert len(parse_model_str(gen.model_text(0)).trees) == 500


# A tree that mixes the two split kinds at one depth: node 1 is categorical
# (index 0 into cat_boundaries), node 2 numerical with a threshold far past
# the number of categorical splits.
MIXED_DEPTH_MODEL = """tree
version=v4
num_class=1
num_tree_per_iteration=1
max_feature_idx=1
objective=regression

Tree=0
num_leaves=4
num_cat=1
split_feature=0 1 1
split_gain=1 1 1
threshold=0.5 0 50.5
decision_type=2 1 2
left_child=1 -1 -3
right_child=2 -2 -4
cat_boundaries=0 1
cat_threshold=37
leaf_value=10 20 30 40
shrinkage=1

end of trees
"""


def test_categorical_and_numerical_nodes_at_one_depth():
    """Rows reaching a categorical and a numerical node at the same level
    are each routed by their own node's rule, in one call."""
    m = parse_model_str(MIXED_DEPTH_MODEL)
    out = m.predict_raw(np.array([
        [0.0, 2.0],    # node 1: 2 in {0,2,5} -> leaf 0
        [1.0, 2.0],    # node 2: 2 <= 50.5 -> leaf 2
        [1.0, 60.0],   # node 2: 60 > 50.5 -> leaf 3
        [0.0, 3.0],    # node 1: 3 not in set -> leaf 1
    ]))
    assert out[:, 0].tolist() == [10.0, 30.0, 40.0, 20.0]


def _with_zero_missing(text: str) -> str:
    """Turn every third plain numerical split (decision_type 2) into a
    missing-type Zero one, alternating default-left (6) and -right (4)."""
    out, n_plain = [], 0
    for line in text.splitlines():
        if line.startswith("decision_type="):
            codes = line.split("=", 1)[1].split()
            for i, code in enumerate(codes):
                if code == "2":
                    if n_plain % 3 == 0:
                        codes[i] = "6" if n_plain % 2 else "4"
                    n_plain += 1
            line = "decision_type=" + " ".join(codes)
        out.append(line)
    return "\n".join(out) + "\n"


def _committed_model(name: str) -> str:
    from lightfusion_spark.fixtures import fixture_path

    with open(fixture_path("models", name), encoding="utf-8") as fh:
        return fh.read()


def _bit_identity_models() -> dict[str, str]:
    from perfbench import gen

    models = {
        name: _committed_model(name)
        for name in ("multiclass.lgbm", "embed_cls.lgbm", "quality_cls.lgbm", "quality_cat.lgbm")
    }
    # 12 classes: past 8, NumPy's softmax sum along a row is pairwise
    models["generated_12class"] = _with_zero_missing(
        gen.model_text(5, iterations=4, num_class=12, num_leaves=15, num_features=9)
    )
    models["cat_mixed_depth"] = MIXED_DEPTH_MODEL
    return models


def _hostile_rows(n_features: int, n_rows: int = 64) -> np.ndarray:
    """Rows with NaN, exact and signed zeros, sub-1e-35 values, negative,
    fractional and out-of-bitset category codes."""
    rng = np.random.default_rng(7)
    x = np.round(rng.normal(0.0, 2.0, size=(n_rows, n_features)), 3)
    cells = rng.random(x.shape)
    x[cells < 0.12] = np.nan
    x[(cells >= 0.12) & (cells < 0.2)] = 0.0
    x[(cells >= 0.2) & (cells < 0.24)] = -0.0
    x[(cells >= 0.24) & (cells < 0.28)] = 1e-40
    # category-like codes in the first and last columns
    for col in (0, n_features - 1):
        x[::2, col] = rng.integers(-3, 70, size=len(x[::2]))
        x[1::4, col] += 0.75
    x[::9, :] = np.nan
    return x


@pytest.mark.parametrize("name", sorted(_bit_identity_models()))
def test_predict_bits_do_not_depend_on_chunking(name):
    """One call over the whole matrix gives the same bits as row-by-row and
    ragged-chunk calls: every row is scored on its own.  The raw sums also
    match, bit for bit, the row-wise pure-Python reference scorer."""
    from perfbench import refscore

    text = _bit_identity_models()[name]
    m = parse_model_str(text)
    x = _hostile_rows(m.num_features)
    ref = refscore.RefModel(text)
    assert np.array_equal(m.predict_raw(x), np.array([ref.raw(row) for row in x]))
    whole = m.predict(x)
    assert np.isfinite(whole).all()
    for chunk in (1, 7, 64):
        parts = np.concatenate(
            [m.predict(x[s:s + chunk]) for s in range(0, len(x), chunk)]
        )
        assert np.array_equal(parts, whole), chunk


def test_udf_body_calls_predict_once_per_arrow_batch(monkeypatch):
    """At batch_size=1 the UDF body still makes one predict call per
    non-empty Arrow batch, and none for an empty one."""
    import pandas as pd

    from lightfusion_spark.fixtures import fixture_path
    from lightfusion_spark.functions.inference import make_lightgbm_udf
    from lightfusion_spark.ml.lgbm_model import LightGBMModel

    calls = []
    original = LightGBMModel.predict

    def counted(self, features):
        calls.append(len(features))
        return original(self, features)

    monkeypatch.setattr(LightGBMModel, "predict", counted)
    udf = make_lightgbm_udf(fixture_path("models", "multiclass.lgbm"), batch_size=1)
    x = np.random.default_rng(3).normal(size=(30, 28))
    batches = [pd.Series(list(x[:17])), pd.Series([], dtype=object), pd.Series(list(x[17:]))]
    outs = list(udf.func(iter(batches)))
    assert calls == [17, 13]
    assert [len(o) for o in outs] == [17, 0, 13]


def test_assemble_features_checks_each_row_length():
    """Rows of 27 and 29 values hold 2 x 28 values in total but are not two
    28-feature rows: rejected, naming the lengths."""
    import pandas as pd

    from lightfusion_spark.functions.inference import _assemble_features

    series = pd.Series([np.zeros(27), np.zeros(29)])
    with pytest.raises(ValueError, match=r"\[27, 29\] != model n_features 28"):
        _assemble_features(series, 28)
    ok = _assemble_features(pd.Series([np.arange(28.0), np.arange(28.0)]), 28)
    assert ok.shape == (2, 28)


def test_cyclic_tree_rejected_not_looped():
    """A child link back to the root is malformed input: scoring raises
    instead of descending forever."""
    cyclic = SIMPLE_MODEL.replace("left_child=1 -1", "left_child=1 0")
    m = parse_model_str(cyclic)
    with pytest.raises(ValueError, match="cycle"):
        m.predict_raw(np.array([[0.0, 0.0]]))
    # rows that avoid the cycle are unaffected
    assert m.predict_raw(np.array([[1.0, 0.0]]))[0, 0] == 20.0
