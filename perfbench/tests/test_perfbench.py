"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The last two tests start Spark and run the benchmark for one second per
mode (about two minutes on a 4-core host).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from lightfusion_spark.ml.lgbm_model import parse_model_str  # noqa: E402
from perfbench import gen, refscore  # noqa: E402
from perfbench.trace import parse_sql_metric  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def _digest(paths) -> list[str]:
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in sorted(paths)]


def test_generator_is_deterministic(tmp_path):
    assert gen.model_text(5) == gen.model_text(5)
    assert gen.model_text(5) != gen.model_text(6)
    for run in ("a", "b"):
        gen.write_feature_parquet(str(tmp_path / run / "features"), 5, 64, n_files=4)
        gen.write_tsv(str(tmp_path / run / "m.tsv"), 5, 500)
    for pattern in ("features/*.parquet", "m.tsv"):
        a = _digest(glob.glob(str(tmp_path / "a" / pattern)))
        b = _digest(glob.glob(str(tmp_path / "b" / pattern)))
        assert a and a == b


def test_generated_model_shape():
    model = parse_model_str(gen.model_text(3))
    assert (len(model.trees), model.num_class, model.num_features) == (500, 5, 28)
    assert all(t.num_leaves == 31 for t in model.trees)
    missing_nan = np.concatenate([(t.decision_type >> 2) & 3 for t in model.trees]) == 2
    assert 0.1 < missing_nan.mean() < 0.4


def _features(n_features: int, seed: int) -> np.ndarray:
    """Gaussian features, NaN, negatives and small integers (categories)."""
    rng = np.random.default_rng(seed)
    x = rng.normal(0.0, 2.0, size=(400, n_features))
    x[:100] = np.round(x[:100] * 4)
    x[100:150] = 0.0
    x[rng.random(x.shape) < 0.1] = np.nan
    return x


@pytest.mark.parametrize(
    "model_path",
    sorted(glob.glob(os.path.join(ROOT, "lightfusion_spark", "fixtures", "models", "*.lgbm"))),
    ids=os.path.basename,
)
def test_reference_scorer_agrees_on_committed_fixtures(model_path):
    text = open(model_path, encoding="utf-8").read()
    model, ref = parse_model_str(text), refscore.RefModel(text)
    x = _features(model.num_features, 0)
    raw = model.predict_raw(x)
    probs = model.predict(x)
    for i, row in enumerate(x):
        assert ref.raw(row) == list(raw[i])
        assert np.allclose(ref.predict(row), probs[i], rtol=0, atol=1e-12)


def test_reference_scorer_agrees_on_generated_model():
    text = gen.model_text(9)
    model, ref = parse_model_str(text), refscore.RefModel(text)
    x = gen.feature_matrix(9, 40, 28, 0.2, stream=2)
    raw = model.predict_raw(x)
    for i, row in enumerate(x):
        assert ref.raw(row) == list(raw[i])


def test_parse_sql_metric():
    assert parse_sql_metric("220.9 MiB") == pytest.approx(220.9 * 2**20)
    assert parse_sql_metric("0 ms") == 0.0
    assert parse_sql_metric("1,000,000") == 1e6
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n10.7 s (2.5 s, 2.7 s, 3.0 s (stage 11.0: task 20))"
    ) == pytest.approx(10.7)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_names_are_valid():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT_RE.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])

    from perfbench.workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec["workloads"])


@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_exactly_the_listed_metrics(trace):
    spec = _spec()
    listed = spec["per_layer" if trace else "end_to_end"]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "infer_default", "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and np.isfinite(got["value"])
