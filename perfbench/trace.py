"""Tracing for the benchmark's traced run.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory and writes them out as JSON lines when the run ends.
* :class:`SparkUI` reads the driver's Spark UI REST endpoint on localhost:
  per-job-group job, stage and task metrics, and the SQL metrics of the
  ArrowEvalPython node (the Arrow boundary into the Python workers).
* :func:`layer_probes` times the inference layers in process: model
  parse, ``predict_raw``/``predict`` and the UDF body on one
  Arrow-batch-sized Series, counting ``predict`` calls with a wrapper.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_QTY_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


def parse_sql_metric(text: str) -> float:
    """``"220.9 MiB"``, ``"12 ms"``, ``"1,000"`` or the
    ``"total (min, med, max ...)\\n10.7 s (...)"`` form -> bytes, seconds
    or a count."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = _QTY_RE.search(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


#: ArrowEvalPython SQL metric name -> per-layer metric.
ARROW_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "arrow.python_run_s",
    "time to start Python workers": "arrow.python_start_s",
    "time to initialize Python workers": "arrow.python_init_s",
}


class SparkUI:
    """Read-only client for the local Spark UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        # never route a localhost request through an HTTP proxy
        self._opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _get(self, path: str):
        with self._opener.open(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def settle(self, groups: set[str], timeout_s: float = 20.0) -> None:
        """Wait until the status store has every job of ``groups`` ended;
        listener events arrive after the action returns."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            jobs = [j for j in self.jobs() if j.get("jobGroup") in groups]
            sql = self._get("/sql?offset=0&length=100000&details=false")
            if all(j["status"] != "RUNNING" for j in jobs) and all(
                e["status"] != "RUNNING" for e in sql
            ):
                return
            time.sleep(0.2)

    def group_metrics(self, group: str) -> dict[str, float]:
        """Job, stage, task and Arrow-boundary totals of one job group."""
        jobs = [j for j in self.jobs() if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "scan_bytes": sum(s["inputBytes"] for s in stages),
        }
        out.update({name: 0.0 for name in ARROW_METRICS.values()})
        if job_ids:
            for ex in self._get("/sql?offset=0&length=100000&details=true&planDescription=false"):
                if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                    continue
                for node in ex.get("nodes", []):
                    if node["nodeName"] != "ArrowEvalPython":
                        continue
                    for metric in node.get("metrics", []):
                        key = ARROW_METRICS.get(metric["name"])
                        if key is not None:
                            out[key] += parse_sql_metric(metric["value"])
        return out


def _timed(fn, reps: int) -> float:
    """Median wall time of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def layer_probes(tracer: Tracer, model_path: str, batch_size: int, features) -> dict[str, float]:
    """In-process timings of the ``ml`` and ``functions.inference`` layers
    on one Arrow batch (``features``: an (n_rows, n_features) matrix)."""
    import pandas as pd

    from lightfusion_spark.functions import inference
    from lightfusion_spark.ml.lgbm_model import LightGBMModel, parse_model_str

    n_rows = len(features)
    chunks = [features[s:s + batch_size] for s in range(0, n_rows, batch_size)]
    with open(model_path, encoding="utf-8") as fh:
        text = fh.read()
    with tracer.span("ml.parse_model_str"):
        parse_s = _timed(lambda: parse_model_str(text), 3)
    model = parse_model_str(text)
    with tracer.span("ml.predict_raw"):
        t0 = time.perf_counter()
        raws = [model.predict_raw(c) for c in chunks]
        raw_s = time.perf_counter() - t0

    def transform():
        # predict() with predict_raw answered from memory: the transform alone
        for c, r in zip(chunks, raws):
            model.predict_raw = lambda _x, r=r: r
            model.predict(c)
        del model.predict_raw

    with tracer.span("ml.transform"):
        transform_s = _timed(transform, 3)

    udf = inference.make_lightgbm_udf(model_path, batch_size=batch_size)
    series = pd.Series(list(features))
    original = LightGBMModel.predict
    calls = {"n": 0, "s": 0.0}

    def counted(self, x):
        t0 = time.perf_counter()
        try:
            return original(self, x)
        finally:
            calls["n"] += 1
            calls["s"] += time.perf_counter() - t0

    def body():
        for _ in udf.func(iter([series])):
            pass

    body()  # fills the per-process model cache, as the first batch of a task does
    LightGBMModel.predict = counted
    try:
        with tracer.span("inference.udf_body"):
            body_s = _timed(body, 1)
    finally:
        LightGBMModel.predict = original
    us = 1e6 / n_rows
    return {
        "ml.parse_s": parse_s,
        "ml.predict_calls_per_krow": calls["n"] * 1000.0 / n_rows,
        "ml.predict_raw_us_per_row": raw_s * us,
        "ml.transform_us_per_row": transform_s * us,
        "inference.body_us_per_row": body_s * us,
        "inference.overhead_us_per_row": (body_s - calls["s"]) * us,
    }
