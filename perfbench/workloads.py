"""The benchmark's workloads: inputs, set-up statements, one pass, checks.

Each workload is a closed loop with one client: the driver process runs
one query, waits for its result, checks it, and runs the next.

* ``infer_default`` — the reference DDL flow at its default settings:
  ``CREATE FUNCTION ... LANGUAGE LIGHTGBM`` on a seeded 500-tree model at
  ``lightfusion.batch_size = 1``, then ``SELECT id, argmax(f(features))``
  over a seeded parquet table.  Checked row by row against the pure-Python
  reference scorer in ``refscore.py``.
* ``infer_bulk`` — the reference's TSV example scaled up: a seeded
  headerless TSV through ``CREATE EXTERNAL TABLE ... STORED AS CSV``, the
  batch size raised to the Arrow batch size, the committed
  ``multiclass.lgbm``, and the ``(label, inferred, n)`` groups.  Checked
  against DuckDB running the model compiled to SQL.
"""

from __future__ import annotations

import os

import numpy as np

from . import gen, refscore

#: Probability tolerance of the inference check.
PROB_TOL = 1e-12


class InferDefault:
    name = "infer_default"
    rows = 96
    n_files = 8
    nan_share = 0.05
    num_features = 28

    def generate(self, seed: int, work: str) -> None:
        self.model_path = os.path.join(work, "model.txt")
        self.table_path = os.path.join(work, "features")
        text = gen.model_text(seed, num_features=self.num_features)
        with open(self.model_path, "w", encoding="utf-8") as fh:
            fh.write(text)
        self.features = gen.write_feature_parquet(
            self.table_path, seed, self.rows, self.num_features, self.nan_share, self.n_files
        )
        ref = refscore.RefModel(text)
        self.expected_probs = [ref.predict(row) for row in self.features]
        self.expected_class = [refscore.argmax(p) for p in self.expected_probs]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.table_path, f)) for f in os.listdir(self.table_path)
        )

    def statements(self, spark) -> list[tuple[str, str]]:
        """Set-up statements, each with the span that times it."""
        return [
            ("frontdoor.create_table",
             f"CREATE EXTERNAL TABLE feats STORED AS PARQUET LOCATION '{self.table_path}'"),
            ("frontdoor.create_function",
             f"CREATE FUNCTION f(DOUBLE[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM AS '{self.model_path}'"),
        ]

    query = "SELECT id, argmax(f(features)) AS cls FROM feats"

    def check(self, rows) -> bool:
        got = {r["id"]: r["cls"] for r in rows}
        return len(rows) == self.rows and all(
            got.get(i) == c for i, c in enumerate(self.expected_class)
        )

    def final_check(self, eng) -> bool:
        """The probabilities of every 4th row, one extra query: the timed
        query returns only the class."""
        rows = eng.sql("SELECT id, f(features) AS p FROM feats WHERE id % 4 = 0").collect()
        if len(rows) != self.rows // 4:
            return False
        for r in rows:
            want = self.expected_probs[r["id"]]
            if len(r["p"]) != len(want) or any(
                abs(a - b) > PROB_TOL for a, b in zip(r["p"], want)
            ):
                return False
        return True

    def probe_batch(self, arrow_batch: int) -> np.ndarray:
        """A small Arrow batch: the rows of one input file."""
        return self.features[: min(arrow_batch, self.rows // self.n_files)]


class InferBulk:
    name = "infer_bulk"
    rows = 500_000
    num_features = 28

    def generate(self, seed: int, work: str) -> None:
        from lightfusion_spark.fixtures import fixture_path

        self.model_path = fixture_path("models", "multiclass.lgbm")
        self.table_path = os.path.join(work, "multiclass.tsv")
        gen.write_tsv(self.table_path, seed, self.rows, self.num_features)
        self.input_bytes = os.path.getsize(self.table_path)
        self.expected = self._oracle_groups()

    def _oracle_groups(self) -> set[tuple[int, int, int]]:
        """DuckDB over the same TSV, scoring the model compiled to SQL."""
        import duckdb

        from lightfusion_spark.corpus.mlqueries import model_class_scores_sql
        from lightfusion_spark.ml.lgbm_model import load_model

        model = load_model(self.model_path)
        scores = model_class_scores_sql(model, lambda f: f"column_{f + 2}")
        s_list = ", ".join(f"s{i}" for i in range(len(scores)))
        columns = ", ".join(
            ["'column_1': 'INTEGER'"]
            + [f"'column_{i}': 'DOUBLE'" for i in range(2, self.num_features + 2)]
        )
        sql = f"""
        WITH m AS (SELECT * FROM read_csv('{self.table_path}', delim='\t', header=false,
                                          columns={{{columns}}})),
        scored AS (SELECT column_1 AS label,
                          {", ".join(f"{s} AS s{i}" for i, s in enumerate(scores))} FROM m)
        SELECT label,
               CAST(list_position([{s_list}], GREATEST({s_list})) - 1 AS INTEGER) AS inferred,
               COUNT(*) AS n
        FROM scored GROUP BY ALL
        """
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            return {tuple(int(v) for v in r) for r in con.execute(sql).fetchall()}
        finally:
            con.close()

    def statements(self, spark) -> list[tuple[str, str]]:
        arrow_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        return [
            ("frontdoor.create_table",
             f"CREATE EXTERNAL TABLE mtsv STORED AS CSV DELIMITER '\t' "
             f"LOCATION '{self.table_path}'"),
            ("frontdoor.set", f"SET lightfusion.batch_size = {arrow_batch}"),
            ("frontdoor.create_function",
             f"CREATE FUNCTION f_tsv(DOUBLE[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM "
             f"AS '{self.model_path}'"),
        ]

    query = (
        "SELECT label, inferred, COUNT(*) AS n FROM ("
        " SELECT column_1 AS label, argmax(f_tsv(["
        + ", ".join(f"column_{i}" for i in range(2, 30))
        + "])) AS inferred FROM mtsv"
        ") GROUP BY label, inferred"
    )

    def check(self, rows) -> bool:
        return {(r["label"], r["inferred"], r["n"]) for r in rows} == self.expected

    final_check = None

    def probe_batch(self, arrow_batch: int) -> np.ndarray:
        """One Arrow batch of the TSV, as the UDF receives it."""
        return np.loadtxt(self.table_path, delimiter="\t", max_rows=arrow_batch)[:, 1:]


WORKLOADS = {w.name: w for w in (InferDefault, InferBulk)}
