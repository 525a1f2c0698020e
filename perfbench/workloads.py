"""The benchmark's workloads: seeded inputs, one op each, output checks.

Every call into the program runs inside ``span(<layer>)``, which tags
its Spark jobs with that job group and records its wall-clock window.
An op returns its wall time (the sum of its span windows, so output
checks are not timed) and whether every output matched the oracle.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Spans:
    """Job-group tagging plus the ``(span, start, end)`` windows of every
    call, in epoch seconds (the event log's clock)."""

    def __init__(self, sc):
        self.sc = sc
        self.windows: list[tuple[str, float, float]] = []

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((name, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class OpResult:
    wall_s: float
    ok: bool
    errors: list[str] = field(default_factory=list)
    iterations: int = 0


def _timed(spans: Spans, before: int) -> float:
    return sum(b - a for _, a, b in spans.windows[before:])


class PageRankPipeline:
    """``pr-small``: the reference pipeline's public calls in
    ``cli.main`` order on a seeded WikiData-shaped graph."""

    # spans reported as per-layer metrics (``io.read_edge_list`` is lazy
    # and ``release`` runs no job; both still count in the op's wall)
    spans = ["graph.pagerank", "operators.relational", "io.write_result_text"]
    # The second op is still JIT-warming (~25% slower than the third);
    # timing it would make the median depend on how many ops fit.
    warmup_ops = 1
    # vertices, distinct edges, dangling vertices (WikiData: 7115,
    # 103689, ~1k)
    shape = (7_100, 104_000, 1_000)
    top = 100

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"pr-small-{seed}")
        self.edges_path = os.path.join(self.dir, "edges.tsv")
        self.out_path = os.path.join(work, "result.txt")

    def prepare(self) -> dict:
        """Write the edge list (cached by seed) and run the oracle."""
        import numpy as np

        from graphgen import pagerank_oracle, power_law_graph, top_k, write_tsv

        t0 = time.perf_counter()
        if not os.path.exists(self.edges_path):
            os.makedirs(self.dir, exist_ok=True)
            graph = power_law_graph(self.seed, *self.shape)
            write_tsv(graph, self.edges_path + ".tmp")
            os.replace(self.edges_path + ".tmp", self.edges_path)
        edges = np.loadtxt(self.edges_path, dtype=np.int64, delimiter="\t")
        t1 = time.perf_counter()
        oracle = pagerank_oracle(edges[:, 0], edges[:, 1])
        self.expected = top_k(oracle, self.top)
        self.expected_iterations = oracle.iterations
        return {"gen_s": t1 - t0, "oracle_s": time.perf_counter() - t1,
                "edges": int(edges.shape[0]), "vertices": int(oracle.nodes.size)}

    def op(self, spark, span: Spans) -> OpResult:
        from pagerank_spark.graph import pagerank, top_k
        from pagerank_spark.io import read_edge_list, write_result_text
        from pagerank_spark.operators.relational import duplicate_rows_report

        before = len(span.windows)
        edges = res = None
        try:
            with span("io.read_edge_list"):
                edges = read_edge_list(spark, self.edges_path).persist()
            with span("operators.relational"):
                dupes = duplicate_rows_report(edges, ["src", "dst"]).collect()
            with span("graph.pagerank"):
                res = pagerank(edges)
            with span("io.write_result_text"):
                write_result_text(top_k(res.ranks, self.top), self.out_path,
                                  k=self.top)
        finally:
            with span("release"):
                if res is not None:
                    res.ranks.unpersist()
                if edges is not None:
                    edges.unpersist()
                spark.catalog.clearCache()
        errors = self.check(dupes, res.iterations)
        return OpResult(_timed(span, before), not errors, errors, res.iterations)

    def check(self, dupes, iterations: int) -> list[str]:
        errors = []
        if dupes:
            errors.append(f"{len(dupes)} duplicate edges reported, expected 0")
        if iterations != self.expected_iterations:
            errors.append(
                f"iterations {iterations} != oracle {self.expected_iterations}"
            )
        with open(self.out_path) as f:
            got = [line.split() for line in f]
        got = [(int(p[1:-1]), float(s[1:-1])) for p, s in got]
        if [p for p, _ in got] != [p for p, _ in self.expected]:
            errors.append("top-100 page order differs from the oracle")
        elif any(abs(a[1] - b[1]) > 1e-9 for a, b in zip(got, self.expected)):
            errors.append("top-100 score differs from the oracle by > 1e-9")
        return errors


class OperatorMix:
    """``sf-mix``: one pass of a fixed query list over seeded fixture
    tables, every result collected and compared with its DuckDB twin."""

    # span → declared queries of ``__spark_entry__.queries()``. Every
    # span keeps its cheaper queries: with q12, q18, q74, q75, q213,
    # q112, q171, q184 and q124 as well, a pass took ~18 s warm and
    # ~38 s cold on 4 cores, too long for a run of about a minute.
    queries = {
        "sql": ["q11_lineitem_agg", "q49_tpch_q3", "q209_tpch_q6"],
        "operators.text": ["q21_fingerprint", "q22_language_id"],
        "operators.dedup": ["q27_minhash_lsh"],
        "operators.stats": ["q199_mad_outliers"],
        "streaming": ["q35_sessionize"],
        "table": ["q239_merge_schema_evolution"],
        "graph.fixedk": ["q125_katz_centrality"],
    }
    spans = list(queries)
    sf = 0.01
    warmup_ops = 0

    def __init__(self, seed: int, work: str, entry):
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"sf-mix-{seed}")
        self.entry = entry
        self.passes = 0

    def prepare(self) -> dict:
        """Write the tables (cached by seed) and run every DuckDB twin."""
        import duckdb

        from tables import TABLES, write

        t0 = time.perf_counter()
        done = os.path.join(self.dir, "_SUCCESS")
        if not os.path.exists(done):
            write(self.seed, self.sf, self.dir)
            open(done, "w").close()
        t1 = time.perf_counter()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.dir}/{t}.parquet')"
            )
        sql = self.entry.oracle_sql()
        self.expected = {
            q: _normalize(con.execute(sql[q]).fetchdf())
            for qs in self.queries.values() for q in qs
        }
        con.close()
        return {"gen_s": t1 - t0, "oracle_s": time.perf_counter() - t1,
                "queries": len(self.expected)}

    def op(self, spark, span: Spans) -> OpResult:
        fns = self.entry.queries()
        order = [(s, q) for s, qs in self.queries.items() for q in qs]
        random.Random(f"{self.seed}:{self.passes}").shuffle(order)
        self.passes += 1
        before = len(span.windows)
        results = {}
        for s, q in order:
            with span(s):
                results[q] = fns[q](spark, self.dir).toPandas()
        errors = [e for q, pdf in results.items() if (e := self.check(q, pdf))]
        return OpResult(_timed(span, before), not errors, errors)

    def check(self, name: str, pdf) -> str | None:
        """Row count, column set and exact values after sorting both
        sides (the repository's DuckDB parity rule)."""
        import pandas as pd

        want = self.expected[name]
        if len(pdf) != len(want):
            return f"{name}: {len(pdf)} rows, oracle {len(want)}"
        if sorted(pdf.columns) != list(want.columns):
            return f"{name}: columns {sorted(pdf.columns)} != {list(want.columns)}"
        try:
            pd.testing.assert_frame_equal(
                _normalize(pdf), want, check_dtype=False, check_exact=True
            )
        except AssertionError as exc:
            return f"{name}: values differ: {str(exc).splitlines()[-1][:200]}"
        return None


def _normalize(pdf):
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf.reset_index(drop=True)
