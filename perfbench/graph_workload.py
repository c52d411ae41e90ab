"""iterative_graph: the Pregel-style registered queries, one closed-loop client.

Each op materializes one registered query through the noop sink. The
seven queries are the iterative graph and dedup operators, whose cost is
Spark job count and driver gap rather than compute. The workload never
touches the server, the engine, ingest or warehouse writes.

Inputs are generated from the seed at the shape of the star-schema test
tables (about 1/10 of the sf0.1 row counts), so the DuckDB ``ORACLE``
entries of the same queries can check every result.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_NAMES = ("graph_pagerank", "graph_khop", "dedup_clusters")

#: Row counts of the generated tables.
SIZES = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
         "part": 2000, "orders": 15000, "events": 10000, "documents": 500}

_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window data column join small customer "
          "query big order stream group filter vector").split()


def generate(data_dir: str, seed: int) -> None:
    """Write the eight input tables as parquet under ``data_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    n = SIZES
    base_ts = np.datetime64("2024-01-01T00:00:00", "us")
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(n["region"], dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(n["nation"], dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(n["nation"])],
            "n_regionkey": pa.array(np.arange(n["nation"], dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n["customer"]), 2)),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n["customer"]).tolist(),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n["supplier"]), 2)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": [f"part {i}" for i in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "SMALL", "LARGE", "PROMO"],
                                 n["part"]).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + np.arange(n["part"]) / 10.0),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n["orders"]), 2)),
            "o_orderdate": pa.array(
                np.datetime64("1995-01-01", "us")
                + rng.integers(0, 1500, n["orders"]) * np.timedelta64(1, "D")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"],
                                          n["orders"]).tolist(),
        },
        "events": {
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": pa.array(base_ts + np.sort(rng.integers(
                0, 30 * 86_400_000_000, n["events"])) * np.timedelta64(1, "us")),
            "user_id": pa.array(rng.integers(0, 150, n["events"])),
            "event_type": rng.choice(["signup", "error", "click", "view",
                                      "purchase"], n["events"]).tolist(),
            "value": pa.array(np.round(rng.uniform(0, 50, n["events"]), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
        "documents": _documents(rng, n["documents"]),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(data_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Random-word documents with planted near-duplicate clusters of one
    fixed shape: a base, two one-word edits of it and an edit of the
    second edit, so every seed needs the same number of label rounds in
    ``dedup_clusters`` and only the content varies."""
    texts: list[str] = []
    clusters = n // 8
    for _ in range(clusters):
        base = rng.choice(_WORDS, int(rng.integers(40, 90))).tolist()
        family = [base]
        for parent in (0, 0, 2):
            words = list(family[parent])
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            family.append(words)
        texts += [" ".join(w) for w in family]
    texts += [" ".join(rng.choice(_WORDS, int(rng.integers(40, 90))))
              for _ in range(n - len(texts))]
    texts = [texts[i] for i in rng.permutation(n)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n).tolist(),
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


class IterativeGraph:
    name = "iterative_graph"
    clients = 1

    def __init__(self, spark, work: str, seed: int, tracer, trace: bool):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.data_dir = os.path.join(work, "tables")
        self.wrong: set[str] = set()

    def build(self) -> None:
        generate(self.data_dir, self.seed)

    def warm_and_check(self) -> tuple[int, int]:
        """Untimed first pass: each query once, its rows compared with
        its DuckDB oracle over the same parquet. The first pass also pays
        JIT and code generation (pagerank ran about 2x slower in it), so
        timing starts on the second. Returns ``(checked, wrong)``."""
        from corkscrew_spark.plans.queries import ORACLE, QUERIES
        from corkscrew_spark.testing import compare_frames, duckdb_connection

        con = duckdb_connection(self.data_dir)
        try:
            for name in QUERY_NAMES:
                got = QUERIES[name](self.spark, self.data_dir).toPandas()
                want = con.execute(ORACLE[name]).fetchdf()
                try:
                    compare_frames(got, want, name)
                except AssertionError as ex:
                    print(f"WRONG {name}: {str(ex)[:300]}")
                    self.wrong.add(name)
        finally:
            con.close()
        return len(QUERY_NAMES), len(self.wrong)

    def close(self) -> None:
        pass

    def live_metrics(self) -> dict:
        return {}

    def measure(self, seconds: float) -> list[tuple[float, bool]]:
        """Whole passes over the queries; a pass is never cut, so every
        run times the same mix."""
        from corkscrew_spark.plans.queries import QUERIES
        from measure import closed_loop

        ops: list[tuple[float, bool]] = []

        def one_pass() -> None:
            for name in QUERY_NAMES:
                t0 = time.perf_counter()
                ok = name not in self.wrong
                try:
                    with self.tracer.span(f"q.{name}", group=True):
                        (QUERIES[name](self.spark, self.data_dir)
                         .write.format("noop").mode("overwrite").save())
                except Exception as ex:  # noqa: BLE001 — counted as failed
                    print(f"FAILED {name}: {str(ex)[:300]}")
                    ok = False
                ops.append((time.perf_counter() - t0, ok))

        closed_loop(one_pass, seconds)
        return ops

    def layer_metrics(self, log) -> dict[str, tuple[float, str]]:
        from measure import median

        out: dict[str, tuple[float, str]] = {}
        for name in QUERY_NAMES:
            costs = [log.cost(s) for s in self.tracer.timed(f"q.{name}")]
            for key, unit in (("wall_s", "s"), ("jobs", "count"),
                              ("tasks", "count"), ("driver_gap_s", "s"),
                              ("task_run_s", "s"), ("task_cpu_s", "s"),
                              ("shuffle_mb", "MB")):
                out[f"q.{name}.{key}"] = (median([c[key] for c in costs]), unit)
        return out
