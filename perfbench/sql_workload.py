"""sql_api: SQL questions over HTTP, two closed-loop clients.

Set-up generates resources, their relationships and change events with
``ingest.synthetic``, writes them through the ``warehouse`` writers,
records zone maps and blooms with ``skipping.compute_stats`` and serves
them from an in-process ``ApiServer`` on 127.0.0.1. In a traced run,
set-up also runs the scan-audit write path (``audit.Audit``) over a
small seeded estate, a first load and one checked and traced cycle, to
report the ingest, warehouse-write, compliance and drift layers.

Each client posts ``/v1/query`` and waits for the reply before sending
the next request. The mix sends six request kinds in equal shares, in
seeded shuffled rounds of six. Each kind's parameters come from the
seed, and DuckDB answers every distinct request over the same parquet
at set-up, so each response is checked.

The cost of a request is on the driver: validation, the skipping
rewrite, Catalyst planning and job latency. The workload reads the
warehouse and never runs the iterative operators.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import threading
import time

from corkscrew_spark.ingest.synthetic import ACCOUNTS, REGIONS, SERVICES

#: Synthetic resources; relationships and change events derive from them.
N_RESOURCES = 50_000
EVENTS_PER_RESOURCE = 4
#: Distinct parameter sets per request kind. All are answered at set-up
#: and sent once in the warm pass, so the timed phase finds their
#: generated code compiled.
POOL_PER_KIND = 4
#: Rows per written file, so the tables have enough files to prune.
ROWS_PER_FILE = 10_000
CLIENTS = 2

KINDS = ("point", "range", "rollup", "json", "changes", "join")


def _ts(hour: int) -> str:
    day, h = divmod(hour, 24)
    return f"2024-01-{day + 1:02d} {h:02d}:00:00"


def request(kind: str, rng: random.Random) -> tuple[str, str]:
    """One request of ``kind`` as (Spark SQL, DuckDB SQL)."""
    if kind == "point":
        # the id synthetic.resources gives row i
        i = rng.randrange(N_RESOURCES)
        svc = SERVICES[i % 6]
        rid = (f"arn:aws:{svc}:{REGIONS[(i * 7) % 5]}:{ACCOUNTS[i % 2]}:"
               f"{svc}-res-{i}")
        sql = ("SELECT id, name, service, region, state FROM resources "
               f"WHERE id = '{rid}'")
        return sql, sql
    if kind == "range":
        h = rng.randrange(0, 720 - 12)
        sql = ("SELECT region, count(*) AS n FROM resources "
               f"WHERE created_at >= TIMESTAMP '{_ts(h)}' "
               f"AND created_at < TIMESTAMP '{_ts(h + 12)}' "
               "GROUP BY region ORDER BY region")
        return sql, sql
    if kind == "rollup":
        sql = ("SELECT service, state, count(*) AS n FROM resources "
               f"WHERE account_id = '{rng.choice(ACCOUNTS)}' "
               "GROUP BY service, state ORDER BY service, state")
        return sql, sql
    if kind == "json":
        status = rng.choice(("Enabled", "Suspended"))
        region = rng.choice(REGIONS)
        tail = (f"= '{status}' AND region = '{region}' "
                "GROUP BY state ORDER BY state")
        return (
            "SELECT state, count(*) AS n FROM resources WHERE service = 's3' "
            f"AND extract_json(raw_data, '$.Versioning.Status') {tail}",
            "SELECT state, count(*) AS n FROM resources WHERE service = 's3' "
            f"AND json_extract_string(raw_data, '$.Versioning.Status') {tail}")
    if kind == "changes":
        h = rng.randrange(0, 720 - 24)
        where = (f">= TIMESTAMP '{_ts(h)}' AND {{c}} < TIMESTAMP '{_ts(h + 24)}' "
                 "GROUP BY change_type, severity ORDER BY change_type, severity")
        return (
            "SELECT change_type, severity, count(*) AS n FROM change_events "
            "WHERE `timestamp` " + where.format(c="`timestamp`"),
            "SELECT change_type, severity, count(*) AS n FROM change_events "
            'WHERE "timestamp" ' + where.format(c='"timestamp"'))
    if kind == "join":
        sql = ("SELECT r.service, count(*) AS n FROM relationships rel "
               "JOIN resources r ON rel.from_id = r.id "
               f"WHERE r.region = '{rng.choice(REGIONS)}' "
               "AND rel.relationship_type = 'contained_in' "
               "GROUP BY r.service ORDER BY r.service")
        return sql, sql
    raise ValueError(kind)


def _cell(v) -> str:
    return "" if v is None else str(v)


def _files_read(plan) -> int:
    """Sum of ``numFiles`` over the file scans of an executed plan,
    looking through adaptive plans and query stages."""
    todo, n = [plan], 0
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            metric = node.metrics().get("numFiles")
            if metric.isDefined():
                n += metric.get().value()
        kids = node.children()
        todo.extend(kids.apply(k) for k in range(kids.size()))
    return n


class SqlApi:
    name = "sql_api"
    clients = CLIENTS

    def __init__(self, spark, work: str, seed: int, tracer, trace: bool):
        from audit import Audit

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.trace = trace
        self.audit = Audit(spark, os.path.join(work, "estate"), seed, tracer)
        self.audit_ok = True
        self.dir = os.path.join(work, "warehouse")
        self.tables = {t: os.path.join(self.dir, t)
                       for t in ("resources", "relationships", "change_events")}
        self.pool: list[tuple[str, str, list[dict]]] = []  # kind, sql, rows
        self.replies: list[tuple] = []  # latency, pool index, envelope
        self.traced_replies: list[tuple] = []
        self.api = self.httpd = self.thread = None

    # -- set-up -----------------------------------------------------------

    def build(self) -> None:
        from corkscrew_spark import skipping, warehouse
        from corkscrew_spark.ingest import synthetic

        spark, t = self.spark, self.tables
        files = max(1, N_RESOURCES // ROWS_PER_FILE)
        res = synthetic.resources(spark, N_RESOURCES).repartition(files)
        warehouse.write_partitioned(res, t["resources"], ["service"],
                                    max_records_per_file=ROWS_PER_FILE)
        stored = spark.read.parquet(t["resources"])
        warehouse.write_partitioned(
            synthetic.relationships(spark, stored), t["relationships"],
            ["relationship_type"], max_records_per_file=ROWS_PER_FILE)
        warehouse.write_partitioned(
            synthetic.change_events(spark, stored, EVENTS_PER_RESOURCE),
            t["change_events"], ["change_type"],
            max_records_per_file=ROWS_PER_FILE)
        bits = skipping.bloom_bits_for(ROWS_PER_FILE)
        skipping.compute_stats(spark, t["resources"], ["created_at", "region"],
                               bloom_cols=["id"], bloom_bits=bits)
        skipping.compute_stats(spark, t["change_events"], ["timestamp"],
                               bloom_cols=["resource_id"], bloom_bits=bits)
        self._answer()
        if self.trace:
            self.audit.first_load()
            self.tracer.enabled = True
            try:
                self.audit_ok = self.audit.correct(self.audit.run_cycle())
            finally:
                self.tracer.enabled = False

    def _answer(self) -> None:
        """The request pool and DuckDB's answer to each request."""
        import duckdb

        rng = random.Random(self.seed)
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for name, path in self.tables.items():
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{path}/**/*.parquet', hive_partitioning = true)")
            self.pool = []
            for kind in KINDS:
                for _ in range(POOL_PER_KIND):
                    spark_sql, duck_sql = request(kind, rng)
                    cur = con.execute(duck_sql)
                    cols = [d[0] for d in cur.description]
                    rows = [{c: _cell(v) for c, v in zip(cols, row)}
                            for row in cur.fetchall()]
                    self.pool.append((kind, spark_sql, rows))
        finally:
            con.close()

    def _serve(self) -> None:
        from corkscrew_spark.server import ApiServer

        self.api = ApiServer(self.spark, warehouse=self.tables)
        # spans record only while the tracer is enabled
        self.tracer.wrap(self.api, "execute_query", "server.execute_query",
                         group=True)
        self.tracer.wrap(self.api.engine, "execute", "engine.execute")
        self.tracer.wrap(self.api.engine, "validate", "engine.validate")
        self.httpd = self.api.make_http_server("127.0.0.1", 0)
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       kwargs={"poll_interval": 0.05})
        self.thread.start()

    def close(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self.thread.join(timeout=30)

    def _post(self, sql: str) -> dict:
        host, port = self.httpd.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=120)
        try:
            conn.request("POST", "/v1/query", json.dumps({"query": sql}),
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return json.loads(resp.read())
        finally:
            conn.close()

    def warm_and_check(self) -> tuple[int, int]:
        """Untimed warm pass: every pooled request once, sent by the two
        clients side by side, each reply compared with DuckDB's answer."""
        from concurrent.futures import ThreadPoolExecutor

        self._serve()
        with ThreadPoolExecutor(CLIENTS) as pool:
            replies = list(pool.map(lambda q: self._post(q[1]), self.pool))
        wrong = sum(not self._correct(i, env) for i, env in enumerate(replies))
        return len(self.pool) + int(self.trace), wrong + (not self.audit_ok)

    def _correct(self, i: int, env: dict) -> bool:
        kind, _, want = self.pool[i]
        got = [r["values"] for r in env.get("rows", [])]
        if "error" in env or got != want:
            print(f"WRONG {kind}: {env.get('error') or got[:3]} != {want[:3]}")
            return False
        return True

    # -- timed phase ------------------------------------------------------

    def measure(self, seconds: float) -> list[tuple[float, bool]]:
        from measure import closed_loop

        results: list[list] = [[] for _ in range(CLIENTS)]
        errors: list[BaseException] = []

        def client(c: int) -> None:
            # kinds in seeded shuffled rounds: equal shares in every
            # stretch of six requests, so a short run times the same mix
            rng = random.Random(self.seed * 1000 + c)
            kinds: list[int] = []

            def one_request() -> None:
                if not kinds:
                    kinds.extend(rng.sample(range(len(KINDS)), len(KINDS)))
                i = kinds.pop() * POOL_PER_KIND + rng.randrange(POOL_PER_KIND)
                t0 = time.perf_counter()
                env = self._post(self.pool[i][1])
                results[c].append((time.perf_counter() - t0, i, env))

            try:
                closed_loop(one_request, seconds)
            except BaseException as ex:  # noqa: BLE001 — re-raised below
                errors.append(ex)

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        # checked after the clock stopped
        self.replies = [(lat, i, env) for r in results for lat, i, env in r]
        return [(lat, self._correct(i, env)) for lat, i, env in self.replies]

    # -- per-layer --------------------------------------------------------

    def layer_metrics(self, log) -> dict[str, tuple[float, str]]:
        from measure import median

        tr = self.tracer
        replies = self.traced_replies
        out: dict[str, tuple[float, str]] = {}
        request_ms = [lat * 1e3 for lat, _, _ in replies]
        exec_ms = [env.get("execution_time_ms", 0) for _, _, env in replies]
        out["server.request_ms"] = (median(request_ms), "ms")
        out["server.exec_ms"] = (median(exec_ms), "ms")
        out["server.overhead_ms"] = (
            median([a - b for a, b in zip(request_ms, exec_ms)]), "ms")

        handled = tr.timed("server.execute_query")
        executes = {s["id"]: s for s in tr.timed("engine.execute")}
        validates = [s for s in tr.timed("engine.validate")
                     if s["parent"] in executes]
        by_parent = {s["parent"]: s for s in validates}
        out["engine.validate_ms"] = (
            median([(s["end"] - s["start"]) * 1e3 for s in validates]), "ms")
        out["engine.plan_ms"] = (median([
            ((e["end"] - e["start"]) - (by_parent[i]["end"] - by_parent[i]["start"])) * 1e3
            for i, e in executes.items() if i in by_parent]), "ms")
        exec_of = {e["parent"]: e for e in executes.values()}
        out["engine.run_ms"] = (median([
            ((h["end"] - h["start"]) - (exec_of[h["id"]]["end"] - exec_of[h["id"]]["start"])) * 1e3
            for h in handled if h["id"] in exec_of]), "ms")
        jobs = [log.cost(h)["jobs"] for h in handled]
        out["engine.jobs_per_req"] = (sum(jobs) / len(jobs) if jobs else 0.0,
                                      "count")
        for kind in KINDS:
            lat = [lat * 1e3 for lat, i, _ in replies
                   if self.pool[i][0] == kind]
            out[f"sql.{kind}.p50_ms"] = (median(lat), "ms")
        return {**out, **self.audit.layer_metrics(log)}

    def live_metrics(self) -> dict[str, tuple[float, str]]:
        """Called right after the traced half: keeps its replies and
        measures the files the executed plan read over files in the
        tables the request names, for the first pooled request of each
        kind. The
        count comes from the scans' ``numFiles`` metric, so partition
        pruning shows as well as skipping (``inputFiles()`` lists a
        relation's files before partition pruning)."""
        from measure import snapshot

        self.traced_replies = self.replies
        total = {t: len(snapshot(p)) for t, p in self.tables.items()}
        out = {}
        for kind in KINDS:
            _, sql, _ = self.pool[KINDS.index(kind) * POOL_PER_KIND]
            df = self.api.engine.execute(sql).df
            df.collect()
            opened = _files_read(df._jdf.queryExecution().executedPlan())
            named = [t for t in self.tables if f" {t} " in f"{sql} "]
            out[f"skipping.{kind}.files_read_ratio"] = (
                opened / sum(total[t] for t in named), "ratio")
        return out
