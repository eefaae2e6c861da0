"""The benchmark's workloads.

Each workload is one closed-loop client: it sends its next operation
only after the previous one returned.  A run sets the session up, then
repeats a fixed, seeded script of operations in passes: pass 1 is the
cold pass, later passes are warm.  Every answer is checked by ``gate``.
"""

from __future__ import annotations

import datetime as dt
import gc
import glob
import os
import random
import time

import datagen
import gate

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def release_blocks(spark) -> None:
    """Drop every cached table and persisted RDD (the bench.py release)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    for rdd in spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(jsc.getPersistentRDDs()).values():
        rdd.unpersist(False)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    """Base: inputs, set-up and passes of one workload."""

    name = ""
    sf = 0.01
    primary = ""

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.data = os.path.join(work_dir, "data")
        self.rng = random.Random(seed)
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.input_bytes: dict[str, int] = {}
        self.extra: dict[str, list[float]] = {}

    # -- helpers --------------------------------------------------------

    def record(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds)

    def check(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{what}: {reason}")

    def make_inputs(self) -> None:
        self.input_bytes.update(datagen.write_star(self.data, self.seed, self.sf))

    def setup(self, spark) -> None:
        """Table registration and one warm-up operation (part of
        ``setup_s``)."""
        raise NotImplementedError

    def run_pass(self, spark, k: int) -> float:
        """One pass of the script; returns its wall seconds."""
        raise NotImplementedError


# ---------------------------------------------------------------- http


class HttpSession(Workload):
    """The reference's user flow through the Flask facade."""

    name = "http_session"
    primary = "query"
    sf = 0.01
    UPLOAD_ROWS = (500, 2000, 8000)
    NOW = dt.date(2024, 7, 15)
    CAP = 200

    # question -> expected DuckDB SQL and column order ("last month" is
    # June 2024, relative to NOW).
    DF_QUESTIONS = {
        "Which services were affected in Mumbai last month?": (
            "SELECT Service, COUNT(*) AS count FROM df WHERE City = 'Mumbai' "
            "AND incident_date BETWEEN TIMESTAMP '2024-06-01 00:00:00' AND TIMESTAMP '2024-06-30 23:59:59' GROUP BY Service",
            ["Service", "count"],
        ),
        "which City": ("SELECT City, COUNT(*) AS count FROM df GROUP BY City", ["City", "count"]),
        "Which service had incidents in Delhi?": (
            "SELECT Service, COUNT(*) AS count FROM df WHERE City = 'Delhi' GROUP BY Service",
            ["Service", "count"],
        ),
        "average severity by City": (
            "SELECT City, AVG(severity) AS avg_severity FROM df GROUP BY City",
            ["City", "avg_severity"],
        ),
        "how many incidents per Service": (
            "SELECT Service, COUNT(*) AS count FROM df GROUP BY Service",
            ["Service", "count"],
        ),
        "how many distinct City": (
            "SELECT COUNT(DISTINCT City) AS distinct_City FROM df",
            ["distinct_City"],
        ),
    }
    REVENUE_JOIN = (
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey"
    )
    STAR_QUESTIONS = {
        "top 5 nations by revenue": (
            "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
            f"{REVENUE_JOIN} GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 5",
            ["n_name", "revenue"],
        ),
        "how many customers per n_name": (
            "SELECT n_name, COUNT(*) AS count FROM customer JOIN nation "
            "ON c_nationkey = n_nationkey GROUP BY n_name",
            ["n_name", "count"],
        ),
        "total revenue per nation": (
            "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
            f"{REVENUE_JOIN} GROUP BY n_name",
            ["n_name", "revenue"],
        ),
        "average o_totalprice per o_orderpriority": (
            "SELECT o_orderpriority, AVG(o_totalprice) AS avg_o_totalprice "
            "FROM orders GROUP BY o_orderpriority",
            ["o_orderpriority", "avg_o_totalprice"],
        ),
    }
    SHOW_ALL = "show all data"
    TABLES = ("nation", "customer", "orders", "lineitem")

    def make_inputs(self) -> None:
        super().make_inputs()
        import duckdb

        self.uploads = []
        self.duck = duckdb.connect()
        gate.duck_views(self.duck, self.data, self.TABLES)
        self.expected: dict[tuple[int, str], tuple[list[str], list[tuple]]] = {}
        for rows in self.UPLOAD_ROWS:
            table = datagen.incidents(self.seed, rows)
            path = os.path.join(self.data, f"incidents_{rows}.csv")
            self.input_bytes[f"upload_{rows}"] = datagen.write_csv(table, path)
            self.duck.register("df", table)
            for q, (sql, cols) in self.DF_QUESTIONS.items():
                self.expected[(rows, q)] = (cols, self.duck.execute(sql).fetchall())
            cols = ["City", "Service", "incident_date", "severity"]
            self.expected[(rows, self.SHOW_ALL)] = (cols, self.duck.execute("SELECT * FROM df").fetchall())
            self.duck.unregister("df")
            self.uploads.append((rows, path))
        for q, (sql, cols) in self.STAR_QUESTIONS.items():
            self.expected[(0, q)] = (cols, self.duck.execute(sql).fetchall())
        self.duck.close()
        # The seeded script: every run asks the same questions, so the
        # latency mix is fixed; the seed shuffles the uploads, which
        # upload each star question follows, and the order.  Each upload
        # is followed by "show all data" and every question about it.
        self.rng.shuffle(self.uploads)
        star = [(q, True) for q in self.STAR_QUESTIONS]
        self.rng.shuffle(star)
        n = len(self.uploads)
        self.script = []
        for i, (rows, path) in enumerate(self.uploads):
            qs = [(self.SHOW_ALL, False)] + [(q, False) for q in self.DF_QUESTIONS] + star[i::n]
            self.rng.shuffle(qs)
            self.script.append((rows, path, qs))

    def setup(self, spark) -> None:
        from csv_query_engine_spark.engine import QueryEngine
        from csv_query_engine_spark.http_api import create_app
        from csv_query_engine_spark.io.readers import load_tables

        self.engine = QueryEngine(spark, now=self.NOW)
        for name, df in load_tables(spark, self.data, self.TABLES).items():
            self.engine.register(df, name)
        app = create_app(self.engine)
        app.config["TESTING"] = True
        self.client = app.test_client()
        r = self.client.post("/query", json={"question": "top 5 nations by revenue", "use_ai": False, "multi_table": True})
        if r.status_code != 200:
            raise RuntimeError(f"warm-up query failed: {r.get_json()}")

    def run_pass(self, spark, k: int) -> float:
        total = 0.0
        for rows, path, qs in self.script:
            with self.tracer.op(f"p{k}-upload-{rows}", "http_api.request", route="upload"):
                t0 = time.perf_counter()
                with open(path, "rb") as f:
                    r = self.client.post("/upload", data={"file": (f, "incidents.csv")})
                dt_s = time.perf_counter() - t0
            total += dt_s
            self.record("upload", dt_s)
            self.check(f"upload {rows}", None if r.status_code == 200 else f"HTTP {r.status_code}: {r.get_json()}")
            for q, multi in qs:
                body = {"question": q, "use_ai": False}
                if multi:
                    body["multi_table"] = True
                with self.tracer.op(f"p{k}-{rows}-{q}", "http_api.request", route="query") as rec:
                    t0 = time.perf_counter()
                    r = self.client.post("/query", json=body)
                    payload = r.get_data()
                    dt_s = time.perf_counter() - t0
                    if rec is not None:
                        b = r.get_json() or {}
                        rec["response_bytes"] = len(payload)
                        rec["rows"] = b.get("row_count", 0)
                        rec["collapsed"] = bool(b.get("collapsed"))
                total += dt_s
                self.record("query", dt_s)
                self.check(f"query {q!r} on {rows} rows", self._verify(rows, q, multi, r))
        return total

    def _verify(self, rows: int, q: str, multi: bool, r) -> str | None:
        if r.status_code != 200:
            return f"HTTP {r.status_code}: {r.get_json()}"
        b = r.get_json()
        if q == self.SHOW_ALL:
            cols, base = self.expected[(rows, q)]
            return gate.capped_mismatch(b["columns"], b["rows"], b["collapsed"], cols, base, self.CAP)
        cols, want = self.expected[(0 if multi else rows, q)]
        return gate.exact_mismatch(b["columns"], b["rows"], cols, want)


# ----------------------------------------------------------- operators


class OperatorSuite(Workload):
    """Registered operators in a seeded order, each run twice: a cold
    run, release of its cached blocks, then a warm run.  A run is
    construction (the registered function) plus execution, which
    collects the answer into Python (Arrow ``toPandas``) so the cold
    answer can be checked without executing the plan a third time."""

    primary = "operator"
    OPERATORS: tuple[str, ...] = ()

    def make_inputs(self) -> None:
        super().make_inputs()
        from csv_query_engine_spark.queries import all_oracles, all_queries

        self.fns = all_queries()
        self.oracles = all_oracles()
        self.order = list(self.OPERATORS)
        self.rng.shuffle(self.order)
        self.per_op: dict[str, list[float]] = {n: [] for n in self.order}

    def setup(self, spark) -> None:
        noop(self.fns["flagship_region_nation_revenue"](spark, self.data))

    def run_pass(self, spark, k: int) -> float:
        total = 0.0
        for name in self.order:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            for run in ("cold", "warm"):
                with self.tracer.op(f"p{k}-{name}-{run}", "operator", operator=name, run=run):
                    t0 = time.perf_counter()
                    with self.tracer.span("queries.construct"):
                        df = self.fns[name](spark, self.data)
                    with self.tracer.span("spark.execute"):
                        pdf = df.toPandas()
                    dt_s = time.perf_counter() - t0
                release_blocks(spark)
                total += dt_s
                self.per_op[name].append(dt_s)
                self.record("operator", dt_s)
                self.record(run, dt_s)
                if k == 1 and run == "cold":
                    self.check(name, self._verify(name, pdf))
        return total

    def _verify(self, name: str, pdf) -> str | None:
        if name not in self.oracles:
            return None if len(pdf) > 0 else "no rows"
        import duckdb

        con = duckdb.connect()
        try:
            gate.duck_views(con, self.data, STAR)
            return gate.operator_mismatch(pdf, con.execute(self.oracles[name]).df())
        finally:
            con.close()


class OpsRelational(OperatorSuite):
    name = "ops_relational"
    OPERATORS = (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q9_profit_proxy",
        "q18_volume_customers",
        "q21_sole_late_shipper",
        "flagship_region_nation_revenue",
        "range_join_shipments_within_month",
    )


class OpsPipeline(OperatorSuite):
    name = "ops_pipeline"
    OPERATORS = (
        "graph_pagerank_directed_purchases",
        "dedup_semantic_pairs",
        "embedding_pq_topk",
        "graph_triangle_part_cooccurrence",
    )


# ----------------------------------------------------------- streaming


class StreamStores(Workload):
    """Seeded micro-batches routed into the SUM (Count-Min), MAX (HLL)
    and MIN (minhash admission) stores, then compaction and read-back."""

    name = "stream_stores"
    primary = "route"
    EVENT_BATCHES = 5
    DOC_BATCHES = 1
    EVENT_ROWS = 1500
    DOC_ROWS = 200
    CM_SCHEMA = "r INT, c BIGINT, cnt BIGINT, batch_id BIGINT"
    HLL_SCHEMA = "event_type STRING, b BIGINT, mb INT, batch_id BIGINT"

    def make_inputs(self) -> None:
        super().make_inputs()
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(self.data, "events.parquet"))
        docs = pq.read_table(os.path.join(self.data, "documents.parquet")).select(["doc_id", "text"])
        e0 = self.rng.randrange(0, events.num_rows - self.EVENT_BATCHES * self.EVENT_ROWS)
        d0 = self.rng.randrange(0, docs.num_rows - self.DOC_BATCHES * self.DOC_ROWS)
        self.event_batches, self.doc_batches = [], []
        for kind, table, start, rows, n, out in (
            ("events", events, e0, self.EVENT_ROWS, self.EVENT_BATCHES, self.event_batches),
            ("docs", docs, d0, self.DOC_ROWS, self.DOC_BATCHES, self.doc_batches),
        ):
            for b in range(n):
                path = os.path.join(self.data, f"{kind}_b{b}.parquet")
                pq.write_table(table.slice(start + b * rows, rows), path)
                self.input_bytes[f"{kind}_b{b}"] = os.path.getsize(path)
                out.append(path)
        self.fed_bytes = sum(os.path.getsize(p) for p in self.event_batches + self.doc_batches)

    def setup(self, spark) -> None:
        from csv_query_engine_spark.streaming import events as ev

        self.ev = ev
        warm = os.path.join(self.work, "warmup", str(time.monotonic_ns()))
        ev.route_cm_batch(spark.read.parquet(self.event_batches[0]), 0, "user_id", f"{warm}/cm")

    def run_pass(self, spark, k: int) -> float:
        """Each event batch through the Count-Min (SUM) and HLL (MAX)
        routes and each document batch through minhash admission (MIN),
        then every store's newest batch again under its own batch id
        (the at-least-once replay), then compaction of the sketch stores
        and the read-back of all three."""
        ev = self.ev
        root = os.path.join(self.work, "stores", f"p{k}")
        cm, hll, mh = f"{root}/cm", f"{root}/hll", f"{root}/mh"
        calls = []
        for b, path in enumerate(self.event_batches + self.event_batches[-1:]):
            b = min(b, self.EVENT_BATCHES - 1)
            calls.append(("cm", b, lambda df, b: ev.route_cm_batch(df, b, "user_id", cm), path))
            calls.append(("hll", b, lambda df, b: ev.route_hll_batch(df, b, "user_id", "event_type", hll), path))
        for b, path in enumerate(self.doc_batches + self.doc_batches[-1:]):
            b = min(b, self.DOC_BATCHES - 1)
            calls.append(("minhash", b, lambda df, b: ev.route_minhash_admission_batch(df, b, mh), path))
        total = 0.0
        for kind, b, call, path in calls:
            df = spark.read.parquet(path)
            with self.tracer.op(f"p{k}-{kind}-b{b}", "streaming.route", route=kind):
                t0 = time.perf_counter()
                call(df, b)
                dt_s = time.perf_counter() - t0
            total += dt_s
            self.record("route", dt_s)
        with self.tracer.op(f"p{k}-compact", "streaming.compact"):
            t0 = time.perf_counter()
            ev.compact_sum_store(spark, cm, self.CM_SCHEMA, ["r", "c"], "cnt")
            ev.compact_batch_store(spark, hll, self.HLL_SCHEMA, ["event_type", "b"], "mb", "max")
            dt_s = time.perf_counter() - t0
        total += dt_s
        self.record("compact", dt_s)
        with self.tracer.op(f"p{k}-read", "streaming.read"):
            t0 = time.perf_counter()
            got = {
                "cm": ev.read_cm_cells(spark, cm).collect(),
                "hll": ev.read_hll_registers(spark, hll, "event_type").collect(),
                "mh": ev.read_minhash_verdicts(spark, mh).drop("batch_id").collect(),
            }
            dt_s = time.perf_counter() - t0
        total += dt_s
        self.record("read", dt_s)
        files = [p for p in glob.glob(f"{root}/**", recursive=True) if os.path.isfile(p)]
        self.extra.setdefault("store_bytes", []).append(float(sum(os.path.getsize(p) for p in files)))
        self.extra.setdefault("store_files", []).append(float(len(files)))
        if k == 1:
            self._verify(spark, got)
        return total

    def _verify(self, spark, got) -> None:
        """The compacted stores, read back after the replay, equal the
        one-shot batch computation over the same rows: merging,
        compaction and the replay changed nothing."""
        from pyspark.sql import functions as F

        from csv_query_engine_spark.pipeline.dedup import minhash_dedup_survivors
        from csv_query_engine_spark.pipeline.sketches import cm_cells, hll_registers

        events = spark.read.parquet(*self.event_batches)
        docs = spark.read.parquet(*self.doc_batches)
        want = {
            "cm": cm_cells(events.select("user_id"), "user_id").select("r", "c", "cnt").collect(),
            "hll": hll_registers(
                events.withColumn("event_type", F.col("event_type").cast("string")), "user_id", "event_type"
            ).select("event_type", "b", "mb").collect(),
            "mh": minhash_dedup_survivors(docs, threshold=0.5, est_margin=None)
            .select("doc_id", "is_dup", "dup_of", "dup_jaccard")
            .collect(),
        }
        for key in ("cm", "hll", "mh"):
            self.check(f"{key} store == one-shot batch result", None if gate.same_rows(got[key], want[key]) else "rows differ")


WORKLOADS = {w.name: w for w in (HttpSession, OpsRelational, OpsPipeline, StreamStores)}
