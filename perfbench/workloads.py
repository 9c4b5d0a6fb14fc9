"""The closed-loop workloads. Each has ``setup`` (run several times;
the last one's state is what the iterations use), ``warm_up`` (untimed,
before the timed loop), ``iteration`` (the timed unit of work; returns op
latencies and statuses), ``verify`` (untimed, after each iteration) and
``check`` (untimed, after the timed loop). ``warm_up``, ``verify`` and
``check`` return ``(checks attempted, mismatches)``."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import traceback
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import marts_project
from stats import tree_bytes

THREADS = "4"

#: marts_daily: TPC-H scale of the star, share of orders and of customers
#: re-offered per landed batch, and the ref chains of views beside the star
MARTS_SF = 0.002
BATCH_FRAC = 0.02
CHAINS = 5
DEPTH = 10

#: query_mix: scale of the generated inputs, closed-loop clients (threads
#: of the one driver process), and the float tolerance of the oracle
#: check: cells may differ by at most ROUNDING (relative, or absolute
#: below 1), one unit in the 6th decimal the queries round to
QUERY_SF = 0.001
CLIENTS = 4
ROUNDING = 2e-6

STREAMING = ["stream_pii_scrub", "stream_hll_cardinality", "stream_turn_dedup",
             "stream_kmv_cardinality", "stream_rollup_cascade",
             "stream_heavy_hitters"]


def query_names() -> list[str]:
    """The ``query_mix`` queries in pass order: the streaming six, the
    longest, first, so that no client starts one near the end of a pass."""
    from bench import HEADLINE

    return STREAMING + list(HEADLINE)


def run_clients(names, work) -> None:
    """Call ``work(name)`` once for each of ``names`` from CLIENTS
    threads; each takes the next name as soon as its previous call
    returns. ``work`` handles its own errors."""
    todo = list(reversed(names))
    lock = threading.Lock()

    def client() -> None:
        while True:
            with lock:
                if not todo:
                    return
                name = todo.pop()
            work(name)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class Context:
    """What every workload shares: the session, the seed, the scratch dir
    (deleted by the caller) and the tracer."""

    def __init__(self, spark, seed: int, work: str, tracer, collector=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.collector = collector  # SparkCollector while tracing, else None
        self.rng = np.random.default_rng(seed)


def _op_seconds(result: dict) -> float:
    """Node latency from its ``execute`` timing entry (microsecond
    timestamps); ``execution_time`` is rounded to 0.1 ms."""
    for t in result.get("timing") or []:
        if t["name"] == "execute" and t.get("completed_at"):
            return (datetime.fromisoformat(t["completed_at"])
                    - datetime.fromisoformat(t["started_at"])).total_seconds()
    return result["execution_time"]


def _run_results(target: str, tracer) -> tuple[list[float], list[str]]:
    """Per-node latencies and statuses of the run that just finished."""
    with tracer.span("harness"):
        with open(os.path.join(target, "run_results.json")) as f:
            results = json.load(f)["results"]
        return ([_op_seconds(r) for r in results],
                [r["status"] for r in results])


def _log_bytes(target: str) -> int:
    logs = os.path.join(target, "logs")
    return tree_bytes(logs) if os.path.isdir(logs) else 0


class MartsDaily:
    """The TPC-H marts project (marts_project.py) over seed-generated
    tables, with CHAINS view chains of DEPTH views beside it. Set-up
    generates the tables and runs ``build --full-refresh``. Each iteration
    lands one batch (``orders_batch`` rows re-offer existing order keys
    with new values, ``customer_batch`` rows change balances), edits the
    head of one seed-chosen chain, and runs ``build`` on a fresh
    ``Engine(vars={'batch': k})``; ``verify`` reads that chain's tail."""

    name = "marts_daily"
    #: a fixed count: later builds run faster as the JVM warms, so a count
    #: set by the clock would make the median depend on machine speed
    min_iterations = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        perm = ctx.rng.permutation(CHAINS * DEPTH)
        self.chains = [[f"m{perm[c * DEPTH + i]:04d}" for i in range(DEPTH)]
                       for c in range(CHAINS)]
        self.root = None
        self.batch = 0
        self.edited = None

    def setup(self, rep: int) -> None:
        if self.root:
            shutil.rmtree(self.root)
        self.root = os.path.join(self.ctx.work, f"marts_{rep}")
        self.data = os.path.join(self.root, "data")
        self.landing = os.path.join(self.root, "landing")
        os.makedirs(self.data)
        os.makedirs(self.landing)
        tables = datagen.tpch_tables(self.ctx.seed, MARTS_SF)
        for t in marts_project.RAW_TABLES:
            pq.write_table(pa.table(tables[t]),
                           os.path.join(self.data, f"{t}.parquet"))
        orders, customer = pa.table(tables["orders"]), pa.table(tables["customer"])
        self.schemas = {
            "orders": orders.schema.append(pa.field("batch_id", pa.int32())),
            "customer": customer.schema,
        }
        self.orders = orders.to_pandas()
        self.customer = customer.to_pandas()
        self.orders["batch_id"] = np.int32(0)
        self.snapshot_changes = 0
        self.batch = 0
        marts_project.write_project(self.root, self.data, self.landing,
                                    self.chains)
        self._build(["--full-refresh"])

    def warm_up(self) -> tuple[int, int]:
        """Nothing: the set-up builds ran every node already."""
        return 0, 0

    def _build(self, extra=()):
        from dbt_spark.runner import Engine

        self.eng = Engine(self.root, spark=self.ctx.spark,
                          vars={"batch": self.batch})
        return self.eng.invoke(["build", "--threads", THREADS, *extra])

    def _land(self) -> None:
        """Write batch ``self.batch`` and apply it to the expected state."""
        rng = np.random.default_rng([self.ctx.seed, self.batch])
        k = self.batch
        n_o = max(1, int(len(self.orders) * BATCH_FRAC))
        rows = rng.choice(len(self.orders), n_o, replace=False)
        upd = self.orders.iloc[rows].copy()
        upd["o_totalprice"] = np.round(rng.uniform(1000, 500_000, n_o), 2)
        upd["o_orderstatus"] = np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_o)]
        upd["batch_id"] = np.int32(k)
        n_c = max(1, int(len(self.customer) * BATCH_FRAC))
        crow = rng.choice(len(self.customer), n_c, replace=False)
        cupd = self.customer.iloc[crow].copy()
        delta = rng.uniform(1, 500, n_c) * rng.choice([-1, 1], n_c)
        cupd["c_acctbal"] = np.round(cupd["c_acctbal"] + delta, 2)
        for name, frame in (("orders", upd), ("customer", cupd)):
            path = os.path.join(self.landing, f"{name}_{k}.parquet")
            pq.write_table(pa.Table.from_pandas(
                frame, schema=self.schemas[name], preserve_index=False), path)
            self.ctx.tracer.count("bench.landed_bytes", os.path.getsize(path))
        self.orders.iloc[rows] = upd
        self.customer.iloc[crow] = cupd
        self.snapshot_changes += n_c

    def iteration(self, it: int):
        self.batch += 1
        with self.ctx.tracer.span("harness"):
            self._land()
            c = int(self.ctx.rng.integers(len(self.chains)))
            self.edited = (c, f"t{it + 1}")
            with open(os.path.join(self.root, "models", "chains",
                                   f"{self.chains[c][0]}.sql"), "w") as f:
                f.write(marts_project.chain_head_sql(*self.edited))
        target = os.path.join(self.root, "target")
        before = _log_bytes(target)
        self._build()
        self.ctx.tracer.count("events.log_bytes", _log_bytes(target) - before)
        return _run_results(target, self.ctx.tracer)

    def verify(self) -> tuple[int, int]:
        """The edited chain's tail view returns its head's new row."""
        c, tag = self.edited
        rel = self._relation(self.chains[c][-1])
        rows = [tuple(r) for r in
                self.eng.store.read(rel.schema, rel.name).collect()]
        return 1, int(rows != [(c, tag)])

    def _relation(self, name: str):
        return next(r for r in self.eng.store.relations.values()
                    if r.name == name)

    def check(self) -> tuple[int, int]:
        """DuckDB recomputes every mart, both incremental models and the
        snapshot from the generated parquet plus the landed batches, and
        compares row counts and per-column sums with the warehouse files."""
        import duckdb

        con = duckdb.connect()
        try:
            return self._check(con)
        finally:
            con.close()

    def _check(self, con) -> tuple[int, int]:
        for t in marts_project.RAW_TABLES:
            con.sql(f"create view raw_{t} as select * from "
                    f"read_parquet('{self.data}/{t}.parquet')")
        for name, sql in marts_project.STAGING.items():
            con.sql(f"create view {name} as {marts_project.duckdb_sql(sql)}")
        orders, customer = self.orders, self.customer  # noqa: F841 — scanned
        con.sql("create table fct_orders as select * from orders")
        con.sql("create table dim_customer as select * from customer")
        seed = os.path.join(self.root, "seeds", "segment_targets.csv")
        con.sql(f"create table segment_targets as select * from "
                f"read_csv_auto('{seed}')")
        expected = {n: f"select * from {n}" for n in
                    ("fct_orders", "dim_customer", "segment_targets")}
        expected.update({n: marts_project.duckdb_sql(sql)
                         for n, sql in marts_project.MARTS.items()})
        attempted = mismatches = 0
        for name, sql in expected.items():
            attempted += 1
            want = self._summary(con, f"({sql})")
            got = self._summary(con, self._files(name))
            if not _close(want, got):
                mismatches += 1
                print(f"  check {name}: expected {want} got {got}")
        attempted += 1
        n_cust = len(self.customer)
        want = (n_cust + self.snapshot_changes, n_cust,
                round(float(self.customer["c_acctbal"].sum()), 2))
        row = con.sql(
            "select count(*), count(*) filter (where dbt_valid_to is null), "
            "round(sum(c_acctbal) filter (where dbt_valid_to is null), 2) "
            f"from {self._files('snap_customer')}").fetchone()
        if tuple(row) != want:
            mismatches += 1
            print(f"  check snap_customer: expected {want} got {row}")
        return attempted, mismatches

    def _files(self, name: str) -> str:
        return f"read_parquet('{self._relation(name).path}/*.parquet')"

    @staticmethod
    def _summary(con, relation: str) -> tuple:
        head = con.sql(f"select * from {relation} limit 0")
        sums = [f"sum({c})" for c, t in sorted(zip(head.columns, head.types))
                if str(t) in ("BIGINT", "INTEGER", "DOUBLE", "HUGEINT")
                or str(t).startswith("DECIMAL")]
        row = con.sql(f"select count(*), {', '.join(sums) or '0'} "
                      f"from {relation}").fetchone()
        return tuple(float(v or 0) for v in row)


def _close(a: tuple, b: tuple, rel: float = 1e-9) -> bool:
    return len(a) == len(b) and all(
        abs(x - y) <= rel * max(1.0, abs(x), abs(y)) for x, y in zip(a, b))


class QueryMix:
    """The 47 ``bench.HEADLINE`` queries plus six streaming registry
    queries on seed-generated tables. One iteration is one pass over all
    53, each executed to a ``noop`` sink, by CLIENTS closed-loop clients
    that take the next query in pass order as soon as their previous one
    returns. Run one at a time, these queries spend most of their time
    waiting on thread and process hand-offs (py4j, the scheduler, Python
    workers), and a pass's wall time moved with the shared host's load by
    a fifth between runs; with four clients those waits overlap and the
    pass is bounded by the CPU work. ``warm_up`` compares every query
    with the registry's DuckDB oracle, with the same clients: that runs
    each query once before the timed passes, which then start JIT-warm."""

    name = "query_mix"
    #: a fixed count: the first timed pass still runs a little slower than
    #: the next, so a count set by the clock would move the median
    min_iterations = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.names = query_names()
        self.data = None

    def setup(self, rep: int) -> None:
        from dbt_spark.session import read_parquet

        if self.data:
            shutil.rmtree(self.data)
        self.data = os.path.join(self.ctx.work, f"qm_{rep}")
        datagen.generate(self.data, self.ctx.seed, QUERY_SF)
        for t in datagen.TABLES:
            read_parquet(self.ctx.spark,
                         os.path.join(self.data, f"{t}.parquet")).count()

    def iteration(self, it: int):
        from dbt_spark.queries import QUERIES

        sc = self.ctx.spark.sparkContext
        tracer = self.ctx.tracer
        tmp = os.environ["TMPDIR"]
        before = set(os.listdir(tmp)) if tracer.active else None
        lat, statuses = {}, {}

        def run(name: str) -> None:
            sc.setJobGroup(f"query_mix:{it}:{name}", name)
            t0 = time.perf_counter()
            try:
                with tracer.span("queries.build"):
                    df = QUERIES[name](self.ctx.spark, self.data)
                with tracer.span("queries.execute"):
                    df.write.mode("overwrite").format("noop").save()
                statuses[name] = "success"
            except Exception:  # noqa: BLE001 — counted as a failed op
                traceback.print_exc(limit=3)
                statuses[name] = "error"
            lat[name] = time.perf_counter() - t0
            sc.setJobGroup("", "")
            tracer.count(f"query.{name}_s", lat[name])

        run_clients(self.names, run)
        if tracer.active:
            with tracer.span("harness"):
                # counted per pass: the clients overlap; all of them
                # came from the streaming six when counted one query at a
                # time (README.md)
                tracer.count("streaming.tmpdirs_leaked",
                             len(set(os.listdir(tmp)) - before))
                for k, v in self.ctx.collector.collect().items():
                    tracer.count(k, v)
        return ([lat[n] for n in self.names],
                [statuses[n] for n in self.names])

    def verify(self) -> tuple[int, int]:
        return 0, 0

    def warm_up(self) -> tuple[int, int]:
        """Compare every query with its registry oracle on DuckDB through
        ``tools/check.py``'s ``run_one`` (rows only where no oracle
        exists), from CLIENTS clients, each with its own DuckDB cursor."""
        import duckdb
        from check import run_one

        from dbt_spark.queries import ORACLES, QUERIES

        t0 = time.perf_counter()
        con = duckdb.connect()
        cursors = threading.local()
        failed: list[str] = []

        def check(name: str) -> None:
            cur = getattr(cursors, "cur", None)
            if cur is None:
                cur = cursors.cur = con.cursor()
            try:
                status, detail, _, _ = run_one(
                    name, QUERIES[name], ORACLES.get(name),
                    self.ctx.spark, cur, self.data)
                if (status == "VALUE_MISMATCH"
                        and self._rounding_only(name, cur)):
                    status = "OK"
                    print(f"  check {name}: matches its oracle up to "
                          f"one unit in the 6th decimal ({detail})")
            except Exception as e:  # noqa: BLE001 — a failed check
                status, detail = "ERROR", repr(e)[:300]
            if status not in ("OK", "ROWS_ONLY"):
                failed.append(name)
                print(f"  check {name}: {status} {detail}")

        try:
            for t in datagen.TABLES:
                con.sql(f"create view {t} as select * from "
                        f"read_parquet('{self.data}/{t}.parquet')")
            run_clients(self.names, check)
        finally:
            con.close()
        print(f"  checked {len(self.names)} queries against their oracles "
              f"in {time.perf_counter() - t0:.1f} s")
        return len(self.names), len(failed)

    def check(self) -> tuple[int, int]:
        return 0, 0

    def _rounding_only(self, name: str, con) -> bool:
        """Whether the query and its oracle differ only where a value
        rounded to 6 decimals landed on the other side of a tie (seen on
        ``ann_topk_bruteforce``'s ``cos_sim``: 0.69971 against 0.699711)."""
        from check import _only_float_noise, canon_frame

        from dbt_spark.queries import ORACLES, QUERIES

        a = canon_frame(QUERIES[name](self.ctx.spark, self.data).toPandas())
        b = canon_frame(con.sql(ORACLES[name]).df())
        return len(a) == len(b) and _only_float_noise(a, b, rel=ROUNDING)


WORKLOADS = {w.name: w for w in (MartsDaily, QueryMix)}
