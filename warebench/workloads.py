"""The two workloads: ``catalog`` and ``ingest``.

Each runs one closed-loop client on one thread: the next op starts only
when the previous one has returned. Each workload makes a fixed number of
ops, never one that depends on how fast the engine is. Every engine call is
timed from outside. A traced run alternates traced and untraced legs of the
same workload: on a traced leg the calls are recorded as spans, each op's
Spark jobs carry the op id in their job description and Spark's event log
is attached; on an untraced leg none of that happens, so the two legs give
the tracing overhead within one process.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager

import inputs
import oracle
from eventlog import OP_DESCRIPTION

#: Eleven queries of ``catalog.queries()``, one or two per registering
#: module, chosen to fit the run budget: two reference report queries (q08's
#: plan construction does eager work; q01 is the flagship), the served-store
#: twin of q01, the roadmap's carried-over skew_split_supplier_revenue,
#: text_word_rarity_scores and retrieval_rrf_fusion, and two oracle-less rows.
CATALOG_QUERIES = [
    "q01_top_revenue_products",
    "q08_halfyearly_vs_yearly",
    "q01_from_store",
    "skew_split_supplier_revenue",
    "text_word_rarity_scores",
    "retrieval_rrf_fusion",
    "similarity_ann_cosine_topk",
    "events_session_window_native",
    "scd2_dim_asof_orders",
    "events_daily_sketch_rollup",
    "multimodal_audio_features",
]
SERVED_QUERIES = ["q01_top_revenue_products", "q09_daily_spikes"]

#: Per workload: warm-up passes or batches, and the fixed size of the timed
#: window (catalog: whole passes over all its queries; ingest: batches).
CATALOG = {"warmup": 1, "passes": 3}
INGEST = {"warmup": 1, "ops": 20, "parts": 16, "per_kind": 25}


def traced_leg(i: int, n: int) -> bool:
    """Whether leg ``i`` of ``n`` in a traced run is traced. Traced and
    untraced legs alternate, mirrored about the middle of the run (T U T;
    T U T U U T U T ...), so a steady drift falls on both kinds alike."""
    return min(i, n - 1 - i) % 2 == 0


def module_of(name: str) -> str:
    from datawarehouse_project_spark.plans.registry import REGISTRY

    return REGISTRY[name].build.__module__.removeprefix("datawarehouse_project_spark.")


class Tracer:
    """Spans (name, start, end, parent index, op id) kept in memory. When
    disabled, ``span`` records nothing and job descriptions stay unset.
    A traced run starts enabled and switches with ``set_leg``."""

    def __init__(self, enabled: bool):
        self.traced_run = self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, spark, op_id: int):
        """The span of one timed op; its Spark jobs carry the op id."""
        if self.enabled:
            spark.sparkContext.setJobDescription(OP_DESCRIPTION.format(op_id))
        try:
            with self.span("op", op_id):
                yield
        finally:
            if self.enabled:
                spark.sparkContext.setJobDescription(None)

    def set_leg(self, spark, traced: bool) -> None:
        """In a traced run, switch spans and Spark's event log on or off.
        Events already posted are written before the log is detached."""
        if not self.traced_run or traced == self.enabled:
            return
        sc = spark.sparkContext._jsc.sc()
        listener = sc.eventLogger().get()
        sc.listenerBus().waitUntilEmpty()
        if traced:
            sc.listenerBus().addToEventLogQueue(listener)
        else:
            sc.removeSparkListener(listener)
        self.enabled = traced

    def totals(self, name: str) -> dict[int, float]:
        """Seconds spent in spans called ``name``, per op id."""
        out: dict[int, float] = {}
        for n, start, end, _, op in self.spans:
            if n == name and end is not None:
                out[op] = out.get(op, 0.0) + end - start
        return out


class Run:
    """State shared by set-up, the timed window and the checks of one run."""

    def __init__(self, workload: str, seed: int, trace: bool, run_dir: str,
                 t_start: float):
        self.workload, self.seed = workload, seed
        self.run_dir = run_dir
        self.table_root = os.path.join(run_dir, "tables")
        self.t_start = t_start
        self.tracer = Tracer(trace)
        self.rng = random.Random(seed)
        self.ops: list[dict] = []
        self.warmup_pass_s: list[float] = []
        self.bench_own_s = 0.0  # input placement inside the set-up interval
        self.extra: dict = {}
        self.spark = None
        self.placed_bytes = 0
        self.ledger = None

    def start_spark(self):
        """Start the engine's session once the inputs are in place."""
        from datawarehouse_project_spark import session

        self.placed_bytes = inputs.dir_bytes(self.table_root)
        self.ledger = FileLedger(self.table_root)
        with self.tracer.span("session.get_spark"):
            t = time.perf_counter()
            self.spark = session.get_spark(app_name=f"warebench-{self.workload}")
            self.extra["session.get_spark_s"] = time.perf_counter() - t

    def resolve_tables(self, sf_dir: str, names: list[str]):
        from datawarehouse_project_spark import io

        with self.tracer.span("io.table"):
            t = time.perf_counter()
            for name in names:
                io.table(self.spark, sf_dir, name)
            self.extra["io.table_s"] = time.perf_counter() - t


# -- catalog -------------------------------------------------------------------


def _run_query(run: Run, queries, name: str, sf_dir: str, op_id: int | None):
    """Build and collect one registered query; returns the op record."""
    rec = {"id": op_id, "name": name, "error": None, "rows": 0,
           "traced": run.tracer.enabled}
    tr = run.tracer
    t0 = time.perf_counter()
    try:
        with tr.span(f"{name}.build", op_id):
            df = queries[name](run.spark, sf_dir)
        t1 = time.perf_counter()
        with tr.span(f"{name}.exec", op_id):
            rec["result"] = df.toArrow()
        t2 = time.perf_counter()
        rec["rows"] = rec["result"].num_rows
        rec.update(build_s=t1 - t0, exec_s=t2 - t1)
    except Exception as exc:  # counted as a failed op, never dropped
        t2 = time.perf_counter()
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    rec.update(start=t0, end=t2, latency_s=t2 - t0)
    return rec


def run_queries(run: Run, spec: dict, names: list[str], sf_dir: str, tables: list[str]):
    from datawarehouse_project_spark import catalog

    queries = catalog.queries()
    run.resolve_tables(sf_dir, tables)
    with run.tracer.span("bench.warmup"):
        t = time.perf_counter()
        for _ in range(spec["warmup"]):
            tp = time.perf_counter()
            for name in names:
                _run_query(run, queries, name, sf_dir, None)
            run.warmup_pass_s.append(time.perf_counter() - tp)
        run.extra["bench.warmup_s"] = time.perf_counter() - t
    for p in range(spec["passes"]):
        run.tracer.set_leg(run.spark, traced_leg(p, spec["passes"]))
        order = list(names)
        run.rng.shuffle(order)
        for name in order:
            op_id = len(run.ops)
            with run.tracer.op(run.spark, op_id):
                run.ops.append(_run_query(run, queries, name, sf_dir, op_id))


def check_queries(run: Run, sf_dir: str, tables: list[str]) -> list[bool]:
    from datawarehouse_project_spark import catalog

    sqls = catalog.oracle_sql()
    con = oracle.connect({t: f"{sf_dir}/{t}.parquet" for t in tables})
    expected = {n: (oracle.expect(con, f"expected_{i}", sqls[n]) if n in sqls else None)
                for i, n in enumerate(sorted({op["name"] for op in run.ops}))}
    ok = [oracle.verdict(con, op, expected[op["name"]]) for op in run.ops]
    for op in run.ops:
        op.pop("result", None)
    con.close()
    return ok


def catalog(run: Run):
    sf_dir = os.path.join(run.table_root, "catalog")
    t = time.perf_counter()
    run.extra["input_rows"] = inputs.place(sf_dir)
    run.bench_own_s += time.perf_counter() - t
    run.start_spark()
    run_queries(run, CATALOG, CATALOG_QUERIES, sf_dir, inputs.TABLES)
    return lambda: check_queries(run, sf_dir, inputs.TABLES)


# -- ingest --------------------------------------------------------------------


class FileLedger:
    """Bytes of files that appeared under a root since the last look."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set = set()
        self.take()

    def take(self) -> int:
        new = 0
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                st = os.lstat(os.path.join(dirpath, f))
                key = (st.st_ino, st.st_size, st.st_mtime_ns)
                if key not in self.seen:
                    self.seen.add(key)
                    new += st.st_size
        return new


def _version_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def ingest(run: Run):
    from datawarehouse_project_spark import catalog as cat
    from datawarehouse_project_spark.sources.fact_maintenance import IncrementalFactTable

    src = os.path.join(run.table_root, "src")
    fact_root = os.path.join(run.table_root, "fact")
    t = time.perf_counter()
    feed = inputs.IngestFeed(src, os.path.join(run.run_dir, "store"),
                             INGEST["parts"], INGEST["per_kind"], run.seed)
    run.extra["input_rows"] = feed.rows
    run.bench_own_s += time.perf_counter() - t

    run.start_spark()
    spark, tr = run.spark, run.tracer
    queries = cat.queries()
    run.resolve_tables(src, inputs.FACT_TABLES)
    ift = IncrementalFactTable(fact_root)
    with tr.span("sources.fact_maintenance.init_full"):
        t = time.perf_counter()
        ift.init_full(spark, src)
        ift.serve(spark, src)
        run.extra["sources.fact_maintenance.init_full_s"] = time.perf_counter() - t
    ledger = FileLedger(fact_root)

    def one_batch(batch_id: int, op_id: int | None) -> dict:
        t = time.perf_counter()
        batch = feed.next_batch(batch_id)
        landed_s = time.perf_counter() - t
        rec = {"id": op_id, "name": "batch", "error": None, "rows": 0,
               "traced": tr.enabled, "batch_id": batch_id, "landed_s": landed_s,
               "landed_bytes": batch["landed_bytes"],
               "changed_rows": batch["changed_rows"], "snapshot": batch["snapshot"]}
        t0 = time.perf_counter()
        try:
            with tr.span("sources.fact_maintenance.apply", op_id):
                keys = spark.createDataFrame([(k,) for k in batch["keys"]],
                                             "o_orderkey bigint")
                ift.apply_order_changes(spark, src, keys, batch_id=batch_id)
            t1 = time.perf_counter()
            with tr.span("sources.fact_maintenance.serve", op_id):
                ift.serve(spark, src)
            t2 = time.perf_counter()
            rec["served"] = {}
            for q in SERVED_QUERIES:
                with tr.span(f"serve.{q}.exec", op_id):
                    rec["served"][q] = queries[q](spark, src).toArrow()
            t3 = time.perf_counter()
            rec["rows"] = sum(tbl.num_rows for tbl in rec["served"].values())
            rec.update(apply_s=t1 - t0, serve_s=t2 - t1, reads_s=t3 - t2)
        except Exception as exc:
            t3 = time.perf_counter()
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec.update(start=t0, end=t3, latency_s=t3 - t0)
        rec["bytes_written"] = ledger.take()
        path = ift.table.current_path()
        rec["rows_written"] = _version_rows(path) if rec["error"] is None else 0
        with tr.span("sources.sinks.vacuum", op_id):
            t = time.perf_counter()
            ift.table.vacuum(keep=2, orphan_grace_sec=3600.0)
            rec["vacuum_s"] = time.perf_counter() - t
        return rec

    with tr.span("bench.warmup"):
        t = time.perf_counter()
        for b in range(INGEST["warmup"]):
            tp = time.perf_counter()
            one_batch(b + 1, None)
            run.warmup_pass_s.append(time.perf_counter() - tp)
        run.extra["bench.warmup_s"] = time.perf_counter() - t
    for op_id in range(INGEST["ops"]):
        tr.set_leg(spark, traced_leg(op_id, INGEST["ops"]))
        with tr.op(spark, op_id):
            run.ops.append(one_batch(INGEST["warmup"] + 1 + op_id, op_id))
    run.extra["sources.sinks.live_bytes"] = inputs.dir_bytes(fact_root)
    run.extra["snapshot_bytes"] = (inputs.dir_bytes(src)
                                   + inputs.dir_bytes(ift.table.current_path()))

    def check() -> list[bool]:
        sqls = cat.oracle_sql()
        dims = {t: f"{src}/{t}.parquet" for t in inputs.FACT_TABLES
                if t not in ("orders", "lineitem")}
        ok = []
        for op in run.ops:
            served = op.pop("served", None)
            con = oracle.connect({**dims, **op.pop("snapshot")})
            ok.append(op["error"] is None and all(
                oracle.matches(con, served[q], oracle.expect(con, f"expected_{i}", sqls[q]))
                for i, q in enumerate(SERVED_QUERIES)))
            con.close()
        # the maintained fact must equal the fact rebuilt from the final copy
        con = oracle.connect({**dims, **feed.snapshot()})
        run.extra["final_fact_matches"] = _fact_matches(con, ift.table.current_path())
        if not run.extra["final_fact_matches"] and ok:
            ok[-1] = False  # the last op left the maintained state wrong
        return ok

    return check


def _fact_matches(con, path: str) -> bool:
    from datawarehouse_project_spark.plans.star import FACT_CTE

    cols = ("order_id, order_date, product_id, product_name, product_price, "
            "supplier_id, supplier_name, store_id, store_name, customer_id, "
            "quantity, sale")
    con.execute(f"CREATE VIEW maintained AS SELECT {cols} FROM "
                f"read_parquet('{path}/*.parquet')")
    con.execute(f"CREATE VIEW rebuilt AS WITH {FACT_CTE} SELECT {cols} FROM fact")
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM maintained EXCEPT ALL "
        "SELECT * FROM rebuilt)) + (SELECT count(*) FROM (SELECT * FROM rebuilt "
        "EXCEPT ALL SELECT * FROM maintained))"
    ).fetchone()[0]
    return diff == 0


WORKLOADS = {"catalog": catalog, "ingest": ingest}
