"""The benchmark's workloads.

Every workload is a single-client closed loop on ``local[<nproc>]``: the
next operation starts only after the previous one returned. The engine
is called only through its public functions (``__spark_entry__``,
``sources.jdbc``, ``sources.derby``, ``streaming.archival``).

A *pass* runs a workload's whole operation list once, in an order
shuffled from the seed. A few passes run before any timing (about ten
seconds of operations; ``archive_cycle``: ``WARM_CYCLES`` cycles over
small tables). An
untraced run measures whole passes until
``--seconds`` have been spent in operations, and at least ``MIN_PASSES``
(``archive_cycle``: weekly cycles, at least ``MIN_CYCLES``, re-staging
its tables when a staging is drained). A traced run measures one
pass in which every operation runs both untraced and traced, the order
of the two alternating from one operation to the next (for
``archive_cycle``, alternate cycles are traced); the per-layer metrics
are the traced operations' totals, and the median traced/untraced ratio
is the tracing overhead.

Correctness is checked after each operation, outside its timing: the
result of an op with an oracle is compared with DuckDB over the same
generated files, with ``tools/check.py``'s comparator; an op without
one must reproduce the hash of its first (warm-up) result. The archive
cycle checks its invariants after every cycle.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import datagen
import sparkmetrics

QUERY_MIX_OPS = (
    "orderby_limit_topk", "agg_group_pricing", "join_broadcast_dim",
    "join_inner_equi", "window_topk_per_group", "scan_filter_prune",
    "sim_cosine_topk", "merge_cdc_apply", "agg_exact_quantile_twopass",
    "composed_q3_shipping_priority", "composed_q6_forecast_revenue",
    "composed_q13_order_distribution",
)

STREAM_OPS = ("stream_session", "stream_dedup_watermark")

SETUP_REPS = 3
# Fewest passes (ops) or cycles (archive) a run measures, whatever
# --seconds says: a run that stops after its first pass samples a
# different mix of warm and still-warming operations than one that does
# not, which reads as a change between runs.
MIN_PASSES = 2
MIN_CYCLES = 6


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _load_comparator(root: str):
    """``tools/check.py``'s result comparator, imported unchanged."""
    spec = importlib.util.spec_from_file_location("_graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _total(tot: dict, name: str) -> float:
    return tot.get(name, (0, 0.0))[1]


def _count(tot: dict, name: str) -> int:
    return tot.get(name, (0, 0.0))[0]


class Context:
    """What every workload needs: the session, the tracing hooks, and
    the run's accumulated results."""

    def __init__(self, spark, root, work, seed, seconds, tracer, jobs, listener):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer          # None on untraced runs
        self.jobs = jobs
        self.listener = listener
        self.rng = random.Random(seed)
        self.setup_reps: list[float] = []
        self.gen_reps: list[float] = []
        self.stage_reps: list[float] = []
        self.warmup_s = 0.0
        self.inputs: dict = {}
        self.samples: list[dict] = []   # one per measured untraced operation
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}
        self.extra: dict = {}

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 50:
                self.failures.append(what)

    def data_dir(self, tag: str) -> str:
        path = os.path.join(self.work, "data", tag)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def overhead(self, untraced: list[float], traced: list[float]) -> None:
        self.layers["trace.overhead_pct"] = 100.0 * (_median(traced) / _median(untraced) - 1.0)

    @contextmanager
    def traced(self, rec: dict, span: str, **attrs):
        """Run the block with the tracer installed, inside one span and
        under its own job group (both noted in ``rec``)."""
        tr = self.tracer
        tr.install()
        rec["group"] = f"{span}:{len(tr.spans)}"
        self.jobs.set_group(rec["group"])
        try:
            with tr.span(span, **attrs) as sp:
                rec["span"] = sp
                yield
        finally:
            self.jobs.set_group(None)
            tr.uninstall()


# --- query and stream workloads ------------------------------------------


class OpWorkload:
    """Registry ops over a generated corpus, checked against DuckDB."""

    def __init__(self, ops, scale, warmup_passes):
        self.ops = ops
        self.scale = scale
        # Whole passes run before timing starts. After one pass the JIT is
        # still compiling: the next costs up to twice the CPU of later
        # ones, and the CPU per pass keeps falling for some ten seconds
        # of operations more.
        self.warmup_passes = warmup_passes

    def setup(self, ctx: Context) -> None:
        import duckdb

        import __spark_entry__ as entry

        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            g = datagen.generate(ctx.data_dir(f"rep{rep}"), ctx.seed, self.scale)
            ctx.gen_reps.append(g["gen_s"])
            ctx.setup_reps.append(time.perf_counter() - t0)
        ctx.inputs = {"dir": g["dir"], "tables": g["tables"]}
        self.dir = g["dir"]
        self.chk = _load_comparator(ctx.root)
        self.con = duckdb.connect()
        for t in self.chk.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.expected: dict[str, tuple] = {}

    def _expected(self, name: str, got: tuple) -> tuple:
        if name not in self.expected:
            if name in self.oracles:
                cols, rows = self.chk._oracle_rows_pandas(self.con.execute(self.oracles[name]))
                self.expected[name] = self.chk.frame_fingerprint(cols, rows)
            else:
                # rows-only op: pin the first result's hash
                self.expected[name] = got
        return self.expected[name]

    def _run_op(self, ctx: Context, name: str, traced: bool = False) -> dict:
        rec = {"op": name}
        t0 = time.perf_counter()
        try:
            self._timed_op(ctx, name, traced, rec)
        except Exception:  # noqa: BLE001 — a failing op is a result, not the end of the run
            rec.update(ok=False, error=traceback.format_exc(limit=3), wall_s=time.perf_counter() - t0,
                       construct_s=0.0, collect_s=0.0)
        ctx.spark.catalog.clearCache()
        return rec

    def _timed_op(self, ctx: Context, name: str, traced: bool, rec: dict) -> None:
        spark = ctx.spark
        fn = self.queries[name]
        if traced:
            tr = ctx.tracer
            ctx.listener.settle()  # deliver the previous op's stream events first
            first_query = ctx.listener.count()
            e0 = time.time()
            with ctx.traced(rec, "op", op=name):
                with tr.span("op.construct"):
                    df = fn(spark, self.dir)
                rec["collect_group"] = f"{rec['group']}:collect"
                ctx.jobs.set_group(rec["collect_group"])
                with tr.span("op.collect"):
                    rows = df.collect()
            rec["window"] = (e0, time.time())
            ctx.listener.settle()
            rec.update(wall_s=rec["span"].dur, queries=(first_query, ctx.listener.count()),
                       phases=sparkmetrics.phases(df))
        else:
            c0 = sparkmetrics.tree_cpu_s()
            t0 = time.perf_counter()
            df = fn(spark, self.dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            rec.update(wall_s=t2 - t0, construct_s=t1 - t0, collect_s=t2 - t1,
                       cpu_s=sparkmetrics.tree_cpu_s() - c0)
        # correctness, outside the timing
        got = self.chk.frame_fingerprint(df.columns, [tuple(r) for r in rows])
        rec["ok"] = got == self._expected(name, got)

    def warmup(self, ctx: Context) -> None:
        t0 = time.perf_counter()
        for _ in range(self.warmup_passes):
            for name in self.ops:
                rec = self._run_op(ctx, name)
                ctx.record(rec["ok"], f"warmup:{name} {rec.get('error', '')}")
        ctx.warmup_s = time.perf_counter() - t0

    def _pass(self, ctx: Context) -> list[str]:
        order = list(self.ops)
        ctx.rng.shuffle(order)
        return order

    def measure(self, ctx: Context) -> None:
        if ctx.tracer:
            self._measure_traced(ctx)
            return
        passes, spent = 0, 0.0
        while passes < MIN_PASSES or spent < ctx.seconds:
            for name in self._pass(ctx):
                rec = self._run_op(ctx, name)
                ctx.record(rec["ok"], f"{name} {rec.get('error', '')}")
                ctx.samples.append({k: rec.get(k) for k in ("op", "wall_s", "construct_s", "collect_s", "cpu_s")})
                spent += rec["wall_s"]
            passes += 1
        ctx.extra["passes"] = passes

    def _measure_traced(self, ctx: Context) -> None:
        plain, traced = [], []
        for i, name in enumerate(self._pass(ctx)):
            for on in ((False, True) if i % 2 == 0 else (True, False)):
                rec = self._run_op(ctx, name, traced=on)
                ctx.record(rec["ok"], f"{name} {rec.get('error', '')}")
                (traced if on else plain).append(rec)
        ctx.samples.extend({k: r.get(k) for k in ("op", "wall_s", "construct_s", "collect_s", "cpu_s")} for r in plain)
        ctx.overhead([r["wall_s"] for r in plain], [r["wall_s"] for r in traced])
        ctx.extra["passes"] = 1
        self._layers(ctx, [r for r in traced if "phases" in r])  # ops that raised have no trace

    def _layers(self, ctx: Context, recs) -> None:
        tr = ctx.tracer
        L = defaultdict(float)
        all_spans = []
        for r in recs:
            spans = tr.descendants(r["span"])
            all_spans += spans
            tot = tr.totals(spans)
            L["operators.construct_s"] += _total(tot, "op.construct")
            L["execute.collect_s"] += _total(tot, "op.collect")
            L["catalog.load_calls"] += _count(tot, "catalog.load")
            L["catalog.load_s"] += _total(tot, "catalog.load")
            L["catalog.fan_out_added"] += sum(1 for sp in spans
                                              if sp.name == "catalog.fan_out" and sp.attrs.get("added"))
            L["derby.execute_calls"] += _count(tot, "derby.execute")
            L["derby.execute_s"] += _total(tot, "derby.execute")
            for p, ms in r["phases"].items():
                L[f"spark.{p}_ms"] += ms
            run_ids, stream = ctx.listener.between(*r["queries"])
            L["operators.construct_jobs"] += ctx.jobs.counts([r["group"], *run_ids])["jobs"]
            x = ctx.jobs.counts([r["collect_group"]])
            L["execute.jobs"] += x["jobs"]
            L["execute.stages"] += x["stages"]
            L["execute.tasks"] += x["tasks"]
            L["stream.queries"] += len(run_ids)
            for k in ("batches", "trigger_ms", "add_batch_ms", "wal_commit_ms", "query_planning_ms",
                      "state_rows", "state_memory_bytes", "state_commit_ms"):
                L[f"stream.{k}"] += stream.get(k, 0.0)
        ctx.layers.update(L)
        ctx.extra["trace_windows"] = [r["window"] for r in recs]
        ctx.extra["trace_self_s"] = tr.self_times(all_spans)
        ctx.extra["trace_ops"] = [{"name": r["op"], "wall_s": r["wall_s"],
                                   **{n: v[1] for n, v in tr.totals(tr.descendants(r["span"])).items()}}
                                  for r in recs]


# --- archive cycle --------------------------------------------------------


class ArchiveCycle:
    """The paper's write path: JDBC read -> partitioned Parquet archive
    -> delete-behind of exactly the archived keys, once per week."""

    TABLES = ("src_a", "src_b")
    CYCLES = 8
    ROWS = 12_000          # per table, ts spread over CYCLES weeks
    WARM_ROWS = 1_000
    WARM_CYCLES = 2
    START = "2024-01-01"
    COLS = ["event_id", "ts", "user_id", "event_type", "value"]

    def _stage(self, ctx: Context, rows: int, tag: str) -> dict:
        """Generate both source tables and stage them into fresh
        embedded Derby databases with an index on event_id."""
        import numpy as np
        import pyarrow.parquet as pq
        from pg_archiver_spark.sources import derby

        spark = ctx.spark
        out = ctx.data_dir(tag)
        t0 = time.perf_counter()
        rng = np.random.default_rng(ctx.seed)
        src = {}
        for i, t in enumerate(self.TABLES):
            tbl = datagen.events_table(rng, rows, first_id=i * 10_000_000, start=self.START,
                                       days=7 * self.CYCLES, users=500, props=False)
            path = os.path.join(out, f"{t}.parquet")
            pq.write_table(tbl, path)
            src[t] = {"path": path, "rows": tbl.num_rows, "bytes": os.path.getsize(path)}
        t1 = time.perf_counter()
        for t in self.TABLES:
            df = spark.read.parquet(src[t]["path"])
            url = derby.stage_frame(spark, df, t)
            conn = spark._jvm.java.sql.DriverManager.getConnection(url)
            try:
                st = conn.createStatement()
                st.execute(f'CREATE INDEX {t}_event_id ON {t} ("event_id")')
                st.close()
            finally:
                conn.close()
            src[t]["url"] = url
            src[t]["source"] = df.toPandas().sort_values("event_id").reset_index(drop=True)
        t2 = time.perf_counter()
        return {"dir": out, "tables": src, "gen_s": t1 - t0, "stage_s": t2 - t1}

    def _timed_stage(self, ctx: Context, tag: str) -> dict:
        t0 = time.perf_counter()
        staged = self._stage(ctx, self.ROWS, tag)
        ctx.setup_reps.append(time.perf_counter() - t0)
        ctx.gen_reps.append(staged["gen_s"])
        ctx.stage_reps.append(staged["stage_s"])
        ctx.inputs = {"dir": staged["dir"], "tables": {t: {"rows": v["rows"], "bytes": v["bytes"]}
                                                        for t, v in staged["tables"].items()}}
        return staged

    def setup(self, ctx: Context) -> None:
        for rep in range(SETUP_REPS):
            self.staged = self._timed_stage(ctx, f"rep{rep}")

    def _cycles(self, ctx: Context, staged: dict, cycles: int, traced=()):
        """Run ``cycles`` weekly cycles over ``staged``; the cycles in
        ``traced`` run with the tracer installed. Yields one record per
        cycle, checked."""
        from pyspark.sql import functions as F
        from pg_archiver_spark.sources import derby, jdbc
        from pg_archiver_spark.streaming import archival

        spark = ctx.spark
        archive = os.path.join(staged["dir"], "archive")
        keys_left = {t: set(staged["tables"][t]["source"]["event_id"]) for t in self.TABLES}
        factories = {t: derby.connection_factory(spark, staged["tables"][t]["url"]) for t in self.TABLES}
        for c in range(cycles):
            cutoff = F.lit(f"{self.START} 00:00:00").cast("timestamp") + F.expr(f"INTERVAL {7 * (c + 1)} DAYS")
            rec = {"cycle": c, "traced": c in traced, "deleted": 0}
            c0 = sparkmetrics.tree_cpu_s()
            e0, t0 = time.time(), time.perf_counter()
            try:
                with ctx.traced(rec, "archive.cycle", cycle=c) if rec["traced"] else nullcontext():
                    frames, modes = {}, set()
                    for t in self.TABLES:
                        frames[t], mode = jdbc.read_table(spark, t, staged["dir"], partition_column="event_id",
                                                          num_partitions=4, url=staged["tables"][t]["url"],
                                                          driver=derby.DERBY_DRIVER)
                        modes.add(mode)
                    t1 = time.perf_counter()
                    ledger = archival.archive_batch(frames, lambda df: F.col("ts") < cutoff, archive, batch_id=c)
                    t2 = time.perf_counter()
                    deleted = {t: jdbc.delete_archived(spark, t, ledger.filter(F.col("table_name") == t),
                                                       key_col="event_id", connection_factory=factories[t],
                                                       batch_size=1000, dialect="standard")
                               for t in self.TABLES}
                    t3 = time.perf_counter()
                rec["cpu_s"] = sparkmetrics.tree_cpu_s() - c0
                rec.update(wall_s=t3 - t0, read_s=t1 - t0, archive_s=t2 - t1, delete_s=t3 - t2,
                           deleted=sum(deleted.values()), window=(e0, time.time()))
                # outside the timing: invariants
                if modes != {"jdbc"}:
                    raise RuntimeError(f"read_table fell back to {modes}")
                rec.update(zip(("ok", "detail", "archived"),
                               self._check(ctx, staged, archive, c, ledger, deleted, keys_left)))
            except Exception:  # noqa: BLE001 — a failing cycle is a result, not the end of the run
                rec.setdefault("wall_s", time.perf_counter() - t0)
                rec.setdefault("window", (e0, time.time()))
                rec.update(ok=False, detail=f"cycle {c}: {traceback.format_exc(limit=3)}", archived=0)
            batch_dir = os.path.join(archive, f"batch_id={c}")
            files = [(d, os.path.getsize(os.path.join(d, f))) for d, _, fs in os.walk(batch_dir)
                     for f in fs if f.endswith(".parquet")]
            rec.update(files=len(files), bytes=sum(s for _, s in files),
                       partitions=len({d for d, _ in files}))
            yield rec

    def _check(self, ctx, staged, archive, c, ledger, deleted, keys_left):
        """Derby rows + archived rows == source rows; no duplicate archive
        keys; the ledger == the keys that left Derby == what
        delete_archived reported. Returns (ok, first problem, ledger
        size)."""
        import pandas as pd
        import pyarrow.dataset as ds
        from pg_archiver_spark.sources import derby

        arch = ds.dataset(archive, format="parquet", partitioning="hive").to_table(
            columns=["table_name", *self.COLS]).to_pandas()
        if arch.duplicated(["table_name", "event_id"]).any():
            return False, f"cycle {c}: duplicate keys in archive", 0
        led = ledger.toPandas()
        for t in self.TABLES:
            src = staged["tables"][t]["source"]
            left = (ctx.spark.read.format("jdbc").option("url", staged["tables"][t]["url"])
                    .option("dbtable", t).option("driver", derby.DERBY_DRIVER).load().toPandas())
            both = pd.concat([left[self.COLS], arch[arch["table_name"] == t][self.COLS]])
            both = both.sort_values("event_id").reset_index(drop=True)
            if len(both) != len(src) or not both.astype(str).equals(src[self.COLS].astype(str)):
                return False, f"cycle {c} {t}: derby + archive != source", len(led)
            now = set(left["event_id"])
            gone = keys_left[t] - now
            if set(led.loc[led["table_name"] == t, "event_id"]) != gone or deleted[t] != len(gone):
                return False, f"cycle {c} {t}: ledger != deleted keys", len(led)
            keys_left[t] = now
        return True, "", len(led)

    def warmup(self, ctx: Context) -> None:
        t0 = time.perf_counter()
        for rec in self._cycles(ctx, self._stage(ctx, self.WARM_ROWS, "warm"), self.WARM_CYCLES):
            ctx.record(rec["ok"], f"warmup:{rec['detail']}")
        ctx.warmup_s = time.perf_counter() - t0

    def _sample(self, rec) -> dict:
        return {"op": "cycle", **{k: rec.get(k) for k in (
            "cycle", "wall_s", "cpu_s", "read_s", "archive_s", "delete_s", "deleted", "archived", "files", "bytes", "partitions")}}

    def measure(self, ctx: Context) -> None:
        """Untraced: cycles until ``--seconds`` were spent, staging a
        fresh pair of tables whenever one is drained. Traced: one full
        pass, every other cycle traced."""
        traced_cycles = range(0, self.CYCLES, 2) if ctx.tracer else ()
        stagings, spent, traced = 0, 0.0, []
        while stagings == 0 or (not ctx.tracer and (spent < ctx.seconds or len(ctx.samples) < MIN_CYCLES)):
            if stagings:
                self.staged = self._timed_stage(ctx, f"pass{stagings}")
            stagings += 1
            for rec in self._cycles(ctx, self.staged, self.CYCLES, traced_cycles):
                ctx.record(rec["ok"], rec["detail"])
                if rec["traced"]:
                    traced.append(rec)
                    continue
                ctx.samples.append(self._sample(rec))
                spent += rec["wall_s"]
                if not ctx.tracer and spent >= ctx.seconds and len(ctx.samples) >= MIN_CYCLES:
                    break
        ctx.extra["stagings"] = stagings
        if ctx.tracer:
            ctx.overhead([s["wall_s"] for s in ctx.samples], [r["wall_s"] for r in traced])
            self._layers(ctx, [r for r in traced if "span" in r])

    def _layers(self, ctx, recs) -> None:
        tr = ctx.tracer
        spans = [sp for r in recs for sp in tr.descendants(r["span"])]
        tot = tr.totals(spans)
        L = ctx.layers
        for key, name in (("jdbc.read_table_s", "jdbc.read_table"), ("jdbc.delete_archived_s", "jdbc.delete_archived"),
                          ("derby.execute_s", "derby.execute"), ("archival.archive_batch_s", "archival.archive_batch"),
                          ("catalog.load_s", "catalog.load")):
            L[key] = _total(tot, name)
        L["derby.execute_calls"] = _count(tot, "derby.execute")
        L["catalog.load_calls"] = _count(tot, "catalog.load")
        # DELETE statements: the derby.execute calls made inside delete_archived
        L["jdbc.delete_statements"] = sum(1 for d in spans if d.name == "jdbc.delete_archived"
                                          for sp in tr.descendants(d) if sp.name == "derby.execute")
        deleted = sum(r["deleted"] for r in recs)
        archived = sum(r["archived"] for r in recs)
        L["jdbc.deleted_rows"] = deleted
        L["jdbc.delete_hit_ratio"] = deleted / max(1, archived)
        L["archival.rows_written"] = archived
        L["archival.files_written"] = sum(r["files"] for r in recs)
        L["archival.bytes_written"] = sum(r["bytes"] for r in recs)
        L["archival.partitions_written"] = sum(r["partitions"] for r in recs)
        x = ctx.jobs.counts([r["group"] for r in recs])
        L["execute.jobs"], L["execute.stages"], L["execute.tasks"] = x["jobs"], x["stages"], x["tasks"]
        ctx.extra["trace_windows"] = [r["window"] for r in recs]
        ctx.extra["trace_self_s"] = tr.self_times(spans)


WORKLOADS = {
    "query_mix": lambda: OpWorkload(QUERY_MIX_OPS, scale=0.1, warmup_passes=2),
    "stream_state": lambda: OpWorkload(STREAM_OPS, scale=0.1, warmup_passes=4),
    "archive_cycle": ArchiveCycle,
}
