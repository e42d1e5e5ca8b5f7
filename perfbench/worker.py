"""One workload run in one fresh process: set-up, checks, timed loop.

Started by ``run.py`` with the generated tables in ``<run-dir>/data``; writes
``<run-dir>/result.json``. Timeline (wall clock, ``--t0`` = spawn time):

1. import the engine and create the session (``session.start_s``);
2. workload set-up (interactive: register views once, write the IVF index);
3. one warm pass whose outputs are collected (``session.warm_pass_s``);
   ``setup_s`` ends here;
4. output checks against DuckDB, untimed;
5. untimed settle passes, then timed passes for about ``--seconds``
   (``pass_s`` is their median), outputs materialised into the noop sink
   (batch) or fetched through ``render.to_tsv`` / ``collect`` (interactive).

With ``--trace 1`` the session writes an event log, the engine's public
functions are wrapped in spans (``spans.py``), and the result carries the
per-layer record instead of the end-to-end one.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import eventlog  # noqa: E402
import spans  # noqa: E402
import workloads as W  # noqa: E402


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Needs at least 11 samples."""
    n = len(values)
    if n < 11:
        raise ValueError(f"tail needs at least 11 samples, got {n}")
    ordered = sorted(values)
    return ordered[n - 11], 100.0 * (n - 10) / n, n


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.data = os.path.join(args.run_dir, "data")
        self.trace = args.trace == 1
        self.failures: dict[str, list[str]] = {}
        self.rounding: dict[str, list[str]] = {}
        self.attempted = 0
        self.tracer: spans.Tracer | None = None
        self.rows_fetched = 0  # statement rows rendered in timed passes

    # ------------------------------------------------------------ helpers
    def fail(self, what: str, why: str) -> None:
        self.failures.setdefault(what, []).append(why)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def begin_op(self, label: str) -> None:
        """Count one attempted operation; spans get its query id."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.query = f"{label}#{self.attempted}"

    # ------------------------------------------------------------ session
    def start_session(self) -> None:
        from aws_cli_data_pipeline_tools_spark.session import get_spark

        conf = {}
        if self.trace:
            self.event_dir = os.path.join(self.args.run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               extra_conf=conf)
        self.session_ready = time.time()
        if self.trace:
            self.tracer = spans.Tracer(self.spark.sparkContext)
            self._wrap_engine()

    def _wrap_engine(self) -> None:
        from aws_cli_data_pipeline_tools_spark import (
            catalog, profiler, render, runner, sources)
        from aws_cli_data_pipeline_tools_spark.operators import similarity

        catalog.all_specs()  # import every registrar before patching
        t = self.tracer
        t.wrap(sources, "register_views", "sources.register_views")
        t.wrap(sources, "load_table", "sources.load_table")
        t.wrap(profiler, "profile", "profiler.profile")
        t.wrap(profiler, "profile_diff", "profiler.profile_diff")
        t.wrap(similarity, "build_ivf_index", "similarity.build_ivf_index")
        t.wrap(similarity, "ivf_index_topk", "similarity.ivf_index_topk")
        t.wrap(runner, "sql", "runner.sql")
        t.wrap(render, "to_tsv", "render.to_tsv")

    def host_key(self) -> dict:
        import pyspark

        meminfo = open("/proc/meminfo").read().split("\n")
        mem_kb = next(int(l.split()[1]) for l in meminfo if l.startswith("MemTotal"))
        conf = self.spark.sparkContext.getConf()
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
            "driver_memory": conf.get("spark.driver.memory"),
            "master": self.spark.sparkContext.master,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
        }

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        for line in open(f"/proc/{pid}/status"):
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        return 0.0

    def duck(self):
        import duckdb

        from aws_cli_data_pipeline_tools_spark.sources import TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    def catalyst(self, df) -> dict[str, float]:
        """Catalyst phase times (s) of ``df``'s own query execution,
        planning it if the action ran on a derived plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            out[ph] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        return out

    # ------------------------------------------------------------ batch
    def batch(self) -> dict:
        from aws_cli_data_pipeline_tools_spark.catalog import all_specs

        specs = all_specs()
        mix = W.SQL_STAR
        collected = {}
        t0 = time.time()
        with self.span("warm"):
            for name in mix:
                self.begin_op(name)
                try:
                    df = specs[name].fn(self.spark, self.data)
                    collected[name] = (list(df.columns),
                                       [tuple(r) for r in df.collect()])
                except Exception:
                    self.fail(name, "warm pass: " + traceback.format_exc(limit=3))
        warm_end = time.time()
        self.check_batch(specs, collected)
        passes, ops, cat = self.timed(lambda phase: self.batch_pass(specs, mix))
        return self.result(t0, warm_end, passes, ops, cat)

    def batch_pass(self, specs, mix) -> tuple[list[tuple[str, float]], list[dict]]:
        ops, cat = [], []
        for name in mix:
            self.begin_op(name)
            start = time.perf_counter()
            try:
                with self.span("catalog.build"):
                    df = specs[name].fn(self.spark, self.data)
                with self.span("catalog.act"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                self.fail(name, "timed pass: " + traceback.format_exc(limit=3))
                continue
            ops.append((name, time.perf_counter() - start))
            if self.trace:
                cat.append(self.catalyst_span(df))
        return ops, cat

    def catalyst_span(self, df) -> dict:
        with self.span("trace.catalyst_probe") as s:
            phases = self.catalyst(df)
        phases["probe_s"] = s.duration
        return phases

    def check_batch(self, specs, collected) -> None:
        from tools.check_oracle import INVARIANTS

        con = self.duck()
        for name, (cols, rows) in collected.items():
            spec = specs[name]
            try:
                if spec.oracle is not None:
                    want = con.execute(spec.oracle)
                    w_cols = [d[0] for d in want.description]
                    verdict = check.compare_frames(cols, rows, w_cols,
                                                   want.fetchall())
                elif name in INVARIANTS:
                    INVARIANTS[name](self.spark, self.data, con, rows, cols, specs)
                    verdict = check.Verdict(True)
                else:
                    verdict = check.Verdict(bool(rows) and bool(cols),
                                            "no rows or no columns")
            except Exception:
                verdict = check.Verdict(False, traceback.format_exc(limit=3))
            if not verdict.ok:
                self.fail(name, "check: " + verdict.reason)
            if verdict.rounding_cells:
                self.rounding[name] = verdict.rounding_cells
        con.close()

    # ------------------------------------------------------------ interactive
    def interactive(self) -> dict:
        from aws_cli_data_pipeline_tools_spark import Engine, sources
        from aws_cli_data_pipeline_tools_spark.operators import similarity

        t0 = time.time()
        self.engine = Engine(self.spark)
        self.rng = random.Random(self.args.seed)
        self.index = os.path.join(sources.scratch_dir("perfbench-ivf"), "index")
        sources.register_views(self.spark, self.data)
        self.emb = self.spark.table("embeddings")
        start = time.perf_counter()
        similarity.build_ivf_index(self.emb, self.index, n_centroids=W.IVF_LISTS)
        self.index_build_s = time.perf_counter() - start
        self.checked: list[tuple[str, str]] = []
        with self.span("warm"):
            self.round("warm")
        warm_end = time.time()
        passes, ops, cat = self.timed(self.round)
        self.check_statements()
        return self.result(t0, warm_end, passes, ops, cat)

    def round(self, phase: str) -> tuple[list[tuple[str, float]], list[dict]]:
        """One interactive round. ``phase``: "warm" checks every statement,
        "settle" and "timed" a seeded quarter; "timed" counts fetched rows."""
        from pyspark.sql import functions as F

        from aws_cli_data_pipeline_tools_spark.operators import similarity

        ops, cat = [], []
        for op in W.interactive_round(self.rng):
            label = f"{op.kind}:{op.template}"
            self.begin_op(label)
            start = time.perf_counter()
            try:
                if op.kind == "stmt":
                    df = self.engine.sql(op.sql).require_succeeded()
                    out = self.engine.to_tsv(df)
                else:
                    q = self.emb.filter(F.col("vec_id") == op.vec_id).select(
                        F.col("vec_id").alias("query_id"), "embedding")
                    df = similarity.ivf_index_topk(
                        self.spark, self.index, q, k=W.PROBE_K,
                        n_probe=W.PROBE_N_PROBE)
                    out = [tuple(r) for r in df.collect()]
            except Exception:
                self.fail(label, traceback.format_exc(limit=3))
                continue
            ops.append((label, time.perf_counter() - start))
            if self.trace:
                cat.append(self.catalyst_span(df))
            if op.kind == "probe":
                verdict = check.probe_top1_ok(out)
                if not verdict.ok:
                    self.fail(label, f"vec_id {op.vec_id}: {verdict.reason}")
            else:
                if phase == "timed":
                    self.rows_fetched += out.count("\n") - 1
                if phase == "warm" or self.rng.random() < 0.25:
                    self.checked.append((op.sql, out))
        return ops, cat

    def check_statements(self) -> None:
        con = self.duck()
        for sql, tsv in self.checked:
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                verdict = check.compare_tsv(tsv, cols, res.fetchall())
            except Exception:
                verdict = check.Verdict(False, traceback.format_exc(limit=3))
            if not verdict.ok:
                self.fail("stmt-check", f"{sql}: {verdict.reason}")
        con.close()

    # ------------------------------------------------------------ timing
    def timed(self, one_pass) -> tuple[list[float], list[tuple[str, float]], list[dict]]:
        """The workload's untimed settle passes, then its fixed number of
        timed passes for ``--seconds``. ``one_pass(phase)`` runs one pass.
        Pass time excludes the traced run's Catalyst probes."""
        for _ in range(W.SETTLE_PASSES[self.args.workload]):
            with self.span("settle"):
                one_pass("settle")
        passes: list[float] = []
        ops: list[tuple[str, float]] = []
        cat: list[dict] = []
        self.timed_roots: list[int] = []
        for _ in range(W.timed_passes(self.args.workload, self.args.seconds)):
            start = time.perf_counter()
            with self.span("pass") as root:
                p_ops, p_cat = one_pass("timed")
            wall = time.perf_counter() - start
            if self.tracer is not None:
                self.timed_roots.append(root.id)
            passes.append(wall - sum(c["probe_s"] for c in p_cat))
            ops += p_ops
            cat += p_cat
        return passes, ops, cat

    # ------------------------------------------------------------ result
    def result(self, t0: float, warm_end: float, passes, ops, cat) -> dict:
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "host": self.host_key(),
            "session_start_s": self.session_ready - self.args.t0,
            "warm_pass_s": warm_end - t0,
            "passes": len(passes),
            "pass_times_s": [round(p, 4) for p in passes],
            "ops": len(ops),
            "rounding_boundary_matches": self.rounding,
        }
        stmt = [t for n, t in ops if n.startswith("stmt:")]
        probe = [t for n, t in ops if n.startswith("probe:")]
        for label, values in (("stmt", stmt), ("probe", probe)):
            if values:
                detail[f"{label}_p50_s"] = statistics.median(values)
            if len(values) >= 20:  # below 20 the "tail" is under the median
                v, pct, n = tail(values)
                detail[f"{label}_tail_s"] = v
                detail[f"{label}_tail_def"] = f"p{pct:.1f} of {n}"
        if hasattr(self, "index_build_s"):
            detail["index_build_s"] = self.index_build_s
        e2e = {
            "setup_s": warm_end - self.args.t0,
            "pass_s": statistics.median(passes),
        }
        self.timeline = (t0, warm_end, passes, ops, cat)
        return {"e2e": e2e, "detail": detail}

    def layers(self) -> dict:
        """The per-layer record; the event log must be closed first."""
        t0, warm_end, passes, ops, cat = self.timeline
        tr = self.tracer
        by_id = {s.id: s for s in tr.spans}
        timed = {s.id for s in tr.spans
                 if any(a.id in self.timed_roots for a in spans.ancestors(by_id, s.id))}
        n = len(passes)
        selft = spans.self_times(tr.spans)
        rec: dict[str, float] = {
            "session.start_s": self.session_ready - self.args.t0,
            "session.warm_pass_s": warm_end - t0,
            "session.jvm_peak_rss_mb": self.peak_rss,
            "trace.pass_s": statistics.median(passes),
        }

        def per_pass(name: str) -> tuple[float, float]:
            total, calls = spans.outermost_durations(tr.spans, name, timed)
            return total / n, calls / n

        rec["sources.register_views_s"], rec["sources.register_views_calls"] = \
            per_pass("sources.register_views")
        rec["sources.load_table_calls"] = per_pass("sources.load_table")[1]
        rec["catalog.build_s"] = sum(
            selft[s.id] for s in tr.spans
            if s.name == "catalog.build" and s.id in timed) / n
        rec["catalog.act_s"] = per_pass("catalog.act")[0]
        for ph in ("analysis", "optimization", "planning"):
            rec[f"catalyst.{ph}_s"] = sum(c[ph] for c in cat) / n
        rec["runner.sql_s"] = per_pass("runner.sql")[0]
        rec["render.to_tsv_s"] = per_pass("render.to_tsv")[0]
        rec["render.rows_fetched"] = self.rows_fetched / n
        rec["profiler.profile_s"] = per_pass("profiler.profile")[0]
        rec["profiler.profile_diff_s"] = per_pass("profiler.profile_diff")[0]
        rec["similarity.build_ivf_index_s"] = spans.outermost_durations(
            tr.spans, "similarity.build_ivf_index")[0]
        rec["similarity.ivf_index_topk_s"] = per_pass("similarity.ivf_index_topk")[0]
        rec.update(self.exec_layers(by_id, timed, n))
        return rec

    def exec_layers(self, by_id, timed: set[int], n: int) -> dict[str, float]:
        path = self.event_log_path()
        probe_ids = {s.id for s in by_id.values() if s.name == "trace.catalyst_probe"}

        def in_timed(group):
            sid = spans.span_of_group(group)
            return sid in timed and sid not in probe_ids

        with open(path) as f:
            events = list(eventlog.read_events(f))
        tot = eventlog.aggregate(events, in_timed)

        def jobs_under(*names: str) -> float:
            count = 0
            for group, jobs in tot.jobs_by_group.items():
                sid = spans.span_of_group(group)
                if any(a.name in names for a in spans.ancestors(by_id, sid)):
                    count += jobs
            return count / n

        return {
            "catalog.build_jobs": jobs_under("catalog.build"),
            "profiler.jobs": jobs_under("profiler.profile", "profiler.profile_diff"),
            "similarity.ivf_index_topk_jobs": jobs_under("similarity.ivf_index_topk"),
            "exec.jobs": tot.jobs / n,
            "exec.stages": tot.stages / n,
            "exec.tasks": tot.tasks / n,
            "exec.run_s": tot.run_s / n,
            "exec.cpu_s": tot.cpu_s / n,
            "exec.noncpu_s": tot.noncpu_s / n,
            "exec.gc_s": tot.gc_s / n,
            "exec.task_wait_s": tot.task_wait_s / n,
            "exec.shuffle_write_mb": tot.shuffle_write_mb / n,
            "exec.shuffle_read_mb": tot.shuffle_read_mb / n,
            "exec.spill_mb": tot.spill_mb / n,
            "exec.input_mb": tot.input_mb / n,
            "exec.task_failures": tot.task_failures / n,
        }

    def event_log_path(self) -> str:
        names = [f for f in os.listdir(self.event_dir) if not f.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {self.event_dir}: {names}")
        return os.path.join(self.event_dir, names[0])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    run = Run(args)
    run.start_session()
    if args.workload == "interactive":
        out = run.interactive()
    else:
        out = run.batch()
    run.peak_rss = run.jvm_peak_rss_mb()
    run.spark.stop()  # also closes the event log
    if run.trace:
        run.tracer.unwrap_all()
        out["layers"] = run.layers()
        traces = os.path.join(os.path.dirname(args.run_dir), "traces")
        os.makedirs(traces, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        with open(os.path.join(traces, name), "w") as f:
            json.dump({"detail": out["detail"], "layers": out["layers"],
                       "spans": run.tracer.dump()}, f)
    out["attempted"] = run.attempted
    out["failures"] = run.failures
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
