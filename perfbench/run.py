"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload job_analytics --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed``, starts a local session
(``local[nproc]``), and runs the workload as a closed loop with one client:
one driver thread starts the next operation only after the previous one
returned. A pass runs every operation of the workload once, in an order
drawn from the seed; passes repeat until ``--seconds`` of pass time have
been measured, after one untimed warm-up pass. Every output is checked
outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it (``detail``)
carries the launch settings, contention evidence, per-operation
latencies, the latency tail, ``failed_ops_share``, the table write and
read latencies and amplification of ``job_analytics``, the ANN recall of
``corpus_curation`` and, when traced,
the tracing overhead and the path of the span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import hd_median, tail  # noqa: E402

WORKLOADS = ("job_analytics", "corpus_curation")
SCALE = 0.01  # lineitem rows = 6M x SCALE
SETUP_REPS = 3  # the median drops the first, which also starts the JVM
# The JVM keeps compiling hot code for several passes (pass time falls
# about 8 % a pass), but a second warm-up pass did not narrow the spread
# between runs, and on job_analytics it would add 13 s to every run.
WARMUP_PASSES = 1
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
MODULES = (  # the modules whose plan/exec calls the workloads trace
    "operators.analytics",
    "operators.tpch",
    "operators.etl",
    "operators.sampling",
    "streaming.windows",
    "streaming.joins",
    "operators.text",
    "operators.dedup",
    "operators.substring",
    "operators.bpe",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run emits, with its unit."""
    units = {
        "session.start_s": "s",
        "tracing.overhead_s": "s",
        "sources.readers.input_bytes": "bytes",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.failed_tasks": "count",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "driver.cpu_s": "s",
        "jvm.cpu_s": "s",
        "pyworker.cpu_s": "s",
        "sources.snapshots.commit_s": "s",
        "sources.snapshots.files_rewritten": "count",
        "sources.snapshots.bytes_written": "bytes",
        "sources.snapshots.point_read_s": "s",
        "sources.snapshots.point_read_input_bytes": "bytes",
        "sources.snapshots.optimize_s": "s",
        "ml.fit_s": "s",
        "ml.fit_jobs": "count",
        "operators.similarity.build_s": "s",
        "operators.ann.query_s": "s",
        "operators.ann.query_input_bytes": "bytes",
    }
    for m in MODULES:
        units[f"{m}.plan_s"] = "s"
        units[f"{m}.eager_jobs"] = "count"
        units[f"{m}.exec_s"] = "s"
    return units


# --------------------------------------------------------------------------
# workloads: what a pass runs and how its outputs are checked
# --------------------------------------------------------------------------


class Workload:
    """A workload's operations, the seeded order a pass runs them in, and
    the checks of their outputs."""

    tables: tuple[str, ...] = ()

    def __init__(self, ctx, checker, ops):
        self.ctx = ctx
        self.checker = checker
        self.ops = ops

    def chain(self, rng) -> list:
        """[(op, arg)] that must run in this order within a pass."""
        return []

    def steps(self, rng) -> list:
        """[(op, arg)] for one pass, its untimed preparation included: the
        ops in seeded order, the chain interleaved at seeded positions."""
        ops = [(self.ops[i], None) for i in rng.permutation(len(self.ops))]
        chain = self.chain(rng)
        n = len(ops) + len(chain)
        slots = set(rng.choice(n, len(chain), replace=False).tolist())
        chained, rest = iter(chain), iter(ops)
        return [next(chained) if i in slots else next(rest) for i in range(n)]

    def check(self, op, arg, out) -> str | None:
        if op.oracle:
            return self.checker.oracle(op.oracle, out)
        err = self.checker.repeatable(op.name, out) if op.kind == "query" else None
        return err or (op.check(self.ctx, out) if op.check else None)

    def end_pass(self, steps, outs) -> tuple[list[str | None], dict]:
        """Per-step failures found only at the end of the pass, and the
        pass's workload-specific measurements."""
        return [None] * len(steps), {}


class JobAnalytics(Workload):
    """Analytics queries in seeded order, with the job's own table commits
    and reads (create, merge, delete, point reads, optimize, full read) on a
    fresh snapshot table interleaved at seeded positions."""

    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

    def __init__(self, ctx, checker):
        import pyarrow.parquet as pq

        import workloads

        super().__init__(ctx, checker, workloads.job_analytics())
        self.snap_ops = workloads.table_mutation_ops()
        self.orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet")).to_pandas()
        ctx.state["orders_rows"] = len(self.orders)
        self.pass_no = 0

    def chain(self, rng):
        import workloads

        ctx = self.ctx
        self.pass_no += 1
        ctx.state["table_dir"] = os.path.join(ctx.work, "tables", f"pass{self.pass_no}")
        plan = workloads.mutation_plan(rng, len(self.orders), ctx.state["rows"]["customer"])
        for step in plan:
            if step["op"] == "merge":
                step["source_df"] = ctx.spark.createDataFrame(
                    workloads.merge_batch(self.orders, step)
                )
        return [(self.snap_ops[s["op"]], s) for s in plan]

    def check(self, op, arg, out):
        if arg is not None:
            return None  # table reads are compared during the replay in end_pass
        return super().check(op, arg, out)

    def end_pass(self, steps, outs):
        import workloads

        idx = [i for i, (_, arg) in enumerate(steps) if arg is not None]
        fails, sizes = self.checker.replay_mutations(
            self.orders, [steps[i][1] for i in idx], [outs[i] for i in idx],
            os.path.join(self.ctx.work, "tmp"),
        )
        late: list[str | None] = [None] * len(steps)
        for i, err in zip(idx, fails):
            late[i] = err
        written = sum(
            outs[i].info["bytes_added"]
            for i in idx
            if outs[i] is not None and steps[i][1]["op"] in ("merge", "delete")
        )
        extra = {
            "write_amp": written / sizes["changed_bytes"],
            "space_amp": workloads.dir_bytes(self.ctx.state["table_dir"]) / sizes["live_bytes"],
        }
        shutil.rmtree(os.path.join(self.ctx.work, "tables"), ignore_errors=True)
        return late, extra


class CorpusCuration(Workload):
    """Text pipelines in seeded order, with an IVF index built into a
    fresh directory and then queried with a seeded batch, at seeded
    positions."""

    tables = ("documents", "embeddings")

    def __init__(self, ctx, checker):
        import numpy as np
        import pyarrow.parquet as pq

        import workloads

        super().__init__(ctx, checker, workloads.corpus_curation())
        self.index_ops = workloads.index_ops()
        ctx.state["documents_rows"] = ctx.state["rows"]["documents"]
        emb = pq.read_table(os.path.join(ctx.data_dir, "embeddings.parquet"))
        self.vectors = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        self.pass_no = 0

    def chain(self, rng):
        import workloads

        self.pass_no += 1
        self.ctx.state["index_dir"] = os.path.join(self.ctx.work, "indexes", f"pass{self.pass_no}")
        plan = workloads.index_plan(rng, len(self.vectors))
        return [(self.index_ops[s["op"]], s) for s in plan]

    def end_pass(self, steps, outs):
        """The index must hold every vector, and the query batch is scored
        against a brute-force search; then the index is deleted."""
        from checks import ann_recall, index_holds_all

        import workloads

        late: list[str | None] = [None] * len(steps)
        extra = {}
        for i, (op, arg) in enumerate(steps):
            if outs[i] is None:
                continue
            if op.name == "ivf_build":
                late[i] = index_holds_all(self.ctx.state["index_dir"], len(self.vectors))
            elif op.name == "ann_query":
                late[i], extra["recall_at_5"] = ann_recall(
                    self.vectors, arg["ids"], outs[i], workloads.ANN_K
                )
                if late[i] is None and extra["recall_at_5"] < workloads.ANN_MIN_RECALL:
                    late[i] = f"recall@5 {extra['recall_at_5']:.3f} below {workloads.ANN_MIN_RECALL}"
        shutil.rmtree(os.path.join(self.ctx.work, "indexes"), ignore_errors=True)
        return late, extra


WORKLOAD_CLASSES = {"job_analytics": JobAnalytics, "corpus_curation": CorpusCuration}


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def layer_metrics(spans, extra_info) -> dict[str, float]:
    """Per-layer metrics of one traced pass, from its spans."""
    m = dict.fromkeys(per_layer_units(), 0.0)
    for s in spans:
        dur = s.end - s.start
        a = s.attrs
        m["spark.jobs"] += a.get("jobs", 0)
        m["spark.tasks"] += a.get("tasks", 0)
        m["spark.failed_tasks"] += a.get("failed_tasks", 0)
        m["spark.executor_cpu_s"] += a.get("executor_cpu_s", 0)
        m["spark.gc_s"] += a.get("gc_s", 0)
        m["spark.shuffle_write_bytes"] += a.get("shuffle_write_bytes", 0)
        m["spark.spill_bytes"] += a.get("spill_bytes", 0)
        m["sources.readers.input_bytes"] += a.get("input_bytes", 0)
        name = s.name
        if name.startswith("sources.snapshots."):
            action = name.split(".")[2]
            if action in ("create", "merge", "delete"):
                m["sources.snapshots.commit_s"] += dur
            elif action == "optimize":
                m["sources.snapshots.optimize_s"] += dur
            elif action == "point_read":
                m["sources.snapshots.point_read_s"] += dur
                m["sources.snapshots.point_read_input_bytes"] += a.get("input_bytes", 0)
        elif name == "ml.fit":
            m["ml.fit_s"] += dur
            m["ml.fit_jobs"] += a.get("jobs", 0)
        elif name.endswith(".build") and f"{name[:-6]}.build_s" in m:
            m[f"{name[:-6]}.build_s"] += dur
        elif name == "operators.ann.query":
            m["operators.ann.query_s"] += dur
            m["operators.ann.query_input_bytes"] += a.get("input_bytes", 0)
        elif name.endswith(".plan") and f"{name[:-5]}.plan_s" in m:
            m[f"{name[:-5]}.plan_s"] += dur
            m[f"{name[:-5]}.eager_jobs"] += a.get("jobs", 0)
        elif name.endswith(".exec") and f"{name[:-5]}.exec_s" in m:
            m[f"{name[:-5]}.exec_s"] += dur
    m["sources.snapshots.files_rewritten"] = extra_info.get("files_rewritten", 0)
    m["sources.snapshots.bytes_written"] = extra_info.get("bytes_written", 0)
    return m


class Run:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None

    # ------------------------------------------------------------- session

    def setup(self, tables):
        """One set-up: session start and table load, what the program needs
        before its first operation. Returns (setup_s, session_start_s)."""
        from jobanalytics_bigdataproject_spark.session import get_spark
        from jobanalytics_bigdataproject_spark.sources.readers import load_star

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=harness.session_conf(self.work))
        t1 = time.perf_counter()
        self.tables = load_star(self.spark, self.data_dir, tables)
        return time.perf_counter() - t0, t1 - t0

    def shutdown(self) -> None:
        """Stop the session, then the JVM the gateway launched."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - JVM ignored the closed pipe
                proc.kill()
                proc.wait()

    # -------------------------------------------------------------- passes

    def run_pass(self, wl, rng, tracer, sampler, op_seq):
        """One pass. Returns (pass_s, [(op, arg, latency_s, out|None, err)],
        layer info, last op sequence number)."""
        from workloads import dir_bytes

        steps = wl.steps(rng)
        cpu0 = sampler.cpu() if tracer.enabled else None
        results, info = [], {"files_rewritten": 0, "bytes_written": 0}
        pass_s = 0.0
        for op, arg in steps:
            wl.ctx.arg = arg
            table_dir = wl.ctx.state.get("table_dir")
            before = dir_bytes(table_dir) if op.kind == "write" else 0
            op_seq += 1
            root = tracer.begin_op(op_seq, op.name) if tracer.enabled else None
            t0 = time.perf_counter()
            err, out = None, None
            try:
                out = op.run(wl.ctx)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                err = f"{type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            pass_s += dt
            if root is not None:
                tracer.end_op(root)
                tracer.collect_stages(root)
            if out is not None and op.kind == "write":
                out.info["bytes_added"] = dir_bytes(table_dir) - before
                info["bytes_written"] += out.info["bytes_added"]
                info["files_rewritten"] += out.info.get("files_rewritten", 0)
            results.append((op, arg, dt, out, err))
        if cpu0 is not None:
            cpu1 = sampler.cpu()
            info.update({f"{k}.cpu_s": cpu1[k] - cpu0[k] for k in cpu1})
        return pass_s, results, info, op_seq

    def check_pass(self, wl, results):
        """Checks outside the timed region; returns workload extras."""
        steps = [(op, arg) for op, arg, *_ in results]
        outs = [out for *_, out, _ in results]
        late, extra = wl.end_pass(steps, outs)
        for (op, arg, _, out, err), late_err in zip(results, late):
            if err is None:
                err = wl.check(op, arg, out) or late_err
            self.attempted += 1
            if err is not None:
                self.failures.append(f"{op.name}: {err}")
        return extra

    def main(self) -> tuple[dict, dict]:
        import numpy as np

        args = self.args
        settings = harness.launch_env(ROOT, self.work)
        os.environ["TZ"] = "UTC"
        time.tzset()
        sys.path.insert(0, ROOT)
        import datagen
        from checks import Checker

        import __spark_entry__ as entry

        marks = {"imports": time.perf_counter() - T_START}
        contention_start = harness.contention()
        t0 = time.perf_counter()
        rows = datagen.generate(self.data_dir, args.seed, args.scale)
        gen_s = time.perf_counter() - t0

        cls = WORKLOAD_CLASSES[args.workload]
        marks["gen"] = time.perf_counter() - T_START
        setups = [self.setup(cls.tables) for _ in range(SETUP_REPS)]
        marks["setups"] = time.perf_counter() - T_START
        sampler = harness.ProcSampler()
        sampler.start()
        tracer = harness.Tracer(self.spark.sparkContext, enabled=False)
        checker = Checker(ROOT, self.data_dir, entry.oracle_sql())
        from workloads import Ctx

        ctx = Ctx(self.spark, self.tables, tracer, self.work, self.data_dir,
                  state={"rows": rows})
        wl = cls(ctx, checker)
        op_seq = 0

        # warm-up passes: untimed, untraced, checked
        warmup_by_op: dict[str, list[float]] = {}
        for w in range(WARMUP_PASSES):
            _, res, _, op_seq = self.run_pass(
                wl, np.random.default_rng([args.seed, 1000 + w]), tracer, sampler, op_seq
            )
            for op, _, dt, _, _ in res:
                warmup_by_op.setdefault(op.name, []).append(dt)
            self.check_pass(wl, res)
        marks["warmup"] = time.perf_counter() - T_START

        jvm0 = harness.jvm_counters(self.spark.sparkContext)
        measured, pass_times, traced_times, latencies = 0.0, [], [], []
        per_kind: dict[str, list[float]] = {}
        per_op: dict[str, list[float]] = {}
        extras: dict[str, list[float]] = {}
        layer_passes = []
        p = 0
        while measured < args.seconds or (args.trace and not (pass_times and traced_times)):
            p += 1
            # a traced run alternates traced and untraced passes: the gap
            # between their medians is the tracing overhead
            tracer.enabled = bool(args.trace) and p % 2 == 1
            if tracer.enabled:
                tracer.skip_earlier_jobs()
            first_span = len(tracer.spans)
            pass_s, res, info, op_seq = self.run_pass(
                wl, np.random.default_rng([args.seed, p]), tracer, sampler, op_seq
            )
            measured += pass_s
            for k, v in self.check_pass(wl, res).items():
                extras.setdefault(k, []).append(v)
            if tracer.enabled:
                traced_times.append(pass_s)
                m = layer_metrics(tracer.spans[first_span:], info)
                for k in ("driver", "jvm", "pyworker"):
                    m[f"{k}.cpu_s"] = info.get(f"{k}.cpu_s", 0.0)
                layer_passes.append(m)
                continue
            pass_times.append(pass_s)
            for op, arg, dt, out, err in res:
                latencies.append(dt)
                per_op.setdefault(op.name, []).append(dt)
                per_kind.setdefault(op.kind, []).append(dt)
        marks["measured"] = time.perf_counter() - T_START
        jvm1 = harness.jvm_counters(self.spark.sparkContext)
        sampler.sample_rss()
        sampler.stop()
        contention_end = harness.contention()
        contention_end["steal_share_since_start"] = (
            (contention_end["steal_jiffies"] - contention_start["steal_jiffies"])
            / max(1, contention_end["cpu_jiffies"] - contention_start["cpu_jiffies"])
        )
        checker.close()

        pct, tail_v = tail(latencies)
        metrics_e2e = {
            "setup_s": median([s for s, _ in setups]),
            "pass_s": median(pass_times),
            # per-op medians first, so ops of very different cost do not
            # leave the median between two clusters of samples; then a
            # median estimate that does not rest on one or two operations
            "op_p50_s": hd_median(median(v) for v in per_op.values()),
            "peak_rss_mb": sampler.peak_rss / 2**20,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "rows": rows,
            "launch": settings,
            "master": self.spark.sparkContext.master,
            "contention_start": contention_start,
            "contention_end": contention_end,
            "gen_s": gen_s,
            "marks_s": marks,
            "setup_runs_s": [s for s, _ in setups],
            "passes": len(pass_times),
            "pass_times_s": pass_times,
            "op_tail": {"percentile": pct, "value_s": tail_v, "samples": len(latencies)},
            "op_p50_by_op_s": {k: median(v) for k, v in sorted(per_op.items())},
            "warmup_by_op_s": warmup_by_op,
            "failed_ops_share": len(self.failures) / max(1, self.attempted),
            "failures": self.failures[:20],
            # JVM time spent on GC and JIT over the measured passes
            "jvm_measured_s": {k: jvm1[k] - jvm0[k] for k in jvm0},
        }
        if "write" in per_kind:
            detail["write_p50_s"] = median(per_kind["write"])
            detail["read_p50_s"] = median(per_kind["read"])
        for k, v in extras.items():
            detail[k] = median(v)
        if args.trace:
            layers = {k: median([lp[k] for lp in layer_passes]) for k in per_layer_units()}
            layers["session.start_s"] = median([st for _, st in setups])
            layers["tracing.overhead_s"] = median(traced_times) - median(pass_times)
            detail["traced_pass_times_s"] = traced_times
            detail["tracing_overhead_s"] = layers["tracing.overhead_s"]
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(span_file)
            detail["span_file"] = os.path.relpath(span_file, ROOT)
            units, values = per_layer_units(), layers
        else:
            units, values = END_TO_END, metrics_e2e
        result = {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
        return detail, result


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="lineitem rows = 6M x scale")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    run = Run(args)
    try:
        detail, result = run.main()
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    finally:
        try:
            run.shutdown()
        except ImportError:
            pass
        shutil.rmtree(run.work, ignore_errors=True)
    detail["marks_s"]["end"] = time.perf_counter() - T_START
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
