"""Benchmark of the reddit_etl_spark package, driven through its public
functions from one process with one closed-loop client.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 24 --trace 0

runs one workload and prints, as the last line of standard output, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of one
extra traced pass with ``--trace 1``. ``--stability K`` runs the
workload K times with consecutive seeds and prints each end-to-end
metric's median and interquartile spread. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import quantiles
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER_SLOTS = 2  # local[2]: one client, two task slots, spare cores for the JVM
#: the cost of one pass that ``--seconds`` is divided by; both workloads'
#: passes take 9-12 s on a shared 4-core host
PASS_S = 12.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
    "lake_bytes_per_row": "B/row",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.ms": "ms",
    "sources.rows": "count",
    "transform.ms": "ms",
    "sinks.write_ms": "ms",
    "sinks.jobs": "count",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    "stats.upsert_ms": "ms",
    "stats.partitions": "count",
    "pipeline.self_ms": "ms",
    "pipeline.jobs": "count",
    "engine.build_ms": "ms",
    "engine.py4j_calls": "count",
    "catalyst.plan_ms": "ms",
    "catalyst.exchanges": "count",
    "harness.build_ms": "ms",
    "harness.py4j_calls": "count",
    "harness.probe_jobs": "count",
    "harness.probe_ms": "ms",
    "harness.probe_job_share": "ratio",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_failures": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.slot_busy_share": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.persisted_rdds": "count",
    "jvm.heap_live_mb": "MB",
    "python.total_ms": "ms",
    "python.boot_ms": "ms",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "trace.overhead_s": "s",
}


def since_process_start() -> float:
    """Seconds since this process was created (Linux /proc clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Run:
    """One benchmark run: set-up, preparation, check rep, timed passes
    and, with tracing, one traced pass."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # --- set-up ---------------------------------------------------------
    def setup(self) -> dict[str, float]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            # the package's own driver-heap setting; with -Xms below, the
            # heap is fixed at 1g (README: "Run structure")
            SPARK_DRIVER_MEM="1g",
            # keep the JVMs' files in the checkout: no /tmp/hsperfdata_*
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            os.environ[v] = "1"
        sys.path.insert(0, ROOT)
        from reddit_etl_spark.session import get_spark  # noqa: PLC0415

        import workloads  # noqa: PLC0415

        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        if self.args.workload == "query":
            from reddit_etl_spark import harness  # noqa: F401,PLC0415
        self.wl_cls = workloads.WORKLOADS[self.args.workload]
        import_s = since_process_start()

        # the file the first read scans; writing it is not set-up
        tiny = os.path.join(self.work, "warm.parquet")
        pq.write_table(pa.table({"id": list(range(64))}), tiny)

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{MASTER_SLOTS}]",
            shuffle_partitions=MASTER_SLOTS,
            extra_conf={
                # a fixed heap: the JVM's resident size does not follow its
                # heap-resizing policy, so peak_rss_mb repeats; the live
                # heap is reported per layer (jvm.heap_live_mb)
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("OFF")
        start_s = time.perf_counter() - t

        t = time.perf_counter()
        df = self.spark.read.parquet(tiny)
        df.count()
        df.mapInArrow(_identity, df.schema).count()
        warm_s = time.perf_counter() - t
        return {
            "session.import_s": import_s,
            "session.start_s": start_s,
            "session.warm_s": warm_s,
        }

    # --- passes ---------------------------------------------------------
    def _attempt(self, op):
        self.attempted += 1
        try:
            return op.run()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.failed += 1
            log(f"{op.name} raised:\n{traceback.format_exc()}")
            return None

    def check_rep(self) -> None:
        results = {}
        for op in self.wl.begin_pass(0):
            out = self._attempt(op)
            if out is not None:
                results[op.name] = out
        bad = self.wl.check(results)
        self.wl.end_pass(0)
        for msg in bad:
            log(f"check failed: {msg}")
        self.failed += len(bad)

    def _verify(self, op, out) -> None:
        if out is not None and self.wl.fingerprint(out) != self.wl.reference(op.name):
            self.failed += 1
            log(f"{op.name}: result differs from the check rep")

    def timed_passes(self, first: int, passes: int) -> dict[str, list[float]]:
        """Latencies per operation, one per pass."""
        samples: dict[str, list[float]] = {}
        for k in range(first, first + passes):
            self._quiesce()
            for op in self.wl.begin_pass(k):
                t = time.perf_counter()
                out = self._attempt(op)
                samples.setdefault(op.name, []).append(time.perf_counter() - t)
                self._verify(op, out)
            self.wl.end_pass(k)
        return samples

    def _quiesce(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()

    def traced_pass(self, k: int, untraced_pass_s: float, samples) -> dict:
        self._quiesce()
        base_job = tr.last_job_id(self.spark)
        tracer = tr.Tracer(self.spark)
        roots = []
        py_metrics = []
        try:
            with tr.patched(self.wl.trace_targets(tracer)):
                for i, op in enumerate(self.wl.begin_pass(k)):
                    tracer.op = i
                    self.attempted += 1
                    try:
                        if op.build is None:
                            with tracer.span(op.layer) as root:
                                out = op.run()
                        else:
                            with tracer.span("op") as root:
                                with tracer.span(op.layer):
                                    df = op.build()
                                with tracer.span("catalyst") as c:
                                    c.counters["exchanges"] = tr.force_plan(df)
                                with tracer.span("exec"):
                                    out = (df, df.collect())
                            py_metrics.append(tr.python_plan_metrics(self.spark, df))
                    except Exception:  # noqa: BLE001 - counted like a timed op
                        self.failed += 1
                        log(f"{op.name} raised:\n{traceback.format_exc()}")
                        out = None
                    roots.append((op, root))
                    self._verify(op, out)
        finally:
            tracer.close()
        jobs = tr.job_metrics(self.spark, base_job)
        shape = self.wl.lake_shape()
        shape["exec.persisted_rdds"] = tr.persisted_rdds(self.spark)
        shape["jvm.heap_live_mb"] = tr.live_heap_mb(self.spark)
        self.wl.end_pass(k)
        traced_s = sum(r.ms for _, r in roots) / 1000.0
        return self._layer_metrics(
            tracer, roots, jobs, shape, py_metrics, traced_s, untraced_pass_s,
            samples,
        )

    def _layer_metrics(self, tracer, roots, jobs, shape, py_metrics,
                       traced_s, untraced_pass_s, samples) -> dict:
        n = len(roots)
        self_ms = tracer.self_ms()
        by_group = {s.group: s for s in tracer.spans}
        jobs_of: dict[str, list] = {}
        for j in jobs:
            span = by_group.get(j.group)
            jobs_of.setdefault(span.name if span else "", []).append(j)

        def total(name, attr="ms"):
            return sum(
                getattr(s, attr) if attr != "self" else self_ms[s.sid]
                for s in tracer.spans if s.name == name
            )

        def counter(name, key):
            return sum(s.counters.get(key, 0) for s in tracer.spans if s.name == name)

        harness_jobs = jobs_of.get("harness", [])
        harness_ops = {s.op for s in tracer.spans if s.name == "harness"}
        harness_op_jobs = [
            j for j in jobs
            if j.group in by_group and by_group[j.group].op in harness_ops
        ]
        m = {
            "sources.ms": total("sources") / n,
            "sources.rows": counter("sources", "rows") / n,
            "transform.ms": total("transform") / n,
            "sinks.write_ms": total("sinks") / n,
            "sinks.jobs": len(jobs_of.get("sinks", [])) / n,
            "stats.upsert_ms": total("stats") / n,
            "stats.partitions": 0,
            "pipeline.self_ms": total("pipeline", "self") / n,
            "pipeline.jobs": len(jobs_of.get("pipeline", [])) / n,
            "engine.build_ms": total("engine") / n,
            "engine.py4j_calls": total("engine", "py4j") / n,
            "catalyst.plan_ms": total("catalyst") / n,
            "catalyst.exchanges": counter("catalyst", "exchanges") / n,
            "harness.build_ms": total("harness") / n,
            "harness.py4j_calls": total("harness", "py4j") / n,
            "harness.probe_jobs": len(harness_jobs) / n,
            "harness.probe_ms": sum(j.ms for j in harness_jobs) / n,
            "harness.probe_job_share": (
                len(harness_jobs) / len(harness_op_jobs) if harness_jobs else 0.0
            ),
            "exec.ms": sum(j.ms for j in jobs) / n,
            "exec.jobs": len(jobs) / n,
            "exec.slot_busy_share": (
                sum(j.run_ms for j in jobs) / (traced_s * 1000.0 * MASTER_SLOTS)
            ),
            "trace.overhead_s": traced_s - untraced_pass_s,
        }
        for key, attr in (
            ("stages", "stages"), ("tasks", "tasks"),
            ("task_failures", "task_failures"), ("executor_run_ms", "run_ms"),
            ("executor_cpu_ms", "cpu_ms"), ("gc_ms", "gc_ms"),
            ("shuffle_write_mb", "shuffle_write_mb"),
            ("shuffle_read_mb", "shuffle_read_mb"), ("spill_mb", "spill_mb"),
        ):
            m[f"exec.{key}"] = sum(getattr(j, attr) for j in jobs) / n
        for key in ("total_ms", "boot_ms", "data_sent_mb", "data_received_mb"):
            m[f"python.{key}"] = sum(p[key] for p in py_metrics) / n
        m.update(shape)
        m.update(self.wl.prep_write())

        per_op = []
        for op, root in roots:
            layers: dict[str, float] = {}
            for s in tracer.spans:
                if s.op == root.op:
                    layers[s.name] = layers.get(s.name, 0.0) + self_ms[s.sid]
            untraced = statistics.median(samples[op.name]) * 1000.0
            per_op.append({
                "op": op.name, "traced_ms": root.ms, "untraced_ms": untraced,
                "self_ms": layers,
            })
        self._write_trace(tracer, jobs, per_op, m)
        return m

    def _write_trace(self, tracer, jobs, per_op, metrics) -> None:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"trace-{self.args.workload}-seed{self.args.seed}.json"
        )
        self_ms = tracer.self_ms()
        doc = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "metrics": metrics,
            "ops": per_op,
            "spans": [
                {
                    "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_ms": self_ms[s.sid],
                    "py4j": s.py4j, **s.counters,
                }
                for s in tracer.spans
            ],
            "jobs": [vars(j) for j in jobs],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        log(f"trace written to {os.path.relpath(path, ROOT)}")

    # --- the whole run --------------------------------------------------
    def execute(self) -> dict:
        session = self.setup()
        setup_s = sum(session.values())
        log(f"set-up {setup_s:.2f} s {session}")

        t = time.perf_counter()
        self.wl = self.wl_cls(self.spark, self.args.seed, self.work)
        log(f"preparation {time.perf_counter() - t:.1f} s")
        t = time.perf_counter()
        self.check_rep()
        log(f"check rep {time.perf_counter() - t:.1f} s, failed={self.failed}")

        warm = self.wl.WARM_PASSES
        if warm:
            t = time.perf_counter()
            self.timed_passes(1, warm)  # results verified, times dropped
            log(f"{warm} warm-up pass(es) {time.perf_counter() - t:.1f} s")
        passes = max(1, int(self.args.seconds // PASS_S))
        samples = self.timed_passes(1 + warm, passes)
        pass_s = [sum(xs[k] for xs in samples.values()) for k in range(passes)]
        lat = [x for xs in samples.values() for x in xs]
        log(f"{passes} timed passes: {[round(p, 3) for p in pass_s]} s")

        if self.args.trace:
            metrics = dict(session)
            metrics.update(
                self.traced_pass(
                    1 + warm + passes, statistics.median(pass_s), samples
                )
            )
            units = PER_LAYER
        else:
            jvm_pid = self.spark.sparkContext._gateway.proc.pid
            py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(pass_s),
                "op_p50_ms": quantiles.percentile(lat, 50) * 1000.0,
                "op_p90_ms": quantiles.percentile(lat, 90) * 1000.0,
                "peak_rss_mb": py_mb + _rss_mb(jvm_pid),
                "lake_bytes_per_row": (
                    statistics.median(self.wl.lake_bytes) / self.wl.lake_rows
                ),
            }
            units = END_TO_END
        print("perfbench-detail " + json.dumps({
            "samples": len(lat), "passes": passes, "pass_s": pass_s,
            "op_ms": {k: [x * 1000.0 for x in v] for k, v in samples.items()},
        }))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": metrics[k], "unit": u} for k, u in units.items()
            },
        }

    def stop(self) -> None:
        if self.spark is not None:
            gw = self.spark.sparkContext._gateway
            self.spark.stop()
            if gw is not None:
                # the JVM exits when the pipe to its stdin closes
                gw.shutdown()
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)


def bench(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "reddit_etl_spark")):
        log("the reddit_etl_spark package is not in this checkout")
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    try:
        result = run.execute()
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stability(args) -> int:
    """Run the workload ``args.stability`` times with consecutive seeds
    and report every end-to-end metric's median and interquartile
    spread as a share of the median."""
    values: dict[str, list[float]] = {}
    sample_counts = set()
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    for i in range(args.stability):
        seed = args.seed + i
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        detail = json.loads(
            next(x for x in lines if x.startswith("perfbench-detail "))
            .split(" ", 1)[1]
        )
        sample_counts.add(detail["samples"])
        if not result["correct"]:
            raise SystemExit(f"seed {seed}: {result['failed']} failed")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        with open(
            os.path.join(HERE, "out", f"stability-{args.workload}.jsonl"), "a"
        ) as f:
            f.write(json.dumps({"seed": seed, "detail": detail, "result": result}))
            f.write("\n")
        print(f"seed {seed}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        ), flush=True)
    if len(sample_counts) != 1:
        raise SystemExit(f"sample counts differ between runs: {sample_counts}")
    print(f"{args.workload}: {args.stability} runs, "
          f"{sample_counts.pop()} samples per run")
    for k, vs in values.items():
        print(f"  {k:20s} median {statistics.median(vs):12.4f}  "
              f"iqr/median {quantiles.iqr_share(vs):.4f}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=24)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--stability", type=int, default=0, metavar="K")
    args = p.parse_args(argv)
    if args.stability:
        return stability(args)
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
