"""Benchmark of the medallion engine: one workload per invocation.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

Run from the repository root.  The run starts one Spark driver on
``local[N]`` (N = usable cores), builds the workload's inputs from the
seed, sets it up ``SETUP_REPS`` times under fresh directories, then runs
whole passes of the workload's operations, one at a time (a closed loop
with one client), until ``--seconds`` of pass time have elapsed and at
least the workload's ``min_passes`` passes ran.  Every output is checked
outside the timed region.  A fixed plain-PySpark reference job runs before
the first pass and after each pass; the gated times are given in multiples
of it (``x_ref``, see reference.py) and the same figures in seconds are
printed as text.  Each pass's latencies, CPU and reference runs are also
written to standard error as one ``# pass {json}`` line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Everything the run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit,
except the spans of a traced run, which are written to
``.perfbench_work/spans/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import proc  # noqa: E402
import reference  # noqa: E402

ENGINE = "medallion_data_warehouse_on_azure_with_databricks_pyspark_spark"
#: name -> (module, class, default scale)
WORKLOADS = {
    "medallion_cdc": ("medallion", "MedallionCDC", 0.01),
    "analytics_mix": ("analytics", "AnalyticsMix", 0.01),
    "llm_curation": ("curation", "LLMCuration", 0.01),
}
SETUP_REPS = 2
#: the metrics a --trace 0 run prints as JSON.  Times are in multiples of the
#: reference job (``x_ref``, see reference.py), so that the host's speed
#: cancels; set-up time stays in seconds.
END_TO_END = (("setup_s", "s"), ("wall_ref", "x_ref"), ("peak_rss_mb", "MB"))
#: printed as text only: the median and tail pick single operations and the
#: seconds move with the host, so run to run they spread too far to gate on
TEXT_ONLY = (
    ("latency_p50_ref", "latency_p50", "x_ref"), ("latency_tail_ref", "latency_tail", "x_ref"),
    ("cpu_ref", "cpu", "x_ref"),
)
IN_SECONDS = (
    ("wall_s", "wall", "s"), ("ops_per_s", "ops_per", "1/s"),
    ("latency_p50_s", "latency_p50", "s"), ("latency_tail_s", "latency_tail", "s"),
    ("cpu_s", "cpu", "s"),
)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale (default: the workload's own)")
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="self-test: damage every Nth output before its check")
    return ap.parse_args(argv)


def corrupt(out):
    """A deliberately wrong version of an operation's output."""
    if isinstance(out, dict):  # gold versions: point one table at its parent
        return {**out, "customer_dim": out["customer_dim"] - 1}
    return out.slice(1)


def start_spark(work: str):
    from pyspark import SparkContext

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import session

    n = len(os.sched_getaffinity(0))
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:+UseSerialGC -Xms1g -Xmn256m"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway


def stop_spark(spark, gateway) -> None:
    """Stop Spark, wait for the JVM to exit, then for the Python workers
    it forked (they exit once the JVM is gone)."""
    jvm = getattr(gateway, "proc", None)
    workers = [pid for pid, kind in proc.tree_pids().items() if kind == "pyworker"]
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if jvm is not None:
            if jvm.stdin:
                jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 20
        for pid in workers:
            while proc.alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if proc.alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # it ended after the check


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def storage(work: str) -> tuple[int, int]:
    """(commit log entries, data-file bytes) of every versioned table under
    ``work``.  A versioned table ``T`` keeps its log in
    ``T.__versions/_log`` as one ``<version>.json`` per commit."""
    commits = data = 0
    for dirpath, _, filenames in os.walk(work):
        if dirpath.endswith(os.path.join(".__versions", "_log")):
            commits += sum(1 for f in filenames if f.endswith(".json")
                           and not f.startswith(".") and f.count(".") == 1)
        elif os.path.isdir(dirpath + ".__versions"):
            for sub, _, files in os.walk(dirpath):
                data += sum(os.path.getsize(os.path.join(sub, f))
                            for f in files if f.endswith(".parquet"))
    return commits, data


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.passes: list[dict] = []

    def run(self) -> dict:
        from spans import Span, Tracer

        args = self.args
        mod_name, cls_name, scale = WORKLOADS[args.workload]
        self.scale = args.scale if args.scale is not None else scale
        t0 = time.perf_counter()
        e0 = time.time()
        self.spark, self.gateway = start_spark(self.work)
        self.session_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.parallelism = sc.defaultParallelism
        self.tracer = Tracer(self.spark, f"{args.workload}-{args.seed}")
        self.session_span = Span("session", "session.get_spark", None, e0,
                                 e0 + self.session_s, self.tracer.run_id)
        cls = getattr(__import__(mod_name), cls_name)
        self.w = cls(self.spark, self.tracer, args.seed, self.scale)
        self.prepare_s, self.warm_s = [], 0.0
        for rep in range(SETUP_REPS):
            root = os.path.join(self.work, f"rep{rep}")
            t = time.perf_counter()
            self.w.prepare(root)
            self.prepare_s.append(time.perf_counter() - t)
            if rep == 0:
                t = time.perf_counter()
                self.w.warm()
                self.warm_s = time.perf_counter() - t
            if rep < SETUP_REPS - 1:
                shutil.rmtree(root, ignore_errors=True)
        self.setup_s = self.session_s + self.warm_s + common.median(self.prepare_s)
        # the reference job's own warm-up is not the engine's set-up
        self.ref_path = os.path.join(self.work, "reference")
        for _ in range(reference.WARM_RUNS):
            reference.run_once(self.spark, self.ref_path)
        self.timed()
        return self.result()

    def timed(self) -> None:
        """Whole passes until ``--seconds`` of pass time; in traced runs
        untraced and traced passes alternate, at least one of each.  The
        reference job runs between passes and before the first."""
        args, w, tracer = self.args, self.w, self.tracer
        spent, n_ops = 0.0, 0
        # never fewer than the workload's ``min_passes``, so that every run of
        # a workload yields the same number of samples however loaded the
        # host is; a traced run needs one untraced and one traced pass
        least = max(w.min_passes, 2 if args.trace else 1)
        ref1 = reference.run_once(self.spark, self.ref_path)
        while spent < args.seconds or len(self.passes) < least:
            traced = bool(args.trace) and len(self.passes) % 2 == 1
            ops = w.ops(len(self.passes) + 1)
            ref0 = ref1  # the previous pass's closing reference opens this one
            if traced:
                tracer.instrument()
                tracer.enabled = True
            c0 = w.counters()
            fs0, gc0, cpu0 = storage(self.work), gc_seconds(self.spark), proc.cpu_snapshot()
            host0 = proc.host_ticks()
            e0, t0 = time.time(), time.perf_counter()
            results = []
            for op in ops:
                op_cpu0 = proc.cpu_snapshot()
                s = time.perf_counter()
                try:
                    out, err = op.run(), None
                except Exception as exc:  # a failed operation is a result
                    out, err = None, exc
                lat = time.perf_counter() - s
                op_cpu = sum(proc.cpu_delta(op_cpu0, proc.cpu_snapshot()).values())
                results.append((op, lat, op_cpu, out, err))
            wall = time.perf_counter() - t0
            window = (e0, time.time())
            cpu = proc.cpu_delta(cpu0, proc.cpu_snapshot())
            host1 = proc.host_ticks()
            steal = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
            gc, fs1 = gc_seconds(self.spark) - gc0, storage(self.work)
            c1 = w.counters()
            if traced:
                tracer.enabled = False
                tracer.restore()
                tracer.harvest()
            ref1 = reference.run_once(self.spark, self.ref_path)
            print("# pass " + json.dumps({
                "labels": [r[0].label for r in results], "latency_s": [r[1] for r in results],
                "cpu_s": [r[2] for r in results], "reference": [ref0, ref1], "steal": steal,
            }), file=sys.stderr)
            ok = []
            for op, lat, op_cpu, out, err in results:
                n_ops += 1
                if err is None and op.counted and args.corrupt_every \
                        and n_ops % args.corrupt_every == 0:
                    out = corrupt(out)
                try:
                    good = err is None and bool(op.check(out))
                except Exception as exc:  # a check that cannot run fails the op
                    err, good = exc, False
                if err is not None:
                    print(f"# {op.label}: {type(err).__name__}: {err}"[:400], file=sys.stderr)
                ok.append((op, lat, op_cpu, good))
            w.after_pass()
            self.passes.append({
                "traced": traced, "wall": wall, "window": window, "cpu": cpu, "gc": gc,
                "steal": steal, "ref": [ref0, ref1],
                "commits": fs1[0] - fs0[0], "data_bytes": fs1[1] - fs0[1],
                "ops": ok, "rss": proc.peak_rss_mb(),
                "counters": {k: c1[k] - c0.get(k, 0) for k in c1},
            })
            spent += wall

    # -- metrics ----------------------------------------------------------------

    def _measured(self) -> list[dict]:
        """The passes the end-to-end metrics come from."""
        return [p for p in self.passes if not p["traced"]]

    def summary(self, scaled: bool) -> dict:
        """Pass wall, ops per second, median and tail latency and pass CPU
        of the untraced passes, in seconds or, ``scaled``, in multiples of
        the reference job (see reference.py).

        Every figure is a median over operations, so that a burst of host
        load that slows a few of them moves none: a pass's wall and CPU
        are composed from the median of each of its operations."""
        ps = self._measured()
        # a pass's closing reference run opens the next pass: count it once
        runs = {id(r): r for p in ps for r in p["ref"]}.values()
        ref_cpu = common.median([r[1] for r in runs]) if scaled else 1.0
        by_key: dict[str, tuple[list[float], list[float]]] = {}
        lats = []
        for p in ps:
            t = (p["ref"][0][0] + p["ref"][1][0]) / 2 if scaled else 1.0
            for op, lat, cpu, _ in p["ops"]:
                ls, cs = by_key.setdefault(op.key or op.label, ([], []))
                ls.append(lat / t)
                cs.append(cpu / ref_cpu)
                if op.counted:
                    lats.append(lat / t)
        first = ps[0]["ops"]
        per_pass = {k: sum(1 for op, *_ in first if (op.key or op.label) == k) for k in by_key}
        wall = sum(n * common.median(by_key[k][0]) for k, n in per_pass.items())
        value, pct, beyond = common.tail(lats)
        self.tail_note = f"p{pct:.1f} of {len(lats)} samples, {beyond} beyond"
        return {
            "wall": wall,
            "ops_per": sum(op.counted for op, *_ in first) / wall,
            "latency_p50": common.median(lats),
            "latency_tail": value,
            "cpu": sum(n * common.median(by_key[k][1]) for k, n in per_pass.items()),
        }

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "wall_ref": self.summary(scaled=True)["wall"],
            "peak_rss_mb": max(p["rss"] for p in self.passes),
        }

    def per_layer(self) -> dict:
        import spans as tr

        traced = [p for p in self.passes if p["traced"]]
        windows = [p["window"] for p in traced]
        sp = [s for s in self.tracer.spans if any(a <= s.start <= b for a, b in windows)]
        moved = {k: sum(p["counters"].get(k, 0) for p in traced)
                 for k in ("landed_bytes", "rows_in")}
        jobs = list(self.tracer.jobs.values())
        stages = self.tracer.stages
        m = tr.layer_metrics(sp, jobs, stages)
        # the timed passes never call the session layer: report its set-up
        m["session.calls"] = 1.0
        m["session.busy_s"] = m["session.driver_gap_s"] = self.session_s
        w = self.w
        commits = sum(p["commits"] for p in traced)
        landed = moved["landed_bytes"]
        reads = [s for s in sp if s.name.startswith("sources.read.")]
        live = w.live_bytes() * len(reads)
        untraced = [p["wall"] for p in self._measured()]
        m.update({
            "workload.build_s": tr.busy_of(sp, "workload.build"),
            "workload.plan_s": tr.busy_of(sp, "workload.plan"),
            "sources.commits": float(commits),
            "sources.write_amp": sum(p["data_bytes"] for p in traced) / landed if landed else 0.0,
            "sources.scan_ratio": (tr.input_bytes_of(sp, jobs, stages, "sources.read.") / live
                                   if live else 0.0),
            "streaming.rows_in": float(moved["rows_in"]),
            "operators.similarity.build_s": tr.duration_of(
                sp, "operators.similarity.build_ivfpq_index"),
            "operators.similarity.probe_s": tr.duration_of(sp, "operators.similarity.probe"),
            "operators.similarity.recall_at_10": self.recall(),
            "operators.dedup.busy_s": tr.busy_of(sp, "operators.dedup."),
            "operators.text.busy_s": tr.busy_of(sp, "operators.text."),
            "proc.jvm_cpu_s": sum(p["cpu"]["jvm"] for p in traced),
            "proc.pyworker_cpu_s": sum(p["cpu"]["pyworker"] for p in traced),
            "proc.driver_py_cpu_s": sum(p["cpu"]["driver_py"] for p in traced),
            "proc.gc_s": sum(p["gc"] for p in traced),
            "trace.overhead_s": (common.median([p["wall"] for p in traced])
                                 - common.median(untraced)),
            "trace.coverage": tr.coverage([s for s in sp if s.parent is None], windows),
            "trace.wall_s": sum(p["wall"] for p in traced),
        })
        # spans are kept in memory and written out once, beside the work dir
        out = os.path.join(os.path.dirname(self.work), "spans")
        os.makedirs(out, exist_ok=True)
        self.tracer.spans.append(self.session_span)
        self.tracer.dump(os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json"))
        return m

    def recall(self) -> float:
        r = self.w.recalls
        return sum(r) / len(r) if r else 0.0

    def result(self) -> dict:
        ops = [good for p in self.passes for *_, good in p["ops"]]
        attempted, failed = len(ops), ops.count(False)
        if self.args.trace:
            values = self.per_layer()
            units = dict(per_layer_units())
        else:
            values = self.end_to_end()
            units = dict(END_TO_END)
        self.report(values, units, attempted, failed)
        return {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }

    def report(self, values: dict, units: dict, attempted: int, failed: int) -> None:
        a = self.args
        print(f"{a.workload} seed={a.seed} scale={self.scale} "
              f"local[{len(os.sched_getaffinity(0))}] defaultParallelism={self.parallelism} "
              f"passes={len(self.passes)} trace={a.trace}")

        def line(name, value, unit, note=""):
            print(f"  {name:<36} {value:>12.4f} {unit}{note}")

        for k, v in values.items():
            note = ""
            if k == "setup_s":
                note = (f"  (session {self.session_s:.2f} s + warm-up {self.warm_s:.2f} s"
                        f" + median of {len(self.prepare_s)} set-ups "
                        f"{common.median(self.prepare_s):.2f} s)")
            line(k, v, units[k], note)
        if not a.trace:
            for table, scaled in ((TEXT_ONLY, True), (IN_SECONDS, False)):
                got = self.summary(scaled)
                for name, key, unit in table:
                    line(name, got[key], unit,
                         f"  ({self.tail_note})" if key == "latency_tail" else "")
            refs = list({id(r): r for p in self._measured() for r in p["ref"]}.values())
            line("reference_s", common.median([r[0] for r in refs]), "s",
                 f"  (reference job; its CPU {common.median([r[1] for r in refs]):.2f} s)")
        line("op_fail_ratio", failed / attempted, "", f"  ({failed}/{attempted})")
        steal = common.median([p["steal"] for p in self.passes])
        line("host_steal_share", steal, "", "  (median over passes)")
        if a.workload == "llm_curation":
            line("recall_at_10", self.recall(), "")


def per_layer_units() -> list[tuple[str, str]]:
    from spans import LAYER_METRICS, LAYERS

    out = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    out += [
        ("workload.build_s", "s"), ("workload.plan_s", "s"),
        ("sources.commits", "count"), ("sources.write_amp", "ratio"),
        ("sources.scan_ratio", "ratio"), ("streaming.rows_in", "rows"),
        ("operators.similarity.build_s", "s"), ("operators.similarity.probe_s", "s"),
        ("operators.similarity.recall_at_10", "ratio"),
        ("operators.dedup.busy_s", "s"), ("operators.text.busy_s", "s"),
        ("proc.jvm_cpu_s", "s"), ("proc.pyworker_cpu_s", "s"),
        ("proc.driver_py_cpu_s", "s"), ("proc.gc_s", "s"),
        ("trace.overhead_s", "s"), ("trace.coverage", "ratio"), ("trace.wall_s", "s"),
    ]
    return out


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.scale is not None:
            cmd += ["--scale", str(args.scale)]
        res = subprocess.run(cmd, capture_output=True, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode or not lines:
            sys.stderr.write(res.stderr[-4000:])
            return res.returncode or 1
        print("\n".join(lines[:-1]))
        one = json.loads(lines[-1])
        merged["correct"] &= one["correct"]
        merged["attempted"] += one["attempted"]
        merged["failed"] += one["failed"]
        merged["metrics"][name] = one["metrics"]
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"engine package {ENGINE!r} not found under {root}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    runner = Runner(args, work)
    try:
        result = runner.run()
    finally:
        if hasattr(runner, "spark"):
            stop_spark(runner.spark, runner.gateway)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
