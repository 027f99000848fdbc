"""Benchmark of the gliner_spark package: two seeded KG workloads.

    python3 perfbench/run.py --workload kg_pages --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One run generates its input from the
seed, starts Spark cold (a fresh JVM) and times that start, runs one
warm-up iteration, then times at least ``MIN_OPS`` iterations of its
job and goes on until ``--seconds`` have passed, checks every
iteration's output and prints one JSON result as its last line of
standard output.

With ``--trace 0`` the metrics are the end-to-end ones: the cold
start's wall time and the median CPU seconds of an op. With
``--trace 1`` it times one untraced and one traced iteration and prints
the per-layer metrics: spans around each layer call, Spark counters
from Spark's own event log, a single-process replay of the NER kernels,
and the leftovers of the job. ``--workload all`` runs every workload of
BENCHMARK.json in turn and exits non-zero if any output check fails.

Everything a run writes stays under ``.perfbench_work`` (deleted at the
end) and ``.perfbench_out`` (results, spans, event logs) in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
MIN_OPS = 2          # timed ops in an untraced run, at the least
REPLAY_PAGES = 256   # pages in the single-process kernel replay
TOKEN_WORDS = 400    # longest page the token-path replay takes
# C1 only: the JIT settles within the warm-up op instead of compiling
# in the background of the timed ops, on the same few cores
JAVA_OPTS = "-XX:TieredStopAtLevel=1"

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}

# name → (unit, which direction is better)
PER_LAYER = {
    "session.cold_start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.busy_frac": ("ratio", "higher"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.untraced_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unattributed_s": ("s", "lower"),
    "leaked_rdds": ("count", "lower"),
    "leaked_mb": ("MB", "lower"),
    "kernels.tokenize.s": ("s", "lower"),
    "kernels.tokenize.words": ("count", "lower"),
    "kernels.scorer.span.s": ("s", "lower"),
    "kernels.scorer.span.cells": ("count", "lower"),
    "kernels.scorer.token.s": ("s", "lower"),
    "kernels.scorer.token.cells": ("count", "lower"),
    "kernels.decode.span.s": ("s", "lower"),
    "kernels.decode.span.candidates": ("count", "lower"),
    "kernels.decode.token.s": ("s", "lower"),
    "kernels.decode.token.candidates": ("count", "lower"),
    "kernels.decode.greedy.s": ("s", "lower"),
    "kernels.decode.greedy.kept_frac": ("ratio", "higher"),
    "kernels.pipeline.s": ("s", "lower"),
    "operators.ner.s": ("s", "lower"),
    "operators.ner.mentions": ("count", "higher"),
    "operators.relations.s": ("s", "lower"),
    "operators.relations.triples": ("count", "higher"),
    "operators.sinks.s": ("s", "lower"),
    "operators.sinks.mb_written": ("MB", "lower"),
    "operators.sinks.files": ("count", "lower"),
    "plans.kg.edges_s": ("s", "lower"),
    "scaling.speedup_4v1": ("ratio", "higher"),
    "operators.skew.hot_keys_s": ("s", "lower"),
    "operators.linking.surfaces_s": ("s", "lower"),
    "operators.linking.surfaces": ("count", "higher"),
    "operators.linking.salted": ("count", "lower"),
    "operators.linking.lsh_links_s": ("s", "lower"),
    "operators.linking.links": ("count", "higher"),
    "operators.linking.dropped_buckets": ("count", "lower"),
    "operators.canonicalize.s": ("s", "lower"),
    "operators.canonicalize.nodes": ("count", "lower"),
    "plans.incremental.signatures_s": ("s", "lower"),
    "plans.incremental.batch_first_s": ("s", "lower"),
    "plans.incremental.batch_last_s": ("s", "lower"),
    "plans.incremental.jobs_per_batch": ("count", "lower"),
    "store.rows": ("count", "lower"),
    "store.bytes_per_doc": ("B/doc", "lower"),
    "dups.vs_old": ("count", "higher"),
    "dups.vs_new": ("count", "higher"),
}

# span name → per-layer metric holding its total duration
SPAN_METRICS = {
    "operators.ner": "operators.ner.s",
    "operators.relations": "operators.relations.s",
    "operators.sinks": "operators.sinks.s",
    "plans.kg.edges": "plans.kg.edges_s",
    "operators.skew.hot_keys": "operators.skew.hot_keys_s",
    "operators.linking.surfaces": "operators.linking.surfaces_s",
    "operators.linking.lsh_links": "operators.linking.lsh_links_s",
    "operators.canonicalize": "operators.canonicalize.s",
    "plans.incremental.signatures": "plans.incremental.signatures_s",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f} s]: {msg}",
          file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


class Bench:
    """One run: owns the Spark session and the run's work directory."""

    def __init__(self, workload, seed: int, trace: bool):
        from perfbench.workloads import WORKLOADS

        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        for sub in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        # local Python workers import the package from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        # every JVM, the Spark launcher's too, would write its perf data
        # outside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")

    @property
    def root(self) -> str:
        return os.path.join(self.dir, "out")

    def start(self, cores: int = CORES, cold: bool = True) -> float:
        """Starts a session and warms its Python workers; returns the
        seconds taken. With ``cold`` it first shuts the running JVM
        down, so the start launches a fresh one, as every spark-submit
        job does; without, it keeps the JVM and its JIT-compiled
        code."""
        from gliner_spark.session import build_session

        if cold:
            self.shutdown()
        else:
            self.stop_session()
        extra = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} "
                + JAVA_OPTS,
        }
        if self.trace:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir":
                    "file://" + os.path.join(self.dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(app_name=f"perfbench-{self.wl.name}",
                                   cores=cores, extra=extra)
        (self.spark.range(0, 16 * cores, 1, cores)
         .mapInPandas(_identity, "id long")
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def persisted(self) -> tuple[int, float]:
        jsc = self.spark.sparkContext._jsc
        mb = sum(i.memSize() + i.diskSize()
                 for i in jsc.sc().getRDDStorageInfo()) / 2**20
        return len(jsc.getPersistentRDDs()), mb

    def release(self) -> None:
        """Drop what a job left persisted or checkpointed."""
        self.spark.catalog.clearCache()
        for rdd in list(
                self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.spark.sparkContext._jvm.System.gc()

    def op(self, inputs, k) -> tuple[float, float]:
        """Runs op ``k``; returns its wall and CPU seconds."""
        c0 = tree_cpu_s()
        try:
            wall = self.wl.op(self.spark, inputs, self.root, k)
            return wall, tree_cpu_s() - c0
        finally:
            self.release()

    def check(self, inputs, ks: list) -> int:
        """Checks the output of ops ``ks``; returns how many failed."""
        fails = {k: f for k, f in
                 self.wl.check(self.spark, inputs, self.root, ks,
                               retry=self.trace).items()
                 if f}
        for k, f in sorted(fails.items()):
            log(f"check failed on op {k}: {'; '.join(f)}")
        return len(fails)

    def run_untraced(self, inputs, seconds: float) -> dict:
        setup = self.start()
        warm = [self.op(inputs, 0)]           # compiles and JIT-warms
        log(f"set-up {setup:.2f} s, warm-up {warm}")
        timed, steal = [], []
        t0 = time.perf_counter()
        while (len(timed) < MIN_OPS
               or time.perf_counter() - t0 < seconds):
            s0 = steal_s()
            timed.append(self.op(inputs, len(warm) + len(timed)))
            steal.append(steal_s() - s0)
        log(f"ops (wall, cpu) {timed}, host steal {steal}")
        t1 = time.perf_counter()
        n = len(warm) + len(timed)
        failed = self.check(inputs, list(range(n)))
        log(f"checks {time.perf_counter() - t1:.2f} s")
        wall = [w for w, _ in timed]
        cpu = [c for _, c in timed]
        return {
            "attempted": n,
            "failed": failed,
            "metrics": {
                "setup_s": setup,
                "op_cpu_s": statistics.median(cpu),
            },
            "samples": {"setup_s": setup, "warm_s": warm, "op_wall_s": wall,
                        "op_cpu_s": cpu, "op_steal_s": steal,
                        "items_per_op": self.wl.items_per_op(inputs)},
        }

    def run_traced(self, inputs) -> dict:
        from perfbench.replay import replay
        from perfbench.trace import Tracer, spark_counters

        m = dict.fromkeys(PER_LAYER, 0.0)
        m["session.cold_start_s"] = self.start()
        # warm up on one whole pass, then time one untraced pass and
        # one traced pass
        p = self.wl.pass_ops(inputs)
        for k in range(p):
            self.op(inputs, k)
        k_untraced, k_traced = p, 2 * p
        run_id = f"{self.wl.name}-{self.seed}-{os.getpid()}"
        sc = self.spark.sparkContext
        # the untraced pass's jobs in a group of their own: the Spark
        # counters come from this pass, without the traced barriers
        sc.setJobGroup(f"{run_id}-untraced/pass", "untraced pass")
        untraced = sum(self.wl.op(self.spark, inputs, self.root, k)
                       for k in range(k_untraced, k_traced))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        m["leaked_rdds"], m["leaked_mb"] = self.persisted()
        self.release()
        m["trace.untraced_s"] = untraced

        tr = Tracer(run_id, self.spark)
        m.update(self.wl.traced(self.spark, inputs, self.root, k_traced, tr))
        m["session.peak_rss_mb"] = peak_rss_mb()
        self.release()
        root = tr.spans[0]
        wall = root["end"] - root["start"]
        m["trace.wall_s"] = wall
        m["trace.overhead_s"] = wall - untraced
        m["trace.unattributed_s"] = tr.self_times()[root["name"]]
        for name, metric in SPAN_METRICS.items():
            m[metric] = tr.seconds(name)
        if tr.seconds("operators.sinks"):
            from perfbench.workloads import _dir_size

            size, files = _dir_size(os.path.join(self.root, str(k_traced)))
            m["operators.sinks.mb_written"] = size / 2**20
            m["operators.sinks.files"] = files

        ks = list(range(3 * p))
        failed = self.check(inputs, ks)
        app = self.spark.sparkContext.applicationId
        self.stop_session()                 # flushes the event log
        log_path = os.path.join(self.dir, "events", app)
        counters = spark_counters(log_path, run_id + "-untraced/", CORES,
                                  untraced)
        for k in ("jobs", "stages", "busy_frac", "executor_run_s",
                  "shuffle_write_mb", "spill_mb", "gc_s"):
            m[f"spark.{k}"] = counters[k]
        if self.wl.name == "admit":
            m["plans.incremental.jobs_per_batch"] = counters["jobs"] / p
        jobs_by_span = spark_counters(log_path, run_id + "/", CORES,
                                      wall)["jobs_by_group"]

        if self.wl.name == "kg_pages":
            import pyarrow.parquet as pq

            texts = pq.read_table(inputs.paths["pages"], columns=["text"]) \
                .slice(0, REPLAY_PAGES)["text"].to_pylist()
            # the token decoder is quadratic in page length: long pages
            # would make this replay the slowest step of the run
            tok = replay([t for t in texts if t.count(" ") < TOKEN_WORDS],
                         True)
            m.update({k: v for k, v in tok.items() if ".token." in k})
            m.update(replay(texts, False))
            # same JVM, so its JIT is as warm as for the local[4] pass
            self.trace = False
            self.start(cores=1, cold=False)
            one = self.wl.op(self.spark, inputs, self.root, k_traced + 1)
            m["scaling.speedup_4v1"] = one / untraced

        os.makedirs(os.path.join(OUT, "events"), exist_ok=True)
        shutil.copy(log_path, os.path.join(OUT, "events", run_id + ".json"))
        tr.write(os.path.join(OUT, "spans", run_id + ".jsonl"))
        return {"attempted": len(ks), "failed": failed, "metrics": m,
                "jobs_by_span": jobs_by_span}


def steal_s() -> float:
    """CPU seconds stolen from this machine by its host so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _proc_tree() -> dict:
    """pid → the /proc stat fields after the command name, for this
    process and all its descendants (the gateway JVM and the Python
    workers)."""
    stats: dict = {}
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(pid)] = fields
        children.setdefault(int(fields[1]), []).append(int(pid))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    reaped children included."""
    ticks = sum(sum(int(x) for x in f[11:15])
                for f in _proc_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak RSS of this process and all its descendants."""
    total = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def environment(spark_version: str, inputs, seed: int) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": CORES,
        "python": platform.python_version(),
        "spark": spark_version,
        "java": next((line for line in java if " version " in line), None),
        "commit": commit,
        "seed": seed,
        "input_digest": inputs.digest,
        "input_sizes": inputs.sizes,
    }


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    import pyspark

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    load0 = os.getloadavg()
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        inputs = bench.wl.generate(args.seed, os.path.join(bench.dir, "in"))
        log(f"{args.workload}: input {inputs.sizes} digest "
            f"{inputs.digest[:16]}")
        if args.trace:
            res = bench.run_traced(inputs)
        else:
            res = bench.run_untraced(inputs, args.seconds)
    finally:
        bench.shutdown()
        shutil.rmtree(bench.dir, ignore_errors=True)
        log("stopped")
    record = {
        "workload": args.workload, "trace": args.trace,
        "env": {**environment(pyspark.__version__, inputs, args.seed),
                "loadavg_start": load0, "loadavg_end": os.getloadavg()},
        **res,
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"env": record["env"], "samples": res.get("samples"),
                      "jobs_by_span": res.get("jobs_by_span")}))
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v),
                        "unit": PER_LAYER[k][0] if args.trace
                        else END_TO_END[k]}
                    for k, v in res["metrics"].items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload in a child process; a table of the metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    status = 0
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: FAILED (exit {proc.returncode})")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']}")
        for k, v in res["metrics"].items():
            print(f"  {name}.{k} = {v['value']:.6g} {v['unit']}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gliner_spark", "__init__.py")):
        log(f"the gliner_spark package is not in {ROOT}")
        return 2
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
