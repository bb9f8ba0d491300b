"""KG-build benchmark for aser_spark.

    python3 perfbench/run.py --workload seed_zipf --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout and imports that checkout's
``aser_spark`` on the driver and on every Python worker (checked by a
content hash).  One fresh process per run, Spark on ``local[nproc]``, one
build at a time, the pipeline called with its defaults.

Set-up: session start, warm-up corpus, and one warm-up build on a
disjoint seed.  Each timed build then runs on a fresh corpus:
``extract_graph_instances(pre_grouped=True)`` persisted, then
``build_knowledge_graph`` and ``build_core_kg`` with all five outputs
materialised.

* ``--trace 0``: for ``--seconds`` of timed work, time builds
  (``turns_per_s``, ``cpu_ms_per_turn``) and check their outputs.
* ``--trace 1``: one untraced build, then the same build code with each
  stage timed from outside in a span, then ``runner.build_kg`` with a
  workdir, its calls to the checkpoint and graph modules in spans, and a
  second ``build_kg`` on the finished workdir (``resume_s``, checked to
  reproduce the same graph); plus a single-process traced kernel pass
  (``perfbench/kernel_pass.py``) with a cold memo and an identity
  ``mapInArrow`` boundary probe.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full record (inputs, package hash, Spark sizing, phase times,
per-operation checks), also written with the spans under
``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import checks  # noqa: E402
from perfbench.procfs import (RssSampler, cpu_seconds, descendants,  # noqa: E402
                              wait_gone)
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import (SIZES, WORKLOADS, input_properties,  # noqa: E402
                                 make_corpus, package_hash, sample_convs)

# traced span -> per-layer metric holding its self time
SPAN_METRICS = {
    "pipeline.extract": "pipeline.extract.s",
    "pipeline.aggregate.nodes": "pipeline.aggregate.nodes_s",
    "pipeline.aggregate.edges": "pipeline.aggregate.edges_s",
    "pipeline.aggregate.lineage": "pipeline.aggregate.lineage_s",
    "pipeline.graph.core": "pipeline.graph.core_s",
    "pipeline.graph.write": "pipeline.graph.write_s",
    "pipeline.checkpoint.extract_commit": "pipeline.checkpoint.extract_commit_s",
    "pipeline.runner.build_kg": "pipeline.runner.self_s",
}
# runner-module names build_kg calls -> span; patched only around build_kg
RUNNER_SPANS = {
    "aser_spark.pipeline.runner:run_extraction_checkpointed":
        "pipeline.checkpoint.extract_commit",
    "aser_spark.pipeline.runner:build_knowledge_graph":
        "pipeline.aggregate.plan",
    "aser_spark.pipeline.runner:build_core_kg": "pipeline.graph.core_plan",
    "aser_spark.pipeline.runner:write_graph_tables": "pipeline.graph.write",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="corpus sizes; 'tiny' is for the smoke test")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb every build's node table before the checks "
                        "(the smoke test's proof that the checks can fail)")
    return p.parse_args(argv)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def python_probe() -> float:
    """Fixed pure-Python work; explains host noise, moves nothing."""
    t = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s = (s + i * 2654435761) % 1000003
    return time.perf_counter() - t


def _worker_package(it):
    """Runs on a Python worker: where aser_spark came from, and its hash."""
    import aser_spark

    pkg = os.path.dirname(os.path.abspath(aser_spark.__file__))
    for _ in it:
        pass
    yield pkg, package_hash(pkg)


def _no_span(_name):
    return contextlib.nullcontext()


def _cpu_diff(later: dict, earlier: dict) -> dict:
    return {k: later[k] - earlier[k] for k in later}


def _identity_arrow(batches):
    yield from batches


def _files(path: Path) -> tuple:
    """(data files, bytes) under a table directory."""
    n = size = 0
    for p in path.rglob("part-*"):
        n += 1
        size += p.stat().st_size
    return n, size


class Bench:
    def __init__(self, args, run_dir: Path, t_start: float):
        self.args = args
        self.run_dir = run_dir
        self.t_start = t_start
        self.mode = WORKLOADS[args.workload]
        self.sizes = SIZES[args.size]
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.sampler = None      # trace runs only
        self.spark = None
        self.kernel_spans = []
        self.ops = []            # {"op", "index", "failures", ...}
        self.record = {"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "size": args.size,
                       "cpus": self.cpus,
                       "driver_memory": os.environ["SPARK_DRIVER_MEMORY"]}

    # ---------------------------------------------------------------- setup
    def start_session(self) -> None:
        from aser_spark.config import get_spark

        self.spark = get_spark(app="perfbench", cpus=self.cpus, extra={
            "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")

    def verify_package(self) -> None:
        """The driver and every worker import this checkout's aser_spark."""
        import aser_spark

        want_dir = ROOT / "aser_spark"
        got_dir = Path(aser_spark.__file__).resolve().parent
        if got_dir != want_dir:
            raise RuntimeError(f"driver imported {got_dir}, not {want_dir}")
        want = package_hash(want_dir)
        n = self.cpus * 2
        seen = set(self.spark.sparkContext.parallelize(range(n), n)
                   .mapPartitions(_worker_package).collect())
        bad = [s for s in seen if s != (str(want_dir), want)]
        if bad:
            raise RuntimeError(f"workers imported other code: {bad}")
        self.record["package_sha256"] = want

    def corpus(self, index: int):
        return make_corpus(self.spark, self.args.workload, self.args.seed,
                           index, self.args.size)

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.start_session()
        self.verify_package()
        t1 = time.perf_counter()
        warm = self.corpus(0)
        t2 = time.perf_counter()
        self.build(warm)
        self.spark.catalog.clearCache()
        t3 = time.perf_counter()
        self.record["setup"] = {
            "import_s": t0 - self.t_start, "session_s": t1 - t0,
            "warmup_corpus_s": t2 - t1, "warmup_build_s": t3 - t2,
            "warmup_turns": warm.n_turns}
        self.setup_s = t3 - self.t_start

    def jvm_probe(self) -> float:
        t = time.perf_counter()
        self.spark.range(0, 10_000_000, 1, self.cpus) \
            .selectExpr("sum(hash(id))").collect()
        return time.perf_counter() - t

    def probes(self, when: str) -> None:
        self.record.setdefault("probes", {})[when] = {
            "python_s": python_probe(), "jvm_s": self.jvm_probe()}

    # ---------------------------------------------------------------- builds
    def build(self, corpus, span=_no_span) -> tuple:
        """The end-to-end build: (outputs, stats).  ``span(name)`` wraps
        each stage; the trace run passes the tracer's, every other build
        a no-op.  Each stage is materialised before the next, so a span
        holds only its own layer's work."""
        from aser_spark.pipeline import (build_core_kg, build_knowledge_graph,
                                         extract_graph_instances)

        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        with span("pipeline.extract"):
            inst = extract_graph_instances(corpus.df, pre_grouped=True,
                                           mode=self.mode).persist()
            inst.count()
        cpu1 = cpu_seconds()
        nodes, edges, lineage = build_knowledge_graph(inst)
        out, rows = {"instances": inst}, {}
        for name, df in (("nodes", nodes), ("edges", edges),
                         ("lineage", lineage)):
            with span(f"pipeline.aggregate.{name}"):
                out[name] = df.persist()
                rows[name] = out[name].count()
        with span("pipeline.graph.core"):
            out["core_nodes"], out["core_edges"] = build_core_kg(out["nodes"],
                                                                 out["edges"])
            rows["core"] = out["core_nodes"].count() + out["core_edges"].count()
        wall = time.perf_counter() - t0
        cpu2 = cpu_seconds()
        return out, {"wall_s": wall, "rows": rows,
                     "extract_cpu": _cpu_diff(cpu1, cpu0),
                     "cpu": _cpu_diff(cpu2, cpu0)}

    def workdir(self, corpus) -> str:
        return str(self.run_dir / f"kg-{corpus.index}")

    # ---------------------------------------------------------------- checks
    def check(self, op: str, out, corpus, workdir=None) -> dict:
        t0 = time.perf_counter()
        if self.args.corrupt:
            from pyspark.sql import functions as F

            out["nodes"] = out["nodes"].withColumn(
                "frequency", F.col("frequency") + F.lit(1.0))
        fails, stats = checks.graph_invariants(out)
        sample = sample_convs(corpus, self.sizes["check_sample"],
                              self.args.seed)
        fails += checks.sample_matches_kernel(out["instances"], sample,
                                              self.mode)
        if workdir is not None:
            more, stats["parts_committed"] = checks.parts_committed(
                self.spark, workdir, self.n_parts)
            fails += more
        self.ops.append({"op": op, "index": corpus.index, "failures": fails,
                         "stats": stats, "check_s": time.perf_counter() - t0})
        return stats

    @property
    def n_parts(self) -> int:
        import inspect

        from aser_spark.pipeline.runner import build_kg

        return inspect.signature(build_kg).parameters["n_parts"].default

    # ---------------------------------------------------------------- untraced
    def run_untraced(self) -> dict:
        tps, cpu_ms, builds = [], [], []
        spent, index = 0.0, 1
        while True:
            t0 = time.perf_counter()
            corpus = self.corpus(index)
            if index == 1:
                self.record["input"] = input_properties(corpus)
            corpus_s = time.perf_counter() - t0
            out, st = self.build(corpus)
            wall, cpu = st["wall_s"], st["cpu"]
            self.check("build", out, corpus)
            self.spark.catalog.clearCache()
            tps.append(corpus.n_turns / wall)
            cpu_ms.append(sum(cpu.values()) * 1e3 / corpus.n_turns)
            builds.append({"index": index, "turns": corpus.n_turns,
                           "corpus_s": corpus_s, "wall_s": wall,
                           "cpu_python_s": cpu["python"], "cpu_jvm_s": cpu["jvm"],
                           "iteration_s": time.perf_counter() - t0})
            spent += wall
            if spent >= self.args.seconds:
                break
            index += 1
        self.record["builds"] = builds
        return {
            "turns_per_s": (statistics.median(tps), "turns/s"),
            "cpu_ms_per_turn": (statistics.median(cpu_ms), "ms/turn"),
            "setup_s": (self.setup_s, "s"),
        }

    # ---------------------------------------------------------------- traced
    def kernel_pass(self, corpus) -> dict:
        convs = sample_convs(corpus, self.sizes["kernel_sample"],
                             self.args.seed)
        src = self.run_dir / "kernel_in.json"
        dst = self.run_dir / "kernel_out.json"
        src.write_text(json.dumps({"mode": self.mode, "convs": convs}))
        subprocess.run([sys.executable, "-m", "perfbench.kernel_pass",
                        str(src), str(dst)], cwd=ROOT, check=True,
                       timeout=120)
        res = json.loads(dst.read_text())
        self.kernel_spans = res.pop("spans")
        metrics = res.pop("metrics")
        self.record["kernel_pass"] = res
        return metrics

    def traced_build_kg(self, corpus) -> dict:
        """``runner.build_kg(workdir=...)`` as the program runs it, with
        its calls to the checkpoint and graph modules in spans; its lazy
        core outputs then counted.  Then ``build_kg`` again on the finished
        workdir (the resume), untraced."""
        from aser_spark.pipeline import runner

        tr, wd = self.tracer, self.workdir(corpus)
        with tr.span("build_kg"):
            with tr.patched(RUNNER_SPANS), tr.span("pipeline.runner.build_kg"):
                out = runner.build_kg(self.spark, corpus.df, workdir=wd,
                                      mode=self.mode)
            with tr.span("pipeline.runner.core"):
                out["core_nodes"].count()
                out["core_edges"].count()
        wdp = Path(wd)
        tables = [_files(wdp / t) for t in ("nodes", "edges", "lineage")]
        inst_files = _files(wdp / "instances")
        stats = self.check("build_kg", out, corpus, workdir=wd)
        m = {
            "pipeline.graph.files_written": sum(f[0] for f in tables),
            "pipeline.graph.bytes_written": sum(f[1] for f in tables),
            "pipeline.checkpoint.instance_files": inst_files[0],
            "pipeline.checkpoint.instance_bytes": inst_files[1],
            "pipeline.checkpoint.parts_committed": stats["parts_committed"],
        }

        t0 = time.perf_counter()
        again = runner.build_kg(self.spark, corpus.df, workdir=wd,
                                mode=self.mode)
        m["resume_s"] = time.perf_counter() - t0
        after = checks.digest(again["nodes"], again["edges"])
        fails, _ = checks.parts_committed(self.spark, wd, self.n_parts)
        if after != stats["digest"]:
            fails.append(f"resume digest {after} != build digest "
                         f"{stats['digest']}")
        self.ops.append({"op": "resume", "index": corpus.index,
                         "failures": fails})
        return m

    def arrow_roundtrip(self, corpus) -> float:
        """Identity mapInArrow over the kernel's three input columns: the
        Python<->JVM boundary cost with no kernel work."""
        narrow = corpus.df.select("conv_id", "turn_idx", "text")
        t0 = time.perf_counter()
        (narrow.mapInArrow(_identity_arrow, schema=narrow.schema)
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    def run_traced(self) -> dict:
        self.sampler = RssSampler()
        self.probes("before")
        c1 = self.corpus(1)
        self.record["input"] = input_properties(c1)
        m = self.kernel_pass(c1)
        self.sampler.reset()
        out, untraced = self.build(c1)
        m["peak_rss_mb"] = self.sampler.peaks_mb()[0]
        self.check("build", out, c1)
        self.spark.catalog.clearCache()

        tr = self.tracer
        c2 = self.corpus(2)
        self.sampler.reset()
        with tr.span("build"):
            out, traced = self.build(c2, tr.span)
        # Python workers run only in the extract stage
        m["pipeline.extract.worker_peak_rss_mb"] = self.sampler.peaks_mb()[1]
        m["pipeline.extract.python_cpu_s"] = traced["extract_cpu"]["python"]
        m["pipeline.extract.jvm_cpu_s"] = traced["extract_cpu"]["jvm"]
        rows = traced["rows"]
        m["pipeline.aggregate.node_rows"] = rows["nodes"]
        m["pipeline.aggregate.edge_rows"] = rows["edges"]
        m["pipeline.aggregate.lineage_rows"] = rows["lineage"]
        m["pipeline.graph.core_rows"] = rows["core"]
        kinds = dict(out["instances"].groupBy("kind").count().collect())
        m["pipeline.extract.node_rows"] = kinds.get("node", 0)
        m["pipeline.extract.edge_rows"] = kinds.get("edge", 0)
        self.check("traced_build", out, c2)
        m["pipeline.extract.arrow_roundtrip_s"] = self.arrow_roundtrip(c2)
        self.spark.catalog.clearCache()

        c3 = self.corpus(3)
        m.update(self.traced_build_kg(c3))
        self.spark.catalog.clearCache()
        shutil.rmtree(self.workdir(c3), ignore_errors=True)

        roots = ("build", "build_kg")
        layers = {k: v for k, v in tr.self_s.items() if k not in roots}
        for span, metric in SPAN_METRICS.items():
            m[metric] = layers[span]
        m["pipeline.runner.build_kg_s"] = tr.total_s["pipeline.runner.build_kg"]
        m["trace.wall_s"] = tr.total_s["build"]
        # the two builds run different corpora: compare wall time per turn
        m["trace.overhead_s"] = (tr.total_s["build"] - untraced["wall_s"]
                                 * c2.n_turns / c1.n_turns)
        m["trace.attributed_share"] = (sum(layers.values())
                                       / sum(tr.total_s[r] for r in roots))
        self.probes("after")
        pr = self.record["probes"]
        m["host.python_probe_s"] = (pr["before"]["python_s"]
                                    + pr["after"]["python_s"]) / 2
        m["host.jvm_probe_s"] = (pr["before"]["jvm_s"]
                                 + pr["after"]["jvm_s"]) / 2
        return {k: (v, None) for k, v in m.items()}

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        steal0 = steal_seconds()
        self.setup()
        if self.args.trace:
            metrics = self.run_traced()
        else:
            self.probes("before")
            metrics = self.run_untraced()
            self.probes("after")
        self.record["operations"] = self.ops
        self.record["elapsed_s"] = time.perf_counter() - self.t_start
        self.record["host_steal_s"] = steal_seconds() - steal0
        return metrics

    def close(self) -> None:
        """Stop Spark, the JVM and its workers, and wait for all of them."""
        pids = list(descendants())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
        if self.sampler is not None:
            self.sampler.close()
        self.record["killed_at_exit"] = wait_gone(pids)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / "aser_spark" / "__init__.py").is_file():
        print(f"perfbench: no aser_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    out_dir = ROOT / ".bench_build" / "perfbench"
    run_dir = out_dir / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    # the JVM and its workers inherit these: this checkout first on the
    # path, this interpreter, host-sized memory, scratch space in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = \
        f"{max(1024, min(4096, host_memory_mb() // 5))}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # every JVM (the spark-submit launcher too): temp files in the
    # checkout, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"

    bench = Bench(args, run_dir, t_start)
    try:
        metrics = bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != want:
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ want)} do not "
                           "match BENCHMARK.json")

    record = bench.record
    failed = sum(1 for op in bench.ops if op["failures"])
    record["failed_ops"] = failed / len(bench.ops)
    print(json.dumps(record))
    (out_dir / "results").mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out_dir / "results" / f"{tag}.json").write_text(json.dumps(
        dict(record, spans=bench.tracer.records(),
             kernel_spans=bench.kernel_spans)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u or units[k]}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
