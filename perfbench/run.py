"""The repository benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; it builds nothing, reads only the
checkout and writes only under ``.perfbench_run/`` there. With ``--trace 0`` the last line
of stdout carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separate traced run. The exit code is 0 only when
every op's output matched the DuckDB oracle. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_build", "curate_funnel")
MAX_UNATTRIBUTED = 0.05  # share of the traced op's wall outside every layer span
# per-layer fields read from the event-log roll-up of the layer's job group
SPARK_FIELDS = ("jobs", "task_s", "python_s", "shuffle_mb", "spill_mb", "skew")


def per_layer_spec() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: session, inputs, ops, checks, metrics."""

    def __init__(self, args, sizes: dict, run_dir: str) -> None:
        import kg
        import funnel

        self.args = args
        self.cores = sizes["cores"]
        self.run_dir = run_dir
        self.kg = args.workload == "kg_build"
        self.mod = kg if self.kg else funnel
        self.failures: list[str] = []
        self.failed_ops: set = set()
        self.tracer = None
        self.counts: dict = {}
        self.spark = None
        self._expected = None

    def start_session(self) -> None:
        from graphiti_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # hsperfdata would go to /tmp regardless of java.io.tmpdir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               extra_conf=conf)
        self.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def prepare(self) -> None:
        work = os.path.join(self.run_dir, "input")
        if self.kg:
            self.inp = self.mod.prepare(self.args.seed, work)
        else:
            self.inp = self.mod.prepare(self.args.seed, work, self.cores)

    def untraced_op(self, k: int) -> tuple[float, int]:
        """One op; returns (wall, items) and records check failures."""
        from checks import parquet_rows

        self.group(f"op{k}")
        if self.kg:
            out_dir = os.path.join(self.run_dir, f"graph{k}")
            t0 = time.monotonic()
            self.mod.run_op(self.spark, self.inp, out_dir)
            wall = time.monotonic() - t0
            self.spark.catalog.clearCache()
            self.check_graph(out_dir, f"op{k}")
            triples = parquet_rows(os.path.join(out_dir, "edges"))
            shutil.rmtree(out_dir, ignore_errors=True)
            return wall, triples
        t0 = time.monotonic()
        rows = self.mod.run_op(self.spark, self.inp)
        wall = time.monotonic() - t0
        self.check_funnel(rows, f"op{k}")
        return wall, self.inp["n_docs"]

    def expected(self) -> dict:
        """The oracle's values for this run's input, computed once."""
        if self._expected is None:
            self._expected = self.mod.expected(self.inp)
        return self._expected

    def record(self, op, problems: list[str]) -> None:
        if problems:
            self.failed_ops.add(op)
            self.failures += [f"{op}: {p}" for p in problems]

    def check_graph(self, graph_dir: str, op) -> None:
        from checks import compare

        got = self.mod.observed(graph_dir)
        self.record(op, [p for name, want in self.expected().items()
                         for p in compare(name, got[name], want)])

    def check_funnel(self, rows: list, op) -> None:
        from checks import compare, rows_digest

        problems = compare("survivors", rows_digest(rows),
                           self.expected()["survivors"])
        problems += self.mod.check_planted({d for d, _ in rows},
                                           self.inp["planted"])
        self.record(op, problems)

    @contextmanager
    def layer(self, name: str):
        self.group(name)
        try:
            with self.tracer.span(name, self.trace_id):
                yield
        finally:
            self.group("unattributed")

    def count(self, name: str, value) -> None:
        self.counts[name] = value

    def traced_op(self) -> tuple[float, str | None]:
        from spans import Tracer

        self.tracer = Tracer()
        self.trace_id = f"{self.args.workload}-{self.args.seed}-traced"
        graph_dir = os.path.join(self.run_dir, "graph_traced") if self.kg else None
        with self.tracer.span("op", self.trace_id) as op:
            if self.kg:
                self.mod.run_traced(self.spark, self.inp, graph_dir,
                                    self.layer, self.count)
            else:
                rows = self.mod.run_traced(self.spark, self.inp,
                                           self.layer, self.count)
        self.group("trace.counts")
        for name, value in list(self.counts.items()):
            if callable(value):
                self.counts[name] = value()
        self.spark.catalog.clearCache()
        if self.kg:
            self.check_graph(graph_dir, "traced op")
        else:
            self.check_funnel(rows, "traced op")
        layers_s = sum(s.wall_s for s in self.tracer.spans if s.parent == 0)
        self.unattributed = 1 - layers_s / op.wall_s
        if self.unattributed > MAX_UNATTRIBUTED:
            self.record("traced op", [
                f"layers cover {layers_s:.3f} s of {op.wall_s:.3f} s"])
        return op.wall_s, graph_dir

    def run(self) -> dict:
        from checks import mirror_drift
        from host import cpu_calib_s, first_touch_mb_s, jvm_peak_rss_mb, load_avg_1m

        load = load_avg_1m()
        if self.args.trace:
            for problem in mirror_drift(self.mod.MIRRORS):
                fail(f"traced op is stale: {problem}", 1)
        self.start_session()
        self.prepare()
        setup_s = time.monotonic() - T_START
        if not self.args.trace:
            walls, items = [], []
            while not walls or sum(walls) < self.args.seconds:
                w, n = self.untraced_op(len(walls))
                walls.append(w)
                items.append(n)
            op_s = statistics.median(walls)
            metrics = {
                "op_s": (op_s, "s"),
                "items_per_s": (statistics.median(items) / op_s, "1/s"),
                "setup_s": (setup_s, "s"),
            }
            attempted = len(walls)
        else:
            # the traced op runs cold, like every timed op; its wall over
            # the untraced runs' op_s is the tracing overhead
            traced_s, graph_dir = self.traced_op()
            probe = None
            if self.kg:
                probe = self.mod.search_probe(self.spark, graph_dir,
                                              self.args.seed, self.layer)
                for name, (_, ids) in probe.items():
                    self.record(f"search.{name}", [] if ids else ["no results"])
                written = self.written(graph_dir)
            rss = jvm_peak_rss_mb(self.sc._gateway.proc.pid)
            attempted = 1 + len(probe or ())
        host = {
            "host.first_touch_mb_s": first_touch_mb_s(),
            "host.cpu_calib_s": cpu_calib_s(),
            "host.load_avg_1m": load,
        }
        self.stop_session()
        if self.args.trace:
            metrics = self.layer_metrics(traced_s, probe,
                                         written if self.kg else None, rss, host)
        print("# " + " ".join(f"{k}={v:.4g}" for k, v in host.items())
              + f" cores={self.cores} setup_s={setup_s:.4g}")
        return {
            "correct": not self.failed_ops,
            "attempted": attempted,
            "failed": len(self.failed_ops),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def written(self, graph_dir: str) -> dict:
        from checks import parquet_rows, tree_size

        files, size = tree_size(graph_dir)
        rows = sum(parquet_rows(os.path.join(graph_dir, t))
                   for t in os.listdir(graph_dir))
        return {
            "materialize.written_mb": size / 2**20,
            "materialize.files_written": files,
            "materialize.rows_written_per_page": rows / self.inp["n_docs"],
        }

    def layer_metrics(self, traced_s, probe, written, rss, host) -> dict:
        """Every per-layer metric of BENCHMARK.json. A layer the workload
        never calls reports 0 in every field; a metric of a called layer
        that nothing computes is a benchmark bug."""
        import glob

        from eventlog import GroupStats, rollup
        from kg import search_metrics

        (log,) = glob.glob(os.path.join(self.event_dir, "*"))
        groups = rollup(log)
        walls: dict[str, float] = {}
        for s in self.tracer.spans:
            if s.name != "op":
                layer = s.name.split(".")[0]
                walls[layer] = walls.get(layer, 0.0) + s.wall_s
        m: dict[str, float] = {}
        for layer, wall in walls.items():
            if layer == "search":
                continue
            g = groups.get(layer, GroupStats())
            m[f"{layer}.wall_s"] = wall
            m[f"{layer}.idle_core_frac"] = g.idle_core_frac(wall, self.cores)
            for f in SPARK_FIELDS:
                m[f"{layer}.{f}"] = getattr(g, f)
        m.update(self.counts)
        for kind in ("resolve", "minhash"):
            if kind in walls:
                cand = m[f"{kind}.candidate_pairs"]
                m[f"{kind}.accept_ratio"] = (
                    m[f"{kind}.accepted_pairs"] / cand if cand else 0.0
                )
        m.update(written or {})
        m.update(search_metrics(probe, groups) if probe else {})
        m["session.jvm_peak_rss_mb"] = rss
        m["session.gc_s"] = sum(g.gc_ms for g in groups.values()) / 1000
        m["trace.op_s"] = traced_s
        m["trace.unattributed_frac"] = self.unattributed
        m.update(host)
        out = {}
        for name, unit in per_layer_spec():
            layer = name.split(".")[0]
            if name not in m and layer in walls:
                raise KeyError(f"per-layer metric {name} is not computed")
            out[name] = (m.get(name, 0), unit)
        self.save_trace(groups, m)
        return out

    def save_trace(self, groups: dict, m: dict) -> None:
        """Spans and the per-group roll-up outlive the run directory. The
        layers' job counts are kept per engine source digest; a traced run
        whose counts differ from an earlier one of the same seed and
        engine sources fails."""
        from checks import tree_sha

        out = os.path.join(ROOT, ".perfbench_run", "traces",
                           f"{self.args.workload}-seed{self.args.seed}")
        os.makedirs(out, exist_ok=True)
        self.tracer.write(os.path.join(out, "spans.jsonl"))
        with open(os.path.join(out, "layers.json"), "w") as fh:
            json.dump({
                "groups": {str(k): {"jobs": g.jobs, "tasks": g.tasks,
                                    "task_s": g.task_s, "python_s": g.python_s,
                                    "cpu_s": g.cpu_ns / 1e9, "gc_s": g.gc_ms / 1000,
                                    "shuffle_mb": g.shuffle_mb}
                           for k, g in groups.items()},
                "metrics": m,
            }, fh, indent=1, sort_keys=True)
        jobs = {k: v for k, v in sorted(m.items())
                if k.endswith((".jobs", ".jobs_per_query"))}
        path = os.path.join(
            out, f"jobs-{tree_sha(os.path.join(ROOT, 'graphiti_spark'))[:16]}.json"
        )
        if os.path.exists(path):
            with open(path) as fh:
                before = json.load(fh)
            diff = {k: (before.get(k), v) for k, v in jobs.items()
                    if before.get(k) != v}
            if diff:
                self.record("traced op", [
                    f"job counts differ from {path} (earlier, now): {diff}"])
        else:
            with open(path, "w") as fh:
                json.dump(jobs, fh, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import graphiti_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        fail(f"cannot import the engine from {ROOT}: {e}", 3)
    from host import ProtocolError, size_session

    try:
        sizes = size_session(os.environ)
    except ProtocolError as e:
        fail(str(e), 2)
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    run = Run(args, sizes, run_dir)
    try:
        result = run.run()
    finally:
        run.stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in run.failures:
        print(f"perfbench: output mismatch: {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
