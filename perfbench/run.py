"""Closed-loop benchmark of the graphdbetl_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload graph_etl --seed 1 --seconds 15 --trace 0

One client runs one operation at a time on a session with a fixed
task-slot count. A run generates its inputs from the seed (cached under
``.perfbench/data``), starts the session, runs one warm-up round of the
workload's own operation mix that also checks every output against
DuckDB, then times a fixed number of rounds, topping up with more
rounds until ``--seconds`` have been measured.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every other round is traced through Spark's status
stores and the line carries the per-layer metrics. Diagnostics (host
noise, versions, sample counts, check results) go to stderr and to
``.perfbench/last-<workload>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import procstat  # noqa: E402
from stats import median, tail_percentile  # noqa: E402
from statusstore import StatusReader, round_layers  # noqa: E402
from workloads import (  # noqa: E402
    GRAPH_OPS, GRAPH_ORACLES, GRAPH_READS, GRAPH_REGISTRY_ORACLES,
    PLAN_QUERIES, ROUNDS, WORKLOADS,
)

SLOTS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SPARK_LAYERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_skew",
    "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.shuffle_write_s", "spark.spill_mb", "spark.peak_exec_mb",
    "sources.read_mb", "python.init_s", "python.run_s", "python.sent_mb",
    "python.returned_mb",
)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_env(tmp: str) -> None:
    """Keep every file the JVM and the Python workers write inside the
    checkout, and give the workers the engine package."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData -XX:TieredStopAtLevel=1" pyspark-shell'
    )


def _compare(con, actual: str, expected_sql: str) -> str | None:
    import check

    try:
        return check.compare(con, actual, expected_sql)
    except Exception as exc:  # e.g. an output the op never wrote
        return f"{type(exc).__name__}: {str(exc)[:300]}"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Bench:
    def __init__(self, args: argparse.Namespace, data_dir: str, rows: dict[str, int]):
        from graphdbetl_spark.plans.registry import all_oracles, all_queries
        from graphdbetl_spark.session import get_spark

        self.w = WORKLOADS[args.workload]
        self.data_dir, self.rows = data_dir, rows
        self.out_dir = os.path.join(WORK, "out", args.workload)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=SLOTS)
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.queries, self.oracles = all_queries(), all_oracles()
        self.reader = StatusReader(self.spark)
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}  # op -> first failure
        self.walls: dict[str, list[float]] = {op: [] for op in self.w.ops}
        self.records: list[dict] = []  # traced rounds: op -> status record

    # -- operations

    def execute(self, op: str, state: dict, sink: str):
        if op in GRAPH_OPS:
            from graphdbetl_spark.etl.builder import GraphDBBuilder
            from graphdbetl_spark.etl.neo4j_export import export_for_neo4j_admin
            from graphdbetl_spark.plans.graph_etl_q import fixture_config

            if op == "build":
                state["builder"] = GraphDBBuilder(self.spark, fixture_config(self.data_dir)).build()
            elif op == "write":
                state["builder"].write(os.path.join(self.out_dir, "parquet"))
            else:
                export_for_neo4j_admin(state["builder"], os.path.join(self.out_dir, "neo4j"))
            return None
        df = self.queries[op](self.spark, self.data_dir)
        if sink == "arrow":
            return df.toArrow()
        df.write.format("noop").mode("overwrite").save()
        return None

    def run_round(self, idx: int, sink: str = "noop", traced: bool = False, timed: bool = True):
        """One pass over the workload's ops; returns (wall, outputs)."""
        state: dict = {}
        outputs: dict = {}
        recs: dict = {}
        wall = 0.0
        for op in self.w.ops:
            self.spark.catalog.clearCache()
            tag = f"perfbench-{idx}-{op}"
            if traced:
                self.reader.begin(tag)
            t_epoch, t0 = time.time(), time.perf_counter()
            try:
                outputs[op] = self.execute(op, state, sink)
            except Exception:  # counted as a failure, never swallowed
                self.errors.setdefault(op, traceback.format_exc()[-1500:])
            dt = time.perf_counter() - t0
            wall += dt
            if traced:
                self.reader.end()
                recs[op] = self.reader.record(tag, t_epoch, t_epoch + dt)
            if timed:
                self.attempted += 1
                self.walls[op].append(dt)
        if traced:
            self.records.append(recs)
        return wall, outputs

    # -- output checks

    def check(self, outputs: dict) -> dict[str, str | None]:
        """Compare every op's output with DuckDB; op -> None or a reason."""
        import check

        con = check.connect(self.data_dir, self.w.tables, os.path.join(WORK, "tmp"))
        result: dict[str, str | None] = {}
        try:
            if self.w.name == "graph_etl":
                result.update(self._check_graph(con))
            for op, table in outputs.items():
                if op in GRAPH_OPS or table is None:
                    continue
                con.register("spark_out", table)
                result[op] = _compare(con, "spark_out", self.oracles[op])
                con.unregister("spark_out")
        finally:
            con.close()
        return result

    def _check_graph(self, con) -> dict[str, str | None]:
        res: dict[str, str | None] = {}
        for rel, want in self._graph_expected().items():
            pq_dir = os.path.join(self.out_dir, "parquet", rel)
            res[f"write:{rel}"] = _compare(con, f"read_parquet('{pq_dir}/*.parquet')", want)
            label = rel.split("/")[1]
            if rel.startswith("nodes/"):
                ids = f"""SELECT _id AS "nodeId:ID", '{label}' AS ":LABEL" FROM ({want})"""
                cols = '"nodeId:ID", ":LABEL"'
            else:
                ids = f"""SELECT _start_id AS ":START_ID", _end_id AS ":END_ID",
                          '{label}' AS ":TYPE" FROM ({want})"""
                cols = '":START_ID", ":END_ID", ":TYPE"'
            csv_dir = os.path.join(self.out_dir, "neo4j", rel)
            got = f"(SELECT {cols} FROM read_csv('{csv_dir}/*.csv', header=true, all_varchar=true))"
            res[f"neo4j_export:{rel}"] = _compare(con, got, ids)
        return res

    def _graph_expected(self) -> dict[str, str]:
        out = dict(GRAPH_ORACLES)
        out.update({rel: self.oracles[q] for rel, q in GRAPH_REGISTRY_ORACLES.items()})
        return out

    # -- inputs

    def rows_per_round(self) -> int:
        total = 0
        for op in self.w.ops:
            if op in GRAPH_OPS:
                total += sum(self.rows[t] for t in GRAPH_READS[op])
            else:
                sql = self.oracles.get(op, "")
                total += sum(self.rows[t] for t in self.w.tables if re.search(rf"\b{t}\b", sql))
        return total

    def scan_inputs_s(self) -> float:
        """Median of three noop scans of every input through load_table."""
        from graphdbetl_spark.sources.catalog import load_table

        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            for t in self.w.tables:
                load_table(self.spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return median(walls)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                pass
        procstat.stop_tree()


def main() -> int:
    args = parse_args()
    try:
        import graphdbetl_spark
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(graphdbetl_spark.__file__))) != ROOT:
        print(f"perfbench: the engine is not in {ROOT}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    data_dir, gen_s, rows = gen.generate(os.path.join(WORK, "data"), args.seed, w.scale, w.tables)
    prepare_env(os.path.join(WORK, "tmp"))
    shutil.rmtree(os.path.join(WORK, "out", w.name), ignore_errors=True)

    try:
        b = Bench(args, data_dir, rows)
    except BaseException:
        procstat.stop_tree()
        raise
    try:
        return measure(args, b, gen_s)
    finally:
        if b.spark is not None:
            b.stop()


def measure(args: argparse.Namespace, b: Bench, gen_s: float) -> int:
    """Set-up, warm-up with output checks, the timed pass; prints the
    result line."""
    import pyspark
    from graphdbetl_spark.sources.catalog import load_table

    w = b.w
    t_reg = time.perf_counter()
    for t in w.tables:
        load_table(b.spark, b.data_dir, t)
    register_s = time.perf_counter() - t_reg

    # Warm-up: one round of the workload's own mix, checking outputs.
    t_warm = time.perf_counter()
    _, outputs = b.run_round(-1, sink="arrow", timed=False)
    t_check = time.perf_counter()
    checks = b.check(outputs)
    check_s = time.perf_counter() - t_check
    del outputs
    warmup_s = time.perf_counter() - t_warm - check_s
    setup_s = time.perf_counter() - T_START - gen_s - check_s

    # Timed pass: a fixed number of rounds, topped up to --seconds.
    cpu0, host0 = procstat.tree_cpu_s(), procstat.host_cpu()
    rss = procstat.RssSampler().start()
    t_pass = time.perf_counter()
    round_walls, traced_walls, untraced_walls = [], [], []
    i = 0
    while i < ROUNDS or time.perf_counter() - t_pass < args.seconds:
        traced = bool(args.trace) and i % 2 == 0
        wall = b.run_round(i, traced=traced)[0]
        round_walls.append(wall)
        (traced_walls if traced else untraced_walls).append(wall)
        i += 1
        if i == ROUNDS:
            pass_s = time.perf_counter() - t_pass
            cpu_s = procstat.tree_cpu_s() - cpu0
            host1 = procstat.host_cpu()
    measured_s = time.perf_counter() - t_pass
    rss_mb = rss.stop()

    # An op that raised anywhere or whose output differs fails on
    # every timed execution.
    failed_checks = {op: why for op, why in checks.items() if why}
    bad_ops = set(b.errors) | {key.split(":")[0] for key in failed_checks}
    b.failed = sum(len(b.walls[op]) for op in bad_ops)
    rounds_rows = b.rows_per_round() * len(round_walls)

    if args.trace:
        metrics = trace_metrics(b, traced_walls, untraced_walls, warmup_s)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "round_p50_s": (median(round_walls), "s"),
            "rows_per_s": (rounds_rows / measured_s, "1/s"),
            "cpu_s": (cpu_s, "s"),
            "rss_p50_mb": (median(rss_mb), "MB"),
            "ok_ratio": ((b.attempted - b.failed) / max(1, b.attempted), "ratio"),
        }
    import pyspark

    diag = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "scale": w.scale, "input_rows": b.rows, "gen_s": round(gen_s, 3),
        "session_start_s": round(b.start_s, 3), "register_s": round(register_s, 3),
        "round_walls": [round(x, 3) for x in round_walls],
        "op_walls": {op: [round(x, 3) for x in v] for op, v in b.walls.items()},
        "round_samples": len(round_walls),
        "round_tail_percentile": tail_percentile(len(round_walls)),
        "rss_peak_mb": round(max(rss_mb), 1), "rss_samples": len(rss_mb),
        "check_s": round(check_s, 3), "checks_failed": failed_checks,
        "errors": b.errors, "task_slots": SLOTS, "nproc": os.cpu_count(),
        "host": procstat.host_noise(host0, host1, cpu_s),
        "spark": pyspark.__version__, "python": platform.python_version(),
    }
    b.stop()
    b.spark = None
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"last-{w.name}.json"), "w") as fh:
        json.dump({"diag": diag, "trace": b.records}, fh)
    print("# diag " + json.dumps(diag), file=sys.stderr)
    print(json.dumps({
        "correct": not bad_ops,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def trace_metrics(b: Bench, traced_walls, untraced_walls, warmup_s: float) -> dict:
    w = b.w
    layers = [round_layers(list(rec.values())) for rec in b.records]
    out = {
        "session.start_s": (b.start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "sources.scan_s": (b.scan_inputs_s(), "s"),
    }
    for key in SPARK_LAYERS:
        unit = "MB" if key.endswith("_mb") else "s" if key.endswith("_s") else "count"
        if key == "spark.task_skew":
            unit = "ratio"
        out[key] = (median([lay.get(key, 0.0) for lay in layers]), unit)
    graph = w.name == "graph_etl"
    written = dir_bytes(b.out_dir) if graph else 0
    read = sum(os.path.getsize(os.path.join(b.data_dir, f"{t}.parquet")) for t in w.tables)
    for op, key in (("build", "etl.build_s"), ("write", "etl.write_s"), ("neo4j_export", "etl.neo4j_export_s")):
        out[key] = (median(b.walls[op]) if graph else 0.0, "s")
    out["etl.written_mb"] = (written / 1e6, "MB")
    out["etl.write_amp"] = (written / read if graph else 0.0, "ratio")
    for q in PLAN_QUERIES:
        out[f"plans.{q}_s"] = (median(b.walls.get(q, [])), "s")
    overhead = (median(traced_walls) - median(untraced_walls)) * ROUNDS
    out["trace.overhead_s"] = (overhead, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
