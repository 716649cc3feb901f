"""The repository's benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 1 --trace 0

One driver thread calls the engine's public functions back to back on a
``local[N]`` session (N = the CPUs this process may use) for
``--seconds`` seconds, after the session has been set up and warmed.
Inputs are generated from ``--seed`` by ``gen.py`` (in a child process)
into ``.perfbench_work/`` under the checkout root, which also holds the
outputs, Spark's scratch space and the trace files; the run's own
sub-directory is removed at exit.

Times are reported net of hypervisor steal: each timed interval's wall
time ``w`` becomes ``w * (1 - s)``, with ``s`` the stolen share of the
machine's busy CPU time over that interval (``/proc/stat``); ``s`` is 0
on a host that steals nothing. The raw wall times and shares are printed
in the ``stamp:`` line.

Every operation's outputs are checked against the generator's ground
truth (ETL) or the DuckDB oracle through ``tests/oracle_compare.compare``
(queries), outside the timed region. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a run whose operations alternate between traced and
untraced (the difference is the tracing overhead). The exit code is 1
when an output check failed, 2 when the run could not start.

Workloads, metrics and the layer each metric belongs to are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

from spans import LAYERS, SPARK_COUNTERS, Tracer, runs_spark_jobs, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
RUN_TS = "2024-06-01 00:00:00"
SETUP_OP = -1  # trace op id of the set-up spans

# the iterative registry queries of operators.graph, operators.kmeans and
# operators.dedup: bound by job count and eager checkpoints
QUERY_OPS = ("graph_pagerank_parts", "graph_label_propagation", "graph_kcore_parts",
             "kmeans_train", "dedup_minhash_pairs")
# generated tables each query reads (input records of one pass)
QUERY_TABLES = {
    "graph_pagerank_parts": ("lineitem",),
    "graph_label_propagation": ("lineitem", "part"),
    "graph_kcore_parts": ("lineitem",),
    "kmeans_train": ("embeddings",),
    "dedup_minhash_pairs": ("documents",),
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _gen(kind: str, seed: int, sf: float, out: str) -> dict:
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind,
                    "--seed", str(seed), "--sf", repr(sf), "--out", out], check=True)
    with open(os.path.join(out, "truth.json"), encoding="utf-8") as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class EtlCli:
    """``pipeline.run`` on a multi-collection JSON file, then
    ``write_run_parquet`` and ``summary()`` -- the path ``cli.py`` runs."""

    sf = 0.002

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.truth = _gen("etl_json", seed, self.sf * scale, os.path.join(work, "in"))
        self.records = self.truth["summary"]["total_documents"]

    def op(self, spark, op_id: int, tracer=None) -> dict:
        from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline

        base, out = os.path.join(self.work, "in"), os.path.join(self.work, "out")
        t0 = time.perf_counter()
        result = pipeline.run(spark, os.path.join(base, "input.json"),
                              os.path.join(base, "mapping.json"))
        t1 = time.perf_counter()
        pipeline.write_run_parquet(result, out)
        t2 = time.perf_counter()
        summary = result.summary()
        t3 = time.perf_counter()
        return {"wall": t3 - t0, "steps": [t1 - t0, t2 - t1, t3 - t2], "summary": summary}

    def warmup(self, spark) -> None:
        spark.read.text(os.path.join(self.work, "in", "input.json")).count()

    def check(self, out: dict) -> list[str]:
        return _summary_diff(out["summary"], self.truth)

    def final_check(self, corrupt: bool, last_op: int) -> list[tuple[int, str]]:
        """Row counts and audit census of the last operation's parquet output."""
        out = os.path.join(self.work, "out")
        if corrupt:
            _alter_one_row(os.path.join(out, "ingestion_audit.parquet"))
        errs = _data_rows_diff(out, self.truth["collections"])
        errs += _audit_diff(os.path.join(out, "ingestion_audit.parquet"),
                            self.truth["collections"])
        return [(last_op, e) for e in errs]


class EtlBulk:
    """Per collection: ``read_collection_jsonl``, ``MappingPlan.from_config``,
    ``transform_collection``, then ``write_with_metrics`` for the data and
    the audit frame -- the distributed, data-scale path."""

    sf = 0.01

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.truth = _gen("etl_jsonl", seed, self.sf * scale, os.path.join(work, "in"))
        self.records = self.truth["summary"]["total_documents"]
        with open(os.path.join(work, "in", "mapping.json"), encoding="utf-8") as fh:
            self.mapping = json.load(fh)["collections"]

    def op(self, spark, op_id: int, tracer=None) -> dict:
        from pyspark.sql import functions as F

        from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline
        from etl_pipeline_from_mongo_json_to_postgre_spark.operators import transform
        from etl_pipeline_from_mongo_json_to_postgre_spark.plans.mapping_plan import MappingPlan
        from etl_pipeline_from_mongo_json_to_postgre_spark.sources import json_source

        base, out = os.path.join(self.work, "in"), os.path.join(self.work, "out")
        t0 = time.perf_counter()
        observed, steps = {}, []
        for coll, spec in self.mapping.items():
            raw = json_source.read_collection_jsonl(spark, os.path.join(base, f"{coll}.jsonl"))
            plan = MappingPlan.from_config(coll, spec)
            data_df, audit_df = transform.transform_collection(
                raw, plan, object_status="NEW", ingested_at=RUN_TS)
            data_m = pipeline.write_with_metrics(
                data_df, os.path.join(out, f"data_{coll}.parquet"),
                {"errors": F.count(F.when(F.col("status") == "error", 1))})
            audit_m = pipeline.write_with_metrics(
                audit_df, os.path.join(out, f"audit_{coll}.parquet"),
                {"errors": F.count(F.when(F.col("processing_status") == "error", 1)),
                 "missing": F.count(F.when(F.size("missing_columns") > 0, 1))})
            observed[coll] = {"data": data_m, "audit": audit_m}
            steps.append(time.perf_counter() - t0 - sum(steps))
        return {"wall": time.perf_counter() - t0, "steps": steps, "observed": observed}

    def warmup(self, spark) -> None:
        spark.read.text(os.path.join(self.work, "in")).count()

    def check(self, out: dict) -> list[str]:
        errs = []
        for coll, t in self.truth["collections"].items():
            got = out["observed"][coll]
            want = {"data": {"rows_written": t["documents"], "errors": t["errors"]},
                    "audit": {"rows_written": t["documents"], "errors": t["errors"],
                              "missing": t["missing_col_docs"]}}
            for side in ("data", "audit"):
                if got[side] != want[side]:
                    errs.append(f"{coll} {side} counters {got[side]} != {want[side]}")
        return errs

    def final_check(self, corrupt: bool, last_op: int) -> list[tuple[int, str]]:
        """Row counts and audit census of the last operation's parquet output."""
        out = os.path.join(self.work, "out")
        if corrupt:
            _alter_one_row(os.path.join(out, f"audit_{next(iter(self.mapping))}.parquet"))
        errs = _data_rows_diff(out, self.truth["collections"])
        for coll, t in self.truth["collections"].items():
            errs += _audit_diff(os.path.join(out, f"audit_{coll}.parquet"), {coll: t})
        return [(last_op, e) for e in errs]


class Etl:
    """One ETL run through each ingestion path: the CLI path on a JSON file,
    then the distributed path on line-delimited collections."""

    def __init__(self, work: str, seed: int, scale: float):
        self.cli = EtlCli(os.path.join(work, "cli"), seed, scale)
        self.bulk = EtlBulk(os.path.join(work, "bulk"), seed, scale)
        self.records = self.cli.records + self.bulk.records

    def op(self, spark, op_id: int, tracer=None) -> dict:
        t0 = time.perf_counter()
        cli = self.cli.op(spark, op_id)
        bulk = self.bulk.op(spark, op_id)
        return {"wall": time.perf_counter() - t0, "steps": cli["steps"] + bulk["steps"],
                "cli": cli, "bulk": bulk}

    def warmup(self, spark) -> None:
        self.cli.warmup(spark)
        self.bulk.warmup(spark)

    def check(self, out: dict) -> list[str]:
        return self.cli.check(out["cli"]) + self.bulk.check(out["bulk"])

    def final_check(self, corrupt: bool, last_op: int) -> list[tuple[int, str]]:
        return (self.cli.final_check(corrupt, last_op)
                + self.bulk.final_check(False, last_op))


class IterativeOps:
    """One pass: each query of QUERY_OPS built and collected in turn."""

    sf = 0.01

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.truth = _gen("tables", seed, self.sf * scale, os.path.join(work, "in"))
        rows = self.truth["rows"]
        self.records = sum(rows[t] for n in QUERY_OPS for t in QUERY_TABLES[n])
        self.outputs: list[tuple[int, dict]] = []
        self.registry: dict = {}

    def op(self, spark, op_id: int, tracer=None) -> dict:
        tables = os.path.join(self.work, "in", "tables")
        steps, results = [], {}
        t0 = time.perf_counter()
        for name in QUERY_OPS:
            a = time.perf_counter()
            with _maybe_span(tracer, f"query.{name}.build"):
                df = self.registry[name](spark, tables)
            b = time.perf_counter()
            with _maybe_span(tracer, f"query.{name}.exec"):
                rows = df.collect()
            c = time.perf_counter()
            steps += [b - a, c - b]
            results[name] = (list(df.columns), [tuple(r) for r in rows])
        self.outputs.append((op_id, results))
        return {"wall": time.perf_counter() - t0, "steps": steps}

    def warmup(self, spark) -> None:
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        for table in self.truth["rows"]:
            spark.read.parquet(os.path.join(self.work, "in", "tables", f"{table}.parquet")).count()

    def check(self, out: dict) -> list[str]:
        return []  # compared against the oracle after the timed window

    def final_check(self, corrupt: bool, last_op: int) -> list[tuple[int, str]]:
        """Every timed pass's collected rows against the DuckDB oracle."""
        import __spark_entry__
        from tests.oracle_compare import compare, duckdb_conn

        oracle = __spark_entry__.oracle_sql()
        con = duckdb_conn(os.path.join(self.work, "in", "tables"))
        errs = []
        for i, (op_id, results) in enumerate(self.outputs):
            for name in QUERY_OPS:
                cols, rows = results[name]
                if corrupt and i == 0 and name == QUERY_OPS[0]:
                    rows = [tuple("altered" for _ in rows[0])] + rows[1:]
                ok, msg = compare(_Collected(cols, rows), con, oracle[name])
                if not ok:
                    errs.append((op_id, f"{name}: {msg}"))
        return errs


class _Collected:
    """Already-collected query output in the shape ``compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _summary_diff(summary: dict, truth: dict) -> list[str]:
    got = {k: v for k, v in summary.items() if k != "ingestion_date"}
    want = truth["summary"]
    return [f"summary[{k}] = {got.get(k)!r}, expected {want[k]!r}"
            for k in sorted(set(got) | set(want)) if got.get(k) != want.get(k)]


def _data_rows_diff(out: str, truth: dict) -> list[str]:
    import pyarrow.parquet as pq

    errs = []
    for coll, t in truth.items():
        n = pq.ParquetDataset(os.path.join(out, f"data_{coll}.parquet")).read([]).num_rows
        if n != t["documents"]:
            errs.append(f"data_{coll}: {n} rows, expected {t['documents']}")
    return errs


def _audit_diff(path: str, truth: dict) -> list[str]:
    """Per-collection document, error and missing-column counts of an
    audit parquet, read back without Spark, against the generator's truth."""
    import pyarrow.parquet as pq

    audit = pq.ParquetDataset(path).read(
        ["source_collection", "processing_status", "missing_columns"]).to_pydict()
    got: dict[str, dict[str, int]] = {}
    for coll, status, missing in zip(*audit.values()):
        g = got.setdefault(coll, {"documents": 0, "errors": 0, "missing_col_docs": 0})
        g["documents"] += 1
        g["errors"] += status == "error"
        g["missing_col_docs"] += bool(missing)
    errs = []
    for coll, t in truth.items():
        g = got.get(coll, {})
        for k in ("documents", "errors", "missing_col_docs"):
            if g.get(k) != t[k]:
                errs.append(f"audit {coll}.{k} = {g.get(k)}, expected {t[k]}")
    return errs


def _alter_one_row(parquet_dir: str) -> None:
    """Self-test hook: flip one audit row's processing status on disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in sorted(os.listdir(parquet_dir)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(parquet_dir, f)
        tbl = pq.read_table(path)
        if tbl.num_rows == 0:
            continue
        status = tbl.column("processing_status").to_pylist()
        status[0] = "success" if status[0] == "error" else "error"
        idx = tbl.schema.get_field_index("processing_status")
        pq.write_table(tbl.set_column(idx, "processing_status", pa.array(status)), path)
        return


WORKLOADS = {"etl": Etl, "iterative_ops": IterativeOps}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def per_layer_names() -> list[tuple[str, str]]:
    names = []
    for span, _, _ in LAYERS:
        names += [(f"{span}.wall_s", "s"), (f"{span}.self_s", "s")]
        if runs_spark_jobs(span):
            names += [(f"{span}.{c}", u) for c, u in zip(
                SPARK_COUNTERS, ("count", "count", "s", "MB", "MB", "count"))]
            names.append((f"{span}.core_idle_frac", "ratio"))
    for q in QUERY_OPS:
        names += [(f"query.{q}.build_s", "s"), (f"query.{q}.exec_s", "s"),
                  (f"query.{q}.jobs", "count"), (f"query.{q}.executor_run_s", "s")]
    names += [("trace.traced_run_s", "s"), ("trace.untraced_run_s", "s"),
              ("trace.overhead_frac", "ratio")]
    return names


def layer_metrics(tracer, traced_walls, untraced_walls, cores: int) -> dict:
    """Per-layer metrics of the first operation (and of the set-up for
    ``session.get_spark``), plus the tracing overhead."""
    selfs = self_times(tracer.spans)
    acc: dict[str, dict] = {}  # span name -> summed time and counters
    for s in tracer.spans:
        if s["op"] not in (0, SETUP_OP):
            continue  # layers decompose the first operation, as run_s measures it
        a = acc.setdefault(s["name"], {"wall_s": 0.0, "self_s": 0.0})
        a["wall_s"] += s["end"] - s["start"]
        a["self_s"] += selfs[s["id"]]
        for k in SPARK_COUNTERS:
            if k in s:
                a[k] = a.get(k, 0) + s[k]
    values: dict[str, float] = {}
    for name, a in acc.items():
        if name.startswith("query."):  # query.<name>.build / query.<name>.exec
            _, q, phase = name.split(".")
            values[f"query.{q}.{phase}_s"] = a["wall_s"]
            for k in ("jobs", "executor_run_s"):
                values[f"query.{q}.{k}"] = values.get(f"query.{q}.{k}", 0) + a.get(k, 0)
            continue
        values.update((f"{name}.{k}", v) for k, v in a.items())
        if "executor_run_s" in a and a["wall_s"] > 0:
            values[f"{name}.core_idle_frac"] = 1.0 - a["executor_run_s"] / (a["wall_s"] * cores)
    t, u = _median(traced_walls), _median(untraced_walls)  # net of steal
    values["trace.traced_run_s"] = t
    values["trace.untraced_run_s"] = u
    values["trace.overhead_frac"] = t / u - 1.0 if u else 0.0
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in per_layer_names()}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and all its
    live descendants, from /proc, counting each process's reaped children
    too, so a worker that exits keeps its share. CPU time a contended host
    steals from the VM is not charged to a process, unlike wall time."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed it
            continue
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(a: list[int], b: list[int]) -> float:
    """Share of the busy CPU time between two /proc/stat snapshots that the
    hypervisor stole: time the VM's CPUs wanted to run but were not run."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (y - x for x, y in zip(a[:8], b[:8]))
    busy = user + nice + system + irq + softirq + steal
    return steal / busy if busy else 0.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the self-test runs at 0.1)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: alter one output row before the final check")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from etl_pipeline_from_mongo_json_to_postgre_spark import session  # noqa: F401  (fails fast outside a checkout)

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    cores = _cores()
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "nproc": cores, "driver_memory": DRIVER_MEMORY,
             "load_1m_start": os.getloadavg()[0]}
    cpu0 = _cpu_times()
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, args.scale)
        stamp["records"] = wl.records
        tracer = Tracer()
        if args.trace:
            tracer.install()
            tracer.enabled = True
        failures: dict[str, list[str]] = {}  # operation label -> check failures

        # ---- set-up: session (JVM launch included) + one untimed warm-up
        # operation, a Spark scan of the workload's input
        tracer.op_id = SETUP_OP
        c_setup = _cpu_times()
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", cpus=cores)
        tracer.spark = spark
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        setup_steal = _steal_share(c_setup, _cpu_times())
        stamp.update(setup_wall_s=setup_s, setup_steal=setup_steal)
        setup_s *= 1 - setup_steal
        tracer.enabled = False

        # ---- timed window: closed loop, one driver thread. The first
        # operation is the one a CLI or batch user pays on every run. With
        # --trace 1 it is traced (the layers decompose it), then operations
        # run untraced, traced, untraced: the tracing overhead compares the
        # traced one with the two around it.
        traced_walls, untraced_walls, cpus, ops = [], [], [], 0
        start = time.perf_counter()
        while True:
            traced = bool(args.trace) and ops % 2 == 0
            tracer.enabled, tracer.op_id = traced, ops
            cpu_start = _tree_cpu_s(os.getpid())
            c0 = _cpu_times()
            try:
                out = wl.op(spark, ops, tracer if traced else None)
                steal = _steal_share(c0, _cpu_times())
            except Exception as exc:  # a failed operation is counted; the loop goes on
                out = None
                failures[f"op {ops}"] = [f"{type(exc).__name__}: {exc}"]
            finally:
                tracer.enabled = False
            if out is not None:
                (traced_walls if traced else untraced_walls).append(out["wall"] * (1 - steal))
                if not traced:
                    cpus.append(_tree_cpu_s(os.getpid()) - cpu_start)
                stamp.setdefault("op_steps_s", []).append([round(x, 3) for x in out["steps"]])
                stamp.setdefault("op_wall_s", []).append(out["wall"])
                stamp.setdefault("op_steal", []).append(steal)
                errs = wl.check(out)
                if errs:
                    failures[f"op {ops}"] = errs
            ops += 1
            elapsed = time.perf_counter() - start
            if elapsed >= args.seconds and (ops >= 4 or not args.trace):
                break
            if elapsed >= 3 * args.seconds + 60 and not (traced_walls or untraced_walls):
                break  # nothing succeeds: give up
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        # ---- output checks, outside the timed region
        for op_id, msg in wl.final_check(args.corrupt, ops - 1):
            failures.setdefault(f"op {op_id}", []).append(msg)
        attempted = ops
        failed = len(failures)
        correct = not failures
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        stamp.update(load_1m_end=os.getloadavg()[0], ops=ops,
                     cpu_steal_frac=cpu[7] / max(sum(cpu), 1))

        if args.trace:
            tracer.uninstall()
            metrics = layer_metrics(tracer, traced_walls[1:], untraced_walls, cores)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.jsonl"),
                         stamp)
        else:
            run_p50 = _median(untraced_walls)
            if not run_p50:
                raise RuntimeError("no operation completed")
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "run_s.p50": {"value": run_p50, "unit": "s"},
                "run_cpu_s.p50": {"value": _median(cpus), "unit": "s"},
                "docs_per_s": {"value": wl.records / run_p50, "unit": "1/s"},
                "driver_rss_mb": {"value": rss_mb, "unit": "MB"},
                "ok_frac": {"value": (attempted - failed) / attempted, "unit": "ratio"},
            }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for label, errs in sorted(failures.items()):
        for e in errs[:5]:
            print(f"check failed: {label}: {e}")
    print("stamp: " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # the run could not complete: no result line
        traceback.print_exc()
        code = 2
    sys.exit(code)
