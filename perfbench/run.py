"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run

1. sets up, timed from process start (``setup_s``): starts the Spark
   session, loads the declared-query registry, generates (once per checkout)
   the workload's inputs, pre-touches them and runs a warm-up pass of every
   unit (the batch: its fresh phase), which pays the fresh JVM's JIT and
   codegen as the nightly batch does in production;
2. runs timed passes until ``--seconds`` have passed and at least
   ``MIN_PASSES`` have run; pass k runs the units in the order seeded by
   (``--seed``, k), each query cold (memo cleared);
3. checks the output of every op of every pass against its DuckDB oracle;
4. prints every metric with its unit, then one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around every call into a layer, adds the Spark jobs read back from the UI
REST API as child spans, writes them (with self times) to
``perfbench/out/spans-<workload>-seed<n>.json`` and reports the per-layer
metrics.  Every result is also written, with its provenance, to
``perfbench/out/<workload>-seed<n>-trace<t>.json``.  The metrics are
described in ``perfbench/glossary.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import Tracer  # noqa: E402

DATA_SEED = 42  # the inputs are fixed; --seed only permutes unit order
DATA_SCALE = 0.01
#: the timed figures are medians over at least this many passes (a batch
#: pass has two phases, so two passes give four phase times per alert)
MIN_PASSES = 2
OUT = os.path.join(HERE, "out")
#: the MPRJ fixtures live where the tests and the alert corpus generate them
FIXTURE_DIR = os.path.join(ROOT, ".fixtures", "mprj")
MB = 1024 * 1024


def log(what: str) -> None:
    """Progress on stderr, as seconds since process start."""
    print(f"perfbench {time.time() - T_PROCESS:8.2f}s {what}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(work: str) -> dict[str, str]:
    return {
        # keep every job and stage of a run for the REST counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def pretouch(dirs: list[str]) -> tuple[float, float]:
    """Read every input byte once; returns (MB, MB/s) — a low rate means the
    page cache was cold when the record was made."""
    t = time.perf_counter()
    n = 0
    for d in dirs:
        for path in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
            if os.path.isfile(path):
                with open(path, "rb") as fh:
                    while chunk := fh.read(1 << 20):
                        n += len(chunk)
    dt = time.perf_counter() - t
    return n / MB, (n / MB) / dt if dt > 0 else 0.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def provenance(run: Run, workload) -> dict:
    from alertas_spark.operators import artifacts
    from alertas_spark.testing import fixtures

    from datagen import TABLES

    spark = run.spark
    tables = TABLES if workload.kind == "queries" else ()

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    src = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, "alertas_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as fh:
            src.update(path[len(ROOT):].encode() + fh.read())
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "git_commit": commit,
        "source_sha1": src.hexdigest(),
        "master": spark.sparkContext.master,
        "nproc": cores(),
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
        "dataset_fingerprint": {t: artifacts.dataset_fingerprint(run.sf_dir, t)
                                for t in tables},
        "dataset": {"seed": DATA_SEED, "scale": DATA_SCALE},
        "mprj_fixture_version": fixtures.VERSION,
        "pretouch_mb": round(run.touch[0], 3),
        "pretouch_mb_s": round(run.touch[1], 1),
    }


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.layer: dict[str, float] = {}
        self.passes: list[dict] = []
        self.instrument_s = 0.0  # time of traced-only calls inside timed passes

    # -- set-up ------------------------------------------------------------
    def setup(self, workload) -> float:
        """Session, registry, the workload's inputs and the warm-up pass;
        returns the time from process start until the timed passes can start."""
        import datagen
        from alertas_spark.registry import load_all
        from alertas_spark.session import get_spark
        from alertas_spark.testing import fixtures

        from sparkrest import Rest

        span = self.tracer.span
        with span("setup", "setup"):
            s0 = time.time()
            with span("session.get_spark", "session"):
                self.spark = get_spark("perfbench", master=f"local[{cores()}]",
                                       shuffle_partitions=cores(),
                                       extra_conf=spark_conf(self.work))
            s1 = time.time()
            with span("registry.load_all", "registry"):
                self.registry = load_all()
            s2 = time.time()
            with span("testing.fixtures", "testing"):
                # each workload generates and pre-touches only what it reads
                if workload.kind == "queries":
                    self.sf_dir = datagen.ensure(os.path.join(HERE, ".data", "sf"),
                                                 DATA_SEED, DATA_SCALE)
                    self.touch = pretouch([self.sf_dir])
                else:
                    self.fixture_dir = fixtures.ensure_fixtures(FIXTURE_DIR)
                    self.touch = pretouch([self.fixture_dir])
            s3 = time.time()
            self.rest = Rest(self.spark)
            with span("warmup", "setup"):
                self.warm = self.run_pass(workload, 0, "warm")
        self.layer.update({"session.start_s": s1 - s0, "registry.load_s": s2 - s1,
                           "testing.fixtures_s": s3 - s2,
                           "setup.warmup_s": time.time() - s3})
        return time.time() - T_PROCESS

    def traced(self, fn):
        """Run a traced-only call, charging its time to the instrumentation."""
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.instrument_s += time.perf_counter() - t

    # -- passes --------------------------------------------------------------
    def run_pass(self, workload, k: int, label: str) -> dict:
        """Pass k in the order seeded by (seed, k); pass 0 is the warm-up."""
        from workloads import seeded_order

        order = seeded_order(workload.units, self.args.seed, k)
        if workload.kind == "queries":
            return self.query_pass(order, label)
        return self.batch_pass(order, label, ("fresh", "rerun") if k else ("fresh",))

    def run_passes(self, workload) -> None:
        """Timed passes until ``--seconds`` have passed and at least
        ``MIN_PASSES`` have run."""
        t_end = time.time() + self.args.seconds
        while True:
            k = len(self.passes) + 1
            cost0 = self.instrument_s + self.tracer.cost_s
            rec = self.run_pass(workload, k, f"pass{k}")
            # what tracing added to the pass: REST watermarks, plan forcing
            # and the recorder's bookkeeping (0 when untraced)
            rec["trace_cost_s"] = self.instrument_s + self.tracer.cost_s - cost0
            self.passes.append(rec)
            if time.time() >= t_end and len(self.passes) >= MIN_PASSES:
                break

    def query_pass(self, order, label: str) -> dict:
        from alertas_spark.operators import memo

        span = self.tracer.span
        trace = self.tracer.enabled
        units = []
        rec = {"job_wm": self.rest.max_job_id(), "start": time.time(), "order": order}
        with span(label, "bench"):
            for name in order:
                q = self.registry[name]
                memo.clear()
                u = {"name": name, "error": None, "rows": None}
                if trace:
                    u["job_wm"] = self.traced(self.rest.max_job_id)
                u["start"] = time.time()
                try:
                    with span(name, "query") as srec:
                        u["span"] = srec["id"] if srec else None
                        with span("builder", "query") as b:
                            df = q.builder(self.spark, self.sf_dir)
                        if trace:
                            with span("plan", "query"):
                                self.traced(lambda: df._jdf.queryExecution().executedPlan())
                        with span("action", "query") as a:
                            u["rows"] = df.toPandas()
                        u["children"] = [c for c in (b, a) if c]
                        if srec:
                            srec["memo_artifacts"] = memo.artifact_count()
                except Exception as ex:  # a failed op is counted, never skipped
                    u["error"] = f"{type(ex).__name__}: {ex}"[:500]
                u["end"] = time.time()
                u["wall_s"] = u["end"] - u["start"]
                units.append(u)
            memo.clear()
        rec["end"] = time.time()
        rec["job_end"] = self.rest.max_job_id()
        rec.update({"units": units, "wall_s": rec["end"] - rec["start"],
                    "windows": [(rec["start"], rec["end"])]})
        return rec

    def batch_pass(self, order, label: str, phases: tuple[str, ...]) -> dict:
        """A fresh phase into an empty warehouse, then the same-day re-run
        into the same warehouse."""
        from alertas_spark.framework import engine
        from alertas_spark.framework.context import AlertContext
        from alertas_spark.testing import fixtures

        from workloads import fixture_warehouse, published

        wh = fixture_warehouse(self.fixture_dir, os.path.join(self.work, label))
        ctx = AlertContext(spark=self.spark, warehouse=wh, as_of=fixtures.AS_OF)
        defs = engine.registry()
        families = sorted({defs[s].family_table for s in order})
        rec = {"phases": {}, "published": {}, "errors": {}, "order": order,
               "families": families}
        for phase in phases:
            ph = {"job_wm": self.rest.max_job_id(), "start": time.time()}
            try:
                with self.tracer.span(f"run_all.{phase}", "framework") as srec:
                    ph["span"] = srec["id"] if srec else None
                    ph["timings"] = engine.run_all(ctx, siglas=order, quiet=True)
                    with self.tracer.span("generate_types_table", "framework"):
                        engine.generate_types_table(ctx)
            except Exception as ex:
                rec["errors"][phase] = f"{type(ex).__name__}: {ex}"[:500]
                ph["timings"] = {}
            ph["end"] = time.time()
            ph["wall_s"] = ph["end"] - ph["start"]
            ph["job_end"] = self.rest.max_job_id()
            rec["phases"][phase] = ph
            if phase not in rec["errors"]:
                rec["published"][phase] = published(wh, families, ctx.as_of.strftime("%Y%m"))
        phases = rec["phases"].values()
        rec.update({"job_wm": rec["phases"]["fresh"]["job_wm"],
                    "job_end": ph["job_end"],
                    "wall_s": sum(p["wall_s"] for p in phases),
                    "windows": [(p["start"], p["end"]) for p in phases]})
        return rec


# ---------------------------------------------------------------------------
# checks and metrics
# ---------------------------------------------------------------------------

def check(run: Run, workload) -> list[dict]:
    """One record per op (a query in a pass, or an alert in a batch phase):
    its time and the problems found in its output."""
    import duckdb

    from workloads import check_alert, check_query, compare, duck_tables, oracle

    ops = []
    passes = [(run.warm, False)] + [(p, True) for p in run.passes]
    if workload.kind == "queries":
        con = duckdb.connect()
        duck_tables(con, run.sf_dir)
        want = oracle(con)
        for p, timed in passes:
            for u in p["units"]:
                if u["error"]:
                    problems = [u["error"]]
                else:
                    try:
                        problems = check_query(want(run.registry[u["name"]].oracle), u["rows"])
                    except Exception as ex:
                        problems = [f"oracle error: {ex}"[:300]]
                ops.append({"op": u["name"], "time_s": u["wall_s"], "timed": timed,
                            "problems": problems})
                u["rows"] = None
        con.close()
        return ops
    from alertas_spark.framework import engine
    from alertas_spark.testing import oracles

    con = oracles.connect(run.fixture_dir)
    want = oracle(con)
    for p, timed in passes:
        pub = p["published"]
        for phase, ph in p["phases"].items():
            for sigla in p["order"]:
                if phase in p["errors"]:
                    problems = [p["errors"][phase]]
                else:
                    fam = engine.registry()[sigla].family_table
                    problems = check_alert(want(oracles.ORACLES[sigla]), sigla, pub[phase][fam])
                    if phase == "rerun" and "fresh" in pub:
                        for t in (fam, f"hist_{fam}"):
                            if compare(pub["fresh"][t], pub["rerun"][t]):
                                problems.append(f"re-run changed {t}")
                ops.append({"op": f"{sigla}.{phase}",
                            "time_s": ph["timings"].get(f"alert {sigla}"), "timed": timed,
                            "problems": problems})
        p["published"] = {}
    con.close()
    return ops


def pass_counters(run: Run, p: dict) -> tuple[dict, list]:
    from sparkrest import summarize

    jobs = run.rest.jobs_between(p["job_wm"], p["job_end"])
    return summarize(jobs, run.rest.stages(jobs), p["windows"], cores()), jobs


def end_to_end(run: Run, workload, setup_s: float, ops: list[dict],
               counters: list[dict]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for o in ops:
        if o["timed"] and o["time_s"] is not None:
            by_op.setdefault(o["op"], []).append(o["time_s"])
    per_op = [stats.median(v) for v in by_op.values()]
    return {
        "setup_s": setup_s,
        "wall_s": stats.median([p["wall_s"] for p in run.passes]),
        "query_geomean_s": stats.geomean(per_op),
        "cpu_s": stats.median([c["cpu_s"] for c in counters]),
    }


def per_layer(run: Run, workload, counters: list[dict], pass_jobs: list[list]) -> dict[str, float]:
    """Per-layer metrics of the traced run, each the median over its passes.

    Every metric is read, and is above 0, on every workload: the op layer is
    a query of ann_index or an alert in one phase of nightly_batch, so
    ``ops.*`` and the Spark counters mean the same thing on both.  Per-phase
    and per-query detail is in the span file."""
    med = stats.median
    m = dict(run.layer)
    m["driver.peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
    for key in ("input_mb", "jobs", "stages", "tasks", "job_busy_s", "driver_gap_s",
                "slot_util", "executor_run_s", "shuffle_write_mb", "shuffle_read_mb", "gc_s"):
        m[f"spark.{key}"] = med([c[key] for c in counters])
    acc: dict[str, list[float]] = {}
    for p, jobs in zip(run.passes, pass_jobs):
        ops = batch_ops(run, p, jobs) if workload.kind == "batch" else query_ops(run, p, jobs)
        vals = op_layers(ops)
        vals["trace.overhead_s"] = p["trace_cost_s"]
        for k, v in vals.items():
            acc.setdefault(k, []).append(v)
    m.update({k: med(v) for k, v in acc.items()})
    return m


def op_layers(ops: list[dict]) -> dict[str, float]:
    """The op layer of one pass: op times as the engine reports them, how
    many ran at once, and how much of each op ran outside its own jobs."""
    walls = [o["wall_s"] for o in ops]
    spans = stats.union_length(o["interval"] for o in ops)
    driver = sum(max(0.0, o["wall_s"] - stats.union_length(
        stats.clip(j, o["interval"]) for j in o["jobs"])) for o in ops)
    return {"ops.count": len(ops), "ops.sum_s": sum(walls), "ops.max_s": max(walls),
            "ops.concurrency": sum(walls) / spans if spans > 0 else 0.0,
            "ops.driver_s": driver}


def query_ops(run: Run, p: dict, jobs: list) -> list[dict]:
    """One op per query; its jobs are the ids submitted while it ran."""
    units = p["units"]
    ends = [u["job_wm"] for u in units[1:]] + [p["job_end"]]
    ops = []
    for u, end in zip(units, ends):
        uj = [j for j in jobs if u["job_wm"] < j.job_id <= end]
        for j in uj:
            # a job is the child of the builder or action call it started in
            parent = next((c["id"] for c in u.get("children", [])
                           if c["start"] <= j.start <= c["end"]), u.get("span"))
            run.tracer.add(f"job{j.job_id}", "spark", j.start, j.end, parent,
                           group=j.group, stages=list(j.stage_ids))
        ops.append({"wall_s": u["wall_s"], "interval": (u["start"], u["end"]),
                    "jobs": [(j.start, j.end) for j in uj]})
    return ops


def batch_ops(run: Run, p: dict, jobs: list) -> list[dict]:
    """One op per alert and phase: its time is run_all's timing, its jobs
    are its job group's; alert spans (with their jobs) join the span file."""
    ops = []
    for ph in p["phases"].values():
        tm = ph["timings"]
        groups: dict[str | None, list] = {}
        for j in jobs:
            if ph["job_wm"] < j.job_id <= ph["job_end"]:
                groups.setdefault(j.group, []).append(j)
        for group, js in groups.items():
            interval = (min(j.start for j in js), max(j.end for j in js))
            parent = ph.get("span")
            if group is not None:
                run.tracer.add(group, "alerts" if f"alert {group}" in tm else "framework",
                               *interval, parent, jobs=len(js))
                parent = len(run.tracer.spans) - 1
            for j in js:
                run.tracer.add(f"job{j.job_id}", "spark", j.start, j.end, parent,
                               group=group, stages=list(j.stage_ids))
            if f"alert {group}" in tm:
                ops.append({"wall_s": tm[f"alert {group}"], "interval": interval,
                            "jobs": [(j.start, j.end) for j in js]})
    return ops


# ---------------------------------------------------------------------------

def pass_detail(p: dict) -> dict:
    """What the record keeps of a pass: its order and times."""
    out = {"order": list(p["order"]), "wall_s": p["wall_s"]}
    if "units" in p:
        out["units"] = {u["name"]: u["wall_s"] for u in p["units"]}
    else:
        out["phases"] = {k: {"wall_s": ph["wall_s"], "timings": ph["timings"]}
                         for k, ph in p["phases"].items()}
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "alertas_spark")):
        print("perfbench: the alertas_spark package is not next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    # Python workers import the engine's UDF modules: the repo root must be
    # on their path whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, ROOT)
    run = Run(args)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # every scratch byte of the run (Spark's shuffle and block files, the
    # JVM's and Python's temp files) stays under the run's work directory
    for d in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(run.work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    os.makedirs(OUT, exist_ok=True)
    try:
        setup_s = run.setup(workload)
        log(f"set up in {setup_s:.2f}s")
        run.run_passes(workload)
        log("passes " + " ".join(f"{p['wall_s']:.2f}s" for p in run.passes))
        ops = check(run, workload)
        log("outputs checked")
        pass_jobs, counters = [], []
        for ps in run.passes:
            c, jobs = pass_counters(run, ps)
            counters.append(c)
            pass_jobs.append(jobs)
        e2e = end_to_end(run, workload, setup_s, ops, counters)
        layers = per_layer(run, workload, counters, pass_jobs) if args.trace else {}
        prov = provenance(run, workload)
        log("counters read")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if getattr(run, "spark", None) is not None:
            shutdown(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
        log("stopped")

    failed = sum(1 for o in ops if o["problems"])
    attempted = len(ops)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = {**e2e, **layers}
    for name, value in shown.items():
        print(f"{name:48s} {value:14.4f} {units.get(name, '?')}")
    print(f"{'fail_frac':48s} {stats.fail_frac(attempted, failed):14.4f} ratio")
    for o in ops:
        if o["problems"]:
            print(f"FAILED {o['op']}: {'; '.join(o['problems'])[:400]}")
    reported = layers if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }
    record = {**result, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "provenance": prov,
              "passes": [pass_detail(p) for p in [run.warm] + run.passes],
              "all_metrics": shown,
              "ops": [{k: o[k] for k in ("op", "time_s", "timed", "problems")} for o in ops]}
    stem = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(OUT, f"{stem}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        run.tracer.write(os.path.join(OUT, f"spans-{stem}.json"))
    print("provenance " + json.dumps({"seed": args.seed, **prov}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
