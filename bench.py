"""Benchmark runner: the cold-run harness for the declared-query corpus.

    python bench.py              # every query; the full record, also written
                                 # to BENCH_LOCAL.json
    python bench.py NAME [...]   # only the named queries; writes nothing

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.  Each query is forced
with the noop sink (full computation, no driver collect).  Besides its time,
every query gets a ``layers`` entry: builder vs action seconds and jobs, plus
the Spark counters of ``perfbench/sparkrest.summarize``.  README's bench
section describes the protocol.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))

from run import pretouch, spark_conf  # noqa: E402  (perfbench/run.py)
from workloads import fixture_warehouse  # noqa: E402  (perfbench/workloads.py)
from sparkrest import Rest, summarize  # noqa: E402

RECORD = os.path.join(ROOT, "BENCH_LOCAL.json")
#: per-query time = min over this many cold runs (a machine-noise guard)
PASSES = 2
#: perfbench's retained-UI limits: the REST API must still list every job
RETAINED_UI = {k: v for k, v in spark_conf("").items() if ".retained" in k}


def swing(t: float, old: float | None) -> bool:
    """True when a time ``t`` has moved so far above its prior record ``old``
    (seconds, identical fixtures) that it is re-timed standalone: more than
    3× a prior of at least 1 s, or more than 2× a prior above 5 s.  Such a
    swing has so far always been machine state, not code."""
    if old is None or old < 1.0:
        return False
    return t > (2 if old > 5.0 else 3) * old


def timed_run(spark, rest: Rest, query, sf_dir: str) -> tuple[float, dict]:
    """One noop-sink run of a declared query: ``(wall seconds, layers)``.

    The clock covers ``builder()`` and ``save()`` only; the job-id watermark
    between them and the counter reads after them stay outside it.  Between
    the two, ``plan_s`` times Catalyst planning of the final plan
    (``executedPlan``), also outside the clock.  The noop write plans its own
    command again, so ``action_s`` still holds one planning pass: execution
    is about ``action_s - plan_s``."""
    j0 = rest.max_job_id()
    t0 = time.time()
    df = query.builder(spark, sf_dir)
    t1 = time.time()
    j1 = rest.max_job_id()
    p0 = time.time()
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    j2 = rest.max_job_id()
    jobs = rest.jobs_between(j0, j2)
    layers = {"builder_s": t1 - t0, "plan_s": t2 - p0, "action_s": t3 - t2,
              "builder_jobs": j1 - j0, "action_jobs": j2 - j1,
              **summarize(jobs, rest.stages(jobs), [(t0, t1), (t2, t3)],
                          spark.sparkContext.defaultParallelism)}
    return (round(t1 - t0 + t3 - t2, 3),
            {k: round(v, 3) for k, v in layers.items()})


def main(names: list[str]) -> int:
    from alertas_spark.registry import load_all

    registry = load_all()
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"bench.py: unknown query: {', '.join(unknown)}", file=sys.stderr)
        return 2

    from alertas_spark.operators import artifacts, memo
    from alertas_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("alertas-bench", extra_conf=RETAINED_UI)
    rest = Rest(spark)

    def run(name: str) -> tuple[float, dict]:
        return timed_run(spark, rest, registry[name], sf_dir)

    # Every record is page-cache-warm by construction; the read rate says
    # whether the cache was warm before (RAM speed) or this read warmed it.
    mb, rate = pretouch([sf_dir])
    cache_state = {"prewarm_mb": round(mb, 1), "prewarm_mb_per_s": round(rate, 1),
                   "initial": "warm" if rate > 1500 else "cold"}

    # Untimed warm-up: JVM and Python workers, the alert corpus's shared
    # context (per-session infrastructure, not the first alert's cost), one
    # real query for codegen and the noop sink, and one Arrow round-trip.
    spark.range(1000).selectExpr("sum(id)").collect()
    try:
        from alertas_spark.plans.alert_corpus import _ctx

        _ctx(spark).view("documentos_ativos").count()
    except Exception as ex:
        print(f"# bench warmup skipped: {ex}", file=sys.stderr)
    try:
        from pyspark.sql.functions import pandas_udf

        # the driver's flagship query: it trains nothing, so the warm-up
        # leaves no artifact behind for a later cold timing to find
        run("revenue_by_nation")
        memo.clear()
        # lambda form: `from __future__ import annotations` stringifies a
        # def's type hints and pandas_udf can't resolve them
        identity = pandas_udf(lambda s: s, "long")
        spark.range(1000).select(identity("id")) \
            .write.format("noop").mode("overwrite").save()
    except Exception as ex:
        print(f"# bench query warmup skipped: {ex}", file=sys.stderr)

    # Cold passes: the trained-artifact memo is cleared before every timed
    # run, so each query pays its full standalone cost.  A query keeps the
    # layers of its faster run; an error in either pass marks it -1.0.
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    memoized: set[str] = set()
    for _pass in range(PASSES):
        for name in names or registry:
            memo.clear()
            try:
                t, layer = run(name)
            except Exception as ex:  # keep the bench line parseable
                t, layer = -1.0, {"error": str(ex)[:300]}
                print(f"# bench error {name}: {ex}", file=sys.stderr)
            if memo.artifact_count():
                memoized.add(name)
            prev = timings.get(name)
            if prev is None or prev >= 0 and (t < 0 or t < prev):
                timings[name], layers[name] = t, layer
    memo.clear()
    if names:
        print(json.dumps({"queries": timings, "layers": layers}))
        return 1 if any(t < 0 for t in timings.values()) else 0

    from alertas_spark.sources.catalog import TABLES

    fixtures = {t: artifacts.dataset_fingerprint(sf_dir, t) for t in TABLES}
    try:
        with open(RECORD) as fh:
            prior = json.load(fh)
    except (OSError, ValueError):
        prior = {}

    # Swing guard: on identical fixtures, a query that swung far above the
    # prior record is re-timed standalone, the evidence annotated under
    # 'retimed'.
    retimed: dict[str, dict] = {}
    if prior.get("fixtures") == fixtures:
        prior_q = prior.get("queries") or {}
        for name, t in sorted(timings.items()):
            old = prior_q.get(name)
            if not swing(t, old):
                continue
            samples = []
            for _p in range(PASSES):
                memo.clear()
                try:
                    s, layer = run(name)
                except Exception:
                    break
                samples.append(s)
                if s < timings[name]:
                    timings[name], layers[name] = s, layer
            if samples:
                retimed[name] = {"in_loop": t, "standalone": samples, "prior": old}
    memo.clear()

    # Warm tier, outside the headline: the marginal cost of re-running a
    # memoized query with its own session artifacts live.
    warm: dict[str, float] = {}
    for name in sorted(memoized):
        memo.clear()
        try:
            run(name)  # populates the memo
            warm[name] = run(name)[0]
        except Exception as ex:
            warm[name] = -1.0
            print(f"# bench warm error {name}: {ex}", file=sys.stderr)
    memo.clear()

    # Persistent tier, outside the headline: the cross-session cost.  A
    # trained query re-timed in a simulated new session (memo cleared)
    # against an artifact store its own earlier run populated.  A memoized
    # query whose first run stores nothing has no cross-session tier.
    persistent: dict[str, float] = {}
    art_dir = tempfile.mkdtemp(prefix="bench_artifacts_")
    try:
        for name in sorted(memoized):
            memo.clear()
            # per-query store root: an earlier query's artifacts must not
            # mask this query's own populate step
            spark.conf.set(artifacts.CONF_KEY, os.path.join(art_dir, name))
            b0 = artifacts.build_count()
            try:
                run(name)  # populates the store
                if artifacts.build_count() == b0:
                    continue  # nothing persistent in this query's path
                for _p in range(PASSES):
                    memo.clear()
                    t = run(name)[0]
                    persistent[name] = min(persistent.get(name, t), t)
            except Exception as ex:
                # a second-pass failure keeps a valid first-pass sample
                persistent.setdefault(name, -1.0)
                print(f"# bench persistent error {name}: {ex}", file=sys.stderr)
    finally:
        spark.conf.unset(artifacts.CONF_KEY)
        shutil.rmtree(art_dir, ignore_errors=True)
        memo.clear()

    # The nightly batch end to end: every active alert computed, staged and
    # published through the engine, min of PASSES full passes, under the
    # same swing guard as the queries.
    alert_batch = -1.0
    try:
        from alertas_spark.framework import engine
        from alertas_spark.framework.context import AlertContext
        from alertas_spark.testing.fixtures import AS_OF, ensure_fixtures

        fixture_dir = os.path.join(ROOT, ".fixtures", "mprj")
        ensure_fixtures(fixture_dir)
        wh = tempfile.mkdtemp(prefix="bench_wh_")

        def batch() -> float:
            spark.catalog.clearCache()
            ctx = AlertContext(spark=spark, warehouse=wh, as_of=AS_OF)
            t0 = time.time()
            engine.run_all(ctx, quiet=True)
            return round(time.time() - t0, 3)

        try:
            fixture_warehouse(fixture_dir, wh)
            alert_batch = min(batch() for _p in range(PASSES))
            prior_batch = prior.get("alert_batch_wall_clock")
            if swing(alert_batch, prior_batch):
                t = batch()
                retimed["alert_batch_wall_clock"] = {
                    "in_loop": alert_batch, "standalone": [t], "prior": prior_batch}
                alert_batch = min(alert_batch, t)
        finally:
            spark.catalog.clearCache()
            shutil.rmtree(wh, ignore_errors=True)
    except Exception as ex:
        print(f"# bench alert-batch skipped: {ex}", file=sys.stderr)

    sf = re.search(r"sf([0-9.]+)", sf_dir)
    # The recorder keeps the TAIL of the printed line: the queries go last,
    # ascending by time, so the slowest survive a front truncation.
    record = {
        "cache_state": cache_state,
        "retimed": retimed,
        "fixtures": fixtures,
        "layers": dict(sorted(layers.items())),
        "queries_warm_shared_artifacts": warm,
        "queries_warm_persistent": dict(sorted(persistent.items())),
        "queries": dict(sorted(timings.items(), key=lambda kv: kv[1])),
        "alert_batch_wall_clock": alert_batch,
        "metric": "declared_query_corpus_wall_clock",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "sf": float(sf.group(1)) if sf else None,
    }
    with open(RECORD, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
