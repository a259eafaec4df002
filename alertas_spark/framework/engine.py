"""Alert registry, normalization, and publication.

≙ the reference's ``AlertaSession`` orchestrator (``/root/reference/src/alertas/
jobs.py:123-320``), rebuilt name-based and clock-injected:

* normalization (sigla inject → alrt_key assembly → null-pad to family contract)
  ≙ ``generateAlerta`` jobs.py:258-277;
* staging: per-alert append into a per-sigla temp table (crash isolation / lineage
  break) ≙ the ``temp_`` tables jobs.py:134-141,277;
* publication: snapshot overwrite + monthly hist partition merge stamped with
  ``dt_calculo``/``dt_partition`` ≙ ``write_dataframe`` jobs.py:284-320, using
  ``unionByName`` (the reference unions positionally, jobs.py:312 — SURVEY §7 risk)
  and dynamic partition overwrite so only the current month's partition rewrites.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from alertas_spark.framework import schemas
from alertas_spark.framework.context import AlertContext


@dataclass(frozen=True)
class AlertDefinition:
    sigla: str
    builder: Callable[[AlertContext], DataFrame]
    family_table: str  # key into schemas.FAMILY_TABLES

    @property
    def family_schema(self) -> StructType:
        return schemas.FAMILY_TABLES[self.family_table]


def registry() -> dict[str, AlertDefinition]:
    """≙ alerta_list jobs.py:98-119 (DCTJ/DNTJ/DORD/OFFP commented out there but part
    of the capability surface — we register them behind ``enabled`` in run_all)."""
    from alertas_spark import alerts as A

    mgp = "mmps_alertas_mgp"
    return {
        "GATE": AlertDefinition("GATE", A.alerta_gate, mgp),
        "BDPA": AlertDefinition("BDPA", A.alerta_bdpa, mgp),
        "IC1A": AlertDefinition("IC1A", A.alerta_ic1a, mgp),
        "MVVD": AlertDefinition("MVVD", A.alerta_mvvd, mgp),
        "OUVI": AlertDefinition("OUVI", A.alerta_ouvi, mgp),
        "PA1A": AlertDefinition("PA1A", A.alerta_pa1a, mgp),
        "PPFP": AlertDefinition("PPFP", A.alerta_ppfp, mgp),
        "PRCR": AlertDefinition("PRCR", A.alerta_prcr, mgp),
        "VADF": AlertDefinition("VADF", A.alerta_vadf, mgp),
        "NF30": AlertDefinition("NF30", A.alerta_nf30, mgp),
        "DT2I": AlertDefinition("DT2I", A.alerta_dt2i, mgp),
        "RO": AlertDefinition("RO", A.alerta_ro, "mmps_alertas_ro"),
        "ABR1": AlertDefinition("ABR1", A.alerta_abr1, "mmps_alertas_abr1"),
        "ISPS": AlertDefinition("ISPS", A.alerta_isps, "mmps_alertas_isps"),
        "COMP": AlertDefinition("COMP", A.alerta_comp, "mmps_alertas_comp"),
        "FEBT": AlertDefinition("FEBT", A.alerta_febt, "mmps_alertas_ro"),
        # disabled in the reference registry (jobs.py:99-101,106) but implemented:
        "DCTJ": AlertDefinition("DCTJ", A.alerta_dctj, mgp),
        "DNTJ": AlertDefinition("DNTJ", A.alerta_dntj, mgp),
        "DORD": AlertDefinition("DORD", A.alerta_dord, mgp),
        "OFFP": AlertDefinition("OFFP", A.alerta_offp, mgp),
    }


#: the 16 alerts active in production (jobs.py:102-118)
ACTIVE = ("GATE", "BDPA", "IC1A", "MVVD", "OUVI", "PA1A", "PPFP", "PRCR", "VADF",
          "NF30", "DT2I", "RO", "ABR1", "ISPS", "COMP", "FEBT")


def normalize(df: DataFrame, sigla: str, family: StructType) -> DataFrame:
    """≙ generateAlerta normalization (jobs.py:262-276).

    ``alrt_key = sigla || '.' || key || '.' || orgao`` via ``concat`` (NULL orgao →
    NULL key, faithfully — jobs.py:266-271); missing key → 'KEYUNDEFINED'; missing
    family columns null-padded; final select in declared order BY NAME."""
    if "alrt_sigla" not in df.columns:
        df = df.withColumn("alrt_sigla", F.lit(sigla).cast("string"))
    key = F.col("alrt_key") if "alrt_key" in df.columns else F.lit("KEYUNDEFINED")
    df = df.withColumn(
        "alrt_key",
        F.concat(F.col("alrt_sigla"), F.lit("."), key, F.lit("."),
                 F.col("alrt_orgi_orga_dk").cast("string")),
    )
    for field in family.fields:
        if field.name not in df.columns:
            df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
        else:
            df = df.withColumn(field.name, F.col(field.name).cast(field.dataType))
    return df.select(*[f.name for f in family.fields])


def _stage_name(family_table: str, sigla: str) -> str:
    """Per-sigla staging table (r18): alerts write DISJOINT tables so the
    compute phase can run concurrently — concurrent appends into one path
    would race on the output committer's _temporary dir.  The family's
    publication unions its sigla stagings, so the published tables are
    row-identical to the serial single-table append."""
    return f"temp_{family_table}__{sigla.lower()}"


def run_alert(ctx: AlertContext, definition: AlertDefinition) -> None:
    """Compute one alert and append into its per-sigla staging table
    (jobs.py:258-277).  The write is the action that executes the lazy plan;
    4 output files keep the staging dir small (the reference used coalesce(20)
    for a 75-core cluster)."""
    ctx.spark.sparkContext.setJobGroup(definition.sigla, definition.sigla)
    df = normalize(definition.builder(ctx), definition.sigla, definition.family_schema)
    ctx.write_table("alertas", _stage_name(definition.family_table, definition.sigla),
                    df, mode="append", coalesce=4)


def publish(ctx: AlertContext, family_table: str,
            sigla_tables: tuple[str, ...]) -> None:
    """Snapshot + hist-partition publication for one family (jobs.py:284-320).

    Reads the per-sigla staging tables run_all wrote (their union IS the
    family staging relation a serial append would produce)."""
    staged_names = [n for n in sigla_tables if ctx.table_exists("alertas", n)]
    parts = [ctx.table("alertas", n) for n in staged_names]
    staged = parts[0]
    for p in parts[1:]:
        staged = staged.unionByName(p)
    # current snapshot (jobs.py:290-293); repartition(3) ≙ small-file control
    ctx.write_table("alertas", family_table, staged.repartition(3))

    ymd = ctx.as_of.strftime("%Y%m%d")
    ym = ctx.as_of.strftime("%Y%m")
    hist = (
        staged.withColumn("dt_calculo", F.lit(ymd))
        .withColumn("dt_partition", F.lit(ym))
    )
    hist_name = f"hist_{family_table}"
    if ctx.table_exists("alertas", hist_name):
        # merge with this month's prior-day rows (jobs.py:299-316): stage the merged
        # partition, then dynamically overwrite ONLY that partition
        prior = ctx.table("alertas", hist_name).filter(
            (F.col("dt_partition") == ym) & (F.col("dt_calculo") != ymd))
        merged = prior.unionByName(hist)
        ctx.write_table("alertas", f"{hist_name}_temp", merged)
        ctx.write_table("alertas", hist_name,
                        ctx.table("alertas", f"{hist_name}_temp"),
                        mode="overwrite", partition_by="dt_partition", coalesce=3)
        ctx.drop_table("alertas", f"{hist_name}_temp")
    else:
        ctx.write_table("alertas", hist_name, hist,
                        partition_by="dt_partition", coalesce=3)
    for n in staged_names:
        ctx.drop_table("alertas", n)


def generate_types_table(ctx: AlertContext) -> None:
    """≙ generateTypesTable (jobs.py:147-185): the ``schemas.ALERT_TYPES`` rows
    as ``alrt_sigla string, alrt_descricao string``, both nullable.

    The rows ride in as one Arrow table, which plans as a JVM
    ``LocalTableScan`` whatever the session's Arrow conf.  A list
    ``createDataFrame`` plans as ``Scan ExistingRDD`` and starts a Python
    worker on every call (0.5–0.9 s per call on local[4], 1.4 s in a fresh
    JVM); ``inline(array(struct(lit ..)))`` stays in the JVM too but
    declares both columns non-nullable."""
    import pyarrow as pa

    sigla, descricao = zip(*schemas.ALERT_TYPES)
    df = ctx.spark.createDataFrame(
        pa.table({"alrt_sigla": sigla, "alrt_descricao": descricao}),
        "alrt_sigla string, alrt_descricao string")
    ctx.write_table("alertas", "mmps_alertas_tipos", df, coalesce=1)


def _batch_pool_size(spark) -> int:
    """Compute-phase pool size, scale-adaptive from the session's core count
    (cores // 2, capped at 16 = the active-alert count); publication does not
    use it.  The alert jobs are LATENCY-bound (each is a chain of small
    stages over the fixture-scale inputs), so the pool needs most of the
    registry in flight to keep task slots fed — measured at local[32]:
    serial 19.6 s, pool 8 → 15.1 s, pool 16 → 7.2 s (min of 3 cold passes
    each).  A pool of 32 read 8.1 s, but with 16 alerts it ran the same
    16-way concurrency as pool 16, so that reading is noise, not a cap."""
    return max(1, min(16, spark.sparkContext.defaultParallelism // 2))


def run_all(ctx: AlertContext, siglas: tuple[str, ...] = ACTIVE,
            quiet: bool = False) -> dict[str, float]:
    """Full registry run ≙ generateAlertas (jobs.py:187-256): crash-cleanup of stale
    staging, per-alert compute+stage, then per-family publication.

    Each phase runs under a ``Timer`` (≙ timer.py:5-13 wrapping every alert,
    jobs.py:253) and its Spark jobs carry the alert's job group for UI attribution;
    returns ``{phase: seconds}`` for the CLI report.

    The compute phase stages alerts CONCURRENTLY into per-sigla staging tables
    (r18, guide §2.6): the 16 alert jobs are independent — the reference ran
    them back-to-back, leaving the cluster idle through every job's straggler
    tail — and their published union is row-identical to the serial append
    (pinned by test_framework/test_alerts e2e).  Publication runs ONE thread
    per family, whatever the compute pool's size: the families write
    disjoint tables and each publication is a latency-bound chain of 4–7
    one-task jobs, so all of them start in one wave (a pool capped at
    cores // 2 published 3 families in 2 waves on local[4]).  Both phases
    run through ``memo.overlap``, so every alert and family job keeps the
    caller's session tags.  Shared base views build once under the
    context's view lock.  The ``clearCache()`` between the phases unpersists
    ``documentos_ativos`` but leaves it in the context, so a second
    ``run_all`` on the same context reads it uncached (see
    ``AlertContext.view``); ``main.py`` builds one context per run."""
    from alertas_spark.framework.timing import Timer
    from alertas_spark.operators.memo import overlap

    timings: dict[str, float] = {}
    defs = registry()
    families = sorted({defs[s].family_table for s in siglas})
    for sigla in siglas:  # ≙ leftover-temp cleanup jobs.py:138-141
        ctx.drop_table("alertas", _stage_name(defs[sigla].family_table, sigla))

    def _run(sigla: str) -> None:
        with Timer(f"alert {sigla}", timings, quiet=quiet):
            run_alert(ctx, defs[sigla])

    overlap(ctx.spark, [lambda s=sigla: _run(s) for sigla in siglas],
            _batch_pool_size(ctx.spark))
    ctx.spark.catalog.clearCache()  # ≙ jobs.py:285

    def _pub(fam: str) -> None:
        ctx.spark.sparkContext.setJobGroup(f"publish:{fam}", f"publish:{fam}")
        with Timer(f"publish {fam}", timings, quiet=quiet):
            publish(ctx, fam, tuple(
                _stage_name(fam, s) for s in siglas
                if defs[s].family_table == fam))

    overlap(ctx.spark, [lambda f=fam: _pub(f) for fam in families],
            max(1, len(families)))
    return timings
