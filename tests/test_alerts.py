"""Per-alert smoke + semantic spot checks over the MPRJ fixtures.

Every alert must (a) build a valid plan, (b) produce rows on the planted fixture
triggers, (c) survive framework normalization to its family schema.  Deep value-level
parity is checked separately against DuckDB oracles (tests/test_alert_oracles.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alertas_spark.framework import engine

ALL_SIGLAS = sorted(engine.registry())


@pytest.mark.parametrize("sigla", ALL_SIGLAS)
def test_alert_produces_rows(ctx, sigla):
    d = engine.registry()[sigla]
    out = engine.normalize(d.builder(ctx), d.sigla, d.family_schema)
    n = out.count()
    assert n > 0, f"{sigla} produced no rows on planted fixtures"
    # orgão must be set for the alert to be routable (jobs.py contract)
    assert out.filter("alrt_orgi_orga_dk IS NOT NULL").count() > 0


def test_ppfp_emits_both_siglas(ctx):
    d = engine.registry()["PPFP"]
    siglas = {r.alrt_sigla for r in d.builder(ctx).select("alrt_sigla").distinct().collect()}
    assert "PPFP" in siglas and "PPPV" in siglas


def test_nf30_emits_nf120_for_old_docs(ctx):
    d = engine.registry()["NF30"]
    out = d.builder(ctx)
    siglas = {r.alrt_sigla for r in out.select("alrt_sigla").distinct().collect()}
    assert "NF120" in siglas
    # every NF120 row is >120 days elapsed
    assert out.filter("alrt_sigla = 'NF120' AND alrt_dias_referencia <= 120").count() == 0


def test_prcr_sigla_partition(ctx):
    """PRCR1-4 are mutually exclusive per doc (prcr:219-236)."""
    d = engine.registry()["PRCR"]
    out = d.builder(ctx).cache()
    assert out.filter(~F.col("alrt_sigla").isin("PRCR1", "PRCR2", "PRCR3", "PRCR4")) \
        .count() == 0
    dup = out.groupBy("alrt_docu_dk").count().filter("count > 1")
    assert dup.count() == 0
    # detail side table written
    assert ctx.table("alertas", "mmps_alerta_detalhe_prcr").count() > 0
    out.unpersist()


def test_prcr_leaves_no_cache_behind(ctx):
    """PRCR caches its deadline stage through ``memo.cached``: after a run
    and ``memo.clear()``, re-planning PRCR finds no cached relation but the
    context's documentos_ativos view, so the next cold run of PRCR is cold."""
    from alertas_spark.operators import memo

    ativos = sorted(ctx.view("documentos_ativos").columns)
    out = engine.registry()["PRCR"].builder(ctx)
    out.write.format("noop").mode("overwrite").save()
    memo.clear()
    leaves = out.select("*")._jdf.queryExecution().withCachedData().collectLeaves()
    cached = [leaves.apply(i) for i in range(leaves.size())
              if leaves.apply(i).nodeName() == "InMemoryRelation"]
    assert cached  # the documentos_ativos view stays cached
    for rel in cached:
        out_cols = rel.output()
        cols = sorted(out_cols.apply(i).name() for i in range(out_cols.size()))
        assert cols == ativos, cols


def test_isps_memoizes(ctx):
    d = engine.registry()["ISPS"]
    first = d.builder(ctx).count()
    assert first > 0
    assert ctx.table("alertas", "mmps_alerta_isps_aux").count() == first
    # second run hits the memo (isps:44-60): same rows, no duplicate append
    assert d.builder(ctx).count() == first
    assert ctx.table("alertas", "mmps_alerta_isps_aux").count() == first


def test_abr1_outside_april_is_empty(ctx):
    import datetime as dt

    from dataclasses import replace

    d = engine.registry()["ABR1"]
    ctx_may = replace(ctx, as_of=dt.date(2024, 5, 15))
    assert d.builder(ctx_may).count() == 0
    # but the hardcoded 2020-11 window fires (abr1:37)
    ctx_nov20 = replace(ctx, as_of=dt.date(2020, 11, 10))
    assert d.builder(ctx_nov20).count() > 0


def test_vadf_only_closed_docs_with_open_vistas(ctx):
    d = engine.registry()["VADF"]
    out = d.builder(ctx)
    docs = ctx.view("documento").select("docu_dk", "docu_fsdc_dk")
    joined = out.join(docs, out.alrt_docu_dk == docs.docu_dk)
    assert joined.filter("docu_fsdc_dk = 1").count() == 0


def test_febt_precincts_are_stale(ctx):
    """FEBT fires exactly for the planted stale precincts (deleg % 5 == 0)."""
    d = engine.registry()["FEBT"]
    delegs = {int(r.ro_nr_delegacia)
              for r in engine.normalize(d.builder(ctx), "FEBT", d.family_schema)
              .select("ro_nr_delegacia").collect()}
    assert delegs and all(d % 5 == 0 for d in delegs)


def test_full_registry_run(ctx):
    """The production path: all 16 active alerts → staged → published (jobs.py:187-320)."""
    engine.run_all(ctx)
    for fam, schema in (
        ("mmps_alertas_mgp", engine.schemas.MGP),
        ("mmps_alertas_ro", engine.schemas.RO),
        ("mmps_alertas_abr1", engine.schemas.ABR1),
        ("mmps_alertas_isps", engine.schemas.ISPS),
        ("mmps_alertas_comp", engine.schemas.COMP),
    ):
        snap = ctx.table("alertas", fam)
        assert snap.count() > 0, fam
        assert snap.columns == [f.name for f in schema.fields], fam
        hist = ctx.table("alertas", f"hist_{fam}")
        assert hist.count() == snap.count(), fam
    siglas = {r.alrt_sigla for r in ctx.table("alertas", "mmps_alertas_mgp")
              .select("alrt_sigla").distinct().collect()}
    # multi-sigla alerts fan out (PPFP→PPPV, NF30→NF120, PRCR→PRCR1-4)
    assert {"VADF", "GATE", "OUVI", "MVVD", "PPFP", "PPPV"} <= siglas
