"""PRCR — criminal prescription (statute-of-limitations) alerts, siglas PRCR1-PRCR4.

≙ /root/reference/src/alertas/alerta_prcr.py:27-241, the deepest query in the
reference: a 7-stage pipeline computing, per active PIP document and crime, the
prescription deadline from penalty tables, age factors, and start-date priority rules,
then classifying each document by how many of its crimes are (near-)prescribed.

The legal-domain CASE ladders and factor algebra are ported exactly (SURVEY §7 risk
register); wall-clock becomes ``ctx.as_of``.  One documented delta: the concatenated
multiplier-crime names use ``array_sort(collect_list(...))`` so the detail table is
deterministic (the reference's ``collect_list`` order is partition-dependent,
prcr:54 / SURVEY §2.4 A9).

Side output: the explainability detail table ``mmps_alerta_detalhe_prcr``
(≙ prcr:170-198, options['prescricao_tabela_detalhe']).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alertas_spark.framework import codes
from alertas_spark.framework.context import AlertContext
from alertas_spark.functions.keys import uuidsha
from alertas_spark.operators import memo

DETAIL_TABLE = "mmps_alerta_detalhe_prcr"


def _doc_pena(ctx: AlertContext) -> DataFrame:
    """Stage 1 (prcr:32-48): active PIP-package docs × current subjects × penalty
    table.  docu_dt_fato is normalized to min(fato, cadastro) with NULL → cadastro."""
    ativos = ctx.view("documentos_ativos").filter(
        F.col("docu_dt_cadastro") >= F.lit("2010-01-01").cast("timestamp"))
    classe = ctx.table("exadata_aux", "mmps_classe_hierarquia").select(
        "cldc_dk", "cldc_ds_classe", "cldc_ds_hierarquia")
    assunto = (
        ctx.table("exadata", "mcpr_assunto_documento")
        .filter("asdo_dt_fim IS NULL")  # current subjects only (prcr:45)
        .select("asdo_docu_dk", "asdo_assu_dk")
    )
    penas = (
        ctx.table("exadata_aux", "tb_penas_assuntos")
        .filter("max_pena IS NOT NULL")
        .select("id", "artigo_lei", "max_pena", "nome_delito", "multiplicador",
                "abuso_menor")
    )
    pip = (
        ctx.table("exadata_aux", "atualizacao_pj_pacote")
        .filter(F.col("cod_pct").isin(*codes.PIP_PACKAGES))
        .select("id_orgao")
    )
    return (
        ativos.join(F.broadcast(classe), F.col("cldc_dk") == F.col("docu_cldc_dk"),
                    "left")
        .join(assunto, F.col("docu_dk") == F.col("asdo_docu_dk"))
        .join(F.broadcast(penas), F.col("id") == F.col("asdo_assu_dk"))
        .join(F.broadcast(pip), F.col("docu_orgi_orga_dk_responsavel") == F.col("id_orgao"))
        .select(
            "docu_dk", "docu_nr_mp", "docu_nr_externo", "docu_tx_etiqueta",
            F.col("docu_dt_fato").alias("docu_dt_fato_original"),
            F.when(F.col("docu_dt_fato") < F.col("docu_dt_cadastro"),
                   F.col("docu_dt_fato")).otherwise(F.col("docu_dt_cadastro"))
            .alias("docu_dt_fato"),
            "docu_dt_cadastro", "docu_orgi_orga_dk_responsavel",
            "cldc_dk", "cldc_ds_classe", "cldc_ds_hierarquia",
            "id", "artigo_lei", "max_pena", "nome_delito", "multiplicador",
            "abuso_menor",
        )
    )


def _with_prescription_time(doc_pena: DataFrame) -> DataFrame:
    """Stage 2 (prcr:52-77): multiplier crimes scale the penalty via the product
    aggregate EXP(SUM(LN(max_pena))) (A8); the CASE ladder maps factored penalty →
    prescription years (Código Penal art. 109)."""
    fatores = (
        doc_pena.filter("multiplicador = 1")
        .groupBy("docu_dk")
        .agg(
            # LN terms quantized to 1e-9-unit bigints before summing: double
            # addition is order-dependent, and round-number penalties put the
            # product exactly on a CASE-ladder boundary (2.0 × 2.0 → 4), where
            # one ulp flips tempo_prescricao.  The integer sum is exact, so the
            # factor is idempotent under re-partitioning.
            F.exp(F.sum(F.round(F.log("max_pena") * 1e9).cast("bigint")) / 1e9)
            .alias("fator_pena"),
            F.concat_ws(", ", F.array_sort(F.collect_list("nome_delito")))
            .alias("delitos_multiplicadores"),
        )
        .withColumnRenamed("docu_dk", "f_docu_dk")
    )
    pena_fatorada = F.when(F.col("fator_pena").isNotNull(),
                           F.col("max_pena") * F.col("fator_pena")) \
                     .otherwise(F.col("max_pena"))
    ladder = (
        F.when(F.col("max_pena_fatorado") < 1, 3)
        .when(F.col("max_pena_fatorado") < 2, 4)
        .when(F.col("max_pena_fatorado") < 4, 8)
        .when(F.col("max_pena_fatorado") < 8, 12)
        .when(F.col("max_pena_fatorado") < 12, 16)
        .otherwise(20)
    )
    return (
        doc_pena.filter("multiplicador = 0")
        .join(fatores, F.col("f_docu_dk") == F.col("docu_dk"), "left")
        .drop("f_docu_dk")
        .withColumn("max_pena_fatorado", pena_fatorada)
        .withColumn("tempo_prescricao", ladder)
    )


def _with_age_factor(ctx: AlertContext, doc_prescricao: DataFrame) -> DataFrame:
    """Stage 3 (prcr:81-107): accused under 21 at the fact date or over 70 now halve
    the prescription time; fans out one row per investigated person."""
    investigados = (
        doc_prescricao.select("docu_dk", F.col("docu_dt_fato").alias("dt_compare"))
        .join(ctx.table("exadata", "mcpr_personagem")
              .filter(F.col("pers_tppe_dk").isin(*codes.ACCUSED_ROLES))
              .select("pers_docu_dk", "pers_pesf_dk"),
              F.col("pers_docu_dk") == F.col("docu_dk"))
        .join(ctx.table("exadata", "mcpr_pessoa_fisica")
              .filter("pesf_nm_pessoa_fisica != 'MP'")
              .select("pesf_pess_dk", "pesf_nm_pessoa_fisica", "pesf_dt_nasc"),
              F.col("pers_pesf_dk") == F.col("pesf_pess_dk"))
        .select(
            "docu_dk",
            F.col("pesf_pess_dk").alias("investigado_pess_dk"),
            F.col("pesf_nm_pessoa_fisica").alias("investigado_nm"),
            F.add_months("pesf_dt_nasc", 21 * 12).alias("dt_21"),
            F.add_months("pesf_dt_nasc", 70 * 12).alias("dt_70"),
            "dt_compare",
        )
        .distinct()
        .withColumn(
            "fator_prescricao",
            F.when(~((F.col("dt_compare") >= F.col("dt_21"))
                     & (ctx.as_of_ts < F.col("dt_70"))), 0.5),
        )
        .withColumnRenamed("docu_dk", "i_docu_dk")
        .drop("dt_21", "dt_70", "dt_compare")
    )
    return (
        doc_prescricao.join(investigados, F.col("i_docu_dk") == F.col("docu_dk"), "left")
        .drop("i_docu_dk")
        .withColumn(
            "tempo_prescricao_fatorado",
            F.when(F.col("fator_prescricao").isNotNull(),
                   F.col("tempo_prescricao") * F.col("fator_prescricao"))
            .otherwise(F.col("tempo_prescricao")),
        )
        .withColumn("investigado_maior_70_menor_21", F.col("fator_prescricao").isNotNull())
    )


def _with_start_date(ctx: AlertContext, fatorado: DataFrame,
                     pena_rows: DataFrame) -> DataFrame:
    """Stages 4-5 (prcr:113-156): start-date priority — minor victim's 18th birthday
    (abuse cases) > ANPP plea-deal rescission date > fact date.

    The abuse-minor branch reads ``pena_rows`` (the pre-age-factor relation): it only
    needs (docu_dk, docu_dt_fato, abuso_menor), whose DISTINCT set is identical
    before and after the per-investigado fanout (prcr:128-144 joins the fanned-out
    view; result-equal, half the recompute)."""
    anpp = (
        ctx.view("vista").select("vist_dk", "vist_docu_dk")
        .join(ctx.table("exadata", "mcpr_andamento")
              .filter(F.col("year_month") >= 201901)
              .select("pcao_dk", "pcao_vist_dk", "pcao_dt_andamento"),
              F.col("pcao_vist_dk") == F.col("vist_dk"))
        .join(ctx.table("exadata", "mcpr_sub_andamento")
              .filter(F.col("stao_tppr_dk") == codes.ANPP_RESCISSION)
              .select("stao_pcao_dk"),
              F.col("stao_pcao_dk") == F.col("pcao_dk"))
        .select("vist_docu_dk", "pcao_dt_andamento")
    )
    abuso = (
        pena_rows.filter("abuso_menor = 1")
        .select("docu_dk", "docu_dt_fato").distinct()
        .join(ctx.table("exadata", "mcpr_personagem")
              .filter(F.col("pers_tppe_dk").isin(*codes.MINOR_VICTIM_ROLES))
              .select("pers_docu_dk", "pers_pesf_dk"),
              F.col("pers_docu_dk") == F.col("docu_dk"))
        .join(ctx.table("exadata", "mcpr_pessoa_fisica")
              .select("pesf_pess_dk", "pesf_dt_nasc"),
              F.col("pers_pesf_dk") == F.col("pesf_pess_dk"))
        .withColumn("dt_18", F.add_months("pesf_dt_nasc", 18 * 12).cast("timestamp"))
        .withColumn("dt_18", F.when(F.col("dt_18") > F.col("docu_dt_fato"),
                                    F.col("dt_18")))
        .groupBy(F.col("docu_dk").alias("m_docu_dk"))
        .agg(F.max("dt_18").alias("dt_18_anos"))
    )
    return (
        fatorado.join(anpp, F.col("vist_docu_dk") == F.col("docu_dk"), "left")
        .drop("vist_docu_dk")
        .join(abuso, F.col("m_docu_dk") == F.col("docu_dk"), "left")
        .drop("m_docu_dk")
        .withColumn(
            "dt_inicial_prescricao",
            F.when((F.col("dt_18_anos").isNotNull()) & (F.col("abuso_menor") == 1),
                   F.col("dt_18_anos"))
            .when(F.col("pcao_dt_andamento").isNotNull(), F.col("pcao_dt_andamento"))
            .otherwise(F.col("docu_dt_fato")),
        )
        .withColumnRenamed("dt_18_anos", "vitima_menor_mais_jovem_dt_18_anos")
        .withColumnRenamed("pcao_dt_andamento", "dt_acordo_npp")
    )


def _write_detail(ctx: AlertContext, tempo: DataFrame) -> None:
    """Explainability detail table (prcr:170-198)."""
    detail = tempo.select(
        F.col("docu_dk").alias("adpr_docu_dk"),
        F.col("investigado_pess_dk").alias("adpr_investigado_pess_dk"),
        F.col("investigado_nm").alias("adpr_investigado_nm"),
        F.col("nome_delito").alias("adpr_nome_delito"),
        F.col("id").alias("adpr_id_assunto"),
        F.col("artigo_lei").alias("adpr_artigo_lei"),
        F.col("abuso_menor").alias("adpr_abuso_menor"),
        F.col("max_pena").alias("adpr_max_pena"),
        F.col("delitos_multiplicadores").alias("adpr_delitos_multiplicadores"),
        F.col("fator_pena").alias("adpr_fator_pena"),
        F.col("max_pena_fatorado").alias("adpr_max_pena_fatorado"),
        F.col("tempo_prescricao").alias("adpr_tempo_prescricao"),
        F.col("investigado_maior_70_menor_21")
        .alias("adpr_investigado_prescricao_reduzida"),
        F.col("tempo_prescricao_fatorado").alias("adpr_tempo_prescricao_fatorado"),
        F.col("vitima_menor_mais_jovem_dt_18_anos")
        .alias("adpr_dt_18_anos_menor_vitima"),
        F.col("dt_acordo_npp").alias("adpr_dt_acordo_npp"),
        F.col("docu_dt_fato_original").alias("adpr_docu_dt_fato"),
        F.col("docu_dt_cadastro").alias("adpr_docu_dt_cadastro"),
        F.col("dt_inicial_prescricao").cast("string").alias("adpr_dt_inicial_prescricao"),
        F.col("data_prescricao").alias("adpr_dt_final_prescricao"),
        F.col("elapsed").alias("adpr_dias_prescrito"),
    )
    ctx.write_table("alertas", DETAIL_TABLE, detail.coalesce(4))


def alerta_prcr(ctx: AlertContext) -> DataFrame:
    doc_pena = _doc_pena(ctx)
    doc_prescricao = _with_prescription_time(doc_pena)
    fatorado = _with_age_factor(ctx, doc_prescricao)
    com_inicio = _with_start_date(ctx, fatorado, doc_prescricao)

    # Stage 6 (prcr:159-167): deadline = start + years·12 months; elapsed past it.
    # tempo_prescricao_fatorado·12 is always integral (years ∈ ladder × {1, 0.5}).
    # Cached for the detail write and the classification (prcr:167) through
    # memo.cached, so memo.clear() releases it and a later cold run recomputes it.
    tempo = memo.cached(
        com_inicio
        .withColumn(
            "data_prescricao",
            F.expr("cast(add_months(dt_inicial_prescricao, "
                   "cast(tempo_prescricao_fatorado * 12 as int)) as timestamp)"),
        )
        .withColumn("elapsed",
                    F.datediff(ctx.as_of_col, F.col("data_prescricao")).cast("int"))
        # Reuse verified (r6 plan audit): the classification plan reads this
        # stage via 14 InMemoryTableScans; the ~214 "Scan parquet" lines in the
        # formatted explain are the cache-POPULATION lineage reprinted under
        # each InMemoryRelation occurrence — an explain-text artifact, not
        # runtime re-reads.  Runtime = one population pass + cached reads, so
        # no checkpoint() is needed (checkpointing would add a disk write
        # without removing any executed scan).
    )
    _write_detail(ctx, tempo)

    # Stage 7 (prcr:200-237): per-crime status → per-doc min/max → PRCR1-4.
    status = (
        F.when(F.col("elapsed") > 0, 2)
        .when(F.col("elapsed") <= -ctx.prescricao_limiar, 0)
        .otherwise(1)
    )
    grouped = (
        tempo.withColumn("status_prescricao", status)
        .groupBy(
            F.col("docu_dk").alias("alrt_docu_dk"),
            F.col("docu_nr_mp").alias("alrt_docu_nr_mp"),
            F.col("docu_orgi_orga_dk_responsavel").alias("alrt_orgi_orga_dk"),
        )
        .agg(F.min("status_prescricao").alias("min_status"),
             F.max("status_prescricao").alias("max_status"),
             F.min("elapsed").alias("alrt_dias_referencia"))
    )
    sigla = (
        F.when(F.col("min_status") == 2, "PRCR1")   # all crimes prescribed
        .when(F.col("min_status") == 1, "PRCR2")    # all near prescription
        .when(F.col("max_status") == 2, "PRCR3")    # some prescribed
        .when(F.col("max_status") == 1, "PRCR4")    # some near prescription
    )
    out = (
        grouped.withColumn("alrt_sigla", sigla)
        .filter("alrt_sigla IS NOT NULL")
        .withColumn("alrt_key", uuidsha(F.col("alrt_docu_dk")))
    )
    return out.select("alrt_docu_dk", "alrt_docu_nr_mp", "alrt_orgi_orga_dk",
                      "alrt_dias_referencia", "alrt_sigla", "alrt_key")
