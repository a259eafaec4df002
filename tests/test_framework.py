"""Framework unit tests: key hashing, the cross-engine text primitives,
normalization contract, hist publication.

≙ SURVEY §5 item 2 — key construction (jobs.py:266-271), null-padding (jobs.py:273-274),
hist-partition merge (jobs.py:295-318) under first-run / same-day-rerun / next-day cases.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools

import duckdb
from pyspark.sql import functions as F

from alertas_spark.framework import engine, schemas
from alertas_spark.functions.keys import (alert_key, h60, h60_py, h60_sql,
                                          ln_uniform, ln_uniform_sql, uuidsha)
from alertas_spark.operators.textops import WS_RE, norm_text, words


def test_uuidsha_matches_reference_serialization(spark):
    """sha1(concat of canonical strings): NULL→'', timestamps→'yyyy-MM-dd HH:mm:ss',
    non-ascii stripped (≙ utils.py:26-43 limpa+uuidsha)."""
    df = spark.createDataFrame(
        [(1, "café", dt.datetime(2024, 1, 2, 3, 4, 5)), (2, None, None)],
        "a int, b string, c timestamp",
    ).select(uuidsha(F.col("a"), F.col("b"), F.col("c")).alias("k"))
    got = [r.k for r in df.collect()]
    assert got[0] == hashlib.sha1(b"1caf2024-01-02 03:04:05").hexdigest()
    assert got[1] == hashlib.sha1(b"2").hexdigest()


def test_alert_key_format(spark):
    df = spark.createDataFrame([(10, 77), (None, 77)], "k int, orga int").select(
        alert_key("VADF", F.col("k"), F.col("orga")).alias("ak"))
    assert [r.ak for r in df.collect()] == ["VADF.10.77", "VADF.KEYUNDEFINED.77"]


# --- the 60-bit md5 hash and the word/normalized-text primitives -------------
# Spark (h60, words, norm_text), DuckDB (h60_sql, the oracle spelling) and
# Python (h60_py) must agree bit for bit: every oracle and streaming gate
# relies on it.

#: the first key whose hash has its top bit (2^59) set — a value that would
#: overflow if a twin read 16 hex digits or a signed conversion crept in.
_HIGH_KEY = next(k for k in (f"high{i}" for i in itertools.count())
                 if h60_py(k) >= 1 << 59)
_H60_KEYS = ["", "plain ascii", "\x0b", "ção", "😀", "x" * 5000, _HIGH_KEY]
_H60_SALTS = ["", "ws:"]
_H60_MODS = [None, 13, 4096, 1 << 18, (1 << 31) - 1]
_H60_CASES = list(itertools.product(_H60_SALTS, _H60_MODS))


def _duck_rows(col_sql: list[str], values: list[str]) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    return con.execute(f"SELECT {', '.join(col_sql)} FROM t ORDER BY i").fetchall()


def test_h60_python_twin_is_the_md5_prefix():
    """The contract stated in keys.py: the first 15 hex digits of the md5 of
    the UTF-8 bytes, then the modulus."""
    for k, (salt, mod) in itertools.product(_H60_KEYS, _H60_CASES):
        h = int(hashlib.md5((salt + k).encode("utf-8")).hexdigest()[:15], 16)
        assert 0 <= h < 1 << 60
        assert h60_py(salt + k, mod) == (h if mod is None else h % mod)
    assert h60_py(_HIGH_KEY) >= 1 << 59


def test_h60_agrees_across_spark_duckdb_and_python(spark):
    df = spark.createDataFrame(list(enumerate(_H60_KEYS)), "i int, k string")
    got_spark = [tuple(r)[1:] for r in df.orderBy("i").select(
        "i", *[h60("k", salt, mod) for salt, mod in _H60_CASES]).collect()]
    got_duck = _duck_rows([h60_sql("k", salt, mod) for salt, mod in _H60_CASES],
                          _H60_KEYS)
    want = [tuple(h60_py(salt + k, mod) for salt, mod in _H60_CASES)
            for k in _H60_KEYS]
    assert got_spark == want
    assert got_duck == want


def test_h60_hashes_a_non_string_key_as_its_string_form(spark):
    row = spark.range(12345, 12346).select(
        h60("id", "mix:", 10_000).alias("h")).first()
    assert row.h == h60_py("mix:12345", 10_000)


def test_ln_uniform_agrees_across_engines(spark):
    """round(ln((h+1)/2^60)·1e9) on both engines, over the hashes of the
    keys plus both ends of [0, 2^60)."""
    hs = [h60_py(k) for k in _H60_KEYS] + [0, (1 << 60) - 1]
    df = spark.createDataFrame(list(enumerate(hs)), "i int, h bigint")
    got_spark = [r.q for r in df.orderBy("i").select(
        ln_uniform(F.col("h")).alias("q")).collect()]
    con = duckdb.connect()
    got_duck = [con.execute(f"SELECT {ln_uniform_sql(f'CAST({h} AS BIGINT)')}")
                .fetchone()[0] for h in hs]
    assert got_spark == got_duck
    assert got_spark[-1] == 0 and got_spark[-2] == -41_588_830_834


_ASCII_TEXTS = ["  Hello\tWORLD 42\x0bfoo-bar\n\nBaz9  ", "\x0b\tLead and Trail\x0b",
                "MiXeD 007 cAsE\r\nline\fend", "", "   ", "punct!!only??"]
_ORACLE_WORDS = "regexp_extract_all(lower(k), '[a-z0-9]+')"
_ORACLE_NORM = f"regexp_replace(trim(lower(k)), '{WS_RE}', ' ', 'g')"


def _spark_words_norm(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "i int, k string")
    return [(list(r.w), r.n) for r in df.orderBy("i").select(
        words("k").alias("w"), norm_text("k").alias("n")).collect()]


def test_words_and_norm_text_match_the_oracle_spelling(spark):
    got_duck = [(list(w), n) for w, n in
                _duck_rows([_ORACLE_WORDS, _ORACLE_NORM], _ASCII_TEXTS)]
    assert _spark_words_norm(spark, _ASCII_TEXTS) == got_duck
    assert got_duck[0] == (["hello", "world", "42", "foo", "bar", "baz9"],
                           "hello world 42 foo-bar baz9")


def test_words_and_norm_text_agree_on_dotted_capital_i(spark):
    """U+0130 lowers to i + U+0307 under Spark's full case mapping and to
    ``i`` under DuckDB's simple one; ``textops`` folds it to ``I`` first."""
    texts = ["İstanbul"]
    got_duck = [(list(w), n) for w, n in
                _duck_rows([_ORACLE_WORDS, _ORACLE_NORM], texts)]
    assert _spark_words_norm(spark, texts) == got_duck
    assert got_duck == [(["istanbul"], "istanbul")]


def test_normalize_pads_and_orders(spark):
    df = spark.createDataFrame([(5, 9)], "alrt_docu_dk int, alrt_orgi_orga_dk int")
    out = engine.normalize(df, "VADF", schemas.MGP)
    assert out.columns == [f.name for f in schemas.MGP.fields]
    row = out.collect()[0]
    assert row.alrt_sigla == "VADF"
    assert row.alrt_key == "VADF.KEYUNDEFINED.9"
    assert row.alrt_info_adicional is None  # null-padded


def test_normalize_null_orgao_gives_null_key(spark):
    """concat (not concat_ws) semantics: NULL órgão → NULL alrt_key (jobs.py:266-271)."""
    df = spark.createDataFrame([(5, None)], "alrt_docu_dk int, alrt_orgi_orga_dk int")
    assert engine.normalize(df, "X", schemas.MGP).collect()[0].alrt_key is None


def test_publish_hist_merge(ctx):
    """First publish creates snapshot+hist; same-month republish keeps one row per
    dt_calculo; prior-day rows of the month survive (jobs.py:295-318)."""
    spark = ctx.spark
    fam = "mmps_alertas_mgp"
    stage_name = engine._stage_name(fam, "VADF")

    def stage(rows):
        df = engine.normalize(
            spark.createDataFrame(rows, "alrt_docu_dk int, alrt_orgi_orga_dk int"),
            "VADF", schemas.MGP)
        ctx.drop_table("alertas", stage_name)
        ctx.write_table("alertas", stage_name, df, mode="append")

    stage([(1, 10), (2, 20)])
    engine.publish(ctx, fam, (stage_name,))
    assert ctx.table("alertas", fam).count() == 2
    hist = ctx.table("alertas", f"hist_{fam}")
    assert hist.count() == 2
    ym = ctx.as_of.strftime("%Y%m")
    assert {r.dt_partition for r in hist.select("dt_partition").collect()} == {ym}

    # simulate a prior-day run already in the month's partition
    prior = hist.withColumn("dt_calculo", F.lit("20240401"))
    ctx.write_table("alertas", f"hist_{fam}_prior", prior)
    prior_df = ctx.table("alertas", f"hist_{fam}_prior")
    ctx.drop_table("alertas", f"hist_{fam}")
    ctx.write_table("alertas", f"hist_{fam}", prior_df, partition_by="dt_partition")

    # same-day rerun with 3 rows: month partition = prior-day 2 + today 3
    stage([(1, 10), (2, 20), (3, 30)])
    engine.publish(ctx, fam, (stage_name,))
    hist2 = ctx.table("alertas", f"hist_{fam}")
    assert hist2.count() == 5
    assert hist2.filter(F.col("dt_calculo") == "20240401").count() == 2


def test_run_all_single_alert_end_to_end(ctx):
    """Mini e2e through run_all: compute VADF, stage, publish, types table."""
    engine.run_all(ctx, siglas=("VADF",))
    engine.generate_types_table(ctx)
    snap = ctx.table("alertas", "mmps_alertas_mgp")
    assert snap.count() > 0
    assert snap.filter("alrt_sigla != 'VADF'").count() == 0
    assert snap.filter("alrt_key NOT LIKE 'VADF.%'").count() == 0
    assert ctx.table("alertas", "mmps_alertas_tipos").count() == 25


def test_run_all_keeps_the_callers_tags_and_its_job_groups(ctx, monkeypatch):
    """A single-sigla batch stages under the alert's job group and publishes
    under the family's, its alert thread sees the caller's session tag, no
    "Tags will not be inherited" warning is raised, and the caller's own job
    group is left as it was."""
    import warnings

    spark, sc = ctx.spark, ctx.spark.sparkContext
    seen: list[set] = []
    run_alert = engine.run_alert

    def probe(c, definition):
        seen.append(set(spark.getTags()))
        run_alert(c, definition)

    monkeypatch.setattr(engine, "run_alert", probe)
    sc.setJobGroup("caller", "caller")
    spark.addTag("nightly-caller")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            engine.run_all(ctx, siglas=("VADF",), quiet=True)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        spark.removeTag("nightly-caller")
        sc._jsc.clearJobGroup()
    assert seen == [{"nightly-caller"}]
    assert not [w for w in caught if "Tags will not" in str(w.message)]
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("VADF")
    assert tracker.getJobIdsForGroup("publish:mmps_alertas_mgp")


def test_concurrent_staging_equals_serial(ctx):
    """The concurrent compute phase (per-sigla staging tables unioned at
    publish) publishes exactly the rows of each alert's own normalized
    output — and leaves no staging tables behind."""
    fam = "mmps_alertas_mgp"
    siglas = ("VADF", "OUVI")
    defs = engine.registry()

    engine.run_all(ctx, siglas=siglas, quiet=True)
    published = {tuple(r) for r in ctx.table("alertas", fam).collect()}
    expected = {tuple(r) for s in siglas
                for r in engine.normalize(defs[s].builder(ctx), s,
                                          defs[s].family_schema).collect()}

    assert published == expected and published
    # per-sigla staging cleaned up by publish
    for s in siglas:
        assert not ctx.table_exists("alertas", engine._stage_name(fam, s))


def test_publication_runs_every_family_at_once(ctx, monkeypatch):
    """Publication starts every family in one wave, whatever the compute
    pool's size: with a pool of 1 and three families, each stubbed
    publication waits on a three-party barrier, which only breaks (after
    10 s, with ``BrokenBarrierError``) when fewer than three run at once."""
    import threading

    barrier = threading.Barrier(3, timeout=10)
    published: list[str] = []

    def publish(c, family_table, sigla_tables):
        barrier.wait()
        published.append(family_table)

    monkeypatch.setattr(engine, "_batch_pool_size", lambda spark: 1)
    monkeypatch.setattr(engine, "run_alert", lambda c, definition: None)
    monkeypatch.setattr(engine, "publish", publish)
    engine.run_all(ctx, siglas=("VADF", "RO", "COMP"), quiet=True)
    assert sorted(published) == ["mmps_alertas_comp", "mmps_alertas_mgp",
                                 "mmps_alertas_ro"]


def test_types_table_is_a_jvm_local_scan_of_the_alert_types(ctx, monkeypatch):
    """generate_types_table hands write_table a frame that plans as a
    ``LocalTableScan`` (no ``Scan ExistingRDD``, so no Python worker), whose
    two columns are nullable strings and whose rows are exactly
    ``schemas.ALERT_TYPES``, in order; the published table reads back the
    same rows."""
    from pyspark.sql.types import StringType

    frames = []
    write_table = ctx.write_table

    def capture(schema, name, df, **kw):
        frames.append(df)
        write_table(schema, name, df, **kw)

    monkeypatch.setattr(ctx, "write_table", capture)
    engine.generate_types_table(ctx)
    (df,) = frames
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [(f.name, f.dataType, f.nullable) for f in df.schema.fields] == [
        ("alrt_sigla", StringType(), True),
        ("alrt_descricao", StringType(), True)]
    assert [tuple(r) for r in df.collect()] == schemas.ALERT_TYPES
    assert sorted(tuple(r) for r in ctx.table(
        "alertas", "mmps_alertas_tipos").collect()) == sorted(schemas.ALERT_TYPES)
