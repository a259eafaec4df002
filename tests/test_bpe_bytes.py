"""Byte-fallback BPE (operators/bpe_bytes.py): UTF-8 atom decomposition,
multi-byte merge training, full-domain coverage, and tier agreement."""

from __future__ import annotations

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _write_docs(tmp_path, texts, langs=None):
    pd.DataFrame({
        "doc_id": list(range(1, len(texts) + 1)),
        "text": texts,
        "lang": langs or ["en"] * len(texts),
        "source": ["t"] * len(texts),
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_hex_atoms_hand_computed():
    """The atom function: UTF-8 bytes as uppercase hex pairs, every width
    (1/2/3/4-byte sequences and a mixed-script word) pinned by hand."""
    from alertas_spark.operators.bpe_bytes import _hex_atoms

    assert _hex_atoms("a") == ["61"]
    assert _hex_atoms("é") == ["C3", "A9"]          # 2-byte U+00E9
    assert _hex_atoms("中") == ["E4", "B8", "AD"]    # 3-byte U+4E2D
    assert _hex_atoms("😀") == ["F0", "9F", "98", "80"]  # 4-byte U+1F600
    assert _hex_atoms("a中") == ["61", "E4", "B8", "AD"]  # mixed ASCII+CJK
    assert _hex_atoms("的") == ["E7", "9A", "84"]


def test_trainer_hand_computed_multibyte():
    """Tiny multi-byte corpus where every round is hand-checkable: 3-byte
    CJK chars compose across merge rounds, ties break on (lhs, rhs), and
    ASCII and multi-byte words coexist in one vocabulary."""
    from alertas_spark.operators.bpe import _train_merges_py
    from alertas_spark.operators.bpe_bytes import _hex_atoms

    # '中中' atoms: [E4,B8,AD,E4,B8,AD]; pairs per occ: (E4,B8)x2, (B8,AD)x2,
    # (AD,E4)x1.  freq 3 -> counts 6/6/3; 'ab' -> (61,62) 2.
    merges = _train_merges_py([("中中", 3), ("ab", 2)],
                              atoms=_hex_atoms, n_merges=16)
    # r1: 6-6 tie, 'B8' < 'E4' -> (B8,AD); r2: (E4,B8AD) 6;
    # r3: (E4B8AD,E4B8AD) 3 (one token-level pair per occurrence);
    # r4: (61,62) 2; r5: no pairs anywhere -> stop.
    assert merges == [(1, "B8", "AD", 6), (2, "E4", "B8AD", 6),
                      (3, "E4B8AD", "E4B8AD", 3), (4, "61", "62", 2)]


def test_apply_merges_bytes_roundtrip():
    """Applying the trained merges re-tokenizes multi-byte words exactly:
    token hex concatenation reconstructs the word's full byte stream."""
    from alertas_spark.operators.bpe import _apply_merges, _train_merges_py
    from alertas_spark.operators.bpe_bytes import _hex_atoms

    merges_full = _train_merges_py([("中中", 3), ("ab", 2)],
                                   atoms=_hex_atoms, n_merges=16)
    ms = [(m[1], m[2]) for m in merges_full]
    toks = _apply_merges("中中", ms, atoms=_hex_atoms)
    assert toks == ["E4B8ADE4B8AD"]
    # unseen word: falls back to byte atoms + any applicable merges
    toks = _apply_merges("中x", ms, atoms=_hex_atoms)
    assert "".join(toks) == "中x".encode("utf-8").hex().upper()
    # EVERY string tokenizes — no empty result for non-Latin input
    assert len(_apply_merges("汉字", ms, atoms=_hex_atoms)) >= 1


def test_full_domain_coverage(spark, tmp_path):
    """The byte tier counts EVERY document with a non-whitespace character —
    including punctuation-only and non-Latin docs the ASCII tier excludes."""
    from alertas_spark.registry import load_all

    sf = _write_docs(tmp_path, ["hello world", "!!! ???", "中文 文档", "😀"])
    reg = load_all()
    byte_rows = {r["doc_id"]: (r["n_words"], r["n_tokens"])
                 for r in reg["bpe_bytes_token_count"]
                 .builder(spark, sf).collect()}
    # all four docs covered; the ASCII tier covers only 1 (and 3's words
    # would be empty)
    assert set(byte_rows) == {1, 2, 3, 4}
    assert byte_rows[1][0] == 2 and byte_rows[2][0] == 2
    assert byte_rows[3] == (2, byte_rows[3][1])
    # token counts bounded by byte counts (merges only shrink)
    assert 1 <= byte_rows[4][1] <= 4  # emoji = 4 bytes
    ascii_rows = {r["doc_id"] for r in reg["bpe_token_count"]
                  .builder(spark, sf).collect()}
    assert ascii_rows == {1}


def test_tiers_agree_on_testdata(spark):
    """The Arrow tier and the codegen replace-chain tier are the same
    function — cell-identical output on the real fixture corpus (with the
    multilingual derivation active for non-en docs)."""
    from alertas_spark.registry import load_all

    reg = load_all()
    a = sorted(map(tuple, reg["bpe_bytes_token_count"]
                   .builder(spark, SF).collect()))
    b = sorted(map(tuple, reg["bpe_bytes_token_count_builtin"]
                   .builder(spark, SF).collect()))
    assert a == b and len(a) > 0


def test_trained_table_contains_multibyte_merges(spark):
    """On the fixture corpus the derived multilingual view must push real
    multi-byte sequences INTO the trained table — the property separating
    byte-fallback BPE from an ASCII tokenizer with hex-shaped atoms.  Pins
    the 2-byte letters (C3A9 é / C3A8 è / C3BC ü) and the two-round
    composition of 3-byte 的 (9A+84, then E7+9A84)."""
    from alertas_spark.registry import load_all

    rows = (load_all()["bpe_bytes_train_merges"].builder(spark, SF).collect())
    merged = {(r["lhs"], r["rhs"]) for r in rows}
    assert ("C3", "A9") in merged and ("C3", "A8") in merged \
        and ("C3", "BC") in merged
    assert ("9A", "84") in merged and ("E7", "9A84") in merged
    # ranks dense, freqs positive, ASCII merges coexist
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["freq"] > 0 for r in rows)
    assert any(all(int(x[i:i + 2], 16) < 128
                   for x in (r["lhs"], r["rhs"])
                   for i in range(0, len(x), 2)) for r in rows)


def test_census_reports_multibyte_tokens(spark):
    """The byte census must show n_bytes > 1 tokens (the fallback engaged)
    and n_bytes must equal hex length / 2 for every row."""
    from alertas_spark.registry import load_all

    rows = load_all()["bpe_bytes_vocab_census"].builder(spark, SF).collect()
    assert len(rows) > 0
    assert all(r["n_bytes"] == len(r["token"]) // 2 for r in rows)
    assert any(r["n_bytes"] > 1 for r in rows)


def test_token_counts_bounded_by_bytes(spark, tmp_path):
    """For every document: 1 <= n_tokens <= total UTF-8 bytes of its words
    (merges only ever shrink the byte-atom floor)."""
    from alertas_spark.registry import load_all

    texts = ["héllo wörld", "数据 管道 质量", "mixed ascii 和 中文", "😀😀"]
    sf = _write_docs(tmp_path, texts)
    out = {r["doc_id"]: r for r in load_all()["bpe_bytes_token_count"]
           .builder(spark, sf).collect()}
    for i, t in enumerate(texts, start=1):
        words = t.split()
        n_bytes = sum(len(w.encode("utf-8")) for w in words)
        assert out[i]["n_words"] == len(words)
        assert len(words) <= out[i]["n_tokens"] <= n_bytes


def test_pack_sequences_bpe_bytes_budgets_full_domain(spark):
    """Byte-tier packing budgets every document by its REAL byte-token count
    — n_tokens matches bpe_bytes_token_count per doc, byte counts dominate
    the ASCII tier's on non-en (marker-suffixed) docs, and pack_id is the
    floor-bucket of the running per-source total."""
    from collections import defaultdict

    from alertas_spark.operators.packing import PACK_BUDGET
    from alertas_spark.registry import load_all

    reg = load_all()
    packs = reg["pack_sequences_bpe_bytes"].builder(spark, SF).collect()
    counts = {r["doc_id"]: r["n_tokens"]
              for r in reg["bpe_bytes_token_count"]
              .builder(spark, SF).collect()}
    assert {r["doc_id"] for r in packs} == set(counts)
    ascii_counts = {r["doc_id"]: r["n_tokens"]
                    for r in reg["bpe_token_count"]
                    .builder(spark, SF).collect()}
    per_source = defaultdict(list)
    dominates = 0
    for r in packs:
        assert r["n_tokens"] == counts[r["doc_id"]]
        # the byte domain is a superset: byte tokens >= ASCII tokens would
        # not hold in general (different merges), but every doc must budget
        # SOMETHING and the derived multilingual docs must budget MORE under
        # bytes than the ASCII tier saw (their suffixes are invisible there)
        assert r["n_tokens"] >= 1
        if r["n_tokens"] > ascii_counts.get(r["doc_id"], 0):
            dominates += 1
        per_source[r["source"]].append(
            (r["doc_id"], r["n_tokens"], r["pack_id"]))
    assert dominates > 0
    for rows in per_source.values():
        rows.sort()
        cum = 0
        for _, n_tokens, pack_id in rows:
            assert pack_id == cum // PACK_BUDGET
            cum += n_tokens


def test_detokenize_roundtrip_lossless_on_nonascii(spark, tmp_path):
    """Detokenization reassembles EVERY word byte-for-byte — on genuinely
    non-ASCII raw text (CJK, diacritics, emoji, mixed scripts), across the
    Python-apply/JVM-reassemble seam."""
    from alertas_spark.registry import load_all

    texts = ["héllo wörld tëst " * 10, "数据 管道 质量 数据 " * 10,
             "mixed ascii 和 中文 😀 tokens " * 10]
    sf = _write_docs(tmp_path, texts)
    rows = (load_all()["bpe_bytes_detokenize_roundtrip"]
            .builder(spark, sf).collect())
    assert len(rows) == 3
    assert all(r["roundtrip_ok"] for r in rows)
    assert all(r["n_tokens"] >= r["n_words"] >= 1 for r in rows)


def test_fertility_higher_for_multibyte_langs(spark):
    """On the derived corpus, every non-en lang carries multi-byte marker
    words, so its bytes-per-word — and with a shared merge table its
    tokens-per-word — must exceed en's: the fertility signal the metric
    exists to surface."""
    from alertas_spark.registry import load_all

    rows = {r["lang"]: r for r in
            load_all()["bpe_bytes_fertility"].builder(spark, SF).collect()}
    assert set(rows) >= {"en", "zh", "es", "de", "fr"}
    for lang in ("zh", "es", "de", "fr"):
        assert rows[lang]["fertility"] > rows["en"]["fertility"], lang
    for r in rows.values():
        assert r["fertility"] >= 1.0  # every word costs >= 1 token


def test_vertical_tab_splits_identically_cross_engine(spark, tmp_path):
    """U+000B is the one character in Java's and RE2's \\s symmetric
    difference; the explicit NONWS_RE class must make both engines split on
    it identically — pinned by running the real oracle comparison on a
    document containing a vertical tab."""
    import duckdb

    from alertas_spark.registry import load_all

    sf = _write_docs(tmp_path, ["alpha\x0bbeta gamma", "plain words here"])
    reg = load_all()
    q = reg["bpe_bytes_token_count"]
    got = sorted((r["doc_id"], r["n_words"], r["n_tokens"])
                 for r in q.builder(spark, sf).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    want = sorted(map(tuple, con.execute(q.oracle).fetchall()))
    assert got == want
    # Java \s would have made 'alpha\x0bbeta' two words; the explicit class
    # splits it on BOTH engines (vtab is a separator in the unified set)
    assert got[0][1] == 3


def _model_consumers(model):
    """Two consumers of one tokenizer model: UDF constructors and/or census
    builders (a builder constructs its UDF eagerly)."""
    from alertas_spark.operators import bpe, bpe_bytes, ulm, wordpiece
    from alertas_spark.registry import load_all

    reg = load_all()
    return {
        "bpe": (bpe.ntok_udf, reg["bpe_vocab_census"].builder),
        "bpe_bytes": (bpe_bytes.ntok_udf, bpe_bytes.toks_udf),
        "wordpiece": (wordpiece.wp_ntok_udf,
                      reg["wordpiece_vocab_census"].builder),
        "ulm": (ulm.ulm_ntok_udf, reg["ulm_vocab_census"].builder),
    }[model]


@pytest.mark.parametrize("model", ["bpe", "bpe_bytes", "wordpiece", "ulm"])
def test_merge_broadcast_is_shared_across_udf_constructors(spark, monkeypatch,
                                                           model):
    """Every consumer of a tokenizer model shares ONE ``sc.broadcast`` per
    session per corpus (``memo.model_udf``): building two consumers ships
    the model once, and ``memo.clear()`` (bench cold protocol) releases it,
    so the next constructor ships a fresh copy."""
    from pyspark import SparkContext

    from alertas_spark.operators import memo

    shipped = []
    real = SparkContext.broadcast
    monkeypatch.setattr(SparkContext, "broadcast",
                        lambda sc, v: shipped.append(v) or real(sc, v))
    first, second = _model_consumers(model)
    memo.clear()
    try:
        first(spark, SF)
        second(spark, SF)
        assert len(shipped) == 1
        memo.clear()
        first(spark, SF)
        assert len(shipped) == 2
    finally:
        memo.clear()
