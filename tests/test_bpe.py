"""BPE subword tokenizer (operators/bpe.py): trainer determinism, canonical
merge-application semantics, tier agreement, and the hand-computed contract."""

from __future__ import annotations

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _write_docs(tmp_path, texts):
    pd.DataFrame({
        "doc_id": list(range(1, len(texts) + 1)),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["t"] * len(texts),
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_replace_pass_equals_canonical_single_merge():
    """The double-separator encoding's ONE replace pass must equal canonical
    BPE single-merge application (left-to-right, non-overlapping at token
    level, both sides token-anchored) — every edge shape pinned."""
    cases = [
        (["a", "b", "a", "b"], ("a", "b"), ["ab", "ab"]),   # consecutive
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),          # run
        (["x", "a", "b", "x"], ("a", "b"), ["x", "ab", "x"]),
        (["ab", "a", "b"], ("a", "b"), ["ab", "ab"]),        # no lhs-prefix FP
        (["xa", "a"], ("a", "a"), ["xa", "a"]),              # no mid-token FP
        (["b", "a", "b", "a"], ("b", "a"), ["ba", "ba"]),
        (["ab", "ab", "ab"], ("ab", "ab"), ["abab", "ab"]),
    ]
    for toks, (lhs, rhs), want in cases:
        s = "||" + "||".join(toks) + "||"
        got = s.replace(f"|{lhs}||{rhs}|", f"|{lhs}{rhs}|").split("||")[1:-1]
        assert got == want, (toks, lhs, rhs, got, want)


def test_trainer_hand_computed():
    """Tiny corpus where every round is hand-checkable, including a count tie
    broken by (lhs, rhs) and early stop when no pairs remain."""
    from alertas_spark.operators.bpe import _train_merges_py

    # vocabulary: abab x3, cd x3
    merges = _train_merges_py([("abab", 3), ("cd", 3)])
    # r1: (a,b) 2 per abab -> 6 beats (b,a) 3 and (c,d) 3
    # r2: abab is now [ab, ab] -> (ab,ab) 3 TIES (c,d) 3, 'ab' < 'c' wins
    # r3: (c,d) 3; r4: no pairs anywhere -> stop at 3 merges
    assert merges == [(1, "a", "b", 6), (2, "ab", "ab", 3), (3, "c", "d", 3)]


def test_train_query_and_token_tiers_hand_computed(spark, tmp_path):
    from alertas_spark.registry import load_all

    sf = _write_docs(tmp_path, ["abab abab cd", "abab cd cd"])
    reg = load_all()
    got = [(r["rank"], r["lhs"], r["rhs"], r["freq"])
           for r in reg["bpe_train_merges"].builder(spark, sf).collect()]
    assert got == [(1, "a", "b", 6), (2, "ab", "ab", 3), (3, "c", "d", 3)]
    # post-merge: 'abab' and 'cd' are both single tokens
    for tier in ("bpe_token_count", "bpe_token_count_builtin"):
        out = {r["doc_id"]: (r["n_words"], r["n_tokens"])
               for r in reg[tier].builder(spark, sf).collect()}
        assert out == {1: (3, 3), 2: (3, 3)}, tier
    # census: both words collapse to single tokens; (occ DESC, token) order
    census = [tuple(r) for r in
              reg["bpe_vocab_census"].builder(spark, sf).collect()]
    assert census == [("abab", 3, 1), ("cd", 3, 1)]


def test_tiers_agree_on_testdata(spark):
    """The Arrow tier and the codegen replace-chain tier are the same
    function — cell-identical output on the real fixture corpus."""
    from alertas_spark.registry import load_all

    reg = load_all()
    a = sorted(map(tuple, reg["bpe_token_count"].builder(spark, SF).collect()))
    b = sorted(map(tuple,
                   reg["bpe_token_count_builtin"].builder(spark, SF).collect()))
    assert a == b and len(a) > 0


def test_merges_compose_multichar_tokens(spark):
    """Training on the real corpus must produce at least one merge whose lhs
    or rhs is itself a merged (multi-char) token — i.e. merges COMPOSE, the
    property separating BPE from a pair-frequency table."""
    from alertas_spark.registry import load_all

    rows = (load_all()["bpe_train_merges"].builder(spark, SF).collect())
    assert any(len(r["lhs"]) > 1 or len(r["rhs"]) > 1 for r in rows)
    # freq column is a positive weighted pair count; ranks are 1..n dense
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["freq"] > 0 for r in rows)


def test_token_count_excludes_wordless_docs(spark, tmp_path):
    """Documents with no [a-z0-9]+ word have nothing to tokenize and are
    excluded — the stated (and oracle-join) contract."""
    from alertas_spark.registry import load_all

    sf = _write_docs(tmp_path, ["hello world", "!!! ???", "HELLO"])
    out = {r["doc_id"]: (r["n_words"], r["n_tokens"])
           for r in load_all()["bpe_token_count"].builder(spark, sf).collect()}
    assert set(out) == {1, 3}
    assert out[1][0] == 2 and out[3][0] == 1
    # subword counts never undercut 1 or exceed word length
    assert 1 <= out[3][1] <= len("hello")


@pytest.mark.parametrize("n", [8])
def test_vocab_cutoff_is_deterministic_under_partitioning(spark, tmp_path, n):
    """Same corpus, different shuffle partitioning -> identical merge table
    (the freq DESC, word ASC cutoff and every tie-break are total orders)."""
    from alertas_spark.operators import memo
    from alertas_spark.registry import load_all

    sf = _write_docs(tmp_path, ["the cat sat on the mat " * 3,
                                "a cat and a hat " * 4])
    reg = load_all()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for parts in ("1", str(n)):
            memo.clear()
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            results.append([tuple(r) for r in
                            reg["bpe_train_merges"].builder(spark, sf)
                            .collect()])
        assert results[0] == results[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        memo.clear()


def test_pack_sequences_bpe_consistent_with_token_counts(spark):
    """pack_sequences_bpe's n_tokens must equal bpe_token_count's per doc,
    never exceed the regex word count (merges only shrink), and pack_id must
    be the floor-bucket of the running per-source total."""
    from collections import defaultdict

    from alertas_spark.operators.packing import PACK_BUDGET
    from alertas_spark.registry import load_all

    reg = load_all()
    packs = reg["pack_sequences_bpe"].builder(spark, SF).collect()
    counts = {r["doc_id"]: (r["n_words"], r["n_tokens"])
              for r in reg["bpe_token_count"].builder(spark, SF).collect()}
    assert {r["doc_id"] for r in packs} == set(counts)
    per_source = defaultdict(list)
    for r in packs:
        n_words, n_tokens = counts[r["doc_id"]]
        assert r["n_tokens"] == n_tokens
        # each word is >= 1 token, so the subword total bounds below by words
        assert 1 <= n_words <= n_tokens
        per_source[r["source"]].append((r["doc_id"], n_tokens, r["pack_id"]))
    for rows in per_source.values():
        rows.sort()
        cum = 0
        for _, n_tokens, pack_id in rows:
            assert pack_id == cum // PACK_BUDGET
            cum += n_tokens


# ---------------------------------------------------------------------------
# ranked apply ≡ replace chain (the production-vocabulary fast path)
# ---------------------------------------------------------------------------

def _both(word, merges, atoms=list):
    from alertas_spark.operators.bpe import (_apply_merges,
                                             _apply_merges_ranked,
                                             _merge_ranks)

    slow = _apply_merges(word, merges, atoms=atoms)
    fast = _apply_merges_ranked(word, merges, _merge_ranks(merges),
                                atoms=atoms)
    assert fast == slow, (word, merges, slow, fast)
    return slow


def test_ranked_apply_equals_chain_edge_shapes():
    # overlap: left-to-right non-overlapping
    assert _both("aaa", [("a", "a")]) == ["aa", "a"]
    # consecutive occurrences both merge in one rank pass
    assert _both("abab", [("a", "b")]) == ["ab", "ab"]
    # cascade across ranks
    assert _both("abc", [("a", "b"), ("ab", "c")]) == ["abc"]
    # ADVERSARIAL: rank 0 references rank 1's product — the chain has already
    # passed rank 0 when "cd" exists, so (cd, e) must NOT merge; the ranked
    # apply's floor reproduces that (without the floor it would merge)
    assert _both("cde", [("cd", "e"), ("c", "d")]) == ["cd", "e"]
    # duplicate pair in a padded table: first rank wins, second is inert
    assert _both("xy", [("x", "y"), ("x", "y")]) == ["xy"]
    # non-matching filler ranks cost nothing and change nothing
    fill = [(f"zz{i}", "qq") for i in range(50)]
    assert _both("abab", fill + [("a", "b")] + fill) == ["ab", "ab"]


def test_ranked_apply_equals_chain_property():
    """Randomized sweep: arbitrary words over a pipe-free alphabet, merge
    tables drawn from the word's own adjacent pairs (so merges actually fire)
    plus noise pairs, both atom conventions (chars / UTF-8 hex pairs)."""
    import random

    from alertas_spark.operators.bpe_bytes import _hex_atoms

    rng = random.Random(20260815)
    alphabet = "abcd01"
    for trial in range(300):
        n = rng.randint(1, 12)
        word = "".join(rng.choice(alphabet) for _ in range(n))
        atoms = _hex_atoms if trial % 2 else list
        toks = atoms(word)
        pairs = list(zip(toks, toks[1:]))
        merges = []
        for _ in range(rng.randint(0, 8)):
            if pairs and rng.random() < 0.7:
                merges.append(rng.choice(pairs))
            else:
                merges.append((rng.choice(alphabet) * 2, rng.choice(alphabet)))
            # occasionally a pair built from a possible FUTURE product, the
            # floor-semantics shape
            if merges and rng.random() < 0.3:
                lhs, rhs = merges[-1]
                merges.append((lhs + rhs, rng.choice(toks)))
                rng.shuffle(merges)
        _both(word, merges, atoms=atoms)


def test_tampered_merge_artifact_is_refused_before_the_pull(spark, tmp_path):
    """The merge table reaches the driver through ``bounded_rows``: a store
    artifact holding more ranks than the trainer can emit (N_MERGES + 5
    rows, ``_SUCCESS`` present) makes ``bpe_token_count``'s builder raise
    instead of pulling and broadcasting it."""
    from alertas_spark.operators import artifacts, memo
    from alertas_spark.operators.bpe import CODE_VERSION, N_MERGES
    from alertas_spark.registry import load_all

    root = str(tmp_path)
    version = f"{CODE_VERSION}-{artifacts.dataset_fingerprint(SF, 'documents')}"
    (spark.createDataFrame(
        [(r, "a", "b", 1) for r in range(1, N_MERGES + 6)],
        "rank int, lhs string, rhs string, freq bigint")
     .write.parquet(artifacts.artifact_path(root, "bpe_merges", version)))
    assert artifacts.exists(spark, root, "bpe_merges", version)
    memo.clear()
    spark.conf.set(artifacts.CONF_KEY, root)
    try:
        with pytest.raises(ValueError, match="bpe_merges"):
            load_all()["bpe_token_count"].builder(spark, SF)
    finally:
        spark.conf.unset(artifacts.CONF_KEY)
        memo.clear()
