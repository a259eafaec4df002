"""Multimodal codec pipeline + the oracle's ASCII assumption.

Every declared multimodal query renders documents as REAL media payloads
(PNG, RIFF/WAVE, RIFF/AVI) and decodes them back with real parsers through
one per-row stage harness.  These tests pin the codecs, the stages' corrupt-
payload contract and the harness's Arrow plumbing.  The DuckDB oracles
compare the pipeline's byte-level arithmetic against character-level SQL,
which is only valid while the fixture text is pure ASCII — pinned here so
the assumption is checked, not silent.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from alertas_spark.operators.multimodal import (FEATURES_SCHEMA, FRAME_SCHEMA,
                                                MEDIA_SCHEMA, PNG_W,
                                                RESIZED_SCHEMA,
                                                ROUNDTRIP_SCHEMA,
                                                TARGET_BYTES, _per_payload,
                                                png_features, png_frames,
                                                png_resize, png_verify,
                                                render_png, with_png_media)
from alertas_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_default_decoder_is_the_real_png_codec(spark):
    """The features stage runs the REAL PNG decoder (no stub anywhere on the
    declared path): features carry genuine raster geometry and pixel hashes."""
    docs = load_table(spark, SF, "documents")
    out = _per_payload(with_png_media(docs), png_features, FEATURES_SCHEMA)
    assert set(out.columns) == {"doc_id", "width", "height", "mode", "px_md5",
                                "px_mean", "n_source_bytes"}
    rows = out.orderBy("doc_id").limit(5).collect()
    assert rows
    for r in rows:
        assert r["width"] == PNG_W and r["mode"] == "L"
        assert r["height"] == max(1, -(-r["n_source_bytes"] // PNG_W))
        assert len(r["px_md5"]) == 32


def test_fixture_text_is_ascii(spark):
    # the DuckDB oracles use character-based strlen/substring against the
    # operator's byte slicing — valid only while every fixture document is ASCII
    for sf in ("sf0.001", "sf0.01"):
        docs = load_table(spark, f"/root/testdata/{sf}", "documents")
        n_non_ascii = docs.filter(
            F.octet_length("text") != F.length("text")).count()
        assert n_non_ascii == 0, f"{sf}: {n_non_ascii} non-ASCII documents"


def test_ascii_contract_symmetric_exclusion(spark, tmp_path):
    """A non-ASCII document is excluded IDENTICALLY by the Spark builder and
    the DuckDB oracle for every byte-operator/character-oracle pair — the
    module-wide ascii_docs / ASCII_DOCS_SQL contract (not just the video
    tier), so a future non-ASCII fixture shifts coverage symmetrically
    instead of hash-mismatching on byte-boundary drift."""
    import duckdb
    import pandas as pd

    from alertas_spark.registry import load_all

    texts = ["plain ascii doc " * 20,      # 320 chars: covers the video tier
             "héllo wörld 中文 😀 " * 20]   # multi-byte: must drop everywhere
    pd.DataFrame({
        "doc_id": [1, 2], "text": texts, "lang": ["en", "en"],
        "source": ["t", "t"], "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    sf = str(tmp_path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    reg = load_all()
    for name in ("multimodal_decode_features", "multimodal_frame_sample",
                 "multimodal_resize", "multimodal_png_roundtrip",
                 "multimodal_audio_features", "multimodal_video_features"):
        got = {r["doc_id"] for r in reg[name].builder(spark, sf).collect()}
        want = {r[0] for r in con.execute(
            f"SELECT DISTINCT doc_id FROM ({reg[name].oracle})").fetchall()}
        assert got == want == {1}, (name, got, want)


def test_resize_is_exact_target_size_and_composes_with_decode(spark):
    # binary→binary: every non-empty payload resamples to exactly TARGET_BYTES
    # pixels re-encoded as a REAL PNG, empty stays empty, and the output
    # payload decodes again (the whole point of a transform stage)
    from alertas_spark.operators.png_codec import decode_png

    docs = load_table(spark, SF, "documents")
    rows = _per_payload(with_png_media(docs), png_resize,
                        RESIZED_SCHEMA).collect()
    assert rows
    for r in rows:
        assert r["resized_bytes"] == (TARGET_BYTES if r["orig_bytes"] > 0
                                      else 0)
        if r["orig_bytes"] > 0:
            px = decode_png(bytes(r["media"]))
            assert px.shape == (TARGET_BYTES // PNG_W, PNG_W, 1)


def test_png_codec_roundtrip_all_filters():
    """Pure-stdlib PNG codec: encode/decode roundtrip across every scanline
    filter type (None/Sub/Up/Average/Paeth) and channel count."""
    import numpy as np

    from alertas_spark.operators.png_codec import decode_png, encode_png

    rng = np.random.RandomState(7)
    for shape in [(1, 1), (5, 3), (16, 16), (7, 11, 3), (9, 4, 4)]:
        for ft in range(5):
            a = rng.randint(0, 256, size=shape, dtype=np.uint8)
            got = decode_png(encode_png(a, filter_type=ft))
            want = a[:, :, None] if a.ndim == 2 else a
            assert np.array_equal(got, want), (shape, ft)


def test_png_decode_rejects_malformed_payloads():
    import struct
    import numpy as np

    from alertas_spark.operators.png_codec import decode_png, encode_png

    good = encode_png(np.zeros((4, 4), np.uint8))
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # flip one IDAT byte -> CRC failure
    bad = bytearray(good)
    idat = good.index(b"IDAT")
    bad[idat + 6] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # declared-but-missing pixels
    with pytest.raises(ValueError):
        decode_png(good[:40])


def test_png_decode_truncated_inside_crc_raises_valueerror():
    """A buffer cut inside a chunk's 4 CRC bytes must still be ValueError
    (the seam contract), not struct.error escaping the filter."""
    import numpy as np

    from alertas_spark.operators.png_codec import decode_png, encode_png

    good = encode_png(np.zeros((4, 4), np.uint8))
    # cut two bytes into the IHDR chunk's CRC: 8 (sig) + 8 (len+tag) + 13 + 2
    for cut in (8 + 8 + 13 + 2, len(good) - 2):
        with pytest.raises(ValueError):
            decode_png(good[:cut])
    # cutting BEFORE a chunk header starts (dropping IEND wholesale) is
    # tolerated: all pixel data is already in hand — lenient like libpng
    assert decode_png(good[:len(good) - 12]).shape == (4, 4, 1)


#: stage → (output schema, its documented row for the corrupt payload of doc
#: 2, whose source is 3 bytes)
_NULL_ROWS = {
    png_features: (FEATURES_SCHEMA, (2, None, None, None, None, None, 3)),
    png_frames: (FRAME_SCHEMA, (2, None, None, None)),
    png_resize: (RESIZED_SCHEMA, (2, None, "image/png", None, None, None)),
    png_verify: (ROUNDTRIP_SCHEMA, (2, None, None, None, 3, False)),
}


@pytest.mark.parametrize("stage", list(_NULL_ROWS), ids=lambda f: f.__name__)
def test_corrupt_payload_yields_the_stage_null_row(spark, stage):
    """A corrupt PNG payload is data, not an infrastructure error: each
    decoding stage maps it to exactly its documented NULL row, and a valid
    payload in the SAME batch comes out as it does on its own."""
    schema, null_row = _NULL_ROWS[stage]
    text = "hello world, a valid payload"
    valid = (1, render_png(text.encode()), "image/png", len(text), text)
    corrupt = (2, b"corrupt png bytes", "image/png", 3, "abc")

    def run(rows):
        media = spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1)
        return sorted(map(tuple, _per_payload(media, stage, schema).collect()))

    alone = run([valid])
    assert alone and all(r[0] == 1 for r in alone)
    assert run([valid, corrupt]) == alone + [null_row]


def test_harness_derives_nullable_ints_and_allows_empty_batches(spark):
    """The harness types integer columns from the schema: NULL cells stay
    NULL and a BIGINT beyond 2^53 survives exactly (no float round-trip);
    a batch whose every row is excluded yields no rows, not an error."""
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("big", LongType()),
                         StructField("small", IntegerType())])
    big = 2 ** 62 + 1

    def stage(r):
        return [] if r.doc_id > 2 else [(r.doc_id, big if r.doc_id == 1
                                         else None, None)]

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "doc_id long")
    assert sorted(map(tuple, _per_payload(docs.coalesce(1), stage,
                                          schema).collect())) == \
        [(1, big, None), (2, None, None)]
    assert _per_payload(docs.filter("doc_id > 2"), stage,
                        schema).collect() == []


# ---------------------------------------------------------------------------
# REAL WAV audio tier (r11)
# ---------------------------------------------------------------------------


def test_audio_features_hand_computed(spark, tmp_path):
    import pandas as pd

    from alertas_spark.registry import load_all

    # doc 1: 4 chars 'a' (97): s = (97-128)*256 = -7936 each
    #   energy = 4 * 7936^2 = 251920384; 1 window, |s| >= 5120 -> not silent
    # doc 2: 'zz' (122): s = -1536, |s| < 5120 -> ONE silent window
    # doc 3: empty -> excluded
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["aaaa", "zz", ""],
        "lang": ["en"] * 3, "source": ["t"] * 3, "n_chars": [4, 2, 0],
    }).to_parquet(tmp_path / "documents.parquet")
    out = {r["doc_id"]: r.asDict()
           for r in load_all()["multimodal_audio_features"]
           .builder(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    d1, d2 = out[1], out[2]
    assert (d1["sample_rate"], d1["n_samples"], d1["peak_abs"]) == (16000, 4, 7936)
    assert d1["energy_sq"] == 4 * 7936 ** 2
    assert d1["duration_ms"] == 0.25
    assert (d1["n_windows"], d1["n_silent_windows"]) == (1, 0)
    assert (d2["peak_abs"], d2["n_windows"], d2["n_silent_windows"]) == (1536, 1, 1)


def test_wav_payload_is_a_real_riff_file(spark):
    import io
    import wave

    from alertas_spark.operators.multimodal import _media, render_wav

    docs = load_table(spark, SF, "documents").filter("text IS NOT NULL").limit(8)
    media = _media(docs, render_wav, "audio/wav").collect()
    assert media
    for r in media:
        buf = bytes(r["media"])
        assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"
        with wave.open(io.BytesIO(buf), "rb") as w:   # stdlib parser accepts it
            assert w.getframerate() == 16000
            assert w.getnchannels() == 1 and w.getsampwidth() == 2
            assert w.getnframes() == r["n_source_bytes"]


# ---------------------------------------------------------------------------
# RIFF/AVI video codec
# ---------------------------------------------------------------------------


def test_avi_roundtrip_and_validation():
    """Writer -> parser round-trips frames exactly; the parser REJECTS
    malformed containers rather than guessing."""

    from alertas_spark.operators.avi_codec import avi_parse, avi_write

    frames = [bytes(range(256)), bytes(255 - i for i in range(256))]
    buf = avi_write(frames, 16, 16, 10)
    w, h, fps, got = avi_parse(buf)
    assert (w, h, fps) == (16, 16, 10) and got == frames
    for bad in (b"", b"RIFF\x04\x00\x00\x00WAVE", buf[:40], buf[:-3],
                buf.replace(b"AVI ", b"AVI!", 1)):
        with pytest.raises(ValueError):
            avi_parse(bad)
    with pytest.raises(ValueError):
        avi_write([b"\x00" * 255], 16, 16, 10)  # wrong frame size


def test_avi_stream_layout_validation():
    """The r13 stream-layout raises each get a failing-input container:
    a non-'vids' stream, a second 'vids' stream (whose scale/rate would
    silently clobber fps), a MISSING strf (skips the DIB format check), and
    a duplicated strf.  Containers are rebuilt from a valid buffer's own
    chunk payloads via the writer's helpers, so the only difference from a
    well-formed file is the layout under test — proven by the control
    container parsing back exactly."""

    from alertas_spark.operators import avi_codec as av

    frames = [bytes(range(256)), bytes(255 - i for i in range(256))]
    buf = av.avi_write(frames, 16, 16, 10)
    payload = {fcc: buf[off:off + size]
               for fcc, off, size in av._walk(buf, 12, len(buf))
               if fcc in (b"avih", b"strh", b"strf")}
    movi = av._list(b"movi",
                    b"".join(av._chunk(b"00db", f) for f in frames))

    def container(strl_body: bytes) -> bytes:
        hdrl = av._list(b"hdrl", av._chunk(b"avih", payload[b"avih"])
                        + av._list(b"strl", strl_body))
        return av._chunk(b"RIFF", b"AVI " + hdrl + movi)

    strh = av._chunk(b"strh", payload[b"strh"])
    strf = av._chunk(b"strf", payload[b"strf"])
    # control: the rebuilt well-formed container round-trips
    _, _, fps, got = av.avi_parse(container(strh + strf))
    assert fps == 10 and got == frames
    # non-'vids' stream type
    auds = av._chunk(b"strh", b"auds" + payload[b"strh"][4:])
    with pytest.raises(ValueError, match="unsupported stream type"):
        av.avi_parse(container(auds + strf))
    # a second 'vids' strh
    with pytest.raises(ValueError, match="multiple 'vids' streams"):
        av.avi_parse(container(strh + strf + strh))
    # deleted strf
    with pytest.raises(ValueError, match="exactly one strf"):
        av.avi_parse(container(strh))
    # duplicated strf
    with pytest.raises(ValueError, match="exactly one strf"):
        av.avi_parse(container(strh + strf + strf))


def test_video_features_hand_computed(spark, tmp_path):
    """Partial-frame drop, dark-frame counting, motion, and the md5 key all
    pinned on a crafted corpus: doc 1 = one dark frame ('0' pixels, 48*256 <
    the dark threshold) + one bright frame ('z') + a dropped partial tail;
    doc 2 is sub-frame-length and must be excluded."""
    import hashlib

    import pandas as pd

    from alertas_spark.registry import load_all

    t1 = "0" * 256 + "z" * 256 + "abc"  # 2 full frames + dropped tail
    pd.DataFrame({
        "doc_id": [1, 2],
        "text": [t1, "short"],
        "lang": ["en"] * 2, "source": ["t"] * 2,
        "n_chars": [len(t1), 5],
    }).to_parquet(tmp_path / "documents.parquet")
    rows = {r["doc_id"]: r for r in
            load_all()["multimodal_video_features"]
            .builder(spark, str(tmp_path)).collect()}
    assert set(rows) == {1}
    r = rows[1]
    assert (r["width"], r["height"], r["n_frames"]) == (16, 16, 2)
    assert r["duration_ms"] == 200.0
    assert r["peak_luma"] == ord("z")
    assert r["luma_sum"] == 256 * (48 + 122)
    assert r["motion_sum"] == 256 * (122 - 48)
    assert r["n_dark_frames"] == 1  # 48*256 = 12288 < 16384; 'z' frame is not
    assert r["first_frame_md5"] == hashlib.md5(b"0" * 256).hexdigest()


def test_dhash_neardup_clusters_identical_content(spark, tmp_path):
    """dHash clusters visually identical payloads (duplicate texts) under
    one representative, keeps distinct content apart, and emits well-formed
    64-bit bitstrings; resample invariance: a doc with the same byte
    PATTERN repeated scales to the same dHash grid."""
    import pandas as pd

    from alertas_spark.registry import load_all

    texts = ["abcd " * 60,          # doc 1
             "abcd " * 60,          # doc 2: exact visual duplicate of 1
             "zyxw " * 60,          # doc 3: different content
             "abcd " * 60 + "!"]    # doc 4: near-dup — one trailing byte
                                    # shifts only the tail of the resample
                                    # grid, so most gradient bits survive
    pd.DataFrame({
        "doc_id": [1, 2, 3, 4], "text": texts,
        "lang": ["en"] * 4, "source": ["t"] * 4,
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")

    rows = {r["doc_id"]: r for r in
            load_all()["multimodal_dhash_neardup"]
            .builder(spark, str(tmp_path)).collect()}
    assert set(rows) == {1, 2, 3, 4}
    for r in rows.values():
        assert len(r["dhash"]) == 64 and set(r["dhash"]) <= {"0", "1"}
    assert rows[1]["dhash"] == rows[2]["dhash"]
    assert rows[3]["dhash"] != rows[1]["dhash"]
    assert rows[1]["rep_doc_id"] == rows[2]["rep_doc_id"] == 1
    assert rows[1]["n_cluster"] >= 2
    assert rows[3]["n_cluster"] == 1
    # the near-dup is CLOSER in Hamming space than unrelated content (the
    # banding tier's premise); one trailing byte drifts every nearest-
    # neighbor index slightly, so exact equality is NOT expected — but the
    # distance stays below the unrelated pair's and below the random-hash
    # expectation (32 of 64 bits)
    def ham(a, b):
        return sum(x != y for x, y in zip(rows[a]["dhash"], rows[b]["dhash"]))

    assert ham(1, 4) < ham(1, 3), (ham(1, 4), ham(1, 3))
    assert ham(1, 4) < 32


def _hashed(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, dhash string")


def _bits(flips=(), base="0"):
    """64-char bit string: `base` everywhere except flipped positions."""
    other = "1" if base == "0" else "0"
    return "".join(other if i in set(flips) else base for i in range(64))


def test_dhash_hamming_clusters_within_radius(spark):
    """Pairs at distance ≤ 3 cluster even when the flips span 3 DIFFERENT
    bands (banding recall), and transitive chains merge into one component."""
    from alertas_spark.operators.multimodal import dhash_near_components

    rows = [
        (1, _bits()),                 # anchor
        (2, _bits({0, 16, 32})),      # d(1,2)=3, one flip in each of 3 bands
        (3, _bits({0, 16, 32, 5})),   # d(2,3)=1 → chains into the component
        (9, _bits({40, 41, 42, 43})), # d(·,1)=4 → separate
    ]
    got = {r["doc_id"]: r["component"]
           for r in dhash_near_components(_hashed(spark, rows)).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_dhash_hamming_near_miss_and_band_collision(spark):
    """Distance 4 NEVER clusters: neither when the flips spread so no band
    collides (no candidate), nor when they concentrate so a band DOES
    collide (candidate generated, verify rejects)."""
    from alertas_spark.operators.multimodal import dhash_near_components

    rows = [
        (1, _bits()),
        # one flip per band: candidates share no band key → never paired
        (2, _bits({0, 16, 32, 48})),
        # all 4 flips inside band 3: bands 0-2 collide with doc 1 → the pair
        # IS a candidate, and the popcount verify must reject it
        (3, _bits({48, 49, 50, 51})),
    ]
    got = {r["doc_id"]: r["component"]
           for r in dhash_near_components(_hashed(spark, rows)).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_dhash_hamming_exact_duplicates_and_isolates(spark):
    """Distance 0 (bit-identical) clusters — tier 2 subsumes tier 1 — and a
    signature with no neighbor labels itself."""
    from alertas_spark.operators.multimodal import dhash_near_components

    rows = [(7, _bits({3})), (4, _bits({3})), (5, _bits(range(32)))]
    got = {r["doc_id"]: r["component"]
           for r in dhash_near_components(_hashed(spark, rows)).collect()}
    assert got == {4: 4, 7: 4, 5: 5}
