"""Text / fingerprint / multimodal function tests (pure-oracle layer)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.functions import text as T
from hyrise_generalized_dedup_spark.functions.fingerprint import (
    fingerprint_table,
    rolling_hashes,
    winnow,
)
from hyrise_generalized_dedup_spark.functions.multimodal import (
    DecodeUnavailable,
    decode_image,
    media_table_from_documents,
)


def test_text_features_edge_cases(spark):
    rows = [
        (1, ""),
        (2, "   "),
        (3, "the quick and lazy dog of doom"),
        (4, "der hund und die katze nicht hier"),
        (5, "12345 !!!"),
        (6, "une seule ligne avec le chat et les chiens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.token_count(F.col("text")).alias("tok"),
            T.alpha_ratio(F.col("text")).alias("alpha"),
            T.punct_ratio(F.col("text")).alias("punct"),
            T.stopword_ratio(F.col("text")).alias("stop"),
            T.quality_score(F.col("text")).alias("q"),
            T.lang_guess(F.col("text")).alias("lang"),
        ).collect()
    }
    assert out[1].tok == 0 and out[2].tok == 0
    assert out[3].tok == 7
    assert out[1].alpha == 0.0
    assert out[5].punct > 0.2 and out[5].alpha == 0.0
    assert out[3].stop == 3 / 7  # the, and, of
    assert out[3].lang == "en" and out[4].lang == "de" and out[6].lang == "fr"
    assert out[1].q <= 0.5 < out[3].q


def test_text_repetition_edge_cases(spark):
    rows = [
        (1, ""),                                  # empty -> all zeros
        (2, " \n   \n\t\n"),                      # blank lines only
        (3, "a\nb\nc"),                           # all distinct
        (4, "x\nx\nx\ny"),                        # 3 copies of x
        (5, "looong line\nlooong line\nz"),       # char-weighting
        (6, "one"),                               # single token: no bigrams
        (7, "go go go go"),                       # "go go" bigram x3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.size(T.nonblank_lines(F.col("text"))).alias("nl"),
            T.dup_line_ratio(F.col("text")).alias("dlr"),
            T.dup_line_char_ratio(F.col("text")).alias("dcr"),
            T.top_line_count(F.col("text")).alias("top"),
            T.dup_bigram_ratio(F.col("text")).alias("dbr"),
        ).collect()
    }
    assert out[1] == (1, 0, 0.0, 0.0, 0, 0.0)
    assert out[2].nl == 0 and out[2].dlr == 0.0 and out[2].top == 0
    assert out[3] == (3, 3, 0.0, 0.0, 1, 0.0)
    assert out[4].nl == 4 and out[4].dlr == 1 - 2 / 4 and out[4].top == 3
    assert out[4].dcr == 3 / 4          # 3 of 4 single-char lines duplicated
    # doc 5: chars = 2*11 + 1 = 23, duplicated chars = 22
    assert out[5].dcr == 22 / 23 and out[5].top == 2
    assert out[6].dbr == 0.0 and out[6].nl == 1
    assert out[7].dbr == 1 - 1 / 3      # 3 bigrams, 1 distinct


def test_word_ngrams_semantics(spark):
    df = spark.createDataFrame(
        [(1, "A b c d e f"), (2, "a b c d"), (3, ""), (4, "x x x x x x")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.g
        for r in df.select("doc_id", T.word_ngrams(F.col("text"), 5).alias("g")).collect()
    }
    assert out[1] == ["a b c d e", "b c d e f"]   # lowercased, sliding
    assert out[2] == [] and out[3] == []          # short / empty -> empty
    assert out[4] == ["x x x x x"]                # distinct collapses repeats


def test_decontaminate_planted(spark):
    from hyrise_generalized_dedup_spark.functions.queries import decontaminate_table

    eval_text = "the secret benchmark answer is forty two exactly here"
    rows = [
        (1, eval_text, True),                                   # the eval doc
        # shares the 5-gram "secret benchmark answer is forty" -> contaminated
        (2, "intro words then secret benchmark answer is forty more", False),
        # only a 4-gram overlap ("benchmark answer is forty" + different tail)
        (3, "prefix benchmark answer is forty9 nothing shared", False),
        (4, "completely unrelated training document with many words", False),
        (5, "tiny", False),                                     # < n tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_eval boolean")
    out = {r.doc_id: r for r in decontaminate_table(df).collect()}
    assert len(out) == 5
    assert out[1].is_eval == 1 and out[1].contaminated == 0
    assert out[1].n_hit_grams == out[1].n_grams5 > 0    # eval self-hits
    assert out[2].contaminated == 1 and out[2].n_hit_grams >= 1
    assert out[3].contaminated == 0 and out[3].n_hit_grams == 0
    assert out[4].contaminated == 0
    assert out[5].n_grams5 == 0 and out[5].contaminated == 0


def test_winnow_matches_naive():
    rng = np.random.default_rng(3)
    blob = bytes(rng.integers(32, 127, 400, dtype=np.uint8))
    rh = rolling_hashes(blob)
    fp = winnow(rh, window=16)
    # naive: min of each window, dedup consecutive
    naive = []
    for i in range(len(rh) - 16 + 1):
        m = rh[i : i + 16].min()
        if not naive or naive[-1] != m:
            naive.append(m)
    assert fp.tolist() == naive


def test_fingerprint_detects_shared_content(spark):
    shared = "int main() { return process(argc, argv); }\n" * 8
    rows = [(1, "prefix-A " * 10 + shared), (2, "prefix-B " * 12 + shared), (3, "nothing in common here at all " * 12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set(r.fingerprint) for r in fingerprint_table(df).collect()}
    overlap_12 = len(fps[1] & fps[2]) / min(len(fps[1]), len(fps[2]))
    overlap_13 = len(fps[1] & fps[3]) / min(len(fps[1]), len(fps[3]))
    assert overlap_12 > 0.3 > overlap_13


def test_multimodal_stub_and_plumbing(spark):
    import pytest as _pytest

    with _pytest.raises(DecodeUnavailable):
        decode_image(b"\x89PNG")

    docs = spark.createDataFrame(
        [(i, f"content-{i % 4}") for i in range(12)], "doc_id long, text string"
    )
    media = media_table_from_documents(docs).collect()
    assert len(media) == 12
    by_id = {r.media_id: r for r in media}
    # identical payloads -> identical digests regardless of partition
    assert by_id[0].payload_sha == by_id[4].payload_sha == by_id[8].payload_sha
    assert by_id[0].n_bytes == len(b"content-0")
    assert {r.modality for r in media} == {"image", "audio", "video"}


def _expected_pixels(d: int) -> np.ndarray:
    from hyrise_generalized_dedup_spark.functions.multimodal import png_dims

    w, h = png_dims(d)
    return np.array([[(d + 7 * y + x) % 256 for x in range(w)] for y in range(h)])


def test_png_roundtrip_all_filters():
    """synth_png uses filter type (doc_id + y) % 5 per scanline, so any
    doc_id with height >= 5 exercises None/Sub/Up/Average/Paeth in one
    image; decode must reconstruct the exact pixel grid."""
    from hyrise_generalized_dedup_spark.functions.multimodal import (
        decode_png,
        png_dims,
        synth_png,
    )

    covered = set()
    for d in (2, 9, 16, 23, 100, 487):
        w, h = png_dims(d)
        covered.update((d + y) % 5 for y in range(h))
        got_w, got_h, px = decode_png(synth_png(d))
        assert (got_w, got_h) == (w, h)
        assert (px == _expected_pixels(d)).all()
    assert covered == {0, 1, 2, 3, 4}


def test_png_decode_rgb_and_rejections():
    import struct
    import zlib

    import pytest as _pytest

    from hyrise_generalized_dedup_spark.functions.multimodal import (
        _PNG_SIG,
        _png_chunk,
        DecodeUnavailable,
        decode_png,
    )

    # hand-built 2x2 truecolor (type 2), filter 0 rows
    rows = b"\x00" + bytes([10, 20, 30, 40, 50, 60]) + b"\x00" + bytes(
        [70, 80, 90, 100, 110, 120]
    )
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(rows))
        + _png_chunk(b"IEND", b"")
    )
    w, h, px = decode_png(png)
    assert (w, h) == (2, 2) and px.shape == (2, 2, 3)
    assert px[1, 1].tolist() == [100, 110, 120]

    # corrupt a CRC byte -> hard error, not silent garbage
    bad = bytearray(png)
    bad[-5] ^= 0xFF  # inside IEND CRC
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))

    # 16-bit depth -> DecodeUnavailable (documented stub boundary)
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    png16 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr16)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(DecodeUnavailable):
        decode_png(png16)


def test_wav_roundtrip_and_rejection():
    import io
    import wave as wave_mod

    import pytest as _pytest

    from hyrise_generalized_dedup_spark.functions.multimodal import (
        DecodeUnavailable,
        decode_wav,
        synth_wav,
        wav_params,
    )

    for d in (1, 4, 7, 64, 499):
        rate, samples = decode_wav(synth_wav(d))
        er, en = wav_params(d)
        assert rate == er and len(samples) == en
        i = np.arange(en)
        assert (samples == (d * 13 + i * 7) % 4001 - 2000).all()

    # stereo payload -> DecodeUnavailable
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00\x01\x00" * 4)
    with _pytest.raises(DecodeUnavailable):
        decode_wav(buf.getvalue())


def test_decode_dispatch_by_magic():
    import pytest as _pytest

    from hyrise_generalized_dedup_spark.functions.multimodal import (
        DecodeUnavailable,
        decode_audio,
        synth_png,
        synth_wav,
    )

    w, h, _ = decode_image(synth_png(5))
    assert (w, h) == (4 + 5 % 13, 3 + 5 % 7)
    rate, _ = decode_audio(synth_wav(4))
    assert rate == 8000 + 100 * (4 % 5)
    with _pytest.raises(DecodeUnavailable):  # JPEG magic
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    with _pytest.raises(DecodeUnavailable):  # MP3 frame sync
        decode_audio(b"\xff\xfb\x90\x00" + b"\x00" * 16)


def test_decoded_features_spark_path(spark):
    """End-to-end: codec fixture -> Arrow decode UDF -> per-modality
    features; pixel/sample sums match an independent numpy recomputation
    and video rows pass through with NULL feature fields."""
    from hyrise_generalized_dedup_spark.functions.multimodal import (
        decode_media_features,
        media_table_with_codecs,
        wav_params,
    )

    docs = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(30)], "doc_id long, text string"
    )
    rows = {r.media_id: r for r in decode_media_features(media_table_with_codecs(docs)).collect()}
    assert len(rows) == 30
    for d, r in rows.items():
        if d % 3 == 0:
            exp = _expected_pixels(d)
            assert (r.width, r.height) == (exp.shape[1], exp.shape[0])
            assert r.pixel_sum == int(exp.sum())
            assert r.sample_rate is None
        elif d % 3 == 1:
            er, en = wav_params(d)
            i = np.arange(en)
            s = (d * 13 + i * 7) % 4001 - 2000
            assert (r.sample_rate, r.n_samples) == (er, en)
            assert r.sample_sq_sum == int((s.astype(np.int64) ** 2).sum())
            assert r.width is None
        else:
            assert r.width is None and r.sample_rate is None


def test_goldens_match_current_kernels(spark):
    """The committed golden parquets (driver-slot value oracles for the
    non-SQL-expressible fingerprint/sketch slots) must equal what the
    CURRENT kernels produce — a kernel change requires deliberately
    regenerating them via scripts/gen_goldens.py."""
    import importlib

    import duckdb

    from hyrise_generalized_dedup_spark.goldens import GOLDEN_DIR, GOLDENS

    for name, (modpath, qreg, _sort) in GOLDENS.items():
        fn = getattr(importlib.import_module(modpath), qreg)[name]
        got = sorted(map(tuple, fn(spark, "/root/testdata/sf0.01").collect()))
        want = sorted(
            map(
                tuple,
                duckdb.sql(
                    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/{name}.sf0_01.parquet')"
                ).fetchall(),
            )
        )
        assert got == want, f"golden drift for {name}: rerun scripts/gen_goldens.py"


def test_gopher_quality_signals(spark):
    rows = [
        (1, ""),                                     # blank -> all zeros
        (2, "alpha beta gamma"),                     # clean prose
        (3, "# # # tag"),                            # hash-heavy
        (4, "- one\n- two\n* three\nplain"),         # 3/4 bullet lines
        (5, "wait...\nmore...\nfine"),               # 2/3 ellipsis lines
        (6, "a....b"),                               # one '...' (4 dots -> 1)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.mean_word_length(F.col("text")).alias("mwl"),
            T.alpha_word_ratio(F.col("text")).alias("awr"),
            T.symbol_word_ratio(F.col("text")).alias("swr"),
            T.bullet_line_ratio(F.col("text")).alias("blr"),
            T.ellipsis_line_ratio(F.col("text")).alias("elr"),
        ).collect()
    }
    assert out[1] == (1, 0.0, 0.0, 0.0, 0.0, 0.0)
    assert out[2].mwl == (5 + 4 + 5) / 3 and out[2].awr == 1.0 and out[2].swr == 0.0
    assert out[3].swr == 3 / 4 and out[3].awr == 1 / 4
    assert out[4].blr == 3 / 4
    assert out[5].elr == 2 / 3
    assert out[6].swr == 1.0 and out[6].mwl == 6.0   # one token 'a....b'


def test_events_funnel_ordering_semantics(spark, tmp_path):
    """Planted sequences: a step only counts when its first event falls
    strictly after the previous step's first event."""
    import datetime as dt
    import os

    import pandas as pd

    from hyrise_generalized_dedup_spark.functions.queries import (
        TEXT_ORACLES,
        TEXT_QUERIES,
    )
    from hyrise_generalized_dedup_spark.testing import compare_to_duckdb

    t = lambda m: dt.datetime(2025, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: view < click < purchase -> full funnel
        (1, t(1), 1, "view", 1.0, "{}"),
        (2, t(2), 1, "click", 1.0, "{}"),
        (3, t(3), 1, "purchase", 1.0, "{}"),
        # user 2: click BEFORE first view -> click step not reached
        (4, t(2), 2, "view", 1.0, "{}"),
        (5, t(1), 2, "click", 1.0, "{}"),
        (6, t(3), 2, "purchase", 1.0, "{}"),
        # user 3: purchase BEFORE click -> purchase step not reached
        (7, t(1), 3, "view", 1.0, "{}"),
        (8, t(3), 3, "click", 1.0, "{}"),
        (9, t(2), 3, "purchase", 1.0, "{}"),
        # user 4: never views -> nothing reached
        (10, t(1), 4, "click", 1.0, "{}"),
        (11, t(2), 4, "purchase", 1.0, "{}"),
        # user 5: late click after an early failed one still converts
        (12, t(2), 5, "view", 1.0, "{}"),
        (13, t(1), 5, "click", 1.0, "{}"),
        (14, t(4), 5, "click", 1.0, "{}"),
        (15, t(5), 5, "purchase", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    # Spark cannot read pandas' default TIMESTAMP(NANOS) parquet type
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    pdf.to_parquet(os.path.join(sf_dir, "events.parquet"))

    got = {
        r["user_id"]: (r["reached_view"], r["reached_click"], r["reached_purchase"])
        for r in TEXT_QUERIES["events_funnel"](spark, sf_dir).collect()
    }
    assert got == {
        1: (1, 1, 1),
        2: (1, 0, 0),
        3: (1, 1, 0),
        4: (0, 0, 0),
        5: (1, 1, 1),
    }
    ok, msg = compare_to_duckdb(df := TEXT_QUERIES["events_funnel"](spark, sf_dir),
                                TEXT_ORACLES["events_funnel"], sf_dir)
    assert ok, msg


def test_contamination_spans_planted_quotes(spark):
    """Span semantics on planted fixtures: an embedded long verbatim quote
    of an eval doc trips the 13-token span rule; a single shared 5-gram
    (isolated idiom collision) registers a hit but NOT span contamination;
    eval docs never flag themselves."""
    import pyspark.sql.functions as F

    from hyrise_generalized_dedup_spark.functions.queries import (
        contamination_spans_table,
    )

    eval_text = "alpha bravo charlie delta echo foxtrot golf hotel india " \
        "juliet kilo lima mike november oscar papa"
    filler = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, eval_text, True),                      # the benchmark doc
            (1, f"{filler} {eval_text} {filler}", False),   # 16-token quote
            (2, f"{filler} alpha bravo charlie delta echo {filler}", False),
            (3, filler, False),                        # clean
            (4, eval_text, True),                      # eval twin: no flag
        ],
        ["doc_id", "text", "is_eval"],
    )
    rows = {r["doc_id"]: r for r in contamination_spans_table(docs).collect()}

    # full 16-token quote: run of 12 grams -> span 16, contaminated
    assert rows[1]["max_hit_run"] == 12
    assert rows[1]["max_span_tokens"] == 16
    assert rows[1]["span_contaminated"] == 1
    # one isolated 5-gram: hit, span 5 < 13 -> clean by the span rule
    assert rows[2]["n_hit_pos"] == 1
    assert rows[2]["max_span_tokens"] == 5
    assert rows[2]["span_contaminated"] == 0
    # no overlap at all
    assert rows[3]["n_hit_pos"] == 0 and rows[3]["span_contaminated"] == 0
    # eval docs self-hit everywhere but never flag
    assert rows[0]["n_hit_pos"] == rows[0]["n_grams_pos"]
    assert rows[0]["span_contaminated"] == 0 and rows[4]["span_contaminated"] == 0

    # repartition-invariance of the integer surface
    rows2 = {
        r["doc_id"]: r
        for r in contamination_spans_table(docs.repartition(5, "doc_id")).collect()
    }
    for i, r in rows.items():
        assert tuple(r) == tuple(rows2[i])


def test_c4_signals_planted_fixture(spark):
    """C4 rule semantics on planted docs: line retention needs terminal
    punctuation AND >= 5 words; doc keep needs >= 3 sentences and no
    lorem-ipsum / brace / blocklist hit; blocklist matches whole words
    only."""
    import pyspark.sql.functions as F

    from hyrise_generalized_dedup_spark.functions import text as T

    good = "\n".join(
        [
            "This is a proper sentence with enough words.",
            "Here is another full sentence, nicely terminated!",
            "And a third one to clear the sentence bar?",
        ]
    )
    docs = spark.createDataFrame(
        [
            (0, good, True),
            (1, "One proper sentence with five words.\nTiny line.\n"
                "No terminal punct despite many words here",
             False),                                   # 1 kept line, 1 sentence
            (2, good + "\nlorem ipsum dolor sit amet.", False),
            (3, good + "\nfunction f() { return 1; }", False),
            (4, good + "\nbuy cheap viagra online now.", False),
            (5, good.replace("words", "viagrafied words"), True),  # substring: no hit
            (6, "", False),
        ],
        ["doc_id", "text", "keep"],
    )
    sig = T.c4_signals(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in docs.select("doc_id", "keep", *[c.alias(k) for k, c in sig.items()]).collect()
    }
    for i, r in rows.items():
        assert r["c4_keep"] == r["keep"], (i, dict(r.asDict()))
    assert rows[0]["n_c4_lines"] == 3 and rows[0]["n_sentences"] == 3
    assert rows[1]["n_c4_lines"] == 1 and rows[1]["n_sentences"] == 1
    assert rows[2]["has_lorem"] and rows[3]["has_brace"] and rows[4]["has_badword"]
    assert not rows[5]["has_badword"]
    assert rows[6]["n_lines"] == 0 and not rows[6]["c4_keep"]


def test_encoding_signals_crafted_mojibake(spark):
    """Semantic oracle for text.encoding_signals on text the driver
    corpus can't contain: genuine mojibake (UTF-8 bytes re-decoded as
    latin-1 and cp1252), replacement chars, control chars, and clean
    multilingual unicode that must NOT be flagged."""
    moji_latin1 = "déjà vu — fin".encode("utf-8").decode(
        "latin-1"
    )
    moji_cp1252 = "it’s “quoted”".encode("utf-8").decode(
        "cp1252", errors="replace"
    )
    rows = [
        (1, "plain ascii."),
        (2, moji_latin1),
        (3, moji_cp1252),
        (4, "bad � byte �"),
        (5, "bell\x07 nul\x00 tab\t nl\n cr\r del\x7f"),
        (6, "naïve café — 東京"),
        (7, ""),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from hyrise_generalized_dedup_spark.functions.text import (
        encoding_signals,
    )

    sig = encoding_signals(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", *[c.alias(k) for k, c in sig.items()]
        ).collect()
    }
    # ground truth computed independently in Python
    import re as _re

    ctrl = _re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")
    for doc_id, text in rows:
        r = out[doc_id]
        if text is None:
            assert r.n_chars is None and r.enc_clean is None
            continue
        assert r.n_chars == len(text)
        assert r.n_nonascii == sum(1 for ch in text if ord(ch) > 0x7F)
        assert r.n_replacement == text.count("�")
        assert r.n_control == len(ctrl.findall(text))
        assert r.n_moji_lead == text.count("Ã")
        assert r.n_moji_punct == text.count("â€")
        expect_clean = (
            text.count("�") == 0
            and not ctrl.search(text)
            and text.count("Ã") == 0
            and text.count("â€") == 0
        )
        assert r.enc_clean == expect_clean
    # the keep rule: clean unicode passes, every corruption mode fails
    assert out[1].enc_clean and out[6].enc_clean and out[7].enc_clean
    assert not out[2].enc_clean  # latin-1 mojibake (A-tilde leads + C1)
    assert not out[3].enc_clean  # cp1252 mojibake (punct pairs)
    assert not out[4].enc_clean  # replacement chars
    assert not out[5].enc_clean  # control chars
    assert out[2].n_moji_lead >= 2 and out[2].n_control >= 1
    assert out[3].n_moji_punct >= 2
