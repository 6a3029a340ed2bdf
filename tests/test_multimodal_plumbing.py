"""Multimodal invariants the oracle can't see: the synthesized
payloads are valid PGM images, the decoder is a real parser (rejects
malformed bytes, reads dimensions from the header), and the resize is
a true nearest-neighbor grid sample that re-encodes valid PGM."""

from __future__ import annotations

import pytest

from dataingestionengineprocess_spark.queries.multimodal import (
    _TARGET_BYTES,
    _decode_pgm,
    _pgm_payloads,
    _resize_pgm,
    multimodal_decode_features,
    multimodal_resize_thumbnail,
)


def test_resize_outputs_valid_8x8_pgm(spark, sf_dir):
    out = multimodal_resize_thumbnail(spark, sf_dir).collect()
    assert out
    assert all(r.n_bytes == _TARGET_BYTES for r in out)
    # deterministic across runs
    again = multimodal_resize_thumbnail(spark, sf_dir).collect()
    assert [r.resized_sha256 for r in out] == [r.resized_sha256 for r in again]


def test_resize_is_true_grid_sample():
    """Build a known image, resize it, and check every thumbnail pixel
    equals the floor-grid source pixel -- the resample is real, not a
    byte truncation."""
    w, h = 11, 9
    pixels = bytes((r * 31 + c * 7) % 256 for r in range(h) for c in range(w))
    img = f"P5\n{w} {h}\n255\n".encode() + pixels

    tw, th, thumb = _decode_pgm(_resize_pgm(img))
    assert (tw, th) == (8, 8)
    src = [pixels[r * w:(r + 1) * w] for r in range(h)]
    for r in range(8):
        for c in range(8):
            assert thumb[r][c] == src[(r * h) // 8][(c * w) // 8]


def test_decode_reads_true_dimensions(spark, sf_dir):
    """Dimensions in the output must come from parsing the header --
    cross-check against the synthesis rule AND against a hand decode
    of one raw payload."""
    rows = multimodal_decode_features(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.width == 8 + r.doc_id % 16
        assert r.height == 8 + r.doc_id % 8
        assert r.n_pixels == r.width * r.height
        assert 0.0 <= r.mean_luma <= 255.0

    payload = bytes(_pgm_payloads(spark, sf_dir).first().payload)
    w, h, arr = _decode_pgm(payload)
    assert len(payload) > w * h  # header + pixels


def test_decoder_rejects_malformed_payloads():
    with pytest.raises(ValueError, match="PGM"):
        _decode_pgm(b"GIF89a....")
    with pytest.raises(ValueError, match="pixel buffer"):
        _decode_pgm(b"P5\n4 4\n255\n" + b"\x00" * 7)  # truncated
    with pytest.raises(ValueError, match="maxval"):
        _decode_pgm(b"P5\n2 2\n65535\n" + b"\x00" * 4)


def test_phash_neardup_finds_duplicate_payloads(spark):
    """Identical payloads have hamming distance 0 and a payload with one
    changed block stays within the hamming budget, so both MUST surface
    in the perceptual-hash pairs; an unrelated payload must not."""
    from pyspark.sql import functions as F

    from dataingestionengineprocess_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    base = " ".join(f"word{i}" for i in range(300))
    # SAME-LENGTH single-byte edit: the block stub frames fixed 4-byte
    # windows, so a length change would shift every downstream block
    # (real pHash is alignment-robust; the stub is not), and a longer
    # payload keeps per-bit vote margins wide so a one-block change
    # stays within the hamming budget.
    near = base.replace("word30 ", "wOrd30 ")
    other = " ".join(f"zz{i} qq{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )
    blocks = F.regexp_replace(
        F.lower(F.hex(F.encode("text", "utf-8"))), "(.{8})", "$1 "
    )
    payloads = docs.select("doc_id", F.trim(blocks).alias("block_str"))
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            payloads, id_col="doc_id", text_col="block_str",
            max_hamming=3).collect()
    }
    assert (1, 2) in got          # exact duplicate payload
    assert (1, 3) in got          # near-duplicate payload
    assert (1, 4) not in got and (2, 4) not in got


def test_wav_decoder_is_a_real_parser():
    import numpy as np
    import pytest

    from dataingestionengineprocess_spark.queries.multimodal import _decode_wav

    # hand-built 3-sample PCM16 mono 8kHz WAV
    samples = np.array([-256, 0, 512], dtype="<i2").tobytes()
    hdr = (b"RIFF" + (36 + len(samples)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
           + b"data" + len(samples).to_bytes(4, "little") + samples)
    rate, bits, s = _decode_wav(hdr)
    assert (rate, bits) == (8000, 16)
    assert list(s) == [-256, 0, 512]

    with pytest.raises(ValueError):
        _decode_wav(b"OggS" + hdr[4:])          # wrong container
    with pytest.raises(ValueError):
        _decode_wav(hdr[:20])                    # truncated: no chunks


def test_wav_payloads_decode_with_stdlib(spark):
    """The synthesized payloads must be REAL WAVs: python's stdlib
    `wave` module (an independent parser) must accept them."""
    import io
    import wave

    from dataingestionengineprocess_spark.queries.multimodal import (
        _wav_payloads,
    )

    rows = _wav_payloads(spark, "/root/testdata/sf0.001").limit(5).collect()
    assert rows
    for r in rows:
        with wave.open(io.BytesIO(bytes(r.payload))) as w:
            assert w.getnchannels() == 1
            assert w.getframerate() == 8000
            assert w.getsampwidth() == 2
            assert w.getnframes() == 64 + r.doc_id % 128


def test_y4m_decoder_walks_real_streams():
    """The y4m parser reads dims from the header and walks FRAME
    markers; malformed containers raise like any decoder."""
    import numpy as np
    import pytest

    from dataingestionengineprocess_spark.queries.multimodal import _decode_y4m

    f0 = bytes(range(6))          # 3x2 frame
    f1 = bytes(x + 100 for x in range(6))
    stream = (b"YUV4MPEG2 W3 H2 F25:1 Ip A1:1 Cmono\n"
              + b"FRAME\n" + f0 + b"FRAME\n" + f1)
    w, h, frames = _decode_y4m(stream)
    assert (w, h) == (3, 2)
    assert len(frames) == 2
    assert list(frames[0]) == list(f0)
    assert int(np.sum(frames[1]) - np.sum(frames[0])) == 600

    with pytest.raises(ValueError):
        _decode_y4m(b"RIFF" + stream[4:])              # wrong container
    with pytest.raises(ValueError):
        _decode_y4m(stream.replace(b"Cmono", b"C420"))  # chroma planes
    with pytest.raises(ValueError):
        _decode_y4m(stream[:-3])                        # truncated frame


def test_y4m_payloads_have_scene_cut(spark):
    """The synthesized corpus videos carry a genuine luma step at the
    half-way scene change, and the feature query reports it."""
    from dataingestionengineprocess_spark.queries.multimodal import (
        multimodal_video_features,
    )

    rows = multimodal_video_features(
        spark, "/root/testdata/sf0.001").limit(20).collect()
    assert rows
    for r in rows:
        assert r.n_frames == 4 + r.doc_id % 6
        assert r.width == 16 + r.doc_id % 8
        assert 0.0 < r.sampled_mean_luma < 255.0
        # lowercase->uppercase switch shifts letters by 32 luma levels
        assert r.n_scene_cuts >= 1


def test_binary_file_source_decodes_mixed_media(spark, tmp_path):
    """End-to-end file ingestion: real PGM/WAV/y4m files on disk ->
    binaryFile source -> magic-byte routing -> the same parsers the
    synthesized queries use; corrupt files become error rows, not job
    failures."""
    from dataingestionengineprocess_spark.queries.multimodal import (
        _pgm_payloads,
        _wav_payloads,
        _y4m_payloads,
    )
    from dataingestionengineprocess_spark.sources.binary_source import (
        media_features,
        read_binary_dir,
    )

    sf = "/root/testdata/sf0.001"
    media = tmp_path / "media"
    media.mkdir()
    for maker, name in [(_pgm_payloads, "img_{}.pgm"),
                        (_wav_payloads, "snd_{}.wav"),
                        (_y4m_payloads, "vid_{}.y4m")]:
        for r in maker(spark, sf).limit(3).collect():
            (media / name.format(r.doc_id)).write_bytes(bytes(r.payload))
    (media / "broken.pgm").write_bytes(b"P5\n9 9\n255\nshort")
    (media / "notes.txt").write_bytes(b"not media at all")

    feats = media_features(read_binary_dir(spark, str(media))).collect()
    by_kind = {}
    for r in feats:
        by_kind.setdefault(r.kind, []).append(r)
    assert len(by_kind["image"]) == 3
    assert len(by_kind["audio"]) == 3
    assert len(by_kind["video"]) == 3
    assert len(by_kind["error"]) == 2
    for r in by_kind["image"]:
        assert r.width and r.height and r.n_frames == 1
        assert 0.0 < r.mean_value < 255.0
    for r in by_kind["audio"]:
        assert r.sample_rate == 8000 and r.n_values >= 64
    for r in by_kind["video"]:
        assert r.n_frames >= 4 and r.n_values == r.width * r.height * r.n_frames
    errs = {r.error for r in by_kind["error"]}
    assert any("magic" in e for e in errs)


def test_audio_resample_output_is_valid_half_rate_wav(spark, sf_dir):
    """For a sample of docs, rebuild the expected 4 kHz WAV locally
    from the source payload (decode -> floor pair-average ->
    re-encode) and check (a) it re-decodes as valid 4 kHz PCM16 and
    (b) its sha256 equals the query's reported digest -- proving the
    kernel's container bytes, not just its sample math."""
    import hashlib

    from pyspark.sql import functions as F

    from dataingestionengineprocess_spark.queries.multimodal import (
        _decode_wav,
        _wav_payloads,
        multimodal_audio_resample,
    )

    got = {
        r.doc_id: r
        for r in multimodal_audio_resample(spark, sf_dir).collect()
    }
    src_rows = _wav_payloads(spark, sf_dir).limit(8).collect()
    assert src_rows

    for row in src_rows:
        rate, _bits, s = _decode_wav(bytes(row.payload))
        assert rate == 8000
        half = len(s) // 2
        res = [(int(s[2 * i]) + int(s[2 * i + 1])) // 2 for i in range(half)]
        data = b"".join(
            int(x % 65536).to_bytes(2, "little") for x in res
        )
        hdr = (
            b"RIFF" + (36 + len(data)).to_bytes(4, "little")
            + b"WAVEfmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (4000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + b"data" + len(data).to_bytes(4, "little")
        )
        wav = hdr + data
        rate2, bits2, s2 = _decode_wav(wav)
        assert (rate2, bits2) == (4000, 16) and len(s2) == half
        assert [int(x) for x in s2] == res
        r = got[row.doc_id]
        assert r.n_bytes == len(wav)
        assert r.resampled_sha256 == hashlib.sha256(
            wav.hex().encode()
        ).hexdigest()
