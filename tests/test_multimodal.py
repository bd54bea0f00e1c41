"""Multimodal plumbing: binary payloads + typed metadata through
mapInPandas (decode kernels stubbed; schemas/batch shapes real)."""

from __future__ import annotations

import hashlib

import numpy as np

import pytest
from pyspark.sql import functions as F

from scida_spark.functions import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(i, f"payload number {i} " * (i + 1)) for i in range(20)],
        "doc_id long, text string",
    )
    return M.to_media_table(df, "doc_id", "text")


def test_media_table_schema_and_meta(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    r = media.filter(F.col("media_id") == 3).first()
    assert bytes(r.payload).decode() == "payload number 3 " * 4
    assert r.meta.n_bytes == len("payload number 3 " * 4)
    assert r.meta.mime == "text/plain"


def test_extract_features_deterministic(media):
    rows = {r.media_id: r for r in M.extract_features(media).collect()}
    payload = ("payload number 5 " * 6).encode()
    assert rows[5].sha256 == hashlib.sha256(payload).hexdigest()
    assert rows[5].n_bytes == len(payload)
    digest = hashlib.sha256(payload).digest()
    assert rows[5].fake_mean_pixel == pytest.approx(sum(digest) / len(digest))


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError, match="PIL"):
        M.decode_image(b"\x89PNG")


def test_phash_perturbation_robust_and_distinct_far():
    """Textbook pHash contract: small pixel noise moves the hash a few
    bits at most; independent images land ~32 bits apart; constant
    images are stable; the PPM roundtrip is hash-identical."""
    import numpy as np

    rng = np.random.RandomState(42)
    base = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    h = M.phash64(base)
    assert 0 <= h < 2**63
    assert M.phash64(M.decode_image(M.encode_ppm(base))) == h
    # +-3 noise on every pixel: still within 10 bits
    noisy = np.clip(
        base.astype(int) + rng.randint(-3, 4, base.shape), 0, 255
    ).astype(np.uint8)
    assert bin(h ^ M.phash64(noisy)).count("1") <= 10
    # independent image: far (random 63-bit hashes differ by ~31.5)
    other = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    assert bin(h ^ M.phash64(other)).count("1") >= 16
    # constant image: all AC coefficients 0 -> deterministic hash
    flat = np.full((16, 16), 128, dtype=np.uint8)
    assert M.phash64(flat) == M.phash64(np.full((64, 48), 128, dtype=np.uint8))
    # non-32x32 inputs route through the block-mean resize
    tall = rng.randint(0, 256, (80, 50, 3)).astype(np.uint8)
    assert 0 <= M.phash64(tall) < 2**63


def test_phash_table_and_near_pairs(spark):
    """End-to-end: synthesize PPM images (one slightly perturbed copy
    per base image), hash them distributed, and check the pigeonhole-
    blocked Hamming pairs are exactly the planted near-dups — recall
    AND precision. Undecodable payloads yield NULL phash and never
    pair."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    n = 20
    for i in range(n):
        img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
        pert = np.clip(
            img.astype(int) + rng.randint(-2, 3, img.shape), 0, 255
        ).astype(np.uint8)
        rows.append((i, bytearray(M.encode_ppm(img))))
        rows.append((1000 + i, bytearray(M.encode_ppm(pert))))
    rows.append((5000, bytearray(b"\x89PNG not decodable")))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = M.phash_table(media)
    got = {r["media_id"]: r["phash"] for r in hashes.collect()}
    assert got[5000] is None and len(got) == 2 * n + 1
    pairs = {
        (r["id_a"], r["id_b"])
        for r in M.phash_near_pairs(hashes, max_hamming=10).collect()
    }
    assert pairs == {(i, 1000 + i) for i in range(n)}


def _banded_wav(seed, rate=8000, n=16000):
    """Band-structured test signal: adjacent log-band amplitudes forced
    decisively apart (|delta log-amp| >= 1), the spectral shape real
    speech/music has at band granularity."""
    import numpy as np

    rng = np.random.RandomState(seed)
    levels = np.array([-1.5, -0.5, 0.5, 1.5])
    u = np.empty(64)
    u[0] = rng.choice(levels)
    for b in range(1, 64):
        cand = levels[np.abs(levels - u[b - 1]) >= 1.0]
        u[b] = rng.choice(cand)
    amps = np.exp(u)
    x = rng.randn(n)
    X = np.fft.rfft(x)
    f = np.fft.rfftfreq(n, d=1.0 / rate)
    edges = np.geomspace(300.0, 3000.0, 65)
    band = np.clip(np.searchsorted(edges, f) - 1, 0, 63)
    gain = np.where((f >= 300) & (f <= 3000), amps[band], 0.05)
    y = np.fft.irfft(X * gain, n)
    return (y / np.abs(y).max() * 20000).astype("int16")


def test_afp64_robust_and_distinct():
    """Audio-fingerprint contract: WAV container roundtrip is
    hash-identical; gain cut + additive noise flips few bits;
    independent clips land far; stereo folds to mono; short clips
    hash deterministically via zero-pad."""
    import numpy as np

    rate = 8000
    x = _banded_wav(3)
    h = M.afp64(rate, x)
    assert 0 <= h < 2**63
    r2, y = M.decode_audio(M.encode_wav(rate, x))
    assert r2 == rate and M.afp64(r2, y) == h
    rng = np.random.RandomState(99)
    xp = (x.astype(np.float64) * 0.85 + rng.randn(len(x)) * 300).astype(
        np.int16
    )
    assert bin(h ^ M.afp64(rate, xp)).count("1") <= 6
    other = _banded_wav(4)
    assert bin(h ^ M.afp64(rate, other)).count("1") >= 10
    stereo = np.stack([x, x], axis=1)
    assert M.afp64(rate, stereo) == h
    short = x[:1000]
    assert M.afp64(rate, short) == M.afp64(rate, short)


def test_afp_table_and_near_pairs(spark):
    """Distributed end-to-end: synthetic WAVs + perturbed twins hashed
    via mapInPandas; blocked Hamming pairs are exactly the planted
    twins; non-audio payloads yield NULL and never pair."""
    import numpy as np

    rate = 8000
    rows = []
    n = 12
    for i in range(n):
        y = _banded_wav(100 + i)
        rng = np.random.RandomState(5000 + i)
        yp = (y.astype(np.float64) * 0.85 + rng.randn(len(y)) * 300).astype(
            np.int16
        )
        rows.append((i, bytearray(M.encode_wav(rate, y))))
        rows.append((1000 + i, bytearray(M.encode_wav(rate, yp))))
    rows.append((5000, bytearray(b"not audio at all")))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = M.afp_table(media)
    got = {r["media_id"]: r["afp"] for r in hashes.collect()}
    assert got[5000] is None and len(got) == 2 * n + 1
    pairs = {
        (r["id_a"], r["id_b"])
        for r in M.afp_near_pairs(hashes, max_hamming=6).collect()
    }
    assert pairs == {(i, 1000 + i) for i in range(n)}


def test_png_roundtrip_all_filters():
    """encode_png → decode_image is bit-exact for EVERY standard
    scanline filter (r15: the pure-stdlib PNG path — zlib + numpy
    unfiltering, no PIL), including the default cycling-filter mix,
    plus 1-pixel-wide and 1-row edge shapes."""
    rng = np.random.RandomState(17)
    for shape in [(24, 24, 3), (7, 1, 3), (1, 9, 3), (33, 5, 3)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            out = M.decode_image(M.encode_png(img, filters))
            assert out.shape == shape and (out == img).all(), (shape, filters)


def test_png_color_types_and_honest_raises():
    """Gray (0), palette (3), gray+alpha (4) and RGBA (6) decode to
    the broadcast/expanded RGB the contract promises; 16-bit depth and
    Adam7 interlacing raise NotImplementedError (the honest carve-out
    is now ONLY entropy-level features, not all of PNG)."""
    import struct
    import zlib

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    def png(w, h, depth, color, interlace, raw, extra=b""):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace),
            )
            + extra
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(3)
    g = rng.randint(0, 256, (2, 4)).astype(np.uint8)
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(2))
    out = M.decode_image(png(4, 2, 8, 0, 0, raw))
    assert (out == np.repeat(g[:, :, None], 3, axis=2)).all()

    ga = rng.randint(0, 256, (2, 3, 2)).astype(np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(2))
    out = M.decode_image(png(3, 2, 8, 4, 0, raw))
    assert (out == np.repeat(ga[:, :, :1], 3, axis=2)).all()

    ra = rng.randint(0, 256, (3, 5, 4)).astype(np.uint8)
    raw = b"".join(b"\x00" + ra[y].tobytes() for y in range(3))
    out = M.decode_image(png(5, 3, 8, 6, 0, raw))
    assert (out == ra[:, :, :3]).all()

    plte = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    out = M.decode_image(
        png(2, 2, 8, 3, 0, raw, extra=chunk(b"PLTE", plte.tobytes()))
    )
    assert (out == plte[idx]).all()

    with pytest.raises(NotImplementedError):
        M.decode_image(png(2, 2, 16, 2, 0, b"\x00" * 26))
    with pytest.raises(NotImplementedError):
        M.decode_image(png(2, 2, 8, 2, 1, b""))


def test_png_phash_matches_ppm_phash():
    """The SAME image encoded as PPM and as PNG (cycling filters)
    produces the SAME pHash — the decode seam is format-transparent,
    so the phash_png driver cert certifies the PNG path with the
    identical planted-pair contract."""
    rng = np.random.RandomState(41)
    img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
    assert M.phash64(M.decode_image(M.encode_ppm(img))) == M.phash64(
        M.decode_image(M.encode_png(img))
    )
