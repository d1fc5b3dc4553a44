"""Mutation fuzz over the container walkers (oggcore, webmcore):
seeded byte flips, truncations, and splices over valid
files must always TERMINATE fast and either return stats or raise the
module's own error type — never hang, loop, or leak a foreign
exception. This is the malformed-web-payload contract: at 10^12
crawled documents every corruption shape arrives eventually, and a
walker that hangs on one page stalls an executor core."""

import random

import pytest

from pdf_parser_spark.functions.oggcore import OggError, encode_ogg_vorbis, ogg_stats
from pdf_parser_spark.functions.webmcore import EbmlError, encode_webm, webm_stats


def _mutations(valid: bytes, seed: int, n: int):
    rng = random.Random(seed)
    for _ in range(n):
        b = bytearray(valid)
        kind = rng.randrange(4)
        if kind == 0:  # flip 1-4 bytes
            for _ in range(rng.randrange(1, 5)):
                b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
        elif kind == 1:  # truncate
            b = b[: rng.randrange(len(b))]
        elif kind == 2:  # splice a chunk of self at a random point
            i, j = sorted(rng.randrange(len(b)) for _ in range(2))
            b = b[:i] + b[j:] if rng.random() < 0.5 else b + b[i:j]
        else:  # overwrite a run with a repeated byte
            i = rng.randrange(len(b))
            run = rng.randrange(1, 64)
            b[i : i + run] = bytes([rng.randrange(256)]) * min(
                run, len(b) - i
            )
        yield bytes(b)


def _drive(parse, errtype, valid, seed, n=400, want_err=True):
    ok = err = 0
    for blob in _mutations(valid, seed, n):
        try:
            out = parse(blob)
            assert isinstance(out, dict)
            ok += 1
        except errtype:
            err += 1
    assert ok + err == n
    if want_err:  # sanity: the harness produced fatal mutations too
        assert err > 0


def test_fuzz_ogg():
    valid = encode_ogg_vorbis(6, 44100, 2, 1024, serial=3, payload_seed=1)
    _drive(ogg_stats, OggError, valid, seed=101)


def test_fuzz_webm():
    valid = encode_webm(60_000, 1280, 720, 48000, 2, 4, payload_seed=1)
    _drive(webm_stats, EbmlError, valid, seed=202)


def test_fuzz_webm_unknown_size():
    valid = encode_webm(
        60_000, 1280, 720, 48000, 2, 4, unknown_segment_size=True
    )
    _drive(webm_stats, EbmlError, valid, seed=203)


def test_every_truncation_point_terminates():
    # exhaustive truncation sweep — the classic lacing/vint hang shape.
    # A cut at a page/element boundary is a legal shorter stream, so
    # success is allowed; the contract is dict-or-module-error, fast.
    for enc, parse, errtype in (
        (
            encode_ogg_vorbis(2, 22050, 1, 2048),
            ogg_stats,
            OggError,
        ),
        (
            encode_webm(1000, 640, 360, 44100, 1, 1),
            webm_stats,
            EbmlError,
        ),
    ):
        n_ok = 0
        for cut in range(len(enc)):
            try:
                out = parse(enc[:cut])
                assert isinstance(out, dict)
                n_ok += 1
            except errtype:
                pass
        # only a handful of boundary cuts may succeed
        assert n_ok < len(enc) // 10


# ------------------------------------------------------ property round-trips

from hypothesis import given, settings, strategies as st

from pdf_parser_spark.functions.webmcore import encode_webm, webm_stats


@settings(max_examples=80, deadline=None)
@given(
    n=st.integers(1, 40),
    rate=st.sampled_from([8000, 22050, 44100, 48000]),
    spp=st.integers(64, 8192),
    ch=st.integers(1, 8),
    serial=st.integers(1, 2**31 - 1),
    seed=st.integers(0, 2**31 - 1),
)
def test_ogg_roundtrip_property(n, rate, spp, ch, serial, seed):
    s = ogg_stats(encode_ogg_vorbis(n, rate, ch, spp, serial, seed))
    assert s == {
        "sample_rate": rate,
        "channels": ch,
        "n_pages": n + 1,
        "duration_ms": n * spp * 1000 // rate,
        "eos": 1,
    }


@settings(max_examples=80, deadline=None)
@given(
    dur=st.integers(0, 10**9),
    w=st.integers(1, 8192),
    h=st.integers(1, 8192),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
    ch=st.integers(1, 8),
    nc=st.integers(0, 30),
    seed=st.integers(0, 2**31 - 1),
    unknown=st.booleans(),
)
def test_webm_roundtrip_property(dur, w, h, rate, ch, nc, seed, unknown):
    s = webm_stats(
        encode_webm(dur, w, h, rate, ch, nc, seed, unknown_segment_size=unknown)
    )
    assert s == {
        "duration_ms": dur,
        "width": w,
        "height": h,
        "sample_rate": rate,
        "channels": ch,
        "n_video": 1,
        "n_audio": 1,
        "n_clusters": nc,
    }
