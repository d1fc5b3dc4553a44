"""WebM/Matroska EBML walk: duration/dims/audio metadata without decode.

Written from the public EBML spec (RFC 8794) and the Matroska element
registry: a WebM file is an EBML document — a tree of elements, each a
(variable-length ID, variable-length size, payload) triple. The walk
reads the EBML header (DocType), then descends the Segment into Info
(TimestampScale + Duration → wall-clock duration), Tracks (track type,
codec ID, video PixelWidth/PixelHeight, audio SamplingFrequency/
Channels) and counts Cluster elements without entering them. Frame
payloads are never decoded — :func:`webm_stats` is a metadata feature,
clearly labeled, the same honesty tier as :mod:`oggcore`.

Matroska's integrity primitive is the CRC-32 element (ID ``0xBF``): when
present it MUST be the first child of its master element and holds the
IEEE CRC-32 (the zlib polynomial, little-endian payload) of the rest of
that master's payload. The walk verifies every CRC-32 element it meets
and fails loudly on a mismatch, the same contract as oggcore's per-page
CRC.

Unknown-size elements (all-ones size vint) are legal for Segment in
live-streamed files; the walk supports that for Segment only (extends
to end-of-file), the common real-world shape.

(Reference parity note: the reference repo has no video handling at
all; this module exists for the LLM-data-pipeline media-metadata
surface, the ``webm_metadata`` query.)
"""

from __future__ import annotations

import struct
import zlib

__all__ = ["webm_stats", "webm_feature", "encode_webm"]


class EbmlError(ValueError):
    pass


# Matroska / WebM element IDs (raw, marker bits retained — RFC 8794 §5).
_EBML_HEADER = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA
_AUDIO = 0xE1
_SAMPLING_FREQUENCY = 0xB5
_CHANNELS = 0x9F
_CLUSTER = 0x1F43B675
_CRC32 = 0xBF
_VOID = 0xEC


def _read_vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int, int, bool]:
    """RFC 8794 §4: leading zero bits of the first byte give the octet
    length; the marker bit is kept for element IDs, dropped for sizes.
    Returns (value, new_pos, is_all_ones) — the last flags an
    unknown-size vint (every value bit set)."""
    if pos >= len(data):
        raise EbmlError("truncated vint")
    first = data[pos]
    if first == 0:
        raise EbmlError(f"invalid vint (zero lead byte) at {pos}")
    length = 1
    mask = 0x80
    while not first & mask:
        mask >>= 1
        length += 1
    if pos + length > len(data):
        raise EbmlError("truncated vint body")
    value = first if keep_marker else first & (mask - 1)
    all_ones = (first & (mask - 1)) == mask - 1
    for i in range(1, length):
        b = data[pos + i]
        value = (value << 8) | b
        all_ones = all_ones and b == 0xFF
    return value, pos + length, all_ones


def _uint(payload: bytes) -> int:
    v = 0
    for b in payload:
        v = (v << 8) | b
    return v


def _float(payload: bytes) -> float:
    if len(payload) == 4:
        return struct.unpack(">f", payload)[0]
    if len(payload) == 8:
        return struct.unpack(">d", payload)[0]
    if len(payload) == 0:
        return 0.0
    raise EbmlError(f"float element of width {len(payload)}")


def _children(data: bytes, start: int, end: int):
    """Iterate (element_id, payload_start, payload_end) over one master
    element's payload, verifying a leading CRC-32 element if present
    (Matroska: CRC covers the rest of the master's payload)."""
    pos = start
    first = True
    while pos < end:
        eid, pos, _ = _read_vint(data, pos, keep_marker=True)
        size, pos, unknown = _read_vint(data, pos, keep_marker=False)
        if unknown:
            raise EbmlError(f"unknown-size element 0x{eid:X} outside Segment")
        pend = pos + size
        if pend > end:
            raise EbmlError(f"element 0x{eid:X} overruns its parent")
        if eid == _CRC32:
            if not first:
                raise EbmlError("CRC-32 element is not the first child")
            if size != 4:
                raise EbmlError(f"CRC-32 element of width {size}")
            stored = struct.unpack("<I", data[pos:pend])[0]
            if zlib.crc32(data[pend:end]) != stored:
                raise EbmlError("CRC-32 mismatch in master element")
        elif eid != _VOID:
            yield eid, pos, pend
        first = False
        pos = pend


def webm_stats(data: bytes) -> dict:
    """Walk the EBML tree of a WebM/Matroska file and return
    {duration_ms, width, height, sample_rate, channels, n_video,
    n_audio, n_clusters} from container metadata alone. Verifies any
    CRC-32 elements met along the way; raises :class:`EbmlError` on a
    non-EBML payload, truncation, structural overrun, or CRC mismatch.
    Frame data inside Clusters is never read."""
    if data[:4] != b"\x1a\x45\xdf\xa3":
        raise EbmlError("not an EBML document")
    # ---- EBML header
    eid, pos, _ = _read_vint(data, 0, keep_marker=True)
    size, pos, unknown = _read_vint(data, pos, keep_marker=False)
    if unknown:
        raise EbmlError("EBML header with unknown size")
    hdr_end = pos + size
    if hdr_end > len(data):
        raise EbmlError("truncated EBML header")
    doctype = "matroska"  # spec default
    for ceid, cs, ce in _children(data, pos, hdr_end):
        if ceid == _DOCTYPE:
            doctype = data[cs:ce].split(b"\x00", 1)[0].decode("ascii", "replace")
    if doctype not in ("webm", "matroska"):
        raise EbmlError(f"unsupported DocType {doctype!r}")
    # ---- Segment
    pos = hdr_end
    eid, pos, _ = _read_vint(data, pos, keep_marker=True)
    if eid != _SEGMENT:
        raise EbmlError(f"expected Segment, found 0x{eid:X}")
    size, pos, unknown = _read_vint(data, pos, keep_marker=False)
    seg_end = len(data) if unknown else pos + size
    if seg_end > len(data):
        raise EbmlError("truncated Segment")

    scale_ns = 1_000_000  # TimestampScale default (1 ms)
    duration_ticks = 0.0
    width = height = channels = 0
    sample_rate = 0
    n_video = n_audio = n_clusters = 0

    for eid, cs, ce in _children(data, pos, seg_end):
        if eid == _INFO:
            for ieid, is_, ie in _children(data, cs, ce):
                if ieid == _TIMESTAMP_SCALE:
                    scale_ns = _uint(data[is_:ie])
                elif ieid == _DURATION:
                    duration_ticks = _float(data[is_:ie])
        elif eid == _TRACKS:
            for teid, ts, te in _children(data, cs, ce):
                if teid != _TRACK_ENTRY:
                    continue
                ttype = 0
                for feid, fs, fe in _children(data, ts, te):
                    if feid == _TRACK_TYPE:
                        ttype = _uint(data[fs:fe])
                    elif feid == _VIDEO:
                        for veid, vs, ve in _children(data, fs, fe):
                            if veid == _PIXEL_WIDTH:
                                width = _uint(data[vs:ve])
                            elif veid == _PIXEL_HEIGHT:
                                height = _uint(data[vs:ve])
                    elif feid == _AUDIO:
                        for aeid, as_, ae in _children(data, fs, fe):
                            if aeid == _SAMPLING_FREQUENCY:
                                sample_rate = int(_float(data[as_:ae]))
                            elif aeid == _CHANNELS:
                                channels = _uint(data[as_:ae])
                if ttype == 1:
                    n_video += 1
                elif ttype == 2:
                    n_audio += 1
        elif eid == _CLUSTER:
            n_clusters += 1  # counted, never entered
    if n_video == 0 and n_audio == 0:
        raise EbmlError("no tracks")
    return {
        "duration_ms": int(duration_ticks * scale_ns / 1_000_000),
        "width": width,
        "height": height,
        "sample_rate": sample_rate,
        "channels": channels,
        "n_video": n_video,
        "n_audio": n_audio,
        "n_clusters": n_clusters,
    }


def webm_feature(data: bytes, dim: int = 8) -> list[float]:
    """Deterministic metadata feature vector (duration, dims, audio
    shape, cluster count) — NOT decoded frames, same contract as
    :func:`oggcore.ogg_feature`."""
    s = webm_stats(data)
    feats = [
        min(s["duration_ms"] / 600_000.0, 1.0),
        s["width"] / 4096.0,
        s["height"] / 4096.0,
        s["sample_rate"] / 48000.0,
        s["channels"] / 2.0,
        min(s["n_clusters"] / 1024.0, 1.0),
        float(s["n_video"]),
        float(s["n_audio"]),
    ]
    feats = feats[:dim]
    return feats + [0.0] * (dim - len(feats))


# --------------------------------------------------------------- writer


def _vint_size(value: int, length: int | None = None) -> bytes:
    if length is None:
        length = 1
        while value >= (1 << (7 * length)) - 1:  # all-ones is reserved
            length += 1
    marker = 1 << (7 * length)
    return (marker | value).to_bytes(length, "big")


def _el(eid: int, payload: bytes) -> bytes:
    eid_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    return eid_bytes + _vint_size(len(payload)) + payload


def _el_uint(eid: int, value: int) -> bytes:
    n = max(1, (value.bit_length() + 7) // 8)
    return _el(eid, value.to_bytes(n, "big"))


def _with_crc(payload: bytes) -> bytes:
    return _el(_CRC32, struct.pack("<I", zlib.crc32(payload))) + payload


def encode_webm(
    duration_ms: int,
    width: int,
    height: int,
    sample_rate: int,
    channels: int,
    n_clusters: int,
    payload_seed: int = 0,
    unknown_segment_size: bool = False,
) -> bytes:
    """Deterministic WebM METADATA stub: a real EBML tree (spec vint
    framing, CRC-32-protected Info and Tracks masters, one video + one
    audio TrackEntry, Cluster elements with deterministic filler
    payloads). This encoder exists to exercise the tree walk, not a
    codec — Cluster contents are filler bytes, disclosed as such."""
    header = _el(
        _EBML_HEADER,
        _el_uint(0x4286, 1)  # EBMLVersion
        + _el_uint(0x42F7, 1)  # EBMLReadVersion
        + _el(_DOCTYPE, b"webm")
        + _el_uint(0x4287, 4)  # DocTypeVersion
        + _el_uint(0x4285, 2),  # DocTypeReadVersion
    )
    info = _el(
        _INFO,
        _with_crc(
            _el_uint(_TIMESTAMP_SCALE, 1_000_000)
            + _el(_DURATION, struct.pack(">d", float(duration_ms)))
        ),
    )
    video_entry = _el(
        _TRACK_ENTRY,
        _el_uint(0xD7, 1)  # TrackNumber
        + _el_uint(_TRACK_TYPE, 1)
        + _el(_CODEC_ID, b"V_VP9")
        + _el(
            _VIDEO,
            _el_uint(_PIXEL_WIDTH, width) + _el_uint(_PIXEL_HEIGHT, height),
        ),
    )
    audio_entry = _el(
        _TRACK_ENTRY,
        _el_uint(0xD7, 2)
        + _el_uint(_TRACK_TYPE, 2)
        + _el(_CODEC_ID, b"A_OPUS")
        + _el(
            _AUDIO,
            _el(_SAMPLING_FREQUENCY, struct.pack(">f", float(sample_rate)))
            + _el_uint(_CHANNELS, channels),
        ),
    )
    tracks = _el(_TRACKS, _with_crc(video_entry + audio_entry))
    clusters = b""
    for i in range(n_clusters):
        filler = bytes(
            (payload_seed + i * 17 + j * 5) % 256 for j in range((i % 4) * 64 + 32)
        )
        clusters += _el(_CLUSTER, _el_uint(0xE7, i * 1000) + _el(0xA3, filler))
    seg_payload = info + tracks + clusters
    if unknown_segment_size:
        seg = (
            _SEGMENT.to_bytes(4, "big")
            + b"\x01\xff\xff\xff\xff\xff\xff\xff"
            + seg_payload
        )
    else:
        seg = _el(_SEGMENT, seg_payload)
    return header + seg
