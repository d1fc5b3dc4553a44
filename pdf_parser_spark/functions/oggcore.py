"""Ogg page-walk metadata parsing: duration/rate/channels without decode.

Written from the public Ogg framing spec (RFC 3533) and the Vorbis I
specification §4.2.2 (identification header): an Ogg stream is a
sequence of pages, each opening with the capture pattern ``OggS`` and
a 27-byte header carrying flags, a 64-bit granule position, stream
serial, page sequence number, a CRC, and a segment (lacing) table.
For an audio stream the final page's granule position is the total
PCM sample count, so ``duration_ms = last_granule * 1000 //
sample_rate`` follows from the page walk alone; sample rate and
channel count come from the Vorbis identification header carried by
the first (BOS) page. Packet payloads beyond that header are never
decoded — :func:`ogg_stats` is a metadata feature, clearly labeled.

Every page's CRC is verified for real: RFC 3533 uses CRC-32 with the
0x04C11DB7 polynomial, MSB-first, zero init and zero xor-out,
computed over the page with its CRC field zeroed. A corrupted page
fails the walk loudly rather than yielding silent garbage.

(Reference parity note: the reference repo has no audio handling at
all; this module exists for the LLM-data-pipeline media-metadata
surface, the ``ogg_metadata`` query.)
"""

from __future__ import annotations

import struct

__all__ = ["ogg_stats", "ogg_feature", "encode_ogg_vorbis"]


def _make_crc_table() -> list[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1)
            r &= 0xFFFFFFFF
        table.append(r)
    return table


_CRC_TABLE = _make_crc_table()


def _crc32_ogg(data: bytes) -> int:
    crc = 0
    tab = _CRC_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ tab[((crc >> 24) & 0xFF) ^ b]
    return crc


class OggError(ValueError):
    pass


def _parse_id_header(packet: bytes) -> tuple[int, int]:
    """Vorbis I §4.2.2 identification header → (sample_rate, channels)."""
    if len(packet) < 30 or packet[0] != 0x01 or packet[1:7] != b"vorbis":
        raise OggError("first packet is not a Vorbis identification header")
    version = struct.unpack_from("<I", packet, 7)[0]
    if version != 0:
        raise OggError(f"unsupported vorbis_version {version}")
    channels = packet[11]
    rate = struct.unpack_from("<I", packet, 12)[0]
    if channels == 0 or rate == 0:
        raise OggError("zero channels or sample rate in identification header")
    if packet[29] & 0x01 != 0x01:
        raise OggError("identification header framing bit unset")
    return rate, channels


def ogg_stats(data: bytes) -> dict:
    """Walk every page of a single-logical-stream Ogg/Vorbis file and
    return {sample_rate, channels, n_pages, duration_ms, eos} from the
    headers alone. CRC-checks every page; raises :class:`OggError` on
    a bad capture pattern, CRC mismatch, truncation, or a missing/
    malformed identification header."""
    pos = 0
    n_pages = 0
    last_granule = 0
    rate = channels = None
    serial0 = None
    eos = False
    n = len(data)
    while pos < n:
        if data[pos : pos + 4] != b"OggS":
            raise OggError(f"bad capture pattern at byte {pos}")
        if pos + 27 > n:
            raise OggError("truncated page header")
        if data[pos + 4] != 0:
            raise OggError(f"unsupported Ogg version {data[pos + 4]}")
        flags = data[pos + 5]
        granule = struct.unpack_from("<q", data, pos + 6)[0]
        serial = struct.unpack_from("<I", data, pos + 14)[0]
        crc_stored = struct.unpack_from("<I", data, pos + 22)[0]
        n_segs = data[pos + 26]
        seg_table_end = pos + 27 + n_segs
        if seg_table_end > n:
            raise OggError("truncated segment table")
        body_len = sum(data[pos + 27 : seg_table_end])
        page_end = seg_table_end + body_len
        if page_end > n:
            raise OggError("truncated page body")
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _crc32_ogg(bytes(page)) != crc_stored:
            raise OggError(f"CRC mismatch on page {n_pages}")
        if serial0 is None:
            serial0 = serial
        elif serial != serial0:
            raise OggError("multiplexed streams not supported")
        if n_pages == 0:
            if not flags & 0x02:
                raise OggError("first page is not BOS")
            rate, channels = _parse_id_header(data[seg_table_end:page_end])
        if flags & 0x04:
            eos = True
        # granule -1 marks a page with no finished packet; skip those
        if granule >= 0:
            last_granule = granule
        n_pages += 1
        pos = page_end
    if n_pages == 0 or rate is None:
        raise OggError("no pages")
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_pages": n_pages,
        "duration_ms": last_granule * 1000 // rate,
        "eos": 1 if eos else 0,
    }


def ogg_feature(data: bytes, dim: int = 8) -> list[float]:
    """Deterministic metadata feature vector (duration, rate, channels,
    page count, eos flag) — NOT decoded audio."""
    s = ogg_stats(data)
    feats = [
        min(s["duration_ms"] / 600_000.0, 1.0),  # clip at 10 min
        s["sample_rate"] / 48000.0,
        s["channels"] / 2.0,
        min(s["n_pages"] / 4096.0, 1.0),
        float(s["eos"]),
    ]
    feats = feats[:dim]
    return feats + [0.0] * (dim - len(feats))


# --------------------------------------------------------------- writer


def _lacing(length: int) -> bytes:
    """RFC 3533 §5: a packet of len L is 255-valued lacing bytes plus a
    final byte L % 255 (so L a multiple of 255 ends with a 0 byte)."""
    return b"\xff" * (length // 255) + bytes([length % 255])


def _page(
    flags: int, granule: int, serial: int, seq: int, packets: list[bytes]
) -> bytes:
    segs = b"".join(_lacing(len(p)) for p in packets)
    if len(segs) > 255:
        raise OggError("too many lacing values for one page")
    body = b"".join(packets)
    header = (
        b"OggS"
        + b"\x00"
        + bytes([flags])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)])
        + segs
    )
    page = bytearray(header + body)
    crc = _crc32_ogg(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def encode_ogg_vorbis(
    n_audio_pages: int,
    sample_rate: int,
    channels: int,
    samples_per_page: int,
    serial: int = 1,
    payload_seed: int = 0,
) -> bytes:
    """Deterministic single-stream Ogg/Vorbis METADATA stub: a real
    RFC 3533 page sequence (valid CRCs, BOS/EOS flags, monotone
    granule positions) whose BOS page carries a spec-exact Vorbis
    identification header. Audio page payloads are deterministic
    filler bytes — this encoder exists to exercise the page walk, not
    a codec. Total duration is n_audio_pages * samples_per_page."""
    ident = (
        b"\x01vorbis"
        + struct.pack("<I", 0)
        + bytes([channels])
        + struct.pack("<I", sample_rate)
        + struct.pack("<iii", 0, 0, 0)
        + b"\xb8"  # blocksizes 2^8 / 2^11
        + b"\x01"
    )
    pages = [_page(0x02, 0, serial, 0, [ident])]
    granule = 0
    for i in range(n_audio_pages):
        granule += samples_per_page
        payload = bytes(
            (payload_seed + i * 31 + j * 7) % 256 for j in range((i % 3) * 90 + 40)
        )
        flags = 0x04 if i == n_audio_pages - 1 else 0x00
        pages.append(_page(flags, granule, serial, i + 1, [payload]))
    return b"".join(pages)
