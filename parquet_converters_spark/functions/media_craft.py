"""Spec-payload crafting primitives — RFC 3533 Ogg pages, ISO-BMFF
boxes, RFC 8794 EBML elements.

One shared copy for every ENGINE-side construction site (the fixture
corpus in queries.py, the corpus-grain ``media_triage_census``
builder, the bench container corpus) so the byte layouts cannot
silently diverge between them (r14 review finding).  The probe and
decoders never construct with these — and the pytest suite keeps its
own independently written crafters in tests/ — so the
two-implementation validation posture is preserved.
"""

from __future__ import annotations

import struct

#: RFC 3533 §6 page CRC: poly 0x04C11DB7, init 0, NON-reflected, no
#: final xor — NOT the zlib/IEEE reflected variant.  Table built once.
_OGG_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) if (_r & 0x80000000) else (_r << 1)
    _OGG_CRC_TABLE.append(_r & 0xFFFFFFFF)
del _b, _r


def ogg_crc(data: bytes) -> int:
    """The RFC 3533 page checksum over ``data`` (CRC field must
    already be zeroed in the input)."""
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ \
            _OGG_CRC_TABLE[((crc >> 24) & 0xFF) ^ byte]
    return crc


def ogg_page(granule: int, packet: bytes, htype: int = 2,
             seq: int = 0, serial: int = 1) -> bytes:
    """One Ogg page (RFC 3533 §6) carrying one whole packet: 255-run
    lacing with the 0-terminator for exact multiples.  The page CRC
    is computed per spec (r14 ADVICE: spec-compliant readers —
    libogg, ffmpeg — verify it and discard mismatching pages, so the
    transcode sink's output must carry a real checksum)."""
    segs = []
    rest = len(packet)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)
    page = bytearray(
        b"OggS\x00" + bytes([htype])
        + granule.to_bytes(8, "little")
        + serial.to_bytes(4, "little")
        + seq.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + bytes([len(segs)]) + bytes(segs) + packet
    )
    page[22:26] = ogg_crc(page).to_bytes(4, "little")
    return bytes(page)


def mp4_box(typ: bytes, payload: bytes) -> bytes:
    """One ISO-BMFF box (ISO/IEC 14496-12 §4.2, 32-bit size form)."""
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def ebml(eid: bytes, payload: bytes) -> bytes:
    """One EBML element (RFC 8794) with a single-byte size vint —
    payloads must stay under 127 bytes (asserted)."""
    if len(payload) >= 127:
        raise ValueError("ebml: single-byte size vint needs len < 127")
    return eid + bytes([0x80 | len(payload)]) + payload


def gray_bmp(rows) -> bytes:
    """24-bit BI_RGB BMP from a grid of gray values (``rows[y][x]`` in
    0..255, top-down), emitted bottom-up with standard 4-byte row
    padding — the still-image analogue of :func:`ogg_page` for
    crafting pixel-exact decoder inputs."""
    h, w = len(rows), len(rows[0])
    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for y in range(h - 1, -1, -1):
        line = bytearray()
        for v in rows[y]:
            line += bytes((v, v, v))
        px += line + b"\x00" * (stride - len(line))
    hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    off = 14 + len(hdr)
    return (
        b"BM" + struct.pack("<IHHI", off + len(px), 0, 0, off) + hdr
        + bytes(px)
    )
