"""Deterministic archive fixtures for gates and tests.

Minimal RAR containers with STORED (method 0x30 / 0) members in the
published RAR4/RAR5 block layouts — the shapes core/rar_extract.py walks
natively (reference archive_reader.py:18-55 shells out to rarfile+unrar;
only the proprietary DECOMPRESSION stays a typed error here, the
container walk and stored members are native).  A non-zero ``method``
labels the members compressed instead (their bytes stay as given), which
reaches that typed error.  Pure byte assembly — no clock, no
randomness: same members → identical archive bytes.
"""

from __future__ import annotations

import struct
from typing import List, Tuple


def build_rar4_stored(members: List[Tuple[str, bytes]], method: int = 0) -> bytes:
    """Minimal RAR4 archive: signature, MAIN_HEAD, stored file blocks
    (``method`` 1-5 marks them compressed instead)."""
    out = bytearray(b"Rar!\x1a\x07\x00")
    out += struct.pack("<HBHH", 0, 0x73, 0, 13) + b"\x00" * 6  # MAIN_HEAD
    for name, data in members:
        nb = name.encode()
        head_size = 32 + len(nb)
        out += struct.pack(
            "<HBHHIIBIIBBHI",
            0,            # HEAD_CRC (unchecked)
            0x74,         # file header
            0x8000,       # LONG_BLOCK
            head_size,
            len(data),    # PACK_SIZE
            len(data),    # UNP_SIZE (stored)
            0,            # host os
            0,            # file crc (unchecked)
            0,            # ftime
            29,           # unp_ver
            0x30 + method,  # method: 0x30 = store
            len(nb),
            0x20,         # attrs
        )
        out += nb + data
    out += struct.pack("<HBHH", 0, 0x7B, 0, 7)  # archive end
    return bytes(out)


def _vint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def build_rar5_stored(members: List[Tuple[str, bytes]], method: int = 0) -> bytes:
    """Minimal RAR5 archive: signature, main header, stored file blocks,
    end block (vint-encoded per the published rar5 layout); ``method``
    1-5 marks the members compressed instead."""
    out = bytearray(b"Rar!\x1a\x07\x01\x00")

    def block(content: bytes, data: bytes = b"") -> bytes:
        hdr = _vint(len(content))
        return b"\x00\x00\x00\x00" + hdr + content + data  # crc32 unchecked

    out += block(_vint(1) + _vint(0) + _vint(0))  # main header (type 1)
    for name, data in members:
        nb = name.encode()
        content = (
            _vint(2)            # file header
            + _vint(0x02)       # header flags: data area present
            + _vint(len(data))  # data size
            + _vint(0)          # file flags
            + _vint(len(data))  # unpacked size
            + _vint(0)          # attributes
            + _vint(method << 7)  # compression_info: method 0 = store
            + _vint(0)          # host os
            + _vint(len(nb))
            + nb
        )
        out += block(content, data)
    out += block(_vint(5) + _vint(0) + _vint(0))  # end of archive
    return bytes(out)
