"""Delta + FOR / PFor block codecs as vectorized numpy kernels.

Semantics mirror Lucene's postings block encoding
(`lucene/core/src/java/org/apache/lucene/codecs/lucene103/ForUtil.java`,
`PForUtil.java:27-115`, `ForDeltaUtil.java:63+`,
`Lucene103PostingsFormat.java:44-63,343-351`):

- postings are chunked into fixed blocks of ``BLOCK_SIZE = 128`` docs;
- docIDs are delta-encoded (``np.diff``) then FOR bit-packed at the
  minimal width covering the block (no patching);
- freqs are PFor-packed: base width covers all but at most
  ``MAX_EXCEPTIONS = 7`` values, whose high bits are patched separately;
- decode is the inverse + prefix sum (``np.cumsum``).

The wire format here is our own (self-describing little header), since
byte-layout compatibility with Lucene files is a non-goal — the *codec
semantics* (block size, delta+FOR, ≤7 patched exceptions) are what the
north star requires. Everything is numpy-vectorized: no per-element
Python in encode or decode.

Layout of a packed blob:
    [mode:u8 'F'|'P'] [width:u8] [n:u16le] payload...
    FOR payload:  packbits(bits of n values at width w), LSB-first per value
    PFor payload: [n_exc:u8] [exc_pos:u8 * n_exc] [exc_high:u32le * n_exc]
                  then FOR payload of the low `width` bits
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "BLOCK_SIZE",
    "MAX_EXCEPTIONS",
    "for_encode",
    "for_decode",
    "pfor_encode",
    "pfor_decode",
    "delta_encode",
    "delta_decode",
    "for_encode_stream",
    "for_decode_stream",
]

BLOCK_SIZE = 128  # Lucene103PostingsFormat.BLOCK_SIZE
MAX_EXCEPTIONS = 7  # PForUtil.MAX_EXCEPTIONS


def _bit_width(values: np.ndarray) -> int:
    m = int(values.max()) if values.size else 0
    return max(1, int(m).bit_length())


def _pack_bits(values: np.ndarray, width: int) -> np.ndarray:
    """Bit-pack uint64 values at `width` bits each → uint8 array."""
    n = values.shape[0]
    # (n, width) matrix of bits, LSB first per value
    bits = ((values[:, None] >> np.arange(width, dtype=np.uint64)) & 1).astype(np.uint8)
    flat = bits.reshape(n * width)
    return np.packbits(flat, bitorder="little")


def _unpack_bits(buf: np.ndarray, n: int, width: int) -> np.ndarray:
    bits = np.unpackbits(buf, count=n * width, bitorder="little")
    bits = bits.reshape(n, width).astype(np.uint64)
    return (bits << np.arange(width, dtype=np.uint64)).sum(axis=1)


def for_encode(values: np.ndarray) -> bytes:
    """FOR: bit-pack all values at the block's max bit width."""
    values = np.asarray(values, dtype=np.uint64)
    width = _bit_width(values)
    header = np.array([ord("F"), width], dtype=np.uint8).tobytes()
    n = np.array([values.shape[0]], dtype="<u2").tobytes()
    return header + n + _pack_bits(values, width).tobytes()


def for_decode(blob: bytes) -> np.ndarray:
    buf = np.frombuffer(blob, dtype=np.uint8)
    assert buf[0] == ord("F"), "not a FOR block"
    width = int(buf[1])
    n = int(np.frombuffer(blob, dtype="<u2", count=1, offset=2)[0])
    return _unpack_bits(buf[4:], n, width).astype(np.int64)


def pfor_encode(values: np.ndarray) -> bytes:
    """PFor: FOR at a reduced width + ≤7 patched exceptions.

    Picks the smallest base width such that at most MAX_EXCEPTIONS
    values exceed it (mirrors `PForUtil.java:60-88` exception budget);
    falls back to plain FOR when no width saves space.
    """
    values = np.asarray(values, dtype=np.uint64)
    n = values.shape[0]
    if n == 0:
        return for_encode(values)
    max_width = _bit_width(values)
    best = None
    for w in range(1, max_width):
        over = values >= (np.uint64(1) << np.uint64(w))
        n_exc = int(over.sum())
        if n_exc <= MAX_EXCEPTIONS:
            best = (w, over)
            break
    if best is None:
        return for_encode(values)
    width, over = best
    exc_pos = np.nonzero(over)[0].astype(np.uint8)
    exc_high = (values[over] >> np.uint64(width)).astype("<u4")
    low = values & ((np.uint64(1) << np.uint64(width)) - np.uint64(1))
    out = bytearray()
    out += np.array([ord("P"), width], dtype=np.uint8).tobytes()
    out += np.array([n], dtype="<u2").tobytes()
    out += np.array([len(exc_pos)], dtype=np.uint8).tobytes()
    out += exc_pos.tobytes()
    out += exc_high.tobytes()
    out += _pack_bits(low, width).tobytes()
    return bytes(out)


def pfor_decode(blob: bytes) -> np.ndarray:
    buf = np.frombuffer(blob, dtype=np.uint8)
    if buf[0] == ord("F"):
        return for_decode(blob)
    assert buf[0] == ord("P"), "not a PFor block"
    width = int(buf[1])
    n = int(np.frombuffer(blob, dtype="<u2", count=1, offset=2)[0])
    n_exc = int(buf[4])
    off = 5
    exc_pos = buf[off : off + n_exc].astype(np.int64)
    off += n_exc
    exc_high = np.frombuffer(blob, dtype="<u4", count=n_exc, offset=off).astype(np.uint64)
    off += 4 * n_exc
    vals = _unpack_bits(buf[off:], n, width)
    vals[exc_pos] |= exc_high << np.uint64(width)
    return vals.astype(np.int64)


def for_encode_stream(values: np.ndarray) -> bytes:
    """FOR-pack an arbitrary-length int stream as 128-int sub-blocks.

    Lucene's .pos file packs position deltas in the same 128-int FOR
    blocks as docIDs (`Lucene103PostingsFormat.java:44-63`, pos blocks
    at `:225-250`); this is the stream variant for per-block position
    payloads whose length = sum of freqs (not bounded by 128).

    Layout: [n_total:u4le] then ceil(n/128) FOR blobs back-to-back.
    """
    values = np.asarray(values, dtype=np.uint64)
    out = bytearray(np.array([values.shape[0]], dtype="<u4").tobytes())
    for start in range(0, values.shape[0], BLOCK_SIZE):
        out += for_encode(values[start : start + BLOCK_SIZE])
    return bytes(out)


def for_decode_stream(blob: bytes) -> np.ndarray:
    n_total = int(np.frombuffer(blob, dtype="<u4", count=1)[0])
    out = np.empty(n_total, dtype=np.int64)
    off, got = 4, 0
    buf = np.frombuffer(blob, dtype=np.uint8)
    while got < n_total:
        width = int(buf[off + 1])
        n = int(np.frombuffer(blob, dtype="<u2", count=1, offset=off + 2)[0])
        payload = (n * width + 7) // 8
        out[got : got + n] = for_decode(blob[off : off + 4 + payload])
        off += 4 + payload
        got += n
    return out


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Sorted docIDs → [first, diffs...] (fused delta of ForDeltaUtil)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    if doc_ids.size == 0:
        return doc_ids
    out = np.empty_like(doc_ids)
    out[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    """Prefix-sum decode (`ForDeltaUtil` cumsum path)."""
    return np.cumsum(np.asarray(deltas, dtype=np.int64))


def fordelta_encode(doc_ids: np.ndarray) -> bytes:
    """Doc block: ``[base: u8 LE][FOR(gaps)]`` — only the 127 gaps are
    bit-packed; the absolute block base rides in a fixed 8-byte header.

    This is `ForDeltaUtil`'s actual layout split: Lucene packs deltas
    only, and the block's absolute doc bounds live in the skip entry
    (`Lucene103PostingsFormat.java:343-351` skip data), mirrored here
    by the blocks table's `first_doc`/`last_doc` metadata columns.
    Packing the absolute first docID into the FOR block (the previous
    layout) sets the whole block's bit width to ~log2(maxDoc) and makes
    the encoding insensitive to gap structure — measured 15 bits per
    posting on a 30k-doc corpus whose gaps need 2, and it nullified the
    BP-reorder compression win. u8 base because docIDs reach 10^12 at
    target scale.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    if doc_ids.size == 0:
        return b""
    base = np.array([doc_ids[0]], dtype="<u8").tobytes()
    gaps = np.diff(doc_ids).astype(np.uint64)
    return base + for_encode(gaps)


def fordelta_decode(blob: bytes) -> np.ndarray:
    """Inverse of :func:`fordelta_encode` → absolute sorted docIDs."""
    if len(blob) == 0:
        return np.empty(0, dtype=np.int64)
    base = int(np.frombuffer(blob, dtype="<u8", count=1)[0])
    gaps = for_decode(blob[8:])
    out = np.empty(gaps.size + 1, dtype=np.int64)
    out[0] = base
    if gaps.size:
        out[1:] = base + np.cumsum(gaps)
    return out
