"""Shared bit-level I/O for the in-tree codecs.

Every codec module reads and writes its bit streams, base-128 varints,
zigzag integers and canonical prefix codes through this module, so each
bit-level decision (bit order, bounds checks, the varint length cap, the
canonical code order) is made once. Input that ends early raises
``ValueError`` with "truncated" in its message.

- ``LSBReader`` / ``LSBWriter``: forward streams packed LSB-first within
  bytes (brotli, RFC 7932 section 3.1; zstd FSE table descriptions and
  Huffman streams; WebP lossless). Prefix codes in these formats are
  walked MSB-of-code first, the DEFLATE convention:
  ``LSBWriter.write_code`` emits them that way.
- ``MSBReader`` / ``MSBWriter``: forward streams packed MSB-first within
  bytes (FLAC frames, H.264 RBSP, CCITT T.6).
- ``read_uvarint`` / ``write_uvarint`` / ``zigzag`` / ``unzigzag``:
  protobuf-style base-128 varints (protobuf, Thrift compact, ORC, Avro,
  Kafka, TFRecord, Snappy), at most 10 bytes by default.
- ``package_merge_lengths`` / ``canonical_codes``: length-limited
  Huffman code lengths and the canonical codes for them.

Bit I/O that stays in its codec module, and why:

- ``jpeg._BitReader`` / ``jpeg._BitWriter``: entropy-coded segments
  stuff a 0x00 after every 0xFF byte and carry RSTn markers, so they are
  not a plain MSB-first stream.
- ``zstd._RBits``: the backward stream read down from the sentinel bit
  of the last byte. It signals exhaustion with a negative ``pos``
  instead of raising, as the reference decoder's offset check does.
- The LZW code accumulators in ``gif.py`` and ``geotiff.py``: they are
  inlined into the decode loops, which are hot.
- ``parquetdata._unpack_lsb`` and ORC's bit-packed runs: they unpack a
  whole run at once (vectorised), not through a bit cursor.
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# LSB-first streams
# --------------------------------------------------------------------------


class LSBReader:
    """Forward reader over bits packed LSB-first; ``pos`` is the absolute
    bit position."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > len(self.data) * 8:
            raise ValueError("truncated bit stream")
        first = pos >> 3
        last = (end - 1) >> 3
        chunk = int.from_bytes(self.data[first:last + 1], "little")
        self.pos = end
        return (chunk >> (pos & 7)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= len(self.data) * 8:
            raise ValueError("truncated bit stream")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (pos & 7)) & 1

    def align(self) -> None:
        """Skip to the next byte boundary; the skipped bits must be 0."""
        rem = self.pos & 7
        if rem:
            pad = self.read(8 - rem)
            if pad:
                raise ValueError("non-zero padding bits")

    def take_bytes(self, n: int) -> bytes:
        if self.pos & 7:
            raise ValueError("unaligned byte copy")
        start = self.pos >> 3
        if start + n > len(self.data):
            raise ValueError("truncated bit stream")
        self.pos += n * 8
        return self.data[start:start + n]

    def rewind(self, n: int) -> None:
        self.pos -= n

    def byte_pos(self) -> int:
        """Bytes consumed, counting a partly read byte."""
        return (self.pos + 7) >> 3


class LSBWriter:
    """Forward writer packing bits LSB-first. Whole bytes are flushed in
    bulk so the accumulator stays a small int."""

    __slots__ = ("buf", "acc", "n")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        """Append the low ``nbits`` bits of ``value``."""
        if nbits:  # zero-width extra-bit fields are common
            self.acc |= (value & ((1 << nbits) - 1)) << self.n
            self.n += nbits
            if self.n >= 256:
                k = self.n >> 3
                self.buf += (self.acc & ((1 << (k * 8)) - 1)).to_bytes(
                    k, "little")
                self.acc >>= k * 8
                self.n &= 7

    def write_code(self, code: int, length: int) -> None:
        """Emit a prefix-code word MSB-of-code first, matching a reader's
        ``code = code << 1 | next_bit`` walk."""
        rev = 0
        for _ in range(length):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, length)

    def align(self) -> None:
        """Pad with 0 bits to the next byte boundary."""
        if self.n:
            self.buf += self.acc.to_bytes((self.n + 7) >> 3, "little")
            self.acc = 0
            self.n = 0

    def raw(self, data: bytes) -> None:
        """Append whole bytes; the stream must be byte-aligned."""
        if self.n & 7:
            raise ValueError("unaligned raw byte copy")
        self.align()
        self.buf += data

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.buf)


# --------------------------------------------------------------------------
# MSB-first streams
# --------------------------------------------------------------------------


class MSBReader:
    """Forward reader over bits packed MSB-first; ``pos`` is the absolute
    bit position."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > len(self.data) * 8:
            raise ValueError("truncated bit stream")
        last = (end - 1) >> 3
        chunk = int.from_bytes(self.data[pos >> 3:last + 1], "big")
        self.pos = end
        return (chunk >> (((last + 1) << 3) - end)) & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        """An ``n``-bit two's-complement value (``n`` >= 1)."""
        v = self.read(n)
        if v >= (1 << (n - 1)):
            v -= 1 << n
        return v

    def read_unary(self) -> int:
        """Count of 0 bits before the next 1 bit (which is consumed)."""
        data = self.data
        pos = self.pos
        end = len(data) * 8
        n = 0
        while pos < end:
            byte = (data[pos >> 3] << (pos & 7)) & 0xFF
            if byte:
                zeros = 8 - byte.bit_length()
                self.pos = pos + zeros + 1
                return n + zeros
            n += 8 - (pos & 7)
            pos = (pos | 7) + 1
        raise ValueError("truncated bit stream")

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        """Bytes consumed, counting a partly read byte."""
        return (self.pos + 7) >> 3


class MSBWriter:
    """Forward writer packing bits MSB-first. ``write`` keeps the low
    ``nbits`` bits, so a negative value goes out in two's complement."""

    __slots__ = ("buf", "acc", "n")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, n: int) -> None:
        """``n`` 0 bits, then a 1 bit."""
        while n >= 32:
            self.write(0, 32)
            n -= 32
        self.write(1, n + 1)

    def align(self) -> None:
        """Pad with 0 bits to the next byte boundary."""
        if self.n:
            self.write(0, 8 - self.n)

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.buf)


# --------------------------------------------------------------------------
# base-128 varints and zigzag
# --------------------------------------------------------------------------


def read_uvarint(data: bytes, pos: int,
                 max_bytes: int = 10) -> tuple[int, int]:
    """Decode the varint at ``pos`` -> (value, next pos). Ten bytes hold
    any uint64; ``max_bytes`` is raised only by a format whose varints
    are wider (ORC decimal mantissas)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift >= 7 * max_bytes:
            raise ValueError(f"varint longer than {max_bytes} bytes")


def write_uvarint(out: bytearray, v: int) -> None:
    """Append ``v`` as a varint. A negative ``v`` goes out as its 64-bit
    two's complement (ten bytes), the protobuf rule for int64."""
    if v < 0:
        v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def zigzag(v: int) -> int:
    """Signed -> unsigned: 0, -1, 1, -2, ... -> 0, 1, 2, 3, ... An int64
    maps below 2**64."""
    return v << 1 if v >= 0 else (~v << 1) | 1


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------


def package_merge_lengths(counts: dict[int, int],
                          max_len: int) -> dict[int, int]:
    """Optimal length-limited code lengths (package-merge,
    Larmore-Hirschberg) for >= 2 symbols. The Kraft sum is exactly 1 by
    construction, which zstd's weight scheme and brotli's 32768-space
    accounting both require."""
    leaves = sorted((c, (s,)) for s, c in counts.items())
    lst: list[tuple[int, tuple]] = []
    for _ in range(max_len - 1):
        merged = sorted(lst + leaves)
        lst = [(merged[i][0] + merged[i + 1][0],
                merged[i][1] + merged[i + 1][1])
               for i in range(0, len(merged) - 1, 2)]
    merged = sorted(lst + leaves)
    lengths = {s: 0 for s in counts}
    for _, syms in merged[:2 * (len(leaves) - 1)]:
        for s in syms:
            lengths[s] += 1
    return lengths


def canonical_codes(lengths: dict[int, int] | list[int]
                    ) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) of the canonical code with the given
    lengths (a symbol -> length dict, or a list indexed by symbol;
    length 0 = unused). Codes count up in (length, symbol) order, as
    DEFLATE, brotli and VP8L assign them."""
    items = lengths.items() if isinstance(lengths, dict) \
        else enumerate(lengths)
    by_len: dict[int, list[int]] = {}
    for sym, ln in items:
        if ln:
            by_len.setdefault(ln, []).append(sym)
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    for ln in range(1, max(by_len, default=0) + 1):
        for sym in sorted(by_len.get(ln, ())):
            codes[sym] = (code, ln)
            code += 1
        code <<= 1
    return codes
