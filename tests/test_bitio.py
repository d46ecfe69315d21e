"""sources/_bitio.py: the shared bit readers/writers, varints, zigzag and
canonical-code builders, plus the checks that keep the codecs on them."""
from __future__ import annotations

import ast
import pathlib
import re
import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources import (
    avro, ccitt, h264, kafkalog, orc, parquetdata, parquetmeta, tfrecord,
)
from gfw_pixetl_spark.sources._bitio import (
    LSBReader, LSBWriter, MSBReader, MSBWriter, canonical_codes,
    package_merge_lengths, read_uvarint, unzigzag, write_uvarint, zigzag,
)

_SETTINGS = dict(max_examples=60, deadline=None)
_I64 = st.integers(-(1 << 63), (1 << 63) - 1)


@st.composite
def _fields(draw, max_bits=64):
    """(value, nbits) pairs with value < 2**nbits."""
    widths = draw(st.lists(st.integers(0, max_bits), max_size=60))
    return [(draw(st.integers(0, (1 << n) - 1)), n) for n in widths]


# --------------------------------------------------------------------------
# truncated or malformed input -> ValueError, fast
# --------------------------------------------------------------------------


def _truncations(blob: bytes, decode):
    """Decode every proper prefix of ``blob``."""
    def run():
        for cut in range(1, len(blob)):
            decode(blob[:cut])
    return run


_AVRO_SCHEMA = {"type": "record", "name": "r", "fields": [
    {"name": "n", "type": "long"}, {"name": "s", "type": "string"}]}


def _avro_record() -> bytes:
    out = bytearray()
    avro.write_long(out, -(1 << 62))
    avro.write_long(out, 3)
    out += b"abc"
    return bytes(out)


_TRUNCATED = {
    "parquet_footer": lambda: parquetmeta.decode_footer(b"\x15\x80"),
    "h264_sps": lambda: h264.parse_sps(b"\x67\x42"),
    "orc_rle_varint": lambda: orc.int_rle_decode(b"\xff\x80", 1, False, 1),
    "tfrecord_example": _truncations(
        tfrecord.encode_example({"a": [b"xyz"], "i": [-1, 1 << 40]}),
        tfrecord.decode_example),
    "avro_record": _truncations(
        _avro_record(), lambda b: avro.decode_value(_AVRO_SCHEMA, b, 0)),
    "kafka_segment": _truncations(
        kafkalog.write_segment([(b"k", b"value", [(b"h", b"v")])]),
        kafkalog.iter_segment),
}


@pytest.mark.parametrize("case", sorted(_TRUNCATED))
def test_truncation_raises_value_error(case):
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="truncated"):
        _TRUNCATED[case]()
    assert time.perf_counter() - t0 < 2


def test_g4_truncation_is_value_error():
    """A T.6 stream cut inside a row raises ValueError; one cut at a row
    boundary decodes the rows it holds."""
    rng = np.random.default_rng(5)
    bm = rng.random((12, 40)) < 0.3
    blob = ccitt.g4_encode(bm)
    raised = 0
    for cut in range(1, len(blob)):
        try:
            ccitt.g4_decode(blob[:cut], 40, 12)
        except ValueError as e:
            assert "truncated" in str(e) or "invalid" in str(e)
            raised += 1
    assert raised


def test_delta_binary_packed_rejects_bad_miniblocks():
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="miniblocks"):
        parquetdata._delta_binary_packed(b"\x80\x01\x00\x05\x00", 0, 5)
    with pytest.raises(ValueError, match="miniblocks"):
        parquetdata._delta_binary_packed(b"\x80\x01\x03\x05\x00", 0, 5)
    assert time.perf_counter() - t0 < 2


def _delta_stream(total: int, first: int, min_delta: int, width: int,
                  deltas: list[int]) -> bytes:
    """One DELTA_BINARY_PACKED block: 32 values in 1 miniblock."""
    out = bytearray()
    for v in (32, 1, total, zigzag(first), zigzag(min_delta)):
        write_uvarint(out, v)
    out.append(width)
    packed = sum(d << (i * width) for i, d in enumerate(deltas))
    return bytes(out) + packed.to_bytes(32 * width // 8, "little")


def test_delta_binary_packed_paths_agree_past_int64():
    """A miniblock whose running sum leaves int64 decodes to the same
    values whether it takes the scalar path (< 16 values) or the numpy
    one (>= 16 values)."""
    deltas = [(i * 5) % 8 for i in range(32)]
    first, min_delta = 1 << 62, (1 << 62) + 12345
    scalar, _ = parquetdata._delta_binary_packed(
        _delta_stream(11, first, min_delta, 3, deltas), 0, 11)
    vector, _ = parquetdata._delta_binary_packed(
        _delta_stream(21, first, min_delta, 3, deltas), 0, 21)
    assert scalar == vector[:11]
    assert all(-(1 << 63) <= v < 1 << 63 for v in vector)


# --------------------------------------------------------------------------
# round trips
# --------------------------------------------------------------------------


@given(fields=_fields())
@settings(**_SETTINGS)
def test_lsb_roundtrip(fields):
    w = LSBWriter()
    for v, n in fields:
        w.write(v, n)
    r = LSBReader(w.getvalue())
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
    assert r.byte_pos() == len(r.data)
    r.rewind(r.pos)
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]


@given(codes=_fields(max_bits=15), tail=st.binary(max_size=8))
@settings(**_SETTINGS)
def test_lsb_write_code_align_raw(codes, tail):
    """write_code goes out MSB-of-code first; align + raw bytes come
    back through align + take_bytes."""
    w = LSBWriter()
    for c, n in codes:
        w.write_code(c, n)
    w.align()
    w.raw(tail)
    r = LSBReader(w.getvalue())
    for c, n in codes:
        got = 0
        for _ in range(n):
            got = (got << 1) | r.read_bit()
        assert got == c
    r.align()
    assert r.take_bytes(len(tail)) == tail
    with pytest.raises(ValueError, match="truncated"):
        r.read_bit()


@given(fields=_fields())
@settings(**_SETTINGS)
def test_lsb_sentinel_matches_backward_stream_layout(fields):
    """A final write(1, 1) gives the backward-stream layout zstd's
    _RBits reads: every value packed little-endian from bit 0, then a
    1 sentinel bit, in the fewest whole bytes."""
    w = LSBWriter()
    acc = 0
    nbits = 0
    for v, n in fields:
        w.write(v, n)
        acc |= v << nbits
        nbits += n
    w.write(1, 1)
    acc |= 1 << nbits
    assert w.getvalue() == acc.to_bytes((nbits + 8) >> 3, "little")


@given(fields=_fields(),
       signed=st.lists(st.integers(1, 40).flatmap(
           lambda n: st.tuples(st.integers(-(1 << (n - 1)),
                                           (1 << (n - 1)) - 1),
                               st.just(n))), max_size=30),
       unary=st.lists(st.integers(0, 200), max_size=30))
@settings(**_SETTINGS)
def test_msb_roundtrip(fields, signed, unary):
    w = MSBWriter()
    for v, n in fields:
        w.write(v, n)
    for v, n in signed:
        w.write(v, n)  # two's complement
    for u in unary:
        w.write_unary(u)
    r = MSBReader(w.getvalue())
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
    assert [r.read_signed(n) for _, n in signed] == [v for v, _ in signed]
    assert [r.read_unary() for _ in unary] == unary
    r.align()
    assert r.byte_pos() == len(r.data)


def test_msb_truncation():
    with pytest.raises(ValueError, match="truncated"):
        MSBReader(b"\xff").read(9)
    with pytest.raises(ValueError, match="truncated"):
        MSBReader(b"\x00\x00").read_unary()


@given(v=st.integers(-(1 << 63), (1 << 64) - 1))
@settings(**_SETTINGS)
def test_uvarint_roundtrip(v):
    out = bytearray()
    write_uvarint(out, v)
    assert len(out) <= 10
    assert read_uvarint(bytes(out) + b"\x7f", 0) == (
        v & ((1 << 64) - 1), len(out))


@given(v=_I64)
@settings(**_SETTINGS)
def test_zigzag_roundtrip(v):
    u = zigzag(v)
    assert 0 <= u < 1 << 64
    assert unzigzag(u) == v


def test_varint_extremes_and_cap():
    assert [zigzag(v) for v in (0, -1, 1, -2)] == [0, 1, 2, 3]
    assert zigzag((1 << 63) - 1) == (1 << 64) - 2
    assert zigzag(-(1 << 63)) == (1 << 64) - 1
    out = bytearray()
    write_uvarint(out, -1)
    assert bytes(out) == b"\xff" * 9 + b"\x01"
    assert read_uvarint(bytes(out), 0) == ((1 << 64) - 1, 10)
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        read_uvarint(b"\xff" * 10 + b"\x01", 0)
    with pytest.raises(ValueError, match="truncated"):
        read_uvarint(b"\xff" * 3, 0)


@given(st.dictionaries(st.integers(0, 300), st.integers(1, 10000),
                       min_size=2, max_size=60),
       st.integers(9, 15))
@settings(**_SETTINGS)
def test_canonical_codes_are_prefix_free(counts, max_len):
    lengths = package_merge_lengths(counts, max_len)
    codes = canonical_codes(lengths)
    as_list = [0] * 301
    for s, ln in lengths.items():
        as_list[s] = ln
    assert canonical_codes(as_list) == codes
    words = sorted(format(c, f"0{ln}b") for c, ln in codes.values())
    assert all(not b.startswith(a) for a, b in zip(words, words[1:]))
    # canonical: codes count up in (length, symbol) order
    order = sorted(codes, key=lambda s: (codes[s][1], s))
    values = [codes[s][0] << (max_len - codes[s][1]) for s in order]
    assert values == sorted(values)


# --------------------------------------------------------------------------
# guard: no private bit I/O outside _bitio.py
# --------------------------------------------------------------------------

_PRIVATE_BIT_IO = re.compile(r"Bit(s|Reader|Writer)|varint|zigzag|zz_")

# (module path under gfw_pixetl_spark/, class or function) -> reason
_ALLOWED = {
    ("sources/jpeg.py", "_BitReader"):
        "entropy-coded segments stuff 0x00 after 0xFF and carry RSTn "
        "markers",
    ("sources/jpeg.py", "_BitWriter"):
        "emits the 0xFF00 stuffing the JPEG reader removes",
    ("sources/zstd.py", "_RBits"):
        "backward stream that signals exhaustion with a negative pos",
    ("sources/h264.py", "BitReader"):
        "MSBReader subclass adding only H.264 Exp-Golomb ue/se",
    ("sources/h264.py", "BitWriter"):
        "MSBWriter subclass adding only Exp-Golomb ue/se and the RBSP "
        "trailing bits",
}


def _bit_io_definitions() -> set[tuple[str, str]]:
    root = pathlib.Path(__file__).resolve().parents[1] / "gfw_pixetl_spark"
    found = set()
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        if rel == "sources/_bitio.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, (ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef))
                    and _PRIVATE_BIT_IO.search(node.name)):
                found.add((rel, node.name))
    return found


def test_no_private_bit_io():
    found = _bit_io_definitions()
    assert found - set(_ALLOWED) == set(), (
        "bit reader/writer, varint or zigzag defined outside "
        "sources/_bitio.py; use the shared one")
    assert set(_ALLOWED) - found == set(), "stale allow-list entry"
