"""Zstandard decoder (sources/zstd.py): validated AGAINST THE
REFERENCE ENCODER — every fixture is compressed by libzstd (via
pyarrow's codec) and decoded by the pure-Python implementation, so
Huffman tables, FSE state machines, predefined distributions, repeat
offsets and sequence execution are all checked against the format's
own producer, not against this module itself. Plus: frame index,
seekable format, raw-frame writer, checksum and corruption surface."""

from __future__ import annotations

import random
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.zstd import (
    SEEK_FOOTER_MAGIC, compress, compress_raw, decompress, frame_index,
    read_seek_table, write_seekable, xxh64,
)


def _libzstd(level: int = 3):
    import pyarrow as pa

    return pa.Codec("zstd", compression_level=level)


def _cases() -> list[bytes]:
    rnd = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "hello", "world",
             "spark", "zstd", "the", "of"]
    return [
        b"",
        b"a",
        b"hello world",
        b"hello hello hello hello world " * 50,   # predefined-mode seqs
        bytes(range(256)) * 40,
        b"ab" * 5000,
        rnd.randbytes(10000),                     # incompressible -> raw
        rnd.randbytes(100) * 300,                 # long matches
        (" ".join(rnd.choice(words) for _ in range(50000))).encode(),
        b"x" * 1000000,                           # RLE-ish, multi-block
        bytes(rnd.randrange(4) for _ in range(30000)),  # tiny alphabet
    ]


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decode_matches_libzstd(level):
    c = _libzstd(level)
    for raw in _cases():
        comp = bytes(c.compress(raw))
        assert decompress(comp) == raw


def test_skewed_text_huffman_paths():
    """Skewed single-letter distribution with no long matches forces
    Huffman-compressed literals (FSE-coded weights, 1- or 4-stream)."""
    rnd = random.Random(7)
    pop = ("e" * 30 + "t" * 20 + "a" * 15 + "o" * 10 + "in" * 5
           + "shrdlu" + "".join(chr(c) for c in range(65, 91)))
    for n in (200, 4000, 60000):
        raw = "".join(rnd.choice(pop) for _ in range(n)).encode()
        comp = bytes(_libzstd().compress(raw))
        assert decompress(comp) == raw


def test_multi_frame_and_frame_index():
    c = _libzstd()
    parts = [b"first frame " * 10, b"second " * 99, b"", b"third"]
    comp = b"".join(bytes(c.compress(p)) for p in parts)
    assert decompress(comp) == b"".join(parts)
    fi = frame_index(comp)
    assert len(fi) == 4
    # index tiles the buffer exactly and each frame decodes alone
    pos = 0
    for (off, size, csize), part in zip(fi, parts):
        assert off == pos
        assert csize == len(part)  # libzstd writes FCS for buffers
        assert decompress(comp[off:off + size]) == part
        pos = off + size
    assert pos == len(comp)


def test_raw_frame_writer_roundtrip_and_checksum():
    for raw in _cases():
        assert decompress(compress_raw(raw)) == raw
        assert decompress(compress_raw(raw, checksum=True)) == raw
    # corrupt the checksum -> decode refuses
    f = bytearray(compress_raw(b"payload bytes", checksum=True))
    f[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        decompress(bytes(f))
    # libzstd decodes our raw frames too (cross-validation)
    import pyarrow as pa

    raw = b"cross check " * 100
    assert bytes(pa.Codec("zstd").decompress(
        compress_raw(raw), len(raw))) == raw


def test_seekable_format_roundtrip():
    c = _libzstd()
    records = [f"record {i} {'x' * (i % 37)}".encode() for i in range(50)]
    frames = [bytes(c.compress(r)) for r in records]
    shard = write_seekable(frames, [len(r) for r in records])
    table = read_seek_table(shard)
    assert len(table) == 50
    # ranged decode: each entry decodes independently to its record
    for (off, csize, dsize), rec in zip(table, records):
        assert dsize == len(rec)
        assert decompress(shard[off:off + csize]) == rec
    # decompress() of the whole shard skips the seek-table skippable
    assert decompress(shard) == b"".join(records)
    # frame_index agrees with the seek table
    fi = frame_index(shard)
    assert [(o, s) for o, s, _ in fi] == [(o, s) for o, s, _ in table]
    assert struct.unpack("<I", shard[-4:])[0] == SEEK_FOOTER_MAGIC


def test_seekable_malformed():
    with pytest.raises(ValueError, match="footer magic"):
        read_seek_table(b"\x00" * 64)
    shard = write_seekable([compress_raw(b"abc")], [3])
    with pytest.raises(ValueError, match="overruns"):
        read_seek_table(shard[len(shard) // 2:])


def test_corruption_surface():
    c = _libzstd()
    comp = bytearray(c.compress(b"hello hello hello hello world " * 50))
    with pytest.raises(ValueError, match="magic"):
        decompress(b"\x00\x01\x02\x03\x04\x05\x06\x07")
    with pytest.raises(ValueError, match="truncated"):
        decompress(bytes(comp[:10]))
    # flip the frame-content-size so the decode-length check fires
    bad = bytearray(comp)
    bad[5] ^= 0xFF
    with pytest.raises(ValueError):
        decompress(bytes(bad))
    # reserved block type
    raw_frame = bytearray(compress_raw(b"abcdef"))
    raw_frame[6] |= 0x06  # block-type bits -> 3 (reserved)
    with pytest.raises(ValueError, match="reserved block type"):
        decompress(bytes(raw_frame))
    # a dict-id frame demands its dictionary at decode time
    dict_frame = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 42])
    with pytest.raises(ValueError, match="requires dictionary"):
        decompress(dict_frame)


def test_xxh64_vectors():
    # public xxHash reference vectors
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    assert xxh64(b"as") == 0x1C330FB2D66BE179
    assert xxh64(b"asd") == 0x631C37CE72A97393
    assert xxh64(b"asdf") == 0x415872F599CEA71E
    # 32+ byte path
    assert xxh64(bytes(range(64))) == xxh64(bytes(range(64)))
    r = random.Random(1).randbytes(1000)
    import pyarrow as pa  # noqa: F401  (env marker: vectors above suffice)

    assert isinstance(xxh64(r), int)


def test_property_random_roundtrips():
    """Property sweep: random structured buffers x levels, libzstd
    encode -> our decode must be the identity."""
    rnd = random.Random(123)
    c1, c19 = _libzstd(1), _libzstd(19)
    for trial in range(30):
        kind = trial % 5
        n = rnd.randrange(1, 5000)
        if kind == 0:
            raw = rnd.randbytes(n)
        elif kind == 1:
            raw = rnd.randbytes(rnd.randrange(1, 50)) * rnd.randrange(1, 200)
        elif kind == 2:
            raw = bytes(rnd.randrange(3) for _ in range(n))
        elif kind == 3:
            raw = (b"word" + bytes([rnd.randrange(256)])) * (n // 5 + 1)
        else:
            raw = bytes(rnd.choices(
                b"abcdefgh", weights=[50, 20, 10, 8, 5, 4, 2, 1], k=n))
        for c in (c1, c19):
            comp = bytes(c.compress(raw))
            assert decompress(comp) == raw, (trial, kind, n)


def test_truncated_literal_headers_raise_valueerror():
    """Hostile blocks fail with the uniform ValueError surface, never
    IndexError: RLE byte missing, multi-byte size headers cut short."""
    # frame header + compressed block whose content is a bare RLE
    # literals header (type=1, sf=0) with no literal byte
    def frame_with_block(block):
        hdr = struct.pack("<I", 0xFD2FB528) + bytes([0x20, 0])
        return hdr + ((len(block) << 3) | (2 << 1) | 1).to_bytes(
            3, "little") + block

    with pytest.raises(ValueError, match="RLE literal"):
        decompress(frame_with_block(bytes([0x09])))  # RLE, regen 1
    with pytest.raises(ValueError, match="literals header"):
        decompress(frame_with_block(bytes([0x04])))  # sf=1 needs 2 bytes


def test_truncated_skippable_frame_raises():
    """ADVICE r6: a truncated skippable frame must raise like every
    other truncation path, not silently end the walk with partial
    output."""
    sk = struct.pack("<II", 0x184D2A50, 8) + b"payload!"
    assert decompress(sk + compress_raw(b"hi")) == b"hi"
    from gfw_pixetl_spark.sources.zstd import frame_end

    for bad in (
        sk[:6],                                         # short size read
        struct.pack("<II", 0x184D2A50, 100) + b"xx",    # span overruns
        compress_raw(b"ok") + sk[:10],                  # truncated tail
    ):
        with pytest.raises(ValueError, match="skippable"):
            decompress(bad)
        with pytest.raises(ValueError, match="skippable"):
            frame_index(bad)
    with pytest.raises(ValueError, match="skippable"):
        frame_end(sk[:6], 0)
    with pytest.raises(ValueError, match="skippable"):
        frame_end(struct.pack("<II", 0x184D2A50, 100) + b"xx", 0)


def test_compress_roundtrip_and_libzstd_decodes_ours():
    """Round-7 encoder: greedy LZ77 + predefined-FSE sequences. Every
    case must round-trip through OUR decoder AND through libzstd."""
    lib = _libzstd()
    for i, c in enumerate(_cases()):
        fr = compress(c, checksum=True)
        assert decompress(fr) == c, i
        assert bytes(lib.decompress(fr, len(c))) == c, i
    # repetitive text actually compresses (the sequence layer works)
    text = b"hello hello hello hello world " * 200
    fr = compress(text)
    assert len(fr) < len(text) // 10
    # frame_index sees the compressed frame like any other
    assert frame_index(fr)[0][2] == len(text)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=5000), st.booleans())
def test_property_compress_roundtrip(data, ck):
    fr = compress(data, checksum=ck)
    assert decompress(fr) == data
    assert bytes(_libzstd().decompress(fr, len(data))) == data


@settings(max_examples=20, deadline=None)
@given(st.lists(st.sampled_from([b"abab", b"xyz", b"q", b" "]),
                min_size=0, max_size=400))
def test_property_compress_matchy_inputs(parts):
    data = b"".join(parts)
    fr = compress(data)
    assert decompress(fr) == data
    assert bytes(_libzstd().decompress(fr, len(data))) == data


def test_huffman_literals_layer():
    """Entropy-bound inputs engage the Huffman literals path (both
    1-stream and 4-stream layouts) and stay libzstd-decodable."""
    import random as _r

    rnd = _r.Random(11)
    lib = _libzstd()
    small = bytes(rnd.choices(b"abcdefgh ", k=600))     # 1-stream
    big = bytes(rnd.choices(b"abcdefgh ", k=60000))     # 4-stream
    for c in (small, big):
        fr = compress(c)
        assert decompress(fr) == c
        assert bytes(lib.decompress(fr, len(c))) == c
    # entropy coding actually bites: skewed single bytes can't match
    skew = bytes(rnd.choices(range(8),
                             weights=[100, 50, 20, 10, 5, 2, 1, 1],
                             k=40000))
    fr = compress(skew)
    assert len(fr) < 0.7 * len(skew)
    assert decompress(fr) == skew
    assert bytes(lib.decompress(fr, len(skew))) == skew
    # alphabet past symbol 128: Huffman gated off, still round-trips
    hi = bytes(rnd.choices(range(120, 256), k=5000))
    fr = compress(hi)
    assert decompress(fr) == hi
    assert bytes(lib.decompress(fr, len(hi))) == hi


@settings(max_examples=40, deadline=None)
@given(st.dictionaries(st.integers(0, 128), st.integers(1, 10000),
                       min_size=2, max_size=80))
def test_property_package_merge_kraft(counts):
    from gfw_pixetl_spark.sources._bitio import package_merge_lengths

    lens = package_merge_lengths(counts, 11)
    assert max(lens.values()) <= 11
    assert sum(1 << (11 - l) for l in lens.values()) == 1 << 11


# --------------------------------------------------------------------------
# external dictionaries (RFC 8878 section 5)
# --------------------------------------------------------------------------


def _libzstd_ctypes():
    import ctypes
    import glob

    for pat in ("/usr/lib/*/libzstd.so.1*", "/usr/lib/libzstd.so.1*",
                "/root/miniconda/lib/libzstd.so.1*"):
        for path in sorted(glob.glob(pat)):
            try:
                lib = ctypes.CDLL(path)
                lib.ZSTD_compress_usingDict
                lib.ZDICT_trainFromBuffer
            except (OSError, AttributeError):
                continue
            lib.ZSTD_compressBound.restype = ctypes.c_size_t
            lib.ZSTD_isError.restype = ctypes.c_uint
            lib.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
            lib.ZDICT_isError.restype = ctypes.c_uint
            lib.ZSTD_createCCtx.restype = ctypes.c_void_p
            lib.ZSTD_createDCtx.restype = ctypes.c_void_p
            lib.ZSTD_compress_usingDict.restype = ctypes.c_size_t
            lib.ZSTD_decompress_usingDict.restype = ctypes.c_size_t
            return lib, ctypes
    return None, None


def _dict_samples():
    rnd = random.Random(4)
    words = ["the", "quick", "brown", "information", "document",
             "pipeline", "training", "corpus", "shard", "record"]
    return [(" ".join(rnd.choice(words) for _ in range(40)) +
             f" id={i}").encode() for i in range(120)]


RAW_DICT = (b'{"id": 000000, "text": "the quick brown information '
            b'document pipeline training corpus shard record"} ') * 3


def test_dictionary_roundtrip_own_codec():
    from gfw_pixetl_spark.sources.zstd import parse_dictionary

    pd = parse_dictionary(RAW_DICT)
    assert pd["id"] == 0 and pd["huf"] is None
    for s in _dict_samples()[:30]:
        frame = compress(s, dictionary=RAW_DICT)
        assert decompress(frame, dictionary=RAW_DICT) == s
        # dictionary matching must actually fire on template-shaped text
    tpl = b'{"id": 17, "text": "the quick brown information corpus"}'
    assert len(compress(tpl, dictionary=RAW_DICT)) < len(compress(tpl))


def test_dictionary_cross_validated_against_libzstd():
    lib, ctypes = _libzstd_ctypes()
    if lib is None:
        pytest.skip("libzstd dictionary API not on this machine")
    from gfw_pixetl_spark.sources.zstd import parse_dictionary

    samples = _dict_samples()
    buf = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*[len(s) for s in samples])
    dbuf = ctypes.create_string_buffer(4096)
    dn = lib.ZDICT_trainFromBuffer(dbuf, 4096, buf, sizes, len(samples))
    assert not lib.ZDICT_isError(dn)
    trained = dbuf.raw[:dn]
    pd = parse_dictionary(trained)
    assert pd["id"] != 0 and pd["huf"] is not None

    cctx = ctypes.c_void_p(lib.ZSTD_createCCtx())
    dctx = ctypes.c_void_p(lib.ZSTD_createDCtx())

    def zc(src, d, level):
        cap = lib.ZSTD_compressBound(len(src))
        ob = ctypes.create_string_buffer(cap)
        n = lib.ZSTD_compress_usingDict(
            cctx, ob, ctypes.c_size_t(cap), src,
            ctypes.c_size_t(len(src)), d, ctypes.c_size_t(len(d)),
            level)
        assert not lib.ZSTD_isError(n)
        return ob.raw[:n]

    def zd(frame, d, cap):
        ob = ctypes.create_string_buffer(cap + 16)
        n = lib.ZSTD_decompress_usingDict(
            dctx, ob, ctypes.c_size_t(cap + 16), frame,
            ctypes.c_size_t(len(frame)), d, ctypes.c_size_t(len(d)))
        assert not lib.ZSTD_isError(n)
        return ob.raw[:n]

    # libzstd encode (trained dict: entropy preload + treeless
    # literals + repeat tables) -> our decode, several levels
    for level in (1, 3, 9, 19):
        for s in samples[:25]:
            assert decompress(zc(s, trained, level),
                              dictionary=trained) == s
    # raw-content dict: libzstd -> ours
    for s in samples[:15]:
        assert decompress(zc(s, RAW_DICT, 3), dictionary=RAW_DICT) == s
    # OUR encode -> libzstd decode (raw and trained dicts)
    for s in samples[:15]:
        assert zd(compress(s, dictionary=RAW_DICT), RAW_DICT,
                  len(s)) == s
        assert zd(compress(s, dictionary=trained), trained,
                  len(s)) == s


def test_dictionary_error_surface():
    import pytest as _pytest

    from gfw_pixetl_spark.sources.zstd import parse_dictionary

    # magic present but garbage/truncated tables -> parse must raise
    with _pytest.raises(ValueError):
        parse_dictionary(b"\x37\xa4\x30\xec" + b"\x01\x00\x00\x00")
    with _pytest.raises(ValueError):
        parse_dictionary(b"\x37\xa4\x30\xec" + b"\0" * 400)
    # frame with a dict id requires the dictionary at decode time
    fake = {"id": 77, "content": b"shared content " * 20,
            "huf": None, "seq_ll": None, "seq_of": None,
            "seq_ml": None, "rep": [1, 4, 8]}
    f = compress(b"shared content shared content tail", dictionary=fake)
    with _pytest.raises(ValueError):
        decompress(f)
    with _pytest.raises(ValueError):
        decompress(f, dictionary={**fake, "id": 78})
    assert decompress(f, dictionary=fake) == \
        b"shared content shared content tail"
