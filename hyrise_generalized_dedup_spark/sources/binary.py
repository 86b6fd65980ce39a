"""Reference binary table format — Import/Export parity.

The reference ships a chunked binary table format
(reference: src/lib/import_export/binary/binary_parser.cpp:88-130,
binary_writer.cpp:118-160) used by its ImportNode/ExportNode and test
fixtures (resources/test_data/bin/*.bin). Layout (little-endian):

  header:  chunk_size:u32, chunk_count:u32, column_count:u16,
           column_type_strings (len:u64[] then bytes),
           column_nullables:u8[], column_names (len:u64[] then bytes)
  chunk:   row_count:u32, num_sorted_columns:u32,
           (column_id:u16, sort_mode:i32)[num_sorted],
           one encoded segment per column
  segment: encoding:u8 then encoding-specific payload
           (binary_parser.cpp:143-286):
    0 Unencoded:     [nullable tables: seg_nullable:u8, nulls:u8[n]]
                     values (fixed-width LE, or u64-len-prefixed strings)
    1 Dictionary:    cv_type:u8, dict_size:u32, dict values,
                     attribute vector (bit-packed or fixed-width u8/16/32)
    2 RunLength:     size:u32, run values, run nulls:u8[], end_pos:u32[]
    3 FixedStringDictionary: cv_type:u8, dict_size:u32, strlen:u32,
                     packed char block, attribute vector
    4 FrameOfReference: cv_type:u8, block_count:u32, block minima,
                     nulls_stored:u8 [nulls:u8[n]], offsets (128/block)
    5 LZ4:           num_elements/block geometry:u32x4, block sizes,
                     independently-compressed blocks sharing one
                     dictionary window, nulls, bit-packed string
                     offsets — decoded by a pure-python LZ4 block
                     decoder (no external lz4 package)

Spark-native shape: one .bin file is a driver-side artifact (the
reference caps these at fixture scale too — its own binary fixtures are
KB-sized); parsing decodes each chunk to numpy columns on the driver,
where the meta tables (sources/meta.py) read them. Bulk interchange at
100 TB is parquet (see README "binary format" note) — this reader
exists for drop-in compatibility with reference-produced .bin files,
not as a bulk path.

Verified two ways: round-trip (write_binary -> read_binary, pytest
property cases incl. nulls/empty strings/multi-chunk) and directly
against the reference's own committed fixtures under
resources/test_data/bin/ with expected values transcribed from
src/test/lib/import_export/binary/binary_parser_test.cpp.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_DTYPES = {
    "int": np.dtype("<i4"),
    "long": np.dtype("<i8"),
    "float": np.dtype("<f4"),
    "double": np.dtype("<f8"),
}
_TYPE_ORDER = ("int", "long", "float", "double", "string")

# EncodingType : uint8 (reference: src/lib/storage/encoding_type.hpp:26)
ENC_UNENCODED = 0
ENC_DICTIONARY = 1
ENC_RUNLENGTH = 2
ENC_FIXEDSTRINGDICT = 3
ENC_FRAMEOFREF = 4
ENC_LZ4 = 5

# CompressedVectorType : uint8 (reference: src/lib/storage/
# vector_compression/compressed_vector_type.hpp:29-34)
CV_BITPACKING = 0
CV_FIXED1 = 1
CV_FIXED2 = 2
CV_FIXED4 = 3


class DecodeUnavailable(RuntimeError):
    """An encoding whose decoder library is absent in this container."""


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def raw(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError(f"truncated binary table: wanted {n} bytes at {self.pos}")
        self.pos += n
        return b

    def u8(self) -> int:
        return self.raw(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.raw(2))[0]

    def u32(self) -> int:
        return struct.unpack("<I", self.raw(4))[0]

    def i32(self) -> int:
        return struct.unpack("<i", self.raw(4))[0]

    def values(self, dtype: np.dtype, n: int) -> np.ndarray:
        return np.frombuffer(self.raw(dtype.itemsize * n), dtype=dtype)

    def strings(self, n: int) -> list[str]:
        # u64 length array then the concatenated bytes
        # (binary_parser.cpp:65-79 _read_string_values)
        lengths = self.values(np.dtype("<u8"), n)
        blob = self.raw(int(lengths.sum()))
        out, start = [], 0
        for ln in lengths:
            out.append(blob[start : start + int(ln)].decode("utf-8"))
            start += int(ln)
        return out

    def bools(self, n: int) -> np.ndarray:
        return self.values(np.dtype("<u1"), n).astype(bool)


def _unpack_bitpacked(reader: _Reader, n: int) -> np.ndarray:
    """compact_vector payload: bit_width:u8 then ceil(n*w/64) 64-bit words,
    values packed LSB-first (binary_parser.cpp:37-42)."""
    width = reader.u8()
    if width == 0 or n == 0:
        # compact_vector allocates at least one word even for n==0
        n_words = 0 if n == 0 else (n * max(width, 1) + 63) // 64
        reader.raw(n_words * 8)
        return np.zeros(n, dtype=np.uint32)
    n_words = (n * width + 63) // 64
    words = reader.values(np.dtype("<u8"), n_words)
    bits = np.unpackbits(words.view(np.uint8), bitorder="little")
    idx = np.arange(n, dtype=np.int64)[:, None] * width + np.arange(width)
    vals = (bits[idx].astype(np.uint32) << np.arange(width, dtype=np.uint32)).sum(axis=1)
    return vals


def _read_typed(reader: _Reader, col_type: str, n: int):
    if col_type == "string":
        return reader.strings(n)
    return reader.values(_DTYPES[col_type], n)


@dataclass
class BinaryTable:
    """Decoded table: parallel per-column value lists + None for NULLs."""

    names: list[str]
    types: list[str]  # reference type strings: int long float double string
    nullables: list[bool]
    chunk_size: int
    columns: list[list] = field(default_factory=list)  # per column, all chunks
    chunk_row_counts: list[int] = field(default_factory=list)
    sorted_by: list[list[tuple[int, int]]] = field(default_factory=list)

    @property
    def n_rows(self) -> int:
        return sum(self.chunk_row_counts)


def _decode_segment(reader: _Reader, col_type: str, nullable: bool, n: int) -> list:
    """-> python list of n values (None where NULL)."""
    enc = reader.u8()
    if enc == ENC_UNENCODED:
        nulls = None
        if nullable and reader.u8():  # segment_is_nullable flag
            nulls = reader.bools(n)
        vals = _read_typed(reader, col_type, n)
        out = list(vals) if col_type == "string" else vals.tolist()
        if nulls is not None:
            out = [None if nv else v for v, nv in zip(out, nulls)]
        return out
    if enc in (ENC_DICTIONARY, ENC_FIXEDSTRINGDICT):
        # layout: cv_type:u8, dict_size:u32, dictionary, attribute vector
        # (binary_parser.cpp:192-212)
        cv = reader.u8()
        dict_size = reader.u32()
        if enc == ENC_DICTIONARY:
            dictionary = _read_typed(reader, col_type, dict_size)
            dictionary = list(dictionary) if col_type == "string" else dictionary.tolist()
        else:  # fixed-width char block (binary_parser.cpp:324-329)
            strlen = reader.u32()
            blob = reader.raw(strlen * dict_size)
            dictionary = [
                blob[i * strlen : (i + 1) * strlen].rstrip(b"\0").decode("utf-8")
                for i in range(dict_size)
            ]
        av = _read_attribute_vector_with_cv(reader, cv, n)
        # NULL is encoded as value_id == dict_size (one past the end)
        return [None if v >= dict_size else dictionary[v] for v in av.tolist()]
    if enc == ENC_RUNLENGTH:
        size = reader.u32()
        run_vals = _read_typed(reader, col_type, size)
        run_vals = list(run_vals) if col_type == "string" else run_vals.tolist()
        run_nulls = reader.bools(size)
        end_pos = reader.values(np.dtype("<u4"), size)
        out: list = []
        prev = -1
        for v, nv, e in zip(run_vals, run_nulls, end_pos.tolist()):
            out.extend([None if nv else v] * (e - prev))
            prev = e
        return out
    if enc == ENC_FRAMEOFREF:
        cv = reader.u8()
        block_count = reader.u32()
        minima = reader.values(_DTYPES[col_type], block_count)
        nulls = reader.bools(n) if reader.u8() else None
        offsets = _read_attribute_vector_with_cv(reader, cv, n)
        block_ix = np.arange(n, dtype=np.int64) // 2048  # FoR block = 2048 values
        vals = (minima[block_ix] + offsets.astype(minima.dtype)).tolist()
        if nulls is not None:
            vals = [None if nv else v for v, nv in zip(vals, nulls)]
        return vals
    if enc == ENC_LZ4:
        return _decode_lz4_segment(reader, col_type, n)
    raise ValueError(f"invalid encoding type {enc}")


def _lz4_block_decompress(src: bytes, expected: int, dictionary: bytes = b"") -> bytes:
    """Pure-python LZ4 *block* decoder (the public LZ4 block format:
    token = literal-run nibble + match-len nibble, 255-continuation
    lengths, u16 LE match offsets). ``dictionary`` acts as the preceding
    window — LZ4_decompress_safe_usingDict semantics — so matches may
    reach back into it. Fixture-scale only (the bulk path is parquet);
    no external lz4 package needed."""
    out = bytearray(dictionary)
    base = len(out)
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += src[i : i + lit]
        i += lit
        if i >= n:
            break  # final sequence carries literals only
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block: zero match offset")
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset beyond window")
        if offset >= mlen:
            out += out[start : start + mlen]
        else:
            # overlapping match: the source region repeats as it grows
            chunk = out[start:]
            out += (chunk * (mlen // offset + 1))[:mlen]
    if len(out) - base != expected:
        raise ValueError(
            f"LZ4 block decompressed to {len(out) - base} bytes, expected {expected}"
        )
    return bytes(out[base:])


def _decode_lz4_segment(reader: _Reader, col_type: str, n: int) -> list:
    """LZ4Segment payload (binary_parser.cpp:244-283 _import_lz4_segment):
    num_elements:u32, block_count:u32, block_size:u32, last_block_size:u32,
    lz4_block_sizes:u32[], blocks, null_values_size:u32 [nulls:u8[]],
    dictionary_size:u32 [dict bytes], string_offsets_size:u32
    [bit-packed offsets]. Blocks are independently compressed against the
    shared dictionary (lz4_segment.cpp:175-206 _decompress_block)."""
    num_elements = reader.u32()
    block_count = reader.u32()
    block_size = reader.u32()
    last_block_size = reader.u32()
    block_sizes = reader.values(np.dtype("<u4"), block_count).tolist()
    blocks = [reader.raw(bs) for bs in block_sizes]
    null_values_size = reader.u32()
    nulls = reader.bools(null_values_size) if null_values_size else None
    dict_size = reader.u32()
    dictionary = reader.raw(dict_size)
    string_offsets_size = reader.u32()
    offsets = _unpack_bitpacked(reader, n) if string_offsets_size else None

    data = b"".join(
        _lz4_block_decompress(
            blk,
            block_size if bi + 1 < block_count else last_block_size,
            dictionary,
        )
        for bi, blk in enumerate(blocks)
    )
    if col_type == "string":
        # all-empty-string segments compress to zero blocks
        # (lz4_segment.cpp:128-135); otherwise offsets[i] .. offsets[i+1]
        # (or end-of-data for the last row) delimit each string
        if offsets is None or not len(data):
            out: list = [""] * num_elements
        else:
            offs = offsets.astype(np.int64)
            ends = np.append(offs[1:], len(data))
            out = [
                data[int(s) : int(e)].decode("utf-8") for s, e in zip(offs, ends)
            ]
    else:
        out = np.frombuffer(data, dtype=_DTYPES[col_type])[:num_elements].tolist()
    if nulls is not None:
        out = [None if nv else v for v, nv in zip(out, nulls)]
    return out


def _read_attribute_vector_with_cv(reader: _Reader, cv: int, n: int) -> np.ndarray:
    if cv == CV_BITPACKING:
        return _unpack_bitpacked(reader, n)
    if cv == CV_FIXED1:
        return reader.values(np.dtype("<u1"), n).astype(np.uint32)
    if cv == CV_FIXED2:
        return reader.values(np.dtype("<u2"), n).astype(np.uint32)
    if cv == CV_FIXED4:
        return reader.values(np.dtype("<u4"), n)
    raise ValueError(f"unknown compressed vector type id {cv}")


def read_binary(path: str) -> BinaryTable:
    """Parse a reference-format .bin table (binary_parser.cpp:23-130)."""
    with open(path, "rb") as fh:
        reader = _Reader(fh.read())
    chunk_size = reader.u32()
    chunk_count = reader.u32()
    column_count = reader.u16()
    types = reader.strings(column_count)
    for t in types:
        if t not in _TYPE_ORDER:
            raise ValueError(f"unknown column type {t!r}")
    nullables = list(reader.bools(column_count))
    names = reader.strings(column_count)
    table = BinaryTable(names, types, [bool(x) for x in nullables], chunk_size)
    table.columns = [[] for _ in range(column_count)]
    for _ in range(chunk_count):
        n = reader.u32()
        num_sorted = reader.u32()
        table.sorted_by.append([(reader.u16(), reader.i32()) for _ in range(num_sorted)])
        table.chunk_row_counts.append(n)
        for ci in range(column_count):
            table.columns[ci].extend(
                _decode_segment(reader, types[ci], table.nullables[ci], n)
            )
    return table


_FOR_BLOCK = 2048  # FrameOfReferenceSegment<T>::block_size (reference
# src/lib/storage/frame_of_reference_segment.hpp:55)
_INT32_MAX = 2**31 - 1


def _compress_fixed_width(av: list[int], max_value: int) -> bytes:
    """FixedWidthInteger compression: cv-type byte + narrowest of
    u8/u16/u32 that fits max_value (reference
    fixed_width_integer_compressor.cpp:21-28)."""
    if max_value <= 0xFF:
        cv, dt = CV_FIXED1, "<u1"
    elif max_value <= 0xFFFF:
        cv, dt = CV_FIXED2, "<u2"
    else:
        cv, dt = CV_FIXED4, "<u4"
    return bytes([cv]) + np.asarray(av, dtype=dt).tobytes()


def _compress_bitpacked(av: list[int], max_value: int) -> bytes:
    """BitPacking compression: cv byte, bit width (ceil(log2(max+1)),
    min 1), then zero-padded little-endian 64-bit words (reference
    bitpacking_compressor.cpp:15-46; parsed by _unpack_bitpacked)."""
    n = len(av)
    bits = max(int(max_value).bit_length(), 1) if max_value else 1
    n_words = 0 if n == 0 else (n * bits + 63) // 64
    words = np.zeros(n_words, dtype="<u8")
    for i, v in enumerate(av):
        bitpos = i * bits
        w, off = divmod(bitpos, 64)
        words[w] |= np.uint64((v << off) & 0xFFFFFFFFFFFFFFFF)
        if off + bits > 64:
            words[w + 1] |= np.uint64(v >> (64 - off))
    return bytes([CV_BITPACKING, bits]) + words.tobytes()


def _compress_attribute_vector(av: list[int], max_value: int, vector_compression: str) -> bytes:
    if vector_compression == "bitpacking":
        return _compress_bitpacked(av, max_value)
    return _compress_fixed_width(av, max_value)


def _pack_typed(vals: list, ct: str) -> bytes:
    if ct == "string":
        return _pack_strings([str(v) for v in vals])
    return np.asarray(vals, dtype=_DTYPES[ct]).tobytes()


def _encode_dictionary_segment(
    vals: list, ct: str, vector_compression: str, fixed_string: bool = False
) -> bytes:
    """DictionarySegment: sorted distinct non-null dictionary, value_id =
    dictionary index, NULL encoded as value_id == dict_size; attribute-
    vector width is chosen for the null id even when no NULL occurs
    (reference dictionary_encoder.hpp:61-88, binary_writer.cpp:200-238)."""
    dense = [v for v in vals if v is not None]
    dictionary = sorted(set(dense))
    index = {v: i for i, v in enumerate(dictionary)}
    null_id = len(dictionary)
    av = [null_id if v is None else index[v] for v in vals]
    out = bytearray()
    if fixed_string:
        if ct != "string":
            raise ValueError("FixedStringDictionary requires a string column")
        out += bytes([ENC_FIXEDSTRINGDICT])
    else:
        out += bytes([ENC_DICTIONARY])
    cv_bytes = _compress_attribute_vector(av, null_id, vector_compression)
    out += cv_bytes[:1]  # cv-type id precedes the dictionary in the layout
    out += struct.pack("<I", len(dictionary))
    if fixed_string:
        encoded = [str(v).encode("utf-8") for v in dictionary]
        strlen = max((len(e) for e in encoded), default=0)
        out += struct.pack("<I", strlen)
        out += b"".join(e.ljust(strlen, b"\0") for e in encoded)
    else:
        out += _pack_typed(dictionary, ct)
    out += cv_bytes[1:]
    return bytes(out)


def _encode_runlength_segment(vals: list, ct: str) -> bytes:
    """RunLengthSegment: a new run starts when the null flag flips or the
    value changes; NULL runs merge regardless of value and store the
    type's default value (reference run_length_encoder.hpp:27-57 —
    `current_value = segment_value.value()` reads the value-segment's
    backing array, which holds T{} at NULL positions)."""
    fill: object = "" if ct == "string" else 0
    run_vals: list = []
    run_nulls: list[int] = []
    end_pos: list[int] = []
    for i, v in enumerate(vals):
        is_null = v is None
        value = fill if is_null else v
        if run_vals and bool(run_nulls[-1]) == is_null and (is_null or run_vals[-1] == value):
            end_pos[-1] = i
        else:
            run_vals.append(value)
            run_nulls.append(1 if is_null else 0)
            end_pos.append(i)
    out = bytearray([ENC_RUNLENGTH])
    out += struct.pack("<I", len(run_vals))
    out += _pack_typed(run_vals, ct)
    out += bytes(run_nulls)
    out += np.asarray(end_pos, dtype="<u4").tobytes()
    return bytes(out)


def _encode_for_segment(vals: list, ct: str, vector_compression: str) -> bytes:
    """FrameOfReferenceSegment (int32 only): 2048-value blocks, per-block
    minima over non-null values (an all-NULL block's minimum stays
    numeric_limits<int32_t>::max()), NULL offsets = 0, the null bitmap is
    written only when the segment contains a NULL (reference
    frame_of_reference_encoder.hpp:25-120, binary_writer.cpp:256-280)."""
    if ct != "int":
        raise ValueError("FrameOfReference supports int columns only")
    n = len(vals)
    minima: list[int] = []
    offsets: list[int] = []
    has_null = any(v is None for v in vals)
    for start in range(0, n, _FOR_BLOCK):
        block = vals[start : start + _FOR_BLOCK]
        non_null = [v for v in block if v is not None]
        minimum = min(non_null) if non_null else _INT32_MAX
        minima.append(minimum)
        offsets.extend(0 if v is None else v - minimum for v in block)
    max_offset = max(offsets, default=0)
    out = bytearray([ENC_FRAMEOFREF])
    cv_bytes = _compress_attribute_vector(offsets, max_offset, vector_compression)
    out += cv_bytes[:1]
    out += struct.pack("<I", len(minima))
    out += np.asarray(minima, dtype="<i4").tobytes()
    out += bytes([1 if has_null else 0])
    if has_null:
        out += bytes(bytearray(1 if v is None else 0 for v in vals))
    out += cv_bytes[1:]
    return bytes(out)


def _encode_unencoded_segment(vals: list, ct: str, nullable: bool) -> bytes:
    out = bytearray([ENC_UNENCODED])
    has_null = any(v is None for v in vals)
    if nullable:
        out += bytes([1 if has_null else 0])
    if has_null and not nullable:
        raise ValueError("NULL in non-nullable column")
    if nullable and has_null:
        out += bytes(bytearray(1 if v is None else 0 for v in vals))
    fill: object = "" if ct == "string" else 0
    dense = [fill if v is None else v for v in vals]
    out += _pack_typed(dense, ct)
    return bytes(out)


_ENCODING_NAMES = {
    "unencoded": ENC_UNENCODED,
    "dictionary": ENC_DICTIONARY,
    "runlength": ENC_RUNLENGTH,
    "fixedstringdictionary": ENC_FIXEDSTRINGDICT,
    "frameofreference": ENC_FRAMEOFREF,
}


def write_binary(
    path: str,
    names: list[str],
    types: list[str],
    nullables: list[bool],
    columns: list[list],
    chunk_size: int = 65535,
    encodings: str | list[str] | None = None,
    vector_compression: str = "fixed",
    sorted_by: list[list[tuple[int, int]]] | None = None,
) -> None:
    """Emit the reference binary format. ``encodings`` selects the
    segment encoding — a single name applied to every column or one name
    per column, from {unencoded, dictionary, runlength,
    fixedstringdictionary, frameofreference}; default unencoded mirrors
    the reference's freshly-appended-chunk state (binary_writer.cpp:
    156-170 _write_segment(ValueSegment)). Type-incompatible picks
    (FrameOfReference on non-int, FixedStringDictionary on non-string)
    fall back to unencoded, like the reference's ChunkEncoder applies
    type-guarded specs. ``sorted_by`` optionally carries per-chunk sort
    descriptors [(column_id, sort_mode)] into the chunk headers
    (binary_writer.cpp:136-143; SortMode 0=Ascending 1=Descending,
    types.hpp:221). Verified byte-for-byte against the reference's
    committed fixtures (tests/test_sources.py)."""
    n_rows = len(columns[0]) if columns else 0
    chunks = [
        (start, min(chunk_size, n_rows - start))
        for start in range(0, max(n_rows, 1), chunk_size)
    ]
    if n_rows == 0:
        chunks = []
    # Normalize encodings to one list per chunk: a str applies everywhere;
    # list[str] applies per column to every chunk; list[list[str]] is per
    # chunk x column (the reference's mutable LAST chunk stays unencoded
    # while finalized chunks are encoded — chunk_encoder.cpp applies specs
    # per chunk, and the Mix fixtures exercise exactly that shape).
    if encodings is None:
        encodings = "unencoded"
    if isinstance(encodings, str):
        chunk_encodings = [[encodings] * len(names)] * len(chunks)
    elif encodings and isinstance(encodings[0], (list, tuple)):
        if len(encodings) != len(chunks):
            raise ValueError(
                f"per-chunk encodings: got {len(encodings)} lists for {len(chunks)} chunks"
            )
        chunk_encodings = [list(e) for e in encodings]
    else:
        chunk_encodings = [list(encodings)] * len(chunks)
    for encs in chunk_encodings:
        for e in encs:
            if e not in _ENCODING_NAMES and e != "auto":
                raise ValueError(
                    f"unknown encoding {e!r}; one of {sorted(_ENCODING_NAMES)} or 'auto'"
                )
    out = bytearray()
    out += struct.pack("<IIH", chunk_size, len(chunks), len(names))
    out += _pack_strings(types)
    out += bytes(bytearray(1 if x else 0 for x in nullables))
    out += _pack_strings(names)
    if sorted_by is not None and len(sorted_by) != len(chunks):
        raise ValueError(
            f"sorted_by: got {len(sorted_by)} chunk descriptors for {len(chunks)} chunks"
        )
    for ci, ((start, n), encs) in enumerate(zip(chunks, chunk_encodings)):
        orders = sorted_by[ci] if sorted_by is not None else []
        out += struct.pack("<II", n, len(orders))  # row_count, num_sorted_columns
        for col_id, mode in orders:
            out += struct.pack("<Hi", col_id, mode)
        for ct, nullable, col, enc in zip(types, nullables, columns, encs):
            vals = col[start : start + n]
            if enc == "auto":
                # advisor semantics (sources/advisor.py): smallest encoded
                # segment wins, ties broken in encoding-id order
                candidates = [
                    ("unencoded", _encode_unencoded_segment(vals, ct, nullable)),
                    ("dictionary", _encode_dictionary_segment(vals, ct, vector_compression)),
                    ("runlength", _encode_runlength_segment(vals, ct)),
                ]
                if ct == "string":
                    candidates.append((
                        "fixedstringdictionary",
                        _encode_dictionary_segment(
                            vals, ct, vector_compression, fixed_string=True
                        ),
                    ))
                if ct == "int":
                    candidates.append((
                        "frameofreference",
                        _encode_for_segment(vals, ct, vector_compression),
                    ))
                out += min(candidates, key=lambda kv: len(kv[1]))[1]
                continue
            if enc == "dictionary":
                out += _encode_dictionary_segment(vals, ct, vector_compression)
            elif enc == "fixedstringdictionary" and ct == "string":
                out += _encode_dictionary_segment(
                    vals, ct, vector_compression, fixed_string=True
                )
            elif enc == "runlength":
                out += _encode_runlength_segment(vals, ct)
            elif enc == "frameofreference" and ct == "int":
                out += _encode_for_segment(vals, ct, vector_compression)
            else:
                out += _encode_unencoded_segment(vals, ct, nullable)
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def _pack_strings(values: list[str]) -> bytes:
    encoded = [v.encode("utf-8") for v in values]
    return np.asarray([len(e) for e in encoded], dtype="<u8").tobytes() + b"".join(encoded)
