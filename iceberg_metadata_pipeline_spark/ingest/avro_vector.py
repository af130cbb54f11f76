"""Vectorized (numpy + Arrow) encoder/decoder for FLAT avro record schemas.

Optimization r13 (guide §4.2 "do the heavy lifting in native code"): the
avro OCF source/sink (ingest/avro_source.py, ingest/pydatasource.py) and
the Hudi MOR log-block serde encoded/decoded every record through
per-record Python (``avro_io.write_datum``/``read_datum`` — BytesIO
byte-at-a-time with schema dispatch per field). This module performs the
same binary encoding column-wise over whole Arrow record batches:

- ENCODE: zigzag + base-128 varints for all int-coded fields computed as
  numpy array passes; string/bytes payloads taken straight from the Arrow
  offsets+data buffers; the per-record interleave (avro is row-oriented)
  done with one ragged scatter-gather per field stream. Output is
  BYTE-IDENTICAL to ``avro_io.write_datum`` over the same records
  (pinned in tests/test_round13_opt.py).
- DECODE: a light structural scan finds each record's start (it must walk
  fields — varint/payload lengths are data-dependent — but does so with
  precomputed next-varint-terminator lookups, no value materialization),
  then every column decodes vectorized: one masked numpy fold per varint
  column, buffer views for float/double, and Arrow string/binary arrays
  built directly from a gathered data buffer + offsets (no Python string
  objects, no per-value datetime arithmetic).

Scope: exactly the schemas the flat sources produce — records of
boolean/int/long/float/double/string/bytes plus the date /
timestamp-micros / timestamp-millis logical types, each field optionally
a 2-branch union with "null". ``compile_plan`` returns None for anything
else and callers fall back to the reference codec (avro_io), which
remains the semantic oracle.

Timestamps: the row-oriented reference path renders TimestampType as
naive *session-local* datetimes before encoding. To stay byte-identical,
tz-aware Arrow timestamps are converted with ``local_timestamp`` on
encode. Decode yields tz-naive ``timestamp('us')`` columns and attaches
no zone: Spark reads them in the session time zone, which ``session.py``
pins to UTC.
"""

from __future__ import annotations

import zlib
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from iceberg_metadata_pipeline_spark.catalog import avro_io

# field kinds (encoding shape, not logical type)
_K_VARINT = 0  # int / long / date / timestamp-*
_K_BYTES = 1  # string / bytes: length varint + payload
_K_F8 = 2
_K_F4 = 3
_K_BOOL = 4

_PRIMS = {
    "boolean": _K_BOOL,
    "int": _K_VARINT,
    "long": _K_VARINT,
    "float": _K_F4,
    "double": _K_F8,
    "string": _K_BYTES,
    "bytes": _K_BYTES,
}


class _Field:
    __slots__ = ("name", "kind", "base", "logical", "nullable", "null_byte")

    def __init__(self, name, kind, base, logical, nullable, null_byte):
        self.name = name
        self.kind = kind
        self.base = base  # avro primitive name
        self.logical = logical  # None | date | timestamp-micros | timestamp-millis
        self.nullable = nullable
        self.null_byte = null_byte  # encoded union index of the null branch


def compile_plan(schema: dict) -> list[_Field] | None:
    """Avro record schema → field plan, or None if any field falls
    outside the flat subset (caller falls back to avro_io)."""
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    plan = []
    for f in schema["fields"]:
        t = f["type"]
        nullable, null_byte = False, 0
        if isinstance(t, list):
            if len(t) != 2 or "null" not in t:
                return None
            null_idx = t.index("null")
            t = t[1 - null_idx]
            # union index i is written as zigzag varint: 0 -> 0x00, 1 -> 0x02
            nullable, null_byte = True, (0 if null_idx == 0 else 2)
        logical = None
        if isinstance(t, dict):
            logical = t.get("logicalType")
            t = t.get("type")
            if logical not in ("date", "timestamp-micros", "timestamp-millis"):
                return None
        kind = _PRIMS.get(t)
        if kind is None:
            return None
        plan.append(_Field(f["name"], kind, t, logical, nullable, null_byte))
    return plan


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

# varint byte-count thresholds: u < 2^7 -> 1 byte, < 2^14 -> 2, ... (10 max)
_VARINT_TH = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return (v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(
        np.uint64
    )


def _encode_varints(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 array → (uint8 buffer of concatenated varints, per-value
    byte lengths)."""
    n = len(u)
    if n == 0:
        return np.empty(0, np.uint8), np.zeros(0, np.int64)
    nb = (np.searchsorted(_VARINT_TH, u, side="right") + 1).astype(np.int64)
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(nb, out=offs[1:])
    out = np.empty(offs[-1], np.uint8)
    starts = offs[:-1]
    for k in range(int(nb.max())):
        m = nb > k
        b = ((u[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        b |= ((nb[m] - 1 > k).astype(np.uint8)) << 7  # continuation bit
        out[starts[m] + k] = b
    return out, nb


def _scatter_lens(lens_compact: np.ndarray, valid: np.ndarray) -> np.ndarray:
    full = np.zeros(len(valid), np.int64)
    full[valid] = lens_compact
    return full


def _rebase(col: pa.Array) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.offset:
        col = pa.concat_arrays([col])  # rebase buffers to offset 0
    return col


def _int_values(col: pa.Array, valid: np.ndarray) -> np.ndarray:
    """Non-null slots of an integer-storage arrow column as int64.
    tz-aware timestamps are first shifted to naive session-local wall
    time — the reference per-record path encoded naive local datetimes,
    so the vectorized bytes must match."""
    if pa.types.is_timestamp(col.type) and col.type.tz is not None:
        col = _rebase(pc.local_timestamp(col))
    if pa.types.is_timestamp(col.type) or pa.types.is_date(col.type):
        col = col.view(pa.int64() if col.type.bit_width == 64 else pa.int32())
    arr = pc.fill_null(col, 0) if col.null_count else col
    vals = np.asarray(arr).astype(np.int64, copy=False)
    return vals[valid] if not valid.all() else vals


def encode_batch(
    plan: list[_Field],
    batch: pa.RecordBatch | pa.Table,
    *,
    nan_as_null: bool = True,
) -> tuple[bytes, np.ndarray]:
    """Encode a batch as concatenated avro record bodies. Returns
    (body bytes, per-record byte lengths) — the lengths let callers add
    their own per-record framing (Hudi log blocks) or ignore them (OCF).

    Byte-identical to ``avro_io.write_datum`` per record.
    ``nan_as_null=True`` reproduces the avro OCF writer's NaN→null
    coercion on float/double columns; the Hudi MOR serde passes False
    (its pinned semantics keep NaN as a double VALUE)."""
    n = batch.num_rows
    streams: list[tuple[np.ndarray, np.ndarray]] = []  # (uint8 buf, per-row lens)
    for i, f in enumerate(plan):
        col = _rebase(batch.column(i))
        valid = (
            np.asarray(pc.is_valid(col))
            if col.null_count
            else np.ones(n, dtype=bool)
        )
        if nan_as_null and f.kind in (_K_F8, _K_F4):
            # the OCF writer coerces NaN to null (avro has no null-vs-NaN
            # distinction in its row dicts)
            fv = np.asarray(pc.fill_null(col, 0.0) if col.null_count else col)
            valid &= ~np.isnan(fv)
        if not f.nullable and not valid.all():
            raise ValueError(
                f"avro encode: null/NaN value in non-nullable field {f.name!r}"
            )
        if f.nullable:
            ub = np.where(valid, np.uint8(2 - f.null_byte), np.uint8(f.null_byte))
            streams.append((ub.astype(np.uint8), np.ones(n, np.int64)))
        if f.kind == _K_VARINT:
            vals = _int_values(col, valid)
            if f.logical == "timestamp-millis":
                vals = vals // 1000 if pa.types.is_timestamp(col.type) else vals
            buf, lens = _encode_varints(_zigzag(vals))
            streams.append((buf, _scatter_lens(lens, valid)))
        elif f.kind == _K_BYTES:
            arr = col
            if arr.null_count:
                arr = pc.fill_null(
                    arr, "" if pa.types.is_string(arr.type) else b""
                )
                arr = _rebase(arr)
            width = 8 if arr.type in (pa.large_string(), pa.large_binary()) else 4
            odt = np.int64 if width == 8 else np.int32
            offs = np.frombuffer(arr.buffers()[1], dtype=odt)[: n + 1].astype(
                np.int64
            )
            data = np.frombuffer(arr.buffers()[2] or b"", dtype=np.uint8)[
                offs[0] : offs[-1]
            ]
            plens = np.diff(offs)
            plens[~valid] = 0
            lbuf, llens = _encode_varints(_zigzag(plens[valid]))
            streams.append((lbuf, _scatter_lens(llens, valid)))
            streams.append((data, plens))
        elif f.kind == _K_F8:
            vals = np.asarray(
                pc.fill_null(col, 0.0) if col.null_count else col
            ).astype(np.float64, copy=False)[valid]
            streams.append(
                (vals.astype("<f8").view(np.uint8), valid.astype(np.int64) * 8)
            )
        elif f.kind == _K_F4:
            vals = np.asarray(
                pc.fill_null(col, 0.0) if col.null_count else col
            ).astype(np.float32, copy=False)[valid]
            streams.append(
                (vals.astype("<f4").view(np.uint8), valid.astype(np.int64) * 4)
            )
        else:  # bool
            vals = np.asarray(
                pc.fill_null(col, False) if col.null_count else col
            ).astype(np.uint8)[valid]
            streams.append((vals, valid.astype(np.int64)))

    # interleave the field streams row-major: out row r = concat of each
    # stream's fragment r, in stream order
    rec_lens = np.zeros(n, np.int64)
    for _, lens in streams:
        rec_lens += lens
    row_offs = np.zeros(n + 1, np.int64)
    np.cumsum(rec_lens, out=row_offs[1:])
    out = np.empty(row_offs[-1], np.uint8)
    cursor = row_offs[:-1].copy()
    for buf, lens in streams:
        total = int(lens.sum())
        if total:
            src_offs = np.zeros(n + 1, np.int64)
            np.cumsum(lens, out=src_offs[1:])
            idx = np.arange(total, dtype=np.int64) + np.repeat(
                cursor - src_offs[:-1], lens
            )
            out[idx] = buf[:total]
        cursor += lens
    return out.tobytes(), rec_lens


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _gen_scanner(plan: list[_Field]):
    """Compile a record-start scanner SPECIALIZED to the field plan
    (straight-line per-field code — no dispatch, no tuple iteration in
    the per-record loop). The scan walks the field chain (lengths are
    data-dependent) but touches no values: varint skips just follow the
    continuation bits on the bytes object."""
    lines = [
        "def _scan(body, count):",
        "    starts = [0] * count",
        "    pos = 0",
        "    for i in range(count):",
        "        starts[i] = pos",
    ]
    ind = "        "
    for f in plan:
        if f.nullable:
            lines.append(f"{ind}if body[pos] == {f.null_byte}:")
            lines.append(f"{ind}    pos += 1")
            lines.append(f"{ind}else:")
            lines.append(f"{ind}    pos += 1")
            step_ind = ind + "    "
        else:
            step_ind = ind
        if f.kind == _K_VARINT:
            lines.append(f"{step_ind}while body[pos] > 127:")
            lines.append(f"{step_ind}    pos += 1")
            lines.append(f"{step_ind}pos += 1")
        elif f.kind == _K_BYTES:
            # decode the (non-negative, so zigzag = 2*len) length varint
            lines.append(f"{step_ind}u = body[pos]")
            lines.append(f"{step_ind}pos += 1")
            lines.append(f"{step_ind}if u > 127:")
            lines.append(f"{step_ind}    u &= 0x7F")
            lines.append(f"{step_ind}    shift = 7")
            lines.append(f"{step_ind}    while True:")
            lines.append(f"{step_ind}        b = body[pos]")
            lines.append(f"{step_ind}        pos += 1")
            lines.append(f"{step_ind}        if b > 127:")
            lines.append(f"{step_ind}            u |= (b & 0x7F) << shift")
            lines.append(f"{step_ind}            shift += 7")
            lines.append(f"{step_ind}        else:")
            lines.append(f"{step_ind}            u |= b << shift")
            lines.append(f"{step_ind}            break")
            lines.append(f"{step_ind}pos += u >> 1")
        elif f.kind == _K_F8:
            lines.append(f"{step_ind}pos += 8")
        elif f.kind == _K_F4:
            lines.append(f"{step_ind}pos += 4")
        else:
            lines.append(f"{step_ind}pos += 1")
    lines.append("    return starts")
    ns: dict = {}
    exec("\n".join(lines), ns)  # noqa: S102 — generated from the plan only
    return ns["_scan"]


_SCANNER_CACHE: dict[tuple, Any] = {}


def _scan_record_starts(plan: list[_Field], body: bytes, count: int) -> list[int]:
    key = tuple((f.kind, f.nullable, f.null_byte) for f in plan)
    scan = _SCANNER_CACHE.get(key)
    if scan is None:
        scan = _SCANNER_CACHE[key] = _gen_scanner(plan)
    return scan(body, count)


def _decode_varints(
    buf: np.ndarray, s: np.ndarray, nxt_np: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Varint values starting at positions ``s`` → (int64 values, end+1
    positions)."""
    e = nxt_np[s]
    l = e - s + 1
    u = np.zeros(len(s), np.uint64)
    for k in range(int(l.max()) if len(l) else 0):
        m = l > k
        u[m] |= (buf[s[m] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    neg = np.where(u & np.uint64(1), ~np.uint64(0), np.uint64(0))
    return ((u >> np.uint64(1)) ^ neg).astype(np.int64), e + 1


def decode_batch(
    plan: list[_Field],
    body: bytes,
    count: int,
    record_starts: list[int] | np.ndarray | None = None,
) -> pa.RecordBatch:
    """Concatenated avro record bodies → one Arrow record batch."""
    buf = np.frombuffer(body, dtype=np.uint8)
    nbytes = len(buf)
    # next position >= i whose byte has the varint-terminator (high bit
    # clear). Valid wherever i is a genuine varint byte; positions inside
    # payloads/floats are never queried.
    term = np.where(
        (buf & 0x80) == 0, np.arange(nbytes, dtype=np.int64), np.int64(nbytes)
    )
    nxt_np = np.minimum.accumulate(term[::-1])[::-1]
    if record_starts is None:
        record_starts = _scan_record_starts(plan, body, count)
    pos = np.asarray(record_starts, dtype=np.int64)
    if len(pos) != count:
        raise ValueError("record_starts length != count")
    arrays, names = [], []
    for f in plan:
        if f.nullable and count:
            isnull = buf[pos] == f.null_byte
            pos = pos + 1
            valid = ~isnull
        else:
            isnull = np.zeros(count, dtype=bool)
            valid = ~isnull
        mask = isnull if isnull.any() else None
        s = pos[valid]
        if f.kind == _K_VARINT:
            vals, nxt_pos = _decode_varints(buf, s, nxt_np)
            full = np.zeros(count, np.int64)
            full[valid] = vals
            if f.logical == "date":
                arr = pa.array(full.astype(np.int32), pa.date32(), mask=mask)
            elif f.logical == "timestamp-micros":
                arr = pa.array(full, pa.timestamp("us"), mask=mask)
            elif f.logical == "timestamp-millis":
                arr = pa.array(full * 1000, pa.timestamp("us"), mask=mask)
            elif f.base == "int":
                arr = pa.array(full.astype(np.int32), mask=mask)
            else:
                arr = pa.array(full, mask=mask)
            pos = pos.copy()
            pos[valid] = nxt_pos
        elif f.kind == _K_BYTES:
            lens, data_start = _decode_varints(buf, s, nxt_np)
            total = int(lens.sum())
            if total >= (1 << 31):
                raise ValueError("avro decode: >2 GiB string block")
            src_offs = np.zeros(len(s) + 1, np.int64)
            np.cumsum(lens, out=src_offs[1:])
            if total:
                idx = np.arange(total, dtype=np.int64) + np.repeat(
                    data_start - src_offs[:-1], lens
                )
                data = buf[idx]
            else:
                data = np.empty(0, np.uint8)
            full_lens = np.zeros(count, np.int64)
            full_lens[valid] = lens
            offsets = np.zeros(count + 1, np.int32)
            np.cumsum(full_lens, out=offsets[1:])
            validity = (
                pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
                if mask is not None
                else None
            )
            atype = pa.utf8() if f.base == "string" else pa.binary()
            arr = pa.Array.from_buffers(
                atype,
                count,
                [validity, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
                null_count=int(isnull.sum()) if mask is not None else 0,
            )
            pos = pos.copy()
            pos[valid] = data_start + lens
        elif f.kind in (_K_F8, _K_F4):
            w = 8 if f.kind == _K_F8 else 4
            gathered = buf[s[:, None] + np.arange(w, dtype=np.int64)]
            vals = np.ascontiguousarray(gathered).view(
                "<f8" if w == 8 else "<f4"
            )[:, 0]
            full = np.zeros(count, np.float64 if w == 8 else np.float32)
            full[valid] = vals
            arr = pa.array(full, mask=mask)
            pos = pos.copy()
            pos[valid] = s + w
        else:  # bool
            full = np.zeros(count, dtype=bool)
            full[valid] = buf[s] == 1
            arr = pa.array(full, mask=mask)
            pos = pos.copy()
            pos[valid] = s + 1
        arrays.append(arr)
        names.append(f.name)
    return pa.RecordBatch.from_arrays(arrays, names)


# ---------------------------------------------------------------------------
# OCF container I/O over the vectorized codec
# ---------------------------------------------------------------------------


def write_ocf(
    path: str,
    schema: dict,
    bodies: list[bytes],
    count: int,
    *,
    codec: str = "deflate",
    extra_meta: dict[str, bytes] | None = None,
    sync: bytes | None = None,
) -> None:
    """Frame pre-encoded record bodies as an OCF, byte-identical to
    ``avro_io.write_container`` over the same records (same header, one
    data block, same deflate parameters, same deterministic sync)."""
    avro_io.frame_container(
        path,
        schema,
        count,
        b"".join(bodies),
        codec=codec,
        extra_meta=extra_meta,
        sync=sync,
    )


def read_ocf_arrow(path: str) -> tuple[Any, dict[str, bytes], pa.RecordBatch]:
    """OCF file → (schema, meta, one Arrow record batch). Raises
    ``ValueError`` for schemas outside the flat subset — callers fall
    back to ``avro_io.read_container``."""
    import io as _io
    import json as _json

    with open(path, "rb") as fh:
        data = fh.read()
    inp = _io.BytesIO(data)
    if inp.read(4) != avro_io.MAGIC:
        raise ValueError(f"{path}: not an avro object container file")
    meta = avro_io.read_datum(inp, {"type": "map", "values": "bytes"})
    schema = _json.loads(meta["avro.schema"].decode())
    plan = compile_plan(schema)
    if plan is None:
        raise ValueError(f"{path}: schema outside the flat vectorized subset")
    codec = meta.get("avro.codec", b"null").decode()
    sync = inp.read(16)
    batches: list[pa.RecordBatch] = []
    while True:
        head = inp.read(1)
        if not head:
            break
        inp.seek(-1, _io.SEEK_CUR)
        n = avro_io.read_long(inp)
        block = avro_io.read_bytes(inp)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        batches.append(decode_batch(plan, block, n))
        if inp.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch (corrupt block)")
    if not batches:
        return schema, meta, decode_batch(plan, b"", 0)
    if len(batches) == 1:
        return schema, meta, batches[0]
    return (
        schema,
        meta,
        pa.Table.from_batches(batches).combine_chunks().to_batches()[0],
    )
