"""Minimal Avro object-container writer (null codec) for the generator.

Covers the types the generator's schema uses: string, double, float,
record, and two-branch unions with null. Records are encoded from plain
Python values following the schema; union values pick the null branch for
None and the other branch otherwise.
"""
import json
import os
import struct


def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _string(s):
    b = s.encode("utf-8")
    return _zigzag(len(b)) + b


def _encoder(schema):
    """Compile a schema into a function value -> bytes."""
    if isinstance(schema, list):
        other = [i for i, s in enumerate(schema) if s != "null"]
        null_idx = schema.index("null")
        enc = _encoder(schema[other[0]])
        tag_null, tag_val = _zigzag(null_idx), _zigzag(other[0])
        return lambda v: tag_null if v is None else tag_val + enc(v)
    if isinstance(schema, dict):
        fields = [(f["name"], _encoder(f["type"])) for f in schema["fields"]]
        return lambda v: b"".join(e(v[n]) for n, e in fields)
    if schema == "string":
        return _string
    if schema == "double":
        return lambda v: struct.pack("<d", v)
    if schema == "float":
        return lambda v: struct.pack("<f", v)
    raise ValueError(f"unsupported avro type {schema!r}")


class Schema:
    def __init__(self, schema):
        self.json = json.dumps(schema, separators=(",", ":"))
        self.encode = _encoder(schema)


def write_container(path, schema, records, sync, block_records=1000, mtime=None):
    """Write `records` (dicts) to an Avro container file at `path`."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    meta = {"avro.schema": schema.json.encode("utf-8"), "avro.codec": b"null"}
    header = bytearray(b"Obj\x01")
    header += _zigzag(len(meta))
    for k, v in meta.items():
        header += _string(k) + _zigzag(len(v)) + v
    header += b"\x00" + sync
    with open(path, "wb") as f:
        f.write(header)
        for i in range(0, len(records), block_records):
            block = records[i:i + block_records]
            data = b"".join(schema.encode(r) for r in block)
            f.write(_zigzag(len(block)) + _zigzag(len(data)) + data + sync)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
