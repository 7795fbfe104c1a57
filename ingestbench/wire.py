"""The benchmark's own capture encoder.

Written from the wire format documented in ``cdc/binary.py``, not with
the program's encoder: a 16-byte big-endian envelope (header size 16,
payload size, packet scheme 66, record tag), then the per-tag payload.
A row image is the 4-byte length array of the var-length columns, then
every column in table order: bigint 8 bytes, int 4, char(n) n bytes,
decimal as null flag + scale + 16-byte unscaled integer, date as days
since 1899-12-31, datetime as null flag + 8-byte epoch microseconds,
varchar as a 1-byte prefix + the bytes (the length counts the prefix).

Records of one layout are packed together as a NumPy structured array,
so a million records encode in about a second.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from rules import (
    BEGINTX, COMMTX, IUD_TAGS, METHODS, ORDERS_DDL, ORDERS_TABID,
    PAYMENTS_DDL, PAYMENTS_TABID, RBTX, STATUSES, TABSCHEM, Rules,
)

PACKET_SCHEME = 66
INFORMIX_DAY0 = 25568  # days from 1899-12-31 to 1970-01-01

_ENV = [("hdr", ">i4"), ("psz", ">i4"), ("scheme", ">i4"), ("tag", ">i4")]
_IUD_HEAD = [("seq", ">i8"), ("txid", ">i4"), ("tabid", ">i4"),
             ("flags", ">i4")]
_DECIMAL = [("flag", "u1"), ("scale", "u1"), ("hi", ">i8"), ("lo", ">u8")]


def _dec(prefix):
    return [(f"{prefix}_{n}", t) for n, t in _DECIMAL]


def _orders_dtype(width: int) -> np.dtype:
    return np.dtype(_ENV + _IUD_HEAD + [
        ("vlen", ">u4"), ("key", ">i8"), ("cust", ">i4"), ("status", "S1"),
        *_dec("price"), ("date", ">i4"), ("cpre", "u1"),
        ("comment", "u1", (width + 1,)),
    ])


def _payments_dtype(width: int) -> np.dtype:
    return np.dtype(_ENV + _IUD_HEAD + [
        ("vlen", ">u4"), ("key", ">i8"), ("okey", ">i8"), *_dec("amount"),
        ("mpre", "u1"), ("method", f"S{width}"), ("tsflag", "u1"),
        ("ts", ">i8"),
    ])


_CONTROL = {
    BEGINTX: np.dtype(_ENV + [("seq", ">i8"), ("txid", ">i4"),
                              ("start", ">i8"), ("user", ">i4")]),
    COMMTX: np.dtype(_ENV + [("seq", ">i8"), ("txid", ">i4"),
                             ("commit", ">i8")]),
    RBTX: np.dtype(_ENV + [("seq", ">i8"), ("txid", ">i4")]),
}


def _comment_bytes(rules: Rules, k, width: int) -> np.ndarray:
    """o_comment as an (n, width + 1) byte block: 'c', then the comment
    number zero-padded to ``width`` digits."""
    n = rules.np("o_comment_n", k=k)
    out = np.empty((len(k), width + 1), dtype=np.uint8)
    out[:, 0] = ord("c")
    for i in range(width):
        out[:, width - i] = ord("0") + (n // 10**i) % 10
    return out


def tabschem(tabid: int, ddl: str) -> bytes:
    payload = struct.pack(">iiiii", tabid, 0, 0, 0, 0) + ddl.encode()
    return struct.pack(">iiii", 16, len(payload), PACKET_SCHEME,
                       TABSCHEM) + payload


def _fill(arr, ev, idx):
    arr["hdr"] = 16
    arr["psz"] = arr.dtype.itemsize - 16
    arr["scheme"] = PACKET_SCHEME
    arr["tag"] = ev["tag"][idx]
    arr["seq"] = ev["seq"][idx]
    arr["txid"] = ev["txid"][idx]
    if "tabid" in arr.dtype.names:
        arr["tabid"] = ev["tabid"][idx]


def _blocks(rules: Rules, ev: dict):
    """(record positions, records as an (n, size) uint8 block) for every
    layout group in ``ev``."""
    tag, tabid = ev["tag"], ev["tabid"]
    for t, dt in _CONTROL.items():
        idx = np.flatnonzero((tag == t) & (tabid == 0))
        if len(idx) == 0:
            continue
        arr = np.zeros(len(idx), dtype=dt)
        _fill(arr, ev, idx)
        if t == BEGINTX:
            arr["start"] = ev["seq"][idx] * 1000
            arr["user"] = 1 + ev["txid"][idx] % 50
        elif t == COMMTX:
            arr["commit"] = ev["seq"][idx] * 1000 + 9
        yield idx, arr
    iud = np.isin(tag, IUD_TAGS)
    oi = np.flatnonzero(iud & (tabid == ORDERS_TABID))
    if len(oi):
        width = rules.np("o_comment_w", k=ev["key"][oi])
        for w in np.unique(width):
            sub = oi[width == w]
            ks = ev["key"][sub]
            arr = np.zeros(len(sub), dtype=_orders_dtype(int(w)))
            _fill(arr, ev, sub)
            arr["key"] = ks
            arr["cust"] = rules.np("o_custkey", k=ks)
            arr["status"] = np.array(list(STATUSES), dtype="S1")[
                rules.np("o_status_ix", k=ks)]
            _fill_dec(arr, "price", ev["cents"][sub])
            arr["date"] = rules.np("o_date", k=ks) + INFORMIX_DAY0
            arr["vlen"] = 2 + w
            arr["comment"] = _comment_bytes(rules, ks, int(w))
            yield sub, arr
    pi = np.flatnonzero(iud & (tabid == PAYMENTS_TABID))
    if len(pi):
        ps = ev["key"][pi]
        mix = rules.np("p_method_ix", p=ps)
        lens = np.array([len(m) for m in METHODS])[mix]
        for w in np.unique(lens):
            sub = pi[lens == w]
            p = ev["key"][sub]
            arr = np.zeros(len(sub), dtype=_payments_dtype(int(w)))
            _fill(arr, ev, sub)
            arr["key"] = p
            arr["okey"] = rules.np("p_orderkey", p=p)
            _fill_dec(arr, "amount", ev["cents"][sub])
            arr["vlen"] = 1 + w
            arr["method"] = np.array(
                [m.encode() for m in METHODS], dtype=f"S{w}")[mix[lens == w]]
            arr["ts"] = rules.np("p_ts", p=p)
            yield sub, arr


def _fill_dec(arr, prefix, cents):
    arr[f"{prefix}_scale"] = 2
    arr[f"{prefix}_lo"] = cents  # non-negative, so the high word is 0


def encode(rules: Rules, ev: dict) -> bytes:
    """All records of ``ev`` in its (file, seq) order, as one buffer."""
    n = len(ev["seq"])
    size = np.zeros(n, dtype=np.int64)
    blocks = list(_blocks(rules, ev))
    for idx, arr in blocks:
        size[idx] = arr.dtype.itemsize
    if (size == 0).any():
        raise ValueError("event with no wire layout")
    off = np.concatenate([[0], np.cumsum(size)[:-1]])
    buf = np.zeros(int(size.sum()), dtype=np.uint8)
    for idx, arr in blocks:
        raw = arr.view(np.uint8).reshape(len(idx), arr.dtype.itemsize)
        pos = off[idx]
        for j in range(raw.shape[1]):
            buf[pos + j] = raw[:, j]
    return buf.tobytes()


def write_capture(rules: Rules, ev: dict, out_dir: str, name: str,
                  heads: bool = True) -> list[str]:
    """Write one capture file per arrival file of ``ev`` into
    ``out_dir`` as ``{name}{file:04d}.bin``; each file starts with the
    TABSCHEM announcements of both tables when ``heads`` is set."""
    os.makedirs(out_dir, exist_ok=True)
    head = (tabschem(ORDERS_TABID, ORDERS_DDL)
            + tabschem(PAYMENTS_TABID, PAYMENTS_DDL)) if heads else b""
    paths = []
    for fi in np.unique(ev["file"]):
        body = encode(rules, {c: v[ev["file"] == fi] for c, v in ev.items()})
        path = os.path.join(out_dir, f"{name}{int(fi):04d}.bin")
        with open(path, "wb") as fh:
            fh.write(head + body)
        paths.append(path)
    return paths
