"""Typed (parquet) orders change log, written with pyarrow.

The columns follow the program's change-log layout (``cdc/model.py``):
envelope fields, the two replay-marker columns, and the ``row`` struct
of the orders table, NULL on lifecycle records.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rules import (
    BEGINTX, COMMTX, IUD_TAGS, ORDERS_TABID, STATUSES, TAG_NAMES, Rules,
)

ROW_TYPE = pa.struct([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int32()),
    ("o_status", pa.string()),
    ("o_totalprice", pa.decimal128(12, 2)),
    ("o_orderdate", pa.date32()),
    ("o_comment", pa.string()),
])

#: the same row struct as Spark DDL (for ``CdcEngine.materialize``)
ROW_DDL = (
    "o_orderkey bigint, o_custkey int, o_status string, "
    "o_totalprice decimal(12,2), o_orderdate date, o_comment string"
)


def _decimal(cents: np.ndarray, typ) -> pa.Array:
    """Non-negative cents as decimal(12,2): the 16-byte little-endian
    unscaled value is (cents, 0)."""
    words = np.zeros((len(cents), 2), dtype="<i8")
    words[:, 0] = cents
    return pa.Array.from_buffers(typ, len(cents), [None, pa.py_buffer(words)])


def _opt(values, mask, typ) -> pa.Array:
    return pa.array(values, type=typ, mask=~mask)


def orders_table(rules: Rules, ev: dict) -> pa.Table:
    tag = ev["tag"]
    iud = np.isin(tag, IUD_TAGS) & (ev["tabid"] == ORDERS_TABID)
    k = ev["key"]
    n_k = rules.np("o_comment_n", k=k)
    w = rules.np("o_comment_w", k=k)
    comment = np.array(
        ["c" + str(n).zfill(int(wi)) for n, wi in zip(n_k, w)], dtype=object)
    row = pa.StructArray.from_arrays(
        [
            pa.array(k, pa.int64()),
            pa.array(rules.np("o_custkey", k=k), pa.int32()),
            pa.array(np.array(list(STATUSES))[rules.np("o_status_ix", k=k)]),
            _decimal(ev["cents"], ROW_TYPE.field("o_totalprice").type),
            pa.array(rules.np("o_date", k=k).astype(np.int32), pa.date32()),
            pa.array(comment, pa.string()),
        ],
        fields=list(ROW_TYPE),
        mask=pa.array(~iud),
    )
    names = np.array([TAG_NAMES.get(int(t), "") for t in range(256)],
                     dtype=object)
    begin, commit = tag == BEGINTX, tag == COMMTX
    return pa.table({
        "seq_number": pa.array(ev["seq"], pa.int64()),
        "record_type": pa.array(names[tag], pa.string()),
        "transaction_id": pa.array(ev["txid"], pa.int64()),
        "tabid": _opt(ev["tabid"].astype(np.int32), iud, pa.int32()),
        "tabname": _opt(np.full(len(tag), "orders", dtype=object), iud,
                        pa.string()),
        "flags": _opt(np.zeros(len(tag), np.int32), iud, pa.int32()),
        "start_time": _opt(ev["seq"] * 1000, begin, pa.int64()),
        "commit_time": _opt(ev["seq"] * 1000 + 9, commit, pa.int64()),
        "user_id": _opt((1 + ev["txid"] % 50).astype(np.int32), begin,
                        pa.int32()),
        "discard_candidate": pa.nulls(len(tag), pa.bool_()),
        "discard_transaction": pa.nulls(len(tag), pa.bool_()),
        "row": row,
    })


def write_orders(rules: Rules, ev: dict, path: str) -> None:
    pq.write_table(orders_table(rules, ev), path)
