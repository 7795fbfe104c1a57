"""Change events of each workload, built from the seeded rules.

An event table is a dict of equal-length NumPy columns:

- ``file``  arrival file index the record lands in
- ``seq``   sequence number (the stream's total order)
- ``tag``   wire record tag (rules.BEGINTX ...)
- ``txid``  transaction id
- ``tabid`` table id of a row-image record, 0 for a lifecycle record
- ``key``   order key ``k`` or payment key ``p`` of a row-image record
- ``cents`` price (orders) or amount (payments) of the row image, in cents

Every other row value is a rule of ``key`` (``rules.py``), so the
renderers (``wire.py``, ``typed.py``) and the oracle (``oracle.py``)
all start from the same few integers.
"""

from __future__ import annotations

import numpy as np

from rules import (
    BEGINTX, COMMTX, DELETE, INSERT, ORDERS_TABID, PAYMENTS_TABID, RBTX,
    UPDAFT, UPDBEF, Rules,
)

COLUMNS = ("file", "seq", "tag", "txid", "tabid", "key", "cents")

#: seq stride of one order transaction, and of one trickle transaction
TXN_STRIDE = 16
#: first seq of the trickle transactions, above every base-load seq
TRICKLE_SEQ0 = 1 << 40
#: txid of trickle transaction g is TRICKLE_TXID0 + g (wire txid is int32)
TRICKLE_TXID0 = 1_000_000


def _part(n, **cols) -> dict:
    out = {}
    for c in COLUMNS:
        v = cols.get(c, 0)
        out[c] = np.broadcast_to(np.asarray(v, dtype=np.int64), (n,)).copy()
    return out


def concat(parts: list[dict]) -> dict:
    ev = {c: np.concatenate([p[c] for p in parts]) for c in COLUMNS}
    order = np.lexsort((ev["seq"], ev["file"]))
    return {c: v[order] for c, v in ev.items()}


def select(ev: dict, mask) -> dict:
    return {c: v[mask] for c, v in ev.items()}


def order_txns(
    rules: Rules, k_lo: int, n_keys: int, keys_per_file: int,
    with_payment: bool,
) -> dict:
    """One transaction per order key k (txid k, seqs 16k .. 16k+9):
    BEGINTX, INSERT, an optional payment INSERT (payment key k),
    UPDBEF + UPDAFT when ``upd`` is 0, DELETE when ``dele`` is 0, then
    RBTX when ``fate`` < 70, nothing (still open) when ``fate`` < 110,
    else COMMTX. Keys fill arrival files in runs of ``keys_per_file``."""
    k = np.arange(k_lo, k_lo + n_keys, dtype=np.int64)
    f = (k - k_lo) // keys_per_file
    s = k * TXN_STRIDE
    upd = rules.np("upd", k=k) == 0
    dele = rules.np("dele", k=k) == 0
    fate = rules.np("fate", k=k)
    p0 = rules.np("o_price0", k=k)
    p1 = rules.np("o_price1", k=k)
    o = ORDERS_TABID
    parts = [
        _part(len(k), file=f, seq=s, tag=BEGINTX, txid=k),
        _part(len(k), file=f, seq=s + 1, tag=INSERT, txid=k, tabid=o, key=k,
              cents=p0),
    ]
    if with_payment:
        parts.append(_part(
            len(k), file=f, seq=s + 2, tag=INSERT, txid=k,
            tabid=PAYMENTS_TABID, key=k, cents=rules.np("p_amount", p=k),
        ))
    u = upd
    parts += [
        _part(u.sum(), file=f[u], seq=s[u] + 3, tag=UPDBEF, txid=k[u],
              tabid=o, key=k[u], cents=p0[u]),
        _part(u.sum(), file=f[u], seq=s[u] + 4, tag=UPDAFT, txid=k[u],
              tabid=o, key=k[u], cents=p1[u]),
    ]
    last = np.where(upd, p1, p0)
    parts.append(_part(dele.sum(), file=f[dele], seq=s[dele] + 5, tag=DELETE,
                       txid=k[dele], tabid=o, key=k[dele], cents=last[dele]))
    c, r = fate >= 110, fate < 70
    parts.append(_part(c.sum(), file=f[c], seq=s[c] + 9, tag=COMMTX,
                       txid=k[c]))
    parts.append(_part(r.sum(), file=f[r], seq=s[r] + 9, tag=RBTX, txid=k[r]))
    return concat(parts)


def base_load(
    rules: Rules, n_orders: int, n_payments: int, n_files: int,
    rows_per_txn: int,
) -> dict:
    """Committed INSERT transactions of ``rows_per_txn`` rows each:
    orders 1..n_orders, then payments 1..n_payments. Transaction t
    lands in file t % n_files."""
    parts, seq, txid = [], 0, 0
    for tabid, n in ((ORDERS_TABID, n_orders), (PAYMENTS_TABID, n_payments)):
        for lo in range(1, n + 1, rows_per_txn):
            keys = np.arange(lo, min(lo + rows_per_txn, n + 1), dtype=np.int64)
            txid += 1
            fi = txid % n_files
            cents = (rules.np("o_price0", k=keys) if tabid == ORDERS_TABID
                     else rules.np("p_amount", p=keys))
            m = len(keys)
            parts += [
                _part(1, file=fi, seq=seq, tag=BEGINTX, txid=txid),
                _part(m, file=fi, seq=seq + 1 + np.arange(m), tag=INSERT,
                      txid=txid, tabid=tabid, key=keys, cents=cents),
                _part(1, file=fi, seq=seq + 1 + m, tag=COMMTX, txid=txid),
            ]
            seq += m + 2
    return concat(parts)


def trickle_txns(
    rules: Rules, nb: int, npb: int, n_files: int, per_file: int,
) -> dict:
    """Trickle transaction g (``per_file`` per arrival file, file
    g // per_file, seqs TRICKLE_SEQ0 + 16g ..):

    - BEGINTX at +0;
    - on order ka: DELETE when ``kind`` is 0; INSERT of the new order
      nb+g+1 instead when ``kind`` is 1; else UPDBEF + UPDAFT (price
      + g + 1) at +1, +2;
    - on order kb: UPDBEF + UPDAFT (price + 2g + 7) at +3, +4;
    - INSERT of payment npb+g+1 at +5;
    - RBTX when ``rollback`` is 0, else COMMTX, at +9; the last
      transaction of each file terminates at +15 at the head of the
      next file, so one transaction is open across every file boundary.
    """
    g = np.arange(n_files * per_file, dtype=np.int64)
    f = g // per_file
    s = TRICKLE_SEQ0 + g * TXN_STRIDE
    tx = TRICKLE_TXID0 + g
    ka = rules.np("ka", g=g, nb=nb)
    kb = rules.np("kb", g=g, nb=nb)
    kind = rules.np("kind", g=g)
    o = ORDERS_TABID
    d, i, u = kind == 0, kind == 1, kind >= 2
    newk = nb + g + 1
    pa0 = rules.np("o_price0", k=ka)
    pb0 = rules.np("o_price0", k=kb)
    parts = [
        _part(len(g), file=f, seq=s, tag=BEGINTX, txid=tx),
        _part(d.sum(), file=f[d], seq=s[d] + 1, tag=DELETE, txid=tx[d],
              tabid=o, key=ka[d], cents=pa0[d]),
        _part(i.sum(), file=f[i], seq=s[i] + 1, tag=INSERT, txid=tx[i],
              tabid=o, key=newk[i], cents=rules.np("o_price0", k=newk[i])),
        _part(u.sum(), file=f[u], seq=s[u] + 1, tag=UPDBEF, txid=tx[u],
              tabid=o, key=ka[u], cents=pa0[u]),
        _part(u.sum(), file=f[u], seq=s[u] + 2, tag=UPDAFT, txid=tx[u],
              tabid=o, key=ka[u], cents=pa0[u] + g[u] + 1),
        _part(len(g), file=f, seq=s + 3, tag=UPDBEF, txid=tx, tabid=o,
              key=kb, cents=pb0),
        _part(len(g), file=f, seq=s + 4, tag=UPDAFT, txid=tx, tabid=o,
              key=kb, cents=pb0 + 2 * g + 7),
        _part(len(g), file=f, seq=s + 5, tag=INSERT, txid=tx,
              tabid=PAYMENTS_TABID, key=npb + g + 1,
              cents=rules.np("p_amount", p=npb + g + 1)),
    ]
    spans = (g % per_file) == per_file - 1
    term = np.where(rules.np("rollback", g=g) == 0, RBTX, COMMTX)
    parts.append(_part(
        len(g), file=f + spans, seq=s + np.where(spans, 15, 9), tag=term,
        txid=tx,
    ))
    ev = concat(parts)
    # the terminator of the final file's spanning transaction never lands
    return select(ev, ev["file"] < n_files)
