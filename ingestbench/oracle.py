"""Expected outputs, computed in DuckDB from the generation rules.

Nothing here reads the generated files or calls the program: each query
rebuilds the workload's events from ``range()`` and the rule formulas,
then applies the change-log semantics in SQL (committed transactions
only, net effect per key in commit order, rolled-back and open
transactions never applied, a DELETE removes the key).

Outputs are compared as signatures: per table, a row count plus exact
integer sums over every column (``check.py`` computes the same sums
from the program's output in Spark), and per record type the same sums
over a change log. A dropped row, a changed value or a miscounted
record type moves at least one sum.
"""

from __future__ import annotations

import duckdb

from events import TRICKLE_SEQ0, TRICKLE_TXID0, TXN_STRIDE
from rules import METHODS, Rules

_METHOD_LIST = "[" + ", ".join(f"'{m}'" for m in METHODS) + "]"


def _orders_terms(r: Rules, key="key", cents="cents") -> str:
    """Signature columns of order rows given key and price cents."""
    k = dict(k=key)
    return ", ".join([
        "count(*)::BIGINT AS n",
        f"coalesce(sum({key}), 0)::BIGINT AS s_key",
        f"coalesce(sum({r.sql('o_custkey', **k)}), 0)::BIGINT AS s_cust",
        f"coalesce(sum({cents}), 0)::BIGINT AS s_cents",
        f"coalesce(sum(({key} % 1009) * {cents}), 0)::BIGINT AS s_mix",
        f"coalesce(sum({r.sql('o_date', **k)}), 0)::BIGINT AS s_date",
        f"coalesce(sum({r.sql('o_status_ix', **k)} + 1), 0)::BIGINT"
        " AS s_status",
        f"coalesce(sum({r.sql('o_comment_n', **k)}), 0)::BIGINT AS s_cnum",
        f"coalesce(sum({r.sql('o_comment_w', **k)} + 1), 0)::BIGINT"
        " AS s_clen",
    ])


def _payments_terms(r: Rules, key="key", cents="cents") -> str:
    p = dict(p=key)
    method = f"{_METHOD_LIST}[{r.sql('p_method_ix', **p)} + 1]"
    return ", ".join([
        "count(*)::BIGINT AS n",
        f"coalesce(sum({key}), 0)::BIGINT AS s_key",
        f"coalesce(sum({r.sql('p_orderkey', **p)}), 0)::BIGINT AS s_okey",
        f"coalesce(sum({cents}), 0)::BIGINT AS s_cents",
        f"coalesce(sum(({key} % 1009) * {cents}), 0)::BIGINT AS s_mix",
        f"coalesce(sum(length({method})), 0)::BIGINT AS s_mlen",
        f"coalesce(sum(ascii({method})), 0)::BIGINT AS s_mcode",
        f"coalesce(sum({r.sql('p_ts', **p)} % 1000000007), 0)::BIGINT"
        " AS s_ts",
    ])


_TERMS = {"orders": _orders_terms, "payments": _payments_terms}


def _rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, row)) for row in cur.fetchall()]


def _one(con, sql: str) -> dict:
    return _rows(con, sql)[0]


def _census(con, r: Rules, tab: str, log_sql: str) -> dict:
    """Per record type: count, seq and txid sums, and the row terms of
    the table's row-image records (0 on lifecycle records)."""
    terms = _TERMS[tab](
        r, "CASE WHEN is_row THEN key END", "CASE WHEN is_row THEN cents END")
    rows = _rows(con, f"""
        SELECT rt, sum(seq)::BIGINT AS s_seq, sum(txid)::BIGINT AS s_txid,
               {terms}
        FROM ({log_sql}) GROUP BY rt""")
    return {row.pop("rt"): row for row in rows}


class Oracle:
    def __init__(self, rules: Rules):
        self.r = rules
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")

    def close(self):
        self.con.close()

    # -- per-order transactions (capture_decode, stream_backfill) ---------
    def _order_events(self, k_lo: int, k_hi: int, with_payment: bool) -> str:
        """Every record of keys k_lo..k_hi (events.order_txns): columns
        k, rt, tab (0 for lifecycle records), key, cents, seq, txid."""
        r, s = self.r, TXN_STRIDE
        keys = f"SELECT range AS k FROM range({k_lo}, {k_hi + 1})"
        p0, p1 = r.sql("o_price0", k="k"), r.sql("o_price1", k="k")
        upd, dele = r.sql("upd", k="k") + " = 0", r.sql("dele", k="k") + " = 0"
        fate = r.sql("fate", k="k")

        def ev(rt, tab, key, cents, off, where="TRUE"):
            return (f"SELECT k, '{rt}' AS rt, {tab} AS tab, {key} AS key, "
                    f"{cents} AS cents, {s} * k + {off} AS seq, k AS txid "
                    f"FROM keys WHERE {where}")

        parts = [
            ev("BEGINTX", 0, 0, 0, 0),
            ev("INSERT", 101, "k", p0, 1),
            ev("UPDBEF", 101, "k", p0, 3, upd),
            ev("UPDAFT", 101, "k", p1, 4, upd),
            ev("DELETE", 101, "k", f"CASE WHEN {upd} THEN {p1} ELSE {p0} END",
               5, dele),
            ev("COMMTX", 0, 0, 0, 9, f"{fate} >= 110"),
            ev("RBTX", 0, 0, 0, 9, f"{fate} < 70"),
        ]
        if with_payment:
            parts.append(ev("INSERT", 102, "k", r.sql("p_amount", p="k"), 2))
        return (f"WITH keys AS ({keys}) SELECT *, {fate} AS fate FROM ("
                + " UNION ALL ".join(parts) + ")")

    def decode_census(self, n_keys: int) -> dict:
        """Per table, the census of the typed change log decoded from
        the capture_decode archive (keys 1..n_keys): lifecycle records
        plus that table's row images."""
        ev = self._order_events(1, n_keys, True)
        out = {}
        for tab, tabid in (("orders", 101), ("payments", 102)):
            out[tab] = _census(self.con, self.r, tab, f"""
                SELECT rt, seq, txid, key, cents, tab = {tabid} AS is_row
                FROM ({ev}) WHERE tab IN (0, {tabid})""")
        return out

    def backfill_state(self, k_lo: int, n_keys: int) -> dict:
        """Expected state after the orders of keys k_lo..k_lo+n_keys-1
        have landed (events.order_txns without payments)."""
        ev = self._order_events(k_lo, k_lo + n_keys - 1, False)
        r = self.r
        p0, p1 = r.sql("o_price0", k="k"), r.sql("o_price1", k="k")
        final = _one(self.con, f"""
            SELECT {_orders_terms(r, 'k', f'CASE WHEN {r.sql("upd", k="k")}'
                                          f' = 0 THEN {p1} ELSE {p0} END')}
            FROM (SELECT range AS k FROM range({k_lo}, {k_lo + n_keys}))
            WHERE {r.sql('fate', k='k')} >= 110
              AND {r.sql('dele', k='k')} <> 0""")
        open_ev = (f"SELECT rt, seq, txid, key, cents, TRUE AS is_row "
                   f"FROM ({ev}) WHERE tab = 101 AND fate >= 70 AND fate < 110")
        counts = _one(self.con, f"""
            SELECT count(*) FILTER (WHERE tab = 101)::BIGINT AS landed,
                   count(*) FILTER (WHERE tab = 101 AND (fate < 70
                                    OR fate >= 110))::BIGINT AS terminated,
                   count(DISTINCT txid) FILTER (WHERE tab = 101
                         AND fate >= 70 AND fate < 110)::BIGINT AS open_txns
            FROM ({ev})""")
        return {
            "tables": {"orders": final},
            "pending": {"orders": _census(self.con, r, "orders", open_ev)},
            "open_txns": {"orders": counts["open_txns"]},
            "landed_rows": {"orders": counts["landed"]},
            "terminated_rows": {"orders": counts["terminated"]},
        }

    # -- base load + trickle (binlog_trickle) --------------------------------
    def _trickle_events(self, nb: int, npb: int, per_file: int,
                        n_txns: int) -> str:
        """Row-image records of trickle transactions 0..n_txns-1
        (events.trickle_txns): f = file of the record, tf = file of the
        terminator, committed = the terminator is a COMMTX."""
        r, x = self.r, per_file
        tx = f"""
            SELECT g, g // {x} AS f,
                   g // {x} + CASE WHEN g % {x} = {x - 1} THEN 1 ELSE 0 END
                       AS tf,
                   {TRICKLE_SEQ0} + {TXN_STRIDE} * g AS s0,
                   {TRICKLE_SEQ0} + {TXN_STRIDE} * g
                       + CASE WHEN g % {x} = {x - 1} THEN 15 ELSE 9 END
                       AS cseq,
                   {TRICKLE_TXID0} + g AS txid,
                   {r.sql('rollback', g='g')} <> 0 AS committed,
                   {r.sql('ka', g='g', nb=str(nb))} AS ka,
                   {r.sql('kb', g='g', nb=str(nb))} AS kb,
                   {r.sql('kind', g='g')} AS kind
            FROM range(0, {n_txns}) t(g)"""

        def ev(rt, tab, key, cents, off, where="TRUE"):
            return (f"SELECT f, tf, cseq, committed, txid, '{rt}' AS rt, "
                    f"{tab} AS tab, {key} AS key, {cents} AS cents, "
                    f"s0 + {off} AS seq FROM tx WHERE {where}")

        pa0, pb0 = r.sql("o_price0", k="ka"), r.sql("o_price0", k="kb")
        newk = f"{nb} + g + 1"
        pay = f"{npb} + g + 1"
        parts = [
            ev("DELETE", 101, "ka", pa0, 1, "kind = 0"),
            ev("INSERT", 101, newk, r.sql("o_price0", k=newk), 1, "kind = 1"),
            ev("UPDBEF", 101, "ka", pa0, 1, "kind >= 2"),
            ev("UPDAFT", 101, "ka", f"{pa0} + g + 1", 2, "kind >= 2"),
            ev("UPDBEF", 101, "kb", pb0, 3),
            ev("UPDAFT", 101, "kb", f"{pb0} + 2 * g + 7", 4),
            ev("INSERT", 102, pay, r.sql("p_amount", p=pay), 5),
        ]
        return f"WITH tx AS ({tx}) " + " UNION ALL ".join(parts)

    def trickle_states(self, nb: int, npb: int, per_file: int,
                       n_files: int) -> list[dict]:
        """Expected state after the base load and the first m trickle
        files, for m = 0..n_files."""
        r = self.r
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE trickle AS "
            + self._trickle_events(nb, npb, per_file, per_file * n_files))
        base = {
            "orders": _one(self.con, f"""
                SELECT {_orders_terms(r, 'k', r.sql('o_price0', k='k'))}
                FROM (SELECT range AS k FROM range(1, {nb + 1}))"""),
            "payments": _one(self.con, f"""
                SELECT {_payments_terms(r, 'k', r.sql('p_amount', p='k'))}
                FROM (SELECT range AS k FROM range(1, {npb + 1}))"""),
        }
        states = []
        for m in range(n_files + 1):
            states.append(self._trickle_state(r, nb, m, base))
        return states

    def _trickle_state(self, r, nb, m, base) -> dict:
        landed = f"f < {m}"
        applied = f"tf < {m} AND committed"
        touched = _one(self.con, f"""
            WITH t AS (SELECT DISTINCT key FROM trickle
                       WHERE tab = 101 AND {landed} AND key <= {nb})
            SELECT {_orders_terms(r, 'key', r.sql('o_price0', k='key'))}
            FROM t""")
        final = _one(self.con, f"""
            WITH cand AS (
                SELECT DISTINCT key, -1 AS cseq, -1 AS seq, 'INSERT' AS rt,
                       {r.sql('o_price0', k='key')} AS cents
                FROM trickle WHERE tab = 101 AND {landed} AND key <= {nb}
                UNION ALL
                SELECT key, cseq, seq, rt, cents FROM trickle
                WHERE tab = 101 AND {applied}
                  AND rt IN ('INSERT', 'DELETE', 'UPDAFT')),
            win AS (SELECT * FROM cand QUALIFY row_number() OVER (
                        PARTITION BY key ORDER BY cseq DESC, seq DESC) = 1)
            SELECT {_orders_terms(r)} FROM win WHERE rt <> 'DELETE'""")
        new_pay = _one(self.con, f"""
            SELECT {_payments_terms(r)} FROM trickle
            WHERE tab = 102 AND {applied}""")
        orders = {c: base["orders"][c] - touched[c] + final[c]
                  for c in base["orders"]}
        payments = {c: base["payments"][c] + new_pay[c]
                    for c in base["payments"]}
        out = {"tables": {"orders": orders, "payments": payments},
               "pending": {}, "open_txns": {}, "landed_rows": {},
               "terminated_rows": {}}
        for tab, tabid in (("orders", 101), ("payments", 102)):
            open_rows = (f"SELECT rt, seq, txid, key, cents, TRUE AS is_row "
                         f"FROM trickle WHERE tab = {tabid} AND {landed} "
                         f"AND tf >= {m}")
            out["pending"][tab] = _census(self.con, r, tab, open_rows)
            c = _one(self.con, f"""
                SELECT count(*) FILTER (WHERE {landed})::BIGINT AS landed,
                       count(*) FILTER (WHERE tf < {m})::BIGINT AS term,
                       count(DISTINCT txid) FILTER (
                           WHERE {landed} AND tf >= {m})::BIGINT AS open
                FROM trickle WHERE tab = {tabid}""")
            out["open_txns"][tab] = c["open"]
            out["landed_rows"][tab] = c["landed"]
            out["terminated_rows"][tab] = c["term"]
        return out
