"""Signatures of the program's outputs, and the workload checkers.

The Spark expressions here compute, over the program's output, the same
exact integer sums that ``oracle.py`` computes in DuckDB from the rules.
``check_decode`` and ``check_stream`` are the whole verdict of one
operation; ``selftest.py`` feeds them perturbed outputs to show that
each perturbation is rejected.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROW_TYPES = ("INSERT", "DELETE", "UPDBEF", "UPDAFT")

_CENTS = {"orders": "CAST(o_totalprice * 100 AS BIGINT)",
          "payments": "CAST(p_amount * 100 AS BIGINT)"}

_TERMS = {
    "orders": [
        ("s_key", "o_orderkey"),
        ("s_cust", "o_custkey"),
        ("s_cents", _CENTS["orders"]),
        ("s_mix", f"(o_orderkey % 1009) * {_CENTS['orders']}"),
        ("s_date", "unix_date(o_orderdate)"),
        ("s_status", "instr('OFP', o_status)"),
        ("s_cnum", "CAST(substr(o_comment, 2) AS BIGINT)"),
        ("s_clen", "length(o_comment)"),
    ],
    "payments": [
        ("s_key", "p_paykey"),
        ("s_okey", "p_orderkey"),
        ("s_cents", _CENTS["payments"]),
        ("s_mix", f"(p_paykey % 1009) * {_CENTS['payments']}"),
        ("s_mlen", "length(p_method)"),
        ("s_mcode", "ascii(p_method)"),
        ("s_ts", "unix_micros(p_ts) % 1000000007"),
    ],
}


def _aggs(tab: str) -> list[str]:
    return ["CAST(count(1) AS BIGINT) AS n"] + [
        f"CAST(coalesce(sum({e}), 0) AS BIGINT) AS {name}"
        for name, e in _TERMS[tab]
    ]


def table_signature(tab: str, df: DataFrame | None) -> dict:
    """Row count and column sums of a materialized table (one job)."""
    if df is None:
        return {"n": 0} | {name: 0 for name, _ in _TERMS[tab]}
    return df.selectExpr(*_aggs(tab)).collect()[0].asDict()


def census(tab: str, log: DataFrame | None) -> dict:
    """Per record type: count, seq and txid sums and the row terms of
    a change log with a ``row`` struct (the decoded log, or pending)."""
    if log is None:
        return {}
    flat = log.selectExpr("record_type", "seq_number", "transaction_id",
                          "row.*")
    rows = flat.groupBy("record_type").agg(*[F.expr(a) for a in (
        ["CAST(sum(seq_number) AS BIGINT) AS s_seq",
         "CAST(sum(transaction_id) AS BIGINT) AS s_txid"] + _aggs(tab))]
    ).collect()
    return {r["record_type"]: {k: v for k, v in r.asDict().items()
                               if k != "record_type"} for r in rows}


def diff(what: str, want, got) -> list[str]:
    """Human-readable mismatches between two nested dicts of numbers."""
    if isinstance(want, dict) and isinstance(got, dict):
        out = []
        for k in sorted(set(want) | set(got), key=str):
            out += diff(f"{what}.{k}", want.get(k), got.get(k))
        return out
    return [] if want == got else [f"{what}: want {want}, got {got}"]


def conservation(tab: str, expected: dict, pending: dict) -> list[str]:
    """Row images landed == row images of terminated transactions + row
    images the program carries in pending."""
    carried = sum(c["n"] for c in pending.values())
    landed = expected["landed_rows"][tab]
    terminated = expected["terminated_rows"][tab]
    if landed == terminated + carried:
        return []
    return [f"{tab}: {landed} row images landed, but {terminated} "
            f"terminated + {carried} pending"]


def check_decode(want: dict, written: dict, logs: dict,
                 n_tabschem: int) -> list[str]:
    """capture_decode: the per-table census of the decoded logs equals
    the oracle's, and every record written is decoded exactly once
    (lifecycle records appear in each table's log, so they are counted
    from the orders log; row images from their own table's log)."""
    got = {tab: census(tab, df) for tab, df in logs.items()}
    mismatch = diff("census", want, got)
    seen = Counter({"TABSCHEM": n_tabschem})
    for tab, per_type in got.items():
        for rt, c in per_type.items():
            if rt in ROW_TYPES or tab == "orders":
                seen[rt] += c["n"]
    return mismatch + diff("written", written, dict(seen))


def check_stream(want: dict, tables: dict, pendings: dict,
                 open_txns: dict) -> list[str]:
    """Stream workloads: table signatures (from ``table_signature``),
    the pending census, conservation and the open-transaction count of
    every table equal the oracle's state for the landed prefix."""
    mismatch = diff("table", want["tables"], tables)
    for tab, pending in pendings.items():
        pend = census(tab, pending)
        mismatch += diff(f"pending.{tab}", want["pending"][tab], pend)
        mismatch += conservation(tab, want, pend)
        mismatch += diff(f"open_txns.{tab}", want["open_txns"][tab],
                         open_txns[tab])
    return mismatch
