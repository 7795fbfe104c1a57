"""Checker self-test.

For each workload, one checked operation runs against the program; the
workload's checker must accept that real output and reject the same
output with one row dropped, one price changed by a cent, and one
record's type relabelled (so one record type is miscounted).

Usage, from the root of a checkout:

    python3 ingestbench/selftest.py [--seed 1]

Exits 0 when every workload's checker passes all four cases.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from run import HERE, WORKLOADS


def _first(df, order_col: str, where: str = "TRUE"):
    """The value of ``order_col`` on the first row of ``df`` matching
    ``where`` (the row a perturbation targets)."""
    row = df.where(where).agg(F.min(order_col)).collect()[0][0]
    if row is None:
        raise ValueError(f"no row matches {where!r}")
    return row


def _drop(df, col: str, value):
    return df.where(F.col(col) != F.lit(value))


def _relabel(log):
    """Change the type of the first row-image record: an INSERT becomes
    an UPDAFT, any other type an INSERT."""
    seq = _first(log, "seq_number",
                 "record_type IN ('INSERT', 'DELETE', 'UPDBEF', 'UPDAFT')")
    hit = F.col("seq_number") == F.lit(seq)
    new = F.when(F.col("record_type") == "INSERT", F.lit("UPDAFT")).otherwise(
        F.lit("INSERT"))
    return log.withColumn("record_type",
                          F.when(hit, new).otherwise(F.col("record_type")))


def _plus_cent(col, typ):
    return (col + F.lit(0.01)).cast(typ)


def decode_cases(want, written, logs, n_tabschem) -> dict:
    """capture_decode: perturb the decoded orders log."""
    from check import check_decode

    log = logs["orders"]
    price_t = log.schema["row"].dataType["o_totalprice"].dataType
    seq = _first(log, "seq_number", "record_type = 'INSERT'")
    hit = F.col("seq_number") == F.lit(seq)
    cases = {
        "real": log,
        "drop_row": _drop(log, "seq_number", seq),
        "price": log.withColumn("row", F.when(hit, F.col("row").withField(
            "o_totalprice", _plus_cent(F.col("row.o_totalprice"), price_t)))
            .otherwise(F.col("row"))),
        "record_type": _relabel(log),
    }
    return {name: check_decode(want, written, {**logs, "orders": df},
                               n_tabschem)
            for name, df in cases.items()}


def stream_cases(want, targets, pendings, open_txns) -> dict:
    """Stream workloads: perturb the orders table (rows, prices) and
    the orders pending log (record types)."""
    from check import check_stream, table_signature

    sigs = {tab: table_signature(tab, df) for tab, df in targets.items()}
    table = targets["orders"]
    price_t = table.schema["o_totalprice"].dataType
    key = _first(table, "o_orderkey")
    hit = F.col("o_orderkey") == F.lit(key)
    price = F.col("o_totalprice")
    out = {"real": check_stream(want, sigs, pendings, open_txns)}
    for name, df in (
        ("drop_row", _drop(table, "o_orderkey", key)),
        ("price", table.withColumn("o_totalprice", F.when(
            hit, _plus_cent(price, price_t)).otherwise(price))),
    ):
        out[name] = check_stream(
            want, {**sigs, "orders": table_signature("orders", df)},
            pendings, open_txns)
    out["record_type"] = check_stream(
        want, sigs, {**pendings, "orders": _relabel(pendings["orders"])},
        open_txns)
    return out


def run_cases(kind: str, args) -> dict:
    """{case: passed}: the real output is accepted, every perturbed one
    rejected."""
    found = (decode_cases if kind == "decode" else stream_cases)(*args)
    return {name: (not m) if name == "real" else bool(m)
            for name, m in found.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description="Checker self-test.")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = True
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
             "--seed", str(args.seed), "--seconds", "1", "--trace", "0",
             "--selftest"],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            cases = json.loads(lines[-1])["selftest"]
        except (IndexError, ValueError, KeyError):
            print(f"{wl}: no self-test result (exit {proc.returncode})")
            ok = False
            continue
        for name, passed in cases.items():
            verdict = "accepted" if name == "real" else "rejected"
            print(f"{wl:15s} {name:12s} "
                  f"{verdict if passed else 'NOT ' + verdict}")
            ok &= passed
    print("checker self-test:", "pass" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
