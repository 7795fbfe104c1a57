"""Seeded generation rules: every input value is an integer formula.

Each rule is one formula over the key variables ``k`` (order key),
``p`` (payment key) and ``g`` (trickle transaction index), with
constants drawn from the seed. The same formula text is evaluated twice,
by NumPy to write the inputs (``events.py``) and by DuckDB to compute
the expected outputs (``oracle.py``), so the oracle never reads what the
generator wrote and never calls the program under test.
"""

from __future__ import annotations

import random

import numpy as np

ORDERS_TABID = 101
PAYMENTS_TABID = 102
ORDERS_DDL = (
    "o_orderkey bigint, o_custkey int, o_status char(1), "
    "o_totalprice decimal(12,2), o_orderdate date, o_comment varchar(16)"
)
PAYMENTS_DDL = (
    "p_paykey bigint, p_orderkey bigint, p_amount decimal(12,2), "
    "p_method varchar(12), p_ts datetime year to fraction"
)
STATUSES = "OFP"
METHODS = ("card", "wire", "cash", "cheque", "voucher")

# wire tags (the record_number field of the envelope, cdc/binary.py)
BEGINTX, COMMTX, RBTX = 1, 2, 3
INSERT, DELETE, UPDBEF, UPDAFT = 40, 41, 42, 43
TABSCHEM = 200
TAG_NAMES = {
    BEGINTX: "BEGINTX", COMMTX: "COMMTX", RBTX: "RBTX", INSERT: "INSERT",
    DELETE: "DELETE", UPDBEF: "UPDBEF", UPDAFT: "UPDAFT",
}
IUD_TAGS = (INSERT, DELETE, UPDBEF, UPDAFT)

# Formula templates; {names} are per-seed constants. Operands stay
# non-negative and below 2**62, where NumPy int64 and DuckDB BIGINT agree.
_FORMULAS = {
    # order row values
    "o_custkey": "(k * {a1}) % 30011 + 1",
    "o_status_ix": "(k * {a2}) % 3",
    "o_price0": "(k * {a3} + {a4}) % 4999901 + 100",
    "o_date": "8036 + (k * {a5}) % 2405",  # days since 1970-01-01
    "o_comment_n": "(k * {a6}) % 1000000",
    "o_comment_w": "6 + k % 4",
    # per-order transaction fate (stream_backfill, capture_decode):
    # fate < 70 rolls back, fate < 110 stays open, the rest commit
    "fate": "(k * {f1} + {f2}) % 1000",
    "upd": "(k * {f3} + {f4}) % 5",  # == 0: UPDBEF + UPDAFT
    "dele": "(k * {f5} + {f6}) % 7",  # == 0: DELETE
    "o_price1": "(k * {a3} + {a4}) % 4999901 + 100 + k % 97 + 1",
    # payment row values
    "p_orderkey": "(p * {b1}) % 1000003 + 1",
    "p_amount": "(p * {b2} + {b3}) % 99901 + 100",
    "p_method_ix": "(p * {b4}) % 5",
    "p_ts": "694224000000000 + ((p * {b5}) % 315360000) * 1000000"
    " + (p % 1000) * 1000",
    # trickle transaction g over a base of nb orders
    "ka": "(g * {t1} + {t2}) % nb + 1",
    "kb": "(g * {t3} + {t4}) % nb + 1",
    "rollback": "(g * {t5} + {t6}) % 20",  # == 0: RBTX
    "kind": "(g * {t7} + {t8}) % 10",  # 0 deletes ka, 1 inserts a new key
}


def _coprime(rng: random.Random, mod: int) -> int:
    while True:
        v = rng.randrange(3, 999_983)
        if np.gcd(v, mod) == 1:
            return v


class Rules:
    """The formula set bound to one seed's constants."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        c = {name: rng.randrange(1, 999_983) for name in (
            "a1", "a2", "a3", "a4", "a5", "a6", "f2", "f4", "f6",
            "b1", "b2", "b3", "b4", "b5", "t1", "t2", "t3", "t4", "t6", "t8",
        )}
        # multipliers coprime to the modulus, so each residue class holds
        # an exact share of every full run of keys
        c["f1"] = _coprime(rng, 1000)
        c["f3"] = _coprime(rng, 5)
        c["f5"] = _coprime(rng, 7)
        c["t5"] = _coprime(rng, 20)
        c["t7"] = _coprime(rng, 10)
        self.consts = c
        self.text = {n: f.format(**c) for n, f in _FORMULAS.items()}

    def np(self, name: str, **env) -> np.ndarray:
        """Evaluate a rule over int64 arrays (or scalars) in ``env``."""
        env = {k: np.asarray(v, dtype=np.int64) for k, v in env.items()}
        return np.asarray(eval(self.text[name], {"__builtins__": {}}, env))

    def sql(self, name: str, **rename) -> str:
        """The rule as a DuckDB expression; ``rename`` maps a variable
        to a SQL expression (``k="o.k"``, ``nb="1000000"``)."""
        expr = self.text[name]
        for var, sub in rename.items():
            expr = _replace_var(expr, var, f"({sub})")
        return f"({expr})"


def _replace_var(expr: str, var: str, sub: str) -> str:
    out, i = [], 0
    while i < len(expr):
        ch = expr[i]
        if ch.isalpha() or ch == "_":
            j = i
            while j < len(expr) and (expr[j].isalnum() or expr[j] == "_"):
                j += 1
            word = expr[i:j]
            out.append(sub if word == var else word)
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)
