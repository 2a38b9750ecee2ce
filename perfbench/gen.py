"""Seeded input generators. The program under test sees only these files.

Every generator is a pure function of its seed (and an index for inputs
made in rounds), so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

#: mover-drain lines are ~120 bytes of JSON, ~0.6 MB per file
MOVER_LINES_PER_FILE = 5000

#: cdc-paced dead-letter rule: a line longer than this is oversized
CDC_MAX_LINE_BYTES = 2048
CDC_LINES_PER_FILE = 20
CDC_REDELIVER_FRAC = 0.20
CDC_OVERSIZED_FRAC = 0.005

_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def write_staged(staging: str, name: str, lines: list[str]) -> str:
    path = os.path.join(staging, name)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


# ------------------------------------------------------------ mover-drain


def mover_round(seed: int, rnd: int, n_files: int) -> list[list[str]]:
    """One backlog round: ``n_files`` files of JSON lines, unique across
    rounds."""
    rng = _rng(seed, 1, rnd)
    n = n_files * MOVER_LINES_PER_FILE
    user = rng.integers(0, 50_000, n)
    etype = rng.integers(0, len(_EVENT_TYPES), n)
    amount = rng.integers(0, 10_000_000, n)
    ts = 1_704_067_200_000 + np.sort(rng.integers(0, 86_400_000, n))
    base = rnd * 1_000_000  # ids stay unique across rounds
    lines = [
        f'{{"id":{base + i},"ts":{t},"user":{u},"type":"{_EVENT_TYPES[e]}",'
        f'"amount_cents":{a},"page":"/p/{u % 997}/{a % 89}","ua":"bench-agent/1.0"}}'
        for i, (t, u, e, a) in enumerate(
            zip(ts.tolist(), user.tolist(), etype.tolist(), amount.tolist())
        )
    ]
    k = MOVER_LINES_PER_FILE
    return [lines[i * k:(i + 1) * k] for i in range(n_files)]


# ------------------------------------------------------------- cdc-paced


class CdcStream:
    """Change-log files for the paced workload: about 20% of lines re-deliver
    an earlier line verbatim, about 0.5% are oversized (dead-letter)."""

    def __init__(self, seed: int):
        self._rng = _rng(seed, 2)
        self._seq = 0
        self._sent: list[str] = []  # non-oversized lines delivered so far
        self.oversized: list[str] = []

    def next_file(self) -> list[str]:
        out = []
        for _ in range(CDC_LINES_PER_FILE):
            u = self._rng.random()
            if self._sent and u < CDC_REDELIVER_FRAC:
                out.append(self._sent[int(self._rng.integers(0, len(self._sent)))])
                continue
            self._seq += 1
            rec = {
                "scn": self._seq,
                "table": "accounts",
                "op": "UPSERT",
                "pk": int(self._rng.integers(0, 5000)),
                "balance_cents": int(self._rng.integers(-10**6, 10**8)),
            }
            if u > 1.0 - CDC_OVERSIZED_FRAC:
                rec["blob"] = "x" * (CDC_MAX_LINE_BYTES + int(self._rng.integers(1, 512)))
                line = json.dumps(rec, separators=(",", ":"))
                self.oversized.append(line)
            else:
                line = json.dumps(rec, separators=(",", ":"))
                self._sent.append(line)
            out.append(line)
        return out

    def distinct_valid(self) -> set[str]:
        return set(self._sent)


# --------------------------------------------------------- analytics-mix

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped star schema plus events/documents/embeddings, with the
    column names and types the registered queries read."""
    rng = _rng(seed, 3)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 25)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_users = int(15_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = min(max(int(20_000 * sf), 500), 2000)
    t = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = ["large", "hot", "blue", "old", "small", "red", "cold", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(okey)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2498),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": _money(rng, n_events, 0.0, 560.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.01:
            # near duplicate of an earlier document
            src = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(src)))
            src[j] = "dup"
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"), index=False, coerce_timestamps="us"
        )
