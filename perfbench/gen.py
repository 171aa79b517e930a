"""Seeded input generators: every byte a workload feeds the engine
comes from here, and the same seed gives byte-identical inputs.

Python, numpy and pyarrow, no Spark: the engine sees only the files
these functions produce.  Each component draws from its own
``random.Random`` (or, for the bulk TPC-H columns, numpy ``Generator``)
keyed by ``(seed, component, index)``, so adding a day or a step never
shifts the draws of another.

Sizes follow the engine's own reference points: the lead master and
its CDC batches have the row counts of the 2k-row-merge-into-200k-rows
probe, the TPC-H tables the row counts of the sf0.1 test data, and the
corpus the size of its ``documents.parquet`` (5000 documents).
"""

from __future__ import annotations

import csv
import functools
import hashlib
import io
import itertools
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa


def _key(seed: int, parts) -> str:
    return ":".join(str(p) for p in (seed,) + parts)


def rng_for(seed: int, *parts) -> random.Random:
    """Independent stream per component (string seeds hash via
    sha512, so they are stable across processes and Python builds)."""
    return random.Random(_key(seed, parts))


def np_rng_for(seed: int, *parts) -> np.random.Generator:
    """The numpy counterpart of ``rng_for``, for bulk columns."""
    digest = hashlib.sha256(_key(seed, parts).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "big"))


# ---------------------------------------------------------------- leads --

LEAD_TABLES = ("leads_web", "leads_fair", "leads_partner", "leads_referral")
LEAD_COLS = (
    "lead_id", "company", "email", "score", "employees", "signup_date",
    "is_active",
)
# columns with a non-string target type: a bad cell here must become NULL
TYPED_COLS = ("score", "employees", "signup_date", "is_active")
DROPPABLE_COLS = ("email", "employees", "signup_date")
BAD_TOKENS = ("n/a", "??", "#REF!", "unknown", "-x-")
BAD_SHARE = 0.02
EXTRA_COL = "utm_source"
# the schema drift of one file after day 0: the four sources rotate
# through the four kinds, so every day carries each kind once and the
# seed picks only the details (which column, where, the cell values)
DRIFTS = ("added", "dropped", "widened", "reordered")
LEAD_ROWS = 300
_ADJ = ("Fresh", "Green", "Urban", "Prime", "Blue", "Rapid", "Nordic", "Solar")
_NOUN = ("Farms", "Foods", "Labs", "Logistics", "Market", "Grocers", "Works")


@dataclass
class LeadFile:
    """One landed CSV plus the truth the checks compare against."""

    table: str
    text: str
    rows: int
    # target column -> cells that must read back NULL (bad cells that
    # try_cast rejects, plus every row of a column the file dropped)
    expected_nulls: dict[str, int] = field(default_factory=dict)
    bad_cells: int = 0  # the try_cast share of expected_nulls


def lead_day(seed: int, day: int) -> list[LeadFile]:
    """The four lead CSVs landed on ``day``.  Day 0 is clean (it
    autodetect-creates the tables); on later days each file carries
    one kind of schema drift (``DRIFTS``: an added column, a dropped
    column, integers written as decimals, reordered columns) and
    ``BAD_SHARE`` unparseable cells per typed column."""
    return [_lead_file(seed, day, ti, t) for ti, t in enumerate(LEAD_TABLES)]


def _lead_file(seed: int, day: int, ti: int, table: str) -> LeadFile:
    r = rng_for(seed, "leads", day, table)
    n = LEAD_ROWS
    drift = DRIFTS[(day + ti) % len(DRIFTS)] if day > 0 else None
    cols = list(LEAD_COLS)
    dropped = r.choice(DROPPABLE_COLS) if drift == "dropped" else None
    if dropped:
        cols.remove(dropped)
    widened = drift == "widened"
    if drift == "added":
        cols.insert(r.randrange(len(cols) + 1), EXTRA_COL)
    elif drift == "reordered":
        r.shuffle(cols)
    base = date(2024, 1, 1)
    rows = []
    for i in range(n):
        company = f"{r.choice(_ADJ)} {r.choice(_NOUN)}"
        if r.random() < 0.1:
            company += ", Inc."  # quoted field
        if r.random() < 0.01:
            company += "\nEU branch"  # quoted embedded newline
        emp = r.randrange(1, 5000)
        rows.append({
            "lead_id": str(day * 100_000 + ti * 10_000 + i),
            "company": company,
            "email": f"contact{i}@{company.split()[0].lower()}.example",
            "score": f"{r.uniform(0, 100):.2f}",
            "employees": f"{emp}.0" if widened else str(emp),
            "signup_date": (base + timedelta(days=r.randrange(700))).isoformat(),
            "is_active": r.choice(("true", "false")),
            EXTRA_COL: r.choice(("ads", "organic", "referral")),
        })
    expected = {c: 0 for c in LEAD_COLS}
    if dropped:
        expected[dropped] = n
    bad = 0
    if day > 0:
        for c in TYPED_COLS:
            if c == dropped or (c == "employees" and widened):
                continue
            k = round(BAD_SHARE * n)
            for i in r.sample(range(n), k):
                rows[i][c] = r.choice(BAD_TOKENS)
            expected[c] += k
            bad += k
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(cols)
    for row in rows:
        w.writerow([row[c] for c in cols])
    return LeadFile(table, buf.getvalue(), n, expected, bad)


# --------------------------------------------------------------- txtable --

MASTER_BASE_ROWS = 200_000
MASTER_HOT = 20_000  # the most recent keys, where most CDC traffic lands
# one CDC merge: 2000 rows, mostly hot keys, some cold ones, some new
MERGE_HOT, MERGE_COLD, MERGE_NEW = 1_300, 400, 300
APPEND_ROWS = 2_000
UPDATE_ROWS = 2_000  # a range of hot keys
DELETE_ROWS = 1_000  # a range of cold keys
STAGES = ("new", "contacted", "qualified", "won", "lost")
MASTER_SCHEMA = pa.schema([
    ("lead_id", pa.int64()),
    ("company", pa.string()),
    ("score", pa.float64()),
    ("stage", pa.string()),
    ("step", pa.int64()),
])


def _master_rows(r: random.Random, keys: list[int], step: int) -> pa.Table:
    return pa.table(
        {
            "lead_id": keys,
            "company": [f"{r.choice(_ADJ)} {r.choice(_NOUN)}" for _ in keys],
            "score": [round(r.uniform(0, 100), 2) for _ in keys],
            "stage": [r.choice(STAGES) for _ in keys],
            "step": [step] * len(keys),
        },
        schema=MASTER_SCHEMA,
    )


@functools.lru_cache(maxsize=1)
def master_base(seed: int) -> pa.Table:
    """The lead-master table's initial contents."""
    return _master_rows(
        rng_for(seed, "master", "base"), list(range(MASTER_BASE_ROWS)), 0
    )


# the master-table mutations that follow each measured day's CDC merge;
# maintenance comes first, so the change feed after it (which the check
# replays) covers the rest of the day
MASTER_DAY = ("maintain", "update", "append", "delete")


def master_days(seed: int):
    """Endless seeded stream of lead-master mutations, one list per day
    from day 1.

    Every day starts with a CDC merge skewed to the hot recent key
    range.  Day 1 (the warm-up) follows it with a range update; from
    day 2 the further mutations are ``MASTER_DAY``: maintenance, a range
    update of hot keys, an append of new keys and a range delete of
    cold keys.  Each op is a dict with
    ``kind``, a unique ``step`` and its arguments.  The key space is
    tracked here, not read back from the engine, so the stream depends
    on the seed only.
    """
    next_key = MASTER_BASE_ROWS
    for day in itertools.count(1):
        extra = ("update",) if day == 1 else MASTER_DAY
        ops = []
        for j, kind in enumerate(("merge",) + extra):
            step = 10 * day + j
            r = rng_for(seed, "master", step)
            hot_lo = max(0, next_key - MASTER_HOT)
            op: dict = {"step": step, "kind": kind}
            if kind == "merge":
                keys = r.sample(range(hot_lo, next_key), MERGE_HOT)
                keys += r.sample(range(0, hot_lo), MERGE_COLD)
                keys += list(range(next_key, next_key + MERGE_NEW))
                next_key += MERGE_NEW
                r.shuffle(keys)
                op["rows"] = _master_rows(r, keys, step)
            elif kind == "append":
                keys = list(range(next_key, next_key + APPEND_ROWS))
                next_key += APPEND_ROWS
                op["rows"] = _master_rows(r, keys, step)
            elif kind == "update":
                lo = hot_lo + r.randrange(MASTER_HOT - UPDATE_ROWS)
                op["lo"], op["hi"] = lo, lo + UPDATE_ROWS - 1
            elif kind == "delete":
                lo = r.randrange(max(1, hot_lo - DELETE_ROWS))
                op["lo"], op["hi"] = lo, lo + DELETE_ROWS - 1
            ops.append(op)
        yield ops


UPDATE_SCORE_DELTA = 1.5
UPDATE_STAGE = "nurture"


def master_apply(state: dict, op: dict) -> tuple[list, list]:
    """Replay one step on ``state`` (lead_id -> row tuple in
    MASTER_SCHEMA order); return the (deleted, inserted) row lists the
    change feed must show for it."""
    deleted: list = []
    inserted: list = []
    kind = op["kind"]
    if kind in ("merge", "append"):
        for row in zip(*(op["rows"].column(i).to_pylist() for i in range(5))):
            old = state.get(row[0])
            if old is not None:
                deleted.append(old)
            state[row[0]] = row
            inserted.append(row)
    elif kind in ("update", "delete"):
        for k in range(op["lo"], op["hi"] + 1):
            old = state.get(k)
            if old is None:
                continue
            deleted.append(old)
            if kind == "delete":
                del state[k]
            else:
                new = (k, old[1], old[2] + UPDATE_SCORE_DELTA, UPDATE_STAGE,
                       op["step"])
                state[k] = new
                inserted.append(new)
    return deleted, inserted


# -------------------------------------------------------------- curation --

CORPUS_BASE_DOCS = 4_500
CORPUS_PILES = 150  # of each kind: verbatim and near copies (~5000 docs in all)
_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo", "pe", "dan", "gor",
        "li", "zu", "fe", "bra", "os", "tem", "qui")


@functools.lru_cache(maxsize=1)
def corpus(seed: int) -> tuple[pa.Table, list[list[int]]]:
    """A document corpus with planted duplicate structure.

    Returns the documents table (doc_id, text, lang, source, n_chars)
    and the planted piles: lists of doc_ids that must collapse into one
    cluster each — verbatim copies, and near copies with one token
    substituted (3-shingle Jaccard ~0.85-0.9).  Every other document
    is unique; a share of them carry a shared boilerplate sentence, so
    duplicated-span removal has spans to remove."""
    r = rng_for(seed, "corpus")
    vocab = sorted({
        "".join(r.choice(_SYL) for _ in range(r.randrange(2, 4)))
        for _ in range(3000)
    })
    boiler = [[r.choice(vocab) for _ in range(8)] for _ in range(12)]
    base = []
    for _ in range(CORPUS_BASE_DOCS):
        toks = [r.choice(vocab) for _ in range(r.randrange(40, 90))]
        if r.random() < 0.25:
            at = r.randrange(len(toks))
            toks[at:at] = r.choice(boiler)
        base.append(toks)
    texts = [" ".join(t) for t in base]
    piles_idx = []
    for j, b in enumerate(r.sample(range(CORPUS_BASE_DOCS), 2 * CORPUS_PILES)):
        exact = j < CORPUS_PILES
        pile = [b]
        for _ in range(r.randrange(1, 4) if exact else r.randrange(1, 3)):
            if exact:
                texts.append(texts[b])
            else:
                toks = list(base[b])
                toks[r.randrange(len(toks))] = r.choice(vocab)
                texts.append(" ".join(toks))
            pile.append(len(texts) - 1)
        piles_idx.append(pile)
    ids = list(range(len(texts)))
    r.shuffle(ids)  # doc_id of text i is ids[i]: reps are not always the base
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }).sort_by("doc_id")
    return table, [sorted(ids[i] for i in p) for p in piles_idx]


# ------------------------------------------------------------- analytics --

ANALYTICS_QUERIES = (
    "q_scan_parquet", "q_agg_group", "q_agg_rollup", "q_join_inner",
    "q_join_broadcast", "q_join_bloom", "q_win_rownum", "q_tpch_q3",
    "q_tpch_q5", "q_tpch_q10", "q_tpch_q17", "q_tpch_q18",
)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PWORDS = ("blue", "red", "small", "large", "anvil", "widget", "ring", "bolt")


# the row counts of the sf0.1 test data; lineitem follows from 1-7 lines
# per order (about 600k rows)
CUSTOMERS, ORDERS, PARTS, SUPPLIERS = 15_000, 150_000, 20_000, 1_000


@functools.lru_cache(maxsize=2)
def tpch_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """A TPC-H-shaped database in the layout the query registry reads
    (same column names, types and value domains as the standard test
    data, so every registry filter selects rows), with ``scale`` times
    the sf0.1 row counts."""
    g = np_rng_for(seed, "tpch", scale)
    n_c, n_o, n_p, n_s = (max(25, round(n * scale))
                          for n in (CUSTOMERS, ORDERS, PARTS, SUPPLIERS))
    i32, i64 = pa.int32(), pa.int64()

    def pick(values, n):
        return np.asarray(values)[g.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def names(prefix, n):
        return [f"{prefix}#{k:09d}" for k in range(n)]

    t = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": names("Customer", n_c),
            "c_nationkey": pa.array(g.integers(0, 25, n_c), i32),
            "c_acctbal": money(-999, 9999, n_c),
            "c_mktsegment": pick(_SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": names("Supplier", n_s),
            "s_nationkey": pa.array(g.integers(0, 25, n_s), i32),
            "s_acctbal": money(-999, 9999, n_s),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), i64),
            "p_name": np.char.add(np.char.add(pick(_PWORDS, n_p), " "), pick(_PWORDS, n_p)),
            "p_brand": np.char.add("Brand#", g.integers(1, 26, n_p).astype(str)),
            "p_type": pick(_PTYPES, n_p),
            "p_size": pa.array(g.integers(1, 51, n_p), i32),
            "p_retailprice": 900 + (np.arange(n_p) % 1000) / 10,
        }),
    }
    odate = np.datetime64("1995-01-01", "us") + g.integers(0, 2400, n_o).astype(
        "timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(g.integers(0, n_c, n_o), i64),
        "o_orderstatus": pick(list("FOP"), n_o),
        "o_totalprice": money(1000, 500000, n_o),
        "o_orderdate": odate,
        "o_orderpriority": pick(_PRIORITIES, n_o),
    })
    lines = g.integers(1, 8, n_o)
    n_l = int(lines.sum())
    first = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_o), lines), i64),
        "l_partkey": pa.array(g.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(g.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(np.arange(n_l) - first + 1, i32),
        "l_quantity": g.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_l),
        "l_discount": g.integers(0, 11, n_l) / 100,
        "l_tax": g.integers(0, 9, n_l) / 100,
        "l_returnflag": pick(list("ANR"), n_l),
        "l_linestatus": pick(list("FO"), n_l),
        "l_shipdate": np.repeat(odate, lines)
        + g.integers(1, 122, n_l).astype("timedelta64[D]"),
    })
    return t


CURATION_OP = "curation"


def query_order(seed: int, round_no: int) -> list[str]:
    """The analyst's steps for one round: one curation pass, then every
    query of the mix in an order shuffled by the seed.  The curation
    pass stays first because the queries after it run faster (it warms
    code they share), so its position would make the round's timing
    depend on the seed."""
    order = list(ANALYTICS_QUERIES)
    rng_for(seed, "queries", round_no).shuffle(order)
    return [CURATION_OP] + order
