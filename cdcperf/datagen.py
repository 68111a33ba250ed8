"""Seeded inputs the engine never generates itself.

* ``zipf_log`` -- the backfill's change log, the distribution of the
  engine's ``generate_change_events`` (Zipf conversations, duplicates,
  out-of-order delivery) without a Spark job;
* ``recent_key_log`` -- the streaming workload's change log: conversations
  open in LSN order, most events land in a window just behind the frontier
  and the rest on a Zipf-hot head of old conversations;
* ``star_tables`` -- the analytics workload's tables: the star schema,
  events, documents and embeddings, under the file names of the
  repository's test tables (``lineitem.parquet``, ...; see TESTDATA.md).

All are pure functions of the seed (numpy ``default_rng`` plus pyarrow
compute), written with pyarrow, so staging needs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = 1_700_000_000

#: arrow schema of one change event, matching ``change_event_schema()``
EVENT_ARROW = pa.schema(
    [
        ("op", pa.string()),
        ("lsn", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)


def _events(rng, lsn: np.ndarray, conv: np.ndarray, max_turns: int, delete_frac: float) -> pa.Table:
    """Events with the given LSNs and conversations, in the shape of
    ``generate_change_events``: I/U/D ops, four roles, 2% empty and 2%
    padded texts (normalize work), 30% tool values."""
    n = len(lsn)
    turn = rng.integers(0, max_turns, n).astype(np.int32)
    u_op = rng.random(n)
    op = np.where(u_op < delete_frac, "D", np.where(u_op < delete_frac + 0.5, "U", "I"))
    role = ROLES[rng.integers(0, 4, n)]
    u_txt = rng.random(n)
    tool_k = rng.integers(0, 5, n)
    has_tool = rng.random(n) < 0.3
    live = op != "D"
    conv_id = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(pc.cast(pa.array(conv), pa.string()), 8, "0"), ""
    )
    body = pc.binary_join_element_wise(
        "turn ", pc.cast(pa.array(turn), pa.string()), " of ", conv_id,
        " rev ", pc.cast(pa.array(lsn), pa.string()), "",
    )
    padded = pc.binary_join_element_wise("  ", body, "   ", "")
    text = pc.if_else(pa.array(u_txt < 0.02), "", pc.if_else(pa.array(u_txt < 0.04), padded, body))
    tool = pc.binary_join_element_wise("tool_", pc.cast(pa.array(tool_k), pa.string()), "")
    null = pa.nulls(n, pa.string())
    cols = {
        "op": pa.array(op),
        "lsn": pa.array(lsn),
        "conv_id": conv_id,
        "turn_idx": pa.array(turn),
        "role": pc.if_else(pa.array(live), pa.array(role.astype(str)), null),
        "text": pc.if_else(pa.array(live), text, null),
        "tool": pc.if_else(pa.array(live & has_tool), tool, null),
        "ts": pa.array((EPOCH + lsn) * 1_000_000, pa.timestamp("us", tz="UTC")),
    }
    return pa.table(cols, schema=EVENT_ARROW)


def _redeliver(rng, tbl: pa.Table, dup_frac: float) -> pa.Table:
    """Deliver ``dup_frac`` of the events twice in a row (same LSN and
    payload)."""
    n = tbl.num_rows
    dups = np.flatnonzero(rng.random(n) < dup_frac)
    return tbl.take(np.sort(np.concatenate([np.arange(n), dups]), kind="stable"))


def zipf_log(
    seed: int,
    n_events: int,
    *,
    n_convs: int,
    max_turns: int,
    skew: float,
    delete_frac: float,
    dup_frac: float,
    ooo_frac: float,
) -> pa.Table:
    """The backfill log: conversation ``floor(n_convs * u ** skew)`` per
    event; ``ooo_frac`` of events are delivered up to 1000 positions away
    from LSN order. Carries the delivery position ``pos`` that batches are
    cut on, and is sorted by it."""
    rng = np.random.default_rng(seed)
    lsn = np.arange(n_events, dtype=np.int64)
    conv = np.floor(n_convs * rng.random(n_events) ** skew).astype(np.int64)
    tbl = _events(rng, lsn, conv, max_turns, delete_frac)
    pos = lsn.astype(np.float64)
    moved = rng.random(n_events) < ooo_frac
    pos[moved] += rng.integers(-1000, 1000, int(moved.sum()))
    tbl = _redeliver(rng, tbl.add_column(0, "pos", pa.array(pos)), dup_frac)
    return tbl.take(pc.sort_indices(tbl["pos"]))


def recent_key_log(
    seed: int,
    n_events: int,
    *,
    open_every: int,
    window: int,
    recent_frac: float,
    hot_convs: int,
    skew: float,
    max_turns: int,
    delete_frac: float,
    dup_frac: float,
) -> pa.Table:
    """Change events in delivery order, one row per event.

    Event ``i`` (lsn ``i + 1``) sees conversation ``i // open_every`` as the
    frontier. With probability ``recent_frac`` it touches a conversation up
    to ``window`` behind the frontier; otherwise a head conversation drawn
    as ``floor(hot_convs * u ** skew)``. ``dup_frac`` of events are
    delivered twice in a row (same LSN, same payload).
    """
    rng = np.random.default_rng(seed)
    lsn = np.arange(1, n_events + 1, dtype=np.int64)
    frontier = (lsn - 1) // open_every
    recent = np.maximum(frontier - rng.integers(0, window, n_events), 0)
    hot = np.floor(hot_convs * rng.random(n_events) ** skew).astype(np.int64)
    conv = np.where(rng.random(n_events) < recent_frac, recent, hot)
    return _redeliver(rng, _events(rng, lsn, conv, max_turns, delete_frac), dup_frac)


def write_event_files(tbl: pa.Table, out_dir: str, rows_per_file: int, prefix: str) -> list[str]:
    """Split ``tbl`` (delivery order) into parquet files of ``rows_per_file``
    rows; returns the file paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, lo in enumerate(range(0, tbl.num_rows, rows_per_file)):
        p = os.path.join(out_dir, f"{prefix}-{k:05d}.parquet")
        pq.write_table(tbl.slice(lo, rows_per_file), p)
        paths.append(p)
    return paths


# ------------------------------------------------------------ star schema
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (
    ["red", "blue", "green", "small", "large", "steel", "brass", "polished"],
    ["widget", "bolt", "ring", "gear", "valve", "spring", "bracket", "panel"],
)
EVENT_TYPES = ["click", "error", "purchase", "scroll", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = np.array(
    "a the row table key value part hash merge batch spark window sort scan "
    "query line customer order join filter group agg column data stream "
    "vector fast slow big small".split(),
    dtype=object,
)
DAY_US = 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int, decimals: int = 2) -> np.ndarray:
    """Money-like doubles with ``decimals`` places (exact as decimals)."""
    return np.round(rng.uniform(lo, hi, n), decimals)


def _day_ts(days: np.ndarray, first: str) -> pa.Array:
    base = np.datetime64(first, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        prefix, pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), 9, "0"), ""
    )


def star_tables(seed: int, out_dir: str, *, scale: float) -> dict[str, str]:
    """The ten tables the headline analytics and datapipe queries read, in
    the shape of the repository's test tables at scale factor ``scale``
    (lineitem about ``6_000_000 * scale`` rows): money with two decimals, dates at
    midnight, 64-dimensional float embeddings. Returns name -> path."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_ev, n_doc = int(1_500_000 * scale), int(1_000_000 * scale), int(50_000 * scale)
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(i32)),
    })
    ck = np.arange(n_cust, dtype=i64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]),
    })
    sk = np.arange(n_supp, dtype=i64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=i64)
    words = [np.array(w, dtype=object) for w in PART_WORDS]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(words[0][rng.integers(0, 8, n_part)] + " " + words[1][rng.integers(0, 8, n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{k}" for k in range(1, 26)], dtype=object)[rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": _money(rng, 900.0, 999.9, n_part, 1),
    })
    ok = np.arange(n_ord, dtype=i64)
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(order_day, "1995-01-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)  # 1-7 lines per order, about 4
    lo = np.repeat(ok, lines)
    n_li = len(lo)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lo, "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(i32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)]),
        "l_shipdate": _day_ts(np.repeat(order_day, lines) + rng.integers(1, 122, n_li), "1995-01-01"),
    })
    month_us = 30 * DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype(i64) + rng.integers(0, month_us, n_ev),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(n_ev // 66, 1), n_ev).astype(i64),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)]),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(8, 100, n_doc)
    flat = VOCAB[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    texts = [" ".join(ws) for ws in np.split(flat, np.cumsum(n_words)[:-1])]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=i64), "text": texts,
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, 5, n_doc)]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=i64),
    })
    emb = rng.normal(0.0, 0.125, (n_doc, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_doc).astype(i32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, tbl in t.items():
        out[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, out[name])
    return out
