"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, so the same seed writes byte-identical inputs. The program under
test only ever sees the files written here.

- ``star_tables``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` extension tables, one parquet file per
  table (the layout the query registry reads: ``<dir>/<name>.parquet``).
- ``bronze_lake``: messy Polymarket-shaped bronze markets/events/series
  with duplicate ids, null literals, EU numerics and ghost foreign keys.
  Every embedded event reference names a generated event id (or a ghost
  id on purpose), so the market-event bridge does real work.
- ``change_feed``: change events for the gold ``dim_mercado_gaming``
  (existing keys with new values, a few unseen keys, some events
  re-delivered) as parquet files that arrive one by one.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EMB_DIM = 64
_EPOCH_US = {
    "1995-01-01": 788918400 * 10**6,
    "2001-08-01": 996624000 * 10**6,
    "2024-01-01": 1704067200 * 10**6,
}
_DAY_US = 86400 * 10**6


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return table.num_rows


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def star_tables(out_dir: str, rng: np.random.Generator, sf: float) -> dict[str, int]:
    """Write the star-schema tables at scale factor ``sf``; returns rows per
    table. Sizes follow TPC-H ratios (lineitem ≈ 6 M × sf)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    rows: dict[str, int] = {}
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    rows["region"] = _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        p("region"),
    )
    rows["nation"] = _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        p("nation"),
    )
    rows["customer"] = _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        p("customer"),
    )
    rows["supplier"] = _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        p("supplier"),
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    rows["part"] = _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": names[rng.integers(0, len(names), n_part)],
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        p("part"),
    )
    span_days = (_EPOCH_US["2001-08-01"] - _EPOCH_US["1995-01-01"]) // _DAY_US
    order_days = rng.integers(0, span_days + 1, n_ord)
    rows["orders"] = _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _ts(_EPOCH_US["1995-01-01"] + order_days * _DAY_US),
                "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        p("orders"),
    )
    per_order = rng.integers(0, 9, n_ord)  # 0..8 lines, mean 4
    l_order = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    ship_days = rng.integers(0, span_days + 96, n_li)
    rows["lineitem"] = _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _ts(_EPOCH_US["1995-01-01"] + ship_days * _DAY_US),
            }
        ),
        p("lineitem"),
    )
    rows["events"] = _write(_events_table(rng, n_ev, n_users), p("events"))
    rows["documents"] = _write(_documents_table(rng, n_docs), p("documents"))
    rows["embeddings"] = _write(_embeddings_table(rng, n_emb), p("embeddings"))
    return rows


def _events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` events over the 30 days from 2024-01-01, in time order."""
    ts = _EPOCH_US["2024-01-01"] + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ),
        }
    )


def _documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), rng.integers(10, 101))]
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    # a few verbatim copies for the exact-dedup families
    for i in rng.choice(n, max(n // 600, 2), replace=False):
        texts[int(rng.integers(0, n))] = texts[int(i)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, n)],
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.standard_normal((10, _EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 0.8 * rng.standard_normal((n, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


# --- Polymarket-shaped bronze -------------------------------------------

MARKET_COLS = (
    "id question slug active closed featured volume liquidity lastTradePrice "
    "bestBid bestAsk spread openInterest outcomes outcomePrices events "
    "resolutionSource endDate createdAt updatedAt"
).split()
EVENT_COLS = (
    "id title ticker slug category subcategory active closed featured "
    "resolutionSource tags series seriesId createdAt updatedAt creationDate "
    "startDate endDate"
).split()
SERIES_COLS = "id slug title description updatedAt".split()

_GAMES = [
    ("DOTA", "The International"),
    ("Valorant", "VCT Champions"),
    ("CS:GO", "PGL Major"),
    ("League of Legends", "Worlds 2026"),
    ("Fortnite", "FNCS"),
    ("Overwatch", "OWCS"),
    ("Rocket League", "RLCS"),
    ("StarCraft", "IEM Katowice"),
]
_MARKET_TEMPLATES = [
    "Who will win {game} {tour}?",
    "{game} {tour}: Team {a} by more than 2.5 maps?",
    "{game} total kills over/under {k}.5 in {tour}?",
    "Will Team {a} beat Team {b} at {game} {tour}?",
]
_OTHER_QUESTIONS = [
    "Will it rain in Madrid on day {k}?",
    "NBA finals game {k}: home team wins?",
    "Will {game} or bitcoin moon by day {k}?",
    "Election turnout above {k}%?",
]
_BOOLS = ["true", "True", "1", "yes", "si", "y", "0", "f", "no", "False", None, ""]
_NULLS = [None, "", "None", "null", "N/A", "NA", "NaN"]


def _pick(rng: np.random.Generator, seq):
    return seq[int(rng.integers(0, len(seq)))]


def _num_str(rng: np.random.Generator, x: float) -> str | None:
    """One numeric value in one of the bronze spellings."""
    r = rng.random()
    if r < 0.06:
        return _pick(rng, _NULLS)
    if r < 0.30:
        return f"{x:,.2f}"  # US thousands comma
    if r < 0.45:
        return f"{x:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")  # EU
    return f"{x:.2f}"


def _iso(day: int, hour: int = 0) -> str:
    return (dt.datetime(2026, 1, 1) + dt.timedelta(days=day, hours=hour)).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )


def bronze_lake(
    out_dir: str, rng: np.random.Generator, n_markets: int
) -> dict[str, int]:
    """Write bronze ``markets``/``events``/``series`` parquet tables under
    ``out_dir`` and return rows per table. About one event per 20 markets
    and one series per 8 events."""
    n_events = max(n_markets // 20, 4)
    n_series = max(n_events // 8, 2)
    series_rows = []
    for j in range(n_series):
        series_rows.append(
            (f"s{j}", _pick(rng, [f"series-{j}", None, "None"]), f"Series {j}",
             _pick(rng, [None, f"desc {j}", ""]), _iso(int(rng.integers(0, 30))))
        )
        if rng.random() < 0.1:  # stale duplicate
            series_rows.append((f"s{j}", None, f"old series {j}", None, "2025-12-01T00:00:00"))
    series_rows.append((None, "ghost", "dropped", None, "2026-01-01T00:00:00"))

    event_rows = []
    for k in range(n_events):
        game, tour = _GAMES[k % len(_GAMES)]
        sid = f"s{int(rng.integers(0, n_series))}"
        if rng.random() < 0.5:
            tags = f"[{{'id':'t{k % 7}','label':'Esports','slug':'esports'}},{{'id':'g{k % 8}','label':'{game}'}}]"
        else:
            tags = f"['{game.lower()}', 'Esports']"
        row = (
            f"e{k}", _pick(rng, [f"{tour} {k}", None, "None"]), f"TK{k}", f"event-{k}",
            _pick(rng, ["Esports", None, "NA"]), _pick(rng, [game, None]),
            _pick(rng, _BOOLS), _pick(rng, _BOOLS), _pick(rng, _BOOLS),
            _pick(rng, ["official", None, "null"]), tags,
            f"[{{'id': '{sid}', 'title': 'series'}}]",
            _pick(rng, [None, None, sid, "s404"]),
            _iso(0), _iso(int(rng.integers(1, 30))), _iso(0),
            _iso(int(rng.integers(30, 200))), _iso(int(rng.integers(200, 300))),
        )
        event_rows.append(row)
        if rng.random() < 0.1:  # older duplicate → newest must win
            event_rows.append(row[:14] + ("2025-12-01T00:00:00",) + row[15:])

    market_rows = []
    for i in range(n_markets):
        game, tour = _GAMES[int(rng.integers(0, len(_GAMES)))]
        k = int(rng.integers(1, 100))
        if rng.random() < 0.7:
            tmpl = _pick(rng, _MARKET_TEMPLATES)
        else:
            tmpl = _pick(rng, _OTHER_QUESTIONS)
        question = tmpl.format(game=game, tour=tour, a=k % 9, b=(k + 3) % 9, k=k)
        refs = [f"e{int(e)}" for e in rng.integers(0, n_events, int(rng.integers(0, 3)))]
        if rng.random() < 0.05:
            refs.append(f"e_ghost{i}")
        events_json = "[" + ", ".join(
            f"{{'id': '{r}', 'title': 'ev', 'series': [{{'id': 's0'}}]}}" for r in refs
        ) + "]"
        n_out = int(rng.integers(2, 5))
        outcomes = "[" + ", ".join(f"'O{o}'" for o in range(n_out)) + "]"
        prices = "[" + ",".join(f"'{1 / n_out:.2f}'" for _ in range(n_out)) + "]"
        price = float(rng.uniform(0.05, 0.95))
        upd = int(rng.integers(0, 30))
        row = [
            f"m{i}", question, _pick(rng, [f"m{i}-slug", None, "None"]),
            _pick(rng, _BOOLS), _pick(rng, _BOOLS), _pick(rng, _BOOLS),
            _num_str(rng, float(rng.uniform(0, 2e6))), _num_str(rng, float(rng.uniform(0, 5e4))),
            f"{price:.3f}", f"{price - 0.01:.3f}", _pick(rng, [f"{price + 0.01:.3f}", "", None]),
            "0.02", _pick(rng, [str(k), None]), outcomes, prices, events_json,
            _pick(rng, ["official", "", "null", None]), _pick(rng, [_iso(200), "bad-date", None]),
            _iso(0), _iso(upd, int(rng.integers(0, 24))),
        ]
        r = rng.random()
        if r < 0.01:
            row[0] = None  # null id → dropped
        elif r < 0.02:
            row[1] = "   "  # blank question → dropped
        market_rows.append(tuple(row))
        if rng.random() < 0.1:  # newer duplicate with different numerics
            dup = list(row)
            dup[6] = _num_str(rng, float(rng.uniform(0, 2e6)))
            dup[19] = _iso(upd + 1)
            market_rows.append(tuple(dup))
    order = rng.permutation(len(market_rows))
    market_rows = [market_rows[i] for i in order]

    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, cols, data in (
        ("markets", MARKET_COLS, market_rows),
        ("events", EVENT_COLS, event_rows),
        ("series", SERIES_COLS, series_rows),
    ):
        table = pa.table({c: pa.array([r[i] for r in data], pa.string()) for i, c in enumerate(cols)})
        out[name] = _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out


MARKET_DIM_COLS = (
    "mercado_id pregunta tipo_apuesta videojuego_id slug esta_activo esta_cerrado "
    "fecha_fin outcomes fuente_resolucion creado_en actualizado_en"
).split()


#: share of a file's change events delivered twice in that file
REDELIVER_SHARE = 0.05
#: share of a file's change events that revise a key of the file before
REVISE_SHARE = 0.05


def change_feed(
    out_dir: str,
    rng: np.random.Generator,
    market_ids: list[str],
    n_files: int,
    per_file: int,
) -> dict[str, tuple]:
    """Write a change feed for the gold market dimension as ``n_files``
    parquet files, in arrival order (increasing modification times).

    Each change event carries ``event_id`` and ``ts`` plus one full
    dimension row. Keys are mostly existing market ids, about 1 % unseen
    ones. ``REDELIVER_SHARE`` of each file's events are delivered twice,
    verbatim, in the same file. ``REVISE_SHARE`` of each file's events
    revise a key changed in the file before; the superseded event is then
    re-delivered, verbatim, one file after its revision, where only a
    working event-id dedup keeps it from overwriting the revision. All
    event times lie within a few minutes, inside any watermark. Returns
    the latest change row per key (``MARKET_DIM_COLS`` order)."""
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * per_file
    n_new = max(n // 100, 1)
    picks = rng.choice(len(market_ids), n - n_new, replace=False)
    keys = [market_ids[int(i)] for i in picks] + [f"mnew{j}" for j in range(n_new)]
    keys = [keys[int(i)] for i in rng.permutation(n)]
    n_rev = max(int(per_file * REVISE_SHARE), 1)
    stale: dict[int, list[int]] = {}  # file → superseded events re-delivered there
    for k in range(1, n_files):
        revised = rng.choice(range((k - 1) * per_file, k * per_file), n_rev, replace=False)
        for slot, i in zip(range(k * per_file, k * per_file + n_rev), revised):
            keys[slot] = keys[int(i)]
        stale[k + 1] = [int(i) for i in revised]
    base = dt.datetime(2026, 3, 1)
    events, rows = [], {}
    for j, key in enumerate(keys):  # a later event for a key supersedes it
        events.append((
            key, f"Updated question {j} for {key}?", _pick(rng, ["Match Winner", "Spread"]),
            int(rng.integers(1, 14)), f"{key}-v2", bool(rng.integers(0, 2)), False,
            base + dt.timedelta(days=int(rng.integers(1, 90))), '["Yes","No"]', "official",
            base, base + dt.timedelta(minutes=j),
        ))
        rows[key] = events[j]
    ts_type = pa.timestamp("us", tz="UTC")
    types = {
        "videojuego_id": pa.int32(), "esta_activo": pa.bool_(), "esta_cerrado": pa.bool_(),
        "fecha_fin": ts_type, "creado_en": ts_type, "actualizado_en": ts_type,
    }
    base_mtime = 1_700_000_000
    for k in range(n_files):
        idx = list(range(k * per_file, (k + 1) * per_file))
        again = rng.choice(idx, max(int(per_file * REDELIVER_SHARE), 1), replace=False)
        idx = sorted(idx + [int(i) for i in again]) + stale.get(k, [])
        cols = {
            "event_id": pa.array(idx, pa.int64()),
            "ts": pa.array([base + dt.timedelta(seconds=i) for i in idx], ts_type),
        }
        for c_i, c in enumerate(MARKET_DIM_COLS):
            cols[c] = pa.array([events[i][c_i] for i in idx], types.get(c, pa.string()))
        path = os.path.join(out_dir, f"changes-{k:03d}.parquet")
        _write(pa.table(cols), path)
        os.utime(path, (base_mtime + k, base_mtime + k))
    return rows
