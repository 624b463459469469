"""Seeded inputs for the benchmark.

Everything the program under test sees is made here from the seed:
the ten parquet tables the registered queries read, the HTML pages the
daily ingest parses, the HTTP request schedule and the query order.
The same seed gives byte-identical inputs; the program never sees the
seed itself.

The tables follow the value domains of the repository's synthetic
star schema (uniform keys, TPC-H-like enumerations, a 30-day events
stream, a 31-word document vocabulary, unit-norm embeddings), so the
registered queries see the value domains and key relationships they
were written against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(out_dir: str, seed: int, sf: float, tables=ALL_TABLES) -> dict[str, int]:
    """Write the requested tables as single parquet files under
    ``out_dir``; returns their row counts. Each table draws from its
    own seeded stream, so a subset is identical to the same tables of
    a full set."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    def rng(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, ALL_TABLES.index(name)])

    for t in tables:
        r = rng(t)
        if t == "region":
            cols = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        elif t == "nation":
            cols = {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        elif t == "customer":
            cols = {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
            }
        elif t == "supplier":
            cols = {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
            }
        elif t == "part":
            keys = np.arange(n_part, dtype=np.int64)
            cols = {
                "p_partkey": keys,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
                "p_size": r.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
            }
        elif t == "orders":
            cols = {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(r, "1995-01-01", 2405, n_ord),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
            }
        elif t == "lineitem":
            flags = r.integers(0, 6, n_li)
            cols = {
                "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
                "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
                "l_linestatus": np.array(["F", "O"])[flags // 3],
                "l_shipdate": _days(r, "1995-01-02", 2499, n_li),
            }
        elif t == "events":
            start = np.datetime64("2024-01-01T00:00:00", "us")
            offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, n_ev))
            cols = {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": start + offs.astype("timedelta64[us]"),
                "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
                "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
                "value": np.round(r.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
            }
        elif t == "documents":
            words = np.array(VOCAB)
            texts = [
                " ".join(words[r.integers(0, len(VOCAB), int(k))])
                for k in r.integers(10, 101, n_doc)
            ]
            for i in r.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
                texts[i] = texts[int(r.integers(0, i))]  # a few exact duplicates
            cols = {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
            }
        elif t == "embeddings":
            v = r.standard_normal((n_emb, 64)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            cols = {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": r.integers(0, 10, n_emb).astype(np.int32),
            }
        else:
            raise KeyError(t)
        _write(out_dir, t, cols)
        rows[t] = len(next(iter(cols.values())))
    return rows


# ---------------------------------------------------------------- pages
# A logical date's scrape is a handful of HTML pages, each a table of
# (price, station, city, "time user") rows in the reference's
# class-keyed <td> layout. Station keys repeat across the pages of one
# date (never within a page, so last-write-wins by page id is total).
# A fixed share of rows at the tail of each page lacks its user cell;
# the extractor's positional zip truncates exactly those rows.

MISSING_SHARE = 0.05
PRICE_CLASS = ("greencell", "redcell", "pricecell")


def page_html(rows: list[tuple], n_missing: int) -> str:
    cells = []
    for i, (price, station, city, time_, user) in enumerate(rows):
        cls = PRICE_CLASS[i % 3]
        cells.append(
            f'<tr><td class="{cls}">{price:.2f}</td>'
            f'<td class="stationcell"><a href="/s">{station}</a></td>'
            f'<td class="citycell">{city}</td>'
        )
        if i < len(rows) - n_missing:
            cells.append(f'<td class="usercell">{time_}  <b>{user}</b></td>')
        cells.append("</tr>\n")
    return "<html><body><table>\n" + "".join(cells) + "</table></body></html>\n"


def make_day(seed: int, day_index: int, n_pages: int, rows_per_page: int, n_stations: int):
    """One logical date: ``(pages, expected)``. ``pages`` is a list of
    (page_id, html); ``expected`` maps each kept row in page order to
    its (page_id, price, station, city, time, user)."""
    r = np.random.default_rng([seed, 1000 + day_index])
    n_missing = int(round(rows_per_page * MISSING_SHARE))
    pages, expected = [], []
    for p in range(n_pages):
        page_id = day_index * 1000 + p
        stations = r.choice(n_stations, rows_per_page, replace=False)
        prices = np.round(r.uniform(2.5, 4.5, rows_per_page), 2)
        hours = r.integers(0, 24, rows_per_page)
        users = r.integers(0, 5000, rows_per_page)
        rows = [
            (
                float(prices[i]),
                f"Station {int(stations[i])}",
                f"City {int(stations[i]) % 97}",
                f"{int(hours[i])}:00",
                f"user{int(users[i])} via app",
            )
            for i in range(rows_per_page)
        ]
        pages.append((page_id, page_html(rows, n_missing)))
        expected.extend((page_id, *row) for row in rows[: rows_per_page - n_missing])
    return pages, expected


def write_pages(path: str, pages: list[tuple]) -> None:
    pq.write_table(
        pa.table({
            "page_id": pa.array([p[0] for p in pages], pa.int64()),
            "html": [p[1] for p in pages],
        }),
        path,
    )


def last_write_wins(expected_by_date: dict[str, list[tuple]]) -> dict[tuple, tuple]:
    """(date, station) -> (price, page_id) of the row the keyed upsert
    must keep: the highest page id of its date."""
    out: dict[tuple, tuple] = {}
    for date, rows in expected_by_date.items():
        for page_id, price, station, *_ in rows:
            cur = out.get((date, station))
            if cur is None or page_id > cur[1]:
                out[(date, station)] = (price, page_id)
    return out


def dates(start: str, n: int) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]


# ------------------------------------------------------ schedule / order

SERVE_PATHS = ("/prices/today", "/prices/alltime")


def request_schedule(seed: int, rate: float, seconds: float) -> list[tuple[float, str]]:
    """Open-loop schedule: (due offset in seconds, path). Due times are
    evenly spaced at ``rate``; 75% of the requests (rounded) ask for
    today's prices, the rest all-time, in a seeded order. The two
    differ in cost, so the share is fixed and only the order varies;
    at 75% the median and p75 both fall among today's requests."""
    r = np.random.default_rng([seed, 2000])
    n = max(1, int(rate * seconds))
    today = r.permutation(n) < round(0.75 * n)
    return [(i / rate, SERVE_PATHS[0] if t else SERVE_PATHS[1]) for i, t in enumerate(today)]


def query_order(seed: int, names: list[str], pass_index: int) -> list[str]:
    r = np.random.default_rng([seed, 3000 + pass_index])
    return [names[i] for i in r.permutation(len(names))]


def digest(*parts) -> str:
    """Stable content hash used by the self-test."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()
