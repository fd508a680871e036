"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed yields the
same rows, and :func:`digest` of those rows is the input fingerprint a
result records. Nothing here touches Spark; tables are written with
pyarrow so the inputs exist before the engine starts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Word list of the synthetic document corpus (the shape of the reference
# fixture's documents table: short bags of engine vocabulary).
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window sort line order query big small column data join filter "
    "stream group customer vector max min sum count"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "lamp", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
EMB_DIM = 64


def digest(obj) -> str:
    """sha256 of a JSON rendering of ``obj`` (datetimes as ISO strings)."""
    blob = json.dumps(obj, sort_keys=True, default=str, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _unit(rng: random.Random, center: list[float], noise: float) -> list[float]:
    v = [c + rng.gauss(0.0, noise) for c in center]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


# --- catalog tables ---------------------------------------------------------

CATALOG_SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem_per_order": 4,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The TPC-H-ish star schema plus ``events``, ``documents`` and
    ``embeddings``, with the column names, types and value domains of the
    catalog's fixture tables."""
    rng = random.Random(seed)
    s = CATALOG_SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(nc)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(nc)],
    })
    ns = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(ns)],
    })
    np_ = s["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(np_)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(np_)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(np_)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(np_)], pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(np_)],
    })
    no = s["orders"]
    day0 = dt.datetime(1995, 1, 1)
    odates = [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(no)]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(no)],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(no)],
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(no)],
    })
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for ok in range(no):
        for ln in range(1, rng.randint(1, 2 * s["lineitem_per_order"] - 1) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(np_))
            li["l_suppkey"].append(rng.randrange(ns))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900.0, 2100.0), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[ok] + dt.timedelta(days=rng.randint(1, 121)))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": li["l_quantity"],
        "l_extendedprice": li["l_extendedprice"],
        "l_discount": li["l_discount"],
        "l_tax": li["l_tax"],
        "l_returnflag": li["l_returnflag"],
        "l_linestatus": li["l_linestatus"],
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
    })
    ne = s["events"]
    ev0 = dt.datetime(2024, 1, 1)
    ts = sorted(ev0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(s["users"]) for _ in range(ne)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(ne)],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(ne)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(ne)],
    })
    nd = s["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i and r < 0.1:  # exact re-post
            texts.append(texts[rng.randrange(i)])
        elif i and r < 0.2:  # one-word edit of an earlier doc
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, 8, 80))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(nd)],
        "source": [f"src{rng.randrange(20)}" for _ in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = s["embeddings"]
    centers = [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(5)]
    labels = [rng.randrange(5) for _ in range(nv)]
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([_unit(rng, centers[lb], 0.6) for lb in labels],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total


def tables_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC stream of each table, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


# --- pipeline daily ---------------------------------------------------------

# Pools the scrapes draw from, so entity resolution merges repeat mentions.
GENRES = ["Jazz", "Blues", "Funk", "Brass", "Soul", "Zydeco", "Rock", "Gospel"]
N_ARTISTS = 30
N_VENUES = 10
EVENTS_PER_DATE = 12
NEW_PER_DATE = 2  # listings in today's scrape that yesterday's lacked
CANCELLED_PER_DATE = 2  # listings in yesterday's scrape that today's lacks
INVALID_PER_RUN = 3  # planted rows the validity filter must quarantine

_TS_UTC = pa.timestamp("us", tz="UTC")
EVENT_DTO_ARROW = pa.schema([
    ("artist_data", pa.struct([
        ("name", pa.string()), ("description", pa.string()),
        ("genres", pa.list_(pa.string())), ("related_artists", pa.list_(pa.string())),
        ("wwoz_artist_href", pa.string()), ("website", pa.string())])),
    ("venue_data", pa.struct([
        ("name", pa.string()), ("thoroughfare", pa.string()),
        ("phone_number", pa.string()), ("locality", pa.string()),
        ("state", pa.string()), ("postal_code", pa.string()),
        ("full_address", pa.string()), ("is_active", pa.bool_()),
        ("website", pa.string()), ("wwoz_venue_href", pa.string()),
        ("event_artist", pa.string())])),
    ("event_data", pa.struct([
        ("event_date", pa.string()), ("wwoz_event_href", pa.string()),
        ("event_artist", pa.string()), ("wwoz_artist_href", pa.string()),
        ("description", pa.string()),
        ("related_artists", pa.list_(pa.struct([
            ("name", pa.string()), ("wwoz_artist_href", pa.string())]))),
        ("genres", pa.list_(pa.string()))])),
    ("performance_time", _TS_UTC),
    ("scrape_time", _TS_UTC),
])


def _pools(seed: int) -> tuple[list[dict], list[dict]]:
    rng = random.Random(seed * 31 + 7)
    artists = [{"name": f"{rng.choice(COLORS).title()} {NOUNS[i % len(NOUNS)].title()} "
                        f"Band {i}",
                "genres": sorted(rng.sample(GENRES, rng.randint(1, 2))),
                "href": f"/artists/{i}"} for i in range(N_ARTISTS)]
    venues = [{"name": f"Venue {i} Hall", "street": f"{100 + 7 * i} Frenchmen St",
               "zip": f"701{10 + i % 20}", "href": f"/venues/{i}"}
              for i in range(N_VENUES)]
    return artists, venues


def _listing(seed: int, date: dt.date, j: int, artists, venues) -> dict:
    """Event ``j`` on ``date``: the same performer, venue and time in every
    scrape, so consecutive runs re-scrape the same events."""
    rng = random.Random(f"{seed}:{date.isoformat()}:{j}")
    a = artists[rng.randrange(len(artists))]
    related = [r for r in rng.sample(artists, rng.randint(0, 2)) if r is not a]
    return {
        "href": f"/events/{date.isoformat()}/{j}",
        "artist": a, "venue": venues[rng.randrange(len(venues))],
        "related": related,
        "genres": [rng.choice(GENRES)] if rng.random() < 0.6 else [],
        "perf": dt.datetime(date.year, date.month, date.day, 18,
                            tzinfo=dt.timezone.utc) + dt.timedelta(minutes=15 * j),
        "desc": _text(rng, 4, 10),
    }


def _dto(ev: dict, scrape: dt.datetime, desc: str, date: str | None,
         artist_name: str | None = None, venue_name: str | None = None) -> dict:
    a, v = ev["artist"], ev["venue"]
    name = a["name"] if artist_name is None else artist_name
    return {
        "artist_data": {"name": name, "description": f"{name} live",
                        "genres": a["genres"], "related_artists": [],
                        "wwoz_artist_href": a["href"], "website": None},
        "venue_data": {"name": v["name"] if venue_name is None else venue_name,
                       "thoroughfare": v["street"], "phone_number": "504-555-0100",
                       "locality": "New Orleans", "state": "LA",
                       "postal_code": v["zip"],
                       "full_address": f"{v['street']}, New Orleans, LA {v['zip']}",
                       "is_active": True, "website": None,
                       "wwoz_venue_href": v["href"], "event_artist": None},
        "event_data": {"event_date": date, "wwoz_event_href": ev["href"],
                       "event_artist": name, "wwoz_artist_href": a["href"],
                       "description": desc,
                       "related_artists": [{"name": r["name"],
                                            "wwoz_artist_href": r["href"]}
                                           for r in ev["related"]],
                       "genres": ev["genres"]},
        "performance_time": ev["perf"],
        "scrape_time": scrape,
    }


def pipeline_day(seed: int, day: int, window: int) -> dict:
    """Bronze ``EventDTO`` rows of daily run ``day``, its change log and
    the truth they plant. The run covers ``window`` consecutive dates. Its
    bronze holds yesterday's and today's scrapes of every date: most
    events appear in both (today's copy carries an updated description for
    some, and must win), ``NEW_PER_DATE`` per date only today and
    ``CANCELLED_PER_DATE`` only yesterday. ``INVALID_PER_RUN`` rows miss
    an artist name, a venue name or the event date. The change log has an
    upsert per scraped event, versioned by scrape, and a delete per
    cancelled one."""
    artists, venues = _pools(seed)
    rng = random.Random(seed * 104_729 + day)
    start = dt.date(2025, 1, 1) + dt.timedelta(days=seed % 60 + day)
    dates = [start + dt.timedelta(days=i) for i in range(window)]
    today = dt.datetime(start.year, start.month, start.day, 6,
                        tzinfo=dt.timezone.utc) - dt.timedelta(days=1)
    scrapes = {2 * day: today - dt.timedelta(days=1), 2 * day + 1: today}
    rows, changes, events, mentions = [], [], {}, 0
    artist_names, venue_keys, genres = set(), set(), set()
    for d in dates:
        for j in range(EVENTS_PER_DATE + CANCELLED_PER_DATE):
            ev = _listing(seed, d, j, artists, venues)
            if j < EVENTS_PER_DATE - NEW_PER_DATE:
                versions = [2 * day, 2 * day + 1]
            elif j < EVENTS_PER_DATE:
                versions = [2 * day + 1]
            else:
                versions = [2 * day]
            desc = ev["desc"]
            for v in versions:
                if v == 2 * day + 1 and len(versions) == 2 and rng.random() < 0.3:
                    desc = f"{desc} (updated day {day})"
                rows.append(_dto(ev, scrapes[v], desc, d.isoformat()))
                changes.append({"k": ev["href"], "val": desc, "op": "u",
                                "version": v, "p": d.isoformat()})
            if j >= EVENTS_PER_DATE:
                changes.append({"k": ev["href"], "val": desc, "op": "d",
                                "version": 2 * day + 1, "p": d.isoformat()})
            mentions += len(versions) * (2 + len(ev["related"]))
            events[ev["href"]] = (d.isoformat(), desc)
            artist_names.add(ev["artist"]["name"])
            artist_names.update(r["name"] for r in ev["related"])
            v = ev["venue"]
            venue_keys.add((v["name"], f"{v['street']}, New Orleans, LA {v['zip']}"))
            genres.update(ev["genres"])
            genres.update(ev["artist"]["genres"])
    # each planted invalid row is distinct (quarantine is a set difference)
    for i, (an, vn, date) in enumerate([("", None, dates[0].isoformat()),
                                        (None, "  ", dates[0].isoformat()),
                                        (None, None, None)][:INVALID_PER_RUN]):
        ev = dict(_listing(seed, dates[0], 1000 + i, artists, venues),
                  href=f"/events/invalid/{day}/{i}")
        rows.append(_dto(ev, today, "invalid", date, artist_name=an, venue_name=vn))
    return {
        "rows": rows,
        "changes": changes,
        "dates": [d.isoformat() for d in dates],
        "events": events,
        "artists": artist_names,
        "venues": venue_keys,
        "genres": genres,
        "invalid": INVALID_PER_RUN,
        "mentions": mentions,
    }


def changes_table(changes: list[dict]) -> pa.Table:
    return pa.table({
        "k": [c["k"] for c in changes],
        "val": [c["val"] for c in changes],
        "op": [c["op"] for c in changes],
        "version": pa.array([c["version"] for c in changes], pa.int64()),
        "p": [c["p"] for c in changes],
    })


def replay_cdc(changes: list[dict]) -> dict:
    """Last-writer-wins replay of a change log: key -> live value."""
    best: dict = {}
    for c in changes:
        cur = best.get(c["k"])
        if cur is None or c["version"] > cur[0]:
            best[c["k"]] = (c["version"], c["op"], c["val"])
    return {k: v for k, (_, op, v) in best.items() if op == "u"}


def bronze_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=EVENT_DTO_ARROW)
