"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files, another seed writes different ones. The
engine only ever sees the files; the generators also return the ground truth
the output checks compare against (planted corrupt rows, planted duplicate
clusters, the SQL twin of every dashboard filter).
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
from dataclasses import dataclass

import numpy as np

# Reference row counts and corrupt-geolocation drop counts (BASELINE.md).
REF_ROWS = {"baltimore": 247_531, "detroit": 96_812, "losangeles": 172_860}
REF_DROPS = {"baltimore": 2_902, "detroit": 48_406, "losangeles": 0}
CITIES = ("baltimore", "detroit", "losangeles")

CENTRES = {
    "baltimore": (39.29, -76.61),
    "detroit": (42.35, -83.05),
    "losangeles": (34.05, -118.25),
}

BALTIMORE_DESCR = [
    "LARCENY", "COMMON ASSAULT", "BURGLARY", "LARCENY FROM AUTO",
    "AGG. ASSAULT", "AUTO THEFT", "ROBBERY - STREET", "ROBBERY - COMMERCIAL",
    "SHOOTING", "ROBBERY - RESIDENCE", "HOMICIDE", "ARSON",
]
BALTIMORE_MAP = {
    "LARCENY": "Theft", "LARCENY FROM AUTO": "Theft",
    "COMMON ASSAULT": "Assault", "AGG. ASSAULT": "Assault",
    "AUTO THEFT": "Vehicle Theft", "BURGLARY": "Burglary",
    "ROBBERY - STREET": "Robbery", "ROBBERY - COMMERCIAL": "Robbery",
    "ROBBERY - RESIDENCE": "Robbery", "HOMICIDE": "Homicide",
}
DETROIT_DESCR = [
    "ASSAULT", "LARCENY", "BURGLARY", "STOLEN VEHICLE", "AGGRAVATED ASSAULT",
    "DAMAGE TO PROPERTY", "FRAUD", "ROBBERY", "WEAPONS OFFENSES", "HOMICIDE",
]
DETROIT_MAP = {
    "ASSAULT": "Assault", "AGGRAVATED ASSAULT": "Assault",
    "LARCENY": "Theft", "BURGLARY": "Burglary",
    "STOLEN VEHICLE": "Vehicle Theft", "ROBBERY": "Robbery",
    "HOMICIDE": "Homicide",
}
LA_DESCR = [
    "THEFT", "BATTERY", "BURGLARY FROM VEHICLE", "VEHICLE - STOLEN",
    "VANDALISM", "ASSAULT WITH DEADLY WEAPON", "ROBBERY", "BURGLARY",
    "IDENTITY THEFT", "CRIMINAL HOMICIDE",
]
LA_MAP = {
    "THEFT": "Theft", "BATTERY": "Assault",
    "ASSAULT WITH DEADLY WEAPON": "Assault",
    "BURGLARY FROM VEHICLE": "Theft", "VEHICLE - STOLEN": "Vehicle Theft",
    "ROBBERY": "Robbery", "BURGLARY": "Burglary",
    "CRIMINAL HOMICIDE": "Homicide",
}
WEAPONS = ["FIREARM", "HANDS", "KNIFE", "OTHER"]
NEIGHBORHOODS = [
    "Downtown", "Fells Point", "Canton", "Hampden", "Mount Vernon",
    "Federal Hill", "Roland Park", "Charles Village", "Highlandtown",
    "Remington", "Waverly", "Belair-Edison", "Sandtown", "Pigtown",
]
LA_AREAS = [
    "77th Street", "Southwest", "N Hollywood", "Pacific", "Southeast",
    "Mission", "Northeast", "Van Nuys", "Hollywood", "Newton", "Central",
    "Rampart", "Olympic", "Wilshire", "Topanga", "West LA", "Harbor",
]
STREETS = ["MAIN ST", "OAK AVE", "ELM ST", "CHARLES ST", "PARK AVE",
           "LAKE DR", "HILL RD", "MARKET ST"]


def _zipf_choice(rng: np.random.Generator, items: list, n: int, a: float = 1.1):
    w = 1.0 / np.arange(1, len(items) + 1) ** a
    idx = rng.choice(len(items), size=n, p=w / w.sum())
    return [items[i] for i in idx]


def city_counts(scale: float) -> dict[str, tuple[int, int]]:
    """(rows, planted corrupt rows) per city at ``scale`` x reference."""
    return {
        c: (max(1, round(REF_ROWS[c] * scale)), round(REF_DROPS[c] * scale))
        for c in CITIES
    }


def _timestamps(rng: np.random.Generator, n: int) -> list[dt.datetime]:
    lo = dt.datetime(2010, 1, 1)
    minutes = (dt.datetime(2017, 12, 31, 23, 59) - lo) // dt.timedelta(minutes=1)
    offs = rng.integers(0, minutes, size=n)
    return [lo + dt.timedelta(minutes=int(m)) for m in offs]


def _ampm(ts: dt.datetime) -> str:
    h12 = ts.hour % 12 or 12
    return (f"{ts.month}/{ts.day}/{ts.year} {h12:02d}:{ts.minute:02d}:00 "
            f"{'AM' if ts.hour < 12 else 'PM'}")


def _coords(rng, city: str, n: int):
    lat0, lon0 = CENTRES[city]
    return (np.round(lat0 + rng.normal(0, 0.06, n), 4),
            np.round(lon0 + rng.normal(0, 0.08, n), 4))


def _write_csv(path: str, header: list[str], rows: list[tuple]) -> int:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    data = buf.getvalue().encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def write_city_csvs(outdir: str, seed: int, scale: float) -> dict:
    """Write baltimore/detroit/losangeles CSVs in the reference shapes.

    Returns ``{city: {"path", "rows", "corrupt", "bytes"}}``; corrupt rows
    carry an empty (Baltimore) or sentinel/wrong-sign (Detroit) geolocation
    and are exactly the rows the harmonize pipelines must drop."""
    os.makedirs(outdir, exist_ok=True)
    out = {}
    for ci, (city, (n, n_bad)) in enumerate(city_counts(scale).items()):
        rng = np.random.default_rng([seed, ci])
        bad = np.zeros(n, dtype=bool)
        bad[rng.choice(n, size=n_bad, replace=False)] = True
        ts = _timestamps(rng, n)
        lat, lon = _coords(rng, city, n)
        if city == "baltimore":
            header = ["CrimeDate", "CrimeTime", "CrimeCode", "Location",
                      "Description", "Inside/Outside", "Weapon", "District",
                      "Neighborhood", "Location 1", "Total Incidents"]
            descr = _zipf_choice(rng, BALTIMORE_DESCR, n)
            hood = _zipf_choice(rng, NEIGHBORHOODS, n, 0.7)
            weapon = rng.choice(len(WEAPONS) + 3, size=n)
            io_ = rng.choice(["I", "O", "Inside", "Outside", ""], size=n)
            compact = rng.random(n) < 0.3
            rows = []
            for i in range(n):
                t = ts[i]
                if compact[i]:
                    # '2430'-style hour 24 appears in the reference data
                    hh = 24 if t.hour == 0 and i % 2 else t.hour
                    ctime = f"{hh:02d}{t.minute:02d}"
                else:
                    ctime = f"{t.hour:02d}:{t.minute:02d}:00"
                rows.append((
                    f"{t.month}/{t.day}/{t.year}", ctime,
                    f"{1 + i % 9}{'ABCDEF'[i % 6]}",
                    f"{100 + i % 4000} {STREETS[i % len(STREETS)]}",
                    descr[i], io_[i],
                    WEAPONS[weapon[i]] if weapon[i] < len(WEAPONS) else "",
                    f"D{i % 9}", hood[i],
                    "" if bad[i] else f"({lat[i]:.4f}, {lon[i]:.4f})", "1",
                ))
        elif city == "detroit":
            header = ["Crime ID", "Incident Address", "Offense Category",
                      "Incident Date & Time", "Year", "Latitude", "Longitude"]
            descr = _zipf_choice(rng, DETROIT_DESCR, n)
            sentinel = rng.random(n) < 0.5
            rows = []
            for i in range(n):
                t = ts[i]
                if not bad[i]:
                    la, lo = f"{lat[i]}", f"{lon[i]}"
                elif sentinel[i]:
                    la, lo = "99999", "99999"
                else:
                    la, lo = f"{-lat[i]}", f"{-lon[i]}"
                rows.append((
                    str(100_000 + i), f"{i % 9000} {STREETS[i % len(STREETS)]}",
                    descr[i], _ampm(t), str(t.year), la, lo,
                ))
        else:
            header = ["CRIME_DATE", "CRIME_CATEGORY_DESCRIPTION", "AREA_NAME",
                      "VICTIM_COUNT", "LATITUDE", "LONGITUDE", "GANG_RELATED"]
            descr = _zipf_choice(rng, LA_DESCR, n)
            area = _zipf_choice(rng, LA_AREAS, n, 0.5)
            victims = rng.integers(1, 4, size=n)
            gang = rng.random(n) < 0.08
            rows = [
                (_ampm(ts[i]), descr[i], area[i], str(victims[i]),
                 "" if bad[i] else f"{lat[i]}", "" if bad[i] else f"{lon[i]}",
                 "Y" if gang[i] else "N")
                for i in range(n)
            ]
        path = os.path.join(outdir, f"{city}.csv")
        nbytes = _write_csv(path, header, rows)
        out[city] = {"path": path, "rows": n, "corrupt": int(n_bad),
                     "bytes": nbytes}
    return out


# -- dashboard op stream ------------------------------------------------------

# Harmonized-value vocabulary the filters draw from (after the value maps).
HARMONIZED_DESCR = sorted(
    set(BALTIMORE_MAP.values()) | set(DETROIT_MAP.values())
    | set(LA_MAP.values())
)
DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
        "Sunday"]
# Typeahead fields: the string uifilter fields of the served dictionaries,
# with the values a prefix is cut from.
TYPEAHEAD_FIELDS = {
    "description": HARMONIZED_DESCR + ["SHOOTING", "ARSON", "VANDALISM",
                                       "FRAUD", "IDENTITY THEFT"],
    "neighborhood": NEIGHBORHOODS,
    "area_name": LA_AREAS,
    "weapon": WEAPONS,
    "dayofweek": DAYS,
}


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


@dataclass
class Refresh:
    """One dashboard refresh: an ES bool query, a time window, and the same
    filter as a DuckDB predicate over the served Parquet."""

    ast: dict
    time_from: dt.datetime
    time_to: dt.datetime
    sql: str
    repeat: bool = False


@dataclass
class Typeahead:
    field: str
    prefix: str


def _clause(rng: np.random.Generator) -> tuple[dict, str]:
    kind = rng.choice(["terms", "range", "query_string", "geo", "city"])
    if kind == "terms":
        k = int(rng.integers(1, 4))
        vals = sorted(rng.choice(HARMONIZED_DESCR, size=k, replace=False))
        vals = [str(v) for v in vals]
        return ({"terms": {"description": vals}},
                f"description IN ({', '.join(_sql_str(v) for v in vals)})")
    if kind == "range":
        lo = int(rng.integers(0, 23))
        hi = int(rng.integers(lo, 24))
        return ({"range": {"hour": {"gte": lo, "lte": hi}}},
                f"(hour >= {lo} AND hour <= {hi})")
    if kind == "query_string":
        if rng.random() < 0.5:
            return ({"query_string": {"query": "weapon:*"}},
                    "weapon IS NOT NULL")
        day = str(rng.choice(DAYS))
        return ({"query_string": {"query": f"dayofweek:{day}"}},
                f"dayofweek = {_sql_str(day)}")
    if kind == "city":
        c = str(rng.choice(CITIES))
        return ({"terms": {"city": [c]}}, f"city = {_sql_str(c)}")
    city = str(rng.choice(CITIES))
    lat0, lon0 = CENTRES[city]
    half = float(rng.choice([0.02, 0.05, 0.1, 0.3]))
    top, bottom = round(lat0 + half, 3), round(lat0 - half, 3)
    left, right = round(lon0 - half, 3), round(lon0 + half, 3)
    return (
        {"geo_bounding_box": {"fields": {"lat": "lat", "lon": "lon"},
                              "top_left": {"lat": top, "lon": left},
                              "bottom_right": {"lat": bottom, "lon": right}}},
        f"(lat <= {top} AND lat >= {bottom} AND lon >= {left} "
        f"AND lon <= {right})",
    )


def _refresh(rng: np.random.Generator, n: int) -> Refresh:
    asts, sqls = [], []
    for _ in range(n):
        a, s = _clause(rng)
        asts.append(a)
        sqls.append(s)
    ast = {"bool": {"must": asts}} if asts else {"match_all": {}}
    y0 = int(rng.integers(2010, 2018))
    y1 = int(rng.integers(y0, 2018))
    tf = dt.datetime(y0, 1, 1)
    tt = dt.datetime(y1, 12, 31, 23, 59, 59)
    sqls.append(f"(datetime >= TIMESTAMP '{tf}' AND datetime <= "
                f"TIMESTAMP '{tt}')")
    return Refresh(ast, tf, tt, " AND ".join(sqls))


def _typeahead(rng: np.random.Generator) -> Typeahead:
    fld = str(rng.choice(sorted(TYPEAHEAD_FIELDS)))
    value = str(rng.choice(TYPEAHEAD_FIELDS[fld]))
    words = [w for w in value.lower().replace("-", " ").split() if w]
    word = words[int(rng.integers(0, len(words)))]
    return Typeahead(fld, word[: int(rng.integers(1, 4))])


# Clause counts by refresh position: the mix of match-all to narrow filters
# is the same for every seed, only the clauses themselves are drawn.
CLAUSE_COUNTS = (1, 2, 0, 3, 2, 1)


def dashboard_scripts(seed: int, clients: int, n_cycles: int) -> list[list]:
    """Per-client op sequences: three typeaheads, then a refresh. Every
    fourth refresh re-issues that client's previous filter (auto-refresh),
    the repeated-input property a result cache would use."""
    scripts = []
    for c in range(clients):
        rng = np.random.default_rng([seed, 1000 + c])
        ops: list = []
        prev = None
        for k in range(n_cycles):
            for _ in range(3):
                ops.append(_typeahead(rng))
            if k % 4 == 1:
                r = Refresh(prev.ast, prev.time_from, prev.time_to, prev.sql,
                            repeat=True)
            else:
                r = _refresh(rng, CLAUSE_COUNTS[k % len(CLAUSE_COUNTS)])
            ops.append(r)
            prev = r
        scripts.append(ops)
    return scripts


# -- dedup corpus ---------------------------------------------------------------

def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 9))
        words.add("".join(rng.choice(letters, size=n)))
    return sorted(words)


@dataclass
class Corpus:
    path: str
    docs: int
    bytes: int
    clusters: list[list[int]]   # planted near-duplicate clusters (doc ids)
    exact_copies: int           # docs that are exact copies of another doc

    @property
    def planted_share(self) -> float:
        members = sum(len(c) - 1 for c in self.clusters) + self.exact_copies
        return members / self.docs


def write_dedup_corpus(outdir: str, seed: int, n_docs: int) -> Corpus:
    """Zipfian-vocabulary documents with planted near-duplicate clusters.

    Cluster sizes are heavy-tailed: a few boilerplate clusters of a hundred
    or more near-copies (a shared core plus a tail of varying length, so many
    LSH candidates fail verification and their lengths differ), and many
    pairs of light edits. A small share of exact copies differ only in case
    and outer whitespace."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    vocab = _vocab(rng, 3000)
    zipf_w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf_w /= zipf_w.sum()

    def words(k):
        return [vocab[i] for i in rng.choice(len(vocab), size=k, p=zipf_w)]

    def edit(toks, n_sub):
        toks = list(toks)
        for _ in range(n_sub):
            toks[int(rng.integers(0, len(toks)))] = vocab[
                int(rng.integers(0, len(vocab)))]
        return toks

    texts: list[str] = []
    clusters: list[list[int]] = []
    big = [max(2, int(n_docs * f)) for f in (0.06, 0.035, 0.02)]
    budget = n_docs - sum(big)
    for size in big:
        core = words(int(rng.integers(60, 90)))
        ids = []
        for _ in range(size):
            tail = words(int(rng.integers(0, 40)))
            ids.append(len(texts))
            texts.append(" ".join(edit(core, int(rng.integers(0, 3))) + tail))
        clusters.append(ids)
    n_pairs = budget // 8
    for _ in range(n_pairs):
        base = words(int(rng.integers(30, 120)))
        ids = [len(texts), len(texts) + 1]
        texts.append(" ".join(base))
        texts.append(" ".join(edit(base, 1)))
        clusters.append(ids)
    n_exact = budget // 40
    while len(texts) < n_docs - n_exact:
        texts.append(" ".join(words(int(rng.integers(20, 150)))))
    src = rng.choice(len(texts), size=n_exact, replace=False)
    for i in src:
        texts.append("  " + texts[int(i)].upper() + " ")
    order = rng.permutation(len(texts))
    inv = np.empty_like(order)
    inv[order] = np.arange(len(order))
    shuffled = [texts[i] for i in order]
    clusters = [sorted(int(inv[i]) for i in c) for c in clusters]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(shuffled), dtype=np.int64)),
        "text": pa.array(shuffled, type=pa.string()),
    })
    os.makedirs(outdir, exist_ok=True)
    path = os.path.join(outdir, "corpus.parquet")
    pq.write_table(table, path, row_group_size=max(1, len(shuffled) // 4))
    return Corpus(path, len(shuffled), os.path.getsize(path), clusters,
                  n_exact)


# -- registry tables (the TPC-H-ish star schema + events/documents/vectors) --

DOC_VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the",
]
REGISTRY_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")


def write_registry_tables(outdir: str, seed: int, sf: float) -> dict:
    """The ten tables the query registry reads, one single-row-group Parquet
    file each, with the column names, types and value domains the registry
    and its DuckDB oracles assume. Row counts scale with ``sf`` like the
    reference star schema (lineitem = 6M x sf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 11])
    os.makedirs(outdir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(25, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(100, int(50_000 * sf)), max(100, int(50_000 * sf))
    n_users = max(20, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        lo = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - lo).astype(int)
        return (lo + rng.integers(0, span, n)).astype("datetime64[us]")

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["widget", "anvil", "ring", "gear", "bolt", "spring", "valve",
            "lamp"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [ptypes[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-02", n_ord)),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-05", n_li)),
    })
    ev_types = ["click", "error", "purchase", "signup", "view"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts0 + gaps.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": [ev_types[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(0.01, 500, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.04:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_VOCAB[j] for j in
                                  rng.integers(0, len(DOC_VOCAB), k)))
    langs = rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    vecs = rng.normal(0, 1, (n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    sizes = {}
    for name, tab in t.items():
        p = os.path.join(outdir, f"{name}.parquet")
        pq.write_table(tab, p, row_group_size=max(1, tab.num_rows))
        sizes[name] = {"rows": tab.num_rows, "bytes": os.path.getsize(p)}
    return sizes
