"""Output checks, run outside the timed region. Each returns ``None`` when
the engine's output is right and a one-line cause when it is not."""

from __future__ import annotations

import hashlib
import math
import re

import duckdb

from harmonize_search_analyze_spark.functions.geohash import geohash_encode_sql
from harmonize_search_analyze_spark.functions.tokenize import (
    phrase_prefix_regex,
)


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    """Order-insensitive, column-order-insensitive normal form."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in idx) for r in rows)


def compare(name: str, got_cols, got_rows, want_cols, want_rows) -> str | None:
    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{name}: {len(got_rows)} rows != {len(want_rows)} expected"
    g, w = norm_rows(got_cols, got_rows), norm_rows(want_cols, want_rows)
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    return f"{name}: first mismatch {bad[0]}" if bad else None


def _query(con, sql):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


# -- dashboard ----------------------------------------------------------------

_LAT = "CAST(split_part(geolocation, ',', 1) AS DOUBLE)"
_LON = "CAST(split_part(geolocation, ',', 2) AS DOUBLE)"


def panel_sql(pred: str) -> dict[str, str]:
    """DuckDB twins of the five ``crime_dashboard`` panels over view ``t``."""
    w = f"FROM t WHERE ({pred})"
    return {
        "description_pie": (
            f"SELECT description, COUNT(*) AS doc_count {w} "
            "AND description IS NOT NULL GROUP BY 1 "
            "ORDER BY 2 DESC, 1 ASC LIMIT 10"),
        "city_pie": (
            f"SELECT city, COUNT(*) AS doc_count {w} AND city IS NOT NULL "
            "GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 10"),
        "dataset_table": (
            f"SELECT city, notebookhtml, COUNT(*) AS doc_count {w} "
            "AND city IS NOT NULL AND notebookhtml IS NOT NULL GROUP BY 1, 2 "
            "ORDER BY 3 DESC, 1 ASC, 2 ASC LIMIT 20"),
        "day_hour_pie": f"""
            WITH pair AS (
              SELECT dayofweek, hour, COUNT(*) AS doc_count {w}
                AND dayofweek IS NOT NULL AND hour IS NOT NULL GROUP BY 1, 2
            ), tot AS (
              SELECT *, CAST(SUM(doc_count) OVER (PARTITION BY dayofweek)
                             AS BIGINT) AS outer_count,
                     ROW_NUMBER() OVER (PARTITION BY dayofweek
                                        ORDER BY doc_count DESC, hour ASC)
                       AS inner_rank
              FROM pair
            ), ranked AS (
              SELECT *, DENSE_RANK() OVER (ORDER BY outer_count DESC,
                                           dayofweek ASC) AS outer_rank
              FROM tot WHERE inner_rank <= 24
            )
            SELECT dayofweek, hour, doc_count, outer_count FROM ranked
            WHERE outer_rank <= 10""",
        "incident_map": (
            f"SELECT {geohash_encode_sql(_LAT, _LON, 2)} AS geohash, "
            f"COUNT(*) AS doc_count {w} AND {_LAT} IS NOT NULL "
            f"AND {_LON} IS NOT NULL GROUP BY 1"),
    }


def typeahead_sql(field: str, prefix: str) -> str:
    pattern = phrase_prefix_regex(prefix)
    cond = f"regexp_matches(lower({field}), '{pattern}')" if pattern else "TRUE"
    return (f"SELECT {field}, COUNT(*) AS doc_count FROM t WHERE {cond} "
            f"AND {field} IS NOT NULL GROUP BY 1 ORDER BY 2 DESC, 1 ASC "
            "LIMIT 10")


def served_view(con, data_dirs: list[str]) -> None:
    files = ", ".join(f"'{d}/**/*.parquet'" for d in data_dirs)
    con.sql(f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet([{files}],"
            " hive_partitioning = true, union_by_name = true)")


def check_refresh(con, sql_pred: str, panels: dict) -> str | None:
    """``panels``: name -> (columns, rows) as collected from Spark."""
    for name, sql in panel_sql(sql_pred).items():
        cols, rows = panels[name]
        wc, wr = _query(con, sql)
        err = compare(f"refresh.{name}", cols, rows, wc, wr)
        if err:
            return err
    return None


def check_typeahead(con, field: str, prefix: str, cols, rows) -> str | None:
    wc, wr = _query(con, typeahead_sql(field, prefix))
    return compare(f"typeahead.{field}:{prefix}", cols, rows, wc, wr)


# -- harmonize ----------------------------------------------------------------

def check_harmonized(con, data_dir: str, dict_dir: str, expected_rows: int
                     ) -> str | None:
    """Kept rows equal generated minus planted corrupt rows, and the
    dictionary's count, countdistinct, min and max match DuckDB over the
    written Parquet."""
    src = (f"read_parquet('{data_dir}/**/*.parquet', "
           "hive_partitioning = true)")
    (n,), = con.sql(f"SELECT COUNT(*) FROM {src}").fetchall()
    if n != expected_rows:
        return f"{data_dir}: kept {n} rows, expected {expected_rows}"
    rows = con.sql(
        "SELECT dict_field, dict_count, dict_countdistinct, dict_min, "
        f"dict_max FROM read_parquet('{dict_dir}/*.parquet')").fetchall()
    return check_dictionary(con, src, rows)


def check_dictionary(con, src: str, dict_rows) -> str | None:
    for field, count, distinct, lo, hi in dict_rows:
        want = con.sql(
            f'SELECT COUNT("{field}"), COUNT(DISTINCT "{field}"), '
            f'CAST(MIN("{field}") AS VARCHAR), CAST(MAX("{field}") AS VARCHAR)'
            f" FROM {src}").fetchone()
        got = (count, distinct, lo, hi)
        if tuple(_cell(v) for v in got) != tuple(_cell(v) for v in want):
            return f"dictionary.{field}: {got} != {want}"
    return None


# -- dedup --------------------------------------------------------------------

_TOKEN = re.compile(r"[^a-z0-9]+")


def shingles(text: str, n: int) -> set[str]:
    """Python twin of ``operators.dedup.shingles_sql``."""
    toks = [t for t in _TOKEN.split(text.lower()) if t]
    if n == 1:
        return set(toks)
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return round(inter / union, 6) if union else float("nan")


def check_exact(texts: dict[int, str], rows) -> str | None:
    """rows: (text_hash, keep_id, n_copies) from ``exact_dedup``."""
    want: dict[str, list[int]] = {}
    for i, t in texts.items():
        h = hashlib.md5(t.strip(" ").lower().encode()).hexdigest()
        want.setdefault(h, []).append(i)
    got = {r[0]: (r[1], r[2]) for r in rows}
    if len(got) != len(want):
        return f"exact_dedup: {len(got)} groups, expected {len(want)}"
    for h, ids in want.items():
        if got.get(h) != (min(ids), len(ids)):
            return f"exact_dedup: group {h} is {got.get(h)}, expected " \
                   f"{(min(ids), len(ids))}"
    return None


def check_pairs(sh: dict[int, set], pairs, threshold: float) -> str | None:
    """Every emitted pair has true Jaccard >= threshold."""
    for id1, id2, _ in pairs:
        j = jaccard(sh[id1], sh[id2])
        if not j >= threshold:
            return f"pair ({id1}, {id2}): Jaccard {j} < {threshold}"
    return None


def union_find_labels(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_labels(pairs, labels) -> str | None:
    """Labels equal the min id of each union-find component of the pairs."""
    want = union_find_labels(pairs)
    got = {r[0]: r[1] for r in labels}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"connected_components: labels differ, e.g. {diff}"
    return None


def planted_recall(clusters: list[list[int]], labels: dict[int, int]) -> float:
    """Share of planted non-root members labelled with their root's label."""
    hit = total = 0
    for c in clusters:
        root = labels.get(c[0], c[0])
        for m in c[1:]:
            total += 1
            hit += labels.get(m, m) == root
    return hit / total if total else 1.0


# -- registry -----------------------------------------------------------------

def registry_con(table_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def check_query(con, name: str, sql: str | None, cols, rows) -> str | None:
    """Compare with the query's DuckDB oracle; the six trainers without an
    oracle get a rows-only check."""
    if sql is None:
        return None if rows else f"{name}: no rows"
    wc, wr = _query(con, sql)
    return compare(name, cols, rows, wc, wr)
