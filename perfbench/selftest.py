"""Self-tests for the benchmark itself.

    python3 perfbench/selftest.py          # generators, checks, metric names
    python3 perfbench/selftest.py --runs   # also one short run per workload

Shows that every generator is a pure function of its seed, that every output
check rejects a deliberately corrupted result, and that the metric names the
benchmark prints are exactly those of BENCHMARK.json.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


def test_generators_are_seeded(tmp: str) -> None:
    writers = {
        "cities": lambda d, s: gen.write_city_csvs(d, s, 1 / 500),
        "corpus": lambda d, s: gen.write_dedup_corpus(d, s, 300),
        "tables": lambda d, s: gen.write_registry_tables(d, s, 0.001),
    }
    for name, write in writers.items():
        a, b, c = (os.path.join(tmp, f"{name}{i}") for i in range(3))
        write(a, 1)
        write(b, 1)
        write(c, 2)
        assert _same_tree(a, b), f"{name}: same seed, different bytes"
        assert not _same_tree(a, c), f"{name}: another seed, same bytes"
    s1, s2 = gen.dashboard_scripts(1, 2, 20), gen.dashboard_scripts(1, 2, 20)
    assert repr(s1) == repr(s2), "dashboard ops: same seed, different ops"
    assert repr(s1) != repr(gen.dashboard_scripts(2, 2, 20)), \
        "dashboard ops: another seed, same ops"


def _served(tmp: str):
    """A small harmonized-shaped table in DuckDB, standing in for the
    engine's served Parquet."""
    import duckdb

    con = duckdb.connect()
    con.sql("""
        CREATE TABLE t AS SELECT
          ['Assault', 'Theft', 'Burglary'][1 + (i % 3)] AS description,
          ['baltimore', 'detroit'][1 + (i % 2)] AS city,
          ['Baltimore.html', 'Detroit.html'][1 + (i % 2)] AS notebookhtml,
          ['Monday', 'Friday'][1 + (i % 2)] AS dayofweek,
          CAST(i % 24 AS INTEGER) AS hour,
          CAST(39 + (i % 7) / 10.0 AS VARCHAR) || ','
            || CAST(-76 - (i % 5) / 10.0 AS VARCHAR) AS geolocation,
          TIMESTAMP '2015-01-01' + INTERVAL (i) HOUR AS datetime,
          CASE WHEN i % 4 = 0 THEN NULL ELSE 'KNIFE' END AS weapon,
          CAST(2015 + i % 3 AS BIGINT) AS year
        FROM range(500) r(i)""")
    return con


def test_refresh_check_rejects_off_by_one(tmp: str) -> None:
    con = _served(tmp)
    pred = "hour >= 3 AND city = 'detroit'"
    panels = {}
    for name, sql in checks.panel_sql(pred).items():
        rel = con.sql(sql)
        panels[name] = (rel.columns, rel.fetchall())
    assert checks.check_refresh(con, pred, panels) is None
    cols, rows = panels["city_pie"]
    i = cols.index("doc_count")
    bad = [tuple(v + 1 if j == i and k == 0 else v for j, v in enumerate(r))
           for k, r in enumerate(rows)]
    panels["city_pie"] = (cols, bad)
    assert checks.check_refresh(con, pred, panels), "off-by-one accepted"


def test_typeahead_check_rejects_off_by_one(tmp: str) -> None:
    con = _served(tmp)
    rel = con.sql(checks.typeahead_sql("description", "th"))
    cols, rows = rel.columns, rel.fetchall()
    assert rows and checks.check_typeahead(con, "description", "th",
                                           cols, rows) is None
    bad = [(rows[0][0], rows[0][1] + 1)] + rows[1:]
    assert checks.check_typeahead(con, "description", "th", cols, bad)


def test_pair_check_rejects_pair_below_threshold(tmp: str) -> None:
    texts = {1: "a b c d e f g h", 2: "a b c d e f g x",
             3: "p q r s t u v w"}
    sh = {i: checks.shingles(t, 1) for i, t in texts.items()}
    good = [(1, 2, checks.jaccard(sh[1], sh[2]))]
    assert checks.check_pairs(sh, good, 0.7) is None
    assert checks.check_pairs(sh, good + [(1, 3, 0.9)], 0.7), \
        "pair below threshold accepted"


def test_label_check_rejects_wrong_label(tmp: str) -> None:
    pairs = [(1, 2, 0.9), (2, 3, 0.9), (7, 8, 0.95)]
    labels = [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert checks.check_labels(pairs, labels) is None
    assert checks.check_labels(pairs, labels[:-1] + [(8, 8)])


def test_exact_check_rejects_wrong_count(tmp: str) -> None:
    import hashlib

    texts = {1: "Hello world", 2: "  hello world ", 3: "other"}
    h = {t: hashlib.md5(t.encode()).hexdigest()
         for t in ("hello world", "other")}
    rows = [(h["hello world"], 1, 2), (h["other"], 3, 1)]
    assert checks.check_exact(texts, rows) is None
    assert checks.check_exact(texts, [(h["hello world"], 1, 1), rows[1]])


def test_dictionary_check_rejects_wrong_min(tmp: str) -> None:
    con = _served(tmp)
    fields = ["hour", "description", "datetime"]
    rows = []
    for f in fields:
        cnt, dist, lo, hi = con.sql(
            f"SELECT COUNT({f}), COUNT(DISTINCT {f}), CAST(MIN({f}) AS "
            f"VARCHAR), CAST(MAX({f}) AS VARCHAR) FROM t").fetchone()
        rows.append((f, cnt, dist, lo, hi))
    assert checks.check_dictionary(con, "t", rows) is None
    bad = [rows[0][:3] + ("1",) + rows[0][4:]] + rows[1:]
    assert checks.check_dictionary(con, "t", bad), "wrong dictionary min"


def test_metric_names_match_spec(tmp: str, runs: bool) -> None:
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for key in ("end_to_end", "per_layer"):
        names = [m["name"] for m in spec[key]]
        got = run._metrics(spec, key, {n: 1.0 for n in names})
        assert list(got) == names
        try:
            run._metrics(spec, key, {"not_in_spec": 1.0,
                                     **{n: 1.0 for n in names}})
        except KeyError:
            pass
        else:
            raise AssertionError(f"{key}: unknown metric name accepted")
    if not runs:
        return
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w, "--seed", "1", "--seconds", "2", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, check=True)
            last = json.loads(out.stdout.strip().splitlines()[-1])
            assert sorted(last) == ["attempted", "correct", "failed",
                                    "metrics"]
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            assert got == want, f"{w} trace={trace}: names differ"


def main() -> int:
    runs = "--runs" in sys.argv[1:]
    tests = [v for k, v in sorted(globals().items())
             if k.startswith("test_")]
    failed = 0
    with tempfile.TemporaryDirectory(dir=HERE, prefix=".selftest-") as tmp:
        for t in tests:
            try:
                if t is test_metric_names_match_spec:
                    t(tmp, runs)
                else:
                    t(tmp)
                print(f"ok   {t.__name__}")
            except Exception as exc:  # report every failing self-test
                failed += 1
                print(f"FAIL {t.__name__}: {exc!r}")
    print(f"{len(tests) - failed} passed, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
