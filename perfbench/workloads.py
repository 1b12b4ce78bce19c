"""The two workloads. Each generates its inputs from the seed, sets up,
runs its ops (the dashboard a closed loop for the requested seconds, the
batch one pass), checks outputs outside the timed region and returns its
metrics. Times in the end-to-end metrics are scaled to a nominal host speed
by calibration samples taken between ops (``common.HostSpeed``).

The engine is driven only through its public functions; every call into a
layer sits inside a named span (a no-op when tracing is off).
"""

from __future__ import annotations

import gc
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import cities
import common
import gen
from spans import Tracer

# Input sizes. The dashboard serves the three reference city shapes at a
# fixed share of the reference row counts, small enough that a run with
# session start, the harmonize pass, set-up and checks stays within the run
# budget on a 4-core host.
DASH_SCALE = 1 / 64
DEDUP_DOCS = 2000
DEDUP_PARAMS = {"threshold": 0.8, "k": 8, "n": 3, "rows_per_band": 2}
REGISTRY_SF = 0.01
REGISTRY_CORE = [
    "dsir_sample", "dedup_clusters", "fuzzy_decontaminate", "graph_explore",
    "triangle_count", "llr_collocations", "pq_search_ivf", "ks_drift",
    "pagerank",
]
REGISTRY_SAMPLE = 1
DASH_CLIENTS = 2
# One round is about this long at the nominal host speed. The loop runs a
# fixed number of rounds, --seconds / ROUND_S, so every run does the same
# work whatever the host speed.
ROUND_S = 3.0
CHECK_SAMPLE = 6
# The registry tables do not vary with the seed, so a run's input variance
# comes from the dedup corpus and the query sample alone. They are generated
# (from the sf0.01 shapes) because the benchmark reads only its checkout.
REGISTRY_TABLE_SEED = 0


@dataclass
class Ctx:
    """One run: its arguments, session, tracer and the failures found."""

    seed: int
    seconds: float
    trace: bool
    workdir: str
    spark: object = None
    tracer: Tracer | None = None
    rss: common.RssPeak = field(default_factory=common.RssPeak)
    failures: list = field(default_factory=list)
    attempted: int = 0
    excluded_s: float = 0.0     # input generation, checks and host stamps
    session_s: float = 0.0
    first_op: float | None = None
    speed: common.HostSpeed = field(default_factory=common.HostSpeed)

    def start_session(self) -> None:
        self.spark = common.start_spark()
        self.rss.start()
        self.session_s = time.time() - common.process_start() - self.excluded_s
        self.tracer = Tracer(self.spark, self.trace)

    def generate(self, fn, *args):
        t = time.time()
        out = fn(*args)
        self.excluded_s += time.time() - t
        return out

    def warm_calibration(self) -> None:
        """The first, cold call of the host-speed calibration job, made
        before the first op and left out of set-up."""
        self.excluded_s += common.calibrate(self.spark)

    def mark_first_op(self) -> None:
        if self.first_op is None:
            self.first_op = time.time()

    def fail(self, name: str, cause: str) -> None:
        self.failures.append({"op": name, "cause": cause[:300]})


# -- per-layer metrics from traced ops ----------------------------------------

def spark_layers(ctx: Ctx, kinds: tuple[str, ...]) -> dict:
    """Means per op of the Spark-side counters over every timed op, of all
    the ``kinds`` the workload runs (a median would hide the rarer kinds)."""
    ops = [o for o in ctx.tracer.ops if o.kind in kinds]
    if not ops:
        return {}
    cores = common.nproc()

    def mean(f):
        return sum(f(o) for o in ops) / len(ops)

    def jsum(o, attr):
        return sum(getattr(j, attr) for j in o.jobs)

    return {
        "spark.plan_ms": mean(lambda o: o.span_ms("plan")),
        "spark.construct_jobs": mean(lambda o: len(o.jobs_under("construct"))),
        "spark.jobs": mean(lambda o: len(o.jobs)),
        "spark.stages": mean(lambda o: jsum(o, "stages")),
        "spark.tasks": mean(lambda o: jsum(o, "tasks")),
        "spark.driver_gap_ms": mean(lambda o: o.driver_gap_ms()),
        "spark.task_run_ms": mean(lambda o: jsum(o, "run_ms")),
        "spark.task_cpu_ms": mean(lambda o: jsum(o, "cpu_ms")),
        "spark.gc_ms": mean(lambda o: jsum(o, "gc_ms")),
        "spark.core_busy_ratio": mean(
            lambda o: jsum(o, "run_ms") / (o.ms * cores)),
        "spark.shuffle_write_bytes": mean(lambda o: jsum(o, "shuffle_write")),
        "spark.shuffle_read_bytes": mean(lambda o: jsum(o, "shuffle_read")),
        "spark.spill_bytes": mean(lambda o: jsum(o, "spill")),
        "span.op.self_ms": mean(lambda o: o.self_ms(o.kind)),
        "span.construct.self_ms": mean(lambda o: o.self_ms("construct")),
        "span.plan.self_ms": mean(lambda o: o.self_ms("plan")),
        "span.execute.self_ms": mean(lambda o: o.self_ms("execute")),
        "trace.overhead.op_ms": mean(lambda o: o.extra["trace_ms"]),
        "trace.attribution_ms": mean(lambda o: o.extra["attr_ms"]),
    }


def op_counters(ctx: Ctx, kind: str, prefix: str) -> dict:
    """Scheduler, executor and exchange counters of the ops of ``kind``,
    medians per op, under ``prefix``."""
    ops = [o for o in ctx.tracer.ops if o.kind == kind]

    def med(attr):
        return common.median([sum(getattr(j, attr) for j in o.jobs)
                              for o in ops])

    return {
        f"{prefix}.jobs": common.median([len(o.jobs) for o in ops]),
        f"{prefix}.tasks": med("tasks"),
        f"{prefix}.task_run_ms": med("run_ms"),
        f"{prefix}.shuffle_write_bytes": med("shuffle_write"),
        f"{prefix}.spill_bytes": med("spill"),
    }


def span_median(ctx: Ctx, name: str, scale: float = 1.0) -> float:
    """Median over the ops that contain ``name`` of its summed time."""
    vals = [o.span_ms(name) for o in ctx.tracer.ops if o.has_span(name)]
    return common.median(vals) / scale


# -- harmonize ----------------------------------------------------------------

def _harmonize_checks(ctx: Ctx, con, csvs: dict, out: dict, tag: str) -> None:
    for city, (dpath, tpath) in out.items():
        want = csvs[city]["rows"] - csvs[city]["corrupt"]
        err = checks.check_harmonized(con, dpath, tpath, want)
        if err:
            ctx.fail(f"{tag}.{city}", err)


def _write_layers(ctx: Ctx, kind: str, csvs: dict, out: dict) -> dict:
    files = nbytes = 0
    for dpath, tpath in out.values():
        for p in (dpath, tpath):
            f, b = cities.parquet_files(p)
            files += f
            nbytes += b
    in_bytes = sum(c["bytes"] for c in csvs.values())
    ops = [o for o in ctx.tracer.ops if o.kind == kind]
    return {
        "sources.ingest.read_csv_ms": span_median(ctx, "sources.ingest.read_csv"),
        "sources.catalog.save_parquet_s": span_median(
            ctx, "sources.catalog.save_parquet", 1000.0),
        "sources.catalog.bytes_written_per_input_byte": nbytes / in_bytes,
        "sources.catalog.files_written": files,
        "operators.harmonize.construct_ms": span_median(
            ctx, "operators.harmonize.construct"),
        "operators.profiler.dictionary_s": span_median(
            ctx, "operators.profiler.dictionary", 1000.0),
        "operators.profiler.jobs": common.median(
            [len(o.jobs_under("operators.profiler.dictionary")) for o in ops]),
    }


# -- dashboard ----------------------------------------------------------------

def _serve(ctx: Ctx, csvs: dict):
    """Set-up: harmonize and write the three cities, register the written
    tables, and run the dictionary bootstrap the UI starts from."""
    from harmonize_search_analyze_spark.operators.dashboards import (
        dictionary_bootstrap,
    )
    from harmonize_search_analyze_spark.sources.catalog import Catalog

    outdir = os.path.join(ctx.workdir, "served")
    with ctx.tracer.op("setup") as rec:
        t = time.time()
        out = cities.harmonize_pass(ctx.spark, ctx.tracer, csvs, outdir)
        rec.extra["harmonize_s"] = time.time() - t
        cat = Catalog(ctx.spark)
        for city, (dpath, tpath) in out.items():
            cat.register(f"{city}_harmonized", ctx.spark.read.parquet(dpath))
            cat.register(f"{city}_dictionary", ctx.spark.read.parquet(tpath))
        with ctx.tracer.span("operators.dashboards.bootstrap"):
            boot = dictionary_bootstrap(cat.resolve("*_dictionary")).collect()
    uifields = {r["dict_field"] for r in boot if r["dict_uifilter"] == "True"}
    return cat, out, uifields, rec


def _refresh(ctx: Ctx, cat, r: gen.Refresh):
    from harmonize_search_analyze_spark.operators.dashboards import (
        crime_dashboard,
    )
    from harmonize_search_analyze_spark.plans.compiler import compile_query

    tr = ctx.tracer
    with tr.op("refresh") as rec:
        with tr.span("construct"):
            with tr.span("sources.catalog.resolve"):
                frame = cat.resolve("*_harmonized")
            with tr.span("plans.compiler.compile"):
                pred = compile_query(r.ast)
            with tr.span("operators.dashboards.construct"):
                panels = crime_dashboard(frame.where(pred),
                                         time_from=r.time_from,
                                         time_to=r.time_to)
        tr.plan(panels.values())
        with tr.span("execute"):
            out = {n: (df.columns, [tuple(x) for x in df.collect()])
                   for n, df in panels.items()}
        if tr.enabled:
            rec.extra["cached_bytes"] = _cached_bytes(ctx.spark)
    del panels, frame
    return rec, out


def _typeahead(ctx: Ctx, cat, t: gen.Typeahead):
    from harmonize_search_analyze_spark.operators.aggregations import suggest

    tr = ctx.tracer
    with tr.op("typeahead") as rec:
        with tr.span("construct"):
            with tr.span("sources.catalog.resolve"):
                frame = cat.resolve("*_harmonized")
            with tr.span("operators.aggregations.suggest"):
                df = suggest(frame, t.field, t.prefix, k=10)
        tr.plan([df])
        with tr.span("execute"):
            out = (df.columns, [tuple(x) for x in df.collect()])
    return rec, out


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def dashboard(ctx: Ctx) -> dict:
    import duckdb
    from pyspark import InheritableThread

    csvs = ctx.generate(gen.write_city_csvs, os.path.join(ctx.workdir, "csv"),
                        ctx.seed, DASH_SCALE)
    scripts = ctx.generate(gen.dashboard_scripts, ctx.seed, DASH_CLIENTS, 100)
    rows_in = sum(c["rows"] for c in csvs.values())
    ctx.start_session()
    cat, served, uifields, setup_rec = _serve(ctx, csvs)
    warm = gen.dashboard_scripts(ctx.seed + 1, 1, 1)[0]
    for op in warm:  # warm-up: one cycle of ops the clients will not issue
        (_refresh if isinstance(op, gen.Refresh) else _typeahead)(ctx, cat, op)
    ctx.tracer.ops = [o for o in ctx.tracer.ops if o.kind == "setup"]
    gc.collect()
    base = common.persisted(ctx.spark)
    ctx.warm_calibration()
    results: list = []
    lock = threading.Lock()
    ref_ms = []  # refresh latencies at the nominal host speed
    ctx.mark_first_op()

    def cycle(c: int, r: int) -> None:
        for i in range(4 * r, 4 * r + 4):
            op = scripts[c][i]
            try:
                if isinstance(op, gen.Refresh):
                    rec, out = _refresh(ctx, cat, op)
                else:
                    rec, out = _typeahead(ctx, cat, op)
                with lock:
                    results.append((c, i, op, rec, out, None))
            except Exception as exc:  # a failed op is reported, not fatal
                with lock:
                    results.append((c, i, op, None, None, repr(exc)))

    # Rounds: every client runs one cycle (three typeaheads, then a
    # refresh); then one host-speed sample scales the round's ops, as in
    # the batch workload.
    loop_s = norm_s = 0.0
    rounds = max(1, round(ctx.seconds / ROUND_S))
    for r in range(rounds):
        t0, first = time.time(), len(results)
        threads = [InheritableThread(target=cycle, args=(c, r))
                   for c in range(DASH_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        took = time.time() - t0
        f = ctx.speed.after_op(ctx.spark)
        loop_s += took
        norm_s += took / f
        ref_ms += [rec.ms / f for _, _, op, rec, _, err in results[first:]
                   if err is None and isinstance(op, gen.Refresh)]
    gc.collect()
    leaked = common.persisted(ctx.spark) - base

    # checks on a seeded sample of completed ops, against DuckDB
    con = duckdb.connect()
    checks.served_view(con, [d for d, _ in served.values()])
    missing = set(gen.TYPEAHEAD_FIELDS) - uifields
    if missing:
        ctx.fail("dictionary_bootstrap", f"uifilter fields missing: {missing}")
    _harmonize_checks(ctx, con, csvs, served, "setup.harmonize")
    ctx.attempted = len(results) + len(served)  # ops, and each city written
    rng = np.random.default_rng([ctx.seed, 99])
    done = [x for x in results if x[5] is None]
    for c, i, op, rec, out, err in results:
        if err:
            ctx.fail(f"client{c}.op{i}", err)
    refreshes = [x for x in done if isinstance(x[2], gen.Refresh)]
    typeaheads = [x for x in done if isinstance(x[2], gen.Typeahead)]
    for group in (refreshes, typeaheads):
        pick = rng.choice(len(group), size=min(CHECK_SAMPLE, len(group)),
                          replace=False) if group else []
        for k in pick:
            c, i, op, rec, out, _ = group[int(k)]
            if isinstance(op, gen.Refresh):
                err = checks.check_refresh(con, op.sql, out)
            else:
                err = checks.check_typeahead(con, op.field, op.prefix, *out)
            if err:
                ctx.fail(f"client{c}.op{i}", err)

    raw_ref = [x[3].ms for x in refreshes]
    raw_ta = [x[3].ms for x in typeaheads]
    n_ref = len(raw_ref)
    res = {
        "e2e": {"op_iqm_ms": common.iqm(ref_ms),
                "work_per_s": n_ref / norm_s},
        "named": {
            "refresh_p50_ms": common.median(raw_ref),
            "refresh_p90_ms": common.pct(raw_ref, 90),
            "refreshes_per_s": n_ref / loop_s,
            "typeahead_p50_ms": common.median(raw_ta),
            "typeahead_p95_ms": common.pct(raw_ta, 95),
            "refreshes": n_ref, "typeaheads": len(raw_ta), "rounds": rounds,
            "refresh_ms": raw_ref,
            "harmonize_rows_per_s": rows_in / setup_rec.extra["harmonize_s"],
        },
        "info": {
            "input_rows": rows_in,
            "input_bytes": sum(c["bytes"] for c in csvs.values()),
            "planted_corrupt": {c: v["corrupt"] for c, v in csvs.items()},
            "served_rows": sum(v["rows"] - v["corrupt"] for v in csvs.values()),
            "repeated_filter_share": (
                sum(x[2].repeat for x in refreshes) / n_ref if n_ref else 0.0),
            "leaked_persists": leaked,
        },
    }
    if ctx.trace:
        ref = [x[3] for x in refreshes]
        res["layers"] = {
            **spark_layers(ctx, ("refresh", "typeahead")),
            **op_counters(ctx, "setup", "setup.spark"),
            **_write_layers(ctx, "setup", csvs, served),
            "sources.catalog.resolve_ms": span_median(
                ctx, "sources.catalog.resolve"),
            "plans.compiler.compile_ms": span_median(
                ctx, "plans.compiler.compile"),
            "operators.dashboards.construct_ms": span_median(
                ctx, "operators.dashboards.construct"),
            "operators.aggregations.suggest_ms": span_median(
                ctx, "operators.aggregations.suggest"),
            "functions.caching.cached_bytes": common.median(
                [o.extra.get("cached_bytes", 0) for o in ref]),
            "functions.caching.leaked_persists": leaked,
        }
    return res


# -- dedup --------------------------------------------------------------------

def _dedup_pass(ctx: Ctx, docs):
    from harmonize_search_analyze_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        near_dup_pairs_lsh,
    )

    tr = ctx.tracer
    out = {}
    with tr.op("dedup") as rec:
        with tr.span("stage.exact"):
            with tr.span("construct"):
                with tr.span("operators.dedup.exact"):
                    ex = exact_dedup(docs, "doc_id", "text")
            tr.plan([ex])
            with tr.span("execute"):
                out["exact"] = [tuple(r) for r in ex.collect()]
        with tr.span("stage.lsh"):
            with tr.span("construct"):
                with tr.span("operators.dedup.lsh"):
                    pairs = near_dup_pairs_lsh(docs, "doc_id", "text",
                                               **DEDUP_PARAMS)
            tr.plan([pairs])
            with tr.span("execute"):
                out["pairs"] = [tuple(r) for r in pairs.collect()]
        with tr.span("stage.cc"):
            with tr.span("construct"):
                with tr.span("operators.dedup.cc"):
                    labels = connected_components(pairs)
            tr.plan([labels])
            with tr.span("execute"):
                out["labels"] = [tuple(r) for r in labels.collect()]
    del ex, pairs, labels
    return rec, out


def _dedup_checks(ctx: Ctx, corpus, texts, sh, out) -> float:
    err = (checks.check_exact(texts, out["exact"])
           or checks.check_pairs(sh, out["pairs"], DEDUP_PARAMS["threshold"])
           or checks.check_labels(out["pairs"], out["labels"]))
    if err:
        ctx.fail("dedup", err)
    return checks.planted_recall(corpus.clusters, dict(out["labels"]))


def _dedup_layers(ctx: Ctx, docs, verified: int) -> dict:
    """Dedup per-layer counters; candidate pairs come from a separate
    ``lsh_candidate_pairs`` call outside any op."""
    from harmonize_search_analyze_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    p = DEDUP_PARAMS
    sigs = minhash_signatures(docs, "doc_id", "text", k=p["k"], n=p["n"])
    cands = lsh_candidate_pairs(sigs, "doc_id", k=p["k"],
                                rows_per_band=p["rows_per_band"]).count()
    ops = [o for o in ctx.tracer.ops if o.kind == "dedup"]
    return {
        "operators.dedup.exact_s": span_median(ctx, "stage.exact", 1000.0),
        "operators.dedup.lsh_s": span_median(ctx, "stage.lsh", 1000.0),
        "operators.dedup.cc_s": span_median(ctx, "stage.cc", 1000.0),
        "operators.dedup.cc_jobs": common.median(
            [len(o.jobs_under("stage.cc")) for o in ops]),
        "operators.dedup.candidate_pairs": cands,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.candidate_yield": verified / cands if cands else 0.0,
    }


# -- registry -----------------------------------------------------------------

def _home_module(entry, name: str) -> str:
    """The ``operators`` module a registry query mostly calls into."""
    import collections
    import inspect
    import re

    fn = entry.queries()[name]
    mods = re.findall(r"harmonize_search_analyze_spark\.operators\.(\w+)",
                      inspect.getsource(fn))
    for nm in fn.__code__.co_names:
        m = getattr(getattr(entry, nm, None), "__module__", "") or ""
        if m.startswith("harmonize_search_analyze_spark.operators."):
            mods.append(m.rsplit(".", 1)[1])
    return collections.Counter(mods).most_common(1)[0][0] if mods else "other"


def registry_sample(entry, seed: int, k: int) -> list[str]:
    """k queries outside the core, one per ``operators`` module, modules and
    members drawn in seed-shuffled order."""
    by_mod: dict[str, list[str]] = {}
    for name in entry.queries():
        if name not in REGISTRY_CORE:
            by_mod.setdefault(_home_module(entry, name), []).append(name)
    rng = np.random.default_rng([seed, 500])
    mods = sorted(by_mod)
    rng.shuffle(mods)
    return [str(rng.choice(sorted(by_mod[m]))) for m in mods[:k]]


def _query(ctx: Ctx, entry, name: str, table_dir: str):
    tr = ctx.tracer
    with tr.op("query") as rec:
        rec.extra["name"] = name
        with tr.span("construct"):
            with tr.span(f"registry.{name}"):
                df = entry.queries()[name](ctx.spark, table_dir)
        tr.plan([df])
        with tr.span("execute"):
            out = (df.columns, [tuple(r) for r in df.collect()])
    del df
    return rec, out


def batch(ctx: Ctx) -> dict:
    import pyarrow.parquet as pq

    table_dir = os.path.join(ctx.workdir, "tables")
    sizes = ctx.generate(gen.write_registry_tables, table_dir,
                         REGISTRY_TABLE_SEED, REGISTRY_SF)
    corpus = ctx.generate(gen.write_dedup_corpus,
                          os.path.join(ctx.workdir, "corpus"), ctx.seed,
                          DEDUP_DOCS)

    def oracle_corpus():
        tab = pq.read_table(corpus.path).to_pydict()
        texts = dict(zip(tab["doc_id"], tab["text"]))
        return texts, {i: checks.shingles(t, DEDUP_PARAMS["n"])
                       for i, t in texts.items()}

    texts, sh = ctx.generate(oracle_corpus)
    ctx.start_session()
    import __spark_entry__ as entry

    if ctx.trace:
        load = entry._t

        def traced_load(*a, **kw):
            with ctx.tracer.span("sources.tables.load"):
                return load(*a, **kw)

        entry._t = traced_load
    # the oracles and the query sample are harness work, not set-up
    oracles = ctx.generate(entry.oracle_sql)
    con = ctx.generate(checks.registry_con, table_dir, gen.REGISTRY_TABLES)
    sample = ctx.generate(registry_sample, entry, ctx.seed, REGISTRY_SAMPLE)
    docs = ctx.spark.read.parquet(corpus.path)
    base = common.persisted(ctx.spark)
    ctx.warm_calibration()
    core_ms, recall = [], []
    query_ms: dict[str, float] = {}
    dedup_ms = verified = 0
    # One pass: the core in a fixed order, the dedup pass, then the sample.
    # Each op is its first execution in the session, as for a batch job.
    ops = REGISTRY_CORE + ["dedup"] + sample
    for name in ops:
        ctx.mark_first_op()
        ctx.attempted += 1
        try:
            if name == "dedup":
                rec, out = _dedup_pass(ctx, docs)
            else:
                rec, out = _query(ctx, entry, name, table_dir)
        except Exception as exc:  # an op that raises counts as failed
            ctx.fail(name, repr(exc))
            continue
        gc.collect()
        query_ms[name] = rec.ms
        if name == "dedup" or name in REGISTRY_CORE:
            # scaled by a host-speed sample taken right after it
            core_ms.append(rec.ms / ctx.speed.after_op(ctx.spark))
        if name == "dedup":
            dedup_ms, verified = rec.ms, len(out["pairs"])
            recall.append(_dedup_checks(ctx, corpus, texts, sh, out))
            continue
        err = checks.check_query(con, name, oracles.get(name), *out)
        if err:
            ctx.fail(name, err)
    gc.collect()
    leaked = common.persisted(ctx.spark) - base
    registry_ms = [v for k, v in query_ms.items() if k != "dedup"]
    res = {
        "e2e": {"op_iqm_ms": common.iqm(core_ms),
                "work_per_s": len(core_ms) * 1000.0 / sum(core_ms)},
        "named": {
            "registry_pass_s": sum(registry_ms) / 1000.0,
            "query_p50_ms": common.median(registry_ms),
            "dedup_docs_per_s": corpus.docs * 1000.0 / dedup_ms
            if dedup_ms else 0.0,
            "op_ms": query_ms,
        },
        "info": {"tables": sizes, "core": REGISTRY_CORE,
                 "dedup_docs": corpus.docs, "dedup_bytes": corpus.bytes,
                 "planted_duplicate_share": corpus.planted_share,
                 "planted_clusters": len(corpus.clusters),
                 "planted_cluster_recall": common.median(recall),
                 "verified_pairs": verified, "leaked_persists": leaked},
    }
    if ctx.trace:
        qops = [o for o in ctx.tracer.ops if o.kind == "query"]
        layers = {**spark_layers(ctx, ("query", "dedup")),
                  **op_counters(ctx, "dedup", "operators.dedup"),
                  **_dedup_layers(ctx, docs, verified),
                  "sources.tables.load_ms": span_median(
                      ctx, "sources.tables.load"),
                  "functions.caching.leaked_persists": leaked}
        for name in REGISTRY_CORE + ["sample"]:
            mine = [o for o in qops if o.extra["name"] == name or (
                name == "sample" and o.extra["name"] not in REGISTRY_CORE)]
            layers[f"registry.{name}.construct_ms"] = sum(
                o.span_ms("construct") for o in mine)
            layers[f"registry.{name}.execute_ms"] = sum(
                o.span_ms("execute") for o in mine)
        res["layers"] = layers
    return res


WORKLOADS = {"dashboard": dashboard, "batch": batch}
