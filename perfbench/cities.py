"""The three city harmonize pipelines and one ETL pass over them, written
against the engine's public API the way the reference notebooks chain it."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from harmonize_search_analyze_spark.operators.dashboards import (
    split_geolocation,
)
from harmonize_search_analyze_spark.operators.harmonize import (
    DATETIME_AMPM_RE,
    Harmonizer,
    ampm_to_24h,
    extract_date_parts,
    extract_time_parts,
)
from harmonize_search_analyze_spark.operators.profiler import ColumnMeta
from harmonize_search_analyze_spark.sources.catalog import Catalog
from harmonize_search_analyze_spark.sources.ingest import read_city_csv

import gen

INT_PARTS = {"year": "int", "month": "int", "day": "int", "hour": "int",
             "minute": "int"}


def _ampm_parts(h: Harmonizer, src_col: str) -> Harmonizer:
    src = F.col(src_col)
    h.df = (
        h.df
        .withColumn("month", F.regexp_extract(src, DATETIME_AMPM_RE, 1).cast("int"))
        .withColumn("day", F.regexp_extract(src, DATETIME_AMPM_RE, 2).cast("int"))
        .withColumn("year", F.regexp_extract(src, DATETIME_AMPM_RE, 3).cast("int"))
        .withColumn("hour", ampm_to_24h(
            F.regexp_extract(src, DATETIME_AMPM_RE, 4),
            F.regexp_extract(src, DATETIME_AMPM_RE, 7)))
        .withColumn("minute", F.regexp_extract(src, DATETIME_AMPM_RE, 5).cast("int"))
    )
    return h


def _baltimore(raw) -> Harmonizer:
    h = Harmonizer(raw).make_valid_variable_names()
    h.df = h.df.withColumn(
        "geolocation", F.regexp_replace(F.col("location1"), r"[()\s]", ""))
    h = h.filter_nonempty("geolocation")
    h.df = extract_time_parts(extract_date_parts(h.df, "crimedate"),
                              "crimetime")
    return (
        h.map_var("description", "description")
        .map_values("description", gen.BALTIMORE_MAP)
        .map_var("insideoutside", "location", keep_orig=True)
        .derive_datetime()
        .derive_dayofweek()
        .add_provenance(city="baltimore", notebookhtml="Baltimore.html")
        .set_col_data_types(INT_PARTS)
    )


def _detroit(raw) -> Harmonizer:
    h = _ampm_parts(Harmonizer(raw).make_valid_variable_names(),
                    "incidentdatetime")
    h = h.set_col_data_types({"latitude": "double", "longitude": "double"})
    h = (
        h.filter_range_sanity("latitude", lo=0, hi=99999)
        .filter_range_sanity("longitude", hi=0)
    )
    return (
        h.map_var("offensecategory", "description")
        .map_values("description", gen.DETROIT_MAP)
        .derive_geolocation()
        .derive_datetime()
        .derive_dayofweek()
        .add_provenance(city="detroit", notebookhtml="Detroit.html")
    )


def _losangeles(raw) -> Harmonizer:
    h = _ampm_parts(Harmonizer(raw).make_valid_variable_names(), "crime_date")
    h = h.filter_nonempty("latitude")
    h = (
        h.map_values("gang_related", {"Y": "1", "N": "0"})
        .set_col_data_types({"gang_related": "int", "victim_count": "int",
                             "latitude": "double", "longitude": "double"})
        .map_var("crime_category_description", "description")
        .map_values("description", gen.LA_MAP)
    )
    return (
        h.derive_geolocation()
        .derive_datetime()
        .derive_dayofweek()
        .add_provenance(city="losangeles", notebookhtml="LosAngeles.html")
    )


PIPELINES = {"baltimore": _baltimore, "detroit": _detroit,
             "losangeles": _losangeles}

_ENUM = "enum," + ",".join(gen.HARMONIZED_DESCR)
META = {
    "description": ColumnMeta(vargroup="01.Incident", uifilter=True,
                              vartype=_ENUM),
    "dayofweek": ColumnMeta(vargroup="00.Date and Time", uifilter=True),
    "hour": ColumnMeta(vargroup="00.Date and Time", uifilter=True),
    "datetime": ColumnMeta(vargroup="00.Date and Time", vartype="datetime"),
    "city": ColumnMeta(vargroup="02.Dataset", uifilter=True),
    "weapon": ColumnMeta(vargroup="01.Incident", uifilter=True),
    "neighborhood": ColumnMeta(vargroup="03.Location", uifilter=True),
    "area_name": ColumnMeta(vargroup="03.Location", uifilter=True),
}


def harmonize_pass(spark, tracer, csvs: dict, outdir: str) -> dict:
    """One ETL pass: read -> harmonize -> dictionary -> Parquet (data
    partitioned by year, plus the dictionary), overwriting ``outdir``.

    Returns ``{city: (data_path, dict_path)}``."""
    cat = Catalog(spark)
    built = {}
    with tracer.span("construct"):
        for city, info in csvs.items():
            with tracer.span("sources.ingest.read_csv"):
                raw = read_city_csv(spark, info["path"])
            with tracer.span("operators.harmonize.construct"):
                h = PIPELINES[city](raw)
                h.df = split_geolocation(h.df, lat_col="lat", lon_col="lon")
            with tracer.span("operators.profiler.dictionary"):
                meta = {k: v for k, v in META.items() if k in h.df.columns}
                dictionary = h.build_dictionary(meta)
            built[city] = (h.df, dictionary)
    # no forced plan span here: a write plans its own command, so planning
    # the frames up front would be done twice
    out = {}
    with tracer.span("execute"):
        for city, (data, dictionary) in built.items():
            dpath = os.path.join(outdir, f"{city}_harmonized")
            tpath = os.path.join(outdir, f"{city}_dictionary")
            with tracer.span("sources.catalog.save_parquet"):
                cat.save_parquet(data, dpath, partition_by=["year"])
            with tracer.span("sources.catalog.save_parquet"):
                cat.save_parquet(dictionary, tpath)
            out[city] = (dpath, tpath)
    return out


def parquet_files(path: str) -> tuple[int, int]:
    """(part files, bytes) under a Parquet output directory."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
