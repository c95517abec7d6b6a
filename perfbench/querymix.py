"""The ``query_mix`` workload: registry queries forced by a noop sink.

One closed-loop client runs every query of :data:`MIX` per pass, in a
seed-shuffled order.  Each query is timed in two parts: construction
(``registry.QUERIES[name](spark, sf_dir)``, which may itself run Spark
jobs) and execution (a ``noop``-format write, which computes every
output column -- unlike ``count()``, which Catalyst may prune down to
a partial plan).  After each query the frame is dropped and the cache
cleared, as ``bench.py`` does.

Outside timing, every query's output is compared once per run with its
``registry.ORACLE_SQL`` twin run by DuckDB over the same Parquet files,
by the rule of the package's test suite: equal sorted column names,
equal dtype groups, equal row counts and equal rows after rounding
floats to 6 digits, ignoring row order.
"""

from __future__ import annotations

import time

from spans import Spans

# Each query stands for one layer mix; see README.md.
MIX = (
    "events_overlap_join",      # shuffle + distinct aggregate that count() drops
    "dedup_clusters",           # driver-side construction: iterative actions
    "udf_cogroup_asof",         # Python worker boundary (cogrouped pandas UDF)
    "du_core",                  # scan + aggregate
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_KIND_GROUP = {"i": "int", "u": "int", "f": "float", "b": "bool",
               "O": "obj", "M": "dt", "m": "td", "c": "complex"}


def _norm(v, ndigits: int = 6):
    if hasattr(v, "item") and getattr(v, "shape", None) == ():
        v = v.item()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float):
        return "nan" if v != v else round(v, ndigits)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _normalize(rows) -> list[tuple]:
    return sorted((tuple(_norm(v) for v in row) for row in rows),
                  key=lambda row: tuple((v is None, str(v)) for v in row))


def oracle_mismatch(spark, ddb, name: str, sf_dir: str) -> str | None:
    """Compare one query with its DuckDB oracle; return why they differ,
    or None when they agree."""
    from go_mailio_diskusage_handler_spark import registry

    sdf = registry.QUERIES[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    spdf = sdf.select(*cols).toPandas()
    ora = ddb.execute(registry.ORACLE_SQL[name]).df()
    if sorted(ora.columns.tolist()) != cols:
        return f"columns spark={cols} oracle={sorted(ora.columns.tolist())}"
    for c in cols:
        ks, ko = spdf[c].dtype.kind, ora[c].dtype.kind
        if _KIND_GROUP.get(ks, ks) != _KIND_GROUP.get(ko, ko):
            return f"dtype {c}: spark={spdf[c].dtype} oracle={ora[c].dtype}"
    a = _normalize(spdf.itertuples(index=False, name=None))
    b = _normalize(ora[cols].itertuples(index=False, name=None))
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} rows differ" if bad else None


def check_all(spark, sf_dir: str) -> dict[str, str]:
    """Oracle-check every mix query; return {name: reason} for failures."""
    import duckdb

    ddb = duckdb.connect()
    try:
        for t in TABLES:
            ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        failures = {}
        for name in MIX:
            try:
                reason = oracle_mismatch(spark, ddb, name, sf_dir)
            except Exception as exc:  # a failed query is a counted failure
                reason = f"{type(exc).__name__}: {exc}"
            if reason:
                failures[name] = reason
            spark.catalog.clearCache()
        return failures
    finally:
        ddb.close()


def run_query(spark, name: str, sf_dir: str, spans: Spans) -> tuple[float, float]:
    """Construct and execute one query; return (construct_s, execute_s)."""
    from go_mailio_diskusage_handler_spark import registry

    t0 = time.perf_counter()
    with spans.span(f"query.{name}.construct"):
        df = registry.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    with spans.span(f"query.{name}.execute"):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    del df
    spark.catalog.clearCache()
    return t1 - t0, t2 - t1
