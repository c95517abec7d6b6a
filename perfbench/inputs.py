"""Seeded input generation for the benchmark workloads.

Everything here runs before any timing starts.  The same seed always
writes the same bytes, so a directory generated once for a seed is
reused by later runs with that seed (see :func:`cached`).

* :func:`write_inventory` writes an S3-Inventory-shaped Parquet data
  set (the reference's full column list) plus its ``manifest.json``
  under the reference's ``{prefix}/{YYYY-MM-DD}T01-00Z/`` key, and
  computes the expected per-address aggregate with DuckDB -- an engine
  independent of the one under test.
* :func:`write_tables` writes the ten fixture tables the registry
  queries read (``region`` ... ``embeddings``), with the column domains
  of the package's own test fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The inventory date every manifest is written for; the handler under
# test gets a clock pinned to this day.
INVENTORY_DAY = datetime(2024, 3, 1, 9, 30, tzinfo=timezone.utc)
INVENTORY_BUCKET = "inventory"
INVENTORY_PREFIX = "mail-bucket/daily"

# S3 Inventory Parquet schema (reference types.go:17).
FILE_SCHEMA = (
    "message s3.inventory { required binary bucket (STRING); "
    "required binary key (STRING); optional binary version_id (STRING); "
    "optional boolean is_latest; optional boolean is_delete_marker; "
    "optional int64 size; optional int64 last_modified_date (TIMESTAMP_MILLIS); "
    "optional binary e_tag (STRING); optional binary storage_class (STRING); "
    "optional boolean is_multipart_uploaded; "
    "optional binary replication_status (STRING); "
    "optional binary encryption_status (STRING); "
    "optional int64 object_lock_retain_until_date (TIMESTAMP_MILLIS); "
    "optional binary object_lock_mode (STRING); "
    "optional binary object_lock_legal_hold_status (STRING); "
    "optional binary intelligent_tiering_access_tier (STRING); "
    "optional binary bucket_key_status (STRING); "
    "optional binary checksum_algorithm (STRING); "
    "optional binary object_access_control_list (STRING); "
    "optional binary object_owner (STRING);}"
)


MALFORMED_FRAC = 0.01  # share of slash-less keys, which a refresh must skip
NULL_SIZES = 8  # rows with a NULL size, at the start of the first file


@dataclass(frozen=True)
class InventorySpec:
    """Shape of one generated inventory."""

    rows: int
    files: int
    addresses: int
    zipf: float | None  # None: uniform address choice


def cached(root: str, name: str, write) -> str:
    """Return ``root/name``, calling ``write(tmp_dir, final_dir)`` first
    when the directory is not complete yet.  A directory is complete
    once its ``.done`` marker names the directory's own absolute path
    (inputs may embed it); a half-written or moved one is rewritten."""
    out = os.path.abspath(os.path.join(root, name))
    marker = os.path.join(out, ".done")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == out:
                os.utime(out)  # most recently used, for prune_cache
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp, out)
    with open(os.path.join(tmp, ".done"), "w") as f:
        f.write(out)
    os.rename(tmp, out)
    return out


def prune_cache(root: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used directories under ``root``."""
    dirs = sorted((os.path.join(root, n) for n in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _address_pool(n: int) -> pa.Array:
    ids = pc.cast(pa.array(np.arange(n, dtype=np.int64)), pa.string())
    return pc.binary_join_element_wise("u", ids, "@mail.example", "")


def _address_ids(rng: np.random.Generator, spec: InventorySpec) -> np.ndarray:
    if spec.zipf is None:
        return rng.integers(0, spec.addresses, spec.rows, dtype=np.int64)
    # Bounded Zipf by inverse CDF: rank r has weight 1 / r**zipf.
    w = 1.0 / np.arange(1, spec.addresses + 1, dtype=np.float64) ** spec.zipf
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ids = np.searchsorted(cdf, rng.random(spec.rows), side="right")
    # Shuffle which address gets which rank, so rank is not id order.
    return rng.permutation(spec.addresses)[np.minimum(ids, spec.addresses - 1)]


def _inventory_table(rng: np.random.Generator, start: int, n: int,
                     addr_ids: np.ndarray, pool: pa.Array) -> pa.Table:
    ids = addr_ids[start:start + n]
    addr = pool.take(pa.array(ids))
    obj = pc.cast(pa.array(np.arange(start, start + n, dtype=np.int64)), pa.string())
    good = pc.binary_join_element_wise(addr, "/mail/", obj, "")
    bad = pc.binary_join_element_wise(addr, obj, "")  # no slash: malformed
    is_bad = pa.array(rng.random(n) < MALFORMED_FRAC)
    key = pc.if_else(is_bad, bad, good)
    size = rng.integers(0, 5_000_000, n, dtype=np.int64)
    size_arr = pa.array(size)
    if start == 0:
        null_mask = np.zeros(n, dtype=bool)
        null_mask[:NULL_SIZES] = True
        size_arr = pc.if_else(pa.array(null_mask), pa.scalar(None, pa.int64()), size_arr)
    modified = pa.array(
        1_700_000_000_000 + rng.integers(0, 90 * 86_400_000, n, dtype=np.int64),
        pa.timestamp("ms"),
    )
    classes = pa.array(["STANDARD", "STANDARD_IA", "GLACIER"])
    cls = classes.take(pa.array(rng.choice(3, n, p=[0.8, 0.15, 0.05])))
    null_str = pa.nulls(n, pa.string())
    return pa.table({
        "bucket": pa.array(["mail-bucket"] * n),
        "key": key,
        "version_id": null_str,
        "is_latest": pa.array(np.ones(n, dtype=bool)),
        "is_delete_marker": pa.array(np.zeros(n, dtype=bool)),
        "size": size_arr,
        "last_modified_date": modified,
        "e_tag": pc.binary_join_element_wise("etag-", obj, ""),
        "storage_class": cls,
        "is_multipart_uploaded": pa.array(size > 4_000_000),
        "replication_status": null_str,
        "encryption_status": pa.array(["SSE-S3"] * n),
        "object_lock_retain_until_date": pa.nulls(n, pa.timestamp("ms")),
        "object_lock_mode": null_str,
        "object_lock_legal_hold_status": null_str,
        "intelligent_tiering_access_tier": null_str,
        "bucket_key_status": pa.array(["DISABLED"] * n),
        "checksum_algorithm": null_str,
        "object_access_control_list": null_str,
        "object_owner": pa.array(["owner-1"] * n),
    })


def write_inventory(out: str, final: str, spec: InventorySpec, seed: int) -> None:
    """Write data files, manifest and ``expected.parquet`` under ``out``;
    the manifest addresses the data files under ``final``."""
    rng = np.random.default_rng(seed)
    addr_ids = _address_ids(rng, spec)
    pool = _address_pool(spec.addresses)
    data_dir = os.path.join(out, "data")
    os.makedirs(data_dir)
    per_file = -(-spec.rows // spec.files)
    files = []
    for i in range(spec.files):
        start = i * per_file
        n = min(per_file, spec.rows - start)
        table = _inventory_table(rng, start, n, addr_ids, pool)
        key = f"data/part-{i:05d}.parquet"
        pq.write_table(table, os.path.join(out, key), compression="snappy")
        files.append({"key": key, "size": os.path.getsize(os.path.join(out, key)),
                      "MD5checksum": ""})
    manifest = {
        # An absolute directory: the handler reads file://{final}/{key}.
        "sourceBucket": final,
        "destinationBucket": f"arn:aws:s3:::{INVENTORY_BUCKET}",
        "version": "2016-11-30",
        "creationTimestamp": str(int(INVENTORY_DAY.timestamp() * 1000)),
        "fileFormat": "Parquet",
        "fileSchema": FILE_SCHEMA,
        "files": files,
    }
    day = INVENTORY_DAY.strftime("%Y-%m-%d")
    mdir = os.path.join(out, "manifests", INVENTORY_PREFIX, f"{day}T01-00Z")
    os.makedirs(mdir)
    with open(os.path.join(mdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    expected_aggregate(out)


def expected_aggregate(out: str) -> None:
    """Per-address SUM/COUNT of the data files (``expected.parquet``)
    and the row counters a refresh observes (``expected.json``),
    computed by DuckDB."""
    import duckdb

    files = f"read_parquet('{out}/data/*.parquet')"
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"""COPY (
                SELECT split_part(key, '/', 1) AS address,
                       CAST(SUM(size) AS BIGINT) AS size_bytes,
                       COUNT(*) AS number_files
                FROM {files}
                WHERE contains(key, '/')
                GROUP BY 1
                ORDER BY 1
            ) TO '{out}/expected.parquet' (FORMAT parquet)"""
        )
        rows, malformed, null_sizes = con.execute(
            f"""SELECT COUNT(*), COUNT(*) FILTER (WHERE NOT contains(key, '/')),
                       COUNT(*) FILTER (WHERE size IS NULL) FROM {files}"""
        ).fetchone()
    finally:
        con.close()
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"total_rows": rows, "malformed_keys": malformed,
                   "null_size_rows": null_sizes}, f)


def inventory_download(out: str):
    """``download(bucket, key)`` callable serving manifests from ``out``."""
    from go_mailio_diskusage_handler_spark.sources.manifest import (
        ManifestNotFoundError,
    )

    def download(bucket: str, key: str) -> bytes:
        path = os.path.join(out, "manifests", key)
        if bucket != INVENTORY_BUCKET or not os.path.exists(path):
            raise ManifestNotFoundError(f"{bucket}/{key}")
        with open(path, "rb") as f:
            return f.read()

    return download


def load_expected(out: str) -> tuple[dict[str, tuple[int | None, int]], dict]:
    """``({address: (size_bytes, number_files)}, observed row counters)``."""
    t = pq.read_table(os.path.join(out, "expected.parquet"))
    with open(os.path.join(out, "expected.json")) as f:
        meta = json.load(f)
    return dict(zip(t["address"].to_pylist(),
                    zip(t["size_bytes"].to_pylist(), t["number_files"].to_pylist()))), meta


# Fixture-table vocabularies, as in the package's test fixtures.
_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_PART_ADJ = "red blue small large hot cold old new".split()
_PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "ms")
    return pa.array(base + rng.integers(0, days, n) * np.timedelta64(86_400_000, "ms"))


def write_tables(out: str, seed: int, sf: float) -> None:
    """Write ``{table}.parquet`` for the ten fixture tables at scale
    factor ``sf`` (row counts as in the package fixtures: lineitem has
    6 M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs, n_vecs = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

    def key_names(prefix, n):
        return pc.binary_join_element_wise(
            prefix, pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()), 9, "0"), "")

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": regions}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": key_names("Customer#", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                          "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": key_names("Supplier#", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pc.binary_join_element_wise(
                _choice(rng, _PART_ADJ, n_part), _choice(rng, _PART_NOUN, n_part), " "),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                    "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                             "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pc.binary_join_element_wise(
                '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n_ev)), pa.string()), "}", "")}),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about 5 % are near-duplicates of an
    earlier document with one or two trailing ``dup`` tokens."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _choice(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
