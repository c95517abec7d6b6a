"""Tests of the benchmark's own parts: the seeded input generator and
the event-log parser.  Run with ``python3 -m pytest perfbench``."""

from __future__ import annotations

import glob
import hashlib
import os
import sys

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import eventlog  # noqa: E402
import inputs  # noqa: E402
from spans import Spans  # noqa: E402

SMALL = inputs.InventorySpec(rows=20_000, files=4, addresses=300, zipf=1.1)


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path, "rb") as f:
                out[os.path.relpath(path, directory)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(root, name: str, seed: int) -> str:
    return inputs.cached(str(root), name,
                         lambda tmp, final: inputs.write_inventory(tmp, final, SMALL, seed))


def test_same_seed_same_inventory_and_expected(tmp_path):
    a = _generate(tmp_path / "a", "inv", 7)
    b = _generate(tmp_path / "b", "inv", 7)
    c = _generate(tmp_path / "c", "inv", 8)
    da, db = _digest(a), _digest(b)
    # The manifest names its own directory; everything else is identical.
    manifest = [k for k in da if k.endswith("manifest.json")]
    assert len(manifest) == 1
    assert {k: v for k, v in da.items() if k not in manifest + [".done"]} == \
        {k: v for k, v in db.items() if k not in manifest + [".done"]}
    assert inputs.load_expected(a) == inputs.load_expected(b)
    assert inputs.load_expected(a) != inputs.load_expected(c)


def test_expected_aggregate_matches_arrow(tmp_path):
    out = _generate(tmp_path, "inv", 3)
    t = ds.dataset(os.path.join(out, "data")).to_table(columns=["key", "size"])
    good = t.filter(pc.match_substring(t["key"], "/"))
    addr = pc.list_element(pc.split_pattern(good["key"], "/"), 0)
    agg = good.append_column("address", addr).group_by("address").aggregate(
        [("size", "sum"), ("key", "count")])
    want = dict(zip(agg["address"].to_pylist(),
                    zip(agg["size_sum"].to_pylist(), agg["key_count"].to_pylist())))
    expected, meta = inputs.load_expected(out)
    assert expected == want
    assert meta == {"total_rows": SMALL.rows,
                    "malformed_keys": SMALL.rows - good.num_rows,
                    "null_size_rows": inputs.NULL_SIZES}


def test_manifest_served_at_reference_key(tmp_path):
    from go_mailio_diskusage_handler_spark.sources.manifest import (
        ManifestNotFoundError, fetch_manifest)

    out = _generate(tmp_path, "inv", 1)
    download = inputs.inventory_download(out)
    m = fetch_manifest(f"s3://{inputs.INVENTORY_BUCKET}/{inputs.INVENTORY_PREFIX}",
                       inputs.INVENTORY_DAY, download)
    assert len(m.files) == SMALL.files
    assert all(os.path.exists(p.removeprefix("file://")) for p in m.data_paths("file"))
    with pytest.raises(ManifestNotFoundError):
        download(inputs.INVENTORY_BUCKET, "missing/manifest.json")


def test_covered_merges_overlaps_and_clips():
    assert eventlog.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1
    assert eventlog.covered([], 0, 1) == 0


@pytest.fixture(scope="module")
def captured_log(tmp_path_factory):
    """Event log of a tiny job run under a span: a scan, a shuffle and
    a Python UDF."""
    from pyspark.sql import SparkSession, functions as F

    logs = tmp_path_factory.mktemp("eventlog")
    data = str(tmp_path_factory.mktemp("data") / "t.parquet")
    spark = (SparkSession.builder.master("local[2]").appName("eventlog-test")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{logs}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    try:
        spark.range(1000).withColumn("k", F.col("id") % 7).write.parquet(data)
        spans = Spans(True, spark.sparkContext)
        plus_one = F.udf(lambda x: x + 1, "long")
        with spans.span("job"):
            rows = (spark.read.parquet(data).groupBy("k").count()
                    .select(plus_one("count").alias("c")).collect())
    finally:
        spark.stop()
    (path,) = glob.glob(os.path.join(str(logs), "*"))
    return eventlog.parse(path), spans, rows


def test_parser_ties_jobs_to_span_and_sums_task_metrics(captured_log):
    log, spans, rows = captured_log
    assert sorted(r.c for r in rows) == sorted(n + 1 for n in [143] * 6 + [142])
    (span,) = spans.named("job")
    jobs = log.jobs_of(spans.descendants(span["id"]))
    assert jobs and all(j.end is not None and j.end >= j.start for j in jobs)
    # The write that made the input ran outside the span.
    assert len(log.jobs) > len(jobs)
    tasks = log.tasks_of(jobs)
    t = eventlog.totals(tasks)
    assert t["scan.input_records"] == 1000
    assert t["scan.tasks"] >= 1
    assert t["shuffle.write_records"] > 0
    assert t["shuffle.read_bytes"] > 0
    assert t["executor.run_s"] > 0 and t["executor.cpu_s"] > 0
    assert t["python.bytes_sent"] > 0 and t["python.bytes_received"] > 0
    busy = eventlog.covered([(x.launch, x.finish) for x in tasks], span["start"], span["end"])
    assert 0 < busy <= span["end"] - span["start"]
