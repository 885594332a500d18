"""Each workload's correctness check passes on the program's real output
and fails on a deliberately corrupted copy of it."""

import glob
import gzip
import os
import shutil

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.workloads import _feed_schema


def test_snapshot_check_catches_corrupt_backup(spark, tmp_path):
    from storagetapper_spark.functions.json_codec import (
        decode_json,
        restore_columns,
    )
    from storagetapper_spark.jobs import run_snapshot_job
    from storagetapper_spark.sinks.files import verify_manifest
    from storagetapper_spark.sources.snapshot import snapshot_scan
    from storagetapper_spark.state import Registry, TableRegistration

    n = 2_000
    pq.write_table(gen.snapshot_table(4, n), str(tmp_path / "src.parquet"))
    src = spark.read.parquet(str(tmp_path / "src.parquet"))
    cols = src.columns + ["op", "seqno"]
    registry = Registry(str(tmp_path / "reg.json"))
    reg = registry.register(TableRegistration(
        service="t", cluster="c", db="d", table="t", pk_cols=gen.SNAPSHOT_PK))
    manifest = run_snapshot_job(spark, registry, reg, src, str(tmp_path / "o"))
    out = str(tmp_path / "o" / reg.topic())
    source = checks.spark_digest(
        snapshot_scan(src, pk_cols=gen.SNAPSHOT_PK), cols)

    def restored(path):
        return checks.spark_digest(restore_columns(
            decode_json(spark.read.text(path)), src.schema), cols)

    assert checks.check_snapshot(n, source, restored(out), manifest,
                                 verify_manifest(spark, out)) == []

    # corrupt one row of one backup file in a copy of the output
    bad = str(tmp_path / "bad")
    shutil.copytree(out, bad)
    part = sorted(glob.glob(os.path.join(bad, "part-*.gz")))[0]
    with gzip.open(part, "rt") as f:
        lines = f.read().splitlines()
    lines[0] = lines[0].replace('"Value":"', '"Value":"9', 1)
    with gzip.open(part, "wt") as f:
        f.write("\n".join(lines) + "\n")
    for crc in glob.glob(os.path.join(bad, ".*.crc")):
        os.remove(crc)
    problems = checks.check_snapshot(n, source, restored(bad), manifest,
                                     verify_manifest(spark, bad))
    assert any("restored rows differ" in p for p in problems)
    assert any("verify_manifest not ok" in p for p in problems)
    short = dict(manifest, total_records=n - 1)
    assert checks.check_snapshot(n, source, restored(out), short,
                                 verify_manifest(spark, out))


def test_changelog_check_catches_wrong_state(spark, tmp_path):
    from storagetapper_spark.operators.merge import latest_state

    schema = _feed_schema()
    cols = [f.name for f in schema.fields]
    feed = tmp_path / "feed"
    feed.mkdir()
    batches = gen.changelog_batches(6, 500, 200, 3)
    for i, b in enumerate(batches):
        (feed / f"b{i}.json").write_text("\n".join(b) + "\n")
    events = spark.read.schema(schema).json(str(feed))
    ref = latest_state(events, gen.FEED_PK, drop_deleted=False)
    n = sum(len(b) for b in batches)
    good = checks.spark_digest(ref, cols)
    assert checks.check_changelog(good, checks.spark_digest(ref, cols),
                                  n, n) == []
    # a state that lost one update, and a stream that lost events
    stale = ref.withColumn(
        "n", F.when(F.col("pk") == F.lit(ref.first().pk), F.lit(-1))
              .otherwise(F.col("n")))
    assert checks.check_changelog(checks.spark_digest(stale, cols), good,
                                  n, n)
    assert checks.check_changelog(good, good, n - 5, n)
    # a state that kept a duplicate row per key
    dup = ref.unionByName(ref.limit(2)).unionByName(ref.limit(2))
    assert checks.check_changelog(checks.spark_digest(dup, cols), good, n, n)


def test_dedup_check_catches_wrong_rows(spark, tmp_path):
    from storagetapper_spark.plans.registry import ORACLES, QUERIES
    from tools.check import _pandas_rows

    data = tmp_path / "in"
    data.mkdir()
    path = str(data / "documents.parquet")
    pq.write_table(gen.documents(9, 200, 0), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    name = "dedup_exact"
    sdf = QUERIES[name](spark, str(data))
    rows = _pandas_rows(sdf.toPandas())
    rel = con.sql(ORACLES[name])
    orows = _pandas_rows(rel.df())
    assert checks.check_query(name, sdf.columns, rows, rel.columns,
                              orows) == []
    changed = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    assert checks.check_query(name, sdf.columns, changed, rel.columns, orows)
    assert checks.check_query(name, sdf.columns, rows[1:], rel.columns, orows)
    assert checks.check_query(name, sdf.columns[:-1] + ["other"], rows,
                              rel.columns, orows)
    con.close()
