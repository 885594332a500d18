"""Correctness checks, one per workload.

Each check returns a list of problems; an empty list means the output
is correct.  Digests are order-insensitive, so a check never depends
on how Spark partitioned or ordered its output.
"""

from __future__ import annotations


def spark_digest(df, cols: list[str]) -> tuple[int, int, int]:
    """(rows, xor of row hashes, sum of the low 32 bits of row hashes)
    over ``cols`` in sorted order: equal multisets of rows give equal
    digests; the sum term catches pairs of duplicate rows that the xor
    alone would cancel."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(cols)])
    row = (df.select(h.alias("_h"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.expr("bit_xor(_h)").alias("x"),
                  F.sum(F.col("_h").bitwiseAND(F.lit(0xFFFFFFFF)))
                   .alias("s"))
             .collect()[0])
    return int(row.n), int(row.x or 0), int(row.s or 0)


def check_snapshot(n_rows: int, source_digest, restored_digest,
                   manifest: dict, verify: dict) -> list[str]:
    """The restored backup equals the source row for row, the consumer
    side verification passes, and the manifest counts every row."""
    problems = []
    if restored_digest != source_digest:
        problems.append(f"restored rows differ from the source: "
                        f"{restored_digest} != {source_digest}")
    if not verify.get("ok"):
        problems.append(f"verify_manifest not ok: {verify}")
    if manifest.get("total_records") != n_rows:
        problems.append(f"manifest total_records "
                        f"{manifest.get('total_records')} != {n_rows}")
    return problems


def check_changelog(state_digest, reference_digest, input_rows: int,
                    events_landed: int) -> list[str]:
    """The streamed state equals a batch latest_state over the snapshot
    and every landed event, and the stream read every landed event."""
    problems = []
    if state_digest != reference_digest:
        problems.append(f"final state differs from the batch reference: "
                        f"{state_digest} != {reference_digest}")
    if input_rows != events_landed:
        problems.append(f"stream read {input_rows} rows, "
                        f"{events_landed} events landed")
    return problems


def check_query(name: str, spark_cols: list[str], spark_rows: list[tuple],
                oracle_cols: list[str], oracle_rows: list[tuple]) -> list[str]:
    """Spark output equals the DuckDB oracle: same column names, row
    count and order-insensitive value digest, as tools/check.py
    compares them."""
    from tools.check import frame_digest

    scols = [c.lower() for c in spark_cols]
    ocols = [c.lower() for c in oracle_cols]
    if sorted(scols) != sorted(ocols):
        return [f"{name}: columns {sorted(scols)} != oracle {sorted(ocols)}"]
    if len(spark_rows) != len(oracle_rows):
        return [f"{name}: {len(spark_rows)} rows != oracle "
                f"{len(oracle_rows)}"]
    if frame_digest(scols, spark_rows) != frame_digest(ocols, oracle_rows):
        return [f"{name}: value digest differs from the oracle"]
    return []
