"""The three workloads.  Each one sets up its seeded inputs, warms up,
runs its timed loop for ``ctx.seconds``, checks its output against a
reference and, when tracing, probes its layers one call at a time.

Only public functions of the program are called, and every call that
is timed runs inside a ``ctx.tracer.span`` naming its layer.
"""

from __future__ import annotations

import os
import statistics
import time
from statistics import median
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.trace import Tracer
from tools.stream_bench import _du

# Each timed loop runs at least this many ops, and more while --seconds
# have not passed: the JIT is still warming during the first ops, so a
# fixed floor keeps the median comparable from run to run.
MIN_OPS = {"snapshot_backup": 5, "changelog_tail": 8, "dedup_curation": 1}

SIZES = {
    "snapshot_backup": {"rows": 60_000},
    "changelog_tail": {"keys": 50_000, "batch_events": 2_000,
                       "warmup_batches": 5},
    "dedup_curation": {"docs": 1_240, "hot_docs": 1_080},
}

DEDUP_QUERIES = ["dedup_exact", "dedup_minhash_lsh_star",
                 "dedup_ngram_jaccard"]
PAIR_QUERIES = ["dedup_minhash_lsh_star", "dedup_ngram_jaccard"]
_PROBE_REPS = 2


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    tracing: bool
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # end-to-end, by name
    detail: dict = field(default_factory=dict)   # everything else
    t_first_op: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def start_timing(self) -> None:
        self.t_first_op = time.time()

    def timing(self) -> bool:
        return time.time() - self.t_first_op < self.seconds


def _materialize(df) -> int:
    from bench import materialize
    return materialize(df)


# --- snapshot_backup ----------------------------------------------------

def snapshot_backup(ctx: Ctx) -> None:
    from storagetapper_spark.functions.json_codec import (
        decode_json,
        encode_json,
        restore_columns,
    )
    from storagetapper_spark.jobs import run_snapshot_job
    from storagetapper_spark.sinks.files import verify_manifest, write_files
    from storagetapper_spark.sources.snapshot import snapshot_scan
    from storagetapper_spark.state import Registry, TableRegistration

    spark, span = ctx.spark, ctx.tracer.span
    n = SIZES["snapshot_backup"]["rows"]
    pk = gen.SNAPSHOT_PK
    pq.write_table(gen.snapshot_table(ctx.seed, n), ctx.path("source.parquet"))
    src = spark.read.parquet(ctx.path("source.parquet"))
    cols = src.columns
    registry = Registry(ctx.path("registry.json"))
    reg = registry.register(TableRegistration(
        service="perfbench", cluster="c", db="bench", table="snap",
        pk_cols=pk))

    def backup(r: int) -> tuple[dict, str]:
        root = ctx.path(f"out{r % 2}")
        with span("jobs.run_snapshot_job"):
            manifest = run_snapshot_job(spark, registry, reg, src, root)
        return manifest, os.path.join(root, reg.topic())

    def restore(out: str) -> tuple[dict, object]:
        with span("restore"):
            verify = verify_manifest(spark, out)
            back = restore_columns(decode_json(spark.read.text(out)),
                                   src.schema)
            _materialize(back)
        return verify, back

    warm = 3
    for r in range(warm):  # warm-up: codegen, JIT and the gzip path
        restore(backup(r)[1])
    ctx.tracer.spans.clear()

    ctx.start_timing()
    r = warm
    while r < warm + MIN_OPS["snapshot_backup"] or ctx.timing():
        manifest, out = backup(r)
        ctx.attempted += 1
        verify, back = restore(out)
        ctx.attempted += 1
        r += 1

    jobs = ctx.tracer.walls("jobs.run_snapshot_job")
    restores = ctx.tracer.walls("restore")
    data_bytes = sum(f["bytes"] for f in manifest["files"].values())
    ctx.metrics.update(items_per_s=n / median(jobs),
                       op_s_p50=median(restores))
    ctx.detail.update(
        reps=len(jobs), snapshot_rows_per_s=n / median(jobs),
        snapshot_bytes_per_row=data_bytes / n,
        restore_rows_per_s=n / median(restores),
        job_s=jobs, restore_s=restores)
    ctx.detail["op_spans"] = ["jobs.run_snapshot_job", "restore"]

    ctx.check(checks.check_snapshot(
        n, checks.spark_digest(
            snapshot_scan(src, pk_cols=pk).select(*cols, "op", "seqno"),
            cols + ["op", "seqno"]),
        checks.spark_digest(back, cols + ["op", "seqno"]),
        manifest, verify))

    if not ctx.tracing:
        return
    # Cumulative prefixes of the snapshot path, each materialized and
    # differenced against the one before it.
    par = spark.sparkContext.defaultParallelism
    snap = snapshot_scan(src, pk_cols=pk)
    srt = snap.repartitionByRange(par, *pk).sortWithinPartitions(*pk)
    enc = encode_json(srt, pk_cols=pk)
    probe = ctx.path("probe")
    steps = [
        ("sources.snapshot.scan", lambda: _materialize(snap)),
        ("jobs.partition_sort", lambda: _materialize(srt)),
        ("functions.json_codec.encode", lambda: _materialize(enc)),
        ("sinks.files.write", lambda: write_files(
            enc, probe, fmt="text", compression="gzip",
            write_manifest=False)),
        ("sinks.files.write_manifest", lambda: write_files(
            enc, probe, fmt="text", compression="gzip",
            write_manifest=True)),
        ("sinks.files.verify_manifest",
         lambda: verify_manifest(spark, probe)),
        ("functions.json_codec.decode", lambda: _materialize(
            restore_columns(decode_json(spark.read.text(probe)),
                            src.schema))),
    ]
    for _ in range(_PROBE_REPS):
        for tag, fn in steps:
            with span(tag):
                fn()
    t = {tag: median(ctx.tracer.walls(tag)) for tag, _ in steps}
    ctx.detail["layers"] = {
        "sources.snapshot.scan_s": t["sources.snapshot.scan"],
        "jobs.partition_sort_s":
            t["jobs.partition_sort"] - t["sources.snapshot.scan"],
        "functions.json_codec.encode_s":
            t["functions.json_codec.encode"] - t["jobs.partition_sort"],
        "sinks.files.write_s":
            t["sinks.files.write"] - t["functions.json_codec.encode"],
        "sinks.files.manifest_s":
            t["sinks.files.write_manifest"] - t["sinks.files.write"],
        "sinks.files.verify_s": t["sinks.files.verify_manifest"],
        "functions.json_codec.decode_s": t["functions.json_codec.decode"],
        "sinks.files.bytes_out": data_bytes,
        "sinks.files.files_out": len(manifest["files"]),
    }


# --- changelog_tail -----------------------------------------------------

def _feed_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("seqno", T.LongType()),
    ])


def changelog_tail(ctx: Ctx) -> None:
    from storagetapper_spark.operators.merge import latest_state
    from storagetapper_spark.sources.snapshot import snapshot_scan
    from storagetapper_spark.streaming.pipeline import (
        incremental_upsert_sink,
        read_changelog_stream,
    )

    spark, span = ctx.spark, ctx.tracer.span
    size = SIZES["changelog_tail"]
    keys, warm = size["keys"], size["warmup_batches"]
    schema = _feed_schema()
    cols = [f.name for f in schema.fields]
    # enough batches for the run at >= 8 batches/s; the run stops early
    # (and says so) if it lands them all
    n_batches = warm + max(MIN_OPS["changelog_tail"], int(8 * ctx.seconds))
    batches = gen.changelog_batches(ctx.seed, keys, size["batch_events"],
                                    n_batches)
    staging, feed = ctx.path("staging"), ctx.path("feed")
    state, ckpt = ctx.path("state"), ctx.path("checkpoint")
    for d in (staging, feed):
        os.makedirs(d)
    for i, lines in enumerate(batches):
        with open(os.path.join(staging, f"b{i:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")

    # seed the state from the snapshot (seqno -1), as
    # jobs.run_table_pipeline step 2 does
    pq.write_table(gen.changelog_state(ctx.seed, keys),
                   ctx.path("source.parquet"))
    src = spark.read.parquet(ctx.path("source.parquet"))
    seed_state = snapshot_scan(src, pk_cols=gen.FEED_PK).select(*cols)
    seed_state.write.mode("overwrite").parquet(
        os.path.join(state, "current"))

    q = incremental_upsert_sink(
        read_changelog_stream(spark, feed, schema), state, ckpt,
        pk_cols=gen.FEED_PK, trigger_available_now=False)
    landed = 0
    write_bytes = 0

    def land(i: int) -> None:
        name = f"b{i:05d}.json"
        os.rename(os.path.join(staging, name), os.path.join(feed, name))

    try:
        for i in range(warm):
            land(i)
            q.processAllAvailable()
            landed += 1
        ctx.tracer.spans.clear()
        ctx.start_timing()
        for i in range(warm, n_batches):
            if i - warm >= MIN_OPS["changelog_tail"] and not ctx.timing():
                break
            with span("streaming.pipeline.batch"):
                land(i)
                q.processAllAvailable()
            ctx.attempted += 1
            landed += 1
            if ctx.tracing:
                write_bytes += _du(state)
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()

    spans = [s for s in ctx.tracer.spans
             if s.tag == "streaming.pipeline.batch"]
    timed = progress[-len(spans):] if spans else []
    visible = [s.wall for s in spans]
    events = sum(len(b) for b in batches[warm:landed])
    wall = spans[-1].t1 - spans[0].t0
    ctx.metrics.update(items_per_s=events / wall,
                       op_s_p50=median(visible))
    tail_pct, tail = _tail(visible)
    ctx.detail.update(
        batches=len(visible), ran_out_of_batches=landed == n_batches,
        changelog_events_per_s=events / wall,
        changelog_visible_s_p50=median(visible),
        changelog_visible_s_tail=tail, tail_percentile=tail_pct,
        tail_samples=len(visible), visible_s=visible)
    ctx.detail["op_spans"] = ["streaming.pipeline.batch"]

    landed_events = sum(len(b) for b in batches[:landed])
    input_rows = sum(p.numInputRows for p in progress)
    final = spark.read.parquet(os.path.join(state, "current"))
    everything = seed_state.unionByName(
        spark.read.schema(schema).json(feed))
    reference = latest_state(everything, gen.FEED_PK, drop_deleted=False)
    ctx.check(checks.check_changelog(
        checks.spark_digest(final, cols),
        checks.spark_digest(reference, cols), input_rows, landed_events))

    if not ctx.tracing:
        return
    dur = [p.durationMs for p in timed]

    def mean_of(*keys: str) -> float:
        return statistics.fmean(sum(d.get(k, 0) for k in keys) / 1e3
                                for d in dur)

    trigger = [d.get("triggerExecution", 0) / 1e3 for d in dur]
    # merge replay of the last landed batches, one call at a time
    for i in range(landed - _PROBE_REPS, landed):
        batch = spark.read.schema(schema).json(
            os.path.join(feed, f"b{i:05d}.json"))
        with span("operators.merge.resolve"):
            _materialize(latest_state(batch, gen.FEED_PK,
                                      drop_deleted=False))
        resolved = latest_state(batch, gen.FEED_PK, drop_deleted=False)
        with span("operators.merge.fold"):
            _materialize(latest_state(final.unionByName(resolved),
                                      gen.FEED_PK, drop_deleted=False))
    feed_bytes = sum(os.path.getsize(os.path.join(feed, f"b{i:05d}.json"))
                     for i in range(warm, landed))
    ctx.detail["layers"] = {
        "streaming.pipeline.source_s": mean_of("latestOffset", "getBatch"),
        "streaming.pipeline.add_batch_s": mean_of("addBatch"),
        "streaming.pipeline.commit_s": mean_of("walCommit", "commitOffsets"),
        "streaming.pipeline.queue_s": statistics.fmean(
            v - t for v, t in zip(visible, trigger)),
        "operators.merge.resolve_s":
            median(ctx.tracer.walls("operators.merge.resolve")),
        "operators.merge.fold_s":
            median(ctx.tracer.walls("operators.merge.fold")),
        "streaming.pipeline.write_amp": write_bytes / feed_bytes,
        "streaming.pipeline.state_bytes": {
            "current": _du(os.path.join(state, "current")),
            "state_dir": _du(state)},
        "streaming.pipeline.input_rows": input_rows,
        "events_landed": landed_events,
    }


def _tail(samples: list[float]) -> tuple[int, float | None]:
    """The highest whole percentile with at least ten samples above it,
    and the sample at it (nearest rank); (0, None) when there are too
    few samples for one."""
    n = len(samples)
    if n <= 10:
        return 0, None
    pct = int(100 * (n - 10) / n)
    xs = sorted(samples)
    return pct, xs[max(0, -(-pct * n // 100) - 1)]


# --- dedup_curation -----------------------------------------------------

def dedup_curation(ctx: Ctx) -> None:
    import duckdb
    from pyspark.sql import functions as F

    from storagetapper_spark.operators import dedup as D
    from storagetapper_spark.operators.skew import guarded_pair_explode
    from storagetapper_spark.plans.registry import ORACLES, QUERIES
    from tools.check import _pandas_rows

    spark, span = ctx.spark, ctx.tracer.span
    size = SIZES["dedup_curation"]
    n = size["docs"]
    data = ctx.path("input")
    os.makedirs(data)
    docs_path = os.path.join(data, "documents.parquet")
    pq.write_table(gen.documents(ctx.seed, n, size["hot_docs"]), docs_path)

    def one_pass() -> dict[str, int]:
        rows = {}
        for name in DEDUP_QUERIES:
            with span(f"plans.registry.{name}"):
                rows[name] = _materialize(QUERIES[name](spark, data))
            ctx.attempted += 1
            spark.catalog.clearCache()  # operators pin intermediates
        return rows

    # warm-up pass: each query's output against its DuckDB oracle
    oracle_rows = {}
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        for name in DEDUP_QUERIES:
            sdf = QUERIES[name](spark, data)
            rel = con.sql(ORACLES[name])
            orows = _pandas_rows(rel.df())
            oracle_rows[name] = len(orows)
            ctx.check(checks.check_query(
                name, sdf.columns, _pandas_rows(sdf.toPandas()),
                rel.columns, orows))
            spark.catalog.clearCache()
    finally:
        con.close()

    ctx.tracer.spans.clear()
    ctx.start_timing()
    passes = []
    while len(passes) < MIN_OPS["dedup_curation"] or ctx.timing():
        passes.append(one_pass())
    # every timed pass returns the oracle's row count per query
    ctx.check([f"{q}: pass {i} gave {p[q]} rows, oracle {oracle_rows[q]}"
               for i, p in enumerate(passes) for q in DEDUP_QUERIES
               if p[q] != oracle_rows[q]])
    per_query = {name: ctx.tracer.walls(f"plans.registry.{name}")
                 for name in DEDUP_QUERIES}
    pass_s = [sum(w) for w in zip(*per_query.values())]
    ctx.metrics.update(items_per_s=n / median(pass_s),
                       op_s_p50=median(pass_s))
    ctx.detail.update(passes=len(pass_s), dedup_pass_s=median(pass_s),
                      pass_s=pass_s)
    ctx.detail["op_spans"] = [f"plans.registry.{q}" for q in DEDUP_QUERIES]

    if not ctx.tracing:
        return
    docs = spark.read.parquet(docs_path)
    blocks = ["lang", "source"]
    for _ in range(_PROBE_REPS):
        with span("operators.dedup.shingle_grams"):
            _materialize(D.shingle_grams(docs, blocks, shingle_n=3))
        with span("operators.dedup.minhash_signature"):
            _materialize(D.minhash_signature(docs, num_hashes=8,
                                             shingle_n=3))
    # the gram baskets ngram_jaccard_pairs builds, pinned, then the
    # guarded pair explode alone
    sh = (D.shingle_grams(docs, blocks, shingle_n=3)
          .select(*blocks, "doc_id", F.col("_g").alias("sh"))
          .distinct().persist())
    sh.count()
    baskets = (sh.groupBy(*blocks, "sh")
               .agg(F.sort_array(F.collect_set("doc_id")).alias("ids")))
    for _ in range(_PROBE_REPS):
        with span("operators.skew.pair_explode"):
            pairs = _materialize(guarded_pair_explode(
                baskets, "ids", "id_a", "id_b", keep=tuple(blocks),
                split=True))
    max_basket = baskets.agg(F.max(F.size("ids"))).collect()[0][0]
    sh.unpersist()
    ctx.detail["layers"] = {
        **{f"plans.registry.{q}_s": median(w)
           for q, w in per_query.items()},
        "operators.dedup.shingle_grams_s":
            median(ctx.tracer.walls("operators.dedup.shingle_grams")),
        "operators.dedup.minhash_signature_s":
            median(ctx.tracer.walls("operators.dedup.minhash_signature")),
        "operators.skew.pair_explode_s":
            median(ctx.tracer.walls("operators.skew.pair_explode")),
        "operators.skew.pair_explode_rows": pairs,
        "operators.skew.max_basket": max_basket,
        **{f"operators.dedup.pairs_out.{q}": passes[-1][q]
           for q in PAIR_QUERIES},
    }


WORKLOADS = {
    "snapshot_backup": snapshot_backup,
    "changelog_tail": changelog_tail,
    "dedup_curation": dedup_curation,
}
