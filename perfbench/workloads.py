"""The benchmark's three workloads, driven through the engine's public
entry points.

- ``api_small``: one client in a closed loop calling
  ``api.handle_process_request`` with 1- and 16-record requests.
- ``stream_bulk``: ``streaming.pipeline.stream_reports`` draining a
  backlog of two JSON-lines record files, one file per micro-batch.
- ``analytics_mix``: registry queries (``QueryDef.fn``) inside
  ``cache_scope``, in a seed-shuffled order.

Each workload generates its inputs, drawing them with the seed, loads or
computes the answers its ops are checked against (committed report
digests for the pipeline ops, DuckDB oracles for the queries), warms up,
then calls ``run.start_timed()`` and makes a fixed number of timed
passes. Warm-up ops are never timed ops.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import datagen

# Every run makes a fixed number of timed passes (BENCHMARK.json sets
# run_seconds below one pass), so that runs measure the same work and
# stand at the same point of the JVM's warm-up curve.
# api_small: one pass is one request of each size, the two ends of the
# 1-16 range, so every seed does the same amount of work. Two passes,
# so that op_tail_ms is not just the slower of two ops.
API_REQUEST_SIZES = (1, 16)
API_PASSES = 2
# stream_bulk: a warm-up micro-batch, then one timed micro-batch, at
# SCALE. Records are drawn with replacement from the whole pool.
STREAM_WARMUP_RECORDS = 2_000
STREAM_BATCH_RECORDS = 10_000
# analytics_mix: untimed warm-up passes, then timed passes. A query at
# sf0.01 takes most of its sf0.1 time, so the warm-up runs at SCALE too.
ANALYTICS_WARM_PASSES = 1
ANALYTICS_PASSES = 2
# Pool the requests and stream files are drawn from: every record the
# documents at SCALE give (5 documents per record). The cap is explicit:
# records_from_documents(docs) without max_records fails, because its
# limit(1 << 31) overflows a Java int.
POOL_MAX_RECORDS = 1000
# Scale factor of the generated tables (0.1: 5,000 documents).
SCALE = 0.1
# The tables play the part of the engine's fixed sf0.1 testdata, so they
# come from one fixed seed; --seed draws the requests, the stream backlog
# and the query order from them. Seed-to-seed differences in the data
# would otherwise add to the run-to-run spread. The pool's report
# digests are committed (report_digests.json) for this seed.
DATA_SEED = 0

# analytics_mix: (query, its registry module, tables it reads), commented
# with the operator family it stands for. Every query has a DuckDB
# oracle, and each answer is small enough to collect. Six queries of
# 0.5-3 s give op_p50_ms twelve samples a run, so that no single query
# decides it.
ANALYTICS = [
    ("docs_dedup_exact", "datapipe", ["documents"]),  # dedup
    ("emb_cosine_topk", "datapipe", ["embeddings"]),  # similarity
    ("emb_kmeans_assign_round1", "datapipe", ["embeddings"]),  # clustering
    ("docs_lm_quality", "datapipe", ["documents"]),  # text analysis; persists through operators.cache
    ("agg_cms_user_counts", "relational", ["events"]),  # sketch
    ("events_tumbling_hourly", "events", ["events"]),  # time series
]

PIPELINE_LAYERS = ["ingest", "dims", "enrich", "clean", "llm", "render", "run"]


@dataclass
class Outcome:
    op_ms: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    records: int = 0
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def warm_up(fn) -> None:
    """Run one warm-up op. A failure is printed, not raised: the timed
    ops run the same code, and count it."""
    try:
        fn()
    except Exception as exc:
        print(f"warm-up op failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)


def record_pool(spark, work: str, scale: float) -> list[dict]:
    """The records ``records_from_documents`` makes of the documents
    table at ``scale``, generated under ``work``."""
    from medical_examination_data_etl_system_spark.pipeline.synthesize import records_from_documents

    data = os.path.join(work, "data")
    datagen.write_tables(data, DATA_SEED, scale, {"documents"})
    docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
    return records_from_documents(docs, max_records=POOL_MAX_RECORDS)


# ---------------------------------------------------------------------------
# api_small
# ---------------------------------------------------------------------------


def api_small(run) -> Outcome:
    from medical_examination_data_etl_system_spark.api import handle_process_request

    spark, rng = run.spark, random.Random(run.seed)
    pool = record_pool(spark, run.work, run.scale)
    expected = checks.committed_digests(run.scale)
    run.phase("inputs")
    # Warm-up: as many records as a pass holds, in one request served
    # cold. Every request, this one too, is a fresh draw from the pool.
    warm_up(lambda: handle_process_request(spark, rng.sample(pool, min(sum(API_REQUEST_SIZES), len(pool)))))
    run.phase("warm-up")

    out = Outcome()
    run.start_timed()
    op = 0
    while run.more_passes(len(out.pass_s), API_PASSES):
        t_pass = time.perf_counter()
        gc0, pass_jobs = (run.tracer.gc_ms() if run.tracer is not None else 0.0), 0
        for req in [rng.sample(pool, min(n, len(pool))) for n in API_REQUEST_SIZES]:
            op += 1
            group = f"api:{op}"
            ms, resp, err = run.op(group, lambda: handle_process_request(spark, req))
            out.op_ms.append(ms)
            out.records += len(req)
            ok = err is None and checks.response_ok(resp, req, expected)
            if run.tracer is not None:
                c = run.tracer.read_group(group)
                pass_jobs += c.jobs
                run.sample("api.jobs", c.jobs)
                run.sample("api.stages", c.stages)
                run.sample("api.tasks", c.tasks)
                run.sample("api.executor_cpu_ms", c.executor_cpu_ms)
                run.sample("api.driver_gap_ms", ms - c.busy_ms())
                t_replay = time.perf_counter()
                ok = ok and replay_pipeline(run, req, f"api{op}") == resp["rows"]
                # The replay is not part of the pass.
                t_pass += time.perf_counter() - t_replay
            out.record(ok)
        out.pass_s.append(time.perf_counter() - t_pass)
        if run.tracer is not None:
            run.sample("session.gc_ms", run.tracer.gc_ms() - gc0)
            run.sample("session.jobs_total", pass_jobs)
    return out


# ---------------------------------------------------------------------------
# pipeline layers, replayed in the traced run
# ---------------------------------------------------------------------------


def replay_pipeline(run, records: list[dict], op: str) -> list[dict]:
    """Run the ``process_records`` layers one by one, each layer's output
    materialized inside a job group named after the layer, and record a
    span per layer (with the Python call as a ``plan`` child span).
    Returns the response rows, for a check against the real op."""
    from medical_examination_data_etl_system_spark.operators.cache import cache_scope, persist_tracked
    from medical_examination_data_etl_system_spark.pipeline.clean import postprocess_multilang
    from medical_examination_data_etl_system_spark.pipeline.dims import resolve_dims
    from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
    from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, records_to_df
    from medical_examination_data_etl_system_spark.pipeline.llm import rewrite_distinct_summaries
    from medical_examination_data_etl_system_spark.pipeline.render import render_reports_sql, with_generic_columns
    from medical_examination_data_etl_system_spark.pipeline.run import reports_to_json

    tr, spark = run.tracer, run.spark
    plan_ms: dict[str, float] = {}
    spans: dict[str, int] = {}

    def materialize(df):
        df = persist_tracked(df)
        df.count()
        return df

    def layer(name, build):
        spans[name] = len(tr.spans)
        with tr.span(f"pipeline.{name}", op), tr.job_group(f"pipeline.{name}:{op}"):
            with tr.span(f"pipeline.{name}.plan", op) as p:
                result = build()
            plan_ms[name] = (p.end - p.start) * 1000.0
            if isinstance(result, dict):
                return {k: materialize(v) for k, v in result.items()}
            return materialize(result)

    with cache_scope():
        spans["run"] = len(tr.spans)
        with tr.span("pipeline.run", op):
            flat = layer("ingest", lambda: flatten(records_to_df(spark, records)))
            dims = layer("dims", lambda: resolve_dims(spark, flat))
            enriched = layer("enrich", lambda: enrich(flat, dims))
            cleaned = layer("clean", lambda: postprocess_multilang(enriched))
            rewrites = layer("llm", lambda: rewrite_distinct_summaries(with_generic_columns(cleaned)))
            reports = layer(
                "render",
                lambda: render_reports_sql(cleaned, rewrites).orderBy("rec_ord").drop("rec_ord"),
            )
            with tr.job_group(f"pipeline.run:{op}"):
                response = reports_to_json(reports)
    for name in PIPELINE_LAYERS:
        c = tr.read_group(f"pipeline.{name}:{op}")
        ms = tr.self_ms(spans[name])
        run.sample(f"pipeline.{name}.ms", ms)
        # "run" has no lazy plan call of its own: its driver-side time is
        # its self time minus the time its jobs ran.
        run.sample(f"pipeline.{name}.plan_ms", plan_ms.get(name, ms - c.busy_ms()))
        run.sample(f"pipeline.{name}.jobs", c.jobs)
        run.sample(f"pipeline.{name}.shuffle_mb", c.shuffle_write_mb)
    return response["rows"]


# ---------------------------------------------------------------------------
# stream_bulk
# ---------------------------------------------------------------------------


def _write_backlog(path: str, pool: list[dict], rng: random.Random, sizes: list[int]) -> list[str]:
    """JSON-lines record files of re-keyed pool records, one file per
    size; returns their paths. A copy's id is
    ``<file><row>~<original id>``, so its expected report is the
    original's."""
    os.makedirs(path, exist_ok=True)
    files = []
    for f, size in enumerate(sizes):
        files.append(os.path.join(path, f"part-{f:03d}.json"))
        with open(files[-1], "w") as fh:
            for i in range(size):
                rec = dict(pool[rng.randrange(len(pool))])
                rec["RECORD_ID"] = f"{f:03d}{i:06d}~{rec['RECORD_ID']}"
                fh.write(json.dumps(rec) + "\n")
    return files


def _stream_output_ok(out_dir: str, n_records: int, expected: dict[str, str]) -> bool:
    """One report per input record, each equal to its original's."""
    table = pq.read_table(out_dir, columns=["record_id", "report"]).to_pydict()
    ids = table["record_id"]
    return len(ids) == n_records == len(set(ids)) and all(
        checks.digest(rep) == expected.get(rid.split("~", 1)[1])
        for rid, rep in zip(ids, table["report"])
    )


def stream_bulk(run) -> Outcome:
    from medical_examination_data_etl_system_spark.streaming.pipeline import read_records_stream, stream_reports

    rng = random.Random(run.seed)
    pool = record_pool(run.spark, run.work, run.scale)
    # Batch sizes follow the scale (the self-test runs a tiny one).
    batch = max(1, round(STREAM_BATCH_RECORDS * run.scale / SCALE))
    warm_records = max(1, round(STREAM_WARMUP_RECORDS * run.scale / SCALE))
    backlog = os.path.join(run.work, "backlog")
    out_dir = os.path.join(run.work, "reports")
    # maxFilesPerTrigger=1: the first file is the warm-up batch, the
    # second the timed one.
    _, timed_file = _write_backlog(backlog, pool, rng, [warm_records, batch])
    expected = checks.committed_digests(run.scale)
    run.phase("inputs")

    out = Outcome()
    query = stream_reports(
        read_records_stream(run.spark, backlog, max_files_per_trigger=1),
        out_dir,
        os.path.join(run.work, "checkpoint"),
    )
    while query.isActive and query.lastProgress is None:
        time.sleep(0.02)
    run.phase("warm-up batch")
    run.start_timed()
    gc0 = run.tracer.gc_ms() if run.tracer is not None else 0.0
    t = time.perf_counter()
    try:
        query.awaitTermination(170)
    except Exception as exc:  # the stream failed: its batch is a failed op
        print(f"stream failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
    out.pass_s.append(time.perf_counter() - t)
    drained = not query.isActive and query.exception() is None
    if query.isActive:
        query.stop()
        print("stream did not drain its backlog in time", file=sys.stderr)
    batches = [p for p in query.recentProgress if p.numInputRows > 0][1:]
    # A stream that failed before reporting its batch is timed by the wait.
    out.op_ms = [float(p.durationMs["triggerExecution"]) for p in batches] or [out.pass_s[0] * 1000.0]
    out.records = batch
    out.record(drained and len(batches) == 1 and _stream_output_ok(out_dir, warm_records + batch, expected))
    if run.tracer is not None:
        # The run's job group also holds the warm-up batch's jobs.
        n_batches = len(batches) + 1
        run.sample("session.gc_ms", run.tracer.gc_ms() - gc0)
        c = run.tracer.read_group(str(query.runId))
        run.sample("session.jobs_total", c.jobs)
        run.sample("streaming.pipeline.jobs_per_batch", c.jobs / n_batches)
        for p in batches:
            d = p.durationMs
            run.sample("streaming.pipeline.add_batch_ms", d.get("addBatch", 0))
            run.sample("streaming.pipeline.query_planning_ms", d.get("queryPlanning", 0))
            run.sample("streaming.pipeline.latest_offset_ms", d.get("latestOffset", 0))
            run.sample("streaming.pipeline.wal_commit_ms", d.get("walCommit", 0))
            run.sample("streaming.pipeline.commit_offsets_ms", d.get("commitOffsets", 0))
            run.sample("streaming.sources.scans_per_batch", p.numInputRows / batch)
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        run.sample("streaming.pipeline.output_files", len(files) / n_batches)
        run.sample("streaming.pipeline.output_mb", sum(map(os.path.getsize, files)) / 1e6 / n_batches)
        with open(timed_file) as fh:
            records = [json.loads(line) for line in fh]
        replay_pipeline(run, records, "stream1")
    return out


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------


def analytics_mix(run) -> Outcome:
    from medical_examination_data_etl_system_spark.operators.cache import cache_scope
    from medical_examination_data_etl_system_spark.queries import all_queries

    spark, rng = run.spark, random.Random(run.seed)
    registry = all_queries()
    tables = sorted({t for _, _, ts in ANALYTICS for t in ts})
    data = os.path.join(run.work, "data")
    rows = datagen.write_tables(data, DATA_SEED, run.scale, set(tables))
    run.phase("inputs")
    expected = checks.oracle_frames(data, tables, {q: registry[q].oracle for q, _, _ in ANALYTICS})
    run.phase("answers")
    order = [q for q, _, _ in ANALYTICS]
    rng.shuffle(order)
    tables_of = {q: ts for q, _, ts in ANALYTICS}
    module_of = {q: m for q, m, _ in ANALYTICS}

    def query_op(q: str, source: str):
        with cache_scope():
            return registry[q].fn(spark, source).toPandas()

    for _ in range(ANALYTICS_WARM_PASSES):
        for q in order:
            warm_up(lambda: query_op(q, data))
    run.phase("warm-up passes")

    out = Outcome()
    run.start_timed()
    op = 0
    while run.more_passes(len(out.pass_s), ANALYTICS_PASSES):
        t_pass = time.perf_counter()
        gc0 = run.tracer.gc_ms() if run.tracer is not None else 0.0
        module_ms = dict.fromkeys(module_of.values(), 0.0)
        pass_jobs, cached_rdds, cached_mb = 0, 0, 0.0
        for q in order:
            op += 1
            if run.tracer is None:
                ms, pdf, err = run.op(None, lambda: query_op(q, data))
            else:
                ms, pdf, err, jobs, (rdds, mb) = _traced_query(run, registry[q], data, op)
                module_ms[module_of[q]] += ms
                pass_jobs += jobs
                cached_rdds, cached_mb = max(cached_rdds, rdds), max(cached_mb, mb)
            out.op_ms.append(ms)
            out.record(err is None and checks.frames_equal(checks.normalize(pdf), expected[q]))
            print(f"analytics_mix/op {q} = {ms:.1f} ms")
        out.pass_s.append(time.perf_counter() - t_pass)
        print(f"analytics_mix/pass {len(out.pass_s)} = {out.pass_s[-1]:.3f} s")
        if run.tracer is not None:
            run.sample("session.gc_ms", run.tracer.gc_ms() - gc0)
            run.sample("session.jobs_total", pass_jobs)
            # The most any op of the pass held cached at its scope's end.
            run.sample("operators.cache.persisted_rdds", cached_rdds)
            run.sample("operators.cache.persisted_mb", cached_mb)
            for m, ms in module_ms.items():
                run.sample(f"queries.{m}.ms", ms)
    # Records here are the input rows the queries read.
    out.records = sum(rows[t] for q in order for t in tables_of[q]) * len(out.pass_s)
    return out


def _traced_query(run, qd, data: str, op: int):
    """One query op split into build (``qd.fn``, with the eager jobs
    fired inside it), planning (``executedPlan()``) and execution, each
    timed and, for build and execution, tagged with its own job group.
    Also returns the op's job count and what was cached (RDDs, MB) just
    before its ``cache_scope`` released it."""
    from medical_examination_data_etl_system_spark.operators.cache import cache_scope

    tr, jobs, cached = run.tracer, 0, (0, 0.0)
    t0 = time.perf_counter()
    pdf, err = None, None
    try:
        with cache_scope():
            with tr.span("queries.build", str(op)) as b, tr.job_group(f"queries.build:{op}"):
                df = qd.fn(run.spark, data)
            with tr.span("queries.plan", str(op)) as p:
                df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec", str(op)) as e, tr.job_group(f"queries.exec:{op}"):
                pdf = df.toPandas()
            cached = tr.persisted()
    except Exception as exc:  # a failed op is counted, not fatal
        err = exc
    ms = (time.perf_counter() - t0) * 1000.0
    if err is None:
        build, exe = tr.read_group(f"queries.build:{op}"), tr.read_group(f"queries.exec:{op}")
        run.sample("queries.build_ms", (b.end - b.start) * 1000.0)
        run.sample("queries.build_jobs", build.jobs)
        run.sample("queries.plan_ms", (p.end - p.start) * 1000.0)
        run.sample("queries.exec_ms", (e.end - e.start) * 1000.0)
        run.sample("queries.exec_jobs", exe.jobs)
        run.sample("queries.tasks", build.tasks + exe.tasks)
        run.sample("queries.executor_cpu_s", (build.executor_cpu_ms + exe.executor_cpu_ms) / 1000.0)
        run.sample("queries.shuffle_write_mb", build.shuffle_write_mb + exe.shuffle_write_mb)
        run.sample("queries.spill_mb", build.spill_mb + exe.spill_mb)
        jobs = build.jobs + exe.jobs
    return ms, pdf, err, jobs, cached
