"""The benchmark's workloads.  Each takes (seed, seconds, trace) and
returns a ``Result``; ``run.py`` turns it into the output line.

- ``turtle_skewed``: ``KGPipeline.run`` with default arguments over a
  Turtle transcript corpus with mega-conversations and injected
  errors, whole conversations per file.  Closed loop, one job at a
  time.
- ``kg_query``: a fixed-order mix of ``__spark_entry__`` KG reads over
  generated orders/customer tables, each ending in a ``noop`` write.
  Closed loop, one client.
- ``stream_ingest``: an open loop — one generator thread lands small
  parquet files of whole conversations at a fixed rate (atomic
  rename), ingested by ``start_incremental_parse(available_now=False)``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from . import common, inputs, reference
from .common import median, quantile, work_path

SETUP_REPS = 3


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def _timed_setup(prepare) -> tuple[float, object]:
    """Run the repeatable part of set-up SETUP_REPS times; returns the
    median time and the last result."""
    times, out = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = prepare()
        times.append(time.perf_counter() - t0)
    return median(times), out


def _session_metrics(res: Result, sess, warm: list[float],
                     prep_s: float) -> None:
    res.info.update(session_start_s=round(sess.start_s, 3),
                    warm_passes_s=[round(w, 3) for w in warm],
                    prep_s=round(prep_s, 3))
    res.metrics["session.start_s"] = sess.start_s
    res.metrics["session.warm_s"] = sum(warm)
    res.metrics["session.warm_passes"] = len(warm)


# ------------------------------------------------------------ kernels

def kernel_metrics(min_s: float = 0.5) -> dict:
    """Single-thread driver kernels on a fixed document sample
    (independent of the seed)."""
    from serd_spark.ntriples import parse_nt_line
    from serd_spark.scan import fast_scan_directives
    from serd_spark.turtle import TurtleParser

    convs = inputs.conversations(inputs.CANARY_SEED, range(1, 41))
    docs = [(c[0][0], "\n".join(r[3] for r in c)) for c in convs]

    def rate(fn) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            n += fn()
            el = time.perf_counter() - t0
            if el >= min_s:
                return n / el

    def turtle():
        return sum(len(TurtleParser(d, base_uri=f"http://x/{c}",
                                    blank_prefix=f"{c}-",
                                    lax=True).parse()[0])
                   for c, d in docs)

    def scan():
        for _, d in docs:
            fast_scan_directives(d)
        return len(docs)

    trip, _ = reference.turtle_reference(convs)
    slow = [ln for ln in reference.nquads_lines(trip) if "\\" in ln]

    def nt():
        for ln in slow:
            parse_nt_line(ln)
        return len(slow)

    return {"kernel.turtle.triples_per_s": rate(turtle),
            "kernel.scan.docs_per_s": rate(scan),
            "kernel.ntriples.slow_lines_per_s": rate(nt)}


# ------------------------------------------------------ turtle_skewed

_PIPELINE_WRAPS = {
    "assemble_chunks": "builder", "parse_documents_chunked": "builder",
    "parse_documents": "builder", "parse_ntriples_lines": "builder",
    "split_quarantine": "builder", "dedup_triples": "builder",
    "conv_metrics": "builder", "partition_metrics": "builder",
    "write_checkpoint": "action", "write_sorted_nquads": "action",
}


def _pipeline_span_name(name):
    if name == "write_checkpoint":
        return lambda a, kw: f"stage.{kw.get('stage', a[2])}"
    if name == "write_sorted_nquads":
        return lambda a, kw: "stage.nquads"
    return None


def _pipeline_layers(spans: list[dict], run_span: dict) -> dict:
    """Split one ``pipeline.run`` span.  The tail is measured from span
    boundaries: the gap between the last span before the NQuads write
    and that write (the ``partition_metrics(...).collect()``), plus the
    time from the end of the write to the end of the run (the trailing
    counts and the summary), less the tracer's own work around spans,
    which is reported as ``pipeline.trace_bookkeeping_s``.  Whatever
    none of these covers (the checkpoint reads between stages) is
    ``pipeline.unaccounted_s``, so the split can fail to add up."""
    from .tracing import duration, plan_total

    kids = sorted((s for s in spans if s["parent"] == run_span["name"]
                   and s["start"] >= run_span["start"]
                   and s["end"] <= run_span["end"]),
                  key=lambda s: s["start"])
    wall = duration(run_span)
    nq = next(s for s in kids if s["name"] == "stage.nquads")
    before = max((s["end"] + s["post_s"] for s in kids
                  if s["end"] <= nq["start"]),
                 default=run_span["start"])
    out = {"pipeline.wall_s": wall,
           "pipeline.tail_s": (nq["start"] - nq["pre_s"] - before)
           + (run_span["end"] - nq["end"] - nq["post_s"]),
           "pipeline.trace_bookkeeping_s": sum(s["pre_s"] + s["post_s"]
                                               for s in kids)}
    builders = [s for s in kids if s["kind"] == "builder"]
    out["pipeline.plan_build_s"] = sum(duration(s) for s in builders)
    out["pipeline.plan_build_jobs"] = sum(s["jobs"] for s in builders)
    stage_s = 0.0
    for s in kids:
        if s["kind"] != "action":
            continue
        key = s["name"]
        stage_s += duration(s)
        out[f"{key}.s"] = duration(s)
        out[f"{key}.rows"] = plan_total(s, "rows_written")
        out[f"{key}.shuffle_bytes"] = plan_total(s, "shuffle_bytes")
        out[f"{key}.spill_bytes"] = plan_total(s, "spill_bytes")
        out[f"{key}.python_s"] = plan_total(s, "python_ms") / 1000.0
        out[f"{key}.bytes_written"] = plan_total(s, "bytes_written")
    out["pipeline.unaccounted_s"] = (
        wall - stage_s - out["pipeline.plan_build_s"]
        - out["pipeline.tail_s"] - out["pipeline.trace_bookkeeping_s"])
    err = out.get("stage.errors.rows", 0)
    out["stage.parsed.err_rows"] = err
    rows_in = out.get("stage.parsed.rows", 0) - err
    out["dedup.rows_in"] = rows_in
    out["dedup.rows_out"] = out.get("stage.triples.rows", 0)
    out["dedup.kept_ratio"] = (out["dedup.rows_out"] / rows_in
                               if rows_in else 0.0)
    return out


def turtle_skewed(seed: int, seconds: float, trace: bool) -> Result:
    from serd_spark.pipeline import KGPipeline

    res = Result()
    corpus_dir = work_path("turtle", "corpus")

    def prepare():
        shutil.rmtree(corpus_dir, ignore_errors=True)
        convs = inputs.turtle_corpus(seed)
        turns = inputs.write_corpus(convs, corpus_dir, inputs.TURTLE_FILES)
        return convs, turns

    prep_s, (convs, turns) = _timed_setup(prepare)
    digest = inputs.corpus_digest(convs)
    pinned = inputs.pinned_digest("turtle_skewed", seed)
    if pinned is not None and pinned != digest:
        raise RuntimeError(f"turtle_skewed seed {seed}: corpus digest "
                           f"{digest} != pinned {pinned}")
    res.info.update(corpus_digest=digest, turns=turns,
                    convs=len(convs))

    warm_dir = work_path("turtle", "warm")
    inputs.write_corpus(
        inputs.turtle_corpus(424242, inputs.WARM_TURNS, mega_turns=1),
        warm_dir, 2)

    runs = [0]

    def timed_job(spark, src):
        runs[0] += 1
        wd = work_path("turtle", f"job{runs[0]}")
        t0 = time.perf_counter()
        summary = KGPipeline(spark, wd).run(spark.read.parquet(src))
        wall = time.perf_counter() - t0
        return wall, wd, summary

    def drop(wd):
        shutil.rmtree(wd, ignore_errors=True)

    def job(spark, src) -> float:
        wall, wd, _ = timed_job(spark, src)
        drop(wd)
        return wall

    def warm(spark) -> list[float]:
        """One cold pass on the small corpus (JIT, codegen and Python
        worker start), then passes on the measured corpus until the
        job time settles."""
        times = [job(spark, warm_dir)]
        return times + common.warm_until_settled(
            lambda: job(spark, corpus_dir))

    # reference output, outside every timed region
    ref_trip, ref_err = reference.turtle_reference(convs)
    ref_n, ref_digest = reference.lines_digest(
        reference.nquads_lines(ref_trip))
    res.info.update(ref_triples=ref_n, ref_errors=ref_err)

    def check(wd, summary) -> bool:
        n, d = reference.lines_digest(
            reference.written_nquads(os.path.join(wd, "nquads")))
        return (n == ref_n and d == ref_digest
                and summary["n_triples"] == ref_n
                and summary["n_errors"] == ref_err)

    def timed_reps(spark, min_reps=3) -> list[float]:
        walls, tries = [], 0
        t_end = time.perf_counter() + seconds
        while tries < min_reps or time.perf_counter() < t_end:
            tries += 1
            res.attempted += 1
            try:
                wall, wd, summary = timed_job(spark, corpus_dir)
                ok = check(wd, summary)
            except Exception as e:  # noqa: BLE001 — counted as failed
                res.info.setdefault("errors", []).append(repr(e)[:300])
                res.failed += 1
                continue
            drop(wd)
            if not ok:
                res.failed += 1
                continue
            walls.append(wall)
        return walls

    sess = common.Session(common.nproc())
    warm_times = warm(sess.spark)
    res.metrics["setup_s"] = sess.start_s + sum(warm_times) + prep_s
    _session_metrics(res, sess, warm_times, prep_s)

    walls = timed_reps(sess.spark)
    op = median(walls)
    res.metrics["op_p50_s"] = op
    res.info.update(job_walls_s=[round(w, 4) for w in walls],
                    turns_per_s=turns / op)

    if trace:
        import serd_spark.pipeline as pipeline_mod

        from .tracing import Tracer

        tracer = Tracer(sess.spark)
        for name, kind in _PIPELINE_WRAPS.items():
            tracer.wrap(pipeline_mod, name, kind, _pipeline_span_name(name))
        orig_run = KGPipeline.run

        def traced_run(self, transcripts):
            with tracer.span("pipeline.run", "action"):
                return orig_run(self, transcripts)

        KGPipeline.run = traced_run
        try:
            twalls = timed_reps(sess.spark)
        finally:
            KGPipeline.run = orig_run
            tracer.close()
        run_spans = [s for s in tracer.spans if s["name"] == "pipeline.run"]
        layers = [_pipeline_layers(tracer.spans, s) for s in run_spans]
        for k in layers[-1]:
            res.metrics[k] = median([lay.get(k, 0.0) for lay in layers])
        res.metrics["trace.untraced_op_s"] = op
        res.metrics["trace.traced_op_s"] = median(twalls)
        res.metrics["trace.overhead_ratio"] = median(twalls) / op
        res.metrics["session.peak_rss_mb"] = common.jvm_peak_rss_mb()
        sess.stop()
        # the same job at local[1]: single-thread baseline
        one = common.Session(1)
        warm(one.spark)
        walls1 = timed_reps(one.spark, min_reps=2)
        one.stop()
        tps1 = turns / median(walls1)
        res.metrics["pipeline.turns_per_s_1core"] = tps1
        res.metrics["pipeline.scaling_eff"] = (
            (turns / op) / (common.nproc() * tps1))
        res.metrics.update(kernel_metrics())
    else:
        sess.stop()
    return res


# ------------------------------------------------------------ kg_query

KG_MIX = ("kg_path_star", "kg_reachability", "kg_sameas")


def _oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        r = con.execute(sql)
        return [d[0] for d in r.description], r.fetchall()
    finally:
        con.close()


def _canonical(cols: list[str], rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in idx) for r in rows),
                  key=lambda t: tuple((1, "") if v is None else (0, v)
                                      for v in t))


def kg_query(seed: int, seconds: float, trace: bool) -> Result:
    import __spark_entry__ as entry

    res = Result()
    sf_dir = work_path("kg", "sf")

    def prepare():
        shutil.rmtree(sf_dir, ignore_errors=True)
        tables = inputs.kg_tables(seed)
        inputs.write_kg_tables(tables, sf_dir)
        return tables

    prep_s, tables = _timed_setup(prepare)
    digest = inputs.kg_digest(tables)
    pinned = inputs.pinned_digest("kg_query", seed)
    if pinned is not None and pinned != digest:
        raise RuntimeError(f"kg_query seed {seed}: table digest "
                           f"{digest} != pinned {pinned}")
    res.info.update(corpus_digest=digest, mix=list(KG_MIX),
                    orders=len(tables["orders"]))

    qs = {**entry.queries(), **entry.retired_queries()}
    oracles = {**entry.oracle_sql(), **entry.retired_oracle_sql()}
    # DuckDB's answers, before the session starts and outside every
    # timed region
    want = {name: _oracle_rows(sf_dir, oracles[name]) for name in KG_MIX}

    def one_pass() -> float:
        t0 = time.perf_counter()
        for name in KG_MIX:
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
        return time.perf_counter() - t0

    def checked_pass() -> float:
        """The cold pass: each query collected and compared with its
        oracle instead of written to ``noop``."""
        t0 = time.perf_counter()
        out_rows = 0
        for name in KG_MIX:
            try:
                df = qs[name](spark, sf_dir)
                s_rows = [tuple(r) for r in df.collect()]
                d_cols, d_rows = want[name]
                ok = (sorted(df.columns) == sorted(d_cols)
                      and _canonical(df.columns, s_rows)
                      == _canonical(d_cols, d_rows))
                out_rows += len(s_rows)
            except Exception as e:  # noqa: BLE001 — counted as failed
                res.info.setdefault("errors", []).append(repr(e)[:300])
                ok = False
            res.attempted += 1
            if not ok:
                res.failed += 1
                res.info.setdefault("mismatch", []).append(name)
        res.info["result_rows"] = out_rows
        return time.perf_counter() - t0

    sess = common.Session(common.nproc())
    spark = sess.spark
    warm_times = [checked_pass()] + common.warm_until_settled(one_pass)
    res.metrics["setup_s"] = sess.start_s + sum(warm_times) + prep_s
    _session_metrics(res, sess, warm_times, prep_s)

    def timed_passes(min_passes=3) -> list[float]:
        walls, tries = [], 0
        t_end = time.perf_counter() + seconds
        while tries < min_passes or time.perf_counter() < t_end:
            tries += 1
            res.attempted += len(KG_MIX)
            try:
                walls.append(one_pass())
            except Exception as e:  # noqa: BLE001 — counted as failed
                res.info.setdefault("errors", []).append(repr(e)[:300])
                res.failed += len(KG_MIX)
        return walls

    walls = timed_passes()
    mix = median(walls)
    res.metrics["op_p50_s"] = mix
    res.info.update(mix_s=mix, pass_walls_s=[round(w, 4) for w in walls])

    if trace:
        from .tracing import Tracer, duration, plan_total

        tracer = Tracer(spark)
        twalls = []
        for _ in range(2):
            t0 = time.perf_counter()
            for name in KG_MIX:
                with tracer.span(f"plan.{name}", "builder"):
                    df = qs[name](spark, sf_dir)
                with tracer.span(f"q.{name}", "action"):
                    df.write.format("noop").mode("overwrite").save()
            twalls.append(time.perf_counter() - t0)
        tracer.close()
        last = {}
        for s in tracer.spans:
            last[s["name"]] = s
        for name in KG_MIX:
            p, q = last[f"plan.{name}"], last[f"q.{name}"]
            res.metrics[f"q.{name}.s"] = duration(q)
            res.metrics[f"q.{name}.plan_s"] = duration(p)
            res.metrics[f"q.{name}.plan_jobs"] = p["jobs"]
            res.metrics[f"q.{name}.shuffle_bytes"] = plan_total(
                q, "shuffle_bytes")
            res.metrics[f"q.{name}.broadcasts"] = plan_total(
                q, "broadcasts")
        res.metrics["trace.untraced_op_s"] = mix
        res.metrics["trace.traced_op_s"] = twalls[-1]
        res.metrics["trace.overhead_ratio"] = twalls[-1] / mix
        # streaming ingest has no gated workload of its own (see
        # README); its layer is measured here, in the same session
        sph, layers = traced_stream_phase(spark, seed, seconds,
                                          work_path("stream"))
        res.attempted += sph["attempted"]
        res.failed += sph["failed"]
        res.metrics.update(layers)
        res.metrics["session.peak_rss_mb"] = common.jvm_peak_rss_mb()
        res.metrics.update(kernel_metrics())
    sess.stop()
    return res


# ------------------------------------------------------- stream_ingest

def _batch_log(ckpt: str) -> tuple[dict, dict]:
    """(file name -> batch id, batch id -> commit time) from the
    streaming checkpoint: the file source's metadata log names the
    files of each batch, and ``commits/<id>`` is written when the batch
    commits."""
    src = os.path.join(ckpt, "sources", "0")
    batch_of = {}
    for name in os.listdir(src):
        if not name[0].isdigit():
            continue  # checksum side files
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = e["batchId"]
    com = os.path.join(ckpt, "commits")
    commit_at = {int(n): os.stat(os.path.join(com, n)).st_mtime
                 for n in os.listdir(com) if n.isdigit()}
    return batch_of, commit_at


def _batch_durations(query) -> list[float]:
    return [p.batchDuration / 1000.0 for p in query.recentProgress
            if p.numInputRows]


def stream_tables(seed: int, seconds: float) -> tuple[int, list]:
    """(timed file count, arrow table of every file: warm files first)."""
    n_timed = int(math.ceil(inputs.STREAM_RATE * seconds))
    files = inputs.stream_file_convs(seed,
                                     1 + common.WARM_MAX_PASSES + n_timed)
    return n_timed, [inputs.arrow_table(f) for f in files]


def stream_phase(spark, tables: list, n_timed: int, seconds: float,
                 base: str) -> dict:
    """One open-loop ingest phase into a fresh query.  Warm files land
    one at a time until a file's ingest time settles; then a generator
    thread lands ``n_timed`` files at ``STREAM_RATE`` files/s.  Each
    timed file is timed from its due time to the commit of the
    micro-batch that read it.  Afterwards the sink is checked against
    the batch parse of the same files."""
    import pyarrow.parquet as pq

    from serd_spark.operators.parse import parse_documents, split_quarantine
    from serd_spark.streaming.ingest import start_incremental_parse

    rate = inputs.STREAM_RATE
    in_dir, stage = os.path.join(base, "in"), os.path.join(base, "stage")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    for d in (in_dir, stage):
        os.makedirs(d, exist_ok=True)
    landed: list[dict] = []

    def land(i: int, due: float) -> None:
        name = f"f{i:05d}.parquet"
        pq.write_table(tables[i], os.path.join(stage, name))
        os.rename(os.path.join(stage, name), os.path.join(in_dir, name))
        landed.append({"i": i, "due": due, "landed": time.time(),
                       "rows": tables[i].num_rows, "name": name})

    q = start_incremental_parse(spark, in_dir, out, ckpt,
                                available_now=False)
    try:
        def warm_file() -> float:
            t0 = time.perf_counter()
            land(len(landed), time.time())
            q.processAllAvailable()
            return time.perf_counter() - t0

        warm = [warm_file()] + common.warm_until_settled(warm_file)
        n_warm = len(warm)
        t0 = time.time() + 0.2

        def gen():
            for k in range(n_timed):
                due = t0 + k / rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                land(n_warm + k, due)

        g = threading.Thread(target=gen, name="perfbench-generator")
        g.start()
        g.join(timeout=seconds + 60)
        if g.is_alive():
            raise RuntimeError("file generator did not finish")
        q.processAllAvailable()
        durations = _batch_durations(q)
    finally:
        q.stop()
    batch_of, commit_at = _batch_log(ckpt)

    timed = landed[n_warm:]
    commit = [commit_at.get(batch_of.get(f["name"])) for f in timed]
    lat = [None if c is None else c - f["due"]
           for f, c in zip(timed, commit)]
    backlog = max((sum(1 for g, c in zip(timed, commit)
                       if g["landed"] <= f["landed"]
                       and (c is None or c > f["landed"]))
                   for f in timed), default=0)
    rows_in: dict = {}
    for f in timed:
        b = batch_of.get(f["name"])
        rows_in[b] = rows_in.get(b, 0) + f["rows"]

    # the sink against the batch parse of the same files
    sink = spark.read.parquet(os.path.join(out, "triples"))
    want, want_err = split_quarantine(parse_documents(
        spark.read.parquet(in_dir), syntax="turtle", lax=True))
    bad = {r.conv_id for r in sink.exceptAll(want)
           .unionByName(want.exceptAll(sink)).select("conv_id")
           .distinct().collect()}
    errors_equal = (spark.read.parquet(os.path.join(out, "errors"))
                    .count() == want_err.count())
    failed = sum(
        1 for f, x in zip(timed, lat)
        if x is None or x > 60 or not errors_equal
        or set(tables[f["i"]].column("conv_id").to_pylist()) & bad)
    return {"warm": warm, "lat": [x for x in lat if x is not None],
            "attempted": len(timed), "failed": failed,
            "backlog": backlog, "busy": sum(durations),
            "turns": sum(f["rows"] for f in landed),
            "lag": [f["landed"] - f["due"] for f in timed],
            "batch_s": durations,
            "batch_rows": [float(r) for r in rows_in.values()]}


def _stream_layers(ph: dict, spans: list[dict]) -> dict:
    from .tracing import duration

    return {
        "ingest.p50_s": quantile(ph["lat"], 0.5),
        "ingest.p90_s": quantile(ph["lat"], 0.9),
        "ingest.batch_p50_s": quantile(ph["batch_s"], 0.5),
        "ingest.batch_p90_s": quantile(ph["batch_s"], 0.9),
        "ingest.rows_per_batch": quantile(ph["batch_rows"], 0.5),
        "ingest.backlog_max_files": ph["backlog"],
        "gen.lag_p90_s": quantile(ph["lag"], 0.9),
        "ingest.plan_build_s": median(
            [duration(s) for s in spans] or [0.0]),
    }


def traced_stream_phase(spark, seed: int, seconds: float, base: str
                        ) -> tuple[dict, dict]:
    """A stream phase with the ingest handler's parse calls wrapped in
    builder spans; returns (phase, per-layer metrics)."""
    import serd_spark.streaming.ingest as ingest_mod

    from .tracing import Tracer

    n_timed, tables = stream_tables(seed, seconds)
    tracer = Tracer(spark)
    tracer.wrap(ingest_mod, "parse_documents", "builder")
    try:
        ph = stream_phase(spark, tables, n_timed, seconds, base)
    finally:
        tracer.close()
    return ph, _stream_layers(ph, tracer.spans)


def stream_ingest(seed: int, seconds: float, trace: bool) -> Result:
    res = Result()
    prep_s, (n_timed, tables) = _timed_setup(
        lambda: stream_tables(seed, seconds))
    res.info.update(rate_files_per_s=inputs.STREAM_RATE,
                    timed_files=n_timed)
    sess = common.Session(common.nproc())
    ph = stream_phase(sess.spark, tables, n_timed, seconds,
                      work_path("stream", "untraced"))
    res.metrics["setup_s"] = sess.start_s + sum(ph["warm"]) + prep_s
    _session_metrics(res, sess, ph["warm"], prep_s)
    res.attempted += ph["attempted"]
    res.failed += ph["failed"]
    op = quantile(ph["lat"], 0.5)
    res.metrics["op_p50_s"] = op
    res.info.update(ingest_p50_s=op,
                    capacity_turns_per_s=ph["turns"] / ph["busy"],
                    ingest_p90_s=quantile(ph["lat"], 0.9),
                    batches=len(ph["batch_s"]))
    if trace:
        tph, layers = traced_stream_phase(
            sess.spark, seed, seconds, work_path("stream", "traced"))
        res.attempted += tph["attempted"]
        res.failed += tph["failed"]
        res.metrics.update(layers)
        res.metrics["trace.untraced_op_s"] = op
        res.metrics["trace.traced_op_s"] = layers["ingest.p50_s"]
        res.metrics["trace.overhead_ratio"] = layers["ingest.p50_s"] / op
        res.metrics["session.peak_rss_mb"] = common.jvm_peak_rss_mb()
        res.metrics.update(kernel_metrics())
    sess.stop()
    return res


WORKLOADS = {
    "turtle_skewed": turtle_skewed,
    "kg_query": kg_query,
    "stream_ingest": stream_ingest,
}
