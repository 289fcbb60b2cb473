"""The traced run: per-layer numbers, timed from outside the program.

Three sources, none of them inside ``dp_data_quality_spark``:

- spans the benchmark records around its calls into each layer's public
  functions, kept in memory (``Tracer``) and written out with the record;
- Spark's own SQL status store (``sharedState().statusStore()``), read after
  each traced pass: execution durations and the SQL metrics of the plan
  nodes (Scan, Exchange, ArrowEvalPython, Sort, the write command);
- cumulative ``noop``-sink probes (scan; + bucket shuffle; + scorer UDF;
  + rules and scrub), where a layer's time is its probe minus the one
  below it, in-process timings of the scorer's kernels, and a resume pass
  into an output dir whose buckets are three quarters complete.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.functions import langid, ngram, perplexity
from dp_data_quality_spark.functions.perplexity import make_scorer_udf
from dp_data_quality_spark.functions.scrub import scrub_text
from dp_data_quality_spark.pipeline import run_pipeline, score_turns, with_bucket

from . import inputs
from .stats import summary

PROBE_REPS = 2
RESUME_REPS = 1
# resume probe: buckets below this, three quarters, are complete before a pass
RESUME_DONE_BELOW = inputs.N_BUCKETS * 3 // 4
KERNEL_REPS = 5
KERNEL_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark


class Tracer:
    """Spans (name, start, end, parent) in memory, in perf_counter seconds."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


# --- Spark's SQL status store ---------------------------------------------

_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: bytes, seconds or a count.
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(line[0].replace(",", ""))
    return value * _SCALE[line[1]] if len(line) > 1 else value


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _store(spark: SparkSession):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark: SparkSession) -> int:
    return max((e.executionId() for e in _iter(_store(spark).executionsList())), default=-1)


def executions_after(spark: SparkSession, after: int) -> list[dict]:
    """Root SQL executions with id > ``after``: duration and, per plan node,
    its metrics as numbers."""
    # the status store is fed by the listener bus; let it catch up first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = _store(spark)
    out = []
    for e in _iter(store.executionsList()):
        eid = e.executionId()
        if eid <= after or e.rootExecutionId() != eid:
            continue
        done = e.completionTime()
        values = e.metricValues()
        nodes = []
        for node in _iter(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId()) if values is not None else None
                if v is not None and v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append((node.name(), metrics))
        out.append({
            "id": eid,
            "s": (done.get().getTime() - e.submissionTime()) / 1000 if done.isDefined() else 0.0,
            "nodes": nodes,
        })
    return out


def _node_sum(ex: dict, node: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for name, m in ex["nodes"] if name.strip() == node)


def _has_node(ex: dict, node: str) -> bool:
    return any(name.strip() == node for name, _ in ex["nodes"])


def pass_layers(execs: list[dict], wall: float, turns: int) -> dict:
    """Per-layer values of one pipeline pass from its SQL executions."""
    write_at = next(i for i, ex in enumerate(execs) if _has_node(ex, "ArrowEvalPython"))
    write = execs[write_at]
    # everything but the data write and the isEmpty pre-check (a CollectLimit)
    # is lineage: the metrics count and write
    lineage = [ex for i, ex in enumerate(execs)
               if i != write_at and not _has_node(ex, "CollectLimit")]
    arrow = _node_sum(write, "ArrowEvalPython", "data sent to Python workers") + \
        _node_sum(write, "ArrowEvalPython", "data returned from Python workers")
    return {
        "write_exec_s": write["s"],
        "scan.bytes_per_turn": _node_sum(write, "Scan parquet", "size of files read") / turns,
        "shuffle.bytes_per_turn": _node_sum(write, "Exchange", "data size") / turns,
        "scorer.python_s": _node_sum(write, "ArrowEvalPython", "time to run Python workers"),
        "scorer.python_boot_s": _node_sum(write, "ArrowEvalPython", "time to start Python workers"),
        "scorer.python_init_s": _node_sum(
            write, "ArrowEvalPython", "time to initialize Python workers"),
        "scorer.arrow_bytes_per_turn": arrow / turns,
        "write.bytes_per_turn": _node_sum(
            write, "Execute InsertIntoHadoopFsRelationCommand", "written output") / turns,
        "sort.spill_bytes": _node_sum(write, "Sort", "spill size"),
        "metrics.s": sum(ex["s"] for ex in lineage),
        "metrics.executions": len(execs) - write_at - 1,
        "driver.s": wall - sum(ex["s"] for ex in execs),
    }


# --- cumulative noop probes and kernels --------------------------------------

def noop(df: DataFrame) -> float:
    """Seconds to compute ``df`` in full into the noop sink."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


@contextmanager
def bucket_parallelism(spark: SparkSession):
    """As in run_pipeline's write: the bucket count is the scoring
    parallelism, so AQE may not coalesce the bucket shuffle's partitions."""
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def bucketed(df: DataFrame) -> DataFrame:
    """run_pipeline's bucket shuffle."""
    return with_bucket(df, inputs.N_BUCKETS).repartition(inputs.N_BUCKETS, "bucket")


def probe_layers(spark: SparkSession, in_path: str, tracer: Tracer) -> dict:
    """Median walls of the cumulative probes, PROBE_REPS each, interleaved so
    drift hits every level alike."""
    cfg = FilterConfig()
    scorer = make_scorer_udf(spark)

    def scan():
        return spark.read.parquet(in_path)

    probes = {
        "scan": scan,
        "shuffle": lambda: bucketed(scan()),
        "scorer": lambda: bucketed(scan()).withColumn(
            "__score", scorer(F.substring("text", 1, cfg.score_prefix_chars))),
        "score_turns": lambda: score_turns(bucketed(scan()), spark, cfg),
        "scrub": lambda: scan().select(scrub_text(F.col("text"), cfg.toxicity_lexicon)),
    }
    walls: dict[str, list[float]] = {k: [] for k in probes}
    with bucket_parallelism(spark):
        for _ in range(PROBE_REPS):
            for name, build in probes.items():
                with tracer.span(f"probe.{name}"):
                    walls[name].append(noop(build()))
    return {k: statistics.median(v) for k, v in walls.items()}


def time_kernels(spark: SparkSession, in_path: str, tracer: Tracer) -> dict:
    """Milliseconds per KERNEL_BATCH-row batch of the workload's own scoring
    prefixes (its first KERNEL_BATCH rows, scaled up when it has fewer), for
    each kernel of the fused scorer UDF, in this process."""
    cfg = FilterConfig()
    texts = (
        spark.read.parquet(in_path)
        .select(F.substring("text", 1, cfg.score_prefix_chars).alias("t"))
        .limit(KERNEL_BATCH).toPandas().t.tolist()
    )
    lang_table, ppl_table = langid._TABLE, perplexity._TABLE
    walls: dict[str, list[float]] = {k: [] for k in ("encode", "langid", "ppl", "word_stats")}

    def timed(name, fn, *args):
        with tracer.span(f"kernel.{name}"):
            t0 = time.perf_counter()
            out = fn(*args)
            walls[name].append((time.perf_counter() - t0) * 1e3)
        return out

    for _ in range(KERNEL_REPS):
        buf, offsets, lengths = timed("encode", ngram.encode_batch, texts)
        timed("langid", langid.score_from_buffer, buf, offsets, lengths, lang_table)
        timed("ppl", perplexity.ppl_from_buffer, buf, offsets, ppl_table)
        timed("word_stats", ngram.rowwise_word_stats, buf, offsets)
    scale = KERNEL_BATCH / max(len(texts), 1)
    return {k: statistics.median(v) * scale for k, v in walls.items()}


def probe_resume(bench, spark: SparkSession, tracer: Tracer) -> float:
    """Median wall of ``run_pipeline`` into an output dir where the buckets
    below RESUME_DONE_BELOW are already complete: the completed-bucket read,
    the broadcast anti-join and a dynamic overwrite of the rest.  The dir is
    prefilled once, untimed, by the pipeline itself, and restored before
    each pass."""
    template = bench.work / "resume_template"
    done = (
        with_bucket(spark.read.parquet(bench.in_path), inputs.N_BUCKETS)
        .filter(F.col("bucket") < RESUME_DONE_BELOW)
        .drop("bucket")
    )
    with tracer.span("resume.prefill"):
        prefill = run_pipeline(spark, done, str(template), n_buckets=inputs.N_BUCKETS,
                               run_id="prefill", resume=False)
    walls = []
    for _ in range(RESUME_REPS):
        shutil.rmtree(bench.out_dir, ignore_errors=True)
        shutil.copytree(template, bench.out_dir)
        os.sync()
        with tracer.span("resume.pass"):
            wall, res = bench.timed(spark)
        bench.finish(wall, res, skipped=prefill.buckets_processed)
        walls.append(wall)
    return statistics.median(walls)


# --- the traced run ---------------------------------------------------------

def traced_run(bench, spark: SparkSession, seconds: float, tracer: Tracer):
    """Alternate plain and traced passes for ``seconds`` (at least two of
    each), then run the probes and kernels.  Returns (passes, per_layer,
    detail)."""
    plain, traced, layer_rows, skews = [], [], [], []

    def traced_pass():
        bench.prepare()
        with tracer.span("pass") as sp:
            before = last_execution_id(spark)
            t0 = time.perf_counter()
            wall, res = bench.timed(spark)
            execs = executions_after(spark, before)
            traced_wall = time.perf_counter() - t0
        sp["wall_s"] = wall
        p = bench.finish(wall, res)
        traced.append((traced_wall, p))
        layer_rows.append(pass_layers(execs, wall, bench.turns))
        rows = sorted(p.bucket_rows)
        if rows:
            skews.append(rows[-1] / statistics.median(rows))

    t_end = time.perf_counter() + seconds
    while len(traced) < 2 or time.perf_counter() < t_end:
        # plain-traced, then traced-plain: drift weighs on both sides alike
        if len(traced) % 2:
            traced_pass()
            plain.append(bench.run_pass(spark))
        else:
            plain.append(bench.run_pass(spark))
            traced_pass()

    with tracer.span("probes"):
        probe = probe_layers(spark, bench.in_path, tracer)
    with tracer.span("kernels"):
        kernels = time_kernels(spark, bench.in_path, tracer)
    with tracer.span("resume"):
        resume_s = probe_resume(bench, spark, tracer)

    def med(key):
        return statistics.median(r[key] for r in layer_rows)

    s, B, n = "s", "B/turn", "count"
    values = {
        "scan.s": (probe["scan"], s),
        "scan.bytes_per_turn": (med("scan.bytes_per_turn"), B),
        "shuffle.s": (probe["shuffle"] - probe["scan"], s),
        "shuffle.bytes_per_turn": (med("shuffle.bytes_per_turn"), B),
        "shuffle.skew": (statistics.median(skews), "ratio"),
        "scorer.s": (probe["scorer"] - probe["shuffle"], s),
        "scorer.python_s": (med("scorer.python_s"), s),
        "scorer.python_boot_s": (med("scorer.python_boot_s"), s),
        "scorer.python_init_s": (med("scorer.python_init_s"), s),
        "scorer.arrow_bytes_per_turn": (med("scorer.arrow_bytes_per_turn"), B),
        "scorer.encode_ms": (kernels["encode"], "ms"),
        "scorer.langid_ms": (kernels["langid"], "ms"),
        "scorer.ppl_ms": (kernels["ppl"], "ms"),
        "scorer.word_stats_ms": (kernels["word_stats"], "ms"),
        "rules.s": (probe["score_turns"] - probe["scorer"], s),
        "scrub.s": (probe["scrub"] - probe["scan"], s),
        "write.s": (med("write_exec_s") - probe["score_turns"], s),
        "write.bytes_per_turn": (med("write.bytes_per_turn"), B),
        "sort.spill_bytes": (med("sort.spill_bytes"), "B"),
        "metrics.s": (med("metrics.s"), s),
        "metrics.executions": (med("metrics.executions"), n),
        "driver.s": (med("driver.s"), s),
        "resume.s": (resume_s, s),
        "trace.overhead_s": (
            statistics.median(w for w, _ in traced)
            - statistics.median(p.wall for p in plain), s),
    }
    per_layer = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    detail = {"traced_pass_s": summary([w for w, _ in traced]),
              "plain_pass_s": summary([p.wall for p in plain]),
              "probe_s": probe, "pass_layers": layer_rows}
    return plain + [p for _, p in traced], per_layer, detail
