"""One benchmark run in a fresh process: set up, warm up, measure, probe.

``run.py`` starts this file with the repository root on ``PYTHONPATH`` and
reads the JSON it writes to ``--result``. The run is a closed loop with
one client: each operation starts after the previous one returned and
its output check ran. Only the package's public API is driven:
``session.get_spark``, ``PipelineConfig``, ``Pipeline``,
``StreamingPipeline``, the dedup-store functions, ``read_source``,
``write_sink``, ``write_metrics`` and ``plans.lint.lint_plan``.
"""

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

from observe import RssSampler, StatusStore, Tracer, cpu_times, host_info, median, quartiles, tail

# ``checks`` and ``gen`` (duckdb, numpy, pyarrow) are imported inside the
# functions that use them, after the timed package import, so they do not
# count in setup_s.

# Warm-up operations between the cold one and the timed ones. In 4-core
# probes operations kept getting faster for about 30 s after the cold one
# (JIT of the driver-side planning code); the run budget leaves room for
# one more recipe run. The stream gets none: its cold drain is eight
# triggers of the same per-trigger path.
WARMUP_OPS = {"recipe_gopher": 1, "stream_incremental": 0}
# Timed operations a run makes even when --seconds has passed. The tail
# latency is taken over the first ones only, so it is always the same
# percentile of the same number of samples (24 triggers for the stream),
# however many operations fit.
MIN_TIMED_OPS = {"recipe_gopher": 1, "stream_incremental": 3}
STREAM_FILES_PER_TRIGGER = 1
STREAM_SHUFFLE_PARTITIONS = 4
STREAM_OUTPUT_FILES = 1
PROBE_REPEATS = 3
EXEC_KEYS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "gc_s", "spill_bytes", "driver_only_s")
STREAM_PHASES = (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                 ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s"),
                 ("getBatch", "get_batch_s"), ("latestOffset", "latest_offset_s"))


class Api:
    """The package's public entry points; constructing this is the timed
    package import of set-up."""

    def __init__(self, repo):
        from mega_data_factory_spark.config import PipelineConfig, SinkConfig
        from mega_data_factory_spark.metrics import write_metrics
        from mega_data_factory_spark.operators.base import Filter
        from mega_data_factory_spark.operators.dedup import compact_store, store_stats
        from mega_data_factory_spark.plans.lint import lint_plan
        from mega_data_factory_spark.plans.pipeline import Pipeline
        from mega_data_factory_spark.registry import OPERATORS
        from mega_data_factory_spark.session import get_spark
        from mega_data_factory_spark.sinks import write_sink
        from mega_data_factory_spark.sources import read_source
        from mega_data_factory_spark.streaming import StreamingPipeline

        self.repo = repo
        self.PipelineConfig, self.SinkConfig, self.Pipeline = PipelineConfig, SinkConfig, Pipeline
        self.StreamingPipeline, self.get_spark, self.Filter = StreamingPipeline, get_spark, Filter
        self.compact_store, self.store_stats = compact_store, store_stats
        self.read_source, self.write_sink, self.write_metrics = read_source, write_sink, write_metrics
        self.lint_plan, self.OPERATORS = lint_plan, OPERATORS

    def operators(self, cfg):
        """The config's enabled operators, built through the registry in
        pipeline order."""
        return [self.OPERATORS.create(oc.name, oc.params) for st in cfg.stages for oc in st.operators if oc.enabled]


class Op:
    """Outcome of one operation: a batch run or a stream drain."""

    def __init__(self, wall, docs, attempted, failures, triggers=(), result=None, extra=None):
        self.wall = wall
        self.docs = docs
        self.attempted = attempted  # runs, or triggers of a drain
        self.failures = failures
        self.triggers = list(triggers)
        self.result = result
        self.extra = extra or {}


class RecipeGopher:
    """``configs/gopher_style_recipe.yaml`` run with ``Pipeline.run``: both
    sinks and metrics."""

    name = "recipe_gopher"

    def __init__(self, api, spark, input_dir, run_dir, tracer, con):
        self.api, self.spark, self.input_dir, self.run_dir = api, spark, input_dir, run_dir
        self.tracer, self.con = tracer, con
        self.passed_dir = os.path.join(run_dir, "passed")
        self.rejected_dir = os.path.join(run_dir, "rejected")
        self.metrics_dir = os.path.join(run_dir, "metrics")

    def load(self):
        """Config layer: parse the YAML and build the operators. Only the
        source, the sinks and the metrics path are re-pointed."""
        with self.tracer.span("config.load"):
            self.cfg = self.api.PipelineConfig.from_yaml(
                os.path.join(self.api.repo, "configs", "gopher_style_recipe.yaml")
            )
            self.cfg.source.path = self.input_dir
            self.cfg.sink.path = self.passed_dir
            self.cfg.rejected_sink.path = self.rejected_dir
            self.cfg.metrics_path = self.metrics_dir
            self.pipeline = self.api.Pipeline(self.cfg)

    def op(self) -> Op:
        import checks

        with self.tracer.span("pipeline.run"):
            t0 = time.perf_counter()
            result = self.pipeline.run(self.spark)
            wall = time.perf_counter() - t0
        with self.tracer.span("check"):
            fails, counts = checks.partition_check(self.con, self.input_dir, self.passed_dir, self.rejected_dir)
            fails += checks.funnel_check(result, counts)
            fails += self.hash_check(counts["passed_ids"])
        return Op(wall, result.input_records, 1, fails, result=result)

    def hash_check(self, passed_ids):
        """The passed-id hash must equal the one the first run of this code
        on this seed's input recorded under ``.perfbench/passed_hashes``,
        so a result that differs between JVM starts fails as well as one
        that differs between the operations of one run."""
        import checks

        h = checks.passed_hash(passed_ids)
        corpus = os.path.dirname(self.input_dir)  # <work>/inputs/<workload>-s<seed>-<generator hash>
        hashes = os.path.join(os.path.dirname(os.path.dirname(corpus)), "passed_hashes")
        os.makedirs(hashes, exist_ok=True)
        path = os.path.join(hashes, f"{os.path.basename(corpus)}-{checks.code_digest(self.api.repo)}.txt")
        if not os.path.exists(path):
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(h)
            os.replace(tmp, path)
        with open(path) as f:
            expected = f.read().strip()
        return [] if h == expected else [f"passed-id hash {h} != the first recorded run's {expected}"]

    def last_sinks(self):
        return self.passed_dir, self.rejected_dir


class StreamIncremental:
    """``StreamingPipeline`` draining the landing directory with
    ``availableNow``, then ``compact_store``. Every drain starts from an
    empty checkpoint, store and sinks, so every drain does the same work."""

    name = "stream_incremental"

    def __init__(self, api, spark, input_dir, run_dir, tracer, con):
        self.api, self.spark, self.input_dir, self.run_dir = api, spark, input_dir, run_dir
        self.tracer, self.con = tracer, con
        self.drains = 0

    def _cfg(self, base):
        import gen

        return {"pipeline": {
            "name": "stream_incremental",
            "id_col": "doc_id",
            "source": {"format": "parquet", "path": self.input_dir},
            "stages": [
                {"name": "filter", "operators": [
                    {"name": "TextLengthFilter", "params": {
                        "min_length": gen.STREAM_MIN_LEN, "max_length": gen.STREAM_MAX_LEN}},
                    {"name": "WordScoreFilter", "params": {
                        "weights": dict(gen.STREAM_WEIGHTS), "threshold": gen.STREAM_THRESHOLD}}]},
                {"name": "dedup", "operators": [
                    {"name": "IncrementalExactDeduplicator", "params": {
                        "store_path": os.path.join(base, "store"), "id_col": "doc_id"}}]},
            ],
            "sink": {"format": "parquet", "path": os.path.join(base, "passed")},
            "rejected_sink": {"format": "parquet", "path": os.path.join(base, "rejected")},
        }}

    def load(self):
        """Config layer; the probes of a traced run use this pipeline (its
        store path is never written, so its store reads as empty)."""
        import yaml

        with self.tracer.span("config.load"):
            self.cfg = self.api.PipelineConfig.from_yaml(yaml.safe_dump(self._cfg(os.path.join(self.run_dir, "probe"))))
            self.pipeline = self.api.Pipeline(self.cfg)

    def last_sinks(self):
        return os.path.join(self.last_base, "passed"), os.path.join(self.last_base, "rejected")

    def op(self) -> Op:
        import checks

        base = os.path.join(self.run_dir, f"drain{self.drains}")
        if self.drains:
            shutil.rmtree(self.last_base, ignore_errors=True)
        self.drains += 1
        self.last_base = base
        sp = self.api.StreamingPipeline(
            self.api.PipelineConfig.from_dict(self._cfg(base)),
            checkpoint_dir=os.path.join(base, "ckpt"),
            output_files=STREAM_OUTPUT_FILES,
            shuffle_partitions=STREAM_SHUFFLE_PARTITIONS,
            parallel_sinks=True,
        )
        store = os.path.join(base, "store")
        with self.tracer.span("stream.drain") as drain:
            t0 = time.perf_counter()
            with self.tracer.span("stream.start"):
                stream = (
                    self.spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", str(STREAM_FILES_PER_TRIGGER))
                    .parquet(self.input_dir)
                )
                q = sp.start(stream, trigger_available_now=True)
            with self.tracer.span("stream.await"):
                q.awaitTermination()
            t1 = time.perf_counter()
            with self.tracer.span("store.compact"):
                compact = self.api.compact_store(self.spark, store)
            t2 = time.perf_counter()
        progress = [p for p in (q.recentProgress or []) if p["numInputRows"] > 0]
        triggers = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        if drain is not None:
            from datetime import datetime

            for p in progress:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                self.tracer.add("stream.trigger", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                                drain["id"], batch_id=p["batchId"], rows=p["numInputRows"])
        rows_in = sum(p["numInputRows"] for p in progress)
        with self.tracer.span("check"):
            passed, rejected = self.last_sinks()
            fails, counts = checks.partition_check(self.con, self.input_dir, passed, rejected)
            if rows_in != counts["passed"] + counts["rejected"]:
                fails.append(f"triggers read {rows_in} rows, the sinks hold {counts['passed'] + counts['rejected']}")
            fails += checks.stream_check(self.con, self.input_dir, passed, store)
        extra = {
            "compact": compact,
            "compact_s": t2 - t1,
            "store": self.api.store_stats(self.spark, store),
            "phases": [dict(p["durationMs"]) for p in progress],
            "by_operator": counts["by_operator"],
            "rows": counts["passed"] + counts["rejected"],
        }
        return Op(t2 - t0, rows_in, max(1, len(triggers)), fails, triggers=triggers, extra=extra)


WORKLOADS = {w.name: w for w in (RecipeGopher, StreamIncremental)}


def _safe_op(wl, failures: list[str]) -> Op:
    try:
        op = wl.op()
    except Exception:  # a raising operation counts as failed; the loop goes on
        failures.append(traceback.format_exc())
        return Op(0.0, 0, 1, ["operation raised"])
    failures.extend(op.failures)
    return op


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--repo", required=True)
    a = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(uuid.uuid4().hex[:12], enabled=bool(a.trace))
    failures: list[str] = []

    # ---- set-up: package import + session + config + the cold run
    t = time.perf_counter()
    api = Api(a.repo)
    import_s = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = api.get_spark(cpus=cores, extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t
    import duckdb

    wl = WORKLOADS[a.workload](api, spark, a.input, a.run_dir, tracer, duckdb.connect())
    t = time.perf_counter()
    wl.load()
    config_s = time.perf_counter() - t
    ops = [_safe_op(wl, failures)]
    setup_s = import_s + session_s + config_s + ops[0].wall
    ops += [_safe_op(wl, failures) for _ in range(WARMUP_OPS[a.workload])]

    # ---- timed operations. A traced run orders them untraced, traced,
    # traced, untraced (at least four), so a warm-up trend cancels out of
    # the traced-minus-untraced overhead.
    store = StatusStore(spark)
    timed: list[Op] = []
    traced: list[Op] = []
    exec_stats: list[dict] = []
    ticks, t_loop = cpu_times(), time.perf_counter()
    with RssSampler() as rss:
        while (time.perf_counter() - t_loop < a.seconds or len(timed) < MIN_TIMED_OPS[a.workload]
               or (a.trace and len(timed) + len(traced) < 4)):
            tracer.enabled = bool(a.trace) and (len(timed) + len(traced)) % 4 in (1, 2)
            mark, w0 = (store.mark(), time.time()) if a.trace else (None, 0.0)
            op = _safe_op(wl, failures)
            if a.trace:
                exec_stats.append(store.since(mark, w0, time.time()))
            (traced if tracer.enabled else timed).append(op)
    ops += timed + traced
    good = [o for o in timed if not o.failures]
    docs_rates = [o.docs / o.wall for o in good]
    latencies = [x for o in good for x in (o.triggers or [o.wall])]
    tail_v, tail_p = tail([x for o in good[: MIN_TIMED_OPS[a.workload]] for x in (o.triggers or [o.wall])])
    out = {
        "workload": a.workload,
        "host_timed": host_info(since=ticks),
        "attempted": sum(o.attempted for o in ops),
        "failed": sum(o.attempted for o in ops if o.failures),
        "failures": failures[:20],
        "setup": {"import_s": import_s, "session_s": session_s, "config_s": config_s, "cold_s": ops[0].wall},
        "walls": [o.wall for o in ops],
        "docs_per_s_quartiles": quartiles(docs_rates),
        "tail_percentile": tail_p,
        "latency_samples": len(latencies),
        "e2e": {
            "setup_s": setup_s,
            "docs_per_s": median(docs_rates),
            "trigger_p50_s": median(latencies),
            "trigger_tail_s": tail_v,
        },
        "peak_rss_mb": rss.peak / 2**20,
    }
    if a.trace:
        tracer.enabled = True
        try:
            out["layers"] = probe_layers(api, spark, wl, a.run_dir, tracer, timed, traced, exec_stats)
        except Exception:  # a failed probe fails the run like a failed operation
            out["failures"].append(traceback.format_exc())
            out["attempted"] += 1
            out["failed"] += 1
            out["layers"] = {}
        out["layers"]["session.start_s"] = session_s
        out["layers"]["memory.peak_rss_mb"] = out["peak_rss_mb"]
        out["spans"] = os.path.join(a.run_dir, "spans.json")
        with open(out["spans"], "w") as f:
            json.dump(tracer.spans, f)
    with open(a.result, "w") as f:
        json.dump(out, f)
    spark.stop()
    # end the JVM now rather than at interpreter exit, and wait for it
    gw = spark.sparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    return 0


def _median_wall(fn, repeats=PROBE_REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return median(walls)


def _parquet_size(path) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


def probe_layers(api, spark, wl, run_dir, tracer, timed, traced, exec_stats) -> dict:
    """Per-layer numbers of a traced run: each layer's public function
    called alone (spans around every call) after the timed loop, plus the
    status-store totals of the timed operations."""
    layers = {}
    with tracer.span("config.load"):
        layers["config.load_s"] = _median_wall(wl.load)
    cfg, pipeline = wl.cfg, wl.pipeline
    with open(os.path.join(os.path.dirname(wl.input_dir), "manifest.json")) as f:
        manifest = json.load(f)
    layers["sources.files"] = manifest["input_files"]
    layers["sources.input_bytes"] = manifest["input_bytes"]
    with tracer.span("sources.read"):
        layers["sources.read_s"] = _median_wall(lambda: api.read_source(spark, cfg.source))

    def build():
        pipeline.build(spark)
        pipeline.release_intermediates()

    with tracer.span("pipeline.build"):
        layers["pipeline.build_s"] = _median_wall(build)

    def plan():
        df = pipeline.build(spark)
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        dt = time.perf_counter() - t
        pipeline.release_intermediates()
        return dt

    with tracer.span("pipeline.plan"):
        layers["pipeline.plan_s"] = median([plan() for _ in range(PROBE_REPEATS)])
    with tracer.span("pipeline.explain"):
        plan_text = pipeline.explain(spark)
    lint = api.lint_plan(plan_text)["counts"]
    layers["pipeline.exchanges"] = lint["shuffle_exchanges"]
    layers["pipeline.python_nodes"] = lint["arrow_python_crossings"]
    layers["pipeline.cached_relations"] = plan_text.count(" InMemoryTableScan")

    # each operator alone over its own cached input: the rows every earlier
    # operator kept, with the columns earlier refiners added
    cur = api.read_source(spark, cfg.source).persist()
    cur.count()
    ops = api.operators(cfg)
    for op in ops:
        def alone(df=cur, op=op):
            return df.filter(op.keep(df)) if isinstance(op, api.Filter) else op.apply(df)

        with tracer.span("operators.busy", operator=op.name):
            layers[f"operators.{op.name}.busy_s"] = _median_wall(
                lambda: alone().write.format("noop").mode("overwrite").save()
            )
        nxt = alone().persist()
        nxt.count()
        cur.unpersist()
        cur = nxt
    cur.unpersist()

    last = [o for o in traced + timed if not o.failures][-1]
    if last.result is not None:
        for m in last.result.operators:
            layers[f"operators.{m.operator}.pass_ratio"] = m.output_records / m.input_records if m.input_records else 0.0
    else:
        remaining = last.extra["rows"]
        for op in ops:
            rejected = last.extra["by_operator"].get(op.name, 0)
            layers[f"operators.{op.name}.pass_ratio"] = (remaining - rejected) / remaining if remaining else 0.0
            remaining -= rejected

    passed_dir, rejected_dir = wl.last_sinks()
    pf, pb = _parquet_size(passed_dir)
    rf, rb = _parquet_size(rejected_dir)
    layers["sinks.files"], layers["sinks.bytes"] = pf + rf, pb + rb
    passed = spark.read.parquet(passed_dir).persist()
    passed.count()
    sink_cfg = api.SinkConfig(path=os.path.join(run_dir, "probe_sink"), mode="overwrite")
    with tracer.span("sinks.write"):
        layers["sinks.write_s"] = _median_wall(lambda: api.write_sink(passed, sink_cfg))
    passed.unpersist()
    if last.result is not None:
        with tracer.span("metrics.write"):
            layers["metrics.write_s"] = _median_wall(
                lambda: api.write_metrics(spark, last.result, os.path.join(run_dir, "probe_metrics"))
            )
    else:
        drains = [o for o in traced + timed if not o.failures]
        layers["store.compact_s"] = median([o.extra["compact_s"] for o in drains])
        layers["store.rows_before"] = last.extra["compact"]["rows_before"]
        layers["store.rows_after"] = last.extra["compact"]["rows_after"]
        layers["store.files"] = last.extra["store"]["files"]
        layers["store.bytes_per_key"] = last.extra["store"]["bytes"] / max(1, last.extra["store"]["rows"])
        phases = [p for o in drains for p in o.extra["phases"]]
        for key, name in STREAM_PHASES:
            layers[f"streaming.{name}"] = median([p.get(key, 0) / 1e3 for p in phases])
        layers["streaming.triggers"] = median([len(o.triggers) for o in drains])

    for key in EXEC_KEYS:
        layers[f"exec.{key}"] = median([s[key] for s in exec_stats])
    layers["trace.traced_wall_s"] = median([o.wall for o in traced])
    layers["trace.untraced_wall_s"] = median([o.wall for o in timed])
    layers["trace.overhead_s"] = layers["trace.traced_wall_s"] - layers["trace.untraced_wall_s"]
    return layers


if __name__ == "__main__":
    sys.exit(main())
