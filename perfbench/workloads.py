"""The two workloads and the metrics they report.

A workload is prepared (inputs generated from the seed) before the
Spark session starts, then run: a correctness pass or check outside the
timed region, timed passes for at least ``--seconds``, and, when
tracing, as many traced passes again. ``result`` turns what was
recorded into the final JSON object.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

from perfbench import batch, stream
from perfbench.gen import BatchSpec, StreamSpec, gen_batch, gen_stream
from perfbench.telemetry import SparkRest, rest_time, live_mb


def _declared(kind: str) -> dict[str, str]:
    """Metric names and units as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


END_TO_END = _declared("end_to_end")
PER_LAYER = _declared("per_layer")

BATCH_DATA_SEED = 0

SCALES = {
    # Stream: the reference prototype's slice size (100k events over 40
    # slices). Batch: the textops specs read only ``documents``; 1,000
    # lies between sf0.01 (500) and sf0.1 (5,000), as large as the run
    # budget allows. perfbench/README.md gives the measurements.
    "full": (StreamSpec(n_slices=3, events_per_slice=2_500, n_mids=2_500, orders_per_slice=250),
             BatchSpec(documents=1_000)),
    "tiny": (StreamSpec(n_slices=3, events_per_slice=200, n_mids=200, orders_per_slice=20),
             BatchSpec(customers=15, suppliers=5, parts=40, events=200, users=5, documents=80, embeddings=80)),
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


_OPERATOR_SUMS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "python_bytes_sent", "python_bytes_received")


def _add_jobs(tr, lay: dict, snap, jobs: list[dict], parent, trace: str, **attrs) -> None:
    """Record a span per job and add the jobs' metrics to the operator
    and source layers."""
    for j in jobs:
        s = rest_time(j.get("submissionTime"))
        e = rest_time(j.get("completionTime")) or s
        tr.add("job", s, e, parent=parent, trace=trace, job_id=j["jobId"], **attrs)
    roll = snap.rollup(jobs)
    for k in _OPERATOR_SUMS:
        lay[f"operators.{k}"] += roll[k]
    lay["sources.input_rows"] += roll["input_rows"]
    lay["sources.input_bytes"] += roll["input_bytes"]


class _Workload:
    """Passes of one workload. The first pass after set-up is checked
    for correctness; it is measured too when ``COLD`` (the stream: each
    query's start-up is part of a DAG run), otherwise it and the pass
    after it are the warm-up and the passes after those are measured.
    A traced run traces the measured passes. Tracing reads Spark's
    telemetry after each pass, outside its timed region, so a traced
    pass costs the untraced pass plus that reading time: that
    difference is the tracing overhead."""

    COLD = False

    def __init__(self, args, work: str, tracer):
        self.args, self.work, self.tracer = args, work, tracer
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.measured: list[dict] = []  # per-pass end-to-end figures
        self.layers: list[dict] = []  # per traced measured pass, per-layer figures
        self.trace_s: list[float] = []  # time spent tracing, per traced pass
        self.passes = 0

    def run(self, spark) -> None:
        trace = bool(self.args.trace)
        first = self._next_pass(spark, trace and self.COLD, layers=self.COLD)
        bad = self._check()  # outputs of the first pass, outside the timed region
        self.failed += len(bad)
        self.problems += bad
        if self.COLD:
            self.measured.append(first)
        else:
            # The JIT is still warming on the pass after the first: it
            # ran ~20% slower than later ones, and more unevenly.
            self._next_pass(spark, False, layers=False)
        measured_s = sum(p["pass_s"] for p in self.measured)
        while not self.measured or measured_s < self.args.seconds:
            fig = self._next_pass(spark, trace, layers=True)
            measured_s += fig["pass_s"]
            self.measured.append(fig)
        if trace:
            self.live_mb = live_mb(spark)

    def _next_pass(self, spark, traced: bool, layers: bool) -> dict:
        pass_no = self.passes
        self.passes += 1
        fig, ctx = self._pass(spark, pass_no)
        print(json.dumps({"pass": pass_no, "pass_s": fig["pass_s"], "units_ms": fig["slices_ms"]}), file=sys.stderr)
        if traced:
            t0 = time.time()
            self._trace(spark, pass_no, layers, *ctx)
            self.trace_s.append(time.time() - t0)
        return fig

    def _overhead(self) -> dict[str, float]:
        """Traced minus untraced, per end-to-end metric: tracing adds its
        reading time to a pass and never runs inside a slice or query."""
        e2e, t = _e2e(self.measured), median(self.trace_s)
        return {"pass_s": t, "slice_ms_p50": 0.0,
                "events_per_s": e2e["events_per_s"] * e2e["pass_s"] / (e2e["pass_s"] + t) - e2e["events_per_s"]}

    def result(self, setup: dict) -> dict:
        if self.args.trace:
            vals = {k: median([lay[k] for lay in self.layers]) for k in self.layers[0]}
            vals["session.get_spark_s"] = setup["session.get_spark_s"]
            vals["session.warmup_s"] = setup["session.warmup_s"]
            for k, v in self._overhead().items():
                vals[f"trace.overhead.{k}"] = v
            vals["trace.setup_s"] = setup["setup_s"]
            vals["operators.live_heap_mb"] = self.live_mb
            metrics = {k: {"value": float(vals.get(k, 0.0)), "unit": unit} for k, unit in PER_LAYER.items()}
        else:
            vals = _e2e(self.measured)
            vals["setup_s"] = setup["setup_s"]
            metrics = {k: {"value": float(vals[k]), "unit": unit} for k, unit in END_TO_END.items()}
        return {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics, "problems": self.problems}


def _e2e(passes: list[dict]) -> dict[str, float]:
    # Latency of each unit (a slice, or a query) is its median over the
    # passes; slice_ms_p50 is the median over units of those.
    units = passes[0]["slices_ms"]
    return {
        "pass_s": median([p["pass_s"] for p in passes]),
        "events_per_s": median([p["events_per_s"] for p in passes]),
        "slice_ms_p50": median([median([p["slices_ms"][u] for p in passes]) for u in units]),
    }


class BatchWorkload(_Workload):
    """``textops_batch``: see ``perfbench/batch.py``."""

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        _, spec = SCALES[self.args.scale]
        self.data = os.path.join(self.work, "tables")
        # One fixed dataset, as the registry's test data is; the seed sets
        # the query order of each pass. Seeded tables change how much work
        # the data-dependent specs do (CC iterations, BPE merges), which
        # moved a pass by up to 20% between seeds.
        paths = gen_batch(self.data, BATCH_DATA_SEED, spec)
        self.table_rows = {t: pq.ParquetFile(p).metadata.num_rows for t, p in paths.items()}
        self.specs = batch.specs()
        self.rng = random.Random(self.args.seed)

    def _check(self) -> list[str]:
        return batch.check(self.first, self.data, corrupt=self.args.corrupt)

    def _pass(self, spark, pass_no: int) -> tuple[dict, tuple]:
        res = batch.run_pass(spark, self.data, self.specs, self.rng.randrange(2**31), pass_no)
        if pass_no == 0:
            self.first = res
        for q in res.queries:
            self.attempted += 1
            if q.error and pass_no > 0:  # pass 0 errors are counted by the check
                self.failed += 1
                self.problems.append(f"{q.name}: {q.error}")
        rows = sum(batch.input_rows(q, self.table_rows) for q in res.queries)
        return {"pass_s": res.wall_s, "events_per_s": rows / res.wall_s,
                "slices_ms": {q.name: q.total_s * 1e3 for q in res.queries}}, (res,)

    def _trace(self, spark, pass_no: int, layers: bool, res: "batch.PassResult") -> None:
        tr = self.tracer
        rest = SparkRest(spark)
        snap = rest.snapshot()
        pid = tr.add("pass", res.start, res.end, trace=f"pass{pass_no}")
        lay = dict.fromkeys(PER_LAYER, 0.0)
        build_s = exec_s = 0.0
        for q in res.queries:
            tag = batch.tag_for(pass_no, q.name)
            trace = f"pass{pass_no}"
            bid = tr.add("query.build", *q.build, parent=pid, trace=trace, query=q.name)
            eid = tr.add("query.execute", *q.execute, parent=pid, trace=trace, query=q.name)
            # Jobs launched inside QuerySpec.spark() (eager probes, owned
            # persists) belong to plans; the rest execute the returned plan.
            build_jobs = snap.jobs_for(tag, *q.build)
            lay["plans.build_jobs"] += len(build_jobs)
            for j in build_jobs:
                s = rest_time(j.get("submissionTime"))
                tr.add("job", s, rest_time(j.get("completionTime")) or s, parent=bid, trace=trace, job_id=j["jobId"])
            roll = snap.rollup(build_jobs)
            lay["sources.input_rows"] += roll["input_rows"]
            lay["sources.input_bytes"] += roll["input_bytes"]
            _add_jobs(tr, lay, snap, snap.jobs_for(tag, q.execute[0], float("inf")), eid, trace)
            build_s += q.build[1] - q.build[0]
            exec_s += q.execute[1] - q.execute[0]
        lay["plans.build_s"] = build_s
        lay["plans.build_share"] = build_s / res.wall_s
        lay["operators.exec_s"] = exec_s
        lay["operators.busy_ratio"] = lay["operators.executor_run_s"] / (exec_s * self.cores) if exec_s else 0.0
        lay["operators.cached_blocks_after_pass"] = rest.storage_blocks()
        for k in ("plans.build_s", "plans.build_jobs", "operators.jobs", "operators.tasks"):
            tr.count(k, lay[k])
        if layers:
            self.layers.append(lay)


class StreamWorkload(_Workload):
    """``warehouse_stream``: see ``perfbench/stream.py``."""

    COLD = True

    def prepare(self) -> None:
        spec, _ = SCALES[self.args.scale]
        self.inputs = gen_stream(os.path.join(self.work, "inputs"), self.args.seed, spec)
        self.n_slices = spec.n_slices

    def _check(self) -> list[str]:
        self.attempted += len(stream.DWS_KEYS) + 3
        return stream.check(self.last_dag.spark, self.inputs, self.last_dag, corrupt=self.args.corrupt)

    def _pass(self, spark, pass_no: int) -> tuple[dict, tuple]:
        if getattr(self, "last_dag", None) is not None:
            self.last_dag.cleanup()
        dag = stream.StreamDag(spark, self.inputs, os.path.join(self.work, f"pass{pass_no}"))
        runs = {}
        t0 = time.time()
        for _, name, thunk in dag.queries():
            runs[name] = r = thunk()
            data_batches = [p for p in r.progress if p["batchId"] < self.n_slices]
            self.attempted += max(len(r.progress), self.n_slices)
            if r.error:
                self.failed += max(1, self.n_slices - len(data_batches))
                self.problems.append(f"{name}: {r.error}")
        t1 = time.time()
        self.last_dag = dag
        trig = {n: {p["batchId"]: p["durationMs"].get("triggerExecution", 0) for p in r.progress}
                for n, r in runs.items()}

        def at(q, k):
            return trig[q].get(k, 0)

        # A slice's latency: its micro-batch at every hop, one query at a time.
        slices = {k: sum(at(q, k) for q in stream.QUERIES) for k in range(self.n_slices)}
        return ({"pass_s": t1 - t0, "events_per_s": self.inputs.n_events / (t1 - t0), "slices_ms": slices},
                (dag, runs, t0, t1))

    def _trace(self, spark, pass_no: int, layers: bool, dag, runs, t0: float, t1: float) -> None:
        tr = self.tracer
        rest = SparkRest(spark)
        snap = rest.snapshot()
        lay = dict.fromkeys(PER_LAYER, 0.0)
        pid = tr.add("pass", t0, t1, trace=f"pass{pass_no}")
        store_instances = 0.0
        for name, r in runs.items():
            qid = tr.add("query", r.start, r.end, parent=pid, trace=f"pass{pass_no}", query=name)
            rows_in, trig = 0.0, []
            for p in r.progress:
                d = p["durationMs"]
                b0 = rest_time(p["timestamp"].replace("Z", "GMT"))
                b1 = b0 + d.get("triggerExecution", 0) / 1e3
                bid = tr.add("micro_batch", b0, b1, parent=qid, trace=f"slice{p['batchId']}",
                             query=name, batch_id=p["batchId"])
                for batch_id, s, e in r.sink_calls:
                    if batch_id == p["batchId"]:
                        tr.add("sink_call", s, e, parent=bid, trace=f"slice{batch_id}", query=name)
                trig.append(d.get("triggerExecution", 0))
                rows_in += p.get("numInputRows", 0)
                lay[f"apps.{name}.add_batch_ms"] += d.get("addBatch", 0)
                lay[f"apps.{name}.query_planning_ms"] += d.get("queryPlanning", 0)
                lay[f"apps.{name}.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                lay["sources.latest_offset_ms"] += d.get("latestOffset", 0)
                lay["sources.get_batch_ms"] += d.get("getBatch", 0)
                lay["operators.exec_s"] += d.get("addBatch", 0) / 1e3
                per_batch_instances = 0
                for op in p.get("stateOperators", []):
                    lay["stateful.update_ms"] += op.get("allUpdatesTimeMs", 0)
                    lay["stateful.removal_ms"] += op.get("allRemovalsTimeMs", 0)
                    lay["stateful.commit_ms"] += op.get("commitTimeMs", 0)
                    lay["stateful.rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0)
                    per_batch_instances += op.get("numStateStoreInstances", 0)
                store_instances = max(store_instances, per_batch_instances)
            if r.progress:
                for op in r.progress[-1].get("stateOperators", []):
                    lay["stateful.rows_total"] += op.get("numRowsTotal", 0)
                    lay["stateful.memory_bytes"] += op.get("memoryUsedBytes", 0)
            lay[f"apps.{name}.batches"] = len(r.progress)
            lay[f"apps.{name}.rows_in"] = rows_in
            lay[f"apps.{name}.batch_ms_p50"] = median(trig)
            lay["sinks.call_s"] += sum(e - s for _, s, e in r.sink_calls)
            # Streaming jobs run on the query's own thread; the query's
            # time window identifies them (one query runs at a time).
            _add_jobs(tr, lay, snap, snap.jobs_for(None, r.start, r.end), qid, f"pass{pass_no}", query=name)
        lay["stateful.store_instances"] = store_instances
        lay["sinks.rows_written"] = dag.rows_written()
        exec_s = lay["operators.exec_s"]
        lay["operators.busy_ratio"] = lay["operators.executor_run_s"] / (exec_s * self.cores) if exec_s else 0.0
        lay["operators.cached_blocks_after_pass"] = rest.storage_blocks()
        for k in ("sinks.call_s", "sinks.rows_written", "operators.jobs", "stateful.rows_dropped_late"):
            tr.count(k, lay[k])
        if layers:
            self.layers.append(lay)
