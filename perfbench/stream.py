"""``warehouse_stream``: the ODS -> DWD -> DWM -> DWS warehouse DAG run as
layered Structured Streaming queries over the ``apps`` builders.

Each layer's queries run one after another, each draining its input
with ``availableNow`` and one file per trigger, so input slice k is
micro-batch k at every hop (closed loop: the next micro-batch starts
when the previous one ends, and two Spark jobs never run at once).
Layers hand off through parquet files written one file per micro-batch,
the analog of the reference's Kafka topics; the DWS queries write into
``streaming.sinks.foreach_batch_upsert``.

Two wiring gaps of the builders are worked around here, in benchmark
code only (see ``perfbench/README.md``):

(a) ``visitor_stats_app`` and ``keyword_stats_app`` derive
    ``event_time`` internally, so a streaming caller cannot attach a
    watermark to it; append mode raises
    ``STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION``. They run in update
    mode, keeping every window in state.
(b) ``unique_visit_app`` and ``user_jump_detail_app`` emit rows without
    the ``vc/ch/ar/is_new`` keys ``visitor_stats_app`` groups by; they
    are enriched from a static mid dimension through
    ``operators.joins.enrich_dims``.
(c) ``province_stats_app`` counts ``COUNT(DISTINCT order_id)``, which
    a streaming DataFrame rejects; it runs on each micro-batch inside
    the upsert sink instead.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rt_bigdata_spark import apps
from rt_bigdata_spark.operators.joins import enrich_dims
from rt_bigdata_spark.streaming.sinks import foreach_batch_upsert, read_upserted
from rt_bigdata_spark.streaming.stateful import detect_bounces_batch

ORDER_INFO_JSON = StructType([
    StructField("id", LongType()), StructField("user_id", LongType()),
    StructField("province_id", LongType()), StructField("o_ts_ms", LongType()),
])
ORDER_DETAIL_JSON = StructType([
    StructField("detail_id", LongType()), StructField("order_id", LongType()),
    StructField("sku_id", LongType()), StructField("split_total_amount", DecimalType(12, 2)),
    StructField("d_ts_ms", LongType()),
])
PAGE_FLAT = StructType([
    StructField("mid", StringType()), StructField("vc", StringType()), StructField("ch", StringType()),
    StructField("ar", StringType()), StructField("is_new", StringType()), StructField("page_id", StringType()),
    StructField("last_page_id", StringType()), StructField("item", StringType()),
    StructField("during_time", LongType()), StructField("ts", LongType()),
])

# Query names as the per-layer metrics name them, in run order by layer.
LAYERS = (
    ("ods", ("ods_base_log",)),
    ("dwm", ("unique_visit", "user_jump_detail", "order_wide")),
    ("dws", ("visitor_stats", "keyword_stats", "province_stats")),
)
QUERIES = tuple(q for _, qs in LAYERS for q in qs)
# Upsert keys of the DWS sinks (one row per window and dimension key).
DWS_KEYS = {
    "visitor_stats": ["stt", "edt", "vc", "ch", "ar", "is_new"],
    "keyword_stats": ["stt", "edt", "keyword"],
    "province_stats": ["stt", "edt", "province_id", "province_name"],
}


@dataclass
class QueryRun:
    """What one drained query left behind: its progress records and
    the wall time of every sink call, in micro-batch order."""

    name: str
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    progress: list = field(default_factory=list)  # StreamingQueryProgress dicts
    sink_calls: list = field(default_factory=list)  # (batch_id, start, end)
    error: str | None = None


class _TimedSink:
    """foreachBatch function wrapper timing each call of the inner sink."""

    def __init__(self, inner, run: QueryRun):
        self.inner, self.run = inner, run

    def __call__(self, batch_df, batch_id):
        t0 = time.time()
        self.inner(batch_df, batch_id)
        self.run.sink_calls.append((batch_id, t0, time.time()))


def _handoff(out_dir: str):
    """Hand-off sink: one parquet file per micro-batch (the next layer
    reads one file per trigger, so batches stay aligned with slices)."""

    def fn(batch_df, batch_id):
        batch_df.repartition(1).write.mode("append").parquet(out_dir)

    return fn


def _ods_sink(out: dict[str, str]):
    def fn(batch_df, batch_id):
        branches = apps.ods_base_log_app(batch_df)
        for name, df in branches.items():
            df.repartition(1).write.mode("append").parquet(out[name])

    return fn


class StreamDag:
    """One pass of the DAG over generated inputs in ``work``."""

    def __init__(self, spark, inputs, work: str):
        self.spark, self.inp, self.work = spark, inputs, work
        shutil.rmtree(work, ignore_errors=True)  # a pass always starts from empty checkpoints
        self.dirs = {n: os.path.join(work, n) for n in (
            "page", "start", "display", "unique_visit", "user_jump_detail", "order_wide",
            "visitor_stats", "keyword_stats", "province_stats", "ckpt")}

    def _read(self, name: str, schema=None):
        r = self.spark.readStream.option("maxFilesPerTrigger", 1)
        if schema is not None:
            r = r.schema(schema)
        else:
            r = r.schema(self.spark.read.parquet(self.dirs[name]).schema)
        return r.parquet(self.dirs[name])

    def _json(self, path: str, schema):
        return self.spark.readStream.option("maxFilesPerTrigger", 1).schema(schema).json(path)

    def _run(self, name: str, df, sink, mode: str = "append") -> QueryRun:
        run = QueryRun(name, start=time.time())
        q = (
            df.writeStream.outputMode(mode)
            .foreachBatch(_TimedSink(sink, run))
            .option("checkpointLocation", os.path.join(self.dirs["ckpt"], name))
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception as e:  # a failed micro-batch ends the query; count it, keep the run going
            run.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        finally:
            run.end = time.time()
            run.progress = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
        return run

    def queries(self):
        """Yield (layer, name, thunk) in run order; each thunk builds the
        query through its ``apps`` builder and drains it."""
        s, inp, d = self.spark, self.inp, self.dirs
        wm = f"{inp.watermark_ms} milliseconds"
        for k in ("page", "start", "display"):
            os.makedirs(d[k], exist_ok=True)

        def ods():
            raw = s.readStream.option("maxFilesPerTrigger", 1).text(inp.raw_dir)
            return self._run("ods_base_log", raw, _ods_sink({k: d[k] for k in ("page", "start", "display")}))

        def uv():
            return self._run("unique_visit", apps.unique_visit_app(self._read("page", PAGE_FLAT)),
                             _handoff(d["unique_visit"]))

        def ujd():
            page = self._read("page", PAGE_FLAT).withColumn("eventTime", F.timestamp_millis("ts")) \
                .withWatermark("eventTime", wm)
            return self._run("user_jump_detail", apps.user_jump_detail_app(page), _handoff(d["user_jump_detail"]))

        def ow():
            return self._run("order_wide", _order_wide(
                s, inp, self._json(inp.order_info_dir, ORDER_INFO_JSON), self._json(inp.order_detail_dir, ORDER_DETAIL_JSON)),
                _handoff(d["order_wide"]))

        def vs():
            mid_dim = s.read.parquet(inp.mid_dim)
            page = self._read("page", PAGE_FLAT)
            uv_s = enrich_dims(self._read("unique_visit"), [(mid_dim, "mid")])
            uj_s = enrich_dims(self._read("user_jump_detail"), [(mid_dim, "mid")])
            return self._run("visitor_stats", apps.visitor_stats_app(page, uv_s, uj_s),
                             self._upsert("visitor_stats"), mode="update")

        def kw():
            return self._run("keyword_stats", apps.keyword_stats_app(self._read("page", PAGE_FLAT)),
                             self._upsert("keyword_stats"), mode="update")

        def ps():
            # Gap (c): province_stats_app's exact COUNT(DISTINCT) is not
            # supported on a streaming DataFrame, so the builder runs on
            # each micro-batch inside the sink (every window's orders
            # arrive in one slice, see gen.py).
            upsert = self._upsert("province_stats")

            def fn(batch_df, batch_id):
                upsert(apps.province_stats_app(_province_input(batch_df)), batch_id)

            return self._run("province_stats", self._read("order_wide"), fn)

        thunks = {"ods_base_log": ods, "unique_visit": uv, "user_jump_detail": ujd, "order_wide": ow,
                  "visitor_stats": vs, "keyword_stats": kw, "province_stats": ps}
        for layer, names in LAYERS:
            for n in names:
                yield layer, n, thunks[n]

    def _upsert(self, name: str):
        # Within one update-mode batch each key appears once, so the
        # in-batch version column is immaterial; readers resolve
        # last-wins across batches on ``__batch_id``.
        return foreach_batch_upsert(self.dirs[name], DWS_KEYS[name], version_col="stt")

    def rows_written(self) -> int:
        """Rows in every sink's output (parquet footers; no Spark job)."""
        import pyarrow.parquet as pq

        total = 0
        for name, path in self.dirs.items():
            if name == "ckpt" or not os.path.isdir(path):
                continue
            for f in os.listdir(path):
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        return total

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def _order_wide(spark, inp, oi, od):
    oi = oi.select("id", "user_id", "province_id", F.timestamp_millis("o_ts_ms").alias("o_ts"))
    od = od.select("detail_id", "order_id", "sku_id", "split_total_amount",
                   F.timestamp_millis("d_ts_ms").alias("d_ts"))
    dim = spark.read.parquet(inp.province_dim)
    return apps.order_wide_app(oi, od, dims=[(dim, "province_id")])


def _province_input(order_wide):
    return order_wide.select(
        F.col("o_ts").alias("event_time"), "province_id", "province_name",
        "order_id", "split_total_amount",
    )


# --------------------------------------------------------------------------
# Correctness: stream sinks against the batch form of the same builders
# --------------------------------------------------------------------------

def _rows(df):
    return df.columns, [tuple(r) for r in df.collect()]


def expected_frames(spark, inp):
    """The batch form of every builder on the same generated input."""
    raw = spark.read.text(inp.raw_dir)
    # Each shared frame is computed once (the caller unpersists them).
    page = apps.ods_base_log_app(raw)["page"].persist()
    late = spark.createDataFrame(inp.late_keys, "mid string, ts long")
    mid_dim = spark.read.parquet(inp.mid_dim)
    uv = apps.unique_visit_app(page, streaming=False).persist()
    # Events past the watermark never reach the stream's bounce state.
    uj = detect_bounces_batch(page.join(late, ["mid", "ts"], "left_anti")).persist()
    oi = spark.read.schema(ORDER_INFO_JSON).json(inp.order_info_dir)
    od = spark.read.schema(ORDER_DETAIL_JSON).json(inp.order_detail_dir)
    ow = _order_wide(spark, inp, oi, od).persist()
    return {
        "unique_visit": uv,
        "user_jump_detail": uj,
        "order_wide": ow,
        "visitor_stats": apps.visitor_stats_app(
            page, enrich_dims(uv, [(mid_dim, "mid")]), enrich_dims(uj, [(mid_dim, "mid")])),
        "keyword_stats": apps.keyword_stats_app(page),
        "province_stats": apps.province_stats_app(_province_input(ow)),
    }


def actual_frames(spark, dag: StreamDag):
    out = {}
    for name in ("unique_visit", "user_jump_detail", "order_wide"):
        out[name] = spark.read.parquet(dag.dirs[name])
    for name, keys in DWS_KEYS.items():
        out[name] = read_upserted(spark, dag.dirs[name], keys, version_col="__batch_id")
    return out


def check(spark, inp, dag: StreamDag, corrupt: bool = False) -> list[str]:
    """Compare every DWM/DWS sink with its batch twin; returns the
    names of the outputs that differ. ``corrupt`` drops one row of the
    first stream output before the comparison, to prove the check
    notices."""
    from rt_bigdata_spark.testing import rowset

    exp = expected_frames(spark, inp)
    act = actual_frames(spark, dag)
    bad = []
    try:
        for i, name in enumerate(exp):
            e_cols, e_rows = _rows(exp[name])
            a_cols, a_rows = _rows(act[name].select(*exp[name].columns))
            if corrupt and i == 0:
                a_rows = a_rows[1:]
            if not e_rows or rowset(e_cols, e_rows) != rowset(a_cols, a_rows):
                bad.append(f"{name}: stream {len(a_rows)} rows vs batch {len(e_rows)}")
    finally:
        spark.catalog.clearCache()
    return bad
