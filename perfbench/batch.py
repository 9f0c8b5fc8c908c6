"""``textops_batch``: passes over a fixed set of the registry's
training-data ``QuerySpec``s (``plans/textops.py``), each built through
``QuerySpec.spark`` and executed by collecting its (small) result.

The set keeps one spec for each of four operator families (LSH dedup,
the caller-owned persist of the threshold sweep, graph connected
components, BPE training), so a run fits the benchmark's time budget
with three measured passes while still loading the driver-side build
and its eager probes, the persists and the iterative jobs.

Correctness: the outputs the measured pass collected are compared,
after the pass, with the registry's DuckDB oracle SQL over the same
generated tables, through ``rt_bigdata_spark.testing.rowset``.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from rt_bigdata_spark.plans.registry import REGISTRY, _ensure_loaded
from rt_bigdata_spark.testing import rowset

from perfbench.gen import BATCH_TABLES

TEXTOPS_SET = ("minhash_lsh", "dedup_threshold_sweep", "dup_clusters", "bpe_merges")


def specs():
    _ensure_loaded()
    return [REGISTRY[n] for n in TEXTOPS_SET]


@dataclass
class QueryTiming:
    name: str
    build: tuple[float, float]  # (start, end), epoch seconds
    execute: tuple[float, float]
    error: str | None = None
    columns: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    input_files: list[str] = field(default_factory=list)

    @property
    def total_s(self) -> float:
        return self.execute[1] - self.build[0]


@dataclass
class PassResult:
    start: float
    end: float
    queries: list[QueryTiming] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def tag_for(pass_no: int, name: str) -> str:
    return f"perfbench-p{pass_no}-{name}"


def run_pass(spark, data_dir: str, spec_list, order_seed: int, pass_no: int) -> PassResult:
    """Build and execute (collect) every spec once, in a seeded order.
    Each query's Spark jobs carry the job tag ``tag_for(pass_no, name)``;
    the collected rows are kept for the correctness check."""
    order = list(spec_list)
    random.Random(order_seed).shuffle(order)
    sc = spark.sparkContext
    res = PassResult(time.time(), 0.0)
    frames = []
    for spec in order:
        tag = tag_for(pass_no, spec.name)
        sc.addJobTag(tag)
        q = QueryTiming(spec.name, (0.0, 0.0), (0.0, 0.0))
        b0 = b1 = time.time()
        df = None
        try:
            df = spec.spark(spark, data_dir)
            b1 = time.time()
            q.rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a raising query is counted in failed_ops; the pass goes on
            q.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        finally:
            sc.removeJobTag(tag)
        e1 = time.time()
        q.build, q.execute = (b0, b1), (b1, e1)
        res.queries.append(q)
        frames.append(df)
    res.end = time.time()
    for q, df in zip(res.queries, frames):
        if df is not None:
            q.columns = [c.lower() for c in df.columns]
            q.input_files = df.inputFiles()
    return res


def duck_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in BATCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def check(res: PassResult, data_dir: str, corrupt: bool = False) -> list[str]:
    """Compare every query output of a pass with its DuckDB oracle;
    returns one line per query that raised or differs. ``corrupt``
    drops one output row of the first query before the comparison, to
    prove the check notices."""
    bad = []
    con = duck_connection(data_dir)
    try:
        for i, q in enumerate(res.queries):
            if q.error:
                bad.append(f"{q.name}: {q.error}")
                continue
            rows = q.rows[1:] if corrupt and i == 0 else q.rows
            try:
                out = con.execute(REGISTRY[q.name].oracle)
            except Exception as e:  # an oracle that cannot run cannot vouch for the output
                bad.append(f"{q.name}: oracle raised {type(e).__name__}")
                continue
            d_cols = [c[0].lower() for c in out.description]
            d_rows = out.fetchall()
            if sorted(q.columns) != sorted(d_cols) or rowset(q.columns, rows) != rowset(d_cols, d_rows):
                bad.append(f"{q.name}: output differs from the oracle ({len(rows)} rows vs {len(d_rows)})")
    finally:
        con.close()
    return bad


def input_rows(q: QueryTiming, table_rows: dict[str, int]) -> int:
    """Rows of the generated tables the query's final plan scans."""
    return sum(n for t, n in table_rows.items() if any(f.endswith(f"/{t}.parquet") for f in q.input_files))
