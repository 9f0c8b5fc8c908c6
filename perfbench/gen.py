"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow on the driver: the program under
test only ever sees the files written, never the generator.

Stream inputs (``warehouse_stream``)
    A page-log JSON stream plus ``order_info``/``order_detail`` JSON
    streams, cut into ``n_slices`` files each, and a static mid-dimension
    parquet table. Properties the DAG's behaviour depends on:

    - Zipf-skewed ``mid``s, so keyed state is uneven and realistic;
    - ~10% start events, search pages (``good_list``) carrying keyword
      items, display arrays on detail pages;
    - an event-time span of at least 1.5 days, so the UV day rollover
      and the bounce timeouts fire;
    - ~5% events delivered one slice late but inside the watermark
      (per-mid arrival order is kept, so keyed results do not depend
      on it), plus a few non-entry events delivered two slices late,
      beyond the watermark, so the late-drop counter is not zero;
    - order details partly outside the +/-5 s interval-join bound;
    - one final far-future event that advances the watermark past every
      pending bounce timeout, so the stream flushes state as batch does.

Batch inputs (``warehouse_batch`` / ``textops_batch``)
    The ten tables the registry's QuerySpecs read, with the column
    names, types and value conventions of the registry's test data, at
    a fixed small size.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_700_006_400_000  # 2023-11-15 00:00:00 UTC
DAY_MS = 86_400_000

PAGES = ("home", "good_list", "good_detail", "cart", "trade", "payment", "mine")
KEYWORDS = ("apple", "phone", "case", "laptop", "shoe", "red", "blue", "tv", "book", "lamp", "desk", "cable")
VCS = ("v2.1.134", "v2.1.132", "v2.0.1")
CHS = ("xiaomi", "huawei", "oppo", "appstore", "web")
ARS = ("110000", "310000", "440000", "500000")
PROVINCES = tuple((i, f"province_{i:02d}") for i in range(1, 13))


@dataclass(frozen=True)
class StreamSpec:
    n_slices: int
    events_per_slice: int
    n_mids: int
    orders_per_slice: int


@dataclass
class StreamInputs:
    raw_dir: str  # page-log JSON slices (one file per slice)
    order_info_dir: str
    order_detail_dir: str
    mid_dim: str  # parquet: mid, vc, ch, ar, is_new
    province_dim: str  # parquet: province_id, province_name
    n_events: int  # page-log records written (incl. start events and the flush event)
    late_keys: list  # (mid, ts) of page events generated beyond the watermark
    watermark_ms: int  # watermark delay for the bounce query


def _zipf_mids(rng: np.random.Generator, n: int, n_mids: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_mids + 1) ** 1.1
    return rng.choice(n_mids, size=n, p=w / w.sum())


def _write_lines(path: str, lines: list[str], mtime_s: float) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    # The file source orders new files by modification time: stamp one
    # distinct second per slice so slice k is always the k-th batch.
    os.utime(path, (mtime_s, mtime_s))


def gen_stream(root: str, seed: int, spec: StreamSpec) -> StreamInputs:
    rng = np.random.default_rng(seed)
    n_slices = spec.n_slices
    # Slice boundaries fall on 10 s window boundaries, so no tumbling
    # window of the DWS layer straddles two order slices.
    slice_ms = -(-max(int(1.5 * DAY_MS), n_slices * 600_000) // n_slices // 10_000) * 10_000
    span_ms = slice_ms * n_slices
    wm_ms = slice_ms // 2  # watermark delay of the bounce query

    # --- sessions: an entry page, then follow-ups a few seconds apart ---
    n_target = spec.events_per_slice * n_slices
    mids, ts, page, last, item, during, is_start = [], [], [], [], [], [], []
    n = 0
    while n < n_target:
        m = int(_zipf_mids(rng, 1, spec.n_mids)[0])
        t = T0_MS + int(rng.integers(0, span_ms - 120_000))
        if rng.random() < 0.10:  # app start record (start branch only)
            mids.append(m); ts.append(t); page.append(None); last.append(None)
            item.append(None); during.append(None); is_start.append(True)
            n += 1
            t += int(rng.integers(500, 3_000))
        length = int(rng.geometric(0.4))
        prev = None
        for _ in range(length):
            pid = PAGES[int(rng.integers(0, len(PAGES)))]
            it = None
            if pid == "good_list":
                k = int(rng.integers(1, 4))
                it = " ".join(KEYWORDS[int(j)] for j in rng.integers(0, len(KEYWORDS), size=k))
            elif pid == "good_detail":
                it = str(int(rng.integers(1, 500)))
            mids.append(m); ts.append(t); page.append(pid); last.append(prev)
            item.append(it); during.append(int(rng.integers(1_000, 20_000))); is_start.append(False)
            n += 1
            prev = pid
            # mostly within the 10 s bounce bound, sometimes beyond it
            t += int(rng.integers(1_000, 9_000)) if rng.random() < 0.8 else int(rng.integers(11_000, 60_000))
    mids = np.asarray(mids)
    ts = np.asarray(ts, dtype=np.int64)
    # Unique timestamps per mid keep the keyed kernels' sort stable.
    order = np.lexsort((np.arange(len(ts)), ts))
    mids, ts = mids[order], ts[order]
    page = [page[i] for i in order]; last = [last[i] for i in order]
    item = [item[i] for i in order]; during = [during[i] for i in order]
    is_start = [is_start[i] for i in order]
    ts = ts + np.arange(len(ts)) % 7  # break exact ties deterministically

    natural = np.minimum((ts - T0_MS) // slice_ms, n_slices - 1).astype(np.int64)
    phase = (ts - T0_MS - natural * slice_ms) / slice_ms  # position inside the slice, 0..1
    arrival = natural.copy()
    # ~5% delivered one slice late but inside the watermark (half a
    # slice): events from the last quarter of their slice.
    ooo = (phase > 0.75) & (natural < n_slices - 1) & (rng.random(len(ts)) < 0.2)
    arrival[ooo] += 1
    # keep per-mid arrival order equal to per-mid event-time order
    last_arr: dict[int, int] = {}
    last_idx: dict[int, int] = {}
    for i in range(len(ts)):
        m = int(mids[i])
        if m in last_arr and arrival[i] < last_arr[m]:
            arrival[i] = last_arr[m]
        last_arr[m] = int(arrival[i])
        last_idx[m] = i
    # a few non-entry final events of a mid, from the first quarter of
    # their slice, delivered two slices late: past the watermark
    late_keys = []
    cands = sorted(i for i in last_idx.values()
                   if last[i] is not None and phase[i] < 0.25 and arrival[i] + 2 <= n_slices - 1)
    rng.shuffle(cands)
    for i in cands[: max(3, len(ts) // 500)]:
        arrival[i] += 2
        late_keys.append((str(int(mids[i])), int(ts[i])))

    dims = {m: (VCS[m % len(VCS)], CHS[(m * 7) % len(CHS)], ARS[(m * 3) % len(ARS)], "1" if m % 5 == 0 else "0")
            for m in range(spec.n_mids)}
    slices: list[list[str]] = [[] for _ in range(n_slices)]
    for i in range(len(ts)):
        m = int(mids[i])
        vc, ch, ar, is_new = dims[m]
        common = {"mid": str(m), "uid": str(m * 13 % 9973), "vc": vc, "ch": ch, "ar": ar,
                  "ba": "brand", "md": "model", "os": "Android 11", "is_new": is_new}
        rec = {"common": common, "ts": int(ts[i])}
        if is_start[i]:
            rec["start"] = {"entry": "icon", "open_ad_id": "7", "loading_time": 1200}
        else:
            rec["page"] = {"page_id": page[i], "during_time": during[i]}
            if last[i] is not None:
                rec["page"]["last_page_id"] = last[i]
            if item[i] is not None:
                rec["page"]["item"] = item[i]
                rec["page"]["item_type"] = "keyword" if page[i] == "good_list" else "sku_id"
            if page[i] == "good_detail":
                rec["displays"] = [
                    {"item": str(int(x)), "item_type": "sku_id", "pos_id": str(p), "order": str(p + 1)}
                    for p, x in enumerate(rng.integers(1, 500, size=int(rng.integers(1, 4))))
                ]
        slices[int(arrival[i])].append(json.dumps(rec, separators=(",", ":")))
    # flush: one non-entry event far in the future on its own mid
    flush_mid = str(spec.n_mids + 1)
    flush = {"common": {"mid": flush_mid, "vc": VCS[0], "ch": CHS[0], "ar": ARS[0], "is_new": "0"},
             "page": {"page_id": "mine", "last_page_id": "home", "during_time": 1000},
             "ts": T0_MS + span_ms + 30 * DAY_MS}
    slices[-1].append(json.dumps(flush, separators=(",", ":")))
    dims[spec.n_mids + 1] = (VCS[0], CHS[0], ARS[0], "0")

    # --- orders: details within +/-5 s of their order, ~10% outside ---
    n_orders = spec.orders_per_slice * n_slices
    o_ts = np.sort(T0_MS + rng.integers(0, span_ms - 1_000, size=n_orders)).astype(np.int64)
    o_ts = o_ts + np.arange(n_orders) % 5
    oi_slices: list[list[str]] = [[] for _ in range(n_slices)]
    od_slices: list[list[str]] = [[] for _ in range(n_slices)]
    for oid in range(n_orders):
        k = min(int((o_ts[oid] - T0_MS) // slice_ms), n_slices - 1)
        prov = PROVINCES[int(rng.integers(0, len(PROVINCES)))][0]
        oi_slices[k].append(json.dumps({
            "id": oid + 1, "user_id": int(rng.integers(1, 5_000)), "province_id": prov,
            "o_ts_ms": int(o_ts[oid])}, separators=(",", ":")))
        for d in range(int(rng.integers(1, 4))):
            off = int(rng.integers(-4_000, 4_001)) if rng.random() < 0.9 else int(rng.choice([-1, 1]) * rng.integers(6_000, 30_000))
            # An order and all its details share one slice, so the
            # province rollup (per micro-batch, see stream.py) sees
            # whole windows.
            lo, hi = T0_MS + k * slice_ms, T0_MS + (k + 1) * slice_ms - 1
            d_ms = int(o_ts[oid]) + off
            if not lo <= d_ms <= hi:
                d_ms = int(o_ts[oid]) - off
            d_ms = min(max(d_ms, lo), hi)
            od_slices[k].append(json.dumps({
                "detail_id": (oid + 1) * 10 + d, "order_id": oid + 1, "sku_id": int(rng.integers(1, 500)),
                "split_total_amount": round(float(rng.integers(100, 100_000)) / 100, 2),
                "d_ts_ms": d_ms}, separators=(",", ":")))

    raw_dir = os.path.join(root, "in_page_log")
    oi_dir = os.path.join(root, "in_order_info")
    od_dir = os.path.join(root, "in_order_detail")
    for d in (raw_dir, oi_dir, od_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    base_mtime = 1_600_000_000
    for k in range(n_slices):
        _write_lines(os.path.join(raw_dir, f"slice-{k:05d}.json"), slices[k], base_mtime + k)
        _write_lines(os.path.join(oi_dir, f"slice-{k:05d}.json"), oi_slices[k] or [], base_mtime + k)
        _write_lines(os.path.join(od_dir, f"slice-{k:05d}.json"), od_slices[k] or [], base_mtime + k)

    mid_dim = os.path.join(root, "dim_mid.parquet")
    keys = sorted(dims)
    pq.write_table(pa.table({
        "mid": [str(m) for m in keys],
        "vc": [dims[m][0] for m in keys], "ch": [dims[m][1] for m in keys],
        "ar": [dims[m][2] for m in keys], "is_new": [dims[m][3] for m in keys],
    }), mid_dim)
    province_dim = os.path.join(root, "dim_province.parquet")
    pq.write_table(pa.table({
        "province_id": pa.array([p for p, _ in PROVINCES], pa.int64()),
        "province_name": [nm for _, nm in PROVINCES],
    }), province_dim)
    return StreamInputs(
        raw_dir=raw_dir, order_info_dir=oi_dir, order_detail_dir=od_dir,
        mid_dim=mid_dim, province_dim=province_dim, n_events=len(ts) + 1,
        late_keys=late_keys, watermark_ms=wm_ms,
    )


# --------------------------------------------------------------------------
# Batch tables
# --------------------------------------------------------------------------

BATCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")
_WORDS = ("join hash row batch scan column customer filter small slow merge order vector line "
          "table data agg value key stream window a spark part group big sort query fast the").split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


@dataclass(frozen=True)
class BatchSpec:
    """Row counts follow the registry test data's per-table ratios
    (customer : orders : lineitem = 1 : 10 : 40)."""

    customers: int = 150
    suppliers: int = 10
    parts: int = 200
    events: int = 1_000
    users: int = 15
    documents: int = 500
    embeddings: int = 500
    dim: int = 64


def _ts_us(base: str, offsets_s: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (offsets_s * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def gen_batch(root: str, seed: int, spec: BatchSpec = BatchSpec()) -> dict[str, str]:
    """Write the ten registry tables as ``<root>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = spec.customers
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], nc),
    })
    ns = spec.suppliers
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = spec.parts
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, npart), rng.choice(noun, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = nc * 10
    odays = rng.integers(0, 2_400, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, no), 2),
        "o_orderdate": _ts_us("1995-01-01", odays * 86_400.0),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = no * 4
    qty = rng.integers(1, 51, nl).astype(float)
    pk = rng.integers(0, npart, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2_100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2_500, nl) * 86_400.0),
    })
    ne = spec.events
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts_us("2024-01-01", np.sort(rng.uniform(0, 30 * 86_400, ne))),
        "user_id": pa.array(rng.integers(0, spec.users, ne), pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = spec.documents
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = " ".join(rng.choice(_WORDS, int(rng.integers(8, 80))))
        texts.append(words[: int(rng.integers(40, 560))].rstrip())
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = spec.embeddings
    x = rng.normal(size=(nv, spec.dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    paths = {}
    for name in BATCH_TABLES:
        paths[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(t[name], paths[name])
    return paths
