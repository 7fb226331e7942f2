"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical files, another seed changes the content but not
the row or file counts. The engine only ever sees the files written
here.

- ``land_ticks``: JSON-lines tick files for the streaming app. Ticks
  come from the engine's own generator (``synthesize_ticks`` over a
  seeded id range) and are serialized by ``land_tick_jsonl``; this
  module only splits them into event-time-ordered files.
- ``write_bronze``: the medallion job's bronze (nested yfinance dumps
  and news articles), written with pyarrow.
- ``write_analyst_tables``: the star-schema, events and corpus tables
  the registered analyst queries read, in the schema of the engine's
  test data.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Ticks are one per second (the generator's default interval), so "the
# last N seconds of a file" is its last N ticks.
LATE_SHARE = 0.01
# Late ticks are drawn from the last 5 minutes of a file, well inside
# both the pipeline's 20-min and the correlation join's 10-min
# watermark: late data is exercised, none may be dropped.
LATE_HORIZON_TICKS = 300
TICK_INTERVAL_MS = 1000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input family, so adding a column to one
    family does not reshuffle another's values."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


# ---------------------------------------------------------------- ticks
def tick_id_offset(seed: int) -> int:
    """A multiple of the symbol count, so every seed has the same
    per-symbol tick counts."""
    return int(_rng(seed, "ticks").integers(0, 1_000_000)) * 5


def land_ticks(spark, seed: int, n_ticks: int, n_files: int, out_dir: str) -> dict:
    """Land ``n_ticks`` generated ticks as ``n_files`` JSON-lines files,
    each one contiguous slice of event time, with ``LATE_SHARE`` of
    every file but the last moved into the next file. File mtimes
    increase with the file index so the file source replays them in
    event-time order. Returns the landing summary the workload checks
    against."""
    from bda_spark.sources.generator import land_tick_jsonl, synthesize_ticks

    offset = tick_id_offset(seed)
    staging = out_dir + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    ids = spark.range(offset, offset + n_ticks, 1, 1)
    land_tick_jsonl(synthesize_ticks(ids, "id", interval_ms=TICK_INTERVAL_MS), staging)
    lines: list[str] = []
    for name in sorted(os.listdir(staging)):
        if name.startswith("part-"):
            with open(os.path.join(staging, name)) as f:
                lines.extend(f.read().splitlines())
    shutil.rmtree(staging)
    if len(lines) != n_ticks:
        raise RuntimeError(f"landed {len(lines)} ticks, expected {n_ticks}")

    per_file = n_ticks // n_files
    slices = [lines[i * per_file:(i + 1) * per_file] for i in range(n_files)]
    slices[-1].extend(lines[n_files * per_file:])
    rng = _rng(seed, "late")
    n_late = round(LATE_SHARE * per_file)
    carried: list[str] = []
    files: list[list[str]] = []
    for i, own in enumerate(slices):
        moved: list[str] = []
        if i < n_files - 1:
            tail = len(own) - LATE_HORIZON_TICKS
            late = set((tail + rng.choice(LATE_HORIZON_TICKS, n_late, replace=False)).tolist())
            moved = [own[j] for j in sorted(late)]
            own = [ln for j, ln in enumerate(own) if j not in late]
        files.append(carried + own)
        carried = moved

    os.makedirs(out_dir)
    base_mtime = 1_700_000_000
    for i, body in enumerate(files):
        path = os.path.join(out_dir, f"ticks-{i:04d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(body) + "\n")
        os.utime(path, (base_mtime + i, base_mtime + i))
    symbols: dict[str, int] = {}
    for ln in lines:
        s = json.loads(ln)["symbol"]
        symbols[s] = symbols.get(s, 0) + 1
    return {
        "n_ticks": n_ticks,
        "n_files": n_files,
        "late_ticks": n_late * (n_files - 1),
        "per_symbol": symbols,
        "id_offset": offset,
    }


# --------------------------------------------------------------- bronze
BRONZE_TICKERS = ["BP", "COP", "SHEL", "XOM"]
_BASE_PRICE = {"BP": 30.0, "COP": 110.0, "SHEL": 65.0, "XOM": 105.0}
_SITES = ["wnp.pl", "wysokienapiecie.pl", "beurs.nl", "cbsnews", "reuters", "ft"]
_KEYWORDS = [f"kw{i:02d}" for i in range(60)]
_START_S = 1_704_067_200  # 2024-01-01T00:00:00Z
UPDATES_PER_TICKER_MINUTE = 16
DUP_UPDATE_SHARE = 0.02
NULL_ARRAY_SHARE = 0.01
DUP_TITLE_SHARE = 0.10


def _iso(seconds: np.ndarray, micros: np.ndarray | None = None) -> list[str]:
    stamps = np.asarray(seconds).astype("datetime64[s]")
    if micros is None:
        return np.datetime_as_string(stamps, unit="s").tolist()
    us = stamps.astype("datetime64[us]") + np.asarray(micros).astype("timedelta64[us]")
    return np.datetime_as_string(us, unit="us").tolist()


def write_bronze(seed: int, n_updates: int, n_articles: int, out_dir: str) -> dict[str, int]:
    """Bronze for the medallion job.

    ``bronze_yf``: one record per minute with an ``updates_<T>``
    array<struct> per ticker (the reference's HDFS dumps at 1-minute
    grain). ``DUP_UPDATE_SHARE`` of the updates repeat inside their
    record as exact copies, so silver's key dedup removes them
    deterministically; ``NULL_ARRAY_SHARE`` of the COP arrays are null.

    ``bronze_news``: articles with three keywords each;
    ``DUP_TITLE_SHARE`` of them are exact re-scrapes of an earlier
    article, so silver's title dedup keeps a well-defined row."""
    rng = _rng(seed, "bronze")
    per = UPDATES_PER_TICKER_MINUTE
    n_records = max(1, n_updates // (len(BRONZE_TICKERS) * per))
    upd_struct = pa.struct([
        ("price", pa.float64()), ("volume", pa.int64()), ("volatility", pa.float64()),
        ("bid_ask_spread", pa.float64()), ("market_sentiment", pa.float64()),
        ("trading_activity", pa.float64()), ("timestamp", pa.string()), ("source", pa.string()),
    ])
    rec_s = _START_S + 60 * np.arange(n_records, dtype=np.int64)
    columns = {"timestamp": pa.array(_iso(rec_s))}
    n_landed = 0
    for t in BRONZE_TICKERS:
        n = n_records * per
        # distinct update instants inside each record's minute
        sec = np.sort(rng.random((n_records, 60)).argsort(axis=1)[:, :per], axis=1)
        upd_s = (rec_s[:, None] - 60 + sec).reshape(-1)
        walk = np.cumsum(rng.normal(0.0, 0.02, n))
        rows = {
            "price": np.round(_BASE_PRICE[t] * np.exp(walk / 10.0), 4),
            "volume": rng.integers(100, 100_000, n),
            "volatility": np.round(rng.uniform(0.1, 3.0, n), 4),
            "bid_ask_spread": np.round(rng.uniform(0.01, 0.5, n), 4),
            "market_sentiment": np.round(rng.uniform(-1.0, 1.0, n), 4),
            "trading_activity": np.round(rng.uniform(0.0, 100.0, n), 4),
            "timestamp": _iso(upd_s, rng.integers(0, 1_000_000, n)),
            "source": np.where(rng.random(n) < 0.8, "simulated", "real").tolist(),
        }
        # exact counts of null arrays and repeated updates, so every seed
        # lands the same number of updates
        null = np.zeros(n_records, bool)
        if t == "COP":
            null[rng.choice(n_records, round(NULL_ARRAY_SHARE * n_records), replace=False)] = True
        kept = np.flatnonzero(~np.repeat(null, per))
        copies = np.zeros(n, np.int64)
        copies[kept] = 1
        copies[rng.choice(kept, round(DUP_UPDATE_SHARE * len(kept)), replace=False)] = 2
        take = pa.array(np.repeat(np.arange(n), copies))
        offsets = np.concatenate([[0], np.cumsum(np.add.reduceat(copies, np.arange(0, n, per)))])
        values = pa.StructArray.from_arrays(
            [pa.array(rows[f.name], f.type).take(take) for f in upd_struct],
            fields=list(upd_struct),
        )
        n_landed += int(offsets[-1])
        columns[f"updates_{t}"] = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), values, mask=pa.array(null))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(out_dir, "bronze_yf.parquet"), row_group_size=2048)

    rng = _rng(seed, "news")
    n_orig = n_articles - int(n_articles * DUP_TITLE_SHARE)
    src = np.concatenate([np.arange(n_orig), rng.integers(0, n_orig, n_articles - n_orig)])
    kw = np.array(_KEYWORDS)[rng.integers(0, len(_KEYWORDS), (n_orig, 3))]
    days = rng.integers(0, 30, n_orig).astype("timedelta64[D]")
    repeat = rng.integers(2, 8, n_orig)
    news = pa.table({
        "title": [f"article {i} {kw[i, 0]}" for i in range(n_orig)],
        "text": [" ".join(kw[i].tolist() * int(repeat[i])) for i in range(n_orig)],
        "date": np.datetime_as_string(np.datetime64("2024-01-01") + days, unit="D").tolist(),
        "keywords": kw.tolist(),
        "is_premium": (rng.random(n_orig) < 0.2).tolist(),
        "source_site": np.array(_SITES)[rng.integers(0, len(_SITES), n_orig)].tolist(),
        "url": [f"https://news.example/{i}" for i in range(n_orig)],
        "random": rng.integers(0, 1_000_001, n_orig).astype(str).tolist(),
    })
    pq.write_table(news.take(pa.array(src)), os.path.join(out_dir, "bronze_news.parquet"),
                   row_group_size=8192)
    return {"yf_records": n_records, "yf_updates": n_landed, "articles": n_articles}


# ------------------------------------------------------ analyst tables
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return np.array(values)[rng.integers(0, len(values), n)].tolist()


def write_analyst_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """The tables the registered analyst queries read, at scale ``sf``
    of the engine's test-data layout (sf 1 = 6M lineitems). A
    near-duplicate document is an earlier document of at least 20 words
    plus one appended token, so every near-duplicate pair has shingle
    Jaccard above 0.9, inside the range the MinHash banding is sized
    for. Returns the row count per table."""
    rng = _rng(seed, "analyst")
    n_orders = int(1_500_000 * sf)
    n_lineitem = 4 * n_orders
    n_customer = int(150_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_customer),
    })
    order_days = int((np.datetime64("2001-08-01") - _EPOCH_1995).astype(int))
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days_ts(rng.integers(0, order_days + 1, n_orders)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_orders),
    })
    ship_days = int((np.datetime64("2001-11-04") - _EPOCH_1995).astype(int))
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_lineitem), 2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lineitem),
        "l_linestatus": _pick(rng, ["F", "O"], n_lineitem),
        "l_shipdate": _days_ts(rng.integers(1, ship_days + 1, n_lineitem)),
    })
    month_us = 30 * 86_400 * 1_000_000
    # strictly increasing instants: the order-sensitive queries (asof,
    # sessionize, lead) see no ties
    ts_us = np.sort(rng.integers(0, month_us - n_events, n_events)) + np.arange(n_events)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_events * 15 // 1000), n_events), pa.int64()),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n_events),
        "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    words = np.array(_VOCAB)
    lengths = rng.integers(8, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), n)].tolist()) for n in lengths]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        earlier = np.flatnonzero(lengths[:i] >= 20)
        if len(earlier):
            texts[i] = texts[int(earlier[rng.integers(0, len(earlier))])] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = centers[label] + rng.normal(0.0, 0.7, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64, dtype=np.int32)), pa.array(vecs.reshape(-1))),
        "label": pa.array(label, pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
