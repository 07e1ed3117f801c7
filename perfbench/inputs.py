"""Seeded input generator for the benchmark.

Everything the engine sees is made here from one integer seed, so the
same seed gives byte-identical files:

* transfer files in the engine's ``TRANSFERS`` schema — a backlog of a
  few large files landed before the stream starts, and a queue of small
  files the live phase lands on a schedule;
* an sf-style table directory (``events`` — which ``transfers_df``
  derives from — ``documents``, ``embeddings`` and small TPC-H tables)
  for the registry operators.

Knobs (``Shape``): Zipf exponent of address/user popularity, reorg
share (retraction + replacement pairs), out-of-order share within the
75-block finality horizon, and near-duplicate share of the corpus.
Files are written under a hidden temporary name and renamed into
place, so a file-source stream never lists a half-written file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FINALITY_BLOCKS = 75            # reorg / late-arrival horizon
SECONDS_PER_BLOCK = 12
GENESIS_EPOCH = 946_684_800     # 2000-01-01T00:00:00Z, block BLOCK0
BLOCK0 = 6_082_465
START_BLOCK = 18_000_000
ROWS_PER_BLOCK = 3

# micro-USDC size buckets (<1e8, <1e9, <1e10, >=1e10) and their shares
VALUE_EDGES = (10**6, 10**8, 10**9, 10**10, 10**12)
VALUE_SHARES = (0.4, 0.3, 0.2, 0.1)

TRANSFERS_ARROW = pa.schema([
    pa.field("log_id", pa.string(), False),
    pa.field("block_number", pa.int32(), False),
    pa.field("block_timestamp", pa.timestamp("us", tz="UTC"), False),
    pa.field("log_index", pa.int32(), False),
    pa.field("transaction_hash", pa.string(), False),
    pa.field("from_address", pa.string(), False),
    pa.field("to_address", pa.string(), False),
    pa.field("value", pa.decimal128(38, 0), False),
    pa.field("_sign", pa.int32(), False),
    pa.field("_version", pa.int64(), False),
])

VOCAB = ("a the data spark stream batch table query join filter group agg "
         "sort hash scan row column key value window merge order line part "
         "customer vector fast slow big small index shard cache replica "
         "commit offset").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.4, 0.15, 0.15, 0.15, 0.15)


@dataclass(frozen=True)
class Shape:
    """Input properties the engine's behaviour depends on."""

    zipf_s: float = 1.1            # address / user popularity skew
    reorg_share: float = 0.04      # originals later retracted + replaced
    ooo_share: float = 0.05        # originals landing late (<= 75 blocks)
    neardup_share: float = 0.2     # corpus rows that near-copy an earlier row
    n_addresses: int = 4000
    backfill_rows: int = 24_000    # originals in the pre-landed backlog
    backfill_files: int = 2
    tail_file_rows: int = 400      # originals per live-tail file
    tail_files: int = 80           # queue length (the live phase lands a prefix)
    n_events: int = 20_000
    n_documents: int = 500
    n_embeddings: int = 400
    n_orders: int = 3000


@dataclass
class Inputs:
    """Paths and facts the run needs about the generated inputs."""

    root: str
    src_dir: str                   # watched transfers directory
    sf_dir: str                    # table directory for registry operators
    backfill: list                 # pa.Table per backlog file
    tail: list                     # pa.Table per queued live-tail file
    hot_addresses: list            # most popular addresses, by rank
    days: list                     # block-range days covered by the backlog


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> np.ndarray:
    s = rng.bytes(n * nbytes).hex()
    w = 2 * nbytes
    return np.array(["0x" + s[i * w:(i + 1) * w] for i in range(n)])


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    bucket = rng.choice(len(VALUE_SHARES), size=n, p=VALUE_SHARES)
    lo = np.log10(np.array(VALUE_EDGES[:-1], dtype=float))[bucket]
    hi = np.log10(np.array(VALUE_EDGES[1:], dtype=float))[bucket]
    v = np.floor(10 ** rng.uniform(lo, hi)).astype(np.int64)
    return np.clip(v, np.array(VALUE_EDGES[:-1])[bucket],
                   np.array(VALUE_EDGES[1:])[bucket] - 1)


def transfer_stream(rng: np.random.Generator, shape: Shape, n_orig: int):
    """All stream rows in landing order, plus the landing position of
    each row measured in originals (so rows can be cut into files).

    Originals are block-ordered; an ``ooo_share`` of them is delayed by
    1..75 blocks, and a ``reorg_share`` gets a retraction (-1, v2) and a
    replacement (+1, v3, new value) landing 1..75 blocks after it."""
    addresses = _hex(rng, shape.n_addresses, 20)
    probs = zipf_probs(shape.n_addresses, shape.zipf_s)
    idx = np.arange(n_orig)
    block = START_BLOCK + idx // ROWS_PER_BLOCK
    log_index = (idx % ROWS_PER_BLOCK).astype(np.int32)
    frm = addresses[rng.choice(shape.n_addresses, size=n_orig, p=probs)]
    to = addresses[rng.choice(shape.n_addresses, size=n_orig, p=probs)]
    value = _values(rng, n_orig)
    txh = _hex(rng, n_orig, 32)

    land = idx.astype(float)
    late = rng.random(n_orig) < shape.ooo_share
    delay = rng.integers(1, FINALITY_BLOCKS + 1, size=n_orig) * ROWS_PER_BLOCK
    land[late] += delay[late]
    reorg = np.flatnonzero(rng.random(n_orig) < shape.reorg_share)
    r_land = land[reorg] + rng.integers(
        1, FINALITY_BLOCKS + 1, size=len(reorg)) * ROWS_PER_BLOCK + 0.5

    cols = {
        "orig": np.concatenate([idx, reorg, reorg]),
        "sign": np.concatenate([np.ones(n_orig), -np.ones(len(reorg)),
                                np.ones(len(reorg))]).astype(np.int32),
        "version": np.concatenate([np.ones(n_orig), np.full(len(reorg), 2),
                                   np.full(len(reorg), 3)]).astype(np.int64),
        "value": np.concatenate([value, value[reorg],
                                 _values(rng, len(reorg))]),
        "land": np.concatenate([land, r_land, r_land + 0.25]),
    }
    order = np.argsort(cols["land"], kind="stable")
    cols = {k: v[order] for k, v in cols.items()}
    o = cols["orig"]
    rows = {
        "log_id": np.char.add(np.char.add(
            np.char.zfill(block[o].astype(str), 10), "-"),
            np.char.zfill(log_index[o].astype(str), 6)),
        "block_number": block[o].astype(np.int32),
        "block_timestamp": (GENESIS_EPOCH + (block[o] - BLOCK0)
                            * SECONDS_PER_BLOCK) * 1_000_000,
        "log_index": log_index[o],
        "transaction_hash": txh[o],
        "from_address": frm[o],
        "to_address": to[o],
        "value": cols["value"],
        "_sign": cols["sign"],
        "_version": cols["version"],
    }
    return rows, cols["land"], addresses


def transfers_table(rows: dict, sel) -> pa.Table:
    arrays = []
    for f in TRANSFERS_ARROW:
        col = rows[f.name][sel]
        if f.name == "value":
            arr = pa.array(col, pa.int64()).cast(f.type)
        elif f.name == "block_timestamp":
            arr = pa.array(col, pa.int64()).cast(f.type)
        else:
            arr = pa.array(col, f.type)
        arrays.append(arr)
    return pa.Table.from_arrays(arrays, schema=TRANSFERS_ARROW)


def land(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` under a hidden temporary name, then rename it in:
    a directory lister sees either no file or the whole file."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, final)
    return final


def _documents(rng: np.random.Generator, shape: Shape) -> tuple[pa.Table, np.ndarray]:
    n = shape.n_documents
    vocab = np.array(VOCAB)
    texts: list[str] = []
    dup_of = np.full(n, -1)
    for i in range(n):
        if i > 0 and rng.random() < shape.neardup_share:
            j = int(rng.integers(0, i))
            words = texts[j].split()
            k = max(1, len(words) // 20)
            pos = rng.choice(len(words), size=k, replace=False)
            words = list(words)
            for p in pos:
                words[p] = str(vocab[rng.integers(0, len(vocab))])
            dup_of[i] = j
        else:
            words = vocab[rng.integers(0, len(vocab),
                                       size=int(rng.integers(20, 100)))]
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size=n,
                                                     p=LANG_SHARES)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, dup_of


def _embeddings(rng: np.random.Generator, shape: Shape) -> tuple[pa.Table, np.ndarray]:
    n, dim, k = shape.n_embeddings, 64, 10
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, size=n)
    vec = centers[label] + 0.6 * rng.normal(size=(n, dim))
    dup_of = np.full(n, -1)
    for i in range(1, n):
        if rng.random() < shape.neardup_share:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + 0.01 * rng.normal(size=dim)
            label[i] = label[j]
            dup_of[i] = j
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return table, dup_of


def _events(rng: np.random.Generator, shape: Shape) -> pa.Table:
    n, users = shape.n_events, 1500
    t0 = 1_704_067_200 * 1_000_000      # 2024-01-01
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 1_000_000, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.choice(users, size=n,
                                       p=zipf_probs(users, shape.zipf_s)),
                            pa.int64()),
        "event_type": pa.array(np.array(
            ["view", "click", "signup", "purchase", "error"])[
                rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _tpch(rng: np.random.Generator, shape: Shape) -> dict[str, pa.Table]:
    n_o = shape.n_orders
    n_c, n_s, n_p, n_l = n_o // 10, max(n_o // 150, 10), n_o // 8, n_o * 4
    day = 86_400 * 1_000_000
    d0 = 694_224_000 * 1_000_000        # 1992-01-01
    ri = rng.integers
    odate = d0 + ri(0, 2400, size=n_o) * day
    l_order = ri(0, n_o, size=n_l)
    ts = pa.timestamp("us")
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(ri(0, 25, size=n_c), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_c), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"])[
                                          ri(0, 5, size=n_c)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(ri(0, 25, size=n_s), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_s), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                np.array(["large", "hot", "blue", "small", "green"])[ri(0, 5, size=n_p)],
                np.array(["ring", "bolt", "nut", "gear", "pipe"])[ri(0, 5, size=n_p)])],
            "p_brand": [f"Brand#{b}" for b in ri(1, 26, size=n_p)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"])[ri(0, 6, size=n_p)],
            "p_size": pa.array(ri(1, 51, size=n_p), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_p) % 1000 * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(ri(0, n_c, size=n_o), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[ri(0, 3, size=n_o)],
            "o_totalprice": np.round(rng.uniform(1000, 400_000, size=n_o), 2),
            "o_orderdate": pa.array(odate, pa.int64()).cast(ts),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[
                                             ri(0, 5, size=n_o)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(ri(0, n_p, size=n_l), pa.int64()),
            "l_suppkey": pa.array(ri(0, n_s, size=n_l), pa.int64()),
            "l_linenumber": pa.array(ri(1, 8, size=n_l), pa.int32()),
            "l_quantity": ri(1, 51, size=n_l).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, size=n_l), 2),
            "l_discount": ri(0, 11, size=n_l) / 100.0,
            "l_tax": ri(0, 9, size=n_l) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[ri(0, 3, size=n_l)],
            "l_linestatus": np.array(["F", "O"])[ri(0, 2, size=n_l)],
            "l_shipdate": pa.array(odate[l_order] + ri(1, 122, size=n_l) * day,
                                   pa.int64()).cast(ts)}),
    }


def generate(root: str, seed: int, shape: Shape = Shape()) -> Inputs:
    """Write every input of one run under ``root`` (which must not
    exist yet). Backlog files are landed in the watched directory now;
    tail files are returned as tables for the live phase to land."""
    os.makedirs(root)
    rng = np.random.default_rng(seed)
    n_orig = shape.backfill_rows + shape.tail_files * shape.tail_file_rows
    rows, land_pos, addresses = transfer_stream(rng, shape, n_orig)

    cuts = [shape.backfill_rows * i // shape.backfill_files
            for i in range(shape.backfill_files + 1)]
    cuts += [shape.backfill_rows + shape.tail_file_rows * (i + 1)
             for i in range(shape.tail_files)]
    bounds = np.searchsorted(land_pos, np.array(cuts, dtype=float) - 0.1)
    # rows landing beyond the last cut go into the last file
    bounds[-1] = len(land_pos)
    tables = [transfers_table(rows, slice(a, b))
              for a, b in zip(bounds[:-1], bounds[1:])]
    src_dir = os.path.join(root, "transfers")
    for i, t in enumerate(tables[:shape.backfill_files]):
        land(t, src_dir, f"backfill-{i:03d}")

    sf_dir = os.path.join(root, "sf")
    os.makedirs(sf_dir)
    docs, _ = _documents(rng, shape)
    embs, _ = _embeddings(rng, shape)
    tables_sf = {"events": _events(rng, shape), "documents": docs,
                 "embeddings": embs, **_tpch(rng, shape)}
    for name, t in tables_sf.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"),
                       compression="snappy")

    first_block = START_BLOCK // 7200
    last_block = (START_BLOCK + shape.backfill_rows // ROWS_PER_BLOCK) // 7200
    return Inputs(root=root, src_dir=src_dir, sf_dir=sf_dir,
                  backfill=tables[:shape.backfill_files],
                  tail=tables[shape.backfill_files:],
                  hot_addresses=list(addresses[:20]),
                  days=list(range(first_block, last_block + 1)))
