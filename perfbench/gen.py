"""Seeded input generation for the benchmark workloads.

Everything here is plain numpy + pyarrow, run in the benchmark process; the
engine's own ``datagen`` is deliberately not used, so a change to the
program can never change the workload.  Each entity (or user) draws from
``np.random.default_rng((seed, stream, i))``, so the inputs depend only on
the seed and the sizes in ``settings.json``.

The PIT tables are also written in Spark's bucketed-table layout
(``bucketBy(n, "doc_id")``): one file per bucket, named ``..._<bucket>``,
with the bucket id computed exactly as Spark does, ``pmod(hash(doc_id),
n)`` where ``hash`` is Murmur3 x86_32 with seed 42.  Registering those
files as a bucketed table gives the cogroup a plan with zero exchanges.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Dict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# bump when the generated data changes, so cached inputs are rebuilt
GEN_VERSION = 3

VOCAB = 50257
SOURCES = ("web", "books", "code", "wiki")
EVENT_TYPES = ("view", "click", "cart", "purchase", "search")
EVENT_P = (0.45, 0.25, 0.12, 0.08, 0.10)

OBS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("t", pa.float64()), ("m", pa.float64()),
    ("sigma", pa.float64()), ("band", pa.string())])
PROBES_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("ts", pa.float64()),
    ("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()),
    ("source", pa.string())])
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("t", pa.float64()), ("m", pa.float64())])

# pit_features' bucket count and the shuffle partition count in
# settings.json: entity sizes are balanced over these hash partitions
BALANCE_PARTITIONS = 16

# rng stream ids: observations, probes and events never share a stream
_OBS, _PROBES, _EVENTS, _SHAPES = 1, 2, 3, 4


def doc_id(i: int) -> str:
    # fixed 8 bytes: Spark's Murmur3 then needs no tail-byte handling
    return f"d{i:07d}"


# ---- Spark's Murmur3 x86_32 (bucket ids) --------------------------------

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def spark_hash_utf8(s: str, seed: int = 42) -> int:
    """Spark's ``hash(col)`` for a string whose UTF-8 length is a multiple
    of 4 (``Murmur3_x86_32.hashUnsafeBytes``), as a signed 32-bit int."""
    b = s.encode("utf-8")
    if len(b) % 4:
        raise ValueError("only 4-byte-aligned strings are supported")
    h = seed & _M32
    for off in range(0, len(b), 4):
        k = int.from_bytes(b[off:off + 4], "little")
        k = (k * 0xCC9E2D51) & _M32
        k = _rotl(k, 15)
        k = (k * 0x1B873593) & _M32
        h ^= k
        h = _rotl(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    h ^= len(b)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def bucket_of(key: str, n_buckets: int) -> int:
    return spark_hash_utf8(key) % n_buckets   # Python % is pmod


# ---- per-entity draws -----------------------------------------------------

def entity_shapes(seed: int, n_entities: int, n_obs_choices, n_hot: int,
                  hot_factor: int):
    """(points, tokens) per entity.

    Hot entities (the first ``n_hot``) get ``hot_factor`` times the largest
    point count.  The sizes of the others are fixed per hash partition
    (``BALANCE_PARTITIONS``), and the seed only permutes them among the
    entities of one partition: the work per task, and with it the slowest
    task, is the same for every seed."""
    n = n_entities
    choices = np.asarray(n_obs_choices)
    part = np.array([bucket_of(doc_id(i), BALANCE_PARTITIONS)
                     for i in range(n)])
    order = np.lexsort((np.arange(n), part))
    points = np.empty(n, dtype=int)
    points[order] = choices[np.arange(n) % len(choices)]
    points[:n_hot] = choices.max() * hot_factor
    fixed = np.random.default_rng(0)
    n_tok = np.clip(fixed.lognormal(4.0, 0.8, n), 4, 1024).astype(int)
    rng = np.random.default_rng((seed, _SHAPES))
    for p in np.unique(part):
        idx = np.flatnonzero((part == p) & (np.arange(n) >= n_hot))
        perm = rng.permutation(idx)
        points[idx], n_tok[idx] = points[perm], n_tok[perm]
    return points, n_tok


def entity_draw(seed: int, i: int, n: int, n_tok: int, probes: int,
                ts_max: float = 1100.0):
    """Observations (t, m, sigma), probe cutoffs and the token payload of
    entity ``i``."""
    rng = np.random.default_rng((seed, _OBS, i))
    t = np.sort(rng.uniform(0.0, 1000.0, n))
    while len(np.unique(t)) != n:   # unique times: no tie-order ambiguity
        t = np.sort(rng.uniform(0.0, 1000.0, n))
    m = rng.uniform(15.0, 21.0, n)
    sigma = rng.uniform(0.01, 0.2, n)
    prng = np.random.default_rng((seed, _PROBES, i))
    tokens = prng.integers(0, VOCAB, n_tok, dtype=np.int32)
    # cutoffs run past both ends: some windows are empty, some complete
    ts = np.sort(prng.uniform(-20.0, ts_max, probes))
    return t, m, sigma, ts, tokens


def curve_tables(seed: int, n_entities: int, n_obs_choices, n_hot: int,
                 hot_factor: int, probes_per_entity: int):
    """(observations, probes) as Arrow tables, sorted by (doc_id, t/ts)."""
    obs_cols: Dict[str, list] = {k: [] for k in OBS_SCHEMA.names}
    pr_cols: Dict[str, list] = {k: [] for k in PROBES_SCHEMA.names}
    bands = np.array(["g", "r"])
    points, n_toks = entity_shapes(seed, n_entities, n_obs_choices, n_hot,
                                   hot_factor)
    for i in range(n_entities):
        t, m, sigma, ts, tokens = entity_draw(
            seed, i, points[i], n_toks[i], probes_per_entity)
        key = doc_id(i)
        obs_cols["doc_id"].append(np.full(len(t), key, dtype=object))
        obs_cols["t"].append(t)
        obs_cols["m"].append(m)
        obs_cols["sigma"].append(sigma)
        obs_cols["band"].append(np.resize(bands, len(t)))
        pr_cols["doc_id"].append(np.full(len(ts), key, dtype=object))
        pr_cols["ts"].append(ts)
        pr_cols["tokens"].extend([tokens] * len(ts))
        pr_cols["n_tok"].append(np.full(len(ts), len(tokens), np.int32))
        pr_cols["source"].append(
            np.full(len(ts), SOURCES[i % len(SOURCES)], dtype=object))
    obs = pa.table({k: np.concatenate(v) for k, v in obs_cols.items()},
                   schema=OBS_SCHEMA)
    probes = pa.table({
        "doc_id": np.concatenate(pr_cols["doc_id"]),
        "ts": np.concatenate(pr_cols["ts"]),
        "tokens": pa.array(pr_cols["tokens"], type=pa.list_(pa.int32())),
        "n_tok": np.concatenate(pr_cols["n_tok"]),
        "source": np.concatenate(pr_cols["source"]),
    }, schema=PROBES_SCHEMA)
    return obs, probes


def events_table(seed: int, n_events: int, n_users: int,
                 zipf_a: float) -> pa.Table:
    """``n_events`` events with Zipf-skewed users and 5 event types.  Times
    are continuous draws (days), unique per user, so window frames and
    lag/lead order are unambiguous."""
    rng = np.random.default_rng((seed, _EVENTS, 0))
    users = (rng.zipf(zipf_a, n_events) - 1) % n_users
    t = rng.uniform(0.0, 30.0, n_events)
    order = np.lexsort((t, users))
    users, t = users[order], t[order]
    dup = (np.diff(users) == 0) & (np.diff(t) == 0)
    if dup.any():   # vanishing probability; keep the contract exact
        raise RuntimeError("duplicate event time for one user")
    etype = rng.choice(len(EVENT_TYPES), n_events, p=EVENT_P)
    m = np.round(rng.normal(10.0, 3.0, n_events), 2)
    return pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "user_id": users.astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[etype],
        "t": t,
        "m": m,
    }, schema=EVENTS_SCHEMA)


# ---- on-disk layout -------------------------------------------------------

def write_bucketed(table: pa.Table, path: str, n_buckets: int,
                   sort_cols) -> None:
    """Spark bucketed-table layout: one file per non-empty bucket, rows
    sorted by ``sort_cols`` inside each file."""
    os.makedirs(path, exist_ok=True)
    keys = table.column("doc_id").to_pylist()
    ids = {k: bucket_of(k, n_buckets) for k in set(keys)}
    bucket = pa.array([ids[k] for k in keys], type=pa.int32())
    for b in range(n_buckets):
        part = table.filter(pc.equal(bucket, b))
        if part.num_rows == 0:
            continue
        part = part.sort_by([(c, "ascending") for c in sort_cols])
        pq.write_table(part, os.path.join(
            path, f"part-00000-perfbench_{b:05d}.c000.snappy.parquet"))


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def ensure_inputs(cache_root: str, workload: str, seed: int,
                  sizes: dict) -> str:
    """Generate the workload's inputs into ``<cache_root>/<key>`` unless a
    complete copy is there; returns that directory.  The key covers the
    workload, seed, sizes and generator version."""
    import hashlib
    key = hashlib.sha1(json.dumps(
        [GEN_VERSION, workload, seed, sizes], sort_keys=True).encode()
    ).hexdigest()[:12]
    root = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    if _complete(root):
        return root
    _prune(cache_root, workload, keep=3)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    if sizes.get("events"):
        ev = events_table(seed, sizes["events"], sizes["users"],
                          sizes["zipf_a"])
        os.makedirs(os.path.join(root, "events"))
        pq.write_table(ev, os.path.join(root, "events", "part-0.parquet"))
    if sizes.get("entities"):
        obs, probes = curve_tables(
            seed, sizes["entities"], tuple(sizes["n_obs"]), sizes["hot"],
            sizes["hot_factor"], sizes.get("probes_per_entity", 1))
        if sizes.get("buckets"):
            write_bucketed(obs, os.path.join(root, "obs_b"),
                           sizes["buckets"], ["doc_id", "t"])
            write_bucketed(probes, os.path.join(root, "probes_b"),
                           sizes["buckets"], ["doc_id", "ts"])
        else:
            os.makedirs(os.path.join(root, "obs"))
            pq.write_table(obs, os.path.join(root, "obs", "part-0.parquet"))
            os.makedirs(os.path.join(root, "probes"))
            pq.write_table(probes,
                           os.path.join(root, "probes", "part-0.parquet"))
    with open(os.path.join(root, "_DONE"), "w") as f:
        f.write("ok\n")
    return root


def _prune(cache_root: str, workload: str, keep: int) -> None:
    """Keep the cache bounded: at most ``keep`` seeds per workload."""
    if not os.path.isdir(cache_root):
        return
    mine = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(workload + "-s")]
    mine.sort(key=os.path.getmtime)
    for d in mine[:max(0, len(mine) - keep + 1)]:
        shutil.rmtree(d, ignore_errors=True)
