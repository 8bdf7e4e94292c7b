"""Seeded input generation for the graft benchmark.

Every input derives from the read-only fixture tables (TESTDATA.md) and a
seed; the same seed always gives byte-identical tables. graft only ever
sees the generated copies.

- `sample(src, dst, seed)`: a key-consistent sample. Fact tables keep a
  seeded KEEP share of their keys: orders by o_orderkey (lineitem follows
  its order), events by user_id (whole user histories), documents by
  doc_id, embeddings by vec_id. Dimension tables are copied whole, so every
  foreign key still resolves.
- `waves(src, dst, seed, docs_per_wave)`: the curation feed. Documents are
  split into waves by a seeded hash of doc_id, so near-duplicate families
  straddle waves; each wave carries a fixed-epoch `ingest_ts`.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEEP = 0.9
DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
SAMPLED = {"orders": "o_orderkey", "events": "user_id",
           "documents": "doc_id", "embeddings": "vec_id"}
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00


def unit_hash(keys, seed, salt):
    """Seeded splitmix64 of integer keys, as floats in [0, 1)."""
    x = np.asarray(keys, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64((seed * 0x9E3779B97F4A7C15 + salt) % (1 << 64))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _write(table, path):
    pq.write_table(table.replace_schema_metadata(None), path,
                   row_group_size=max(table.num_rows, 1))


def sample(src, dst, seed):
    os.makedirs(dst, exist_ok=True)
    for name in DIMENSIONS:
        shutil.copyfile(f"{src}/{name}.parquet", f"{dst}/{name}.parquet")
    kept = {}
    for salt, (name, key) in enumerate(sorted(SAMPLED.items())):
        t = pq.read_table(f"{src}/{name}.parquet")
        keys = t.column(key).to_numpy()
        ukeys = np.unique(keys)
        keep_keys = ukeys[unit_hash(ukeys, seed, salt) < KEEP]
        t = t.filter(pc.is_in(t.column(key), value_set=pa.array(keep_keys)))
        kept[name] = keep_keys
        _write(t, f"{dst}/{name}.parquet")
    li = pq.read_table(f"{src}/lineitem.parquet")
    li = li.filter(pc.is_in(li.column("l_orderkey"),
                            value_set=pa.array(kept["orders"])))
    _write(li, f"{dst}/lineitem.parquet")


def waves(src, dst, seed, docs_per_wave):
    """Writes dst/wave_NNNNN.parquet plus manifest.csv; returns the count."""
    os.makedirs(dst, exist_ok=True)
    docs = pq.read_table(f"{src}/documents.parquet",
                         columns=["doc_id", "text", "lang", "source"])
    n_waves = max(2, -(-docs.num_rows // docs_per_wave))
    ids = docs.column("doc_id").to_numpy()
    wave_of = np.floor(unit_hash(ids, seed, 17) * n_waves).astype(np.int64)
    lines = ["wave,file,docs,text_bytes"]
    for w in range(n_waves):
        t = docs.filter(pa.array(wave_of == w))
        t = t.append_column("ingest_ts", pa.array(
            np.full(t.num_rows, EPOCH_US + w * 60_000_000, dtype=np.int64),
            type=pa.timestamp("us")))
        name = f"wave_{w:05d}.parquet"
        _write(t, f"{dst}/{name}")
        text_bytes = sum(len(s.encode("utf-8"))
                         for s in t.column("text").to_pylist() if s)
        lines.append(f"{w},{name},{t.num_rows},{text_bytes}")
    with open(f"{dst}/manifest.csv", "w") as f:
        f.write("\n".join(lines) + "\n")
    return n_waves
