"""Seeded input generation. Every input is a pure function of the seed:
the same seed writes the same bytes (``digest`` proves it per run).

Generation is plain Python (no Spark), so it runs before the JVM starts
and costs a run about a second at most.

- analytics: a buy-orders fact table with the engine's schema and the
  distributions of ``sources.generator.gen_buy_orders``, as one parquet file.
- ingest: buy orders of the same kind as JSON-lines stage files of 500
  records (the reference backfill's batch size), with a seeded share of
  lines truncated so they no longer parse; card events come from the
  engine's ``gen_cc_events`` at publish time.
- corpus: a word-salad document table shaped like the sf0.1 testdata
  ``documents`` (same vocabulary, languages, sources and length range),
  plus a seeded share of exact copies and of lightly edited near-copies;
  and a clustered ``embeddings`` table with a seeded share of exact copies.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import os
import random

# corpus vocabulary and labels follow the sf0.1 testdata documents table
VOCAB = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer join"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20


def digest(path: str) -> str:
    """sha256 over the bytes of ``path``, or of every file under it in
    sorted order — the same seed must give the same digest."""
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(f)
    )
    for f in files:
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def buy_orders(n: int, seed: int) -> list[dict]:
    """``n`` car-purchase records with the engine's buy-order schema and
    ``sources.generator.gen_buy_orders``'s distributions: a catalog model
    per order, purchase time uniform over the two years before 2026, 1–7
    days, and each optional PII field (address, phone, email, emergency
    contact) NULL for about a third of the orders."""
    from etl_school_spark.sources.generator import CAR_CATALOG

    rng = random.Random(seed)
    end = datetime.datetime(2026, 1, 1)
    out = []
    for i in range(n):
        model, brand, engine, hp, price, *_ = CAR_CATALOG[rng.randrange(len(CAR_CATALOG))]
        out.append({
            "txid": f"{rng.getrandbits(128):032x}",
            "rfid": f"0x{rng.getrandbits(96):024x}",
            "car_model": model,
            "brand": brand,
            "engine": engine,
            "horsepower": hp,
            "sell_price": price,
            "purchase_time": end - datetime.timedelta(seconds=rng.randrange(730 * 86400)),
            "days": rng.randint(1, 7),
            "name": f"Client#{i:09d}",
            "address": {
                "street_address": f"{rng.randint(1, 999)} Main St",
                "city": f"City{rng.randrange(100)}",
                "state": f"ST{rng.randrange(50)}",
                "postalcode": f"{rng.randrange(100000):05d}",
            } if rng.random() < 2 / 3 else None,
            "phone": f"+1-555-{rng.randrange(10000):04d}" if rng.random() < 2 / 3 else None,
            "email": f"client{i}@example.com" if rng.random() < 2 / 3 else None,
            "emergency_contact": {
                "name": f"Contact#{i}",
                "phone": f"+1-555-{rng.randrange(10000):04d}",
            } if rng.random() < 2 / 3 else None,
        })
    return out


def buy_orders_parquet(path: str, n: int, seed: int) -> None:
    """The buy-orders fact as one parquet file under ``path``, with the
    engine's CLIENT_BUY_ORDERS schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    s, l = pa.string(), pa.int64()
    schema = pa.schema([
        pa.field("txid", s, False), pa.field("rfid", s, False), pa.field("car_model", s, False),
        pa.field("brand", s, False), pa.field("engine", s, False), pa.field("horsepower", l, False),
        pa.field("sell_price", l, False), pa.field("purchase_time", pa.timestamp("us"), False),
        pa.field("days", l, False), pa.field("name", s, False),
        pa.field("address", pa.struct([("street_address", s), ("city", s), ("state", s), ("postalcode", s)])),
        pa.field("phone", s), pa.field("email", s),
        pa.field("emergency_contact", pa.struct([("name", s), ("phone", s)])),
    ])
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(buy_orders(n, seed), schema), os.path.join(path, "part-0.parquet"))


def staged_orders(stage_dir: str, n_batches: int, seed: int, corrupt_share: float,
                  batch: int = 500) -> list[dict]:
    """Write ``n_batches`` JSON-lines files of ``batch`` buy orders each;
    a seeded ``corrupt_share`` of lines is cut in half (unparseable).
    Returns, per file, its name, the corrupt count and the good txids."""
    rng = random.Random(seed)
    os.makedirs(stage_dir, exist_ok=True)
    out = []
    for b, start in enumerate(range(0, n_batches * batch, batch)):
        name = f"batch_{b:04d}.json"
        good: list[str] = []
        corrupt = 0
        with open(os.path.join(stage_dir, name), "w") as fh:
            for rec in buy_orders(batch, seed * 100_003 + b):
                rec["purchase_time"] = rec["purchase_time"].isoformat()
                line = json.dumps({k: v for k, v in rec.items() if v is not None})
                if rng.random() < corrupt_share:
                    line = line[: len(line) // 2]
                    corrupt += 1
                else:
                    good.append(rec["txid"])
                fh.write(line + "\n")
        out.append({"file": name, "produced": batch, "corrupt": corrupt, "good_txids": good})
    return out


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))


def corpus_tables(docs_path: str, emb_path: str, n_docs: int, n_vecs: int, seed: int,
                  exact_share: float, near_share: float, dup_vec_share: float,
                  dim: int = 64, n_clusters: int = 10) -> dict:
    """Documents (+ exact and near copies) and embeddings (+ exact copies)
    as single parquet files. Returns the row counts and the ids of the
    injected exact copies."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        text = _doc_text(rng)
        rows.append((i, text, rng.choice(LANGS), f"src{i % N_SOURCES}"))
    exact_ids = []
    next_id = n_docs
    for i in rng.sample(range(n_docs), int(n_docs * exact_share)):
        rows.append((next_id, rows[i][1], rows[i][2], rows[i][3]))
        exact_ids.append(next_id)
        next_id += 1
    for i in rng.sample(range(n_docs), int(n_docs * near_share)):
        words = rows[i][1].split()
        words[rng.randrange(len(words))] = rng.choice(VOCAB)  # one-word edit
        rows.append((next_id, " ".join(words), rows[i][2], rows[i][3]))
        next_id += 1
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(docs, docs_path)

    gen = np.random.default_rng(seed)
    centers = gen.normal(size=(n_clusters, dim))
    labels = gen.integers(0, n_clusters, size=n_vecs)
    vecs = centers[labels] + gen.normal(scale=1.0, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    src = np.sort(gen.choice(n_vecs, size=int(n_vecs * dup_vec_share), replace=False))
    all_vecs = np.concatenate([vecs, vecs[src]])
    all_labels = np.concatenate([labels, labels[src]]).astype(np.int32)
    dup_vec_ids = list(range(n_vecs, n_vecs + len(src)))
    embs = pa.table(
        {
            "vec_id": pa.array(np.arange(len(all_vecs), dtype=np.int64)),
            "embedding": pa.array(list(all_vecs), pa.list_(pa.float32())),
            "label": pa.array(all_labels),
        }
    )
    pq.write_table(embs, emb_path)
    return {
        "docs": len(rows),
        "vecs": len(all_vecs),
        "exact_ids": exact_ids,
        "dup_vec_ids": dup_vec_ids,
    }
