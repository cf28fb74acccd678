"""Seeded input generators.  The program only ever sees their output.

- ``ecom``: products / orders / order_items with the FIXTURES.md
  distributions.  Orders of the burst span 31 days; every trickle file
  owns one later day of orders, so the ``order_kpis`` row of that day
  appears in the serving store exactly when the file has been served.
- ``corpus_epochs``: curation-pipeline arrivals with one planted
  duplicate per gate family (the ``tools/curation_pipeline_probe.py``
  construction), plus a static eval suite.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

CATEGORIES = ["Beauty", "Home & Kitchen", "Electronics", "Clothing", "Sports", "Books", "Toys"]
BRANDS = ["Acme", "Globex", "Initech", "Soylent", "Stark", "Umbrella", "Wonka"]
DEPARTMENTS = ["Personal Care", "Home", "Tech", "Fashion", "Outdoors", "Media", "Kids"]
BASE_DAY = np.datetime64("2025-03-08T00:00:00")
DAY_S = 24 * 3600


def products(rng: np.random.Generator, n: int) -> pd.DataFrame:
    pid = np.arange(1, n + 1)
    cat = rng.integers(0, len(CATEGORIES), n)
    retail = np.round(rng.uniform(15, 200, n), 2)
    brand = np.array(BRANDS, dtype=object)[rng.integers(0, len(BRANDS), n)]
    brand[rng.random(n) < 0.03] = None
    return pd.DataFrame(
        {
            "id": pid.astype("int32"),
            "sku": [f"SKU-{10_000_000 + i}" for i in pid],
            "cost": np.round(retail * rng.uniform(0.25, 0.40, n), 2),
            "category": np.array(CATEGORIES)[cat],
            "name": [f"product item number {i}" for i in pid],
            "brand": brand,
            "retail_price": retail,
            "department": np.array(DEPARTMENTS)[cat],
        }
    )


def _delta(rng, lo_s: int, hi_s: int, n: int) -> np.ndarray:
    return rng.integers(lo_s, hi_s, n).astype("timedelta64[s]")


def orders(rng: np.random.Generator, first_id: int, n: int, day0: int, n_days: int, n_users: int) -> pd.DataFrame:
    oid = np.arange(first_id, first_id + n)
    created = BASE_DAY + np.timedelta64(day0 * DAY_S, "s") + _delta(rng, 0, n_days * DAY_S, n)
    returned = rng.random(n) < 0.209
    shipped = created + _delta(rng, 3600, 2 * DAY_S, n)
    delivered = shipped + _delta(rng, DAY_S, 3 * DAY_S, n)
    ret_at = created + _delta(rng, 3 * DAY_S, 8 * DAY_S, n)
    return pd.DataFrame(
        {
            "order_id": oid.astype("int32"),
            "user_id": rng.integers(1, n_users + 1, n).astype("int32"),
            "status": np.where(returned, "returned", "delivered"),
            "created_at": created,
            "returned_at": np.where(returned, ret_at, np.datetime64("NaT")),
            "shipped_at": shipped,
            "delivered_at": delivered,
            "num_of_item": rng.integers(1, 5, n).astype("int32"),
        }
    )


def order_items(rng: np.random.Generator, first_id: int, ords: pd.DataFrame, n_products: int) -> pd.DataFrame:
    per = rng.integers(1, 6, len(ords))
    oid = np.repeat(ords["order_id"].to_numpy(), per)
    n = len(oid)
    created = np.repeat(ords["created_at"].to_numpy(), per) + _delta(rng, 0, 2 * 3600, n)
    returned = rng.random(n) < 0.166
    shipped = created + _delta(rng, 3600, 2 * DAY_S, n)
    return pd.DataFrame(
        {
            "id": np.arange(first_id, first_id + n).astype("int32"),
            "order_id": oid.astype("int32"),
            "user_id": np.repeat(ords["user_id"].to_numpy(), per).astype("int32"),
            "product_id": rng.integers(1, n_products + 1, n).astype("int32"),
            "status": np.where(returned, "returned", "delivered"),
            "created_at": created,
            "shipped_at": shipped,
            "delivered_at": shipped + _delta(rng, DAY_S, 3 * DAY_S, n),
            "returned_at": np.where(returned, created + _delta(rng, 3 * DAY_S, 8 * DAY_S, n), np.datetime64("NaT")),
            "sale_price": np.round(rng.uniform(15, 200, n), 2),
        }
    )


def ecom(seed: int, burst_parts: int, part_rows: int, trickle_files: int, trickle_orders: int):
    """Static dimensions, the burst's part files, and one order day per
    trickle file.  Returns (products, orders, burst_parts, trickles)
    where ``trickles`` is a list of (day_index, items)."""
    rng = np.random.default_rng(seed)
    prods = products(rng, 10_000)
    n_burst_items = burst_parts * part_rows
    # ~3 items per order: enough orders that the burst has its rows
    burst_orders = orders(rng, 1, n_burst_items // 3 + 50, 0, 31, 10_000)
    items = order_items(rng, 1, burst_orders, len(prods)).iloc[:n_burst_items]
    parts = [items.iloc[i * part_rows:(i + 1) * part_rows] for i in range(burst_parts)]
    all_orders, trickles = [burst_orders], []
    next_order, next_item = len(burst_orders) + 1, n_burst_items + 1
    for t in range(trickle_files):
        day_orders = orders(rng, next_order, trickle_orders, 31 + t, 1, 10_000)
        day_items = order_items(rng, next_item, day_orders, len(prods))
        all_orders.append(day_orders)
        trickles.append((31 + t, day_items))
        next_order += len(day_orders)
        next_item += len(day_items)
    return prods, pd.concat(all_orders, ignore_index=True), parts, trickles


def write_csv(df: pd.DataFrame, path) -> None:
    df.to_csv(path, index=False, date_format="%Y-%m-%dT%H:%M:%S")


# --- curation arrivals ----------------------------------------------------

STOPWORDS = "the a and of to in is it that for".split()


def _word_lists(seed: int):
    r = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = ["".join(r.choice(letters) for _ in range(6)) for _ in range(600)]
    eval_words = ["".join(r.choice(letters) for _ in range(7)) for _ in range(400)]
    return words, eval_words


def _doc(rng: random.Random, words: list[str], n: int = 40) -> str:
    """Stopword every 7th token so the quality gate never rejects a
    fresh document."""
    return " ".join(rng.choice(STOPWORDS) if i % 7 == 3 else rng.choice(words) for i in range(n))


def _eval_doc(rng: random.Random, eval_words: list[str], n: int = 40) -> str:
    return " ".join(rng.choice(STOPWORDS) if i % 3 == 2 else rng.choice(eval_words) for i in range(n))


# planted-id blocks: the id says which gate must catch the document
PLANT_EXACT, PLANT_NEAR, PLANT_EVAL = 1_000_000, 2_000_000, 4_000_000
PLANT_REASON = {
    PLANT_EXACT: "exact_dup",
    PLANT_NEAR: "near_dup",
    PLANT_EVAL: "contaminated",
}


def planted_reason(doc_id: int) -> str | None:
    return PLANT_REASON.get((doc_id // 1_000_000) * 1_000_000)


def corpus_epochs(seed: int, n_epochs: int, batch: int, n_eval: int = 20):
    """Arrival batches of (doc_id, text, source) rows and the eval
    suite.  Every batch plants one document per gate: an exact copy and
    a one-token mutation of earlier fresh documents (of the same batch
    in the first one), and one verbatim eval document."""
    words, eval_words = _word_lists(seed)
    rng = random.Random(seed)
    eval_docs = [(10_000 + i, _eval_doc(rng, eval_words)) for i in range(n_eval)]
    history: dict[int, str] = {}
    batches, next_id = [], 0
    for epoch in range(n_epochs):
        fresh = [(next_id + i, _doc(rng, words), "src") for i in range(batch - len(PLANT_REASON))]
        next_id += len(fresh)
        pool = dict(history)
        pool.update({d: t for d, t, _ in fresh if d < 1000})
        victims = rng.sample(sorted(pool), 2)
        toks = pool[victims[1]].split()
        toks[7] = "mutated"
        planted = [
            (PLANT_EXACT + epoch, pool[victims[0]], "src"),
            (PLANT_NEAR + epoch, " ".join(toks), "src"),
            (PLANT_EVAL + epoch, rng.choice(eval_docs)[1], "src"),
        ]
        batches.append(pd.DataFrame(fresh + planted, columns=["doc_id", "text", "source"]))
        history.update({d: t for d, t, _ in fresh if d < 1000})
    return batches, eval_docs
