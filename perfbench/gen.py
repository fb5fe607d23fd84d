"""Seeded input generation for the benchmark workloads.

Everything here is plain numpy/pyarrow: the inputs are made from the
seed before any timed section, so the package under test only ever
sees the generated tables. ``sf`` scales row counts the way TPC-H
does (sf=0.1 gives ~600k lineitem rows).
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa

FIRST_MONTH = (1995, 1)
N_MONTHS = 83  # 1995-01 .. 2001-11
STATUS_CUTOFF = np.datetime64("1999-06-01", "D")


def month_label(index: int) -> str:
    """'YYYY-MM' of the ``index``-th month after FIRST_MONTH."""
    year, month = divmod(FIRST_MONTH[0] * 12 + FIRST_MONTH[1] - 1 + index, 12)
    return f"{year:04d}-{month + 1:02d}"


def _month_index(days: np.ndarray) -> np.ndarray:
    months = days.astype("datetime64[M]").astype(np.int64)
    first = np.datetime64(f"{FIRST_MONTH[0]:04d}-{FIRST_MONTH[1]:02d}", "M").astype(np.int64)
    return (months - first).astype(np.int32)


def lineitem(seed: int, sf: float) -> Tuple[pa.Table, int]:
    """A TPC-H-shaped lineitem table with ``l_shipmonth`` ('YYYY-MM'),
    and the number of orders its rows belong to."""
    rng = np.random.default_rng([seed, 1])
    n_orders = max(int(1_500_000 * sf), 50)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)

    first_day = np.datetime64("1995-01-01", "D")
    span = (np.datetime64("2001-10-01", "D") - first_day).astype(int)
    o_orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    o_orderdate = first_day + rng.integers(0, span, n_orders)
    rng.integers(1, n_cust + 1, n_orders)  # the orders' customers: drawn to keep the stream

    lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(o_orderkey, lines)
    n_lines = len(l_orderkey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_lines) - starts + 1).astype(np.int32)
    l_shipdate = np.repeat(o_orderdate, lines) + rng.integers(1, 61, n_lines)
    l_partkey = rng.integers(1, n_part + 1, n_lines).astype(np.int64)
    l_suppkey = rng.integers(1, n_supp + 1, n_lines).astype(np.int64)
    l_quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    unit_price = 900.0 + (l_partkey % 20_001) / 10.0 + rng.integers(0, 100, n_lines) / 100.0
    l_extendedprice = np.round(l_quantity * unit_price, 2)
    l_discount = rng.integers(0, 11, n_lines) / 100.0
    l_tax = rng.integers(0, 9, n_lines) / 100.0
    shipped = l_shipdate <= STATUS_CUTOFF
    l_returnflag = np.where(shipped, np.where(rng.random(n_lines) < 0.5, "R", "A"), "N")
    l_linestatus = np.where(shipped, "F", "O")
    labels = np.array([month_label(i) for i in range(N_MONTHS)])
    table = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": l_suppkey,
        "l_linenumber": l_linenumber,
        "l_quantity": l_quantity,
        "l_extendedprice": l_extendedprice,
        "l_discount": l_discount,
        "l_tax": l_tax,
        "l_returnflag": l_returnflag,
        "l_linestatus": l_linestatus,
        "l_shipdate": pa.array(l_shipdate, pa.date32()),
        "l_shipmonth": labels[_month_index(l_shipdate)],
    })
    return table, n_orders


# ----------------------------------------------------------------- ingest


def ingest_batches(lineitem: pa.Table, seed: int, late_share: float = 0.08,
                   max_delay: int = 6) -> List[pa.Table]:
    """Split lineitem into ship-month arrival batches. Batch ``i`` holds
    month ``i``'s rows except a seeded ``late_share`` that arrive
    1..``max_delay`` batches later, in a later month's batch."""
    rng = np.random.default_rng([seed, 2])
    month = np.searchsorted(
        np.array([month_label(i) for i in range(N_MONTHS)]),
        lineitem.column("l_shipmonth").to_numpy(zero_copy_only=False),
    )
    delay = np.where(rng.random(len(month)) < late_share,
                     rng.integers(1, max_delay + 1, len(month)), 0)
    arrival = np.minimum(month + delay, N_MONTHS - 1)
    order = np.argsort(arrival, kind="stable")
    bounds = np.searchsorted(arrival[order], np.arange(N_MONTHS + 1))
    return [lineitem.take(order[bounds[i]:bounds[i + 1]]) for i in range(N_MONTHS)]


def restate(rows: pa.Table, rng: np.random.Generator, drop_share: float = 0.05) -> pa.Table:
    """A restatement of one partition: a seeded share of its lines is
    cancelled and the tax of the rest is corrected by +0.01."""
    keep = rng.random(rows.num_rows) >= drop_share
    kept = rows.filter(pa.array(keep))
    tax = np.round(kept.column("l_tax").to_numpy() + 0.01, 2)
    return kept.set_column(kept.schema.get_field_index("l_tax"), "l_tax", pa.array(tax))


def upsert_batch(rng: np.random.Generator, known_keys: np.ndarray, n_orders: int,
                 size: int, version: int) -> pa.Table:
    """Orders upsert batch: half updates of keys already in the keyed
    table, half new keys; keys are unique within the batch."""
    n_upd = min(size // 2, len(known_keys))
    upd = rng.choice(known_keys, n_upd, replace=False) if n_upd else np.empty(0, np.int64)
    fresh = np.setdiff1d(rng.integers(1, n_orders + 1, size * 2), known_keys)
    fresh = rng.permutation(np.setdiff1d(fresh, upd))[: size - n_upd]
    keys = np.concatenate([upd, fresh]).astype(np.int64)
    n = len(keys)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, 10_000, n).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n), 2),
        "o_version": np.full(n, version, dtype=np.int64),
    })


# --------------------------------------------------------------- curation

LANG_WORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "and", "of", "to", "is", "that"],
    "es": ["el", "los", "las", "es"],
    "fr": ["le", "les", "et", "est"],
}
NEUTRAL_STOPWORDS = ["a", "an", "or", "in", "it"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "dor",
              "fen", "gal", "hir", "jun", "mar", "nor", "pel", "sol", "tur", "ven"]


def vocabulary(seed: int, size: int = 600) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES, rng.integers(2, 4))))
    return np.array(sorted(words))


def curation_centroids(seed: int, n_cells: int = 16, dim: int = 64) -> pa.Table:
    """The shared IVF quantizer: ``n_cells`` cell centres as (cid, cvec)."""
    rng = np.random.default_rng([seed, 5])
    centers = rng.normal(size=(n_cells, dim))
    return pa.table({
        "cid": np.arange(n_cells, dtype=np.int32),
        "cvec": pa.array(list(centers), pa.list_(pa.float64())),
    })


def curation_shard(seed: int, shard: int, n_docs: int, n_vecs: int,
                   centroids: pa.Table) -> Dict[str, object]:
    """One curation input shard: documents with planted exact and near
    duplicates, plus embeddings clustered around the quantizer's cells.

    Documents come in three kinds: ``good`` (long, stopword-rich, in
    their labelled language — they pass the quality filter), ``short``
    (punctuation-heavy fragments that fail the quality score) and
    ``mislabelled`` (text in another language than the label). Planted
    copies of good documents get ids above every original, so the
    original is always the kept representative.
    """
    rng = np.random.default_rng([seed, 4, shard])
    vocab = vocabulary(seed)
    langs = sorted(LANG_WORDS)
    base = shard * 10 * (n_docs + n_vecs)
    ids, texts, labels, kinds = [], [], [], []
    for i in range(n_docs):
        lang = langs[rng.integers(0, len(langs))]
        roll = rng.random()
        if roll < 0.15:
            words = list(rng.choice(vocab, rng.integers(4, 8)))
            text = "!! ".join(words) + " ?!"
            kind = "short"
        else:
            text_lang = lang
            kind = "good"
            if roll < 0.30:
                text_lang = langs[(langs.index(lang) + 1 + rng.integers(0, 3)) % 4]
                kind = "mislabelled"
            n_words = int(rng.integers(70, 110))
            markers = LANG_WORDS[text_lang] + NEUTRAL_STOPWORDS
            words = np.where(rng.random(n_words) < 0.35,
                             rng.choice(markers, n_words), rng.choice(vocab, n_words))
            text = " ".join(words)
        ids.append(base + i)
        texts.append(text)
        labels.append(lang)
        kinds.append(kind)

    good = [i for i in range(n_docs) if kinds[i] == "good"]
    n_plant = max(1, n_docs // 20)
    sources = rng.choice(good, 2 * n_plant, replace=False)
    exact_pairs, near_pairs = [], []
    next_id = base + n_docs
    for j, src in enumerate(sources):
        text = texts[src]
        if j >= n_plant:  # near copy: one word replaced
            words = text.split(" ")
            pos = int(rng.integers(0, len(words)))
            words[pos] = vocab[(np.searchsorted(vocab, words[pos]) + 1) % len(vocab)]
            text = " ".join(words)
            near_pairs.append((ids[src], next_id))
        else:
            exact_pairs.append((ids[src], next_id))
        ids.append(next_id)
        texts.append(text)
        labels.append(labels[src])
        kinds.append("copy")
        next_id += 1

    centers = np.array(centroids.column("cvec").to_pylist())
    members = rng.integers(0, len(centers), n_vecs)
    noise = rng.normal(size=(n_vecs, centers.shape[1]))
    vecs = (centers[members] + 0.35 * noise).astype(np.float32)
    vec_ids = np.arange(n_vecs, dtype=np.int64) + next_id
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": labels,
        "source": [f"src{int(i) % 7}" for i in ids],
    })
    embeddings = pa.table({
        "vec_id": vec_ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    return {
        "docs": docs,
        "embeddings": embeddings,
        "vectors": vecs,
        "vec_ids": vec_ids,
        "expected_kept": {ids[i] for i in range(len(ids)) if kinds[i] in ("good", "copy")},
        "expected_curated": {ids[i] for i in range(len(ids)) if kinds[i] == "good"},
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
    }
