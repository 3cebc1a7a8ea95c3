"""Seeded inputs for the graft benchmark.

`corpus(out, sf, seed)` writes the ten corpus tables (the TESTDATA
layout: region nation customer supplier part orders lineitem events
documents embeddings, one parquet file each) with the same schemas and
value domains as the reference corpus, scaled by `sf` (sf 0.1 =
lineitem ~600k rows).

`drops(out, corpus_dir, seed, n, reviews_per_drop, restaurants_per_drop)`
writes the crawl drops the review_ingest workload lands, in the shapes
the reference crawlers write: `reviews/dNNNNN/{place_id}.json` (review
crawls derived from documents, one JSON array per place, with
re-crawled duplicates, truncated files and hot place_ids) and
`restaurants/dNNNNN/{query}.json` (one search query's restaurant list
derived from part, with re-crawls and dead-letter rows).

The same (sf, seed) always gives byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOW = ["월", "화", "수", "목", "금", "토", "일"]
DAY_US = 86_400_000_000


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def corpus(out: str, sf: float, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_user = max(15, int(15_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")

    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    price = np.round(900.0 + (pk % 1000) / 10.0, 2)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price}), f"{out}/part.parquet")

    d0 = np.datetime64("1995-01-01", "us").astype("int64")
    o_days = rng.integers(0, 2405, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(d0 + o_days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_pk = rng.integers(0, n_part, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_pk], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(d0 + (o_days[l_ok] + rng.integers(1, 122, n_li)) * DAY_US)}),
        f"{out}/lineitem.parquet")

    e0 = np.datetime64("2024-01-01", "us").astype("int64")
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(e0 + ev_ts),
        "user_id": rng.integers(0, n_user, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    # documents: random-vocabulary texts; ~5% are near-dup copies of an
    # earlier document with one trailing token added ("dup")
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}),
        f"{out}/documents.parquet")

    v = rng.standard_normal((n_doc, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(np.arange(0, n_doc * 64 + 1, 64, dtype="int32"),
                                   pa.array(v.reshape(-1), pa.float32()))
    _write(pa.table({
        "vec_id": np.arange(n_doc, dtype="int64"),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())}),
        f"{out}/embeddings.parquet")


def _place_id(partkey: int) -> str:
    return str(31_000_000 + partkey)


# Crawl drops. Shapes follow the reference crawlers (FIXTURES.md A1/A2):
# a review crawl writes one JSON array file per place, `{place_id}.json`,
# and a restaurant crawl one JSON array file per search query,
# `{query}.json`. The mix within a drop is an assumption of this
# benchmark, not a measurement of the reference's traffic (it publishes
# none): PLACES_PER_DROP places per review drop, HOT_PER_DROP of them
# from a fixed set of five hot places; a re-crawled place's file repeats
# RECRAWL_SHARE of its rows from that place's earlier crawls; TRUNCATED_SHARE
# of review files are cut off mid-array (a crawler that died while
# writing); a restaurant drop is one query's result list, re-crawled
# queries returning mostly known places.
PLACES_PER_DROP = 10
HOT_PER_DROP = 3
RECRAWL_SHARE = 0.15
TRUNCATED_SHARE = 0.02
QUERIES = [f"{area} {kind}" for area in ("공덕역", "마포역", "애오개역", "신촌역")
           for kind in ("식당", "맛집", "카페")]


def drops(out: str, corpus_dir: str, seed: int, n: int, reviews_per_drop: int,
          restaurants_per_drop: int) -> None:
    """`n` review drops (`reviews/dNNNNN/{place_id}.json`) and `n`
    restaurant drops (`restaurants/dNNNNN/{query}.json`), and
    `rows.txt`: the review and restaurant rows of each drop."""
    rng = np.random.default_rng([seed, 2])
    docs = pq.read_table(f"{corpus_dir}/documents.parquet", columns=["text"]).column(0).to_pylist()
    part = pq.read_table(f"{corpus_dir}/part.parquet").to_pydict()
    n_part = len(part["p_partkey"])
    n_places = min(n_part, max(50, restaurants_per_drop * n // 2))
    hot = rng.choice(n_places, 5, replace=False)
    per_file = max(1, reviews_per_drop // PLACES_PER_DROP)
    history = {}  # place -> its reviews crawled so far
    # each query's result pool: the places a search for it can return
    pools = [rng.choice(n_places, min(n_places, 2 * restaurants_per_drop), replace=False)
             for _ in QUERIES]
    counts = []

    for d in range(n):
        ddir = f"{out}/reviews/d{d:05d}"
        os.makedirs(ddir)
        rest = [int(p) for p in rng.choice([x for x in range(n_places) if x not in hot],
                                           PLACES_PER_DROP - HOT_PER_DROP, replace=False)]
        places = [int(p) for p in rng.choice(hot, HOT_PER_DROP, replace=False)] + rest
        n_reviews = 0
        for place in places:
            seen = history.setdefault(place, [])
            k = int(rng.integers(per_file // 2, per_file * 3 // 2 + 1))
            rows, fresh = [], []
            for _ in range(k):
                if seen and rng.random() < RECRAWL_SHARE:
                    rows.append(seen[int(rng.integers(0, len(seen)))])
                    continue
                words = docs[int(rng.integers(0, len(docs)))].split()
                m = int(rng.integers(3, 1 + min(len(words), 40)))
                fresh.append({"place_id": _place_id(place),
                              "author": f"user{int(rng.integers(0, 5000))}",
                              "content": " ".join(words[:m]),
                              "visit_date": f"{int(rng.integers(1, 13))}.{int(rng.integers(1, 29))}."
                                            f"{DOW[int(rng.integers(0, 7))]}"})
                rows.append(fresh[-1])
            seen.extend(fresh)
            text = json.dumps(rows, ensure_ascii=False, indent=1)
            if rng.random() < TRUNCATED_SHARE:
                text = text[:len(text) // 2]
            with open(f"{ddir}/{_place_id(place)}.json", "w", encoding="utf-8") as f:
                f.write(text)
            n_reviews += k

        q = int(rng.integers(0, len(QUERIES)))
        found = rng.choice(pools[q], min(len(pools[q]), restaurants_per_drop), replace=False)
        recs = []
        for rank, p in enumerate(found):
            p = int(p)
            rec = {"place_id": _place_id(p), "name": part["p_name"][p],
                   "thumbnail_url": f"https://img.example.test/{p}.jpg",
                   "category": part["p_type"][p], "page": 1 + rank // 20,
                   "origin_address": f"서울 마포구 마포대로 {part['p_size'][p]} {p % 7 + 1}층",
                   "address": f"서울 마포구 마포대로 {part['p_size'][p]}",
                   "latitude": round(37.5 + (p % 997) / 10000.0, 6),
                   "longitude": round(126.9 + (p % 991) / 10000.0, 6)}
            r = rng.random()
            if r < 0.04:
                rec["name"] = None  # defaulted by the pipeline
            elif r < 0.08:
                rec["url"] = f"https://map.example.test/place/{rec['place_id']}"
                rec["place_id"] = None  # backfilled from the url
            elif r < 0.10:
                rec["place_id"] = None  # no id, no url: a dead letter
            recs.append(rec)
        rdir = f"{out}/restaurants/d{d:05d}"
        os.makedirs(rdir)
        with open(f"{rdir}/{QUERIES[q]}.json", "w", encoding="utf-8") as f:
            json.dump(recs, f, ensure_ascii=False, indent=1)
        counts.append(f"{n_reviews} {len(recs)}")
    with open(f"{out}/rows.txt", "w") as f:
        f.write("\n".join(counts) + "\n")
