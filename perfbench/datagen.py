"""Seeded benchmark inputs and their expected answers.

`generate(seed, out_dir)` writes the sf0.1-shaped star schema the medallion
DAG reads, the documents / embeddings / query vectors the curation chain
reads, and `expected.tsv` with the answers that follow from how the data
was built (near-duplicate pairs planted by the generator, exact-duplicate
survivors). The same seed always gives the same files.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
NEAR_DUP_PAIRS = 25
EXACT_DUPS = 40
SHINGLE = 8
JACCARD_MIN = 0.9

VOCAB_SIZE = 5000
ZIPF = 1.1


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def shingles(text):
    """Distinct character 8-grams, as `TextFunctions.charShingles` forms them."""
    return {text[i:i + SHINGLE] for i in range(len(text) - SHINGLE + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    common = len(sa & sb)
    return common / (len(sa) + len(sb) - common)


def _star_schema(rng, out_dir):
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_orders, n_line, n_events = int(1500000 * SF), int(6000000 * SF), 100000
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    kinds = np.array(["LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": kinds[rng.integers(0, len(kinds), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.uniform(0, 1100, n_part), 2)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    epoch = np.datetime64("1992-01-01", "us")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_orders, n_line)), pa.int64()),
        # a few part keys miss the dimension, so the enrichment's left join
        # keeps unmatched rows (n_brands counts them as NULL brand)
        "l_partkey": pa.array(rng.integers(0, n_part + n_part // 100, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(epoch + rng.integers(0, 10 * 365, n_line) * np.timedelta64(1, "D"),
                               pa.timestamp("us"))})
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
                       * np.timedelta64(1, "us"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, n_events), pa.int64()),
        # leading/trailing blanks give the raw layer's trim something to do
        "event_type": [f" {t} " if i % 7 == 0 else t
                       for i, t in enumerate(etypes[rng.integers(0, 5, n_events)])],
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return {"event_types": len(etypes)}


def _documents(rng, out_dir):
    """Random texts, plus planted near-duplicate pairs and exact copies.

    Random texts share far fewer than 90% of their 8-grams, so the planted
    pairs are the whole near-duplicate answer.
    """
    n_docs = int(50000 * SF)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(letters[rng.integers(0, 26, rng.integers(2, 9))])
                      for _ in range(VOCAB_SIZE)])
    # word frequencies follow Zipf's law, as in natural text
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF
    weights /= weights.sum()
    texts = []
    for i in range(n_docs - NEAR_DUP_PAIRS - EXACT_DUPS):
        # planted bases are long, so a one-word edit keeps Jaccard above 0.95
        lo, hi = (130, 160) if i < NEAR_DUP_PAIRS else (20, 90)
        texts.append(" ".join(rng.choice(vocab, rng.integers(lo, hi), p=weights)))
    for i in range(NEAR_DUP_PAIRS):
        words = texts[i].split(" ")
        words[-1] = words[-1][::-1] + "x"
        texts.append(" ".join(words))
    copies = rng.choice(np.arange(NEAR_DUP_PAIRS, n_docs - NEAR_DUP_PAIRS - EXACT_DUPS),
                        EXACT_DUPS, replace=False)
    texts.extend(texts[c] for c in copies)
    ids = rng.permutation(n_docs)  # doc_id of the i-th text
    by_id = sorted(zip(ids.tolist(), texts))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    _write(out_dir, "documents", {
        "doc_id": pa.array([d for d, _ in by_id], pa.int64()),
        "text": [t for _, t in by_id],
        "lang": langs[rng.integers(0, 5, n_docs)],
        "source": [f"src{d % 50}" for d, _ in by_id],
        "n_chars": pa.array([len(t) for _, t in by_id], pa.int64())})

    kept = {}
    for d, t in by_id:
        kept.setdefault(t, d)
    pairs = []
    for i in range(NEAR_DUP_PAIRS):
        j = n_docs - NEAR_DUP_PAIRS - EXACT_DUPS + i
        a, b = sorted((int(ids[i]), int(ids[j])))
        jac = round(jaccard(texts[i], texts[j]), 6)
        assert jac >= JACCARD_MIN, (a, b, jac)
        pairs.append((a, b, jac))
    return {"kept_docs": len(kept), "kept_id_sum": sum(kept.values()),
            "near_dups": sorted(pairs)}


def _vectors(rng, out_dir):
    n_vec, dim, n_q, k = 2000, 64, 16, 10
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n_vec)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_vec, dim))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    queries = (centers[rng.integers(0, k, n_q)] + rng.normal(0, 0.6, (n_q, dim))).astype(np.float32)
    _write(out_dir, "queries", {
        "qid": pa.array(np.arange(n_q), pa.int64()),
        "qvec": pa.array(list(queries), pa.list_(pa.float32()))})


def generate(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    facts = _star_schema(rng, out_dir)
    facts.update(_documents(rng, out_dir))
    _vectors(rng, out_dir)
    with open(os.path.join(out_dir, "expected.tsv"), "w") as f:
        for key in ("event_types", "kept_docs", "kept_id_sum"):
            f.write(f"{key}\t{facts[key]}\n")
        for a, b, jac in facts["near_dups"]:
            f.write(f"near_dup\t{a}\t{b}\t{jac!r}\n")
