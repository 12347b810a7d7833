"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of the seed:

* `tables(seed, out)` writes the ten parquet tables the gate queries read
  (region nation customer supplier part orders lineitem events documents
  embeddings) with the same schemas, value domains and row-count rules as
  the project's deterministic test tables, at scale factor `SF`.
* `corpus(seed, out)` writes the `graft.Curate` input: a `documents`
  table of unique, exact-copy and near-copy lineages built from the
  documents vocabulary, plus a `lineage.parquet` side table
  (doc_id, lineage, kind) that only the output checks read.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts follow the test tables' rules at this scale factor: sf0.01 is
# the largest scale at which a round of every workload fits one run.
SF = 0.01

VOCAB = ("a agg batch big column customer data filter fast group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# Function words graft's marker lang-id scores (TextAnalysis.LangMarkers);
# corpus documents carry their language's markers so the quality stage's
# lang-id agreement keeps most of them.
MARKERS = {
    "en": ["the", "of", "and", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "es": ["el", "y", "es"],
    "fr": ["le", "et", "les", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}

# Curate corpus make-up: shares of documents by lineage kind. Exact-copy
# lineages are one root plus 1-4 copies that differ only in case and
# whitespace (one survivor each after exact dedup); near-copy lineages are
# one root plus 1-4 copies with one or two words replaced (Jaccard of word
# 3-shingles >= 0.8, so the near stage clusters them). Every root is long
# enough (80-120 words) that a one-word edit stays above the threshold.
CORPUS_DOCS = 16000
# The untimed warm-up chain's corpus. Per-document code must run often
# enough in the warm-up to be compiled before the timed chain starts.
WARMUP_DOCS = 4000
CORPUS_SHARES = {"unique": 0.5, "exact": 0.25, "near": 0.25}
MISLABELED_SHARE = 0.05

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _date_us(rng, n, first, last):
    """Midnight timestamps uniform over [first, last] (numpy datetime64[D])."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path)


def _text(rng, nwords):
    return " ".join(rng.choice(VOCAB, nwords))


def tables(seed, out):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb, n_user = max(500, int(50_000 * SF)), max(500, int(20_000 * SF)), int(15_000 * SF)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        f"{out}/supplier.parquet")
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_date_us(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_date_us(rng, n_line, "1995-01-02", "2001-11-04"))}),
        f"{out}/lineitem.parquet")
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    # documents: uniform words from VOCAB, 10-100 words; 5% are a copy of
    # an earlier document with " dup" appended (the near-duplicate seam the
    # dedup gates cluster).
    texts = [_text(rng, int(rng.integers(10, 101))) for _ in range(n_doc)]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet")


def _corpus_root(rng, lang):
    words = list(rng.choice(VOCAB, int(rng.integers(80, 121))))
    for m in MARKERS[lang]:
        words.insert(int(rng.integers(0, len(words) + 1)), m)
    return words


def corpus(seed, out, n_docs=CORPUS_DOCS):
    """Curate input: lineages of unique, exact-copy and near-copy docs.

    Doc ids are a seeded permutation, so survivors (min id per group) are
    not always lineage roots."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    texts, langs, lineage, kind = [], [], [], []
    n_unique = int(n_docs * CORPUS_SHARES["unique"])
    budget = {"exact": int(n_docs * CORPUS_SHARES["exact"]),
              "near": int(n_docs * CORPUS_SHARES["near"])}
    lin = 0

    def add(words, lang, k):
        texts.append(" ".join(words))
        langs.append(lang)
        lineage.append(lin)
        kind.append(k)

    for _ in range(n_unique):
        lang = str(rng.choice(LANGS, p=LANG_P))
        add(_corpus_root(rng, lang), lang, "unique")
        lin += 1
    for k in ("exact", "near"):
        left = budget[k]
        while left > 0:
            lang = str(rng.choice(LANGS, p=LANG_P))
            root = _corpus_root(rng, lang)
            copies = min(left - 1, int(rng.integers(1, 5)))
            add(root, lang, k)
            for _ in range(copies):
                if k == "exact":
                    w = [x.upper() if rng.random() < 0.1 else x for x in root]
                    sep = rng.choice([" ", "  ", "\t"], len(w) - 1)
                    texts.append("".join(a + b for a, b in zip(w, sep)) + w[-1])
                    langs.append(lang)
                    lineage.append(lin)
                    kind.append(k)
                else:
                    w = list(root)
                    for pos in rng.choice(len(w), int(rng.integers(1, 3)), replace=False):
                        w[pos] = str(rng.choice(VOCAB))
                    add(w, lang, k)
            left -= copies + 1
            lin += 1
    n = len(texts)
    langs = np.array(langs)
    # a few documents carry a wrong language tag: the quality stage drops them
    bad = rng.random(n) < MISLABELED_SHARE
    langs[bad] = [LANGS[(LANGS.index(x) + 1) % 5] for x in langs[bad]]
    ids = rng.permutation(n).astype(np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    _write(pa.table({"doc_id": ids, "lineage": np.array(lineage, dtype=np.int64),
                     "kind": kind}), f"{out}/lineage.parquet")
