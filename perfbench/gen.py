"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program comes from here, and every
table is a pure function of its seed (numpy PCG64 + pyarrow, one file
per table), so the same seed gives byte-identical parquet.

* ``base_tables`` writes the TPC-H-ish catalog tables the query catalog
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``) at the row counts of the sf0.1 test data, with
  the same column names, types and value domains.  It runs once per
  checkout (fixed generator seed) and is never written by the program.
* ``curation_corpus`` writes a 5,000-doc ``documents`` table with a
  seeded share of rows replaced by perturbed copies of other rows.
* ``ingest_inputs`` writes a base corpus and the append batches of the
  ingest workload, the batches carrying exact and case/whitespace
  copies of base docs.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# the test data's 31-word document vocabulary
DOC_WORDS = ("a agg batch big column data fast filter group hash key line merge "
             "order part query row scan slow small sort spark stream table value "
             "vector window join index plan cache").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "a", "that", "for", "on",
             "with", "as"]

DAY_US = 86_400_000_000


def _ts(days_from, days_to, rng, n, epoch):
    """Naive microsecond timestamps at day granularity in [from, to]."""
    d = rng.integers(days_from, days_to + 1, n)
    return pa.array((epoch + d * DAY_US).astype("int64"), pa.timestamp("us"))


def _days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01")).astype(int))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def digest(path):
    """sha256 over a file, or over a directory's files in name order."""
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs)
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _doc_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# row counts of the test data at each scale factor
SIZES = {
    "0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                lineitem=600_000, events=100_000, documents=5_000, embeddings=2_000),
}


def base_tables(out_dir, sf="0.1"):
    """The fixed catalog tables at the row counts of the ``sf`` test data.
    Returns {table: digest}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    size = SIZES[sf]
    epoch = 0
    tabs = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = size["customer"]
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)], pa.string())})
    n = size["supplier"]
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2))})
    n = size["part"]
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)], pa.string()),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2))})
    n = size["orders"]
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, size["customer"], n), pa.int64()),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _ts(_days(1995, 1, 1), _days(2001, 8, 1), rng, n, epoch),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n)], pa.string())})
    n = size["lineitem"]
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, size["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": _ts(_days(1995, 1, 2), _days(2001, 11, 4), rng, n, epoch)})
    n = size["events"]
    start = _days(2024, 1, 1) * DAY_US
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * DAY_US, n)).astype("int64"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(np.minimum(rng.exponential(60.0, n), 560.21), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})
    n = size["documents"]
    lens = rng.integers(8, 97, n)
    texts = [" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), k)) for k in lens]
    for i in rng.choice(n, 8, replace=False):  # a few exact duplicates
        texts[i] = texts[(i + 1) % n]
    tabs["documents"] = _doc_table(list(range(n)), texts, rng)
    n = size["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, 64))).astype("float32")
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    out = {}
    for name, t in tabs.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        _write(t, p)
        out[name] = digest(p)
    return out


class _Vocab:
    """A rank-weighted vocabulary (p ~ rank^-0.5): English stopwords on
    the head, seeded pseudo-words on the tail.  The flat head keeps the
    share of doc pairs sharing a 2-gram small (a steep Zipf head makes
    nearly every pair a candidate of the quadratic pair join), so the
    near-dup pairs come from the planted copies."""

    def __init__(self, rng, size=4000):
        syl = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
        words = set(STOPWORDS)
        out = list(STOPWORDS)
        while len(out) < size:
            w = "".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(2, 5)))
            if w not in words:
                words.add(w)
                out.append(w)
        self.words = out
        p = 1.0 / np.arange(1, size + 1) ** 0.5
        self.p = p / p.sum()

    def doc(self, rng, lo=30, hi=120):
        k = int(rng.integers(lo, hi + 1))
        return " ".join(self.words[i] for i in rng.choice(len(self.words), k, p=self.p))

    def perturb(self, rng, text, frac=0.1):
        toks = text.split()
        for i in rng.choice(len(toks), max(1, int(len(toks) * frac)), replace=False):
            toks[i] = self.words[int(rng.choice(len(self.words), p=self.p))]
        return " ".join(toks)


def curation_corpus(out_dir, seed, n=5000, dup_rate=0.1):
    """5,000 docs; ``dup_rate`` of them replaced by perturbed copies of
    other (original) docs. Returns ({'documents': digest}, planted)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    vocab = _Vocab(rng)
    texts = [vocab.doc(rng) for _ in range(n)]
    planted = int(n * dup_rate)
    targets = rng.choice(n, planted, replace=False)
    originals = np.setdiff1d(np.arange(n), targets)
    for t in targets:
        texts[t] = vocab.perturb(rng, texts[int(rng.choice(originals))])
    p = os.path.join(out_dir, "documents.parquet")
    _write(_doc_table(list(range(n)), texts, rng), p)
    return {"documents": digest(p)}, planted


def ingest_inputs(out_dir, seed, n_base=2000, n_batches=16, batch=100, dup_rate=0.2):
    """Base corpus ``ingest_base.parquet`` and ``batches/b%03d.parquet``
    (doc ids continue after the base). A ``dup_rate`` share of each batch
    copies a base doc, half verbatim and half re-cased with doubled
    spaces (same normalized fingerprint). Returns {input: digest}."""
    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _Vocab(rng)
    base = [vocab.doc(rng) for _ in range(n_base)]
    out = {}
    p = os.path.join(out_dir, "ingest_base.parquet")
    _write(_doc_table(list(range(n_base)), base, rng), p)
    out["ingest_base"] = digest(p)
    next_id = n_base
    for b in range(n_batches):
        texts = []
        for _ in range(batch):
            r = rng.random()
            if r < dup_rate / 2:
                texts.append(base[int(rng.integers(0, n_base))])
            elif r < dup_rate:
                t = base[int(rng.integers(0, n_base))]
                texts.append("  ".join(w.upper() if i % 3 == 0 else w
                                       for i, w in enumerate(t.split())))
            else:
                texts.append(vocab.doc(rng))
        ids = list(range(next_id, next_id + batch))
        next_id += batch
        _write(_doc_table(ids, texts, rng), os.path.join(out_dir, "batches", f"b{b:03d}.parquet"))
    out["ingest_batches"] = digest(os.path.join(out_dir, "batches"))
    # probe texts: seeded 3-word queries drawn from the vocabulary head
    queries = [" ".join(vocab.words[i] for i in rng.choice(300, 3, replace=False) + 13)
               for _ in range(40)]
    p = os.path.join(out_dir, "probe_queries.parquet")
    _write(pa.table({"qid": pa.array(range(len(queries)), pa.int64()),
                     "text": pa.array(queries, pa.string())}), p)
    out["probe_queries"] = digest(p)
    return out
