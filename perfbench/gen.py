"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, and the generator also returns what a correct
program must output for those inputs (the expectations the checks in
checks.py compare against).
"""
import gzip
import hashlib
import json
import os
import random

DOMAIN = "gallery.example.org"
LICENSES = ["/licenses/by/4.0/", "/licenses/by-sa/4.0/", "/licenses/by-nc/2.0/"]
TITLE_WORDS = ["red", "blue", "old", "small", "river", "stone", "harbor",
               "portrait", "study", "garden", "bridge", "map", "vase",
               "print", "sketch", "field"]

# Corpus vocabulary (the documents fixture's shape: short lowercase
# words, 10-100 words a document) and a disjoint vocabulary for the
# decontamination set, so a corpus document shares an n-gram with it
# only where one was planted.
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "agg", "key", "query", "scan", "batch", "index", "shard", "page",
         "crawl", "image", "title", "tag", "license", "source", "domain",
         "parse", "load", "store", "cache", "plan", "stage", "task", "node",
         "graph", "edge", "band", "token", "word", "text", "doc", "count",
         "score", "rank", "top", "view", "day", "time", "run", "test",
         "file", "byte"]
BENCH_VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
               "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
               "november", "oscar", "papa"]
N_BENCH = 10  # doc_id < 10 is the decontamination set


class Hasher:
    """Running digest, row count and byte count of generated input."""

    def __init__(self):
        self.h = hashlib.sha256()
        self.rows = 0
        self.bytes = 0

    def add(self, data, rows=0):
        self.h.update(data)
        self.bytes += len(data)
        self.rows += rows

    def summary(self):
        return {"rows": self.rows, "bytes": self.bytes,
                "sha256": self.h.hexdigest()[:16]}


def write(path, data, hasher, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    hasher.add(data, rows)


# --------------------------------------------------------------- crawl

def _page_html(works, titles, license_path):
    blocks = "\n".join(
        f'<a class="image" href="https://{DOMAIN}/pages/w{w}">'
        f'<img src="https://img.example.org/w{w}.jpg" alt="{titles[w]}"></a>'
        for w in works)
    return (f'<html><a rel="license" href="https://creativecommons.org'
            f'{license_path}">CC</a>\n{blocks}\n</html>')


def _wat_line(segment, page, offset, length, license_path):
    return json.dumps({
        "Container": {"Filename": f"{segment}/wat/part.warc.gz",
                      "Offset": str(offset),
                      "Gzip-Metadata": {"Deflate-Length": str(length)}},
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Type": "response",
                "WARC-Target-URI": f"https://{DOMAIN}/g/{page}"},
            "Payload-Metadata": {
                "Actual-Content-Type": "application/json",
                "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
                    {"url": f"https://creativecommons.org{license_path}",
                     "path": "A@/href"}]}}}}}, sort_keys=True)


def crawl(seed, out_dir, days, pages_per_day, works_per_page, recrawl_share, hasher=None):
    """A synthetic crawl of `days` days. Each day has `pages_per_day`
    new gallery pages plus a seeded `recrawl_share` of earlier pages
    re-crawled with new titles. Day d writes one WARC file of gzip
    members at `<out_dir>/day<d>/warc/part.warc.gz` and its WAT
    envelope lines at `<out_dir>/day<d>.wat`.

    Returns (summary, expected): the input summary (of everything
    `hasher` has seen, when one is given), and expected[d], the canonical state a
    correct load/merge holds after day d, as {work_id: (title,
    first_day)}, cumulative."""
    rng = random.Random(f"crawl-{seed}")
    hasher = hasher or Hasher()
    titles, first_day, page_works, page_license = {}, {}, {}, {}
    n_pages = 0
    expected = []
    for d in range(days):
        segment = f"day{d:03d}"
        recrawl = sorted(rng.sample(range(n_pages),
                                    min(n_pages, int(recrawl_share * pages_per_day))))
        fresh = list(range(n_pages, n_pages + pages_per_day))
        n_pages += pages_per_day
        members, lines, offset = [], [], 0
        for p in sorted(fresh + recrawl, key=lambda _: rng.random()):
            if p not in page_works:
                page_works[p] = [p * works_per_page + j for j in range(works_per_page)]
                page_license[p] = rng.choice(LICENSES)
            for w in page_works[p]:
                titles[w] = (f"{rng.choice(TITLE_WORDS)} {rng.choice(TITLE_WORDS)} "
                             f"{w} r{d}")
                first_day.setdefault(w, d)
            html = _page_html(page_works[p], titles, page_license[p])
            member = gzip.compress(html.encode("utf-8"), mtime=0)
            members.append(member)
            lines.append(_wat_line(segment, p, offset, len(member), page_license[p]))
            offset += len(member)
        write(os.path.join(out_dir, segment, "warc", "part.warc.gz"),
               b"".join(members), hasher, 0)
        write(os.path.join(out_dir, f"{segment}.wat"),
               ("\n".join(lines) + "\n").encode("utf-8"), hasher, len(lines))
        expected.append({w: (titles[w], first_day[w]) for w in titles})
    return hasher.summary(), expected


# ----------------------------------------------------------- documents

def _text(rng, n_words, vocab=VOCAB):
    return " ".join(rng.choice(vocab) for _ in range(n_words))


def _near_copy(rng, text):
    """One word replaced near the end: 3-shingle Jaccard ~0.9 against
    the original for the >= 60-word originals it is applied to."""
    words = text.split(" ")
    i = len(words) - 2
    words[i] = next(w for w in VOCAB if w != words[i])
    return " ".join(words)


def _doc(doc_id, text, rng):
    return {"doc_id": doc_id, "text": text,
            "lang": rng.choice(["en", "en", "de", "fr", "es", "zh"]),
            "source": f"src{doc_id % 5}", "n_chars": len(text)}


def bench_docs(seed):
    rng = random.Random(f"bench-{seed}")
    return [_doc(i, _text(rng, rng.randint(20, 40), BENCH_VOCAB), rng)
            for i in range(N_BENCH)]


def raw_corpus(seed, n_docs):
    """The corpus before curation: `n_docs` documents (ids from 10,
    after the decontamination set) with fixed shares of planted
    drops. Returns (docs, the stats curation must report, the docs it
    must keep)."""
    rng = random.Random(f"corpus-{seed}")
    bench = bench_docs(seed)
    n_short = n_docs * 3 // 100
    n_exact = n_docs * 5 // 100
    n_near = n_docs * 5 // 100
    n_contam = n_docs * 2 // 100
    n_base = n_docs - n_exact - n_near
    base = [_text(rng, rng.randint(60, 100)) for _ in range(n_base)]
    for i in range(n_short):  # fail the length gate (< 10 tokens)
        base[i] = _text(rng, rng.randint(3, 8))
    # copy sources, contamination targets and short docs are disjoint
    sources = rng.sample(range(n_short, n_base), n_exact + n_near + n_contam)
    contaminated = set(sources[n_exact + n_near:])
    for i in sorted(contaminated):
        span = rng.choice(bench)["text"].split(" ")[:6]
        words = base[i].split(" ")
        at = rng.randint(0, len(words) - 1)
        base[i] = " ".join(words[:at] + span + words[at:])
    copies = ([base[i].replace(" ", "  ", 1) for i in sources[:n_exact]] +
              [_near_copy(rng, base[i]) for i in sources[n_exact:n_exact + n_near]])
    rng.shuffle(copies)  # copies always carry larger ids than their source
    docs = [_doc(N_BENCH + i, t, rng) for i, t in enumerate(base + copies)]
    stats = {"input": n_docs, "quality_fail": n_short, "exact_dup": n_exact,
             "near_dup": n_near, "contaminated": n_contam,
             "kept": n_docs - n_short - n_exact - n_near - n_contam}
    kept = [docs[i] for i in range(n_short, n_base) if i not in contaminated]
    return docs, stats, kept


def batches(seed, corpus, n_batches, n_fresh, n_exact, n_near):
    """`n_batches` arriving batches for a curated `corpus`. Each holds
    `n_fresh` held-out documents and planted exact and near copies of
    corpus documents (each corpus document copied at most once).
    Returns (batches, the sorted ids each batch must admit)."""
    rng = random.Random(f"batches-{seed}")
    per_batch = n_exact + n_near
    assert n_batches * per_batch <= len(corpus), "not enough corpus docs to copy"
    sources = rng.sample(corpus, n_batches * per_batch)
    next_id = max(d["doc_id"] for d in corpus) + 1
    out, admitted = [], []
    for b in range(n_batches):
        src = sources[b * per_batch:(b + 1) * per_batch]
        texts = ([(_text(rng, rng.randint(60, 100)), True) for _ in range(n_fresh)] +
                 [(" " + d["text"], False) for d in src[:n_exact]] +
                 [(_near_copy(rng, d["text"]), False) for d in src[n_exact:]])
        rng.shuffle(texts)
        batch = [_doc(next_id + i, t, rng) for i, (t, _) in enumerate(texts)]
        next_id += len(batch)
        out.append(batch)
        admitted.append(sorted(d["doc_id"] for d, (_, fresh) in zip(batch, texts) if fresh))
    return out, admitted


def probes(seed, n, terms=3):
    """BM25 probe queries: `terms` distinct vocabulary words each."""
    rng = random.Random(f"probes-{seed}")
    return [rng.sample(VOCAB, terms) for _ in range(n)]


def write_jsonl(path, docs, hasher):
    data = "".join(json.dumps(d, sort_keys=True) + "\n" for d in docs).encode("utf-8")
    write(path, data, hasher, len(docs))


# -------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "large", "red", "small"], ["bolt", "ring", "rod", "widget"])
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def tables(seed, out_dir, hasher=None, orders=1500, docs=500, vecs=500, dim=64):
    """The ten query tables (region .. embeddings) as one Parquet file
    each, in the shape and value domains of the program's testdata:
    `orders` orders with about four line items each, customers, parts
    and suppliers in the testdata's proportions to orders, `orders`
    // 1.5 events over 30 days, `docs` documents and `vecs` unit
    embeddings. Returns the input summary (of everything `hasher` has
    seen, when one is given)."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"tables-{seed}")
    hasher = hasher or Hasher()
    n_cust, n_part, n_supp = orders // 10, orders * 2 // 15, max(orders // 150, 2)
    day0, ev0 = datetime.datetime(1995, 1, 1), datetime.datetime(2024, 1, 1)

    def money(lo, hi):
        return round(rng.uniform(lo, hi), 2)

    def date(span_days):
        return day0 + datetime.timedelta(days=rng.randrange(span_days))

    cols = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {"c_custkey": pa.array(range(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                             pa.int32()),
                     "c_acctbal": [money(-999, 9999) for _ in range(n_cust)],
                     "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]},
        "supplier": {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                             pa.int32()),
                     "s_acctbal": [money(-999, 9999) for _ in range(n_supp)]},
        "part": {"p_partkey": pa.array(range(n_part), pa.int64()),
                 "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}"
                            for _ in range(n_part)],
                 "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
                 "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
                 "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
                 "p_retailprice": [round(900 + (i % 200) / 10, 2) for i in range(n_part)]},
        "orders": {"o_orderkey": pa.array(range(orders), pa.int64()),
                   "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(orders)],
                                         pa.int64()),
                   "o_orderstatus": [rng.choice("FOP") for _ in range(orders)],
                   "o_totalprice": [money(1000, 500000) for _ in range(orders)],
                   "o_orderdate": pa.array([date(2404) for _ in range(orders)],
                                           pa.timestamp("us")),
                   "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(orders)]},
    }
    items = []
    for o in range(orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            items.append((o, rng.randrange(n_part), rng.randrange(n_supp), ln, q,
                          round(q * rng.uniform(900, 2100), 2), rng.randint(0, 10) / 100,
                          rng.randint(0, 8) / 100, rng.choice("ANR"), rng.choice("FO"),
                          date(2499)))
    names = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
             "l_shipdate"]
    types = [pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(), pa.float64(),
             pa.float64(), pa.float64(), pa.string(), pa.string(), pa.timestamp("us")]
    cols["lineitem"] = {n: pa.array([r[i] for r in items], t)
                        for i, (n, t) in enumerate(zip(names, types))}
    n_ev = orders * 2 // 3
    ts = sorted(ev0 + datetime.timedelta(seconds=rng.uniform(0, 30 * 86400))
                for _ in range(n_ev))
    cols["events"] = {"event_id": pa.array(range(n_ev), pa.int64()),
                      "ts": pa.array(ts, pa.timestamp("us")),
                      "user_id": pa.array([rng.randrange(max(n_ev // 66, 2))
                                           for _ in range(n_ev)], pa.int64()),
                      "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
                      "value": [money(0.01, 330) for _ in range(n_ev)],
                      "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_ev)]}
    texts = [_text(rng, rng.randint(8, 90)) for _ in range(docs)]
    cols["documents"] = {"doc_id": pa.array(range(docs), pa.int64()), "text": texts,
                         "lang": [rng.choice(LANGS) for _ in range(docs)],
                         "source": [f"src{i % 20}" for i in range(docs)],
                         "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    vec = []
    for _ in range(vecs):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        vec.append([x / norm for x in v])
    cols["embeddings"] = {"vec_id": pa.array(range(vecs), pa.int64()),
                          "embedding": pa.array(vec, pa.list_(pa.float32())),
                          "label": pa.array([rng.randrange(10) for _ in range(vecs)],
                                            pa.int32())}
    os.makedirs(out_dir, exist_ok=True)
    for name, c in cols.items():
        table = pa.table(c)
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        write(os.path.join(out_dir, f"{name}.parquet"), sink.getvalue().to_pybytes(),
              hasher, table.num_rows)
    return hasher.summary()
