"""Seeded input generator for the three benchmark workloads.

Every table is a pure function of the seed: the same seed writes
identical rows, another seed writes different content with the same
shapes and sizes. The generator also returns the planted truth the
output checks need (which rows are duplicates of which, which ids are
replays) and a manifest of input sizes, file counts and planted
shares.

    python3 perfbench/gen.py --workload curate --seed 7 --out /tmp/x
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- analytics: the catalog's star schema at sf0.1 sizes ---------------

SF_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
           "orders": 150000, "lineitem": 600000, "events": 100000,
           "documents": 5000, "embeddings": 2000}
DOC_WORDS = ("spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow "
             "line part fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "cold", "red", "small", "new", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DOC_LANGS = ["en", "zh", "de", "fr", "es"]
DIM = 64
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, n_days, n) * DAY_US).astype("datetime64[us]")


def _strings(words, idx):
    return pa.array(np.asarray(words, dtype=object)[idx])


def _permuted(rng, table):
    """Rows in a seed-dependent order: the same content never arrives
    in the same physical order under two seeds."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _unit_rows(rng, centers, labels, noise):
    v = centers[labels] + rng.normal(0.0, noise, (len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vectors(v):
    return pa.FixedSizeListArray.from_arrays(
        pa.array(v.reshape(-1), pa.float32()), DIM).cast(pa.list_(pa.float32()))


def analytics_tables(seed):
    rng = np.random.default_rng([seed, 1])
    n = SF_ROWS
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, c))})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _strings(PART_TYPES, rng.integers(0, 6, p)),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, o))})
    li = n["lineitem"]
    flags = rng.integers(0, 6, li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _strings(["A", "N", "R", "A", "N", "R"], flags),
        "l_linestatus": _strings(["O", "F", "F", "F", "O", "O"], flags),
        "l_shipdate": _days(rng, "1995-01-02", 2498, li)})
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + start
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, e)),
        "value": np.round(rng.exponential(80.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    lens = rng.integers(10, 101, d)
    words = rng.integers(0, len(DOC_WORDS), int(lens.sum()))
    vocab = np.asarray(DOC_WORDS, dtype=object)
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(vocab[words], cuts)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _strings(DOC_LANGS, rng.integers(0, 5, d)),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    labels[:10] = np.arange(10)  # every label present: 0..9 contiguous
    centers = rng.normal(0.0, 1.0, (10, DIM))
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": _vectors(_unit_rows(rng, centers, labels, 1.2)),
        "label": pa.array(labels, pa.int32())})
    return {k: _permuted(rng, v) for k, v in t.items()}


# ---- curate / admit: multilingual web-like corpora ---------------------

SYLLABLES = {
    "en": "th er an in ou ng st wa ch ea sh ow ll re".split(),
    "de": "sch ei ch un ge ber au ck zt ie ung lich ta".split(),
    "fr": "ou eau oi que ai ent ion le ette re ch mon".split(),
    "es": "ci ón que rr ll ue ña os ado ida es par to".split(),
    "it": "zz gli che ssi tto ia one cci ri gn ella po".split(),
}
LANGS = sorted(SYLLABLES)
BOILERPLATE = [
    "Copyright all rights reserved by the publisher of this site.",
    "Subscribe to our newsletter for the latest news and offers.",
    "This site uses cookies to improve your browsing experience.",
    "Share this article with your friends on social media today.",
    "Read more articles like this one in our weekly digest now.",
    "Terms of service and privacy policy apply to all visitors.",
]
MENU = ["Home", "About", "Contact", "Login", "Menu", "Search", "Next"]
JS_LINE = "Please enable javascript in your browser to view this page."


def _vocab(lang, size=400):
    """A fixed per-language word list built from the language's
    syllables, so char n-grams separate the languages."""
    r = np.random.default_rng(LANGS.index(lang) + 1000)
    syl = SYLLABLES[lang]
    out = []
    while len(out) < size:
        w = "".join(syl[i] for i in r.integers(0, len(syl), r.integers(2, 4)))
        if w not in out:
            out.append(w)
    return np.asarray(out, dtype=object)


VOCABS = {lang: _vocab(lang) for lang in LANGS}


def _content_lines(rng, lang, n_lines):
    vocab = VOCABS[lang]
    lines = []
    for _ in range(n_lines):
        words = vocab[rng.integers(0, len(vocab), rng.integers(12, 21))]
        lines.append(" ".join(words) + ".")
    return lines


def _web_doc(rng, lang):
    """Content lines (kept by every cleaner) plus the casualties a
    cleaning recipe exists for: a menu line (no terminal
    punctuation), a javascript notice, and a site-wide boilerplate
    line that many documents share. Returns (text, content lines)."""
    content = _content_lines(rng, lang, int(rng.integers(4, 7)))
    lines = list(content)
    if rng.random() < 0.5:
        lines.insert(0, " ".join(MENU[i] for i in rng.integers(0, 7, 3)))
    if rng.random() < 0.3:
        lines.append(JS_LINE)
    if rng.random() < 0.6:
        lines.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
    return "\n".join(lines), content


def _near_copy(rng, text, content, lang):
    """One word of one content line replaced: word-3-gram jaccard with
    the original stays above 0.85 for the 48+ content words. Returns
    the new text and its content lines."""
    k = int(rng.integers(0, len(content)))
    words = content[k][:-1].split(" ")
    i = int(rng.integers(0, len(words)))
    vocab = VOCABS[lang]
    repl = words[i]
    while repl == words[i]:
        repl = vocab[int(rng.integers(0, len(vocab)))]
    words[i] = repl
    new = list(content)
    new[k] = " ".join(words) + "."
    return text.replace(content[k], new[k], 1), new


def _shingles(lines, k=3):
    toks = " ".join(lines).lower().split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


# per-dimension noise around a cluster center: two members of one
# cluster sit near cosine 0.7, far below any dedup threshold
CLUSTER_NOISE = 0.08
CURATE_SHARES = {"exact": 0.04, "near": 0.04, "semantic": 0.03, "junk": 0.02}


def curate_corpus(seed, n_docs, n_centers):
    """`n_docs` web documents with 64-d embeddings. Base documents come
    first; planted rows follow with larger ids: exact text copies,
    one-word near copies, semantic copies (fresh text, the original's
    embedding up to noise) and junk rows (digits only, low quality)."""
    rng = np.random.default_rng([seed, 2])
    counts = {k: int(n_docs * s) for k, s in CURATE_SHARES.items()}
    n_base = n_docs - sum(counts.values())
    centers = rng.normal(0.0, 1.0, (n_centers, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    ids, texts, langs, sources = [], [], [], []
    contents = []
    for i in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        text, content = _web_doc(rng, lang)
        ids.append(i); texts.append(text); langs.append(lang)
        sources.append(f"site{int(rng.integers(0, 50))}")
        contents.append(content)
    labels = rng.integers(0, n_centers, n_base)
    vecs = _unit_rows(rng, centers, labels, CLUSTER_NOISE)
    extra_vecs = []
    truth = {"exact": [], "near": [], "semantic": [], "junk": []}
    near_jaccard = []
    next_id = n_base
    for kind in ("exact", "near", "semantic", "junk"):
        for _ in range(counts[kind]):
            o = int(rng.integers(0, n_base))
            lang, src = langs[o], sources[o]
            if kind == "exact":
                text, vec = texts[o], vecs[o]
            elif kind == "near":
                text, new = _near_copy(rng, texts[o], contents[o], lang)
                a, b = _shingles(contents[o]), _shingles(new)
                near_jaccard.append(len(a & b) / len(a | b))
                vec = vecs[o]
            elif kind == "semantic":
                text, _ = _web_doc(rng, lang)
                vec = vecs[o] + rng.normal(0.0, 0.002, DIM).astype(np.float32)
                vec = vec / np.linalg.norm(vec)
            else:
                digits = rng.integers(1000, 99999, (6, 10))
                text = "\n".join(" ".join(str(x) for x in row) + "."
                                 for row in digits)
                vec = _unit_rows(rng, centers, rng.integers(0, n_centers, 1),
                                 CLUSTER_NOISE)[0]
                o = None
            ids.append(next_id); texts.append(text); langs.append(lang)
            sources.append(src)
            extra_vecs.append(vec)
            truth[kind].append(next_id if o is None else [next_id, o])
            next_id += 1
    all_vecs = np.vstack([vecs, np.asarray(extra_vecs, np.float32)])
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                     "true_lang": langs, "source": sources})
    emb = pa.table({"vec_id": pa.array(ids, pa.int64()),
                    "embedding": _vectors(all_vecs)})
    truth["min_near_jaccard"] = min(near_jaccard) if near_jaccard else 1.0
    truth["centers"] = centers.tolist()
    truth["n_base"] = n_base
    return docs, emb, truth


ADMIT_SHARES = {"fresh": 0.7, "near": 0.1, "exact": 0.1, "replay": 0.1}


def _plain_doc(rng, lang):
    return " ".join(_content_lines(rng, lang, int(rng.integers(4, 7))))


def admit_stream(seed, n_initial, batch_rows, n_batches):
    """An initial corpus plus `n_batches` arriving batches. Each batch
    holds fresh documents, one-word near copies and exact-text copies
    (new ids) of initial-corpus documents, and replays (same id, same
    text) of the previous batch's fresh documents."""
    rng = np.random.default_rng([seed, 3])
    def doc():
        return _plain_doc(rng, LANGS[int(rng.integers(0, len(LANGS)))])
    init_text = [doc() for _ in range(n_initial)]
    initial = pa.table({"doc_id": pa.array(np.arange(n_initial), pa.int64()),
                        "text": init_text})
    counts = {k: int(batch_rows * s) for k, s in ADMIT_SHARES.items()}
    batches, truth, jac = [], [], []
    next_id = n_initial
    prev_fresh = [(int(i), init_text[i]) for i in
                  rng.choice(n_initial, counts["replay"], replace=False)]
    for b in range(n_batches):
        rows, t = [], {"fresh": [], "near": [], "exact": [], "replay": []}
        for _ in range(counts["fresh"]):
            rows.append((next_id, doc())); t["fresh"].append(next_id)
            next_id += 1
        for kind in ("near", "exact"):
            for _ in range(counts[kind]):
                o = int(rng.integers(0, n_initial))
                text = init_text[o]
                if kind == "near":
                    words = text.split(" ")
                    i = int(rng.integers(0, len(words) - 1))
                    words[i] = words[i] + "x"
                    text = " ".join(words)
                    a, b = _shingles([init_text[o]]), _shingles([text])
                    jac.append(len(a & b) / len(a | b))
                rows.append((next_id, text)); t[kind].append([next_id, o])
                next_id += 1
        for i, text in prev_fresh:
            rows.append((i, text)); t["replay"].append(i)
        fresh_rows = rows[:counts["fresh"]]
        prev_fresh = [fresh_rows[int(j)] for j in
                      rng.choice(len(fresh_rows), counts["replay"], replace=False)]
        order = rng.permutation(len(rows))
        batches.append(pa.table({
            "doc_id": pa.array([rows[j][0] for j in order], pa.int64()),
            "text": [rows[j][1] for j in order]}))
        truth.append(t)
    return initial, batches, truth, min(jac)


# ---- writing -----------------------------------------------------------

def _write(table, path, n_files=1):
    """One parquet file (one row group, as in the gate's tables), or a
    directory of `n_files` parquet files split by row ranges."""
    if n_files == 1:
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        return [path]
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    out = []
    for k in range(n_files):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        out.append(f)
    return out


def _size(files):
    return sum(os.path.getsize(f) for f in files)


SIZES = {
    # curate: the corpus in 8 files (2x the cores of local[4])
    "curate": {"docs": 1200, "files": 8, "centers": 16},
    # admit: initial corpus and more batches than a run can reach
    "admit": {"initial": 4000, "batch_rows": 200, "batches": 40},
}


def generate(workload, seed, out, sizes=None):
    """Write one workload's inputs under `out`; return the manifest
    (paths, rows, bytes, files, planted shares) including the truth."""
    sizes = dict(SIZES.get(workload, {}), **(sizes or {}))
    os.makedirs(out, exist_ok=True)
    man = {"workload": workload, "seed": seed, "tables": {}}
    def record(name, table, files):
        man["tables"][name] = {"rows": table.num_rows, "files": len(files),
                               "bytes": _size(files)}
    if workload == "analytics":
        for name, table in analytics_tables(seed).items():
            record(name, table, _write(table, os.path.join(out, f"{name}.parquet")))
    elif workload == "curate":
        docs, emb, truth = curate_corpus(seed, sizes["docs"], sizes["centers"])
        n = sizes["files"]
        record("docs", docs, _write(docs, os.path.join(out, "docs"), n))
        record("embeddings", emb, _write(emb, os.path.join(out, "embeddings"), n))
        centers = pa.table({
            "idx": pa.array(range(len(truth["centers"])), pa.int32()),
            "center": pa.array(truth.pop("centers"), pa.list_(pa.float64()))})
        _write(centers, os.path.join(out, "centers.parquet"))
        man["truth"] = truth
        man["planted_shares"] = {k: len(truth[k]) / docs.num_rows
                                 for k in CURATE_SHARES}
    elif workload == "admit":
        initial, batches, truth, min_jac = admit_stream(
            seed, sizes["initial"], sizes["batch_rows"], sizes["batches"])
        record("initial", initial,
               _write(initial, os.path.join(out, "initial"), 4))
        files = []
        os.makedirs(os.path.join(out, "batches"), exist_ok=True)
        for k, b in enumerate(batches):
            files += _write(b, os.path.join(out, "batches", f"b{k:04d}.parquet"))
        man["tables"]["batches"] = {"rows": sum(b.num_rows for b in batches),
                                    "files": len(files), "bytes": _size(files)}
        man["truth"] = truth
        man["min_near_jaccard"] = min_jac
        man["planted_shares"] = dict(ADMIT_SHARES)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f)
    return man


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: v for k, v in m.items() if k != "truth"}))
