"""Seeded input generators for the three benchmark workloads.

Each generator writes one input directory from a seed: the same seed gives
byte-identical files. Sizes are fixed by the size arguments, never by the
seed, so every seed costs the engine the same amount of work.

- `rdf_etl`: a DBpedia-layout TTL release (`<base>/2016-10/core-i18n/
  <lang>/<dataset>_<lang>.ttl`) and, under `<base>/sf`, the ten
  star-schema tables (parquet) the query roster reads.
- `corpus`: a web-text corpus, a benchmark set and nightly batches
  (parquet) for the `curate` workload.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RELEASE = "2016-10"
DATASETS = ["labels", "interlanguage_links", "page_links", "article_categories",
            "skos_categories", "geo_coordinates", "infobox_properties"]

# ---- shared ----------------------------------------------------------------

SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "du", "fa",
             "go", "hi", "ju", "pe", "sa", "to", "wi", "ra", "no", "ma", "li"]


def pseudo_words(rng, n, lo=3, hi=4):
    """`n` distinct lowercase pseudo-words of `lo`..`hi` syllables."""
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def write_parquet(path, columns):
    pq.write_table(pa.table(columns), path)


# ---- rdf_etl: DBpedia-layout TTL tree and the roster's tables ---------------

QUERY_SF = 0.01  # scale factor of the star-schema tables


def rdf_etl(base, seed, entities):
    """The rdf_etl input: a TTL release of `entities` entities under
    `base`, and the star-schema tables under `base/sf`."""
    ttl_tree(base, seed, entities)
    sf_tables(os.path.join(base, "sf"), seed, QUERY_SF)


LANGS = ["en", "de", "fr", "es", "nl"]
LANG_SHARE = [0.40, 0.25, 0.15, 0.12, 0.08]
OUTSIDE_LANG = "pt"  # sameAs targets in a language the corpus does not hold

RDFS_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"
SAME_AS = "<http://www.w3.org/2002/07/owl#sameAs>"
WIKI_LINK = "<http://dbpedia.org/ontology/wikiPageWikiLink>"
SUBJECT = "<http://purl.org/dc/terms/subject>"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
SKOS = "http://www.w3.org/2004/02/skos/core#"
GEORSS_POINT = "<http://www.georss.org/georss/point>"
GEO_LAT = "<http://www.w3.org/2003/01/geo/wgs84_pos#lat>"
XSD = "http://www.w3.org/2001/XMLSchema#"
INFOBOX_PREDICATES = 130  # per language; the engine keeps the top 100
# object shapes an infobox predicate can have; index 0..5
KINDS = ["integer", "double", "date", "uri", "langstring", "custom"]


def host(lang):
    return "dbpedia.org" if lang == "en" else f"{lang}.dbpedia.org"


def res(lang, name):
    return f"<http://{host(lang)}/resource/{name}>"


def infobox_object(rng, kind, lang, n_entities, words):
    if kind == 0:
        return f'"{int(rng.integers(1, 3000))}"^^<{XSD}integer>'
    if kind == 1:
        return f'"{rng.uniform(0, 1000):.3f}"^^<{XSD}double>'
    if kind == 2:
        # about one date in fifty is negative (BC); the engine drops those
        y = int(rng.integers(1, 2020))
        sign = "-" if rng.random() < 0.02 else ""
        return f'"{sign}{y:04d}-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))}"^^<{XSD}date>'
    if kind == 3:
        return res(lang, f"R{int(rng.integers(0, n_entities))}")
    if kind == 4:
        return f'"{words[int(rng.integers(0, len(words)))]} {words[int(rng.integers(0, len(words)))]}"@{lang}'
    return f'"{int(rng.integers(1, 99))}.{int(rng.integers(0, 9))}"^^<http://dbpedia.org/datatype/squareKilometre>'


def ttl_tree(base, seed, entities):
    """Writes the TTL release under `base`; `entities` sets the size."""
    rng = np.random.default_rng(seed)
    words = pseudo_words(rng, 400)
    counts = {l: max(20, int(entities * s)) for l, s in zip(LANGS, LANG_SHARE)}
    for lang in LANGS:
        n = counts[lang]
        n_cat = max(5, n // 20)
        d = os.path.join(base, RELEASE, "core-i18n", lang)
        os.makedirs(d, exist_ok=True)
        out = {name: [f"# started {RELEASE} {name}_{lang}\n"] for name in DATASETS}
        ent = [res(lang, f"R{i}") for i in range(n)]
        cat = [res(lang, f"Category:C{j}") for j in range(n_cat)]
        for i in range(n):
            s = ent[i]
            out["labels"].append(
                f'{s} {RDFS_LABEL} "{words[i % len(words)]} {words[(i * 7) % len(words)]} {i}"@{lang} .\n')
            for other in LANGS:
                if other != lang and rng.random() < 0.35:
                    j = int(rng.integers(0, counts[other]))
                    out["interlanguage_links"].append(f"{s} {SAME_AS} {res(other, f'R{j}')} .\n")
            if rng.random() < 0.3:
                out["interlanguage_links"].append(
                    f"{s} {SAME_AS} {res(OUTSIDE_LANG, f'R{int(rng.integers(0, n))}')} .\n")
            for j in rng.integers(0, n, int(rng.integers(2, 9))):
                out["page_links"].append(f"{s} {WIKI_LINK} {ent[j]} .\n")
            for j in rng.integers(0, n_cat, int(rng.integers(1, 4))):
                out["article_categories"].append(f"{s} {SUBJECT} {cat[j]} .\n")
            if rng.random() < 0.3:
                lat, lon = rng.uniform(-80, 80), rng.uniform(-170, 170)
                out["geo_coordinates"].append(f'{s} {GEORSS_POINT} "{lat:.5f} {lon:.5f}" .\n')
                out["geo_coordinates"].append(f'{s} {GEO_LAT} "{lat:.5f}"^^<{XSD}float> .\n')
        for j in range(n_cat):
            c = cat[j]
            out["skos_categories"].append(f"{c} {RDF_TYPE} <{SKOS}Concept> .\n")
            out["skos_categories"].append(f'{c} <{SKOS}prefLabel> "C {words[j % len(words)]}"@{lang} .\n')
            if j > 0:
                out["skos_categories"].append(f"{c} <{SKOS}broader> {cat[int(rng.integers(0, j))]} .\n")
            if rng.random() < 0.2:
                out["skos_categories"].append(f"{c} <{SKOS}related> {cat[int(rng.integers(0, n_cat))]} .\n")
        # infobox: Zipf-like predicate frequencies, one main object shape per
        # predicate and a tenth of minority-shape noise
        prop = "http://dbpedia.org/property" if lang == "en" else f"http://{lang}.dbpedia.org/property"
        weights = 1.0 / np.arange(1, INFOBOX_PREDICATES + 1) ** 0.8
        weights /= weights.sum()
        kind = rng.integers(0, len(KINDS), INFOBOX_PREDICATES)
        n_rows = n * 8
        preds = rng.choice(INFOBOX_PREDICATES, n_rows, p=weights)
        subj = rng.integers(0, n, n_rows)
        noise = rng.random(n_rows) < 0.1
        other_kind = rng.integers(0, len(KINDS), n_rows)
        for p, s, z, ok in zip(preds, subj, noise, other_kind):
            k = int(ok) if z else int(kind[p])
            o = infobox_object(rng, k, lang, n, words)
            out["infobox_properties"].append(f"{ent[s]} <{prop}/p{p}> {o} .\n")
        for name, lines in out.items():
            with open(os.path.join(d, f"{name}_{lang}.ttl"), "w") as f:
                f.writelines(lines)


# ---- curate: web-text corpus, benchmark set, nightly batches -----------------

# The corpus vocabulary is small on purpose: q83's rarity gate fails any
# document holding a token outside the corpus's top 100, and passes only a
# mean inverse token frequency of at most 32.
VOCAB_SIZE = 22
GOOD_SOURCES = 30
NIGHTS = 3
EMAIL = "contact user{:06d}@example.com"


def doc_tokens(rng, vocab):
    """20-28 tokens: 16-18 distinct vocabulary words, none more than twice."""
    k = int(rng.integers(16, 19))
    base = list(rng.choice(vocab, k, replace=False))
    extra = list(rng.choice(base, int(rng.integers(4, 11)), replace=False))
    toks = base + extra
    rng.shuffle(toks)
    return [str(t) for t in toks]


def pii_suffix(rng):
    r = rng.random()
    if r < 0.4:
        return EMAIL.format(int(rng.integers(0, 10 ** 6)))
    if r < 0.7:
        return f"from 10.0.{int(rng.integers(0, 256))}.{int(rng.integers(0, 256))}"
    return f"call +1 555 0100 {int(rng.integers(10, 100))}"


def corpus(base, seed, docs, nights=NIGHTS):
    """Writes corpus.parquet (`docs` documents), bench.parquet and
    night1..night<nights>.parquet under `base`."""
    rng = np.random.default_rng(seed)
    vocab = pseudo_words(rng, VOCAB_SIZE, 3, 3)
    rare = pseudo_words(rng, 200, 4, 4)
    fresh_vocab = pseudo_words(rng, 4000, 3, 4)
    langs = ["en", "de", "fr", "es", "zh"]
    lang_p = [0.5, 0.15, 0.15, 0.12, 0.08]

    bench = [" ".join(str(w) for w in rng.permutation(vocab)) for _ in range(40)]

    def bench_window():
        b = bench[int(rng.integers(0, len(bench)))].split(" ")
        i = int(rng.integers(0, len(b) - 8 + 1))
        return b[i:i + 8]

    rows = []  # (text, source, kind)

    def add(text, source, kind):
        rows.append((text, source, kind))

    def src():
        return f"site{int(rng.integers(0, GOOD_SOURCES)):02d}"

    # contaminated documents come first, so they hold the lowest ids and are
    # the kept member of any near-duplicate cluster they fall into: the
    # decontamination stage then always has documents to drop
    n_contam = docs * 3 // 100
    for _ in range(n_contam):
        t = doc_tokens(rng, vocab)
        i = int(rng.integers(0, len(t) + 1))
        add(" ".join(t[:i] + bench_window() + t[i:]), src(), "contaminated")
    clean_texts = []
    n_spam = 80
    while len(rows) < docs - n_spam:
        r = rng.random()
        if r < 0.05 and clean_texts:
            add(clean_texts[int(rng.integers(0, len(clean_texts)))], src(), "exact_dup")
        elif r < 0.10 and clean_texts:
            t = clean_texts[int(rng.integers(0, len(clean_texts)))].split(" ")
            j = int(rng.integers(0, len(t)))
            t[j] = str(vocab[int(rng.integers(0, len(vocab)))])
            add(" ".join(t), src(), "near_dup")
        elif r < 0.15:
            add(" ".join(doc_tokens(rng, vocab)) + " " + pii_suffix(rng), src(), "pii")
        elif r < 0.17:
            add(" ".join(doc_tokens(rng, vocab)[:int(rng.integers(8, 16))]), src(), "short")
        elif r < 0.19:
            w = str(vocab[int(rng.integers(0, len(vocab)))])
            t = doc_tokens(rng, vocab) + [w] * 8
            add(" ".join(t), src(), "repetitive")
        elif r < 0.22:
            t = doc_tokens(rng, vocab) + [str(w) for w in rng.choice(rare, 3, replace=False)]
            rng.shuffle(t)
            add(" ".join(t), src(), "rare_words")
        elif r < 0.24:
            t = doc_tokens(rng, vocab) + [str(int(x)) for x in rng.integers(100, 999, 8)]
            add(" ".join(t), src(), "low_alpha")
        else:
            t = " ".join(doc_tokens(rng, vocab))
            clean_texts.append(t)
            add(t, src(), "clean")
    for _ in range(n_spam):  # the source that fails the source gate
        t = doc_tokens(rng, vocab) + [str(int(x)) for x in rng.integers(1000, 9999, 12)]
        add(" ".join(t), "spamsite", "bad_source")

    def write(name, rows_, first_id):
        """The documents go to `<name>.parquet`; what the generator planted
        in each goes to `<name>.kinds.parquet`, which only the checks read."""
        ids = pa.array(range(first_id, first_id + len(rows_)), pa.int64())
        lang = [str(x) for x in rng.choice(langs, len(rows_), p=lang_p)]
        write_parquet(os.path.join(base, f"{name}.parquet"), {
            "doc_id": ids,
            "text": pa.array([r[0] for r in rows_], pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([r[1] for r in rows_], pa.string())})
        write_parquet(os.path.join(base, f"{name}.kinds.parquet"), {
            "doc_id": ids, "kind": pa.array([r[2] for r in rows_], pa.string())})

    os.makedirs(base, exist_ok=True)
    write("corpus", rows, 0)
    write("bench", [(t, "bench", "bench") for t in bench], 10 ** 7)

    # nightly batches: recrawls of the corpus, fresh documents (their own
    # vocabulary, so their signatures are new), within-night near
    # duplicates, PII, contamination, a source below the gate's minimum,
    # and recrawls of the previous night's fresh documents
    next_id = 10 ** 6
    prev_fresh = []
    all_texts = [r[0] for r in rows]
    per_night = max(200, docs // 8)
    for night in range(1, nights + 1):
        nrows, fresh = [], []

        def nsrc():
            return f"feed{int(rng.integers(0, 8))}"

        def fresh_doc():
            return " ".join(str(w) for w in rng.choice(fresh_vocab, int(rng.integers(20, 40))))

        for _ in range(8):
            nrows.append((fresh_doc(), "tinyfeed", "bad_source"))
        for t in prev_fresh[:per_night // 20]:
            nrows.append((t, nsrc(), "recrawl_prev_night"))
        while len(nrows) < per_night:
            r = rng.random()
            if r < 0.15:
                nrows.append((all_texts[int(rng.integers(0, len(all_texts)))], nsrc(), "recrawl"))
            elif r < 0.25:
                t = all_texts[int(rng.integers(0, len(all_texts)))].split(" ")
                t[int(rng.integers(0, len(t)))] = str(vocab[int(rng.integers(0, len(vocab)))])
                nrows.append((" ".join(t), nsrc(), "near_recrawl"))
            elif r < 0.32:
                nrows.append((fresh_doc() + " " + pii_suffix(rng), nsrc(), "pii"))
            elif r < 0.37:
                t = fresh_doc().split(" ")
                i = int(rng.integers(0, len(t) + 1))
                nrows.append((" ".join(t[:i] + bench_window() + t[i:]), nsrc(), "contaminated"))
            elif r < 0.45 and fresh:
                t = fresh[int(rng.integers(0, len(fresh)))].split(" ")
                t[int(rng.integers(0, len(t)))] = str(fresh_vocab[int(rng.integers(0, len(fresh_vocab)))])
                nrows.append((" ".join(t), nsrc(), "near_dup"))
            else:
                t = fresh_doc()
                fresh.append(t)
                nrows.append((t, nsrc(), "fresh"))
        write(f"night{night}", nrows, next_id)
        next_id += 10 ** 5
        prev_fresh = fresh


# ---- the roster's star-schema tables ------------------------------------------

DOC_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
             "small", "slow", "merge", "order", "vector", "line", "data", "table",
             "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
             "big", "sort", "query", "fast", "the"]
ADJ = ["hot", "red", "small", "large", "old", "new", "cold", "blue"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
DAY_US = 86400 * 10 ** 6


def days(rng, start, end, n):
    """Timestamps (microseconds) on whole days in [start, end]."""
    s = np.datetime64(start, "D").astype("int64")
    e = np.datetime64(end, "D").astype("int64")
    return rng.integers(s, e + 1, n) * DAY_US


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sf_tables(base, seed, sf):
    """Writes the ten roster tables at scale factor `sf` under `base`."""
    rng = np.random.default_rng(seed)
    os.makedirs(base, exist_ok=True)
    ts = pa.timestamp("us")

    def w(name, cols):
        write_parquet(os.path.join(base, f"{name}.parquet"), cols)

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(100, int(50000 * sf)), max(100, int(50000 * sf))

    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", {"c_custkey": pa.array(range(n_cust), pa.int64()),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                   "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                   "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    w("supplier", {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                   "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    w("part", {"p_partkey": pa.array(range(n_part), pa.int64()),
               "p_name": names[rng.integers(0, len(names), n_part)],
               "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
               "p_type": types[rng.integers(0, len(types), n_part)],
               "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
               "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w("orders", {"o_orderkey": pa.array(range(n_ord), pa.int64()),
                 "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                 "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                 "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
                 "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n_ord), ts),
                 "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    w("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n_li), ts)})
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + \
        np.datetime64("2024-01-01", "D").astype("int64") * DAY_US
    w("events", {"event_id": pa.array(range(n_ev), pa.int64()),
                 "ts": pa.array(ev_ts, ts),
                 "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
                 "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                     rng.integers(0, 5, n_ev)],
                 "value": money(rng, 0.01, 490.0, n_ev),
                 "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # truncated copy of an earlier document
            t = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(t[:int(rng.integers(5, len(t) + 1))] + ["dup"]))
        else:
            k = int(rng.integers(15, 85))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    w("documents", {"doc_id": pa.array(range(n_doc), pa.int64()),
                    "text": texts,
                    "lang": np.array(["en", "de", "es", "fr", "zh"])[
                        rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.13, 0.15])],
                    "source": [f"src{i % 20}" for i in range(n_doc)],
                    "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    w("embeddings", {"vec_id": pa.array(range(n_emb), pa.int64()),
                     "embedding": pa.array(list(emb.astype("float32")), pa.list_(pa.float32())),
                     "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
