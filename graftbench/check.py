"""Independent checks of the engine's outputs, one function per workload.

Each check recomputes what the engine must produce from the generated
inputs, in DuckDB and plain Python, and compares. None of them reads a
stored copy of an earlier output. A check returns a list of problems; an
empty list means the outputs are correct.
"""
import glob
import gzip
import hashlib
import json
import os
import re

import duckdb
import pyarrow as pa

from gen import DATASETS, RELEASE

# ---- rdf_etl -----------------------------------------------------------------

SKOS = "http://www.w3.org/2004/02/skos/core#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SUPPORTED_TYPES = ["<uri>", f"<{XSD}date>", f"<{XSD}double>", f"<{XSD}integer>", f"<{XSD}string>"]
LINE_RE = re.compile(r"^\S+ \S+ .+ \.$")


def _ttl_triples(ttl_base):
    """(dataset, lang, s, p, o) of every non-comment TTL line, parsed the
    way the format defines a line: `s p o .`."""
    rows = []
    for path in sorted(glob.glob(os.path.join(ttl_base, RELEASE, "core-i18n", "*", "*.ttl"))):
        lang = os.path.basename(os.path.dirname(path))
        name = os.path.basename(path)[:-len(f"_{lang}.ttl")]
        with open(path) as f:
            for line in f:
                line = line.rstrip("\n")
                if line.startswith("#"):
                    continue
                s, p, o = line[:-2].split(" ", 2)
                rows.append((name, lang, s, p, o))
    return rows


def _rdf_lines(rdf_dir):
    """Line count of a gzip text output directory, and the first line that
    does not parse as `s p o .`, if any."""
    n, bad = 0, None
    for path in sorted(glob.glob(os.path.join(rdf_dir, "**", "*.gz"), recursive=True)):
        with gzip.open(path, "rt") as f:
            for line in f:
                n += 1
                if bad is None and not LINE_RE.match(line.rstrip("\n")):
                    bad = line.rstrip("\n")
    return n, bad


def rdf_etl(ttl_base, out, reported_counts):
    problems = []
    con = duckdb.connect()
    rows = _ttl_triples(ttl_base)
    triples = pa.table([pa.array([r[k] for r in rows], pa.string()) for k in range(5)],
                       names=["ds", "lang", "s", "p", "o"])
    con.register("triples", triples)
    con.execute("CREATE TABLE t AS SELECT * FROM triples")

    # stage 1: one parquet row per TTL line
    for name in DATASETS:
        want = con.execute("SELECT count(*) FROM t WHERE ds = ?", [name]).fetchone()[0]
        files = os.path.join(out, "parquet", f"{name}.parquet", "**", "*.parquet")
        got = con.execute(f"SELECT count(*) FROM read_parquet('{files}')").fetchone()[0]
        if got != want:
            problems.append(f"parquet {name}: {got} rows, TTL has {want} lines")

    # stage 2: what the engine must keep, per dataset
    langs = [r[0] for r in con.execute("SELECT DISTINCT lang FROM t ORDER BY 1").fetchall()]
    obj_langs = langs + (["dbpedia"] if "en" in langs else [])
    con.execute(f"""
    CREATE VIEW interlang AS SELECT * FROM t WHERE ds = 'interlanguage_links'
      AND substr(split_part(o, '.', 1), 9) IN ({", ".join(repr(l) for l in obj_langs)});
    CREATE VIEW geo AS SELECT * FROM t
      WHERE ds = 'geo_coordinates' AND p = '<http://www.georss.org/georss/point>';
    CREATE VIEW ranked AS SELECT lang, p, ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY count(*) DESC, p) AS k
      FROM t WHERE ds = 'infobox_properties' GROUP BY lang, p;
    CREATE VIEW topk AS SELECT i.* FROM t i JOIN ranked r USING (lang, p)
      WHERE i.ds = 'infobox_properties' AND r.k <= 100;
    CREATE VIEW typed AS SELECT s, p, lang,
      CASE WHEN o LIKE '<%' THEN o
           WHEN o LIKE '%^^%' THEN regexp_extract(o, '^(.*)\\^\\^[^^]*$', 1)
           ELSE o END AS v,
      CASE WHEN o LIKE '<%' THEN '<uri>'
           WHEN o LIKE '%^^%' THEN regexp_extract(o, '\\^\\^([^^]*)$', 1) END AS t0 FROM topk;
    CREATE VIEW typed2 AS SELECT s, p, lang, v,
      CASE WHEN t0 IN ({", ".join(repr(x) for x in SUPPORTED_TYPES)}) THEN t0
           ELSE '<{XSD}string>' END AS t FROM typed;
    CREATE VIEW winning AS SELECT p, t FROM (SELECT p, t, ROW_NUMBER() OVER (
      PARTITION BY p ORDER BY count(*) DESC, t) AS k FROM typed2 GROUP BY p, t) WHERE k = 1;
    CREATE VIEW infobox AS SELECT x.* FROM typed2 x JOIN winning w USING (p, t)
      WHERE NOT (x.t = '<{XSD}date>' AND x.v LIKE '"-%');
    """)
    want = {name: con.execute("SELECT count(*) FROM t WHERE ds = ?", [name]).fetchone()[0]
            for name in ["labels", "page_links", "article_categories", "skos_categories"]}
    want["interlanguage_links"] = con.execute("SELECT count(*) FROM interlang").fetchone()[0]
    want["geo_coordinates"] = con.execute("SELECT count(*) FROM geo").fetchone()[0]
    want["infobox_properties"] = con.execute("SELECT count(*) FROM infobox").fetchone()[0]

    # types and external ids: one (subject, lang) role table over every
    # source the engine names; Article / Category / Concept flags
    con.execute(f"""
    CREATE VIEW roles AS
      SELECT s, lang, 1 AS art, 0 AS cat, 0 AS con FROM t WHERE ds = 'labels'
      UNION ALL SELECT s, lang, 0, 0, 0 FROM topk
      UNION ALL SELECT s, lang, 1, 0, 0 FROM infobox
      UNION ALL SELECT s, lang, 1, 0, 0 FROM interlang
      UNION ALL SELECT o, lang, 1, 0, 0 FROM interlang
      UNION ALL SELECT s, lang, 1, 0, 0 FROM t WHERE ds = 'page_links'
      UNION ALL SELECT o, lang, 0, 0, 0 FROM t WHERE ds = 'page_links'
      UNION ALL SELECT s, lang, 1, 0, 0 FROM t WHERE ds = 'article_categories'
      UNION ALL SELECT o, lang, 0, 1, 0 FROM t WHERE ds = 'article_categories'
      UNION ALL SELECT s, lang, 0, 0, 1 FROM t WHERE ds = 'skos_categories'
      UNION ALL SELECT o, lang, 0, 0, 0 FROM t WHERE ds = 'skos_categories'
        AND p IN ('<{SKOS}related>', '<{SKOS}broader>')
      UNION ALL SELECT '<{SKOS}Concept>', 'any', 0, 0, 0
      UNION ALL SELECT s, lang, 1, 0, 0 FROM geo;
    CREATE VIEW agg AS SELECT s, lang, max(art) AS art, max(cat) AS cat, max(con) AS con
      FROM roles GROUP BY s, lang;
    """)
    want["types"] = con.execute("SELECT sum(art + cat + con) FROM agg").fetchone()[0]
    want["external_ids"] = con.execute("SELECT count(*) FROM agg").fetchone()[0]

    for name, n in sorted(want.items()):
        got, bad = _rdf_lines(os.path.join(out, "rdf", f"{name}.rdf"))
        if got != n:
            problems.append(f"rdf {name}: {got} lines, expected {n}")
        if bad is not None:
            problems.append(f"rdf {name}: line does not parse as 's p o .': {bad[:120]}")
        if name in reported_counts and reported_counts[name] != n:
            problems.append(f"rdf {name}: engine reported {reported_counts[name]}, expected {n}")
    for name in ["schema.dgraph", "schema.indexed.dgraph"]:
        if not glob.glob(os.path.join(out, "rdf", name, "**", "*.txt"), recursive=True):
            problems.append(f"rdf {name}: no schema files written")
    return problems


# ---- curate -------------------------------------------------------------------

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
IPV4_RE = re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b")
PHONE_RE = re.compile(r"\+[0-9][0-9 -]{7,}[0-9]")


def has_pii(text):
    return bool(EMAIL_RE.search(text) or IPV4_RE.search(text) or PHONE_RE.search(text))


def tokens(text):
    return text.strip().split()


def band(text):
    """The engine's one band of two MinHash values: per seed, the smallest
    md5("<seed>:" + token) over the document's tokens."""
    return tuple(min(hashlib.md5(f"{s}:{w}".encode()).hexdigest() for w in tokens(text))
                 for s in (0, 1))


def ngrams(text, n=8):
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def md5(text):
    return hashlib.md5(text.encode()).hexdigest()


def canonical_near_dups(docs, cap=1000):
    """Ids kept by near-dup clustering: documents sharing a band form
    candidate pairs when the band's bucket holds 2..cap documents; pairs
    close into components (union-find) and each keeps its smallest id."""
    parent = {i: i for i in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets = {}
    for i, text in docs.items():
        buckets.setdefault(band(text), []).append(i)
    for ids in buckets.values():
        if 2 <= len(ids) <= cap:
            for j in ids[1:]:
                a, b = find(ids[0]), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    return {i for i in docs if find(i) == i}


# what the corpus generator planted for a stage to drop (a one-token edit
# may or may not share its original's band, so near duplicates are absent)
DROPPED_KINDS = {"bad_source", "pii", "short", "repetitive", "rare_words", "low_alpha",
                 "exact_dup", "contaminated"}

def source_gate(min_alpha_bp):
    """SQL for the sources of `pool` with at least 20 documents and an
    alphabetic share of at least `min_alpha_bp` basis points."""
    return f"""SELECT source FROM pool GROUP BY source HAVING count(*) >= 20
      AND sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000
          >= sum(length(text)) * {min_alpha_bp}"""


GATE_SQL = f"""
WITH s1 AS (SELECT * FROM pool WHERE source IN ({source_gate(8100)})),
tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM s1),
per_doc_word AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
rep AS (SELECT doc_id, count(*) AS nd, sum(c) AS nt, max(c) AS mx
        FROM per_doc_word GROUP BY doc_id),
cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
total AS (SELECT sum(c)::BIGINT AS n FROM cnt),
vocab AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 100),
rarity AS (SELECT t.doc_id,
    sum(coalesce((1000000 * total.n) // vocab.c, 1000000 * total.n))::BIGINT AS rsum,
    count(*) AS rtok
  FROM tok t LEFT JOIN vocab USING (w) CROSS JOIN total GROUP BY t.doc_id)
SELECT s1.doc_id, s1.text FROM s1 JOIN rep USING (doc_id) JOIN rarity USING (doc_id)
WHERE len(string_split_regex(trim(text), '\\s+')) BETWEEN 20 AND 100000
  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10000 >= length(text) * 8150
  AND rep.nd * 10000 >= rep.nt * 3500 AND rep.mx * 10000 <= rep.nt * 1200
  AND rarity.rsum <= rarity.rtok * 32000000
"""


def _ids(con, path):
    files = os.path.join(path, "*.parquet")
    if not glob.glob(files):
        return None
    return {r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{files}')").fetchall()}


def curate(inp, out):
    problems = []
    con = duckdb.connect()
    con.execute(f"CREATE TABLE pool AS SELECT * FROM read_parquet('{inp}/corpus.parquet')")
    docs = dict(con.execute("SELECT doc_id, text FROM pool").fetchall())
    bench = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{inp}/bench.parquet')").fetchall()]
    bench_grams = set().union(*(ngrams(t) for t in bench))

    # the five stages, recomputed
    n_gated_sources = con.execute(
        f"SELECT count(*) FROM pool WHERE source IN ({source_gate(8100)})").fetchone()[0]
    gated = {i: t for i, t in con.execute(GATE_SQL).fetchall() if not has_pii(t)}
    first = {}
    for i in sorted(gated):
        first.setdefault(md5(gated[i]), i)
    exact = {i: gated[i] for i in first.values()}
    near = {i: exact[i] for i in canonical_near_dups(exact)}
    expected = {i for i, t in near.items() if not (ngrams(t) & bench_grams)}
    stages = [("source gate", len(docs), n_gated_sources),
              ("quality gate", n_gated_sources, len(gated)),
              ("exact dedup", len(gated), len(exact)),
              ("near-dup", len(exact), len(near)),
              ("decontamination", len(near), len(expected))]
    for stage, before, after in stages:
        if not 0 < after < before:
            problems.append(f"curate: stage {stage} keeps {after} of {before}; "
                            "every stage must both drop and keep documents")

    got = _ids(con, os.path.join(out, "curated"))
    if got is None:
        return problems + ["curate: no survivors written"]
    problems += _survivor_problems("curate", got, docs, bench_grams)
    kinds = dict(con.execute(
        f"SELECT doc_id, kind FROM read_parquet('{inp}/corpus.kinds.parquet')").fetchall())
    planted = sorted({kinds[i] for i in got} & DROPPED_KINDS)
    if planted:
        problems.append(f"curate: survivors include documents planted to be dropped: {planted}")
    if got != expected:
        problems.append(f"curate: {len(got)} survivors, expected {len(expected)} "
                        f"({len(got - expected)} unexpected, {len(expected - got)} missing)")

    # nightly batches against the standing corpus (the curated survivors),
    # each night's survivors folded back in
    hashes = {md5(docs[i]) for i in expected}
    bands = {band(docs[i]) for i in expected}
    nights = [f for f in sorted(os.listdir(inp)) if re.fullmatch(r"night\d+\.parquet", f)]
    for night in (f[:-len(".parquet")] for f in nights):
        path = os.path.join(inp, f"{night}.parquet")
        con.execute(f"CREATE OR REPLACE TABLE pool AS SELECT * FROM read_parquet('{path}')")
        batch = dict(con.execute("SELECT doc_id, text FROM pool").fetchall())
        src_ok = {r[0] for r in con.execute(source_gate(8000)).fetchall()}
        by_source = dict(con.execute("SELECT doc_id, source FROM pool").fetchall())
        s2 = {i: t for i, t in batch.items() if by_source[i] in src_ok and not has_pii(t)}
        first = {}
        for i in sorted(s2):
            first.setdefault(md5(s2[i]), i)
        fresh = {i: s2[i] for i in first.values()
                 if md5(s2[i]) not in hashes and band(s2[i]) not in bands}
        kept = canonical_near_dups(fresh)
        want = {i for i in kept if not (ngrams(fresh[i]) & bench_grams)}
        if not 0 < len(want) < len(batch):
            problems.append(f"{night}: keeps {len(want)} of {len(batch)}")
        got = _ids(con, os.path.join(out, night))
        if got is None:
            problems.append(f"{night}: no survivors written")
            continue
        problems += _survivor_problems(night, got, batch, bench_grams)
        if got & {i for i, t in batch.items() if md5(t) in hashes}:
            problems.append(f"{night}: a survivor repeats a standing document")
        if got != want:
            problems.append(f"{night}: {len(got)} survivors, expected {len(want)} "
                            f"({len(got - want)} unexpected, {len(want - got)} missing)")
        hashes |= {md5(batch[i]) for i in got & batch.keys()}
        bands |= {band(batch[i]) for i in got & batch.keys()}
    return problems


def _survivor_problems(label, got, docs, bench_grams):
    """Properties every survivor set has, whatever the stage details."""
    problems = []
    if not got <= docs.keys():
        return [f"{label}: {len(got - docs.keys())} survivors are not input documents"]
    if any(has_pii(docs[i]) for i in got):
        problems.append(f"{label}: a survivor matches a PII pattern")
    if len({md5(docs[i]) for i in got}) != len(got):
        problems.append(f"{label}: two survivors share an md5")
    if any(ngrams(docs[i]) & bench_grams for i in got):
        problems.append(f"{label}: a survivor shares an 8-gram with the benchmark set")
    return problems


# ---- roster queries -------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROWS_ONLY = {"q33_approx_distinct"}  # HyperLogLog estimate: row count only


def _is_null(x):
    return x != x if isinstance(x, float) else x is None


def _same(x, y):
    if _is_null(x) and _is_null(y):
        return True
    if hasattr(x, "tolist") and hasattr(y, "tolist"):  # list columns
        return x.tolist() == y.tolist()
    return x == y


def queries(sf_dir, oracle_file, results, sample):
    """Each query's parquet result against its oracle SQL run in DuckDB over
    the same tables: same columns, same column types, same rows in order."""
    problems = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(oracle_file) as f:
        oracle = json.load(f)
    for name in sample:
        files = os.path.join(results, name, "*.parquet")
        if not glob.glob(files):
            problems.append(f"{name}: no result written")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{files}')").fetchdf()
            want = con.execute(oracle[name]).fetchdf()
            got_t = {r[0]: r[1] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{files}')").fetchall()}
            want_t = {r[0]: r[1] for r in con.execute(f"DESCRIBE {oracle[name]}").fetchall()}
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{name}: {e}")
            continue
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            problems.append(f"{name}: columns {cols} vs oracle {sorted(want.columns)}")
            continue
        if len(got) != len(want):
            problems.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
            continue
        if name in ROWS_ONLY:
            continue
        skew = [c for c in cols if got_t.get(c) != want_t.get(c)]
        if skew:
            problems.append(f"{name}: column types differ: {skew}")
            continue
        for c in cols:
            bad = next((i for i, (x, y) in enumerate(zip(got[c], want[c]))
                        if not _same(x, y)), None)
            if bad is not None:
                problems.append(f"{name}: column {c} row {bad}: "
                                f"{got[c][bad]!r} vs oracle {want[c][bad]!r}")
                break
    return problems
