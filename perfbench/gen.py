"""Seeded input generators for the benchmark, with an on-disk cache.

Everything here is driven by generators seeded from the workload seed,
so the same seed always yields the same input files.  The program under
test only ever sees the files written here: a documents parquet (or a
directory of JSON-lines files for the stream) plus a lexicon JSON file,
or the three test-data-shaped tables (``documents``, ``part``,
``lineitem``) the registry leaves read.

The bio corpora are drawn from one fixed pool of ``POOL_DOCS`` documents
(``bern2_spark.corpus``'s generator plus planted abbreviations): the
seed picks which pool documents a run gets and in what order.  The
expected triples of every pool document are committed in
``fixtures/bio_pool_triples.parquet`` (perfbench/make_expected.py), so
a run's output is checked against them whatever the seed.

Generated inputs are cached under ``<cache>/<workload>-s<seed>-n<size>``
so that generation never lands inside a timed region or ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from typing import Dict, List, Tuple

from bern2_spark import corpus
from bern2_spark.corpus import TAG_ONLY

HERE = os.path.dirname(os.path.abspath(__file__))
# The sf0.01 test-data documents table, copied verbatim: the golden
# triples in tests/golden/kg_triples_sf0.01.parquet were made from it.
GOLDEN_DOCS = os.path.join(HERE, "fixtures", "sf0.01_documents.parquet")
# (idx, pred, obj): the triples of every bio pool document, by pool index
POOL_TRIPLES = os.path.join(HERE, "fixtures", "bio_pool_triples.parquet")

# Bump when a generator changes, so stale cache entries are not reused.
GEN_VERSION = 3

DOC_COLUMNS = ["repo", "path", "commit", "lang", "content"]

POOL_SEED = 42
POOL_DOCS = 12_000
ABBREV_SHARE = 0.15        # pool docs that define "long form (SF)" and reuse SF
ABBREV_TYPES = ("disease", "drug", "gene")
EDGE_DOCS = len(corpus._EDGE_DOCS)      # make_documents puts them first

LexRow = Tuple[str, str, str]
DocRow = Tuple[str, str, str, str, str]


# ------------------------------------------------------------ bio corpus

def _rng(seed: int, *salt) -> random.Random:
    h = hashlib.sha256(("|".join(map(str, salt)) + f"#{seed}").encode())
    return random.Random(int.from_bytes(h.digest()[:8], "big"))


def _short_form(long_form: str) -> str:
    """Initials of the long form: 'gammaosis12 disease' -> 'GD'."""
    return "".join(w[0] for w in long_form.split()).upper()


def _long_forms(lexicon: List[LexRow]) -> List[Tuple[str, str]]:
    """(ent_type, name) of every multi-word name of ABBREV_TYPES."""
    return sorted({(t, name) for t, _cui, name in lexicon
                   if t in ABBREV_TYPES and " " in name})


def bio_lexicon() -> List[LexRow]:
    """``corpus.make_lexicon`` plus a tag-only row for every short form,
    so the tagger emits the bare SF, the sieve leaves it CUI-less, and
    the abbreviation level retries it with its long form."""
    rows = corpus.make_lexicon(POOL_SEED)
    sfs = sorted({(t, _short_form(name)) for t, name in _long_forms(rows)})
    return rows + [(t, TAG_ONLY, sf) for t, sf in sfs]


def bio_pool() -> List[DocRow]:
    """``corpus.make_documents`` over the pool, with ABBREV_SHARE of the
    non-edge documents opening with "... long form (SF) ..." and closing
    with a sentence that reuses the bare SF."""
    lexicon = corpus.make_lexicon(POOL_SEED)
    long_forms = _long_forms(lexicon)
    rows = corpus.make_documents(POOL_DOCS, POOL_SEED, lexicon)
    for i in range(EDGE_DOCS, POOL_DOCS):
        r = _rng(POOL_SEED, "abbrev", i)
        if r.random() < ABBREV_SHARE:
            _t, lf = r.choice(long_forms)
            sf = _short_form(lf)
            repo, path, commit, lang, content = rows[i]
            rows[i] = (repo, path, commit, lang,
                       f"Patients with {lf} ({sf}) were enrolled. {content} "
                       f"{sf} progressed in {r.choice(corpus._FILLER)} cases.")
    return rows


def pool_index(path: str) -> int:
    """The pool index of a document from its ``path`` (docs/<i>.txt)."""
    return int(path[len("docs/"):-len(".txt")])


def _props(rows: List[DocRow], lexicon: List[LexRow]) -> Dict:
    """The realized counts of every planted property, read off the text:
    hot-gene (Zipf-head skew), lexicon-tail, CUI-less (neural traffic)
    and mutation surfaces per sentence, edge docs (quarantine) and docs
    that define and reuse an abbreviation."""
    names = {n for _t, cui, n in lexicon if cui != TAG_ONLY} - set(
        corpus.HOT_GENES)
    kinds = {"hot_gene": set(corpus.HOT_GENES), "lexicon_tail": names,
             "cuiless": set(corpus._UNKNOWN_SURFACES),
             "mutation": set(corpus._MUTATIONS)}
    n = dict.fromkeys(["edge_docs", "abbrev_docs", "sentences", *kinds], 0)
    for _repo, path, _commit, _lang, content in rows:
        if pool_index(path) < EDGE_DOCS:
            n["edge_docs"] += 1
            continue
        n["abbrev_docs"] += " were enrolled. " in content
        for tok in content.split():
            n["sentences"] += tok.endswith(".")
            tok = tok.rstrip(".,")
            for key, vocab in kinds.items():
                n[key] += tok in vocab
    sents = max(1, n["sentences"])
    props = {"docs": len(rows), **n,
             "sentences_per_doc": n["sentences"] / max(1, len(rows)
                                                       - n["edge_docs"]),
             "abbrev_share": n["abbrev_docs"] / max(1, len(rows))}
    for key in kinds:
        props[f"{key}_share"] = n[key] / sents
    return {k: round(v, 4) if isinstance(v, float) else v
            for k, v in props.items()}


def expected_triples(docs_parquet: str) -> set:
    """{(subj, pred, obj)} the pipeline must produce for a corpus drawn
    from the pool: the committed triples of its documents, with subj the
    sha256 of the raw content (the pipeline's doc_id)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    docs = pq.read_table(docs_parquet, columns=["path", "content"])
    subj = {pool_index(p): hashlib.sha256(c.encode()).hexdigest()
            for p, c in zip(docs.column("path").to_pylist(),
                            docs.column("content").to_pylist())}
    t = pq.read_table(POOL_TRIPLES)
    t = t.filter(pc.is_in(t.column("idx"),
                          value_set=pa.array(list(subj))))
    return {(subj[i], p, o) for i, p, o in zip(
        t.column("idx").to_pylist(), t.column("pred").to_pylist(),
        t.column("obj").to_pylist())}


# ------------------------------------------------------------------ cache

def _cache_dir(cache: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(cache, f"{workload}-s{seed}-n{size}-v{GEN_VERSION}")


def _commit(tmp: str, final: str) -> None:
    if os.path.exists(final):                  # another run won the race
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def write_docs_parquet(rows: List[DocRow], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows)) if rows else [[] for _ in DOC_COLUMNS]
    table = pa.table({c: pa.array(v, pa.string())
                      for c, v in zip(DOC_COLUMNS, cols)})
    pq.write_table(table, path)


def bio_corpus(cache: str, workload: str, seed: int, docs: int,
               files: int = 2) -> Dict:
    """Generate (or reuse) one seeded corpus: every edge document of the
    pool plus a seeded sample of the rest, ``docs`` in all, in seeded
    order.  The documents land in ``docs.parquet`` and, split into
    ``files`` JSON-lines files with increasing mtimes (so a file stream
    picks them up in a fixed order), under ``stream_in/``."""
    final = _cache_dir(cache, workload, seed, docs * 100 + files)
    if not os.path.exists(os.path.join(final, "props.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "stream_in"))
        r = _rng(seed, workload, "pick")
        picked = list(range(EDGE_DOCS)) + r.sample(
            range(EDGE_DOCS, POOL_DOCS), docs - EDGE_DOCS)
        r.shuffle(picked)
        pool, lex = bio_pool(), bio_lexicon()
        rows = [pool[i] for i in picked]
        with open(os.path.join(tmp, "lexicon.json"), "w") as f:
            json.dump(lex, f)
        write_docs_parquet(rows, os.path.join(tmp, "docs.parquet"))
        per = -(-len(rows) // files)
        for k in range(files):
            p = os.path.join(tmp, "stream_in", f"part-{k:03d}.json")
            with open(p, "w") as f:
                for row in rows[k * per:(k + 1) * per]:
                    f.write(json.dumps(dict(zip(DOC_COLUMNS, row))) + "\n")
            os.utime(p, (1_000_000 + k, 1_000_000 + k))
        props = dict(_props(rows, lex), files=files, lexicon_rows=len(lex),
                     seed=seed, pool_docs=POOL_DOCS)
        with open(os.path.join(tmp, "props.json"), "w") as f:
            json.dump(props, f, indent=1, sort_keys=True)
        _commit(tmp, final)
    with open(os.path.join(final, "lexicon.json")) as f:
        lex = [tuple(r) for r in json.load(f)]
    with open(os.path.join(final, "props.json")) as f:
        props = json.load(f)
    return {"dir": final, "lexicon": lex, "props": props,
            "docs": os.path.join(final, "docs.parquet"),
            "stream_in": os.path.join(final, "stream_in")}


def golden_stream(cache: str, files: int = 2) -> str:
    """The sf0.01 test documents as ``files`` JSON-lines files, mapped to
    the pipeline's document columns as the golden triples were made
    (repo = source, path = docs/<doc_id>.txt, commit = sha256(doc_id))."""
    import pyarrow.parquet as pq
    final = os.path.join(cache, f"golden-sf0.01-f{files}-v{GEN_VERSION}")
    if not os.path.exists(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = pq.read_table(GOLDEN_DOCS).to_pylist()
        per = -(-len(rows) // files)
        for k in range(files):
            p = os.path.join(tmp, f"part-{k:03d}.json")
            with open(p, "w") as f:
                for r in rows[k * per:(k + 1) * per]:
                    doc = str(r["doc_id"])
                    f.write(json.dumps({
                        "repo": r["source"], "path": f"docs/{doc}.txt",
                        "commit": hashlib.sha256(doc.encode()).hexdigest(),
                        "lang": r["lang"], "content": r["text"]}) + "\n")
            os.utime(p, (1_000_000 + k, 1_000_000 + k))
        _commit(tmp, final)
    return final


# -------------------------------------------------------- registry tables

_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window order data column join small "
          "customer query big stream filter group vector").split()
_LANGS = (["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14
          + ["fr"] * 14)
_COLORS = ["red", "blue", "hot", "small", "green", "dark", "pale", "big"]
_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring"]
_PTYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
FORK_SHARE = 0.9


def registry_tables(cache: str, seed: int, sf: float) -> str:
    """The test data's star-schema shapes at scale factor ``sf`` (0.01 ->
    500 documents, 2,000 parts, 60,000 lineitems from 100 suppliers),
    with every row drawn from ``seed``.  Returns the directory holding
    ``documents.parquet``, ``part.parquet`` and ``lineitem.parquet``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = _cache_dir(cache, "registry", seed, int(round(sf * 10000)))
    if os.path.exists(os.path.join(final, "lineitem.parquet")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 7])

    n_docs = int(round(50_000 * sf))
    words = np.array(_WORDS)
    lens = rng.integers(8, 90, n_docs)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 100, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(tmp, "documents.parquet"))

    n_part = int(round(200_000 * sf))
    keys = np.arange(n_part)
    pq.write_table(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{_COLORS[a]} {_NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(_COLORS), n_part),
            rng.integers(0, len(_NOUNS), n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PTYPES)[
            rng.integers(0, len(_PTYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    }), os.path.join(tmp, "part.parquet"))

    n_li = int(round(6_000_000 * sf))
    n_supp = max(10, int(round(10_000 * sf)))
    # Suppliers come in pairs that draw FORK_SHARE of their parts from a
    # pool of their own: planted forks, so code_fork_detection (which
    # reads supplier -> part sets as repo -> file sets) finds pairs on
    # every seed instead of on chance overlaps.
    supp = rng.integers(0, n_supp, n_li)
    pool = max(1, n_part // max(1, n_supp // 2))
    forked = rng.random(n_li) < FORK_SHARE
    partkey = np.where(forked,
                       ((supp // 2) * pool + rng.integers(0, pool, n_li))
                       % n_part,
                       rng.integers(0, n_part, n_li))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    # ship dates in 1995-2001, as epoch microseconds
    ship_us = pa.array((788_918_400 + rng.integers(0, 7 * 365 * 86_400,
                                                   n_li)) * 1_000_000,
                       pa.int64())
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n_li),
                               pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(supp, pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.integers(90_000, 210_000, n_li) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": ship_us.cast(pa.timestamp("us")),
    }), os.path.join(tmp, "lineitem.parquet"))
    _commit(tmp, final)
    return final
