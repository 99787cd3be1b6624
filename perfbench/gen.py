"""Seeded input generators for the three workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files, so a cached input directory keyed by seed is reused
as is. Nothing here imports the program under test; the program only ever
sees the files written below.

  articles(dir, seed, n)   the four landed article corpora (JSON arrays)
  documents(dir, seed, n)  the `documents` table for the corpus queries

`articles` also returns the counts the article_etl checks compare against,
computed here in plain Python with no Spark involved.
"""
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# article corpora (FIXTURES.md A.1-A.4 shape)

IEEE_COLS = ["journal", "indexation", "publication", "doi", "titre",
             "chercheurs", "laboratoires", "abstract", "keywords", "pays",
             "quartile"]
ACM_COLS = IEEE_COLS[:9]

# corpus -> (schema, share of records, {column: fill rate}); the rates are
# the A.3 ratios of the landed reference files (50/50/20/20 records)
CORPORA = [
    ("ai_articles", "IEEE", 50, {"indexation": 50, "publication": 48,
     "titre": 48, "chercheurs": 46, "abstract": 42, "doi": 36}, 50),
    ("blockchain_articles", "IEEE", 50, {"indexation": 50, "publication": 48,
     "doi": 48, "titre": 48, "chercheurs": 48, "abstract": 48}, 50),
    ("acm_machine_learning_articles", "ACM", 20, {"journal": 20,
     "indexation": 20, "titre": 20, "doi": 19, "abstract": 19}, 20),
    ("acm_blockchain_articles", "ACM", 20, {"journal": 20, "indexation": 20,
     "titre": 20, "doi": 20}, 20),
]

# the enrichment dimensions; the Scala pass holds the same lists
COUNTRIES = ["China", "India", "United States", "Germany", "France", "Japan",
             "Australia", "Canada"]
QUARTILES = {"KDD": "Q1", "ICSE": "Q1", "CHI": "Q1", "ICMLT": "Q2",
             "ICDCN": "Q2", "TEI": "Q2", "ACM REP": "Q3"}
VENUES = ["KDD", "ICSE", "CHI", "ICMLT", "ICDCN", "TEI", "ACM REP", "SIGMOD",
          "WWW", "ICBC"]

FIRST = ["Ziyuan", "Lin", "Qin", "Donghai", "Amélie", "José", "Søren", "Chloé",
         "Wei", "Hiroshi", "Priya", "Olusegun", "Zoë", "François", "Ana",
         "Ivan", "Mei", "Rahul", "Jürgen", "Fatima", "王", "Ngozi", "Łukasz",
         "Sarah", "Omar", "Yuki", "Élodie", "Carlos", "Nadia", "Kwame"]
LAST = ["Wang", "Yang", "Liu", "Núñez", "Dubois", "Müller", "Tanaka", "Patel",
        "Okafor", "Kowalski", "García", "Smith", "Chen", "伟", "Ivanova",
        "Rossi", "Nguyen", "Haddad", "O'Brien", "Lefèvre"]
TITLE_WORDS = ["Gestion", "des", "Données", "Blockchain", "Apprentissage",
               "Automatique", "Sécurité", "Réseaux", "Analyse", "Système",
               "Distribué", "Modèle", "Intelligence", "Artificielle", "pour",
               "la", "Santé", "Finance", "Contrats", "Intelligents", "Étude",
               "Évaluation", "Cadre", "Fédéré", "Consensus"]
ABSTRACT_WORDS = ["we", "propose", "a", "novel", "framework", "for", "secure",
                  "data", "sharing", "results", "show", "that", "our",
                  "approach", "outperforms", "baselines", "on", "benchmark",
                  "datasets", "model", "training", "ledger", "consensus",
                  "latency", "throughput", "privacy", "federated", "learning",
                  "→", "•", "naïve", "état-de-l'art", "データ", "区块链"]
IEEE_VENUES = ["Blockchain", "ICAI", "BigData", "CLOUD", "ICDE", "INFOCOM"]


def _fill_mask(rng, n, filled, total):
    """Exactly round(n * filled / total) True cells at seeded positions."""
    k = (n * filled + total // 2) // total
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=k, replace=False)] = True
    return mask


class _Draw:
    """Scalar draws for the per-record fields: Python's Mersenne Twister
    through random() only, which is stable across Python versions and an
    order of magnitude cheaper per call than numpy's scalar API."""

    def __init__(self, seed):
        self.r = random.Random(seed)

    def below(self, n):
        return int(self.r.random() * n)

    def between(self, lo, hi):
        return lo + self.below(hi - lo)

    def pick(self, seq):
        return seq[self.below(len(seq))]

    def chance(self, p):
        return self.r.random() < p


def _abstract(d):
    words = [d.pick(ABSTRACT_WORDS) for _ in range(d.between(20, 70))]
    r = d.r.random()
    if r < 0.25:   # nested quotes, as in the landed ai_articles abstracts
        words.insert(d.below(len(words)), '"AI Security Continuum,"')
    elif r < 0.45:  # embedded newline
        words.insert(d.below(len(words)), "\n")
    if d.chance(0.6):
        words.insert(d.below(len(words)), "in " + d.pick(COUNTRIES))
    if d.chance(0.1):  # backslash and tab survive the JSON escaping
        words.append("path\\to\tfile")
    text = " ".join(words)
    return text[0].upper() + text[1:] + "."


def _record(d, schema, corpus):
    year = d.between(2015, 2025)
    if schema == "IEEE":
        doi = f"DOI: 10.1109/{d.pick(IEEE_VENUES)}.{year}.{d.below(100000):05d}"
        journal = ""
    else:
        doi = (f"https://doi.org/10.1145/{d.between(3000000, 4000000)}."
               f"{d.between(3000000, 4000000)}")
        journal = (f"{d.pick(VENUES)} '{year % 100:02d}: "
                   f"Proceedings of the {corpus} track")
    authors = "; ".join(f"{d.pick(FIRST)} {d.pick(LAST)}"
                        for _ in range(d.between(1, 9)))
    title = " ".join(d.pick(TITLE_WORDS) for _ in range(d.between(4, 12)))
    if d.chance(0.15):
        title = f'"{title}": une revue'
    return {"journal": journal, "indexation": schema,
            "publication": "Publisher: IEEE" if schema == "IEEE" else "",
            "doi": doi, "titre": title, "chercheurs": authors,
            "laboratoires": "", "abstract": _abstract(d), "keywords": "",
            "pays": "", "quartile": ""}


def articles(out_dir, seed, n_total):
    """Write the four corpora as pretty-printed single-array JSON and return
    (records per corpus, expected results)."""
    rng = np.random.default_rng([seed, 1])
    d = _Draw(seed)
    os.makedirs(out_dir, exist_ok=True)
    unit = n_total // sum(c[2] for c in CORPORA)
    corpora = {}
    for name, schema, share, fills, total in CORPORA:
        n = unit * share
        cols = IEEE_COLS if schema == "IEEE" else ACM_COLS
        recs = [_record(d, schema, name) for _ in range(n)]
        masks = {c: _fill_mask(rng, n, fills.get(c, 0), total) for c in cols}
        rows = [{c: (r[c] if masks[c][i] else "") for c in cols}
                for i, r in enumerate(recs)]
        with open(os.path.join(out_dir, name + ".json"), "w",
                  encoding="utf-8") as f:
            json.dump(rows, f, ensure_ascii=False, indent=2)
        corpora[name] = rows
    return corpora, expected_articles(corpora)


def _null(v):
    return None if v == "" else v


def _first_country(s):
    if s is None:
        return None
    for c in COUNTRIES:
        if c in s:
            return c
    return None


def expected_articles(corpora):
    """What every article_etl operation must return, computed without Spark.
    Keys match the result names the Scala pass writes."""
    rows = [{c: _null(r.get(c, "")) for c in IEEE_COLS}
            for recs in corpora.values() for r in recs]
    exp = {}
    prof = {}
    for r in rows:
        p = prof.setdefault(r["indexation"], [0] * (1 + len(IEEE_COLS)))
        p[0] += 1
        for i, c in enumerate(IEEE_COLS):
            p[1 + i] += r[c] is not None
    exp["scan_profile"] = sorted([k] + v for k, v in prof.items())
    exp["count_by_indexation"] = sorted([k, v[0]] for k, v in prof.items())
    exp["filter_acm_doi"] = [[sum(1 for r in rows if r["indexation"] == "ACM"
                                  and r["doi"] is not None)]]
    exp["contains_china"] = [[sum(1 for r in rows if r["abstract"] is not None
                                  and "China" in r["abstract"])]]
    doi = {}
    for r in rows:
        if r["doi"] is None:
            continue
        bare = re.sub(r"^(DOI: |https://doi\.org/)", "", r["doi"])
        m = re.match(r"^(10\.[0-9]+)", bare)
        d = doi.setdefault((r["indexation"], m.group(1) if m else ""), [0, set()])
        d[0] += 1
        d[1].add(bare)
    exp["doi_registrants"] = sorted([k[0], k[1], v[0], len(v[1])]
                                    for k, v in doi.items())
    auth = {}
    for r in rows:
        if r["chercheurs"] is None:
            continue
        for a in r["chercheurs"].split("; "):
            if a:
                auth[a] = auth.get(a, 0) + 1
    exp["top_authors"] = sorted([a, n] for a, n in
                                sorted(auth.items(), key=lambda t: (-t[1], t[0]))[:10])
    pays = {}
    for r in rows:
        k = (_first_country(r["laboratoires"]) or _first_country(r["abstract"])
             or "(unknown)")
        pays[k] = pays.get(k, 0) + 1
    exp["countries"] = sorted([k, v] for k, v in pays.items())
    quart = {}
    for r in rows:
        if r["journal"] is None:
            continue
        m = re.match(r"^(.*?) '[0-9]+:", r["journal"])
        acro = m.group(1) if m else ""
        q = quart.setdefault(QUARTILES.get(acro, "(unranked)"), [0, set()])
        q[0] += 1
        q[1].add(acro)
    exp["quartiles"] = sorted([k, v[0], len(v[1])] for k, v in quart.items())
    return exp


# --------------------------------------------------------------------------
# documents (the corpus-pipeline table)

DOC_VOCAB = ["batch", "part", "spark", "line", "column", "order", "small",
             "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
             "agg", "filter", "query", "big", "key", "window", "row", "table",
             "stream", "merge", "data", "vector", "join", "customer", "the",
             "index", "shard", "token", "graph", "cache", "page"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
EXACT_DUP_SHARE = 0.05   # verbatim copies of an earlier document
NEAR_DUP_SHARE = 0.10    # copies with ~10 % of the words replaced
# length mix in words: (share, low, high)
LENGTH_MIX = [(0.3, 8, 20), (0.5, 30, 60), (0.2, 60, 90)]


def documents(out_dir, seed, n):
    """n documents; every duplicate cluster holds at most three members (one
    original, at most one verbatim copy, at most one near copy), so the
    pair-finding queries scale with n rather than with cluster size squared."""
    rng = np.random.default_rng([seed, 2])
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    n_base = n - n_exact - n_near
    shares = np.array([m[0] for m in LENGTH_MIX])
    bucket = rng.choice(len(LENGTH_MIX), size=n_base, p=shares / shares.sum())
    texts = []
    for b in bucket:
        _, lo, hi = LENGTH_MIX[b]
        k = int(rng.integers(lo, hi + 1))
        texts.append(list(rng.choice(DOC_VOCAB, size=k)))
    # distinct originals for the copies bound every cluster to <= 3
    src_exact = rng.choice(n_base, size=n_exact, replace=False)
    src_near = rng.choice(n_base, size=n_near, replace=False)
    out = [" ".join(t) for t in texts]
    out += [out[i] for i in src_exact]
    for i in src_near:
        words = list(texts[i])
        for j in rng.choice(len(words), size=max(1, len(words) // 10),
                            replace=False):
            words[j] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        out.append(" ".join(words))
    order = rng.permutation(n)
    text = [out[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {"rows": n, "exact_dups": n_exact, "near_dups": n_near}
