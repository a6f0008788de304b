"""Seeded input generator for the benchmark.

Every input a workload reads is made here from the workload seed, written
under the run's work directory, and paired with the ground truth the
checks in checks.py need. Nothing here imports the program under test.

    python3 perfbench/gen.py --workload llm_data --seed 7 --out DIR
"""
import argparse
import json
import os
import re
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (one round of each workload reads all of these) ----
SIZES = {
    "synth_tables": {"orders": 4000, "events": 2000},
    "llm_data": {"docs": 3000, "feed": 1500,
                 "base": 3000, "shards": 1, "shard": 1000, "deletes": 100, "upserts": 100,
                 "queries": 200, "batches": 1, "cells": 16, "nprobe": 4, "dim": 64,
                 "clusters": 24},
}
# The events table does not depend on the workload seed: its `ts` column
# is the input of the one failure the benchmark keeps (sub-second
# TIMESTAMP_NTZ values detected as text), so it must be the same table
# in every run.
EVENTS_SEED = 20240101

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "you", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "ich", "auf"],
    "fr": ["le", "les", "et", "des", "une", "est", "dans", "pour", "ce", "il"],
}
ALL_STOPS = {w for ws in STOPWORDS.values() for w in ws}


def write(table, path):
    pq.write_table(table, path)


# ---------------------------------------------------------------- tables

def gen_tables(seed, out, sizes):
    rng = np.random.default_rng(seed)
    n = sizes["orders"]
    status = np.array(["F", "O", "P"])
    day0 = np.datetime64("1992-01-01", "D")
    days = rng.integers(0, 2400, n)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        # identifier-shaped text, one value per row (TPC-H's c_name shape)
        "o_clerk": pa.array([f"Clerk#{i:09d}" for i in range(n)]),
        "o_orderstatus": pa.array(status[rng.choice(3, n, p=[0.49, 0.48, 0.03])]),
        "o_totalprice": pa.array(np.round(rng.gamma(2.0, 75000.0, n) + 900.0, 2)),
        # timestamp without zone, midnight values: read as TIMESTAMP_NTZ
        "o_orderdate": pa.array((day0 + days).astype("datetime64[us]"),
                                type=pa.timestamp("us")),
    })
    write(orders, os.path.join(out, "orders.parquet"))

    erng = np.random.default_rng(EVENTS_SEED)
    n = sizes["events"]
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    # sub-second event times: the detector's datetime rule must see them
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(erng.integers(0, 30 * 86400 * 10**6, n))
    events = pa.table({
        "ts": pa.array((t0 + offs.astype("timedelta64[us]")), type=pa.timestamp("us")),
        "event_type": pa.array(etypes[erng.choice(5, n, p=[0.4, 0.3, 0.1, 0.1, 0.1])]),
        "value": pa.array(np.round(erng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in erng.integers(0, 100, n)]),
    })
    write(events, os.path.join(out, "events.parquet"))
    truth = {
        "tables": {t: sizes[t] for t in ("orders", "events")},
        # what a correct detector says, by the column's physical type
        "expected_types": {
            "orders": {"o_orderdate": "datetime", "o_orderstatus": "categorical",
                       "o_totalprice": "float", "o_clerk": "text"},
            "events": {"ts": "datetime", "event_type": "categorical",
                       "value": "float", "props": "text"},
        },
    }
    return truth


# ---------------------------------------------------------------- corpus

def make_vocab(rng, size=20000):
    letters = np.frombuffer(string.ascii_lowercase.encode(), dtype="S1")
    lens = rng.integers(4, 10, 2 * size)
    chars = letters[rng.integers(0, 26, (2 * size, 9))]
    words, seen = [], set()
    for row, n in zip(chars, lens):
        w = row[:n].tobytes().decode()
        if w not in seen and w not in ALL_STOPS:
            seen.add(w)
            words.append(w)
            if len(words) == size:
                break
    return words


class DocMaker:
    """Documents over a large synthetic vocabulary with a Zipf-like word
    frequency; `lang` picks which stopword list sprinkles the text."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = np.array(make_vocab(rng))
        ranks = np.arange(len(self.vocab)) + 50.0
        p = 1.0 / ranks
        self.p = p / p.sum()

    def tokens(self, n, lang="en", stop_rate=0.12):
        rng = self.rng
        words = list(self.vocab[rng.choice(len(self.vocab), n, p=self.p)])
        if lang:
            # at least three stopwords: enough language evidence for lang-id
            stops = STOPWORDS[lang]
            at = set(np.nonzero(rng.random(n) < stop_rate)[0].tolist())
            at |= set(rng.choice(n, 3, replace=False).tolist())
            for i in at:
                words[i] = stops[rng.integers(0, len(stops))]
        return words

    def render(self, toks):
        """Sentences of ~12 words, capitalised, full stops and commas."""
        out, i = [], 0
        rng = self.rng
        while i < len(toks):
            k = int(rng.integers(8, 16))
            sent = toks[i:i + k]
            i += k
            if len(sent) > 5 and rng.random() < 0.5:
                j = int(rng.integers(2, len(sent) - 2))
                sent = sent[:j] + [sent[j] + ","] + sent[j + 1:]
            s = " ".join(sent)
            out.append(s[0].upper() + s[1:] + ".")
        return " ".join(out)


def pii(rng):
    user = "".join(rng.choice(list(string.ascii_lowercase), 6))
    email = f"{user}.{int(rng.integers(10, 99))}@mail{int(rng.integers(1, 9))}.example.com"
    phone = f"+1 ({int(rng.integers(200, 999))}) {int(rng.integers(200, 999))}-{int(rng.integers(1000, 9999))}"
    return email, phone


def markup(rng, text, i):
    """Same token stream, different markup: tags and a trailing URL."""
    words = text.split(" ")
    j = int(rng.integers(0, len(words)))
    words[j] = f"<b>{words[j]}</b>"
    text = " ".join(words)
    if i % 2 == 0:
        text = f'<p class="c{i}">{text}</p>'
    return text + f" https://site{i}.example.org/page?id={int(rng.integers(1, 10**6))}"


def gen_corpus(seed, n_docs):
    """Returns (ids, texts, truth). Kinds: unique, exact-dup groups that
    differ only in markup and PII, near-dup clusters of bounded size,
    non-English, low-quality, and one bounded boilerplate cluster."""
    rng = np.random.default_rng(seed)
    dm = DocMaker(rng)
    docs = []          # (text, kind, group)
    n_exact = n_docs * 6 // 100
    n_near = n_docs * 8 // 100
    n_foreign = n_docs * 5 // 100
    n_junk = n_docs * 4 // 100
    n_boiler = min(40, n_docs // 50)

    g = 0
    made = 0
    while made < n_exact:            # exact groups of 2..4
        size = int(rng.integers(2, 5))
        body = dm.render(dm.tokens(int(rng.integers(50, 110))))
        for i in range(size):
            email, phone = pii(rng)
            t = f"{body} Contact {email} or {phone} for details."
            docs.append((markup(rng, t, i) if i else t, "exact", g))
        g += 1
        made += size
    made = 0
    while made < n_near:             # near-dup clusters of 2..4
        size = int(rng.integers(2, 5))
        base = dm.tokens(int(rng.integers(80, 140)))
        for i in range(size):
            toks = list(base)
            if i:
                for _ in range(int(rng.integers(1, 3))):
                    j = int(rng.integers(0, len(toks)))
                    w = toks[j]
                    while w == toks[j]:
                        w = str(dm.vocab[rng.integers(0, len(dm.vocab))])
                    toks[j] = w
            docs.append((dm.render(toks), "near", g))
        g += 1
        made += size
    boiler = dm.render(dm.tokens(80))
    for _ in range(n_boiler):
        docs.append((boiler + " " + dm.render(dm.tokens(25)), "boiler", -1))
    for i in range(n_foreign):
        lang = ["de", "es", "fr"][i % 3]
        docs.append((dm.render(dm.tokens(int(rng.integers(40, 90)), lang=lang, stop_rate=0.2)),
                     "foreign", -1))
    for _ in range(n_junk):
        w = dm.vocab[rng.integers(0, len(dm.vocab), 2)]
        docs.append((f"{w[0]}!!! ### ??? {w[1]} *** %%% !!! ;;; ::: ###", "junk", -1))
    while len(docs) < n_docs:
        docs.append((dm.render(dm.tokens(int(rng.integers(40, 120)))), "unique", -1))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    ids = np.arange(len(docs), dtype=np.int64) * 3 + 1   # sparse, not 0-based
    kinds = [d[1] for d in docs]
    groups = [d[2] for d in docs]
    truth = {"ids": ids.tolist(), "kinds": kinds, "groups": groups}
    return ids, [d[0] for d in docs], truth


# ---------------------------------------------------------------- vectors

def gen_vectors(seed, s):
    rng = np.random.default_rng(seed)
    dim, k = s["dim"], s["clusters"]
    centers = rng.normal(0, 1, (k, dim))

    def draw(n, weights=None):
        c = rng.choice(k, n, p=weights)
        return (centers[c] + rng.normal(0, 0.35, (n, dim))).astype(np.float32)

    base = draw(s["base"])
    # appended shards lean on a third of the clusters: drift the report sees
    w = np.ones(k)
    w[: k // 3] = 4.0
    w /= w.sum()
    shards = [draw(s["shard"], w) for _ in range(s["shards"])]
    n_all = s["base"] + s["shards"] * s["shard"]
    ids_all = np.arange(n_all, dtype=np.int64)
    pick = rng.choice(n_all, s["deletes"] + s["upserts"], replace=False)
    deletes, upserts = np.sort(pick[: s["deletes"]]), np.sort(pick[s["deletes"]:])
    upvecs = draw(s["upserts"])
    queries = draw(s["queries"])
    return {
        "base": base, "shards": shards, "ids_all": ids_all,
        "deletes": deletes, "upserts": upserts, "upvecs": upvecs,
        "queries": queries,
    }


def vec_table(ids, vecs):
    return pa.table({
        "id": pa.array(np.asarray(ids, dtype=np.int64)),
        "vec": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })


def gen_vector_inputs(seed, out, s):
    v = gen_vectors(seed, s)
    nb = s["base"]
    write(vec_table(np.arange(nb), v["base"]), os.path.join(out, "vec_base.parquet"))
    for i, sh in enumerate(v["shards"]):
        ids = np.arange(nb + i * s["shard"], nb + (i + 1) * s["shard"])
        write(vec_table(ids, sh), os.path.join(out, f"vec_shard{i}.parquet"))
    # CDC batch: each key carries an older stale row and its latest op,
    # so the batch compacts by seq before it applies
    d, u = v["deletes"], v["upserts"]
    stale = np.zeros((len(d) + len(u), s["dim"]), dtype=np.float32)
    ids = np.concatenate([d, u, d, u])
    vecs = list(stale) + [np.zeros(s["dim"], np.float32)] * len(d) + list(v["upvecs"])
    seq = np.concatenate([np.ones(len(d) + len(u)), np.full(len(d) + len(u), 2)]).astype(np.int64)
    ops = ["upsert"] * (len(d) + len(u)) + ["delete"] * len(d) + ["upsert"] * len(u)
    cdc = pa.table({
        "id": pa.array(ids.astype(np.int64)),
        "vec": pa.array(vecs, type=pa.list_(pa.float32())),
        "seq": pa.array(seq), "op": pa.array(ops),
    })
    write(cdc, os.path.join(out, "vec_cdc.parquet"))
    write(vec_table(np.arange(s["queries"]), v["queries"]), os.path.join(out, "vec_queries.parquet"))
    return {"sizes": s}


# ---------------------------------------------------------------- main

def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    s = SIZES[workload]
    if workload == "synth_tables":
        truth = gen_tables(seed, out, s)
    elif workload == "llm_data":
        ids, texts, truth = gen_corpus(seed, s["docs"])
        write(pa.table({"id": pa.array(ids), "text": pa.array(texts)}),
              os.path.join(out, "corpus.parquet"))
        truth.update(gen_vector_inputs(seed, out, s))
    else:
        raise SystemExit(f"unknown workload {workload}")
    truth["seed"] = seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


# helpers shared with checks.py: the program's tokenizer and cleaners,
# re-implemented from their documented definitions
TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")
TAG = re.compile(r"<[^>]*>")
URL = re.compile(r"https?://[A-Za-z0-9./_%?&=#+-]+")
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PHONE = re.compile(r"[+(][0-9 ()-]{6,}[0-9]")
WS = re.compile(r"\s+")


def tokens(text):
    return [t for t in TOKEN_SPLIT.split(text.lower()) if t]


def clean(text):
    t = WS.sub(" ", URL.sub(" ", TAG.sub(" ", text))).strip(" ")
    return PHONE.sub("<PHONE>", EMAIL.sub("<EMAIL>", t))


def shingles(text, k=3):
    toks = tokens(text)
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def lang_of(text):
    toks = tokens(text)
    c = {l: sum(1 for t in toks if t in set(ws)) for l, ws in STOPWORDS.items()}
    if all(v == 0 for v in c.values()):
        return "und"
    en, de, es, fr = c["en"], c["de"], c["es"], c["fr"]
    if en >= de and en >= es and en >= fr:
        return "en"
    if de >= es and de >= fr:
        return "de"
    return "es" if es >= fr else "fr"


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
