"""Seeded input generator for the CoCoA benchmark.

Writes each workload's inputs in the reference CLI schema (`gclid`,
`conversion_timestamp`, `conversion_value`, `conversion_date`, categorical
string features and an optional numeric feature) as parquet, plus the
corpus snapshots the release workload re-cuts. The same seed always gives
the same files. The engine only ever sees what this module writes.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIRST_DAY = datetime.date(2024, 1, 1)

# Share of rows whose conversion value the engine's clean step must drop:
# null, zero and negative values, in that order of the split.
INVALID_SHARE = (0.02, 0.01, 0.01)

# Categorical columns and their cardinalities, shared by the day workloads.
# Values are drawn Zipf-like (weight 1/rank), so a few values dominate.
CATEGORICALS = (("device", 3), ("channel", 20), ("region", 35), ("item", 50))

NUMERIC_SPREAD = 10000.0

# rows per day: (consent, noconsent); days: how many distinct dates exist.
WORKLOADS = {
    "day_dense": dict(consent=4000, noconsent=1000, days=16, numeric=False,
                      strategy="k=3"),
    "day_numeric_pct": dict(consent=12000, noconsent=3000, days=16,
                            numeric=True, strategy="percentile=0.9"),
    "stream_small_days": dict(consent=1000, noconsent=250, days=16,
                              numeric=False, strategy="k=3"),
}

# Corpus release: the base snapshot, and per generation the churn applied
# to the previous snapshot.
CORPUS = dict(docs=1500, generations=10, dim=32, removed=0.03, changed=0.05,
              added=0.06, near_dup=0.5)
VOCAB = ["w%03d" % i for i in range(400)]
LANGS = ("en", "de", "fr")
SOURCES = ("src0", "src1", "src2", "src3", "src4")


_CLOCK = pa.array(["%02d:%02d:%02d" % (s // 3600, s // 60 % 60, s % 60)
                   for s in range(86400)])


def _labels(prefix, idx, n_values):
    """String column `prefix<i>` for the integer codes `idx`."""
    names = pa.array(["%s%d" % (prefix, v) for v in range(n_values)])
    return names.take(pa.array(idx))


def _zipf_choice(rng, n_values, size):
    w = 1.0 / np.arange(1, n_values + 1)
    return rng.choice(n_values, size=size, p=w / w.sum())


def _cohort(rng, tag, day_index, n, numeric):
    day = FIRST_DAY + datetime.timedelta(days=day_index)
    value = np.round(rng.lognormal(mean=3.0, sigma=0.8, size=n), 4)
    n_null, n_zero, n_neg = (int(round(s * n)) for s in INVALID_SHARE)
    bad = rng.permutation(n)[: n_null + n_zero + n_neg]
    null = np.zeros(n, dtype=bool)
    null[bad[:n_null]] = True
    value[bad[n_null:n_null + n_zero]] = 0.0
    value[bad[n_null + n_zero:]] *= -1.0
    secs = rng.integers(0, 86400, size=n)
    cols = {
        "gclid": pc.binary_join_element_wise(
            "%s%d-" % (tag, day_index), pc.cast(pa.array(np.arange(n)),
                                                pa.string()), ""),
        "conversion_timestamp": pc.binary_join_element_wise(
            str(day), _CLOCK.take(pa.array(secs)), "UTC", " "),
        "conversion_value": pa.array(value, mask=null),
        "conversion_date": pa.array([day] * n, type=pa.date32()),
    }
    for name, card in CATEGORICALS:
        cols[name] = _labels(name[0] + "_", _zipf_choice(rng, card, n), card)
    if numeric:
        cols["spend"] = rng.uniform(0.0, NUMERIC_SPREAD, size=n)
    clean = ~null & (value > 0)
    return pa.table(cols), int(clean.sum()), float(value[clean].sum()), str(day)


def gen_days(name, seed, out):
    p = WORKLOADS[name]
    rng = np.random.default_rng(seed)
    days = []
    for side in ("consent", "noconsent"):
        os.makedirs(os.path.join(out, side), exist_ok=True)
    for d in range(p["days"]):
        c, c_clean, _, day = _cohort(rng, "c", d, p["consent"], p["numeric"])
        nc, nc_clean, nc_value, _ = _cohort(rng, "n", d, p["noconsent"],
                                            p["numeric"])
        pq.write_table(c, os.path.join(out, "consent", "part-%03d.parquet" % d))
        pq.write_table(nc, os.path.join(out, "noconsent",
                                        "part-%03d.parquet" % d))
        days.append(dict(date=day, consent_rows=p["consent"],
                         noconsent_rows=p["noconsent"],
                         consent_clean=c_clean, noconsent_clean=nc_clean,
                         noconsent_clean_value=nc_value))
    return dict(workload=name, strategy=p["strategy"], days=days)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in _zipf_choice(rng, len(VOCAB), n_words))


def _embedding(rng, dim):
    v = rng.normal(size=dim)
    return (v / np.linalg.norm(v)).astype(np.float32)


def _write_parts(table, path, parts=4):
    """A table as a directory of `parts` files, so scans start parallel."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, "part-%d.parquet" % i))


def _write_snapshot(out, g, docs, emb):
    ids = sorted(docs)
    _write_parts(pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": [docs[i][0] for i in ids],
        "lang": [docs[i][1] for i in ids],
        "source": [docs[i][2] for i in ids],
        "n_chars": pa.array([len(docs[i][0]) for i in ids], type=pa.int64()),
    }), os.path.join(out, "docs_%02d" % g))
    vids = sorted(emb)
    _write_parts(pa.table({
        "vec_id": pa.array(vids, type=pa.int64()),
        "embedding": pa.array([emb[i].tolist() for i in vids],
                              type=pa.list_(pa.float32())),
        "label": pa.array([int(i % 4) for i in vids], type=pa.int32()),
    }), os.path.join(out, "emb_%02d" % g))
    return ids


def gen_corpus(seed, out):
    p = CORPUS
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    docs, emb = {}, {}
    for i in range(p["docs"]):
        docs[i] = (_text(rng, int(rng.integers(30, 90))),
                   LANGS[int(rng.integers(len(LANGS)))],
                   SOURCES[int(rng.integers(len(SOURCES)))])
        emb[i] = _embedding(rng, p["dim"])
    next_id = p["docs"]
    gens = [dict(generation=0, docs=len(_write_snapshot(out, 0, docs, emb)))]
    for g in range(1, p["generations"]):
        live = sorted(docs)
        n = len(live)
        for i in rng.choice(live, size=int(p["removed"] * n), replace=False):
            del docs[int(i)]
            emb.pop(int(i), None)
        live = sorted(docs)
        for i in rng.choice(live, size=int(p["changed"] * n), replace=False):
            t, lang, src = docs[int(i)]
            docs[int(i)] = (t + " v%d" % g, lang, src)
        for _ in range(int(p["added"] * n)):
            if rng.random() < p["near_dup"]:
                # near-duplicate of a live doc: a few words replaced, and a
                # slightly perturbed copy of its embedding
                src_id = int(live[int(rng.integers(len(live)))])
                words = docs[src_id][0].split()
                for j in rng.choice(len(words), size=2, replace=False):
                    words[int(j)] = VOCAB[int(rng.integers(len(VOCAB)))]
                docs[next_id] = (" ".join(words), docs[src_id][1], "clone")
                if src_id in emb:
                    v = emb[src_id] + rng.normal(scale=0.01, size=p["dim"])
                    emb[next_id] = (v / np.linalg.norm(v)).astype(np.float32)
                else:
                    emb[next_id] = _embedding(rng, p["dim"])
            else:
                docs[next_id] = (_text(rng, int(rng.integers(30, 90))),
                                 LANGS[int(rng.integers(len(LANGS)))],
                                 SOURCES[1 + int(rng.integers(4))])
                emb[next_id] = _embedding(rng, p["dim"])
            next_id += 1
        gens.append(dict(generation=g,
                         docs=len(_write_snapshot(out, g, docs, emb))))
    return dict(workload="corpus_release", generations=gens)


def generate(name, seed, out):
    meta = gen_corpus(seed, out) if name == "corpus_release" \
        else gen_days(name, seed, out)
    meta["seed"] = seed
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
