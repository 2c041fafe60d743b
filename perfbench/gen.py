"""Seeded, offline input generator for the benchmark.

Two inputs, each a directory of parquet part files plus a `truth` file that
only the reference check reads (the program under test never sees it):

* events: NanoAOD-shaped collision events (run/luminosityBlock/event keys,
  `Jet` and `Muon` arrays of structs including 0-jet events, a `MET` struct,
  `genWeight`). `run` 1 is an inclusive sample and `run` 2 an exclusive
  sample of events with at least two jets, so dataset stitching has work.
* corpus: a document corpus with planted exact duplicates, planted
  near-duplicate clusters, junk documents that the quality rules reject, and
  documents contaminated with passages of a held-out benchmark set, which is
  written next to it.

The same (seed, size) always gives the same bytes of content; generation
uses numpy's PCG64 stream only.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]


def _write_parts(table, out_dir, parts):
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _list_of_structs(counts, fields):
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    structs = pa.StructArray.from_arrays(
        [pa.array(v) for v in fields.values()], names=list(fields.keys()))
    return pa.ListArray.from_arrays(pa.array(offsets), structs)


def gen_events(seed, n, out_dir, parts):
    rng = np.random.default_rng([seed, 1])
    run = np.where(rng.random(n) < 0.75, 1, 2).astype(np.int64)
    n_jet = np.clip(rng.poisson(2.6, n), 0, 12)
    n_jet = np.where(run == 2, np.maximum(n_jet, 2), n_jet)
    nj = int(n_jet.sum())
    jet_pt = (15.0 + rng.exponential(35.0, nj)).astype(np.float32)
    jets = {
        "pt": jet_pt,
        "eta": np.clip(rng.normal(0.0, 1.8, nj), -4.7, 4.7).astype(np.float32),
        "phi": rng.uniform(-np.pi, np.pi, nj).astype(np.float32),
        "mass": (jet_pt * rng.uniform(0.05, 0.2, nj)).astype(np.float32),
        "rawFactor": rng.uniform(0.0, 0.25, nj).astype(np.float32),
        "btagDeepFlavB": rng.uniform(0.0, 1.0, nj).astype(np.float32),
        "jetId": rng.choice(np.array([0, 2, 6], dtype=np.int32), nj,
                            p=[0.05, 0.15, 0.8]),
    }
    n_mu = np.clip(rng.poisson(1.2, n), 0, 6)
    nm = int(n_mu.sum())
    muons = {
        "pt": (5.0 + rng.exponential(25.0, nm)).astype(np.float32),
        "eta": np.clip(rng.normal(0.0, 1.3, nm), -2.5, 2.5).astype(np.float32),
        "phi": rng.uniform(-np.pi, np.pi, nm).astype(np.float32),
        "mass": np.full(nm, 0.1057, dtype=np.float32),
        "charge": rng.choice(np.array([-1, 1], dtype=np.int32), nm),
        "pfRelIso04_all": rng.exponential(0.1, nm).astype(np.float32),
    }
    met = pa.StructArray.from_arrays(
        [pa.array(rng.exponential(40.0, n).astype(np.float32)),
         pa.array(rng.uniform(-np.pi, np.pi, n).astype(np.float32))],
        names=["pt", "phi"])
    sign = np.where(rng.random(n) < 0.1, -1.0, 1.0)
    gen_weight = (sign * np.round(rng.lognormal(0.0, 0.2, n), 3)).astype(np.float32)
    idx = np.arange(n, dtype=np.int64)
    table = pa.table({
        "run": run,
        "luminosityBlock": idx // 500 + 1,
        "event": idx + 1,
        "Jet": _list_of_structs(n_jet, jets),
        "Muon": _list_of_structs(n_mu, muons),
        "MET": met,
        "genWeight": gen_weight,
    })
    _write_parts(table, os.path.join(out_dir, "events"), parts)
    return {"rows": n}


def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _tokens(rng, vocab, n):
    stop = rng.random(n) < 0.3
    out = vocab[rng.integers(0, len(vocab), n)].astype(object)
    out[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), stop.sum())]
    return list(out)


def _render(tokens):
    # a full stop every 20 words keeps the symbol ratio well inside the rules
    return " ".join(t + "." if i % 20 == 19 else t for i, t in enumerate(tokens))


def gen_corpus(seed, n_docs, out_dir, parts):
    """Documents with planted structure. The kinds are disjoint: a near-dup
    cluster base is never copied exactly or contaminated, so the expected
    curated set follows from the planted structure and the rules alone."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 20000)
    n_bench = max(20, n_docs // 100)
    bench = [_tokens(rng, vocab, int(rng.integers(120, 240))) for _ in range(n_bench)]

    n_junk = n_docs * 4 // 100
    n_exact = n_docs * 5 // 100
    n_variants = n_docs * 4 // 100
    n_contam = n_docs * 15 // 1000
    n_normal = n_docs - n_junk - n_exact - n_variants - n_contam
    docs = []  # (tokens or text, kind, group)
    normal = [_tokens(rng, vocab, int(rng.integers(80, 260))) for _ in range(n_normal)]
    # the first third of the normal documents seed the near-dup clusters,
    # the next third the exact copies; the rest stand alone
    third = n_normal // 3
    for i, t in enumerate(normal):
        docs.append((_render(t), "cluster" if i < third else "normal", i if i < third else -1))
    made = 0
    while made < n_variants:
        base = int(rng.integers(0, third))
        t = list(normal[base])
        for pos in rng.integers(0, len(t), max(1, len(t) // 120)):
            t[pos] = vocab[rng.integers(0, len(vocab))]
        docs.append((_render(t), "cluster", base))
        made += 1
    for _ in range(n_exact):
        src = int(rng.integers(third, 2 * third))
        docs.append((docs[src][0], "exact", src))
    for _ in range(n_contam):
        t = _tokens(rng, vocab, int(rng.integers(100, 200)))
        b = bench[int(rng.integers(0, n_bench))]
        start = int(rng.integers(0, len(b) - 80))
        at = int(rng.integers(0, len(t)))
        docs.append((_render(t[:at] + b[start:start + 80] + t[at:]), "contaminated", -1))
    for i in range(n_junk):
        if i % 2 == 0:
            docs.append((_render(_tokens(rng, vocab, int(rng.integers(15, 45)))), "junk", -1))
        else:
            t = _tokens(rng, vocab, int(rng.integers(80, 200)))
            docs.append((" ".join(w + " @#" if j % 4 == 0 else w for j, w in enumerate(t)),
                         "junk", -1))
    order = rng.permutation(len(docs))
    doc_id = np.empty(len(docs), dtype=np.int64)
    doc_id[order] = np.arange(1, len(docs) + 1)
    texts = [d[0] for d in docs]
    sources = np.array(["web", "books", "code", "news"])[rng.integers(0, 4, len(docs))]
    table = pa.table({"doc_id": doc_id, "source": sources, "text": texts})
    table = table.take(pa.array(np.argsort(doc_id)))
    _write_parts(table, os.path.join(out_dir, "corpus"), parts)
    bench_tbl = pa.table({"doc_id": np.arange(1, n_bench + 1, dtype=np.int64),
                          "text": [_render(t) for t in bench]})
    _write_parts(bench_tbl, os.path.join(out_dir, "heldout"), 1)
    # planted structure: cluster groups are keyed by their base's doc id
    group_id = [int(doc_id[g]) if g >= 0 else -1 for (_, _, g) in docs]
    truth = pa.table({"doc_id": doc_id, "kind": [d[1] for d in docs],
                      "group_id": np.array(group_id, dtype=np.int64)})
    pq.write_table(truth, os.path.join(out_dir, "truth.parquet"))
    return {"rows": len(docs), "heldout_rows": n_bench}


def generate(kind, seed, size, out_dir, parts):
    """Write the input for `kind` ("events" or "corpus") once; later calls
    with the same arguments reuse it."""
    stamp = os.path.join(out_dir, "_GENERATED.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return json.load(f)
    gen = gen_events if kind == "events" else gen_corpus
    info = gen(seed, size, out_dir, parts)
    info["bytes"] = sum(os.path.getsize(os.path.join(r, f))
                        for r, _, fs in os.walk(out_dir) for f in fs
                        if f.endswith(".parquet") and "truth" not in f
                        and os.sep + "heldout" not in r)
    info.update({"kind": kind, "seed": seed, "size": size, "parts": parts})
    with open(stamp, "w") as f:
        json.dump(info, f)
    return info
