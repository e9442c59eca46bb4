"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, spec): the same seed gives
byte-identical files, another seed gives other files with the same
stated properties (sizes, Zipf vocabulary, duplicate shares, embedding
clusters). The program under test only ever sees the files written here.

`ensure(workload, seed, root)` caches each input under a stamp of
(workload, seed, spec, generator version), the way `Stress.generateIfAbsent`
stamps its corpus: a directory whose READY marker carries another stamp
is regenerated, never reused under the wrong label.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# The fixture corpus vocabulary (documents.parquet at every sf): BM25's
# default terms (hash, stream, vector, merge) and the query suite's
# expectations are written against these words, so they head the Zipf
# ranking of every generated document corpus.
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()

# Non-ASCII words mixed into the word-count vocabulary: UTF-16 and UTF-8
# orders disagree on them (U+FFFD sorts after U+1F600 in UTF-16 code
# units but before it in UTF-8 bytes), so the byte-order sort is exercised.
UNICODE_WORDS = ["café", "naïve", "über", "straße", "中文", "日本語",
                 "😀", "�", "ø", "ñandú", "Ωmega", "día"]

LANGS = ["de", "en", "es", "fr", "zh"]

SPECS = {
    # ~20 MB of text: a steady WordCountJob.run pass of about 1.5 s at
    # local[4], so a run holds several passes.
    "wordcount": {
        "files": 8, "tokens": 3_000_000, "vocab": 400_000, "zipf_s": 1.05,
        "line_tokens": [1, 24], "double_space_share": 0.03,
        "edge_space_share": 0.02, "empty_line_share": 0.005,
    },
    "curation": {
        "docs": 1200, "vocab": 3000, "zipf_s": 1.0, "doc_tokens": [10, 80],
        "exact_dup_share": 0.10, "near_dup_share": 0.15,
        "near_dup_edit_share": 0.10, "sources": 20,
        "vectors": 600, "dim": 64, "clusters": 10, "cluster_noise": 0.35,
        # arriving documents for the streaming layer's ingest twins, which
        # the traced curation run measures
        "stream": {
            "corpus_docs": 400, "bench_docs": 20, "stream_docs": 1200,
            "files": 2, "vocab": 3000, "zipf_s": 1.0, "doc_tokens": [10, 80],
            "exact_dup_share": 0.10, "near_dup_share": 0.15,
            "near_dup_edit_share": 0.10, "contaminated_share": 0.10,
            "contamination_run": [8, 20],
        },
    },
}


def _rng(seed, tag):
    return np.random.default_rng(
        [int(seed), int.from_bytes(hashlib.md5(tag.encode()).digest()[:4], "little")])


def _words(rng, n, extra=()):
    """n distinct lowercase words (2-9 letters), `extra` first."""
    out, seen = list(extra), set(extra)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    while len(out) < n:
        m = int((n - len(out)) * 1.2) + 16
        lens = rng.integers(2, 10, size=m)
        codes = letters[rng.integers(0, 26, size=int(lens.sum()))].tobytes()
        pos = 0
        for ln in lens:
            w = codes[pos:pos + ln].decode()
            pos += ln
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _zipf_p(n, s):
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _doc_texts(rng, spec, n, vocab, p):
    lo, hi = spec["doc_tokens"]
    lens = rng.integers(lo, hi + 1, size=n)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    va = np.array(vocab, dtype=object)
    out, pos = [], 0
    for ln in lens:
        out.append(list(va[ids[pos:pos + ln]]))
        pos += ln
    return out


def _near_copy(rng, spec, src, vocab, p):
    """A copy of `src` with a share of its token positions redrawn."""
    t = list(src)
    k = max(1, int(len(t) * spec["near_dup_edit_share"]))
    for j in rng.choice(len(t), size=k, replace=False):
        t[int(j)] = vocab[int(rng.choice(len(vocab), p=p))]
    return t


def _with_dups(rng, spec, toks, vocab, p):
    """Turn a share of docs into exact copies and near copies (a share of
    token positions replaced) of earlier base docs. Copies point at base
    docs only, so every duplicate cluster is a star of depth one."""
    n = len(toks)
    kind = rng.random(n)
    n_base = max(1, int(n * (1 - spec["exact_dup_share"] - spec["near_dup_share"])))
    for i in range(n_base, n):
        src = toks[int(rng.integers(0, n_base))]
        if kind[i] < spec["exact_dup_share"] / (spec["exact_dup_share"] + spec["near_dup_share"]):
            toks[i] = list(src)
        else:
            toks[i] = _near_copy(rng, spec, src, vocab, p)
    order = rng.permutation(n)
    return [toks[int(i)] for i in order]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _documents_table(ids, texts, rng, n_sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(i)] for i in rng.integers(0, len(LANGS), len(ids))], pa.string()),
        "source": pa.array([f"src{int(i)}" for i in rng.integers(0, n_sources, len(ids))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_wordcount(seed, out):
    spec = SPECS["wordcount"]
    rng = _rng(seed, "wordcount")
    vocab = _words(rng, spec["vocab"] - len(UNICODE_WORDS))
    # unicode words at random ranks, so some are frequent and some rare
    for w in UNICODE_WORDS:
        vocab.insert(int(rng.integers(0, len(vocab))), w)
    va = np.array(vocab, dtype=object)
    n = spec["tokens"]
    ids = rng.choice(len(vocab), size=n, p=_zipf_p(len(vocab), spec["zipf_s"]))
    words = va[ids]
    lo, hi = spec["line_tokens"]
    # separator after each token: a newline ends a line, otherwise one or
    # two spaces (runs of spaces must collapse into no empty tokens)
    seps = np.full(n, " ", dtype=object)
    ends = np.cumsum(rng.integers(lo, hi + 1, size=n // lo + 1))
    ends = ends[ends <= n] - 1
    seps[rng.random(n) < spec["double_space_share"]] = "  "
    line_end = np.full(len(ends), "\n", dtype=object)
    edge = rng.random(len(ends)) < spec["edge_space_share"]
    line_end[edge] = " \n "  # trailing space, then a leading one
    empty = rng.random(len(ends)) < spec["empty_line_share"]
    line_end[empty] = "\n\n"
    seps[ends] = line_end
    seps[-1] = "\n"
    files = spec["files"]
    bounds = np.linspace(0, n, files + 1).astype(int)
    # cut only at line ends, so no token spans two files
    cut = [0] + [int(ends[min(np.searchsorted(ends, b), len(ends) - 1)]) + 1
                 for b in bounds[1:-1]] + [n]
    inp = os.path.join(out, "input")
    os.makedirs(inp)
    n_bytes = 0
    for f in range(files):
        a, b = cut[f], cut[f + 1]
        parts = [None] * (2 * (b - a))
        parts[0::2] = words[a:b].tolist()
        parts[1::2] = seps[a:b].tolist()
        data = "".join(parts).encode("utf-8")
        if not data.endswith(b"\n"):
            data += b"\n"
        with open(os.path.join(inp, f"part-{f:05d}.txt"), "wb") as fh:
            fh.write(data)
        n_bytes += len(data)
    return {"input_bytes": n_bytes, "tokens": n, "files": files,
            "vocab": len(vocab), "distinct_words": int(len(np.unique(ids))),
            "zipf_s": spec["zipf_s"], "unicode_words": len(UNICODE_WORDS)}


def _embeddings(rng, spec, ids):
    n, dim, k = len(ids), spec["dim"], spec["clusters"]
    centers = rng.normal(0.0, 1.0, size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, size=n)
    x = centers[labels] + rng.normal(0.0, spec["cluster_noise"] / np.sqrt(dim), size=(n, dim))
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def gen_curation(seed, out):
    spec = SPECS["curation"]
    rng = _rng(seed, "curation")
    vocab = _words(rng, spec["vocab"], extra=BASE_WORDS)
    p = _zipf_p(len(vocab), spec["zipf_s"])
    toks = _with_dups(rng, spec, _doc_texts(rng, spec, spec["docs"], vocab, p), vocab, p)
    texts = [" ".join(t) for t in toks]
    ids = np.arange(spec["docs"], dtype=np.int64)
    _write(_documents_table(ids, texts, rng, spec["sources"]),
           os.path.join(out, "documents.parquet"))
    _write(_embeddings(rng, spec, np.arange(spec["vectors"], dtype=np.int64)),
           os.path.join(out, "embeddings.parquet"))
    total = os.path.getsize(os.path.join(out, "documents.parquet")) + \
        os.path.getsize(os.path.join(out, "embeddings.parquet"))
    stream = gen_stream(seed, os.path.join(out, "ingest"), spec["stream"])
    return {"input_bytes": total, "docs": spec["docs"], "stream": stream,
            "distinct_texts": len(set(texts)), "vocab": len(vocab),
            "zipf_s": spec["zipf_s"], "exact_dup_share": spec["exact_dup_share"],
            "near_dup_share": spec["near_dup_share"], "vectors": spec["vectors"],
            "dim": spec["dim"], "clusters": spec["clusters"]}


def gen_stream(seed, out, spec):
    """corpus.parquet (dedup index), bench.parquet (contamination index,
    doc_id % 100 == 0), stream/ (one parquet file per trigger) and
    documents.parquet = bench + stream docs, which batch q143 reads."""
    rng = _rng(seed, "ingest")
    os.makedirs(out)
    vocab = _words(rng, spec["vocab"], extra=BASE_WORDS)
    p = _zipf_p(len(vocab), spec["zipf_s"])
    nc, nb, ns = spec["corpus_docs"], spec["bench_docs"], spec["stream_docs"]
    allt = _doc_texts(rng, spec, nc + nb + ns, vocab, p)
    corpus, bench, stream = allt[:nc], allt[nc:nc + nb], allt[nc + nb:]
    # arriving docs: exact and near copies of corpus docs, then verbatim
    # bench runs planted into a share of the rest
    kind = rng.random(ns)
    ex, nd = spec["exact_dup_share"], spec["near_dup_share"]
    for i in range(ns):
        if kind[i] < ex:
            stream[i] = list(corpus[int(rng.integers(0, nc))])
        elif kind[i] < ex + nd:
            stream[i] = _near_copy(rng, spec, corpus[int(rng.integers(0, nc))], vocab, p)
        elif kind[i] < ex + nd + spec["contaminated_share"]:
            b = bench[int(rng.integers(0, nb))]
            lo, hi = spec["contamination_run"]
            ln = min(len(b), int(rng.integers(lo, hi + 1)))
            st = int(rng.integers(0, len(b) - ln + 1))
            at = int(rng.integers(0, len(stream[i]) + 1))
            stream[i] = stream[i][:at] + b[st:st + ln] + stream[i][at:]
    # doc ids: bench ids are multiples of 100, stream ids never are
    bench_ids = np.arange(1, nb + 1, dtype=np.int64) * 100
    stream_ids = np.array([i for i in range(1, ns + ns // 99 + 3) if i % 100][:ns], dtype=np.int64) \
        + 1_000_000
    corpus_ids = np.arange(nc, dtype=np.int64) + 2_000_000
    def dt(ids, tk):
        return pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array([" ".join(t) for t in tk], pa.string())})
    _write(dt(corpus_ids, corpus), os.path.join(out, "corpus.parquet"))
    _write(dt(bench_ids, bench), os.path.join(out, "bench.parquet"))
    sdir = os.path.join(out, "stream")
    os.makedirs(sdir)
    bounds = np.linspace(0, ns, spec["files"] + 1).astype(int)
    for f in range(spec["files"]):
        a, b = bounds[f], bounds[f + 1]
        _write(dt(stream_ids[a:b], stream[a:b]), os.path.join(sdir, f"part-{f:05d}.parquet"))
    docs = [" ".join(t) for t in bench + stream]
    _write(_documents_table(np.concatenate([bench_ids, stream_ids]), docs, rng, 20),
           os.path.join(out, "documents.parquet"))
    sbytes = sum(os.path.getsize(os.path.join(sdir, f)) for f in os.listdir(sdir))
    return {"input_bytes": sbytes, "stream_docs": ns, "files": spec["files"],
            "corpus_docs": nc, "bench_docs": nb, "vocab": len(vocab),
            "zipf_s": spec["zipf_s"], "exact_dup_share": ex, "near_dup_share": nd,
            "contaminated_share": spec["contaminated_share"]}


GENERATORS = {"wordcount": gen_wordcount, "curation": gen_curation}


def stamp(workload, seed):
    return json.dumps({"workload": workload, "seed": int(seed), "version": GEN_VERSION,
                       "spec": SPECS[workload]}, sort_keys=True)


def ensure(workload, seed, root, keep=2):
    """Return (dir, properties, gen_s); gen_s is 0 on a cache hit.
    At most `keep` generated inputs per workload stay on disk."""
    st = stamp(workload, seed)
    key = hashlib.md5(st.encode()).hexdigest()[:12]
    d = os.path.join(root, f"{workload}-{seed}-{key}")
    marker = os.path.join(d, "READY")
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        if m["stamp"] == st:
            os.utime(marker)
            return d, m["properties"], 0.0
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    old = sorted((os.path.getmtime(os.path.join(root, x)), x) for x in os.listdir(root)
                 if x.startswith(workload + "-"))
    for _, x in old[:max(0, len(old) - keep + 1)]:
        shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    t0 = time.perf_counter()
    os.makedirs(d)
    props = GENERATORS[workload](seed, d)
    gen_s = time.perf_counter() - t0
    with open(marker, "w") as fh:
        json.dump({"stamp": st, "properties": props}, fh)
    return d, props, gen_s
