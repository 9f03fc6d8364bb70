"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical inputs. Generation is never timed.

- `kmer_corpus`: a directory of DNA text files, each with a FASTA header
  line and 80-column sequence lines (the shape the reference's
  `modifier.sh` cleans), plus a Spark-free oracle of the k-mer counts.
  Bases are drawn i.i.d. uniform over ACGT into files of equal size. This
  is an unverified stand-in for real genomes, whose k-mer spectra are
  skewed and repetitive and whose files differ in size: no genome sample
  has calibrated it, so no result that depends on key skew or repeats
  should be read from it.
- `curation_tables`: a harness-schema table directory. `documents` draws
  ASCII words Zipfian from a generated lexicon and carries a stated share
  of exact and near duplicates; `embeddings` holds 64-dim clustered
  vectors with their cluster label; the other eight harness tables are
  small stand-ins so the DuckDB oracle sees a complete directory.
"""
import datetime
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINE = 80
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
# Order-insensitive checksum over (k-mer, count): sum of count * h(code),
# h(c) = ((c mod P) * A + B) mod P, code = the k-mer read as base-4 ACGT.
# The Spark side computes the same sum in SQL (PerfBench.kmerHashSql).
CK_P, CK_A, CK_B = 2147483647, 1000003, 12345


def kmer_corpus(out_dir, seed, n_chars, n_files):
    """Writes `n_files` FASTA-style files of equal size holding `n_chars`
    bases in total; equal files keep the partitions balanced whatever the
    seed. Returns the cleaned per-file sequences (header and newlines
    dropped)."""
    rng = np.random.default_rng(seed)
    sizes = [n_chars // n_files] * n_files
    sizes[0] += n_chars - sum(sizes)
    os.makedirs(out_dir, exist_ok=True)
    seqs = []
    for i, n in enumerate(sizes):
        seq = BASES[rng.integers(0, 4, int(n))]
        seqs.append(seq)
        body = b"\n".join(seq[j:j + LINE].tobytes() for j in range(0, len(seq), LINE))
        with open(os.path.join(out_dir, f"seq-{i:03d}.txt"), "wb") as f:
            f.write(b">seq%d seed=%d len=%d\n" % (i, seed, n) + body + b"\n")
    return seqs


def kmer_oracle(seqs, k):
    """2-bit-packed k-mers of every sequence, sorted and run-length
    counted (the reference `solutiongenerator.py` discipline).
    Returns distinct keys, total windows and the checksum."""
    lut = np.zeros(256, dtype=np.uint64)
    lut[BASES] = np.arange(4, dtype=np.uint64)
    codes = []
    for seq in seqs:
        n = len(seq) - k + 1
        if n <= 0:
            continue
        c = lut[seq]
        code = np.zeros(n, dtype=np.uint64)
        for j in range(k):
            code = (code << np.uint64(2)) | c[j:j + n]
        codes.append(code)
    keys, counts = np.unique(np.concatenate(codes), return_counts=True)
    h = ((keys % np.uint64(CK_P)) * np.uint64(CK_A) + np.uint64(CK_B)) % np.uint64(CK_P)
    checksum = int((h.astype(np.int64) * counts.astype(np.int64)).sum())
    return {"distinct": int(len(keys)), "windows": int(counts.sum()), "checksum": checksum}


def _lexicon(rng, n_words):
    """Random ASCII words whose length depends on the rank only, so that
    every seed gives the corpus nearly the same number of characters."""
    letters = np.array(list(string.ascii_lowercase))
    words, seen = [], set()
    while len(words) < n_words:
        w = "".join(rng.choice(letters, 3 + (len(words) * 5) % 8))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def curation_tables(out_dir, seed, n_docs, n_words, dup_exact, dup_near, n_vecs):
    """Writes the ten harness tables as parquet under `out_dir`.
    Returns the generated properties."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    lexicon = np.array(_lexicon(rng, n_words), dtype=object)
    ranks = np.arange(1, n_words + 1, dtype=np.float64)
    zipf = 1.0 / ranks ** 1.1
    zipf /= zipf.sum()
    texts, kinds = [], rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kinds[i] < dup_exact:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] < dup_exact + dup_near:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(lexicon, p=zipf))
            texts.append(" ".join(words))
        else:
            n = int(np.clip(rng.lognormal(3.7, 0.55), 8, 110))
            texts.append(" ".join(rng.choice(lexicon, n, p=zipf)))
    langs = np.array(["en", "es", "zh", "de", "fr"])
    lang = langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    source = np.array([f"src{i % 20}" for i in range(n_docs)])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(0, 0.1, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = (centers[label] + rng.normal(0, 0.05, (n_vecs, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

    _standins(out_dir, rng)
    vocab = {w for t in texts for w in t.split(" ")}
    return {
        "chars": sum(len(t) for t in texts),
        "files": n_docs,
        "vocabulary": len(vocab),
        "duplicate_share": round(1 - len(set(texts)) / n_docs, 4),
    }


def _standins(out_dir, rng, n=200):
    """Small harness-schema tables the curation queries never read."""
    i64 = lambda m: pa.array(np.arange(m), pa.int64())
    i32 = lambda v: pa.array(v, pa.int32())
    f64 = lambda m: pa.array(rng.uniform(0, 1000, m).round(2), pa.float64())
    s = lambda prefix, m: pa.array([f"{prefix}{j}" for j in range(m)], pa.string())
    t0 = datetime.datetime(2024, 1, 1)
    ts = lambda m: pa.array([t0 + datetime.timedelta(minutes=int(j)) for j in range(m)],
                            pa.timestamp("us"))
    tables = {
        "region": {"r_regionkey": i32(np.arange(5)), "r_name": s("region", 5)},
        "nation": {"n_nationkey": i32(np.arange(25)), "n_name": s("nation", 25),
                   "n_regionkey": i32(np.arange(25) % 5)},
        "customer": {"c_custkey": i64(n), "c_name": s("cust", n),
                     "c_nationkey": i32(np.arange(n) % 25), "c_acctbal": f64(n),
                     "c_mktsegment": s("seg", n)},
        "supplier": {"s_suppkey": i64(n), "s_name": s("supp", n),
                     "s_nationkey": i32(np.arange(n) % 25), "s_acctbal": f64(n)},
        "part": {"p_partkey": i64(n), "p_name": s("part", n), "p_brand": s("brand", n),
                 "p_type": s("type", n), "p_size": i32(np.arange(n) % 50),
                 "p_retailprice": f64(n)},
        "orders": {"o_orderkey": i64(n), "o_custkey": i64(n), "o_orderstatus": s("st", n),
                   "o_totalprice": f64(n), "o_orderdate": ts(n),
                   "o_orderpriority": s("prio", n)},
        "lineitem": {"l_orderkey": i64(n), "l_partkey": i64(n), "l_suppkey": i64(n),
                     "l_linenumber": i32(np.ones(n, np.int32)), "l_quantity": f64(n),
                     "l_extendedprice": f64(n), "l_discount": f64(n), "l_tax": f64(n),
                     "l_returnflag": s("r", n), "l_linestatus": s("l", n),
                     "l_shipdate": ts(n)},
        "events": {"event_id": i64(n), "ts": ts(n), "user_id": i64(n),
                   "event_type": s("type", n), "value": f64(n), "props": s("p", n)},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
