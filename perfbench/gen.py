"""Seeded input generators. The same seed always writes the same bytes.

docs_corpus: the reference engine's input contract, `{dir}/{i}.txt` for
  i in [0, n). ASCII text with heavy-tailed file sizes and a Zipf
  vocabulary, plus the expected output of every mapreduce_docs operation,
  computed here from the generator's own token stream (characters are
  counted as codepoints, which on ASCII equal bytes).

tables: the ten analytic tables the engine's queries read (TPC-H-ish star
  schema plus events, documents and embeddings), one parquet file each,
  with the column types and value domains of the repository's synthetic
  test data and full referential integrity: every foreign key points at an
  existing row.
"""
import hashlib
import os
from pathlib import Path
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Streams of one seed: distinct sub-seeds keep the generators independent.
DOCS_STREAM, TABLES_STREAM = 1, 2


def _write_atomic(path: Path, data: bytes) -> None:
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_bytes(data)
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# mapreduce_docs corpus

def _vocabulary(rng, size):
    """`size` distinct whitespace-free ASCII tokens: mostly lower-case
    words, some capitalised, some numeric, some with punctuation."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    out, seen = [], set()
    while len(out) < size:
        n = int(rng.integers(1, 13))
        kind = rng.random()
        if kind < 0.06:
            w = str(int(rng.integers(0, 10 ** min(n, 6))))
        else:
            w = bytes(rng.choice(letters, n)).decode()
            if kind < 0.16:
                w = w.capitalize()
            elif kind < 0.22:
                w += ",.;:!?-'"[int(rng.integers(0, 8))]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def docs_corpus(seed: int, out: Path, n_files: int = 192, total_mb: float = 16.0,
                vocab_size: int = 40000) -> None:
    rng = np.random.default_rng([seed, DOCS_STREAM])
    vocab = _vocabulary(rng, vocab_size)
    # Zipf-Mandelbrot rank frequencies, ranks shuffled over the vocabulary.
    ranks = rng.permutation(vocab_size)
    p = 1.0 / (ranks + 2.7) ** 1.07
    p /= p.sum()
    # Heavy-tailed sizes: the quantiles of a lognormal, clipped to the
    # reference sample's span (193 B .. 453 KB) and scaled to the target
    # total. Every seed gets the same sizes in a different file order, so the
    # amount of work does not vary with the seed.
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n_files) for i in range(n_files)])
    sizes = np.exp(1.4 * z)
    sizes = rng.permutation(np.clip(sizes * (total_mb * 2 ** 20 / sizes.sum()), 193, 453_000))
    mean_token = float(np.dot(p, [len(w) + 1 for w in vocab]))
    counts = np.maximum(1, (sizes / mean_token).astype(np.int64))
    ids = rng.choice(vocab_size, size=int(counts.sum()), p=p)
    # Separator after each token: mostly a space, a newline about every
    # twelve tokens, sometimes a tab or a double space; a newline ends a file.
    seps = np.array([" ", "\n", "\t", "  "], dtype=object)
    sep_ids = rng.choice(4, size=ids.size, p=[0.89, 0.08, 0.015, 0.015])
    ends = np.cumsum(counts)
    sep_ids[ends - 1] = 1

    out.mkdir(parents=True, exist_ok=True)
    words = np.array(vocab, dtype=object)
    tokens = np.empty(2 * ids.size, dtype=object)
    tokens[0::2] = words[ids]
    tokens[1::2] = seps[sep_ids]
    total_chars = 0
    task3 = 0
    start = 0
    for i, end in enumerate(ends):
        text = "".join(tokens[2 * start:2 * end])
        (out / f"{i}.txt").write_bytes(text.encode("ascii"))
        total_chars += len(text)
        task3 += len(text) % 49
        start = end

    freq = np.bincount(ids, minlength=vocab_size)
    sep_chars = int(np.dot(np.bincount(sep_ids, minlength=4), [1, 1, 1, 2]))
    letters = digits = 0
    hist = np.zeros(26, dtype=np.int64)
    for w, f in zip(vocab, freq):
        if f:
            for ch in w:
                if ch.isascii() and ch.isalpha():
                    letters += f
                    hist[ord(ch.lower()) - 97] += f
                elif ch.isdigit():
                    digits += f
    assert total_chars == int(np.dot(freq, [len(w) for w in vocab])) + sep_chars

    def lines(pairs):
        return "".join(f"{k} {v}\n" for k, v in pairs).encode("ascii")

    expected = {
        "mr_task1": lines([("letters", letters), ("numbers", digits),
                           ("others", total_chars - letters - digits)]),
        "mr_task2": lines((chr(97 + j), int(hist[j])) for j in range(26)),
        "mr_task3": lines((k, task3) for k in ["3210", "cs", "love", "we"]),
        "mr_wordcount": lines(sorted((w, int(f)) for w, f in zip(vocab, freq) if f)),
    }
    exp_dir = out / "expected"
    exp_dir.mkdir(exist_ok=True)
    for name, body in expected.items():
        _write_atomic(exp_dir / f"{name}.txt", body)
    _write_atomic(exp_dir / "mr_read.txt",
                  f"{n_files} {total_chars} {n_files * (n_files - 1) // 2}".encode())
    _write_atomic(out / "NUM_FILES", str(n_files).encode())


# --------------------------------------------------------------------------
# analytic tables

DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DAY_US = 86_400 * 1_000_000


def _days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(rng, lo, hi, n):
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * DAY_US, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.array(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    centers = rng.normal(size=(labels, dim))
    v = 0.15 * centers[label] + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def tables(seed: int, out: Path, sf: float = 0.01) -> None:
    """Writes `<name>.parquet` for the ten tables and DATA_HASH, a content
    hash of all of them (the oracle cache key)."""
    rng = np.random.default_rng([seed, TABLES_STREAM])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(50_000 * sf)
    i32 = np.int32
    t = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_days(rng, _days(1995, 1, 1), _days(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, _days(1995, 1, 2), _days(2001, 11, 4), n_line)})
    ts0 = _days(2024, 1, 1) * DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(ts0, ts0 + 30 * DAY_US, n_ev)), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)

    out.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(t):
        path = out / f"{name}.parquet"
        pq.write_table(t[name], path.with_name(path.name + ".tmp"), compression="snappy")
        os.replace(path.with_name(path.name + ".tmp"), path)
        h.update(name.encode() + b"\0" + path.read_bytes())
    _write_atomic(out / "DATA_HASH", h.hexdigest().encode())

