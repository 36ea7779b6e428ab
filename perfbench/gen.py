"""Seeded input generators for the benchmark workloads.

Every table is written as parquet under the `sources.registry.TABLES`
name and schema, so registry queries and their DuckDB oracles read it
unchanged. The same seed always gives byte-identical rows; the program
under test only ever sees the generated directory.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EVENT_TYPES = ["view", "click", "scroll", "search", "add_to_cart", "purchase",
               "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "fr", "de", "es", "zh"]


@dataclass(frozen=True)
class FlowSizes:
    events: int = 500_000
    orders: int = 750_000
    customers: int = 75_000
    days: int = 90
    event_type_zipf: float = 1.0
    value_log_sigma: float = 1.0


@dataclass(frozen=True)
class CorpusSizes:
    documents: int = 5_000
    vocab: int = 5_000
    word_zipf: float = 1.0
    median_words: int = 60
    max_words: int = 1_000
    exact_dup_frac: float = 0.05
    near_dup_frac: float = 0.15
    near_dup_edit: tuple[float, float] = (0.05, 0.10)
    near_dup_cluster: tuple[int, int] = (2, 20)
    # Each template is carried by more documents than
    # q_dedup_ngram_jaccard's max_df=20, so its shingles are the
    # corpus's hottest and the df prune has real work to do.
    boilerplate_templates: int = 2
    boilerplate_docs: int = 30  # per template


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name)."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def _zipf_weights(n: int, alpha: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** alpha
    return w / w.sum()


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts_us(values: np.ndarray) -> pa.Array:
    # zone-less micros, the fixtures' encoding; load_table and the
    # DuckDB oracle both read them as UTC wall-clock
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def gen_flow(out_dir: str, seed: int, s: FlowSizes) -> dict:
    """events, orders and customer for the `flow_batch` workload."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "flow")
    n = s.events
    ts = np.sort(r.integers(EPOCH_2024_US, EPOCH_2024_US + s.days * DAY_US, n))
    etype = r.choice(len(EVENT_TYPES), n, p=_zipf_weights(len(EVENT_TYPES), s.event_type_zipf))
    value = np.round(r.lognormal(3.5, s.value_log_sigma, n), 2)
    k = r.integers(0, 100, n)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us(ts),
        "user_id": pa.array(r.integers(0, max(n // 50, 1), n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    }))
    m, c = s.orders, s.customers
    day0 = 8035 * DAY_US  # 1992-01-01
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(m, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, c, m).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[r.integers(0, 3, m)]),
        "o_totalprice": pa.array(np.round(r.uniform(800.0, 500_000.0, m), 2)),
        "o_orderdate": _ts_us(day0 + r.integers(0, 2400, m) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[r.integers(0, 5, m)]),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(r.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[r.integers(0, 5, c)]),
    }))
    return {"rows": {"events": n, "orders": m, "customer": c}, **asdict(s)}


def _vocab(r: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        w = "".join(letters[r.integers(0, 26, int(r.integers(2, 10)))])
        words.setdefault(w, None)
    return list(words)


def gen_corpus(out_dir: str, seed: int, s: CorpusSizes) -> dict:
    """`documents` for the `llm_curation` workload: Zipf words,
    lognormal lengths, planted exact and near duplicates, and a
    boilerplate flood that makes some shingles hot."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "corpus")
    vocab = np.array(_vocab(r, s.vocab), dtype=object)
    p = _zipf_weights(s.vocab, s.word_zipf)
    n = s.documents
    n_exact = int(n * s.exact_dup_frac)
    n_near = int(n * s.near_dup_frac)
    n_boiler = s.boilerplate_templates * s.boilerplate_docs
    n_base = n - n_exact - n_near - n_boiler

    def words(k: int) -> list[str]:
        return list(vocab[r.choice(s.vocab, k, p=p)])

    def length() -> int:
        return int(np.clip(r.lognormal(np.log(s.median_words), 0.8), 5, s.max_words))

    base = [words(length()) for _ in range(n_base)]
    docs = [" ".join(w) for w in base]
    near = 0
    while near < n_near:
        seed_doc = base[int(r.integers(0, n_base))]
        size = int(r.integers(s.near_dup_cluster[0], s.near_dup_cluster[1] + 1))
        for _ in range(min(size - 1, n_near - near)):
            edited = list(seed_doc)
            frac = r.uniform(*s.near_dup_edit)
            n_edit = max(1, int(round(frac * len(edited))))
            pos = r.choice(len(edited), min(n_edit, len(edited)), replace=False)
            for i, w in zip(pos, words(len(pos))):
                edited[int(i)] = w
            docs.append(" ".join(edited))
            near += 1
    docs.extend(docs[int(i)] for i in r.integers(0, n_base, n_exact))
    templates = [" ".join(words(s.median_words)) for _ in range(s.boilerplate_templates)]
    for i in range(n_boiler):
        docs.append(templates[i % len(templates)] + " " + " ".join(words(3)))
    order = r.permutation(len(docs))
    text = [docs[int(i)] for i in order]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(len(text), dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), len(text))]),
        "source": pa.array([f"src{int(x)}" for x in r.integers(0, 20, len(text))]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }))
    lengths = np.array([t.count(" ") + 1 for t in text])
    return {
        "rows": {"documents": len(text)},
        "planted": {"exact_dups": n_exact, "near_dups": n_near, "boilerplate": n_boiler},
        "words_p50": int(np.median(lengths)), "words_max": int(lengths.max()),
        "shingle_df": shingle_df_summary(text),
        **asdict(s),
    }


def shingle_df_summary(text: list[str], k: int = 3, max_df: int = 20) -> dict:
    """Document frequency of word k-gram shingles (the engine's
    `pipeline.text.shingles`, k=3): the largest df, how many shingles
    exceed q_dedup_ngram_jaccard's max_df, and sum(df^2), the unpruned
    self-join's output size."""
    df: dict[tuple, int] = {}
    for t in text:
        w = t.split()
        for g in {tuple(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}:
            df[g] = df.get(g, 0) + 1
    v = np.fromiter(df.values(), dtype=np.int64)
    return {"max": int(v.max()), "over_max_df": int((v > max_df).sum()),
            "sum_df2": int((v * v).sum()),
            "sum_df2_over_max_df": int((v[v > max_df] ** 2).sum())}


def content_hash(out_dir: str) -> str:
    """sha256 over every generated file's bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


def describe(props: dict) -> str:
    return json.dumps(props, sort_keys=True)
