"""Property-based tests (hypothesis): each example batch becomes ONE
Spark job over many rows, comparing engine expressions against an
independent Python model of the reference semantics."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aces_nifi_processors_bundle_spark.functions.geotile import quadkey
from aces_nifi_processors_bundle_spark.functions.scalar import (
    epoch_millis_to_iso,
    java_parse_boolean,
)
from aces_nifi_processors_bundle_spark.pipeline.text import shingles

PROP = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@PROP
@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=8)),
        min_size=1,
        max_size=50,
    )
)
def test_java_parse_boolean_model(spark, values):
    """Boolean.parseBoolean: case-insensitive 'true' → true, else false
    (incl. null). Model: straight Python reimplementation."""
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r["b"] for r in df.select(java_parse_boolean(F.col("v")).alias("b")).collect()]
    want = [(v or "").lower() == "true" for v in values]
    assert got == want


@PROP
@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=50,
    )
)
def test_epoch_iso_rendering_model(spark, millis):
    """Epoch-millis → yyyy-MM-dd'T'HH:mm:ss.SSS'Z' in GMT-0, modeled by
    datetime in UTC (the reference's SimpleDateFormat + GMT-0 zone)."""
    df = spark.createDataFrame([(str(m),) for m in millis], "v string")
    got = [r["d"] for r in df.select(epoch_millis_to_iso(F.col("v")).alias("d")).collect()]
    want = [
        dt.datetime.fromtimestamp(m / 1000, tz=dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )
        for m in millis
    ]
    got_prefix = [g[:19] for g in got]
    assert got_prefix == want
    # millis part: exact field from integer arithmetic (python divmod)
    for g, m in zip(got, millis):
        assert g[20:23] == f"{m % 1000:03d}"


@PROP
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-89.0, max_value=89.0, allow_nan=False),
            st.floats(min_value=-180.0, max_value=179.999, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=1, max_value=10),
)
def test_quadkey_prefix_property(spark, points, zoom):
    """Bing quadkeys: len == zoom, digits in 0-3, and the zoom-z key is
    a PREFIX of the zoom-(z+1) key (tile containment)."""
    df = spark.createDataFrame(points, "lat double, lon double")
    out = df.select(
        quadkey(F.col("lon"), F.col("lat"), zoom).alias("q1"),
        quadkey(F.col("lon"), F.col("lat"), zoom + 1).alias("q2"),
    ).collect()
    for r in out:
        assert len(r["q1"]) == zoom and len(r["q2"]) == zoom + 1
        assert set(r["q1"]) <= set("0123")
        assert r["q2"].startswith(r["q1"])


@PROP
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(whitelist_categories=["Ll", "Lu", "Nd"]),
                min_size=1,
                max_size=6,
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_shingles_model(spark, docs):
    """Word-3-gram shingles: n>=3 words → n-2 overlapping grams in
    order; shorter non-empty docs → one whole-text shingle;
    contentless (empty/whitespace) docs → the EMPTY array (a shared
    fallback shingle would pair every contentless doc with every
    other)."""
    texts = [" ".join(words) for words in docs]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["s"] for r in df.select(shingles(F.col("t")).alias("s")).collect()]
    for words, t, g in zip(docs, texts, got):
        if len(words) >= 3:
            want = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
        elif t.strip():
            want = [t.strip()]
        else:
            want = []
        assert g == want, (t, g, want)


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),      # query_id
            st.integers(min_value=0, max_value=200),    # neighbor_id
            st.integers(min_value=-1000, max_value=1000),  # score*1e3
        ),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=6),  # k
    st.booleans(),  # descending: cosine similarity, else a distance
)
def test_salted_topk_equals_python_model(spark, rows, k, descending):
    """_topk_per_query (salted two-phase agg) must equal the exact
    per-query top-k under the (value desc, neighbor_id asc) total order
    — or (value asc, neighbor_id asc) for a distance — the property
    that justifies replacing the window-function plan."""
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        _topk_per_query,
    )

    # dedupe (query, neighbor) pairs — duplicates are impossible in the
    # real inputs (cross join / banded-dedup / one-cell-per-vector)
    seen = {}
    for q, n, s in rows:
        seen[(q, n)] = s / 1000.0
    data = [(q, n, s) for (q, n), s in seen.items()]
    col = "cos" if descending else "d2"
    df = spark.createDataFrame(data, f"query_id long, neighbor_id long, {col} double")
    df = df.repartition(8)  # arbitrary physical layout
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r[col])
        for r in _topk_per_query(df, k, col, descending).collect()
    }
    expect = {}
    by_q: dict = {}
    for q, n, s in data:
        by_q.setdefault(q, []).append((n, s))
    for q, pairs in by_q.items():
        ranked = sorted(
            pairs, key=lambda p: (-p[1] if descending else p[1], p[0])
        )[:k]
        for i, (n, s) in enumerate(ranked):
            expect[(q, i + 1)] = (n, s)
    assert got == expect


@PROP
@given(
    st.lists(
        st.integers(min_value=1, max_value=500), min_size=1, max_size=30
    ),
    st.integers(min_value=2, max_value=64),
    st.data(),
)
def test_chunk_documents_tiling_model(spark, word_counts, chunk_tokens, data):
    """For any doc, the chunks reconstruct it exactly: chunk 0 plus the
    post-overlap tail of every later chunk tiles the word sequence, and
    chunk starts advance by stride. Model: Python slicing."""
    from aces_nifi_processors_bundle_spark.pipeline.text import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=chunk_tokens - 1))
    stride = chunk_tokens - overlap
    rows = [
        (i, " ".join(f"d{i}w{j}" for j in range(n)))
        for i, n in enumerate(word_counts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap).collect()
    by_doc: dict[int, dict[int, str]] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
    for i, n in enumerate(word_counts):
        words = [f"d{i}w{j}" for j in range(n)]
        chunks = by_doc[i]
        import math

        want_n = max(1, math.ceil((n - overlap) / stride))
        assert sorted(chunks) == list(range(want_n))
        for c, text in chunks.items():
            assert text.split() == words[c * stride : c * stride + chunk_tokens]
        # tiling: chunk 0 + tails reconstructs the doc
        rebuilt = chunks[0].split()
        for c in range(1, want_n):
            rebuilt += chunks[c].split()[overlap:]
        assert rebuilt == words


@PROP
@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1,
             max_size=200, unique=True),
    st.floats(min_value=0.05, max_value=0.95),
)
def test_hash_split_model(spark, ids, train_w):
    """hash_split == the md5-threshold Python model, and splits
    partition the corpus exactly."""
    import hashlib

    from aces_nifi_processors_bundle_spark.pipeline.splits import hash_split

    rest = (1.0 - train_w) / 2
    weights = {"train": train_w, "val": rest, "test": rest}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["split"] for r in hash_split(df, weights=weights).collect()}

    def model(i):
        b = int(hashlib.md5(f"split{i}".encode()).hexdigest()[:15], 16) % 1_000_000
        acc = 0.0
        for name, w in weights.items():
            acc += w
            if b < int(round(acc * 1_000_000)):
                return name
        return name

    assert got == {i: model(i) for i in ids}


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # key
            st.integers(min_value=0, max_value=500),  # ts
            st.booleans(),                            # side: right?
        ),
        min_size=1,
        max_size=40,
    )
)
def test_asof_join_model(spark, rows):
    """asof_join vs a direct Python model: per left row, the right row
    with greatest ts <= left ts, greatest rid breaking ties."""
    from aces_nifi_processors_bundle_spark.operators.joins import asof_join

    left = [(i, k, t) for i, (k, t, r) in enumerate(rows) if not r]
    right = [(i, k, t, float(i)) for i, (k, t, r) in enumerate(rows) if r]
    if not left or not right:
        return
    ldf = spark.createDataFrame(left, "lid long, k long, ts long") \
        .withColumn("ts", F.timestamp_seconds(F.col("ts")))
    rdf = spark.createDataFrame(right, "rid long, k long, ts long, v double") \
        .withColumn("ts", F.timestamp_seconds(F.col("ts")))
    got = {
        r["lid"]: r["rid_matched"]
        for r in asof_join(ldf, rdf, on="k", values=["rid", "v"],
                           tiebreak="rid").collect()
    }
    for lid, k, t in left:
        cands = [(rt, rid) for rid, rk, rt, _ in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[lid] == want, (lid, k, t)


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # key
            st.integers(min_value=-100, max_value=100) # value
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=40),            # band
)
def test_range_join_model(spark, rows, band):
    """range_join vs the direct O(n²) model, arbitrary ints + band —
    covers negative values (floor-vs-div bucketing) and boundaries."""
    from aces_nifi_processors_bundle_spark.operators.joins import range_join

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, k long, x long")
    a = df.select("k", F.col("rid").alias("id_a"), F.col("x").alias("xa"))
    b = df.select("k", F.col("rid").alias("id_b"), F.col("x").alias("xb"))
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in range_join(a, b, "k", "xa", "xb", band)
        .filter(F.col("id_a") < F.col("id_b")).collect()
    )
    want = sorted(
        (i, j)
        for i, k1, v1 in data
        for j, k2, v2 in data
        if i < j and k1 == k2 and abs(v1 - v2) <= band
    )
    assert got == want


@PROP
@given(
    st.lists(
        st.text(alphabet="tlhe0in19 ", min_size=0, max_size=24),
        min_size=1,
        max_size=30,
    )
)
def test_bpe_replace_chain_equals_classic_model(spark, texts):
    """The delimiter-encoded replace chain must equal the classic
    min-rank-pair BPE loop on ARBITRARY words — the alphabet is biased
    toward merge-heavy chars including runs ('0','0' and 'l','l' are
    self-overlapping merges, the case a shared-boundary encoding got
    wrong). Model: the reference min-rank implementation."""
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        BPE_MERGES,
        BPE_PIECE_RE,
        bpe_token_count_expr,
    )
    from tests.test_pipeline import _classic_bpe_count

    import re as _re

    words = sorted(
        {w for t in texts for w in _re.findall(BPE_PIECE_RE, t.lower())}
    )
    if not words:
        return
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["nt"]
        for r in df.select("w", bpe_token_count_expr(F.col("w")).alias("nt")).collect()
    }
    for w in words:
        assert got[w] == _classic_bpe_count(w, BPE_MERGES), w


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),     # user
            st.integers(min_value=0, max_value=4000),  # seconds offset
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=10, max_value=600),          # gap_sec
    st.integers(min_value=30, max_value=900),          # chunk_sec
)
def test_sessionize_chunked_equals_unchunked_model(spark, evs, gap, chunk):
    """chunk_sec must be byte-identical to the single-sort path for
    ARBITRARY event sets, gaps, and chunk widths — including sessions
    spanning chunk boundaries, empty chunks, and ts ties."""
    from aces_nifi_processors_bundle_spark.pipeline.reports import sessionize

    rows = [
        (i, u, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s))
        for i, (u, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    base = sorted(
        map(tuple, sessionize(df, gap_sec=gap, tie_col="event_id").collect())
    )
    got = sorted(
        map(
            tuple,
            sessionize(df, gap_sec=gap, tie_col="event_id",
                       chunk_sec=chunk).collect(),
        )
    )
    assert got == base


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # user
            st.integers(min_value=0, max_value=2),     # step index
            st.integers(min_value=0, max_value=500),   # seconds offset
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=5, max_value=120),           # window_sec
)
def test_funnel_restart_greedy_equals_dp_model(spark, evs, win):
    """The latest-completion-dominates greedy must equal the full
    interval DP (reachability via ANY in-window subsequence) on
    arbitrary event sequences — ties, re-anchors, dense windows."""
    from aces_nifi_processors_bundle_spark.pipeline.reports import (
        _funnel_times_restart,
    )
    from tests.test_pipeline import _restart_reachable_dp

    steps = ["s0", "s1", "s2"]
    rows = [
        (u, steps[si], dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s))
        for (u, si, s) in evs
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r["user_id"]: [r[f"_s{i}"] is not None for i in range(3)]
        for r in _funnel_times_restart(
            df, steps, "user_id", "event_type", "ts", win
        ).collect()
    }
    per_user: dict = {}
    for u, si, s in evs:
        us = int(
            (dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)).timestamp() * 1_000_000
        )
        per_user.setdefault(u, []).append((us, si))
    for u, lst in per_user.items():
        want = _restart_reachable_dp(sorted(lst), 3, win * 1_000_000)
        assert got[u] == want, (u, got[u], want)


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.integers(min_value=0, max_value=10_000),  # ts offset sec
            st.integers(min_value=-10_000, max_value=10_000),  # cents
        ),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([0.25, 0.5, 0.75]),
)
def test_ewma_fold_model(spark, rows, alpha):
    """EWMA fold vs a straight Python iteration of the same
    recurrence y = y*(1-a) + x*a in (ts, tie) order — the doubles must
    match EXACTLY (same IEEE sequence), not approximately."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import ewma_last

    df = spark.createDataFrame(
        [(i, k, t, c / 100.0) for i, (k, t, c) in enumerate(rows)],
        "event_id long, key long, off long, value double",
    ).withColumn("ts", F.timestamp_seconds(F.col("off")))
    got = {
        r["key"]: (r["n_points"], r["ewma"])
        for r in ewma_last(df, "key", "ts", "value", alpha, "event_id").collect()
    }
    series: dict[int, list] = {}
    for i, (k, t, c) in enumerate(rows):
        series.setdefault(k, []).append((t, i, c / 100.0))
    for k, lst in series.items():
        lst.sort()
        y = lst[0][2]
        for _, _, x in lst[1:]:
            y = y * (1.0 - alpha) + x * alpha
        assert got[k] == (len(lst), y), (k, got[k], y)


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group
            st.integers(min_value=-500, max_value=500),  # cents
        ),
        min_size=2,
        max_size=40,
    ),
    st.sampled_from([1, 2, 3]),
)
def test_anomaly_flags_model(spark, rows, k):
    """Exact decimal |z| > k flag vs a Fraction-arithmetic reference
    (no floats on either side of the comparison)."""
    from fractions import Fraction

    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        anomaly_flags,
    )

    df = spark.createDataFrame(
        [(i, str(g), c / 100.0) for i, (g, c) in enumerate(rows)],
        "event_id long, event_type string, value double",
    )
    got = sorted(
        r["event_id"] for r in anomaly_flags(df, "event_type", "value", k=k).collect()
    )
    groups: dict[str, list] = {}
    for i, (g, c) in enumerate(rows):
        groups.setdefault(str(g), []).append((i, c))
    want = []
    for g, lst in groups.items():
        n = len(lst)
        if n < 2:
            continue
        s1 = sum(c for _, c in lst)
        s2 = sum(c * c for _, c in lst)
        for i, c in lst:
            mean_dev_sq = Fraction(n * c - s1, n) ** 2
            var = Fraction(n * s2 - s1 * s1, n * (n - 1))
            if mean_dev_sq > k * k * var:
                want.append(i)
    assert got == sorted(want)


@PROP
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=7),
        min_size=2,
        max_size=14,
        unique=True,
    ),
    st.sampled_from([1, 2]),
)
def test_edit_distance_join_model(spark, strings, k):
    """Deletion-neighborhood blocking + levenshtein verify vs the
    brute-force DP over a tiny alphabet (dense near-matches — the
    regime where missed blocking keys would show immediately)."""
    from aces_nifi_processors_bundle_spark.pipeline.strings import (
        edit_distance_join,
    )

    df = spark.createDataFrame(list(enumerate(strings)), "id long, s string")
    got = sorted(
        (r["id_1"], r["id_2"], r["dist"])
        for r in edit_distance_join(df, "id", "s", k=k).collect()
    )
    assert got == _brute_ed_pairs(strings, k)


def _brute_ed_pairs(strings, k):
    import itertools

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    return sorted(
        (i, j, ed(s, t))
        for (i, s), (j, t) in itertools.combinations(enumerate(strings), 2)
        if ed(s, t) <= k
    )


def test_cusum_closed_form_matches_sequential_fold(spark):
    """y_i = S_i - min(0, min prefix S) must equal the literal
    max(0, y+d) recurrence on random series."""
    import datetime as dt
    import random

    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        cusum_flags,
    )

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in ("a", "b"):
        for i in range(60):
            rows.append(
                (k, len(rows), t0 + dt.timedelta(hours=i),
                 round(rng.uniform(0, 100), 2))
            )
    df = spark.createDataFrame(
        rows, "k string, event_id long, ts timestamp, value double"
    )
    cut = dt.datetime(2024, 1, 1, 20)  # first 20 rows per key train
    h, slack = 300, 10
    got = {
        (r["k"], r["event_id"]): r["cusum_scaled"]
        for r in cusum_flags(
            df, "k", "ts", "value", "2024-01-01 20:00:00", h, slack
        ).collect()
    }
    # reference: literal sequential fold in integer cents
    want = {}
    for k in ("a", "b"):
        tr = [round(v * 100) for kk, _, ts, v in rows
              if kk == k and ts < cut]
        nt, st = len(tr), sum(tr)
        y = 0
        for kk, eid, ts, v in sorted(
            (r for r in rows if r[0] == k and r[2] >= cut),
            key=lambda r: (r[2], r[1]),
        ):
            d = nt * round(v * 100) - st - nt * slack
            y = max(0, y + d)
            if y > nt * h:
                want[(k, eid)] = y
    assert got == want
    assert want  # the case must actually flag something


def test_cusum_chunked_equals_sequential(spark):
    """Chunk composition must be bit-identical (decimal addition is
    associative) — including chunks that start mid-excursion and keys
    whose minimum prefix sits in an earlier chunk."""
    import datetime as dt
    import random

    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        cusum_flags,
    )

    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in ("a", "b", "c"):
        for i in range(200):
            rows.append(
                (k, len(rows), t0 + dt.timedelta(minutes=13 * i),
                 round(rng.uniform(0, 80), 2))
            )
    df = spark.createDataFrame(
        rows, "k string, event_id long, ts timestamp, value double"
    )
    kw = dict(h_cents=500, slack_cents=5)
    seq = sorted(
        tuple(r) for r in cusum_flags(
            df, "k", "ts", "value", "2024-01-01 08:00:00", **kw
        ).collect()
    )
    for chunk_sec in (3600, 7200, 999999):
        chk = sorted(
            tuple(r) for r in cusum_flags(
                df, "k", "ts", "value", "2024-01-01 08:00:00",
                chunk_sec=chunk_sec, **kw
            ).collect()
        )
        assert chk == seq, f"chunk_sec={chunk_sec} diverged"
    assert seq  # the case must flag something


def test_group_quantiles_matches_sorted_reference(spark):
    """Rank walk == rank-ceil(n*p) order statistic on random data with
    heavy ties, including boundary cases where n*p is an integer."""
    import random

    from aces_nifi_processors_bundle_spark.pipeline.stats import (
        group_quantiles,
    )

    rng = random.Random(3)
    rows = []
    # group sizes chosen so n*p hits exact integers for several ps
    for g, size in (("a", 20), ("b", 100), ("c", 7), ("d", 1)):
        for i in range(size):
            rows.append((g, round(rng.choice([1.0, 2.5, 2.5, 7.25, 9.0]), 2)))
    df = spark.createDataFrame(rows, "g string, value double")
    ps = (0.25, 0.5, 0.75, 0.95)
    got = {
        r["g"]: r for r in group_quantiles(df, "g", "value", ps).collect()
    }
    byg = {}
    for g, v in rows:
        byg.setdefault(g, []).append(round(v * 100))
    for g, vals in byg.items():
        vals.sort()
        n = len(vals)
        assert got[g]["n"] == n
        for p in ps:
            r = (n * int(round(p * 100)) + 99) // 100  # ceil(n*p) exactly
            assert got[g][f"p{int(round(p*100))}"] == vals[r - 1], (g, p)


def test_group_quantiles_rejects_bad_p(spark):
    import pytest

    from aces_nifi_processors_bundle_spark.pipeline.stats import (
        group_quantiles,
    )

    df = spark.createDataFrame([("a", 1.0)], "g string, value double")
    with pytest.raises(ValueError, match="hundredths"):
        group_quantiles(df, "g", "value", ps=(0.333,))


@PROP
@given(
    st.lists(st.text(min_size=0, max_size=6), min_size=1, max_size=60),
    st.integers(min_value=2, max_value=5),
)
def test_hll_partition_invariance(spark, keys, n_parts):
    """Splitting the data arbitrarily, sketching each part, and
    merging == sketching everything at once — the semilattice law the
    daily-rollup pattern depends on, for ANY key multiset."""
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    rows = [(i % n_parts, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, ["part", "k"])
    merged = hll_estimate(hll_merge(hll_sketch(df, "k", ["part"]), []), [])
    direct = hll_estimate(hll_sketch(df, "k"), [])
    assert merged.collect() == direct.collect()


@PROP
@given(st.lists(st.text(min_size=1, max_size=4), min_size=1, max_size=50))
def test_cms_upper_bounds_every_true_count(spark, keys):
    from pyspark.sql import functions as F

    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    exact = df.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    est = cms_estimate(cms_build(df, "k"), exact.select("k"), "k")
    for r in est.join(exact, "k").collect():
        assert r["est"] >= r["c"]


@PROP
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_characters="\n", blacklist_categories=("Cs",)
                ),
                max_size=12,
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_line_dedup_identity_when_threshold_unreachable(spark, docs):
    """With min_count above the corpus line count nothing can be
    dropped, so split->mark->reassemble must return every document's
    text VERBATIM (any unicode, any whitespace, empty lines included)
    — the reassembly-fidelity law."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    total_lines = sum(len(lines) for lines in docs)
    out = line_dedup(df, min_count=total_lines + 1)
    got = {r["doc_id"]: r for r in out.collect()}
    for i, lines in enumerate(docs):
        assert got[i]["new_text"] == "\n".join(lines)
        assert got[i]["dropped_lines"] == 0


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),   # value cents
            st.integers(min_value=0, max_value=9),    # weight
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_model(spark, pairs):
    """weighted_median == the brute-force model: smallest value whose
    cumulative weight covers half the total (lower weighted median)."""
    from aces_nifi_processors_bundle_spark.pipeline.stats import weighted_median

    df = spark.createDataFrame(
        [("g", c / 100.0, w) for c, w in pairs], "g string, v double, w int"
    )
    out = weighted_median(df, "g", "v", "w").collect()
    total = sum(w for _, w in pairs)
    if total == 0:
        assert out == []
        return
    hist: dict[int, int] = {}
    for c, w in pairs:
        hist[c] = hist.get(c, 0) + w
    cum = 0
    want = None
    for c in sorted(hist):
        cum += hist[c]
        if 2 * cum >= total:
            want = c
            break
    assert len(out) == 1
    assert out[0]["total_w"] == total
    assert out[0]["wmedian_cents"] == want


@PROP
@given(
    st.lists(
        st.integers(min_value=0, max_value=15),  # value cents, tie-rich
        min_size=2,
        max_size=40,
    )
)
def test_rank_normalize_model(spark, cents):
    """rank_normalize == (min_rank - 1)/(n - 1) computed in Python
    with ties sharing their minimum rank."""
    from aces_nifi_processors_bundle_spark.pipeline.stats import rank_normalize

    df = spark.createDataFrame(
        [(i, "g", c / 100.0) for i, c in enumerate(cents)],
        "event_id long, g string, v double",
    )
    out = {r["event_id"]: r["pct_rank"]
           for r in rank_normalize(df, "g", "v", "event_id").collect()}
    n = len(cents)
    s = sorted(cents)
    for i, c in enumerate(cents):
        min_rank = s.index(c) + 1
        assert out[i] == round((min_rank - 1) / (n - 1), 6)


@PROP
@given(
    st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6),
            min_size=0, max_size=30),
    st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6),
            min_size=0, max_size=30),
)
def test_kmv_set_relations_exact_below_k(spark, sa, sb):
    """With both sets under k the union sample is the whole universe:
    jaccard and intersection are EXACT for arbitrary overlaps."""
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        kmv_set_relations,
        kmv_sketch,
    )
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("k", StringType())])
    a = spark.createDataFrame([(x,) for x in sa], schema)
    b = spark.createDataFrame([(x,) for x in sb], schema)
    r = kmv_set_relations(
        kmv_sketch(a, "k", k=64), kmv_sketch(b, "k", k=64), k=64
    ).collect()[0]
    union, inter = sa | sb, sa & sb
    assert r["n_union_sample"] == len(union)
    assert r["est_union"] == float(len(union))
    if union:
        assert r["jaccard"] == round(len(inter) / len(union), 6)
        assert r["est_intersection"] == round(
            round(len(inter) / len(union), 6) * float(len(union)), 6
        )
    else:
        assert r["jaccard"] == 0.0 and r["est_intersection"] == 0.0


@PROP
@given(
    vals=st.lists(
        st.integers(min_value=-10_000, max_value=10_000),
        min_size=1, max_size=300,
    ),
    m=st.sampled_from([4, 16]),
)
def test_cluster_digest_median_rank_error_bound(spark, vals, m):
    """Property: a single-level m-cluster digest's p50 estimate lies
    between the true order statistics at ranks target ± ceil(n/m) —
    the equal-weight cluster width bounds the rank error, whatever the
    value distribution (duplicates, skew, negatives)."""
    import math as _math

    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        cluster_digest,
        digest_quantiles,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"]
    )
    cent = cluster_digest(df, "v", [], m=m, tie_col="id", allow_global_sort=True)
    out = digest_quantiles(cent, [], qs=(0.5,)).collect()[0]
    n = len(vals)
    assert out["n"] == n
    svals = sorted(vals)
    target = _math.ceil(0.5 * n)
    width = -(-n // m)  # ceil(n/m)
    lo = svals[max(0, target - 1 - width)]
    hi = svals[min(n - 1, target - 1 + width)]
    assert lo <= out["q50"] <= hi


def _brute_substring_runs(docs, k, min_tokens):
    """Independent Python model of substring_matches: for every doc
    pair and every alignment offset, walk the maximal runs of
    position-wise equal tokens; report runs >= min_tokens."""
    toks = {i: t.split() for i, t in docs.items()}
    out = set()
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            wa, wb = toks[a], toks[b]
            for diag in range(-(len(wb)), len(wa) + 1):
                run = 0
                start = None
                # positions where wa[p] aligns wb[p - diag]
                for p in range(max(0, diag), min(len(wa), len(wb) + diag)):
                    if wa[p] == wb[p - diag]:
                        if run == 0:
                            start = p
                        run += 1
                    else:
                        if run >= min_tokens:
                            out.add((a, b, start, start - diag, run))
                        run = 0
                if run >= min_tokens:
                    out.add((a, b, start, start - diag, run))
    return out


@PROP
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]),  # tiny alphabet → matches
            min_size=0,
            max_size=14,
        ),
        min_size=2,
        max_size=5,
    )
)
def test_substring_matches_model(spark, token_lists):
    """substring_matches vs an independent brute-force alignment walk
    over every (pair, diagonal): identical maximal-run sets. The tiny
    token alphabet forces dense anchor collisions, repeated grams
    within docs, and overlapping diagonals — the hard cases for the
    islands-and-gaps formulation."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        substring_matches,
    )

    k, min_tokens = 3, 4
    docs = {i: " ".join(ts) for i, ts in enumerate(token_lists)}
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"], r["pos_a"], r["pos_b"], r["match_tokens"])
        for r in substring_matches(
            df, k=k, min_tokens=min_tokens, hashed=False
        ).collect()
    }
    want = _brute_substring_runs(docs, k, min_tokens)
    assert got == want


@PROP
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]),
            min_size=0,
            max_size=14,
        ),
        min_size=2,
        max_size=5,
    )
)
def test_remove_duplicate_spans_model(spark, token_lists):
    """remove_duplicate_spans vs the independent model: cut the
    brute-force runs' id_b-side intervals (merged) from each doc,
    rebuild space-joined; untouched docs byte-identical."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        remove_duplicate_spans,
    )

    k, min_tokens = 3, 4
    docs = {i: " ".join(ts) for i, ts in enumerate(token_lists)}
    runs = _brute_substring_runs(docs, k, min_tokens)
    cut: dict[int, set[int]] = {}
    for _a, b, _pa, pb, mt in runs:
        cut.setdefault(b, set()).update(range(pb, pb + mt))
    want = {}
    for i, t in docs.items():
        ws = t.split()
        removed = cut.get(i, set())
        kept = [w for p, w in enumerate(ws) if p not in removed]
        new_text = " ".join(kept) if i in cut else t
        want[i] = (len(ws), len(removed), new_text)
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["removed_tokens"], r["new_text"])
        for r in remove_duplicate_spans(
            df, k=k, min_tokens=min_tokens
        ).collect()
    }
    assert got == want


@PROP
@given(
    st.lists(
        st.lists(
            st.sampled_from(["line one", "line two", "x", "", "  "]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_trim_repeated_lines_model(spark, docs_lines):
    """trim_repeated_lines vs the Python model: first occurrence of
    each non-blank trimmed line survives, blanks are structural, the
    rebuild preserves original bytes and order."""
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        trim_repeated_lines,
    )

    docs = {i: "\n".join(ls) for i, ls in enumerate(docs_lines)}
    want = {}
    for i, t in docs.items():
        lines = t.split("\n")
        seen: set[str] = set()
        kept_lines = []
        dropped = 0
        for ln in lines:
            tl = ln.strip()
            if tl and tl in seen:
                dropped += 1
            else:
                if tl:
                    seen.add(tl)
                kept_lines.append(ln)
        want[i] = (len(kept_lines), dropped, "\n".join(kept_lines))
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["kept_lines"], r["dropped_lines"], r["new_text"])
        for r in trim_repeated_lines(df).collect()
    }
    assert got == want


@PROP
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb"]),  # 2-token alphabet: dense
            min_size=0,                      # periodic self-repeats
            max_size=16,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_intra_doc_repeats_model(spark, token_lists):
    """intra_doc_repeats + trim vs an independent per-diagonal walk:
    identical maximal self-run sets, and the trim equals cutting the
    merged later-occurrence intervals."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        intra_doc_repeats,
        trim_intra_doc_repeats,
    )

    k, min_tokens = 3, 4
    docs = {i: " ".join(ts) for i, ts in enumerate(token_lists)}
    want_runs = set()
    cut: dict[int, set[int]] = {}
    for i, t in docs.items():
        ws = t.split()
        for diag in range(1, len(ws)):
            run, start = 0, None
            for p in range(diag, len(ws)):
                if ws[p] == ws[p - diag]:
                    if run == 0:
                        start = p - diag
                    run += 1
                else:
                    if run >= min_tokens:
                        want_runs.add((i, start, start + diag, run))
                        cut.setdefault(i, set()).update(
                            range(start + diag, start + diag + run)
                        )
                    run = 0
            if run >= min_tokens:
                want_runs.add((i, start, start + diag, run))
                cut.setdefault(i, set()).update(
                    range(start + diag, start + diag + run)
                )
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got_runs = set(
        map(tuple, intra_doc_repeats(df, k=k, min_tokens=min_tokens).collect())
    )
    assert got_runs == want_runs
    got_trim = {
        r["doc_id"]: (r["removed_tokens"], r["new_text"])
        for r in trim_intra_doc_repeats(
            df, k=k, min_tokens=min_tokens
        ).collect()
    }
    for i, t in docs.items():
        ws = t.split()
        removed = cut.get(i, set())
        kept = [w for p, w in enumerate(ws) if p not in removed]
        expect = " ".join(kept) if i in cut else t
        assert got_trim[i] == (len(removed), expect)


@PROP
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=0,
            max_size=10,
        ),
        min_size=2,
        max_size=5,
    )
)
def test_containment_pairs_model(spark, token_lists):
    """containment_pairs vs the set-arithmetic Python model: same
    pairs, same containment and jaccard values (one IEEE division
    each), candidates exact (any pair with C >= t shares a shingle)."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        containment_pairs,
    )

    k, t = 2, 0.5
    docs = {i: ts for i, ts in enumerate(token_lists)}

    def sh(ts):
        if len(ts) >= k:
            return {" ".join(ts[i:i + k]) for i in range(len(ts) - k + 1)}
        joined = " ".join(ts)
        return {joined} if joined else set()

    want = {}
    ids = sorted(docs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            sa, sb = sh(docs[a]), sh(docs[b])
            inter = len(sa & sb)
            if not inter:
                continue
            c = inter / min(len(sa), len(sb))
            j = inter / len(sa | sb)
            if c >= t:
                want[(a, b)] = (c, j)
    df = spark.createDataFrame(
        [(i, " ".join(ts)) for i, ts in docs.items()],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(df, k=k, threshold=t).collect()
    }
    assert got == want
