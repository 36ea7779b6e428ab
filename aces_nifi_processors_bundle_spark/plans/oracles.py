"""DuckDB oracle SQL for every query in `queries.py`.

Each string runs on DuckDB 1.0 against pre-registered views (region
nation customer supplier part orders lineitem events documents
embeddings) over the same parquet the Spark query read. Column aliases
match the Spark output exactly (driver compare sorts by column name and
hashes values).
"""

from __future__ import annotations

ORACLES: dict[str, str] = {}


def oracle(name: str):
    def register(sql: str) -> str:
        ORACLES[name] = sql
        return sql
    return register


oracle("q_bin_flagship")(
    """
WITH bins AS (
  SELECT 'byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d') AS name FROM events
  UNION ALL
  SELECT 'byType.' || event_type FROM events
  UNION ALL
  SELECT 'dayType.byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d')
         || '|byType.' || event_type FROM events
)
SELECT name, CAST(count(*) AS BIGINT) AS total
FROM bins GROUP BY name ORDER BY name
"""
)



# The flow-assembled flagship must match the identical oracle.
ORACLES["q_flow_flagship"] = ORACLES["q_bin_flagship"]

oracle("q_stream_bin_windowed")(
    """
WITH bins AS (
  SELECT date_trunc('day', ts) AS d,
         'byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d') AS name
  FROM events
  UNION ALL
  SELECT date_trunc('day', ts), 'byType.' || event_type FROM events
  UNION ALL
  SELECT date_trunc('day', ts),
         'dayType.byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d')
         || '|byType.' || event_type
  FROM events
),
mx AS (SELECT max(ts) AS m FROM events)
-- append-mode emission: a 1-day window is final once the watermark
-- (max event time - 1 h) has passed its end
SELECT strftime(d, '%Y-%m-%d') AS day, name, CAST(count(*) AS BIGINT) AS total
FROM bins, mx
WHERE d + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
GROUP BY d, name ORDER BY day, name
"""
)

oracle("q_profile_values")(
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(value), 6) AS mean,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""
)

oracle("q_stream_bin_sliding")(
    """
WITH e AS (SELECT ts, 'byType.' || event_type AS name FROM events),
wins AS (
  -- the two epoch-aligned 12h-grid window starts covering each event;
  -- make_timestamp keeps everything TZ-naive (to_timestamp would
  -- render in the host zone)
  SELECT make_timestamp(CAST(floor(epoch(ts)/43200) AS BIGINT)*43200*1000000) AS w_start, name FROM e
  UNION ALL
  SELECT make_timestamp((CAST(floor(epoch(ts)/43200) AS BIGINT)*43200 - 43200)*1000000), name FROM e
),
mx AS (SELECT max(ts) AS m FROM events)
SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS w_start, name,
       CAST(count(*) AS BIGINT) AS total
FROM wins, mx
WHERE w_start + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
GROUP BY 1, 2 ORDER BY 1, 2
"""
)

oracle("q_stream_sessions")(
    """
WITH e AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS ub, ts FROM events
),
marked AS (
  SELECT ub, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY ub ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY ub ORDER BY ts) >= INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
sess AS (
  SELECT ub, ts,
         SUM(new_s) OVER (PARTITION BY ub ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT ub, sid, min(ts) AS s_start, max(ts) AS s_last,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
),
mx AS (SELECT max(ts) AS m FROM events)
-- append-mode emission: a session (end = last event + gap) is final
-- once the watermark (max event time - 1 h) has passed it
SELECT ub AS user_bucket,
       strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(s_last + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events
FROM agg, mx
WHERE s_last + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
ORDER BY user_bucket, session_start
"""
)

oracle("q_stream_first_seen")(
    """
SELECT DISTINCT CAST(user_id % 1000 AS BIGINT) AS user_bucket, event_type
FROM events ORDER BY user_bucket, event_type
"""
)

oracle("q_stream_first_seen_stateful")(
    """
SELECT DISTINCT CAST(user_id % 1000 AS BIGINT) AS user_bucket, event_type
FROM events ORDER BY user_bucket, event_type
"""
)

oracle("q_attrs_typed")(
    """
SELECT CAST(event_id AS VARCHAR) AS event_id,
       CASE WHEN event_id % 7 = 0 THEN '' ELSE event_type END AS etype,
       (event_id % 3 = 0 OR event_id % 3 = 1) AS flag,
       CAST(json_extract_string(props, '$.k') AS INT) AS n,
       CAST(floor(value * 100) AS DOUBLE) AS score100,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS epoch_ms,
       CAST((user_id % 10) + 0.5 + (user_id % 7) + 0.25 AS DOUBLE) AS dbl_arr,
       CAST((user_id % 10) + (user_id % 5) + 3 AS BIGINT) AS int_arr
FROM events
"""
)

oracle("q_attrs_failure_routing")(
    """
SELECT 'success' AS relationship,
       CAST((SELECT count(*) FROM events WHERE event_id % 10 <> 0) AS BIGINT) AS n
UNION ALL
SELECT 'failure',
       CAST((SELECT count(*) FROM events WHERE event_id % 10 = 0) AS BIGINT)
"""
)

oracle("q_bin_numeric")(
    """
WITH bins AS (
  SELECT 'byValue.L0.' || CAST(CAST(floor(value/1000.0)*1000 AS BIGINT) AS VARCHAR) AS name FROM events
  UNION ALL
  SELECT 'byValue.L1.' || CAST(CAST(floor(value/100.0)*100 AS BIGINT) AS VARCHAR) FROM events
  UNION ALL
  SELECT 'byValue.L2.' || CAST(CAST(floor(value/10.0)*10 AS BIGINT) AS VARCHAR) FROM events
  UNION ALL
  SELECT 'byValue.L3.' || CAST(CAST(floor(value/1.0)*1 AS BIGINT) AS VARCHAR) FROM events
)
SELECT name, CAST(count(*) AS BIGINT) AS total FROM bins GROUP BY name ORDER BY name
"""
)


def _geotile_zoom_sql(z: int) -> str:
    """One UNION branch per zoom of the quadkey oracle — formula mirrors
    functions/geotile.py term-for-term (same literal order → same IEEE)."""
    n = 2**z
    if z == 0:
        # Null coords skip every zoom incl. 0 (binning.py GeoTileBinner
        # prepare nulls the helper) — mirror the guard here.
        return (
            "SELECT 'byTile.0.' AS name FROM geo "
            "WHERE lat IS NOT NULL AND lon IS NOT NULL"
        )
    digits = " || ".join(
        f"CAST(((xt >> {z - i}) & 1) + 2 * ((yt >> {z - i}) & 1) AS VARCHAR)"
        for i in range(1, z + 1)
    )
    return f"""
  SELECT 'byTile.{z}.' || {digits} AS name FROM (
    SELECT CAST(greatest(0, least(floor((lon + 180.0) / 360.0 * {float(n)}), {n - 1})) AS BIGINT) AS xt,
           CAST(greatest(0, least(floor((1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * {float(n)}), {n - 1})) AS BIGINT) AS yt
    FROM (SELECT greatest(-85.05112878, least(lat, 85.05112878)) AS latc, lon FROM geo)
  )"""


oracle("q_bin_geotile")(
    "WITH geo AS (SELECT (value % 85.0) - 42.5 AS lat, "
    "CAST((user_id * 77) % 360 AS DOUBLE) - 180.0 AS lon FROM events),\n"
    "bins AS (\n"
    + "\n  UNION ALL\n".join(_geotile_zoom_sql(z) for z in range(0, 7))
    + "\n)\nSELECT name, CAST(count(*) AS BIGINT) AS total FROM bins "
    "GROUP BY name ORDER BY name"
)

oracle("q_bin_failure_routing")(
    """
SELECT 'bin' AS relationship,
       CAST(2 * (SELECT count(*) FROM events WHERE event_id % 10 <> 0) AS BIGINT) AS n
UNION ALL
SELECT 'original', CAST((SELECT count(*) FROM events) AS BIGINT)
UNION ALL
SELECT 'failure', CAST((SELECT count(*) FROM events WHERE event_id % 10 = 0) AS BIGINT)
"""
)

oracle("q_bin_filenames")(
    """
WITH bins AS (
  SELECT 'byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d') AS name FROM events
  UNION ALL
  SELECT 'byType.' || event_type FROM events
  UNION ALL
  SELECT 'dayType.byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d')
         || '|byType.' || event_type FROM events
)
SELECT name,
       'bin-' || name || '.json' AS filename,
       'application/json' AS "mime.type",
       CAST(count(*) AS BIGINT) AS total
FROM bins GROUP BY name
"""
)

oracle("q_bin_multiple_mode")(
    """
SELECT event_id,
       'byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d')
       || ';byType.' || event_type
       || ';dayType.byDay.DAY.' || strftime(date_trunc('day', ts), '%Y-%m-%d')
       || '|byType.' || event_type AS bins
FROM events
"""
)

oracle("q_security_marking")(
    """
SELECT o_orderkey,
  CASE o_orderkey % 5
    WHEN 0 THEN 'SECRET//ALPHA//NOFORN'
    WHEN 1 THEN 'TS//BRAVO//XYZ'
    WHEN 2 THEN 'UNCLASS'
    WHEN 3 THEN 'C//ALPHA//BRAVO//ABC//RELTO' END AS marking,
  CASE o_orderkey % 5
    WHEN 0 THEN 'SECRET' WHEN 1 THEN 'TOPSECRET'
    -- bare 'UNCLASS' still matches: the 'U' abbrev alternative
    -- captures and 'NCLASS' satisfies the [A-Za-z//]+ suffix —
    -- identical leftmost-alternation behavior in the Java regex
    WHEN 2 THEN 'UNCLASSIFIED' WHEN 3 THEN 'CONFIDENTIAL' END AS level,
  CASE o_orderkey % 5
    WHEN 0 THEN 'ALPHA' WHEN 1 THEN 'BRAVO'
    WHEN 2 THEN '' WHEN 3 THEN 'ALPHA,BRAVO' END AS compartments,
  CASE o_orderkey % 5
    WHEN 0 THEN '' WHEN 1 THEN 'XYZ'
    WHEN 2 THEN '' WHEN 3 THEN 'ABC' END AS releasabilities,
  CASE o_orderkey % 5
    WHEN 0 THEN 'NOFORN' WHEN 1 THEN 'RELTO'
    WHEN 2 THEN '' WHEN 3 THEN 'RELTO' END AS dissem
FROM orders WHERE o_orderkey % 5 <> 4
"""
)

oracle("q_partial_update")(
    """
WITH tgt AS (
  SELECT c_custkey, c_acctbal, CAST(c_custkey % 10 AS INT) AS visits,
         [c_mktsegment] AS tags, CAST(NULL AS TIMESTAMP) AS lastUpdated
  FROM customer
),
src AS (
  SELECT c_custkey, c_acctbal * 2 AS acct_new, 5 AS visits_inc,
         't' || CAST(c_custkey % 2 AS VARCHAR) AS tag
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 100000, 999.25, 7, 'tnew'
  FROM customer WHERE c_custkey % 7 = 0
),
matched AS (
  SELECT t.c_custkey,
         COALESCE(s.acct_new, t.c_acctbal) AS c_acctbal,
         CAST(t.visits + CASE WHEN s.c_custkey IS NOT NULL THEN s.visits_inc ELSE 0 END AS INT) AS visits,
         CASE WHEN s.c_custkey IS NOT NULL AND NOT list_contains(t.tags, s.tag)
              THEN list_append(t.tags, s.tag) ELSE t.tags END AS tags,
         CASE WHEN s.c_custkey IS NOT NULL THEN TIMESTAMP '2026-01-01 00:00:00' END AS lastUpdated
  FROM tgt t LEFT JOIN src s USING (c_custkey)
),
ins AS (
  SELECT s.c_custkey, s.acct_new AS c_acctbal, CAST(s.visits_inc AS INT) AS visits,
         [s.tag] AS tags, TIMESTAMP '2026-01-01 00:00:00' AS lastUpdated
  FROM src s LEFT JOIN tgt t USING (c_custkey) WHERE t.c_custkey IS NULL
)
SELECT c_custkey, c_acctbal, visits,
       array_to_string(list_sort(tags), ',') AS tags,
       strftime(lastUpdated, '%Y-%m-%d %H:%M:%S') AS lastUpdated
FROM (SELECT * FROM matched UNION ALL SELECT * FROM ins)
"""
)

oracle("q_partial_update_routing")(
    """
SELECT 'success' AS relationship,
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey % 3 = 0
               AND NOT (c_custkey % 6 = 0 OR c_acctbal * 2 = c_acctbal)) AS BIGINT) AS n
UNION ALL
SELECT 'success-unmodified',
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey % 3 = 0
               AND (c_custkey % 6 = 0 OR c_acctbal * 2 = c_acctbal)) AS BIGINT)
"""
)

oracle("q_partial_update_many")(
    """
WITH src AS (
  -- the combined view of the two-row-per-key batch: $set resolves to
  -- the seq=2 value, $inc amounts sum to 15.0
  SELECT DISTINCT o_custkey, '9-RUSH' AS prio, 15.0 AS inc
  FROM orders WHERE o_custkey % 10 = 0
)
SELECT o.o_orderkey, o.o_custkey,
       CASE WHEN s.o_custkey IS NOT NULL THEN o.o_totalprice + s.inc
            ELSE o.o_totalprice END AS o_totalprice,
       COALESCE(s.prio, o.o_orderpriority) AS o_orderpriority
FROM orders o LEFT JOIN src s USING (o_custkey)
"""
)

oracle("q_put_if_absent")(
    """
SELECT 'success' AS relationship,
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0) AS BIGINT) AS n
UNION ALL
SELECT 'already-exists',
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
          + (SELECT count(*) FROM orders
             WHERE o_orderkey % 5 = 0 AND (o_orderkey + 10000000) % 15 = 0) AS BIGINT)
UNION ALL
SELECT 'post-state',
       CAST((SELECT count(*) FROM orders)
          + (SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0) AS BIGINT)
"""
)


# --- North-star extension oracles ---------------------------------------

# Word count via length arithmetic (single-space corpus); punct via
# regexp_extract_all (RE2 and Java agree on [^\w\s]).
_NW = "(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"
_NP = "len(regexp_extract_all(text, '[^\\w\\s]'))"

oracle("q_text_stats")(
    f"""
WITH per_doc AS (
  SELECT lang, source,
         CAST(length(trim(text)) AS BIGINT) AS nc,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE {_NW} END AS BIGINT) AS nw,
         CAST({_NP} AS BIGINT) AS np
  FROM documents
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(nc) AS BIGINT) AS sum_chars,
       CAST(sum(nw) AS BIGINT) AS sum_words,
       CAST(sum(np) AS BIGINT) AS sum_punct
FROM per_doc GROUP BY lang, source
"""
)


def _occ(word: str) -> str:
    # explicit whitespace class, mirroring text.py::occurrences (Java
    # \s includes \x0B, RE2's does not)
    ws = "[ \\t\\n\\x0B\\f\\r]"
    return f"len(regexp_extract_all(' ' || text || ' ', '{ws}{word}{ws}'))"


_LANG_SCORES = {
    "en": " + ".join(_occ(w) for w in ["the", "a", "of"]),
    "es": " + ".join(_occ(w) for w in ["el", "la", "de"]),
    "fr": " + ".join(_occ(w) for w in ["le", "la", "et"]),
    "de": " + ".join(_occ(w) for w in ["der", "die", "und"]),
}

_LANG_CASE = " ".join(
    f"WHEN score_{lang} > 0 AND "
    + " AND ".join(
        f"score_{lang} >= score_{l2}" for l2 in _LANG_SCORES if l2 != lang
    )
    + f" THEN '{lang}'"
    for lang in _LANG_SCORES
)

oracle("q_lang_id")(
    f"""
WITH s AS (
  SELECT doc_id, lang,
         {', '.join(f'{expr} AS score_{lang}' for lang, expr in _LANG_SCORES.items())}
  FROM documents
)
SELECT doc_id, lang, CASE {_LANG_CASE} ELSE 'und' END AS pred_lang FROM s
"""
)

_NSTOP = " + ".join(_occ(w) for w in ["the", "a", "of", "and", "to", "in"])

oracle("q_quality")(
    f"""
WITH f AS (
  SELECT doc_id,
         CAST(length(trim(text)) AS BIGINT) AS nc,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE {_NW} END AS BIGINT) AS nw,
         CAST({_NP} AS BIGINT) AS np,
         CAST({_NSTOP} AS BIGINT) AS nstop
  FROM documents
)
SELECT doc_id,
       nw AS n_words,
       CASE WHEN nw > 0 THEN (nc - (nw - 1)) / nw ELSE 0.0 END AS avg_word_len,
       CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS punct_ratio,
       CASE WHEN nw > 0 THEN nstop / nw ELSE 0.0 END AS stopword_ratio,
       (CAST(CASE WHEN nw >= 10 AND nw <= 100000 THEN 0.5 ELSE 0.0 END AS DOUBLE)
        + CAST(CASE WHEN (CASE WHEN nw > 0 THEN nstop / nw ELSE 0.0 END) > 0.01 THEN 0.3 ELSE 0.0 END AS DOUBLE)
        + CAST(CASE WHEN (CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END) < 0.2 THEN 0.2 ELSE 0.0 END AS DOUBLE)) AS score
FROM f
"""
)

# Shared shingle CTE (word 3-grams; <3 words → whole trimmed text).
def _shingles_over(src: str) -> str:
    """The shingle CTE chain over an arbitrary (doc_id, text) source —
    `documents` for the natural-corpus queries, a planted-corpus CTE
    for the flood/cap variants."""
    return f"""
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM {src}
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
)"""


_SHINGLES_CTE = _shingles_over("documents")

oracle("q_fingerprint")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
SELECT doc_id, min(md5(s)) AS fp FROM shx GROUP BY doc_id
"""
)

oracle("q_dedup_exact")(
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""
)

_MH = ", ".join(f"min(md5('{i}|' || s)) AS mh{i}" for i in range(8))
_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, '{b}' || '#' || mh{2*b} || '#' || mh{2*b+1} AS bk FROM sig"
    for b in range(4)
)

oracle("q_dedup_minhash")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, {_MH} FROM shx GROUP BY doc_id),
bands AS ({_BANDS}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""
)

# Hot-bucket-capped minhash: same signature/band/verify chain over a
# planted corpus (suffix edits that MUST pair + a 2-template exact-dup
# flood whose band buckets exceed the cap and are dropped), with the
# bucket cap mirrored in SQL — the skew guard itself sits under the
# value-hash gate, as q_dedup_simhash's does.
oracle("q_dedup_minhash_capped")(
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000, text || ' planted suffix' FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 300000,
         CASE WHEN doc_id % 20 = 5
              THEN 'click here to accept all cookies and continue now'
              ELSE 'copyright all rights reserved terms of service apply' END
  FROM documents WHERE doc_id % 10 = 5
),
{_shingles_over("corpus")},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, {_MH} FROM shx GROUP BY doc_id),
bands AS ({_BANDS}),
ok AS (SELECT bk FROM bands GROUP BY bk HAVING count(*) <= 20),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN ok USING (bk) JOIN bands b USING (bk)
  WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""
)

oracle("q_dedup_near_clusters")(
    f"""
WITH RECURSIVE {_SHINGLES_CTE},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, {_MH} FROM shx GROUP BY doc_id),
bands AS ({_BANDS}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
),
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, min(label) AS cluster FROM reach GROUP BY node
"""
)

oracle("q_sim_topk")(
    """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT qid, nid, list_cosine_similarity(qv, cv) AS cos
  FROM q, c WHERE qid <> nid
),
ranked AS (
  SELECT qid AS query_id, nid AS neighbor_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)


# --- date bins, JSON bodies, tokens, nested updates, simhash -------------

oracle("q_bin_date_granularities")(
    """
WITH bins AS (
  SELECT 'byYear.YEAR.' || strftime(date_trunc('year', ts), '%Y') AS name FROM events
  UNION ALL
  SELECT 'byMonth.MONTH.' || strftime(date_trunc('month', ts), '%Y-%m') FROM events
  UNION ALL
  SELECT 'byHour.HOUR.' || strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') FROM events
  UNION ALL
  SELECT 'bySec.SEC.' || strftime(date_trunc('second', ts), '%Y-%m-%d-%H-%M-%S') FROM events
  UNION ALL
  SELECT 'byMin.MIN.' || strftime(date_trunc('minute', ts), '%Y-%m-%d-%H-%M') FROM events
)
SELECT name, CAST(count(*) AS BIGINT) AS total
FROM bins GROUP BY name ORDER BY name
"""
)

oracle("q_attrs_json_body")(
    """
SELECT CAST(event_id AS VARCHAR) AS event_id,
       to_json(struct_pack(
         event_id := CAST(event_id AS VARCHAR),
         etype := CASE WHEN event_id % 7 = 0 THEN '' ELSE event_type END,
         flag := (event_id % 3 = 0 OR event_id % 3 = 1)
       )) AS json_body
FROM events
"""
)

oracle("q_token_count")(
    r"""
WITH per_doc AS (
  SELECT source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
              END AS BIGINT) AS nw,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS nt
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(nw) AS BIGINT) AS sum_words,
       CAST(sum(nt) AS BIGINT) AS sum_tokens
FROM per_doc GROUP BY source
"""
)

# Merges-table BPE: the SAME ranked replace-chain as
# pipeline/text.py::bpe_token_count_expr — delimiter-encoded symbols,
# one literal replace per merge in rank order (replace is left-to-
# right non-overlapping in both engines = BPE's merge scan). The chain
# is GENERATED from the shared BPE_MERGES fixture so the two engines
# cannot drift. (A DuckDB-lambda formulation was rejected: nested
# list_reduce lambdas over large literal lists miscompute in DuckDB
# 1.0.)
from ..pipeline.text import BPE_DELIM as _D  # noqa: E402
from ..pipeline.text import BPE_MERGES as _BPE_MERGES  # noqa: E402
from ..pipeline.text import BPE_PIECE_RE as _BPE_PIECE_RE  # noqa: E402


def _bpe_chain_sql() -> str:
    # per-symbol D...D wrapping (TWO delimiters between symbols) — see
    # the BPE_DELIM comment in pipeline/text.py: a shared boundary
    # delimiter breaks self-overlapping merges ('0','0') in runs
    expr = f"'{_D}' || array_to_string(string_split(w, ''), '{_D}{_D}') || '{_D}'"
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, '{_D}{a}{_D}{_D}{b}{_D}', '{_D}{a}{b}{_D}')"
    return expr


oracle("q_token_count_bpe")(
    f"""
WITH pieces AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_BPE_PIECE_RE}')) AS w
  FROM documents
),
pdw AS (SELECT doc_id, w, count(*) AS occ FROM pieces GROUP BY doc_id, w),
vocab AS (
  SELECT w, {_bpe_chain_sql()} AS s FROM (SELECT DISTINCT w FROM pdw)
),
tok AS (
  SELECT w,
         CAST((length(s) - length(replace(s, '{_D}', ''))) // 2 AS BIGINT) AS nt
  FROM vocab
),
sums AS (
  SELECT doc_id, sum(occ * nt) AS s FROM pdw JOIN tok USING (w) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(s.s, 0) AS BIGINT) AS n_tokens_bpe
FROM documents d LEFT JOIN sums s USING (doc_id)
"""
)

oracle("q_partial_update_nested")(
    """
SELECT c_custkey,
       CASE WHEN c_custkey % 8 = 0 THEN 'VIP' ELSE c_mktsegment END AS seg,
       CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
FROM customer
"""
)

# SimHash oracle: md5-prefix 60-bit hash, per-bit ±1 votes, sign → bit,
# pigeonhole 15-bit segments, bit_count hamming — mirrors
# pipeline/dedup.py simhash_fingerprints/simhash_near_dups exactly.
_SIMHASH_CORPUS = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000, text || ' planted suffix' FROM documents WHERE doc_id % 10 = 0
)"""

_SIMHASH_SHINGLES = """words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM corpus
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
)"""

_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(60)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END" for b in range(60)
)

oracle("q_dedup_simhash")(
    f"""
WITH {_SIMHASH_CORPUS},
{_SIMHASH_SHINGLES},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shx),
votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS fp FROM votes),
segs AS (
  SELECT doc_id, fp,
         CAST(s AS VARCHAR) || '#' || CAST((fp >> (s * 15)) & 32767 AS VARCHAR) AS seg_key
  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS s)
),
small AS (
  SELECT seg_key FROM segs GROUP BY seg_key HAVING count(*) <= 50
),
kept AS (
  SELECT s.* FROM segs s JOIN small USING (seg_key)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM kept a JOIN kept b USING (seg_key) WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""
)

# --- Storage-backed merge oracles ----------------------------------------
# Two-step simulation of the keyed-store merges: each step is the same
# LEFT JOIN (matched updates) + anti-join (upsert inserts) pattern as
# the in-memory q_partial_update oracle, chained s0 → s1 → s2.

oracle("q_store_merge")(
    """
WITH tgt0 AS (
  SELECT c_custkey, c_acctbal, CAST(c_custkey % 10 AS INT) AS visits,
         CAST(NULL AS TIMESTAMP) AS lastUpdated
  FROM customer
),
b1 AS (
  SELECT c_custkey, c_acctbal * 2 AS v_set, 5 AS v_inc
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 100000, 999.25, 7 FROM customer WHERE c_custkey % 7 = 0
),
s1 AS (
  SELECT t.c_custkey,
         COALESCE(b.v_set, t.c_acctbal) AS c_acctbal,
         CAST(t.visits + COALESCE(b.v_inc, 0) AS INT) AS visits,
         CASE WHEN b.c_custkey IS NOT NULL THEN TIMESTAMP '2026-01-01 00:00:00'
              ELSE t.lastUpdated END AS lastUpdated
  FROM tgt0 t LEFT JOIN b1 b USING (c_custkey)
  UNION ALL
  SELECT b.c_custkey, b.v_set, CAST(b.v_inc AS INT), TIMESTAMP '2026-01-01 00:00:00'
  FROM b1 b LEFT JOIN tgt0 t USING (c_custkey) WHERE t.c_custkey IS NULL
),
b2 AS (
  SELECT c_custkey, c_acctbal + 10 AS v_set, 1 AS v_inc
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT c_custkey + 100000, 111.5, 2 FROM customer WHERE c_custkey % 14 = 0
  UNION ALL
  SELECT c_custkey + 200000, 5.25, 3 FROM customer WHERE c_custkey % 11 = 0
),
s2 AS (
  SELECT t.c_custkey,
         COALESCE(b.v_set, t.c_acctbal) AS c_acctbal,
         CAST(t.visits + COALESCE(b.v_inc, 0) AS INT) AS visits,
         CASE WHEN b.c_custkey IS NOT NULL THEN TIMESTAMP '2026-02-02 00:00:00'
              ELSE t.lastUpdated END AS lastUpdated
  FROM s1 t LEFT JOIN b2 b USING (c_custkey)
  UNION ALL
  SELECT b.c_custkey, b.v_set, CAST(b.v_inc AS INT), TIMESTAMP '2026-02-02 00:00:00'
  FROM b2 b LEFT JOIN s1 t USING (c_custkey) WHERE t.c_custkey IS NULL
)
SELECT c_custkey, c_acctbal, visits,
       strftime(lastUpdated, '%Y-%m-%d %H:%M:%S') AS lastUpdated
FROM s2
"""
)

# The flow-assembled two-batch store merge (source → sql → store_init
# → store_merge ×2 → projection, flows.py) must match the same
# two-step merge simulation as the hand-composed q_store_merge.
ORACLES["q_flow_store_merge"] = ORACLES["q_store_merge"]

oracle("q_store_put_if_absent")(
    """
WITH ins2 AS (
  SELECT count(*) AS n FROM orders
  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0 AND o_orderkey % 5 <> 0
)
SELECT 'put1-inserted' AS relationship,
       CAST((SELECT count(*) FROM orders
             WHERE o_orderkey % 5 = 0 AND o_orderkey % 2 <> 0) AS BIGINT) AS n
UNION ALL
SELECT 'put1-already',
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 10 = 0) AS BIGINT)
UNION ALL
SELECT 'put2-inserted', CAST((SELECT n FROM ins2) AS BIGINT)
UNION ALL
SELECT 'put2-already',
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0)
          + (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)
          - (SELECT n FROM ins2) AS BIGINT)
UNION ALL
SELECT 'final-count',
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
          + (SELECT count(*) FROM orders
             WHERE o_orderkey % 5 = 0 AND o_orderkey % 2 <> 0)
          + (SELECT n FROM ins2) AS BIGINT)
"""
)


# --- Hyperplane-LSH similarity oracles ----------------------------------
#
# The md5-derived hyperplanes (pipeline/similarity.py::_hyperplane) are
# reproducible in SQL: weight(p,d) = ('0x'||substr(md5(p||'|'||d),1,8))::
# BIGINT / 0xFFFFFFFF - 0.5 — so the planes are a 4096-row derived table,
# not 4096 literals. Sign-bit sketches accumulate as HUGEINT and wrap to
# int64 exactly like numpy's uint64→int64 astype (bit 63 = the sign).
# Verified bit-exact against the Arrow-UDF sketches for all sf0.01
# vectors before landing.

def _lsh_sketch_ctes(n_planes: int = 64, dim: int = 64, n_bands: int = 8) -> str:
    """CTE chain planes→dots→sk→banded over a prior `vecs(vec_id, v)` CTE.

    Mirrors similarity.py::sketch_udf + _band_keys: band key =
    (b << band_bits) | ((sk >> b*band_bits) & mask)."""
    band_bits = n_planes // n_bands
    mask = (1 << band_bits) - 1
    return f"""
planes AS (
  SELECT p.p AS plane, d.d AS dim,
         ('0x' || substr(md5(CAST(p.p AS VARCHAR) || '|' || CAST(d.d AS VARCHAR)), 1, 8))::BIGINT
           / 4294967295.0 - 0.5 AS w
  FROM (SELECT unnest(range({n_planes})) AS p) p, (SELECT unnest(range({dim})) AS d) d
),
dots AS (
  SELECT c.vec_id, pl.plane, sum(c.v[pl.dim + 1] * pl.w) AS dp
  FROM vecs c, planes pl GROUP BY c.vec_id, pl.plane
),
sk AS (
  SELECT vec_id,
         CASE WHEN s >= 9223372036854775808::HUGEINT
              THEN (s - 18446744073709551616::HUGEINT)::BIGINT
              ELSE s::BIGINT END AS sk
  FROM (
    SELECT vec_id,
           sum(CASE WHEN dp > 0
                    THEN (CASE WHEN plane = 63 THEN 9223372036854775808::HUGEINT
                               ELSE ((1::BIGINT << plane))::HUGEINT END)
                    ELSE 0::HUGEINT END) AS s
    FROM dots GROUP BY vec_id
  )
),
banded AS (
  SELECT vec_id, sk.sk,
         (b.b << {band_bits}) | ((sk.sk >> (b.b * {band_bits})) & {mask}) AS band_key
  FROM sk, (SELECT unnest(range({n_bands})) AS b) b
)"""


def _embedding_hamming_bound() -> int:
    from ..pipeline.similarity import hamming_bound

    return hamming_bound(0.8, 64)


oracle("q_embedding_near_dups")(
    f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         CAST(list_prepend(embedding[1] + CAST(0.3 AS FLOAT), embedding[2:64]) AS DOUBLE[])
  FROM embeddings WHERE vec_id % 20 = 0
),
{_lsh_sketch_ctes()},
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.sk AS sk_a, b.sk AS sk_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.vec_id < b.vec_id
),
survivors AS (
  SELECT id_a, id_b FROM pairs
  WHERE bit_count(xor(sk_a, sk_b)) <= {_embedding_hamming_bound()}
),
scored AS (
  SELECT s.id_a, s.id_b, list_cosine_similarity(va.v, vb.v) AS cos
  FROM survivors s
  JOIN vecs va ON va.vec_id = s.id_a
  JOIN vecs vb ON vb.vec_id = s.id_b
)
SELECT id_a, id_b, round(cos, 6) AS cos FROM scored WHERE cos >= 0.8
"""
)

oracle("q_ann_topk")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_lsh_sketch_ctes()},
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q JOIN banded c USING (band_key)
  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(vq.v, vc.v) AS cos
  FROM cands
  JOIN vecs vq ON vq.vec_id = cands.query_id
  JOIN vecs vc ON vc.vec_id = cands.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)

oracle("q_top_terms")(
    """
WITH tokens AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tokens GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
ranked AS (
  SELECT doc_id, term, tf, doc_freq, n_docs,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, doc_freq ASC, term ASC) AS rnk
  FROM tf JOIN dfq USING (term), nd
  WHERE doc_freq <= 0.8 * n_docs
)
SELECT doc_id, term, tf, doc_freq, CAST(rnk AS INT) AS rank,
       round(tf * (ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0), 6) AS tfidf
FROM ranked WHERE rnk <= 3
"""
)

# PII patterns: single source of truth is pipeline.text.PII_PATTERNS —
# only Java-regex/RE2-shared syntax, so the same strings drop into
# DuckDB (standard SQL strings don't process backslashes).
from ..pipeline.text import PII_PATTERNS as _PII  # noqa: E402

_EMAIL, _PHONE, _IP = (_PII[0][1], _PII[1][1], _PII[2][1])

oracle("q_redact_pii")(
    f"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-0'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || '-1234 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
         AS text
  FROM documents WHERE doc_id < 500
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_EMAIL}', '<EMAIL>', 'g'),
           '{_PHONE}', '<PHONE>', 'g'),
           '{_IP}', '<IP>', 'g')) AS redacted_md5,
       CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(
           regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
           '{_PHONE}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(
           regexp_replace(regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
                          '{_PHONE}', '<PHONE>', 'g'),
           '{_IP}')) AS INT) AS n_ip
FROM salted
"""
)

# IVF centroids: the exact float64 values the Spark UDF uses, embedded
# as literals (repr round-trips doubles exactly). Single source of
# truth is similarity._centroid; the dot-product op order also matches
# (sequential over dim — see similarity._cell_dots).
from ..pipeline.similarity import _centroid as _ivf_centroid  # noqa: E402

_IVF_CENTROIDS = ",\n  ".join(
    "(%d, CAST([%s] AS DOUBLE[]))"
    % (c, ", ".join(repr(x) for x in _ivf_centroid(c, 64)))
    for c in range(16)
)

oracle("q_ivf_topk")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
centroids(cid, cv) AS (VALUES
  {_IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, centroids) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, centroids WHERE vec_id < 8) WHERE rn <= 4
),
cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cid)
  WHERE p.query_id <> a.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(vq.v, vc.v) AS cos
  FROM cands JOIN vecs vq ON vq.vec_id = cands.query_id
             JOIN vecs vc ON vc.vec_id = cands.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)

def _ivf_train_iteration(prev: str, new: str, tag: str) -> str:
    """One spherical-k-means iteration as CTEs (mirrors
    similarity.ivf_train exactly): assign each vector to its argmax-dot
    centroid (ties → lowest cid, like np.argmax), per-cell component
    sums in DECIMAL(38,18) — exact, so addition order can't matter on
    either engine — means as float64 division, renormalization via
    sqrt(list_inner_product(m, m)) (the same sequential fold the
    Python side uses). Empty cells keep the previous centroid."""
    return f"""
a{tag} AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, {prev}) WHERE rn = 1
),
s{tag} AS (
  SELECT cid, i AS pos, SUM(CAST(v[i] AS DECIMAL(38,18))) AS s, COUNT(*) AS n
  FROM a{tag}, range(1, 65) t(i)
  GROUP BY cid, i
),
m{tag} AS (
  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS m
  FROM s{tag} GROUP BY cid
),
n{tag} AS (
  SELECT cid, m, sqrt(list_inner_product(m, m)) AS nrm FROM m{tag}
),
{new}(cid, cv) AS (
  SELECT p.cid,
         CASE WHEN q.nrm IS NULL OR q.nrm = 0 THEN p.cv
              ELSE list_transform(q.m, x -> x / q.nrm) END
  FROM {prev} p LEFT JOIN n{tag} q USING (cid)
)"""


oracle("q_ivf_topk_trained")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0(cid, cv) AS (VALUES
  {_IVF_CENTROIDS}),
{_ivf_train_iteration('c0', 'c1', '0')},
{_ivf_train_iteration('c1', 'c2', '1')},
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, c2) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, c2 WHERE vec_id < 8) WHERE rn <= 4
),
cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cid)
  WHERE p.query_id <> a.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(vq.v, vc.v) AS cos
  FROM cands JOIN vecs vq ON vq.vec_id = cands.query_id
             JOIN vecs vc ON vc.vec_id = cands.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)

_FEAT_COLS = ", ".join(
    f"CAST(round(('0x' || substr(md5(text), {2 * i + 1}, 2))::INT / 255.0, 5) AS VARCHAR)"
    for i in range(8)
)

oracle("q_multimodal_features")(
    f"""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_hash,
       concat_ws(',', {_FEAT_COLS}) AS feat_csv
FROM documents
"""
)

# Streaming flagship: identical semantics to the batch flagship.
oracle("q_stream_bin_flagship")(ORACLES["q_bin_flagship"])


oracle("q_dedup_ngram_jaccard")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS d FROM shx GROUP BY s),
idx AS (SELECT doc_id, s FROM shx WHERE s IN (SELECT s FROM dfreq WHERE d <= 20)),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""
)

oracle("q_hash_split")(
    """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS bk
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bk IS NULL THEN NULL
            WHEN bk < 900000 THEN 'train'
            WHEN bk < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""
)

oracle("q_sample_stratified")(
    """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('sample' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, lang FROM r WHERE rk <= 30
"""
)

oracle("q_mix_token_budget")(
    """
WITH t AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
              END AS BIGINT) AS n_tokens,
         md5('mix' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM t
)
SELECT doc_id, lang, n_tokens, tokens_before
FROM c
WHERE tokens_before < CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000 END
"""
)

oracle("q_chunk_documents")(
    """
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws,
         len(string_split(trim(text), ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, ws, n,
         unnest(range(greatest(1, CAST(ceil((n - 10) / 30.0) AS BIGINT)))) AS cid
  FROM w
)
SELECT doc_id,
       CAST(cid AS BIGINT) AS chunk_id,
       CAST(least(40, n - cid * 30) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(ws, cid * 30 + 1, cid * 30 + 40), ' ') AS chunk_text
FROM c
"""
)

oracle("q_decontaminate")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
ev AS (SELECT DISTINCT s FROM shx WHERE doc_id % 50 = 0),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM shx WHERE doc_id % 50 <> 0 AND s IN (SELECT s FROM ev)
  GROUP BY doc_id
)
SELECT doc_id, n_hits FROM hits WHERE n_hits >= 2
"""
)

oracle("q_repetition_ratio")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_kgrams,
       CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
       1.0 - count(DISTINCT s) / CAST(count(*) AS DOUBLE) AS rep_ratio
FROM shx GROUP BY doc_id
"""
)

oracle("q_weighted_sample")(
    f"""
WITH f AS (
  SELECT doc_id,
         CAST(length(trim(text)) AS BIGINT) AS nc,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE {_NW} END AS BIGINT) AS nw,
         CAST({_NP} AS BIGINT) AS np,
         CAST({_NSTOP} AS BIGINT) AS nstop
  FROM documents
),
s AS (
  SELECT doc_id,
         (CAST(CASE WHEN nw >= 10 AND nw <= 100000 THEN 0.5 ELSE 0.0 END AS DOUBLE)
          + CAST(CASE WHEN (CASE WHEN nw > 0 THEN nstop / nw ELSE 0.0 END) > 0.01 THEN 0.3 ELSE 0.0 END AS DOUBLE)
          + CAST(CASE WHEN (CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END) < 0.2 THEN 0.2 ELSE 0.0 END AS DOUBLE)) AS score
  FROM f
)
SELECT doc_id FROM s
WHERE (('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        % 1000000) / 1000000.0
      < least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), score))
"""
)

oracle("q_flow_llm_pipeline")(
    """
WITH kept AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN (SELECT md5(text) AS h, min(doc_id) AS keeper
        FROM documents GROUP BY 1) k
    ON md5(d.text) = k.h AND d.doc_id = k.keeper
),
tr AS (
  SELECT doc_id, text FROM kept
  WHERE ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        % 1000000 < 900000
),
w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws,
         len(string_split(trim(text), ' ')) AS n
  FROM tr
),
c AS (
  SELECT doc_id, ws, n,
         unnest(range(greatest(1, CAST(ceil((n - 10) / 30.0) AS BIGINT)))) AS cid
  FROM w
)
SELECT doc_id,
       CAST(cid AS BIGINT) AS chunk_id,
       CAST(least(40, n - cid * 30) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(ws, cid * 30 + 1, cid * 30 + 40), ' ') AS chunk_text
FROM c
"""
)

oracle("q_profile_values_approx")(
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(value), 6) AS mean,
       round(quantile_disc(value, 0.5), 6) AS p50,
       round(quantile_disc(value, 0.95), 6) AS p95,
       round(quantile_disc(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""
)

oracle("q_stream_chunk_documents")(
    """
WITH tr AS (
  SELECT doc_id, text FROM documents
  WHERE ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        % 1000000 < 900000
),
w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws,
         len(string_split(trim(text), ' ')) AS n
  FROM tr
),
c AS (
  SELECT doc_id, ws, n,
         unnest(range(greatest(1, CAST(ceil((n - 10) / 30.0) AS BIGINT)))) AS cid
  FROM w
)
SELECT doc_id,
       CAST(cid AS BIGINT) AS chunk_id,
       CAST(least(40, n - cid * 30) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(ws, cid * 30 + 1, cid * 30 + 40), ' ') AS chunk_text
FROM c
ORDER BY doc_id, chunk_id
"""
)

oracle("q_duplicate_passages")(
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000,
         'quoted for context in a longer piece of original commentary '
         || 'that runs exactly twenty words before the verbatim passage '
         || 'follows '
         || array_to_string(list_slice(string_split(trim(text), ' '), 1, 20), ' ')
  FROM documents WHERE doc_id % 25 = 0
),
w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws,
         len(string_split(trim(text), ' ')) AS n
  FROM corpus
),
c AS (
  SELECT doc_id, ws, n,
         unnest(range(greatest(1, CAST(ceil(n / 20.0) AS BIGINT)))) AS cid
  FROM w
),
p AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(ws, cid * 20 + 1, cid * 20 + 20), ' ')) AS h
  FROM c
)
SELECT h AS passage_hash,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(doc_id) AS example_doc
FROM p GROUP BY h HAVING count(DISTINCT doc_id) > 1
"""
)

oracle("q_stream_store_merge")(
    """
SELECT g.ub AS user_bucket, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
FROM (SELECT unnest(range(100)) AS ub) g
LEFT JOIN (SELECT user_id % 100 AS ub, count(*) AS n
           FROM events GROUP BY 1) c USING (ub)
ORDER BY user_bucket
"""
)

oracle("q_strip_html")(
    r"""
WITH page AS (
  SELECT doc_id,
         '<html><head><script type="text/javascript">var x = 1 < 2;'
         || '</script><style>.a{color:red}</style></head><body>'
         || '<!-- crawler comment --><h1>Title &amp; Header</h1><p>'
         || text
         || '</p><div class="footer">&lt;end&gt;&nbsp;&quot;quoted&quot;'
         || '&#39;s</div></body></html>' AS h
  FROM documents
),
cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(h, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                   '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
               '(?s)<[^>]+>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         '\s+', ' ', 'g')) AS clean_text
  FROM page
)
SELECT doc_id, clean_text,
       CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
            ELSE length(trim(clean_text))
                 - length(replace(trim(clean_text), ' ', '')) + 1
            END AS BIGINT) AS n_words
FROM cleaned
"""
)

oracle("q_dedup_canonical")(
    r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000, upper(text) || '!!'
  FROM documents WHERE doc_id % 20 = 0
),
canon AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
           '\s+', ' ', 'g')) AS text
  FROM corpus
)
SELECT md5(text) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keeper
FROM canon GROUP BY 1 HAVING count(*) > 1
"""
)

oracle("q_store_time_travel")(
    """
SELECT c_custkey, c_acctbal,
       CAST(c_custkey % 10 AS INT) AS visits,
       CAST(NULL AS VARCHAR) AS lastUpdated
FROM customer
"""
)

oracle("q_vocab_stats")(
    """
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
),
t AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT term) AS BIGINT) AS n_terms
  FROM toks WHERE term <> '' GROUP BY lang
),
d AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang)
SELECT d.lang, n_docs,
       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_terms, 0) AS BIGINT) AS n_terms,
       CASE WHEN COALESCE(n_tokens, 0) > 0
            THEN n_terms / CAST(n_tokens AS DOUBLE) END AS type_token_ratio
FROM d LEFT JOIN t ON d.lang = t.lang
"""
)

oracle("q_length_histogram")(
    """
WITH w AS (
  SELECT lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
              END AS BIGINT) AS n
  FROM documents
)
SELECT lang, CAST(floor(log2(n + 1)) AS INT) AS len_bin,
       CAST(count(*) AS BIGINT) AS n_docs
FROM w GROUP BY 1, 2
"""
)

oracle("q_cross_source_dups")(
    """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 500000, text, 'mirror' FROM documents WHERE doc_id % 10 = 0
),
e AS (SELECT DISTINCT md5(text) AS h, source FROM corpus),
p AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_texts
FROM p GROUP BY 1, 2
"""
)

oracle("q_pack_sequences")(
    """
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws,
         len(string_split(trim(text), ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, ws, n,
         unnest(range(greatest(1, CAST(ceil((n - 10) / 30.0) AS BIGINT)))) AS cid
  FROM w
),
ch AS (
  SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
         CAST(least(40, n - cid * 30) AS BIGINT) AS toks,
         CAST(doc_id AS VARCHAR) || '#' || CAST(cid AS VARCHAR) AS ident
  FROM c
),
sh AS (
  SELECT doc_id, chunk_id, toks,
         ('0x' || substr(md5('pack#shard' || ident), 1, 15))::BIGINT % 8 AS shard,
         md5('pack' || ident) AS h
  FROM ch
),
pf AS (
  SELECT shard, toks,
         CAST(COALESCE(SUM(toks) OVER (
           PARTITION BY shard ORDER BY h, doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM sh
)
SELECT CAST(shard AS INT) AS shard,
       CAST(floor(tokens_before / 512.0) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(toks) AS BIGINT) AS n_tokens
FROM pf GROUP BY 1, 2
"""
)

oracle("q_pricing_summary")(
    """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(12,6)) AS q,
         CAST(l_extendedprice AS DECIMAL(12,6)) AS p,
         CAST(l_extendedprice AS DECIMAL(12,6))
           * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))) AS d,
         CAST(l_extendedprice AS DECIMAL(12,6))
           * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))
           * (CAST(1 AS DECIMAL(7,6)) + CAST(l_tax AS DECIMAL(7,6))) AS ch
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
)
-- decimal->double goes through VARCHAR: DuckDB's direct cast divides
-- int128 by 10^scale in double arithmetic (off by an ulp for many
-- sums); string->double is correctly rounded, matching Spark's
-- BigDecimal.doubleValue.
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(d) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum(ch) AS VARCHAR) AS DOUBLE) AS sum_charge,
       round(CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM li GROUP BY 1, 2 ORDER BY 1, 2
"""
)

oracle("q_shipping_priority")(
    """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
                * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6))))
            AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY 1, o.o_orderdate, 3
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""
)

oracle("q_local_supplier_volume")(
    """
SELECT n.n_name,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
                * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6))))
            AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND s.s_nationkey = c.c_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1 ORDER BY revenue DESC, n_name
"""
)


# --- Temporal joins ----------------------------------------------------
# The as-of oracle mirrors the operator's union-window formulation
# (operators/joins.py::asof_join) with DuckDB IGNORE NULLS windows; no
# sort key is ever NULL (Spark sorts NULLS FIRST asc, DuckDB NULLS
# LAST — the coalesced tiebreak sidesteps the divergence).

oracle("q_asof_enrich")(
    """
WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
u AS (
  SELECT event_id, user_id, ts AS t, 1 AS side, -1.0 AS tb, value,
         CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS BIGINT) AS r_id,
         CAST(NULL AS DOUBLE) AS r_val
  FROM l
  UNION ALL
  SELECT NULL, user_id, ts, 0, CAST(event_id AS DOUBLE), NULL, ts, event_id, value
  FROM r
),
c AS (
  SELECT event_id, user_id, t, side, value,
         last_value(r_ts IGNORE NULLS) OVER w AS c_ts,
         last_value(r_id IGNORE NULLS) OVER w AS c_id,
         last_value(r_val IGNORE NULLS) OVER w AS c_val
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY t, side, tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_us(t) AS ts_us, round(value, 6) AS value,
       CASE WHEN epoch_us(t) - epoch_us(c_ts) <= 21600000000 THEN c_id END AS view_event_id,
       CASE WHEN epoch_us(t) - epoch_us(c_ts) <= 21600000000 THEN epoch_us(c_ts) END AS view_ts_us,
       CASE WHEN epoch_us(t) - epoch_us(c_ts) <= 21600000000 THEN round(c_val, 6) END AS view_value
FROM c WHERE side = 1
"""
)

# The band predicate is pure integer arithmetic (microsecond BIGINTs),
# so the oracle needs no bucket replay — the bucket-and-neighbor join
# is lossless and the plain join + filter defines the same pair set.
oracle("q_range_pairs")(
    """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       abs(a.us - b.us) AS gap_us
FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
WHERE abs(a.us - b.us) <= 1800000000
"""
)

oracle("q_bin_rollup")(
    """
WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS d, event_type FROM events)
SELECT coalesce(d, '*') AS day, coalesce(event_type, '*') AS etype,
       CAST(count(*) AS BIGINT) AS n,
       CAST(grouping(d) * 2 + grouping(event_type) AS INT) AS gid
FROM base GROUP BY ROLLUP(d, event_type)
"""
)


# --- Embedding clustering + semantic dedup -----------------------------

oracle("q_cluster_embeddings")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0(cid, cv) AS (VALUES
  {_IVF_CENTROIDS}),
{_ivf_train_iteration('c0', 'c1', '0')},
{_ivf_train_iteration('c1', 'c2', '1')},
assign AS (
  SELECT vec_id, v, cid, cv FROM (
    SELECT vec_id, v, cid, cv,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, c2) WHERE rn = 1
),
scored AS (
  SELECT cid AS cluster_id, vec_id, list_cosine_similarity(v, cv) AS cos
  FROM assign
)
SELECT CAST(cluster_id AS INT) AS cluster_id, CAST(count(*) AS BIGINT) AS n,
       min(vec_id) AS exemplar,
       round(CAST(SUM(CAST(round(cos, 7) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*), 6) AS avg_cos
FROM scored GROUP BY cluster_id
"""
)

oracle("q_semantic_dedup")(
    f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         CAST(list_prepend(embedding[1] + CAST(0.3 AS FLOAT), embedding[2:64]) AS DOUBLE[])
  FROM embeddings WHERE vec_id % 20 = 0
),
{_lsh_sketch_ctes()},
c0(cid, cv) AS (VALUES
  {_IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, c0) WHERE rn = 1
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN sk sa ON sa.vec_id = a.vec_id
  JOIN sk sb ON sb.vec_id = b.vec_id
  WHERE bit_count(xor(sa.sk, sb.sk)) <= {_embedding_hamming_bound()}
),
dropped AS (
  SELECT DISTINCT c.id_b AS vec_id
  FROM cand c
  JOIN vecs va ON va.vec_id = c.id_a
  JOIN vecs vb ON vb.vec_id = c.id_b
  WHERE list_cosine_similarity(va.v, vb.v) >= 0.8
)
SELECT a.vec_id, CAST(a.cid AS INT) AS cluster_id,
       (a.vec_id NOT IN (SELECT vec_id FROM dropped)) AS keep
FROM assign a
"""
)


# Stream-stream interval join: the batch join IS the semantics (the
# watermark only bounds state, never the availableNow result set).
oracle("q_stream_interval_join")(
    """
SELECT p.event_id AS p_id, p.user_id, epoch_us(p.ts) AS p_us,
       v.event_id AS v_id, epoch_us(v.ts) AS v_us
FROM events p JOIN events v ON p.user_id = v.user_id
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
"""
)


# The flow-assembled as-of must match the identical oracle.
ORACLES["q_flow_asof"] = ORACLES["q_asof_enrich"]


oracle("q_revenue_forecast")(
    """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,6))
                     * CAST(l_discount AS DECIMAL(7,6))) AS VARCHAR) AS DOUBLE)
       AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""
)

oracle("q_large_orders")(
    """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,6))) AS sq
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,6))) > 250
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
       o.o_totalprice AS total_price,
       CAST(CAST(b.sq AS VARCHAR) AS DOUBLE) AS sum_qty
FROM orders o
JOIN big b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY total_price DESC, o.o_orderkey
LIMIT 10
"""
)


# salted_join is a pure layout transform: the plain join IS the
# semantics, so the oracle is the unsalted SQL join.
oracle("q_salted_join")(
    """
WITH dim AS (
  SELECT user_id, min(epoch_us(ts)) AS u_first_us FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, d.u_first_us
FROM events e JOIN dim d USING (user_id)
"""
)

oracle("q_equidepth_histogram")(
    """
WITH t AS (
  SELECT event_type, value,
         CAST(ntile(10) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS INT) AS tile
  FROM events
)
SELECT event_type, tile, CAST(count(*) AS BIGINT) AS n,
       round(min(value), 6) AS lo, round(max(value), 6) AS hi
FROM t GROUP BY event_type, tile
"""
)


oracle("q_lm_score")(
    """
WITH docs AS (
  SELECT doc_id, text AS t FROM documents WHERE length(text) >= 3
),
tri AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
  FROM docs, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) s
),
tc AS (SELECT tri, count(*) AS c3 FROM tri GROUP BY tri),
bc AS (SELECT substr(tri, 1, 2) AS bi, CAST(sum(c3) AS BIGINT) AS c2
       FROM tc GROUP BY 1),
model AS (
  SELECT tri, c3 / c2 AS p FROM tc JOIN bc ON substr(tc.tri, 1, 2) = bc.bi
),
scored AS (
  SELECT d.doc_id, coalesce(m.p, 1e-6) AS p
  FROM tri d LEFT JOIN model m USING (tri)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(CAST(SUM(CAST(round(p, 7) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*), 6) AS lm_score
FROM scored GROUP BY doc_id
"""
)


oracle("q_store_diff")(
    """
WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer),
v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 500 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 3 != 0
  UNION ALL
  SELECT c_custkey + 1000000, 42.0 FROM customer WHERE c_custkey % 7 = 0
),
ins AS (
  SELECT n.c_custkey, n.c_acctbal, 'insert' AS change_type
  FROM v2 n WHERE n.c_custkey NOT IN (SELECT c_custkey FROM v1)
),
upd AS (
  SELECT n.c_custkey, n.c_acctbal, 'update_postimage' AS change_type
  FROM v2 n JOIN v1 o USING (c_custkey)
  WHERE n.c_acctbal IS DISTINCT FROM o.c_acctbal
),
pre AS (
  SELECT o.c_custkey, o.c_acctbal, 'update_preimage' AS change_type
  FROM v1 o JOIN v2 n USING (c_custkey)
  WHERE n.c_acctbal IS DISTINCT FROM o.c_acctbal
),
del AS (
  SELECT o.c_custkey, o.c_acctbal, 'delete' AS change_type
  FROM v1 o WHERE o.c_custkey NOT IN (SELECT c_custkey FROM v2)
)
SELECT c_custkey, round(c_acctbal, 6) AS c_acctbal, change_type FROM ins
UNION ALL SELECT c_custkey, round(c_acctbal, 6), change_type FROM upd
UNION ALL SELECT c_custkey, round(c_acctbal, 6), change_type FROM pre
UNION ALL SELECT c_custkey, round(c_acctbal, 6), change_type FROM del
"""
)

oracle("q_table_profile")(
    """
WITH a AS (SELECT * FROM events)
SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       round(CAST(min(event_id) AS DOUBLE), 6) AS min_num,
       round(CAST(max(event_id) AS DOUBLE), 6) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM a
UNION ALL
SELECT 'ts', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT ts) AS BIGINT),
       round(CAST(min(epoch_us(ts)) AS DOUBLE), 6),
       round(CAST(max(epoch_us(ts)) AS DOUBLE), 6),
       NULL, NULL
FROM a
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       round(CAST(min(user_id) AS DOUBLE), 6),
       round(CAST(max(user_id) AS DOUBLE), 6),
       NULL, NULL
FROM a
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       NULL, NULL, min(event_type), max(event_type)
FROM a
UNION ALL
SELECT 'value', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT value) AS BIGINT),
       round(min(value), 6), round(max(value), 6), NULL, NULL
FROM a
"""
)


# Haversine written with the exact operand order of
# operators/joins.py::haversine_km (products, not pow) so the float
# result matches bit-for-bit; the tile bucketing is lossless at this
# zoom, so the plain join defines the same pair set.
oracle("q_geo_radius_join")(
    """
WITH geo AS (
  SELECT event_id, user_id, (value % 85.0) - 42.5 AS lat,
         CAST((user_id * 77) % 360 AS DOUBLE) - 180.0 AS lon
  FROM events
),
pairs AS (
  SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
         asin(sqrt(
           sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * (sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2))
         )) * 12742.0176 AS dist_km
  FROM geo a JOIN geo b ON a.user_id = b.user_id AND a.event_id < b.event_id
)
SELECT user_id, id_a, id_b, round(dist_km, 3) AS dist_km
FROM pairs WHERE dist_km <= 100.0
"""
)


oracle("q_stream_enrich_static")(
    """
WITH dim AS (
  SELECT user_id, min(epoch_us(ts)) AS u_first_us FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       epoch_us(e.ts) - d.u_first_us AS age_us
FROM events e JOIN dim d USING (user_id)
WHERE e.event_type = 'purchase'
"""
)


oracle("q_zorder_scan")(
    """
SELECT event_id, user_id, round(value, 6) AS value
FROM events
WHERE user_id >= 40 AND user_id < 60 AND value >= 100.0 AND value < 200.0
"""
)


oracle("q_scd2_dimension")(
    """
WITH cur_open AS (
  SELECT c_custkey, c_acctbal, 1000 AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
  FROM customer
),
hist AS (
  SELECT c_custkey, c_acctbal - 50 AS c_acctbal, 500 AS valid_from,
         1000 AS valid_to, FALSE AS is_current
  FROM customer WHERE c_custkey % 11 = 0
),
batch AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
           AS c_acctbal,
         2000 AS ts
  FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, 7.5, 2000 FROM customer WHERE c_custkey % 5 = 0
),
changed AS (
  SELECT o.c_custkey FROM cur_open o JOIN batch b USING (c_custkey)
  WHERE b.c_acctbal IS DISTINCT FROM o.c_acctbal
),
survivors AS (
  SELECT o.c_custkey, o.c_acctbal, o.valid_from,
         CASE WHEN ch.c_custkey IS NOT NULL THEN 2000 ELSE o.valid_to END
           AS valid_to,
         ch.c_custkey IS NULL AS is_current
  FROM cur_open o LEFT JOIN changed ch USING (c_custkey)
),
openers AS (
  SELECT b.c_custkey, b.c_acctbal, 2000 AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
  FROM batch b
  WHERE b.c_custkey IN (SELECT c_custkey FROM changed)
     OR b.c_custkey NOT IN (SELECT c_custkey FROM cur_open)
)
SELECT c_custkey, round(c_acctbal, 6) AS c_acctbal,
       CAST(valid_from AS BIGINT) AS valid_from, valid_to, is_current
FROM (
  SELECT * FROM hist
  UNION ALL SELECT * FROM survivors
  UNION ALL SELECT * FROM openers
)
"""
)


oracle("q_temporal_dim_join")(
    """
WITH dim AS (
  -- even keys: version 1 closes at t_mid, version 2 opens (bal+100);
  -- odd keys: one open version from 0
  SELECT c_custkey, c_acctbal, 0 AS valid_from,
         CASE WHEN c_custkey % 2 = 0 THEN 820454400000000 END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 100, 820454400000000, NULL
  FROM customer WHERE c_custkey % 2 = 0
)
SELECT o.o_orderkey, o.o_custkey AS c_custkey,
       round(d.c_acctbal, 6) AS acctbal_at_order
FROM orders o
JOIN dim d ON o.o_custkey = d.c_custkey
WHERE epoch_us(o.o_orderdate) >= d.valid_from
  AND (d.valid_to IS NULL OR epoch_us(o.o_orderdate) < d.valid_to)
"""
)


oracle("q_retention_cohorts")(
    """
WITH activity AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 604800000000 AS week
  FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
)
SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""
)


def _pr_sweep(prev: str, new: str) -> str:
    """One PageRank power sweep as CTEs (mirrors pipeline/graph.py::
    pagerank bit-for-bit: round(r/deg, 15) -> DECIMAL(38,18) sum ->
    float64 damped update)."""
    return f"""
c_{new} AS (
  SELECT e.dst AS v,
         CAST(round(r.rank / d.deg, 15) AS DECIMAL(38,18)) AS c
  FROM {prev} r JOIN edges e ON r.v = e.src JOIN deg d ON e.src = d.src
),
s_{new} AS (SELECT v, CAST(SUM(c) AS DOUBLE) AS inflow FROM c_{new} GROUP BY v),
{new} AS (
  SELECT vx.v,
         ((1.0 - 0.85) / nn.n) + 0.85 * coalesce(s.inflow, 0.0) AS rank
  FROM vertices vx CROSS JOIN nn LEFT JOIN s_{new} s ON vx.v = s.v
)"""


oracle("q_pagerank")(
    f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
vertices AS (
  SELECT DISTINCT src AS v FROM edges
  UNION
  SELECT DISTINCT dst AS v FROM edges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT v, 1.0 / nn.n AS rank FROM vertices CROSS JOIN nn),
{_pr_sweep('r0', 'r1')},
{_pr_sweep('r1', 'r2')},
{_pr_sweep('r2', 'r3')}
SELECT v, round(rank, 12) AS rank FROM r3
"""
)


def _pr_sweep_dangling(prev: str, new: str) -> str:
    """One dangling-redistribution sweep: the dangling rank mass is a
    decimal-exact scalar (VARCHAR-hop to double per the cross-engine
    rounding rule), divided by n once, added inside the damped term —
    mirroring pipeline/graph.py::pagerank(dangling="redistribute")
    bit-for-bit."""
    return f"""
m_{new} AS (
  SELECT coalesce(CAST(CAST(SUM(CAST(round(r.rank, 15) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE), 0.0) AS m
  FROM {prev} r JOIN dangv dv ON r.v = dv.v
),
x_{new} AS (SELECT m.m / nn.n AS extra FROM m_{new} m CROSS JOIN nn),
c_{new} AS (
  SELECT e.dst AS v,
         CAST(round(r.rank * e.w / d.deg, 15) AS DECIMAL(38,18)) AS c
  FROM {prev} r JOIN edges e ON r.v = e.src JOIN deg d ON e.src = d.src
),
s_{new} AS (SELECT v, CAST(SUM(c) AS DOUBLE) AS inflow FROM c_{new} GROUP BY v),
{new} AS (
  SELECT vx.v,
         ((1.0 - 0.85) / nn.n) + 0.85 * (coalesce(s.inflow, 0.0) + x.extra) AS rank
  FROM vertices vx CROSS JOIN nn CROSS JOIN x_{new} x LEFT JOIN s_{new} s ON vx.v = s.v
)"""


oracle("q_pagerank_dangling")(
    f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
         CAST(1 AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
vertices AS (
  SELECT DISTINCT src AS v FROM edges
  UNION
  SELECT DISTINCT dst AS v FROM edges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY src),
dangv AS (
  SELECT vx.v FROM vertices vx
  LEFT JOIN (SELECT DISTINCT src FROM edges) o ON vx.v = o.src
  WHERE o.src IS NULL
),
r0 AS (SELECT v, 1.0 / nn.n AS rank FROM vertices CROSS JOIN nn),
{_pr_sweep_dangling('r0', 'r1')},
{_pr_sweep_dangling('r1', 'r2')},
{_pr_sweep_dangling('r2', 'r3')}
SELECT v, round(rank, 12) AS rank FROM r3
"""
)


def _pr_sweep_weighted(prev: str, new: str) -> str:
    """One weighted sweep: round(rank*w/deg, 15) decimal-exact sums."""
    return f"""
c_{new} AS (
  SELECT e.dst AS v,
         CAST(round(r.rank * e.w / d.deg, 15) AS DECIMAL(38,18)) AS c
  FROM {prev} r JOIN edges e ON r.v = e.src JOIN deg d ON e.src = d.src
),
s_{new} AS (SELECT v, CAST(SUM(c) AS DOUBLE) AS inflow FROM c_{new} GROUP BY v),
{new} AS (
  SELECT vx.v,
         ((1.0 - 0.85) / nn.n) + 0.85 * coalesce(s.inflow, 0.0) AS rank
  FROM vertices vx CROSS JOIN nn LEFT JOIN s_{new} s ON vx.v = s.v
)"""


oracle("q_pagerank_weighted")(
    f"""
WITH pairs AS (
  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges0 AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM edges0 GROUP BY src, dst
),
vertices AS (
  SELECT DISTINCT src AS v FROM edges
  UNION
  SELECT DISTINCT dst AS v FROM edges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (SELECT v, 1.0 / nn.n AS rank FROM vertices CROSS JOIN nn),
{_pr_sweep_weighted('r0', 'r1')},
{_pr_sweep_weighted('r1', 'r2')},
{_pr_sweep_weighted('r2', 'r3')}
SELECT v, round(rank, 12) AS rank FROM r3
"""
)


oracle("q_pivot_daily")(
    """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1
"""
)

ORACLES["q_geo_radius_auto"] = ORACLES["q_geo_radius_join"]

# Equi-depth scale path: percentile_approx below `accuracy` rows per
# group is EXACT and returns the ceil(p*n)-th smallest value — the
# row_number() rank rule below (verified empirically against Spark's
# GK sketch in the exact regime).
# PINNED BEHAVIOR, Spark 4.1: the ceil(p*n) exact-regime pick is an
# implementation detail of ApproximatePercentile, not a documented
# contract. If this oracle ever mismatches right after a Spark
# upgrade while q_equidepth_histogram (the ntile-exact variant) stays
# green, diagnose as RANK-RULE DRIFT — re-verify the boundary pick
# empirically (tests/test_plans.py::
# test_equidepth_methods_agree_on_distinct_values) and update this
# rule — not as a product correctness regression.
oracle("q_equidepth_approx")(
    """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS ng
  FROM events
),
bounds AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(ceil(0.1::DOUBLE * ng) AS BIGINT) THEN value END) AS b1,
         max(CASE WHEN rn = CAST(ceil(0.2::DOUBLE * ng) AS BIGINT) THEN value END) AS b2,
         max(CASE WHEN rn = CAST(ceil(0.3::DOUBLE * ng) AS BIGINT) THEN value END) AS b3,
         max(CASE WHEN rn = CAST(ceil(0.4::DOUBLE * ng) AS BIGINT) THEN value END) AS b4,
         max(CASE WHEN rn = CAST(ceil(0.5::DOUBLE * ng) AS BIGINT) THEN value END) AS b5,
         max(CASE WHEN rn = CAST(ceil(0.6::DOUBLE * ng) AS BIGINT) THEN value END) AS b6,
         max(CASE WHEN rn = CAST(ceil(0.7::DOUBLE * ng) AS BIGINT) THEN value END) AS b7,
         max(CASE WHEN rn = CAST(ceil(0.8::DOUBLE * ng) AS BIGINT) THEN value END) AS b8,
         max(CASE WHEN rn = CAST(ceil(0.9::DOUBLE * ng) AS BIGINT) THEN value END) AS b9
  FROM ranked GROUP BY event_type
),
tiles AS (
  SELECT e.event_type, e.value,
         1 + (CASE WHEN e.value > b.b1 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b2 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b3 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b4 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b5 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b6 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b7 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b8 THEN 1 ELSE 0 END) + (CASE WHEN e.value > b.b9 THEN 1 ELSE 0 END) AS tile
  FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type, CAST(tile AS INT) AS tile, CAST(count(*) AS BIGINT) AS n,
       round(min(value), 6) AS lo, round(max(value), 6) AS hi
FROM tiles GROUP BY event_type, tile
"""
)

oracle("q_flow_routed")(
    """
SELECT 'success' AS branch, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 5 <> 4
UNION ALL
SELECT 'failure', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
FROM orders WHERE o_orderkey % 5 = 4
"""
)

# Bloom prefilter changes the PLAN, never the result.
ORACLES["q_decontaminate_bloom"] = ORACLES["q_decontaminate"]

oracle("q_sessionize")(
    """
WITH seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS b
  FROM seq
),
tagged AS (
  SELECT user_id, us,
         CAST(sum(b) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us
FROM tagged GROUP BY user_id, session_seq
"""
)

# chunk_sec is byte-identical to the single-sort path by construction
# (pytest-equal), so the chunked driver query shares the oracle verbatim.
ORACLES["q_sessionize_chunked"] = ORACLES["q_sessionize"]


# q_store_incremental_agg: incremental base+delta over the CDC feed
# is decimal-exact, so the oracle is simply the FULL recompute on v2.
oracle("q_store_incremental_agg")(
    """
WITH v2 AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 500 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 3 != 0
  UNION ALL
  SELECT c_custkey + 1000000, c_mktsegment, 42.0 FROM customer WHERE c_custkey % 7 = 0
)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS bal_sum
FROM v2 GROUP BY c_mktsegment
"""
)

oracle("q_store_compact")(
    """
SELECT c_custkey, round(c_acctbal, 6) AS c_acctbal FROM customer
"""
)

oracle("q_stream_ivf_append")(
    f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
centroids(cid, cv) AS (VALUES
  {_IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, centroids) WHERE rn = 1
)
SELECT vec_id, CAST(cid AS INT) AS cid FROM assign
"""
)


# q_store_history: deterministic op sequence as a literal
oracle("q_store_history")(
    """
SELECT * FROM (VALUES
  (CAST(4 AS INT), 'restore(v1)'),
  (CAST(3 AS INT), 'put-if-absent'),
  (CAST(2 AS INT), 'merge'),
  (CAST(1 AS INT), 'init')
) AS t(version, op)
"""
)

def _funnel_oracle(window_us: int | None = None) -> str:
    """view->click->purchase chained funnel, optionally bounding each
    step-to-step gap — ONE template serving the plain and windowed
    oracles so the shared shape can't desynchronize."""
    wp1 = (
        f"\n                       AND epoch_us(e.ts) - s.t0 <= {window_us}"
        if window_us
        else ""
    )
    wp2 = (
        f"\n                       AND epoch_us(e.ts) - s.t1 <= {window_us}"
        if window_us
        else ""
    )
    return f"""
WITH s0 AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0
  FROM events GROUP BY user_id
),
s1 AS (
  SELECT e.user_id, s.t0,
         min(CASE WHEN e.event_type = 'click' AND s.t0 IS NOT NULL
                       AND epoch_us(e.ts) >= s.t0{wp1}
                  THEN epoch_us(e.ts) END) AS t1
  FROM events e JOIN s0 s USING (user_id)
  GROUP BY e.user_id, s.t0
),
s2 AS (
  SELECT e.user_id, s.t0, s.t1,
         min(CASE WHEN e.event_type = 'purchase' AND s.t1 IS NOT NULL
                       AND epoch_us(e.ts) >= s.t1{wp2}
                  THEN epoch_us(e.ts) END) AS t2
  FROM events e JOIN s1 s USING (user_id)
  GROUP BY e.user_id, s.t0, s.t1
),
c AS (
  SELECT CAST(count(t0) AS BIGINT) AS n0, CAST(count(t1) AS BIGINT) AS n1,
         CAST(count(t2) AS BIGINT) AS n2
  FROM s2
)
SELECT CAST(1 AS INT) AS step, 'view' AS event_type, n0 AS n_users,
       CASE WHEN n0 > 0 THEN round(CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END AS conversion
FROM c
UNION ALL
SELECT 2, 'click', n1,
       CASE WHEN n0 > 0 THEN round(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END
FROM c
UNION ALL
SELECT 3, 'purchase', n2,
       CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END
FROM c
"""


ORACLES["q_funnel"] = _funnel_oracle()
# The streaming stateful funnel re-folds the full per-user history
# each batch, so its availableNow endpoint equals the batch funnel
# exactly — oracle shared verbatim.
ORACLES["q_stream_funnel"] = _funnel_oracle()

# Restart-capable funnel: the oracle replays the Spark fold exactly —
# per user, events in (ts, step_idx) order drive a RECURSIVE CTE whose
# state is the k-slot latest-completion list (slot 1 refreshes on
# every step-0 event; slot i takes the event time when slot i-1 is set
# and the gap fits the window). Counts = non-null slots at each
# user's final row. Single-level lambda only (nested DuckDB lambdas
# miscompute — see the BPE oracle note).
oracle("q_funnel_restart")(
    """
WITH RECURSIVE steps(si, et) AS (
  SELECT * FROM (VALUES (0, 'view'), (1, 'click'), (2, 'purchase')) v
),
ev AS (
  SELECT e.user_id, epoch_us(e.ts) AS us, s.si,
         row_number() OVER (
           PARTITION BY e.user_id ORDER BY epoch_us(e.ts), s.si
         ) AS idx
  FROM events e JOIN steps s ON e.event_type = s.et
),
n AS (SELECT user_id, max(idx) AS mx FROM ev GROUP BY user_id),
rec AS (
  SELECT user_id, 0 AS idx,
         [NULL::BIGINT, NULL::BIGINT, NULL::BIGINT] AS st
  FROM n
  UNION ALL
  SELECT r.user_id, r.idx + 1,
         list_transform(range(1, 4), i -> CASE
            WHEN e.si = i - 1 AND i = 1 THEN e.us
            WHEN e.si = i - 1 AND r.st[i-1] IS NOT NULL
                 AND e.us >= r.st[i-1]
                 AND e.us - r.st[i-1] <= 3600000000
              THEN e.us
            ELSE r.st[i] END)
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.idx = r.idx + 1
),
fin AS (
  SELECT r.user_id, r.st
  FROM rec r JOIN n ON r.user_id = n.user_id AND r.idx = n.mx
),
c AS (
  SELECT CAST(count(st[1]) AS BIGINT) AS n0,
         CAST(count(st[2]) AS BIGINT) AS n1,
         CAST(count(st[3]) AS BIGINT) AS n2
  FROM fin
)
SELECT CAST(1 AS INT) AS step, 'view' AS event_type, n0 AS n_users,
       CASE WHEN n0 > 0 THEN round(CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END AS conversion
FROM c
UNION ALL
SELECT 2, 'click', n1,
       CASE WHEN n0 > 0 THEN round(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END
FROM c
UNION ALL
SELECT 3, 'purchase', n2,
       CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END
FROM c
"""
)
ORACLES["q_funnel_windowed"] = _funnel_oracle(3600000000)

oracle("q_hot_keys")(
    """
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
SELECT user_id, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
FROM c, t
WHERE CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) >= 0.0015
"""
)



# Validation suite: one conditional-sum scan + one NOT EXISTS probe,
# mirroring run_checks()'s single-aggregate + anti-join shape. Metric
# formula matches the Spark side token-for-token (1.0 - v/t in IEEE
# doubles, same operand order) so the hash compare is exact.
oracle("q_validate_orders")(
    """
WITH s AS (
  SELECT
    count(*) AS n_all,
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
    count(o_orderkey) AS t_uk,
    count(DISTINCT o_orderkey) AS d_uk,
    count(o_orderstatus) AS t_st,
    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('F','O') THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
    count(o_totalprice) AS t_pr,
    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0.0 OR o_totalprice > 100000.0)
              THEN 1 ELSE 0 END) AS BIGINT) AS v_pr,
    count(o_orderpriority) AS t_op,
    CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
              THEN 1 ELSE 0 END) AS BIGINT) AS v_op,
    CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE)
              THEN 1 ELSE 0 END) AS BIGINT) AS v_sat,
    count(o_custkey) AS t_fk
  FROM orders
), fk AS (
  SELECT CAST(count(*) AS BIGINT) AS v_fk FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), grp AS (
  -- rows living in (custkey, priority) groups smaller than 3
  SELECT CAST(coalesce(sum(CASE WHEN gn < 3 THEN gn ELSE 0 END), 0) AS BIGINT) AS v_grp
  FROM (SELECT count(*) AS gn FROM orders GROUP BY o_custkey, o_orderpriority)
)
SELECT * FROM (
  SELECT 'not_null(o_custkey)' AS "constraint", 'o_custkey' AS target,
         n_all AS total, v_nn AS violations,
         CASE WHEN n_all > 0 THEN CAST(1.0 AS DOUBLE) - v_nn / n_all
              ELSE CAST(1.0 AS DOUBLE) END AS metric,
         v_nn = 0 AS passed
  FROM s, fk
  UNION ALL
  SELECT 'unique(o_orderkey)', 'o_orderkey', t_uk, t_uk - d_uk,
         CASE WHEN t_uk > 0 THEN CAST(1.0 AS DOUBLE) - (t_uk - d_uk) / t_uk
              ELSE CAST(1.0 AS DOUBLE) END,
         (t_uk - d_uk) = 0
  FROM s, fk
  UNION ALL
  SELECT 'accepted_values(o_orderstatus,[F,O])', 'o_orderstatus', t_st, v_st,
         CASE WHEN t_st > 0 THEN CAST(1.0 AS DOUBLE) - v_st / t_st
              ELSE CAST(1.0 AS DOUBLE) END,
         v_st = 0
  FROM s, fk
  UNION ALL
  SELECT 'in_range(o_totalprice,0.0,100000.0)', 'o_totalprice', t_pr, v_pr,
         CASE WHEN t_pr > 0 THEN CAST(1.0 AS DOUBLE) - v_pr / t_pr
              ELSE CAST(1.0 AS DOUBLE) END,
         v_pr = 0
  FROM s, fk
  UNION ALL
  SELECT 'matches_regex(o_orderpriority)', 'o_orderpriority', t_op, v_op,
         CASE WHEN t_op > 0 THEN CAST(1.0 AS DOUBLE) - v_op / t_op
              ELSE CAST(1.0 AS DOUBLE) END,
         v_op = 0
  FROM s, fk
  UNION ALL
  SELECT 'satisfies(positive_price)', '*', n_all, v_sat,
         CASE WHEN n_all > 0 THEN CAST(1.0 AS DOUBLE) - v_sat / n_all
              ELSE CAST(1.0 AS DOUBLE) END,
         v_sat = 0
  FROM s, fk
  UNION ALL
  SELECT 'foreign_key(o_custkey->customer.c_custkey)', 'o_custkey', t_fk, v_fk,
         CASE WHEN t_fk > 0 THEN CAST(1.0 AS DOUBLE) - v_fk / t_fk
              ELSE CAST(1.0 AS DOUBLE) END,
         v_fk = 0
  FROM s, fk
  UNION ALL
  SELECT 'min_group_size([o_custkey,o_orderpriority],3)',
         'o_custkey,o_orderpriority', n_all, v_grp,
         CASE WHEN n_all > 0 THEN CAST(1.0 AS DOUBLE) - v_grp / n_all
              ELSE CAST(1.0 AS DOUBLE) END,
         v_grp = 0
  FROM s, grp
) ORDER BY "constraint"
"""
)


# Trailing-hour RANGE frame: the (N-1) PRECEDING bound mirrors the
# Spark rangeBetween(-3600e6 + 1, 0) half-open trailing hour.
# sum(...) OVER widens to HUGEINT in DuckDB; the driver's value hash
# distinguishes integer representations, so cast the output back to
# BIGINT (Spark emits bigint) — CORRECTNESS_r07 failed on exactly this.
oracle("q_rolling_hourly")(
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(round(value*100) AS BIGINT) AS value_cents,
       count(*) OVER w AS n_window,
       CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
         AS sum_cents,
       min(CAST(round(value*100) AS BIGINT)) OVER w AS min_cents,
       max(CAST(round(value*100) AS BIGINT)) OVER w AS max_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
"""
)


# list_reduce left-fold with the SAME operand order as the Spark
# F.aggregate lambda (acc*0.75 + x*0.25) -> bit-identical doubles,
# compared unrounded. Seed = first element, fold over the rest.
oracle("q_ewma_value")(
    """
WITH ordered AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS xs
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(xs) AS BIGINT) AS n_points,
       list_reduce(xs, (acc, x) -> acc * CAST(0.75 AS DOUBLE)
                                   + x * CAST(0.25 AS DOUBLE)) AS ewma
FROM ordered
"""
)


# 6h grid per user via generate_series; ffill through a windowed
# last-non-null over the gap-filled frame, exactly like the Spark
# rowsBetween(unboundedPreceding, 0) last(ignorenulls) pass.
oracle("q_resample_6h")(
    """
WITH c AS (
  SELECT user_id, (epoch_us(ts) // 21600000000) * 21600000000 AS bucket_us,
         CAST(round(value*100) AS BIGINT) AS x,
         -- NULL-valued rows sort LAST so rn=1 is the latest non-NULL
         -- observation, mirroring Spark's max_by over a NULL-skipping
         -- ordering key (pipeline/timeseries.py::resample_gapfill)
         row_number() OVER (PARTITION BY user_id,
                            (epoch_us(ts) // 21600000000)
                            ORDER BY (round(value*100) IS NULL),
                                     epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
), obs AS (
  -- DuckDB 1.0's arg_max has no composite-key overload, so the
  -- last-in-bucket pick rides a row_number instead.
  SELECT user_id, bucket_us,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(x) AS BIGINT) AS sum_cents,
         max(CASE WHEN rn = 1 AND x IS NOT NULL THEN x END) AS last_obs
  FROM c GROUP BY 1, 2
), grid AS (
  SELECT user_id, unnest(generate_series(min(bucket_us), max(bucket_us),
                                         21600000000)) AS bucket_us
  FROM obs GROUP BY user_id
)
SELECT g.user_id, g.bucket_us,
       CAST(coalesce(o.n_events, 0) AS BIGINT) AS n_events,
       -- 0 only for GRID GAPS (no observed row); an observed bucket
       -- whose values are all NULL keeps a NULL sum, like Spark
       CAST(CASE WHEN o.n_events IS NULL THEN 0 ELSE o.sum_cents END
            AS BIGINT) AS sum_cents,
       last_value(o.last_obs IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_cents
FROM grid g LEFT JOIN obs o USING (user_id, bucket_us)
"""
)


# Winsorize: thresholds from DuckDB's NATIVE quantile_disc — an
# independent implementation of the rank-ceil(n*p) statistic the
# Spark histogram walk computes; clamp mirrored term for term.
# Groups with zero non-NULL values have no thresholds on either side.
oracle("q_winsorize")(
    """
WITH base AS (
  SELECT event_id, event_type,
         CASE WHEN value IS NOT NULL AND NOT isnan(value)
              THEN CAST(round(value*100) AS BIGINT) END AS x
  FROM events
),
thr AS (
  SELECT event_type,
         quantile_disc(x, 0.01) AS lo, quantile_disc(x, 0.99) AS hi
  FROM base GROUP BY event_type
  HAVING count(x) > 0
)
SELECT b.event_id, b.event_type, b.x AS value_cents,
       t.lo AS lo_cents, t.hi AS hi_cents,
       -- NULL guard mirrors the Spark side: greatest/least skip
       -- nulls in both engines, which would fabricate lo for a
       -- missing value
       CASE WHEN b.x IS NOT NULL
            THEN least(greatest(b.x, t.lo), t.hi) END AS clipped_cents,
       CASE WHEN b.x IS NOT NULL
            THEN least(greatest(b.x, t.lo), t.hi) <> b.x END AS was_clipped
FROM base b JOIN thr t USING (event_type)
"""
)


# Exact 3-sigma test in HUGEINT (dev*dev, NOT ^2 — DuckDB's power
# operator returns DOUBLE and would break exactness): mirrors the
# Spark decimal(38,0) inequality term for term.
oracle("q_anomaly_values")(
    """
WITH c AS (
  SELECT event_id, event_type, CAST(round(value*100) AS HUGEINT) AS x
  FROM events
), s AS (
  -- count(x): NULL values are absent from n AND the sums (mirrors
  -- timeseries.py::anomaly_flags)
  SELECT event_type, CAST(count(x) AS HUGEINT) AS n,
         sum(x) AS s1, sum(x*x) AS s2
  FROM c GROUP BY 1
)
SELECT c.event_id, c.event_type, CAST(c.x AS BIGINT) AS value_cents,
       CAST(s.n AS BIGINT) AS n_group
FROM c JOIN s USING (event_type)
WHERE s.n >= 2
  AND (s.n - 1) * (s.n * c.x - s.s1) * (s.n * c.x - s.s1)
      > 9 * s.n * (s.n * s.s2 - s.s1 * s.s1)
"""
)


# Markov transitions: lag window + pair counts; prob is the same
# single bigint/bigint IEEE division as the Spark side (unrounded).
oracle("q_event_transitions")(
    """
WITH seq AS (
  -- row_number (not lag-IS-NULL) decides "first event", mirroring
  -- reports.py::event_transitions: a mid-sequence NULL-typed
  -- predecessor keeps its NULL label
  SELECT CASE WHEN row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) = 1
              THEN '__start__'
              ELSE lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
         END AS prev_type,
         event_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM seq GROUP BY 1, 2
), totals AS (
  SELECT prev_type, sum(n) AS total_from_prev FROM pairs GROUP BY 1
)
SELECT p.prev_type, p.event_type, p.n,
       CAST(t.total_from_prev AS BIGINT) AS total_from_prev,
       CAST(p.n AS DOUBLE) / CAST(t.total_from_prev AS DOUBLE) AS prob
FROM pairs p JOIN totals t USING (prev_type)
"""
)


# Ground-truth banded O(n^2) levenshtein join: a match here that the
# SymSpell blocking missed would be a FALSE NEGATIVE and fail the
# row-count compare — the oracle checks the blocking guarantee, not
# just the verify step.
oracle("q_editdist_join")(
    """
WITH p AS (
  SELECT doc_id, lower(substr(text, 1, 24)) AS pf FROM documents
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(levenshtein(a.pf, b.pf) AS INTEGER) AS dist
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE abs(len(a.pf) - len(b.pf)) <= 1
  AND levenshtein(a.pf, b.pf) <= 1
"""
)


# Streaming train-batch/score-stream anomaly shares the batch oracle
# verbatim: the flag must be micro-batch-boundary-independent.
ORACLES["q_stream_anomaly"] = ORACLES["q_anomaly_values"]


# Triangle counting ground truth: the same degree-ordered orientation
# unrolled as SQL. The support cutoff is pure integer arithmetic
# (4*c*n >= 5*sum), so edge sets match exactly; clustering is one
# bigint IEEE division, compared unrounded.
oracle("q_triangle_count")(
    """
WITH os AS (SELECT DISTINCT l_orderkey o, l_suppkey s FROM lineitem),
p AS (
  SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS c
  FROM os a JOIN os b ON a.o = b.o AND a.s < b.s GROUP BY 1, 2
), e AS (
  SELECT u, v FROM p
  WHERE c * 4 * (SELECT count(*) FROM p) >= (SELECT sum(c) FROM p) * 5
), deg AS (
  SELECT x, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM o e1 JOIN o e2 ON e1.b = e2.a
  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
), pv AS (
  SELECT vertex, count(*) AS nt
  FROM (SELECT unnest(list_value(x, y, z)) AS vertex FROM tri)
  GROUP BY 1
)
SELECT deg.x AS vertex, deg.d AS degree,
       CAST(coalesce(pv.nt, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN 2.0 * CAST(coalesce(pv.nt, 0) AS BIGINT)
                 / (deg.d * (deg.d - 1))
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN pv ON pv.vertex = deg.x
"""
)


# Chunked rolling is byte-identical to the single-partition path.
ORACLES["q_rolling_chunked"] = ORACLES["q_rolling_hourly"]
# Streaming accumulate-then-scan equals the batch result exactly.
ORACLES["q_stream_rolling"] = ORACLES["q_rolling_hourly"]


# Correlation matrix: HUGEINT moment sums mirror the decimal(38,0)
# sums; corr = cov_n / sqrt(varx_n * vary_n) in the same three IEEE
# ops (sqrt is correctly rounded per IEEE 754), compared unrounded.
oracle("q_corr_matrix")(
    """
WITH c AS (
  SELECT CAST(round(l_quantity*100) AS HUGEINT) AS x1,
         CAST(round(l_extendedprice*100) AS HUGEINT) AS x2,
         CAST(round(l_discount*100) AS HUGEINT) AS x3,
         CAST(round(l_tax*100) AS HUGEINT) AS x4
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(x1) s1, sum(x2) s2, sum(x3) s3, sum(x4) s4,
         sum(x1*x1) q1, sum(x2*x2) q2, sum(x3*x3) q3, sum(x4*x4) q4,
         sum(x1*x2) p12, sum(x1*x3) p13, sum(x1*x4) p14,
         sum(x2*x3) p23, sum(x2*x4) p24, sum(x3*x4) p34
  FROM c
)
SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
       CASE WHEN vx > 0 AND vy > 0 THEN cv / sqrt(vx * vy) END AS corr
FROM (
  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
         CAST(n*p12 - s1*s2 AS DOUBLE) cv,
         CAST(n*q1 - s1*s1 AS DOUBLE) vx, CAST(n*q2 - s2*s2 AS DOUBLE) vy
  FROM s
  UNION ALL
  SELECT 'l_quantity', 'l_discount', n,
         CAST(n*p13 - s1*s3 AS DOUBLE),
         CAST(n*q1 - s1*s1 AS DOUBLE), CAST(n*q3 - s3*s3 AS DOUBLE) FROM s
  UNION ALL
  SELECT 'l_quantity', 'l_tax', n,
         CAST(n*p14 - s1*s4 AS DOUBLE),
         CAST(n*q1 - s1*s1 AS DOUBLE), CAST(n*q4 - s4*s4 AS DOUBLE) FROM s
  UNION ALL
  SELECT 'l_extendedprice', 'l_discount', n,
         CAST(n*p23 - s2*s3 AS DOUBLE),
         CAST(n*q2 - s2*s2 AS DOUBLE), CAST(n*q3 - s3*s3 AS DOUBLE) FROM s
  UNION ALL
  SELECT 'l_extendedprice', 'l_tax', n,
         CAST(n*p24 - s2*s4 AS DOUBLE),
         CAST(n*q2 - s2*s2 AS DOUBLE), CAST(n*q4 - s4*s4 AS DOUBLE) FROM s
  UNION ALL
  SELECT 'l_discount', 'l_tax', n,
         CAST(n*p34 - s3*s4 AS DOUBLE),
         CAST(n*q3 - s3*s3 AS DOUBLE), CAST(n*q4 - s4*s4 AS DOUBLE) FROM s
)
ORDER BY col_x, col_y
"""
)


# Hashed linear classifier: same md5 60-bit bucket construction as
# splits/dedup; integer milli-weights summed exactly, so the logit and
# label compare bit-for-bit. prob is one exp on the final scalar,
# rounded to 6 on both engines.
oracle("q_quality_classifier")(
    """
WITH toks AS (
  SELECT doc_id,
         list_filter(
           string_split(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           x -> x <> '') AS w
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(w) AS f FROM toks
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(len(w) - 1),
                               i -> w[i+1] || ' ' || w[i+2])) AS f
  FROM toks WHERE len(w) >= 2
),
wt AS (
  SELECT i AS bucket,
         (('0x' || substr(md5('qw' || i), 1, 15))::BIGINT % 2001) - 1000 AS w_milli
  FROM range(0, 4096) t(i)
),
fb AS (
  SELECT doc_id,
         ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket
  FROM feats
)
SELECT fb.doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(coalesce(sum(wt.w_milli), 0) AS BIGINT) AS logit_milli,
       coalesce(sum(wt.w_milli), 0) > 0 AS label,
       round(1.0 / (1.0 + exp(-(coalesce(sum(wt.w_milli), 0)) / 1000.0)), 6)
         AS prob
FROM fb LEFT JOIN wt USING (bucket)
GROUP BY fb.doc_id
"""
)


# Mirrors q_calibration: the classifier oracle's scored frame joined
# to the lang='en' reference label, then the decile-bin algebra —
# mean_prob via an order-proof DECIMAL(38,18) sum into ONE double
# division, frac_actual one int-to-double division, abs_gap from the
# ROUNDED values (all mirrored term-for-term).
_CLF_SCORED_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(
           string_split(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           x -> x <> '') AS w
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(w) AS f FROM toks
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(len(w) - 1),
                               i -> w[i+1] || ' ' || w[i+2])) AS f
  FROM toks WHERE len(w) >= 2
),
wt AS (
  SELECT i AS bucket,
         (('0x' || substr(md5('qw' || i), 1, 15))::BIGINT % 2001) - 1000 AS w_milli
  FROM range(0, 4096) t(i)
),
fb AS (
  SELECT doc_id,
         ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket
  FROM feats
),
scored AS (
  SELECT fb.doc_id,
         coalesce(sum(wt.w_milli), 0) > 0 AS label,
         round(1.0 / (1.0 + exp(-(coalesce(sum(wt.w_milli), 0)) / 1000.0)), 6)
           AS prob
  FROM fb LEFT JOIN wt USING (bucket)
  GROUP BY fb.doc_id
),
lab AS (
  SELECT s.doc_id, s.label, s.prob, d.lang = 'en' AS actual
  FROM scored s JOIN documents d USING (doc_id)
)
"""

ORACLES["q_calibration"] = (
    "WITH " + _CLF_SCORED_CTE + """,
bins AS (
  SELECT least(CAST(floor(prob * 10) AS INT), 9) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         round(CAST(SUM(CAST(prob AS DECIMAL(38,18))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mean_prob,
         round(CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS frac_actual
  FROM lab GROUP BY 1
)
SELECT bin, n_docs, mean_prob, frac_actual,
       round(abs(mean_prob - frac_actual), 6) AS abs_gap
FROM bins ORDER BY bin"""
)


# Mirrors q_calibration_ece: the calibration oracle wrapped in the
# mass-weighted fold — n_docs·abs_gap exact in DECIMAL (abs_gap ≤6dp),
# the sum order-proof, one double division by N, rounded 6.
ORACLES["q_calibration_ece"] = f"""
SELECT CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_bins_used,
       CASE WHEN coalesce(sum(n_docs), 0) > 0 THEN round(
         CAST(SUM(CAST(CAST(n_docs AS DECIMAL(20,0))
                       * CAST(abs_gap AS DECIMAL(18,6))
                       AS DECIMAL(38,18))) AS DOUBLE)
         / CAST(sum(n_docs) AS DOUBLE), 6) END AS ece
FROM ({ORACLES["q_calibration"]})
"""


# Mirrors q_classifier_kappa: the same scored+reference frame into
# the exact-count kappa arithmetic — po/pe/kappa as single double
# divisions in the Spark term order, NULL kappa at pe = 1.
ORACLES["q_classifier_kappa"] = (
    "WITH " + _CLF_SCORED_CTE + """,
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN label AND actual THEN 1 ELSE 0 END)
              AS BIGINT) AS nboth
  FROM lab
)
SELECT n AS n_docs,
       CASE WHEN n > 0 THEN round(
         CAST(nboth + (n - na - nb + nboth) AS DOUBLE)
           / CAST(n AS DOUBLE), 6) END AS po,
       CASE WHEN n > 0 THEN round(
         (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(n - na AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n - nb AS DOUBLE) / CAST(n AS DOUBLE)), 6) END AS pe,
       CASE WHEN n > 0 AND (
           (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
           + (CAST(n - na AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(n - nb AS DOUBLE) / CAST(n AS DOUBLE))) < 1.0
       THEN round(
         ((CAST(nboth + (n - na - nb + nboth) AS DOUBLE)
             / CAST(n AS DOUBLE))
          - ((CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
             + (CAST(n - na AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(n - nb AS DOUBLE) / CAST(n AS DOUBLE))))
         / (1.0 - ((CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                   + (CAST(n - na AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(n - nb AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
       END AS kappa
FROM c"""
)


# Rolling active users: the oracle states trailing-distinct directly
# (correlated BETWEEN over user-days) — first-principles ground truth
# for the Spark side's fan-out reformulation.
oracle("q_rolling_active_users")(
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM du)
SELECT days.d AS day,
       (SELECT CAST(count(*) AS BIGINT) FROM du WHERE du.d = days.d) AS dau,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM du
         WHERE du.d BETWEEN days.d - 6 AND days.d) AS rolling_users
FROM days
"""
)


# MAD outliers: med2/mad2 are TWICE the medians so every quantity is
# an exact integer even when a median interpolates between two values;
# DuckDB's median() interpolation (a+b)/2 doubled is exactly a+b.
oracle("q_anomaly_mad")(
    """
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
),
med AS (
  SELECT event_type, CAST(2 * median(x) AS BIGINT) AS med2,
         CAST(count(x) AS BIGINT) AS n
  FROM base GROUP BY event_type
),
dev AS (
  SELECT b.event_id, b.event_type, b.x, abs(2 * b.x - m.med2) AS d2, m.n
  FROM base b JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad2
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.x AS value_cents, d.n AS n_group
FROM dev d JOIN mad USING (event_type)
WHERE d.n >= 2 AND 2 * d.d2 > 3 * mad.mad2
"""
)


# CUSUM: same prefix-scan closed form y_i = S_i - min(0, min S_j).
# All quantities n_t-scaled integers; HUGEINT running sums mirror the
# Spark side's decimal(38,0).
oracle("q_changepoint_cusum")(
    """
WITH tr AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_t
  FROM events WHERE ts < TIMESTAMP '2024-01-10'
  GROUP BY event_type
),
sc AS (
  SELECT e.event_id, e.event_type, epoch_us(e.ts) AS us, tr.n_t,
         CAST(tr.n_t * CAST(round(e.value * 100) AS BIGINT)
              - tr.s_t - tr.n_t * 2500 AS HUGEINT) AS d
  FROM events e JOIN tr USING (event_type)
  WHERE e.ts >= TIMESTAMP '2024-01-10'
),
c1 AS (
  SELECT *, sum(d) OVER (PARTITION BY event_type
                         ORDER BY us, event_id) AS cum
  FROM sc
),
c2 AS (
  SELECT *, least(min(cum) OVER (PARTITION BY event_type
                                 ORDER BY us, event_id),
                  CAST(0 AS HUGEINT)) AS runmin
  FROM c1
)
SELECT event_id, event_type, us AS ts_us,
       -- BIGINT at the output boundary (HUGEINT internal): the
       -- driver hash renders DECIMAL differently from Spark bigint.
       -- DuckDB raises on an out-of-range HUGEINT->BIGINT cast, the
       -- same loud-overflow contract as the Spark side's guard.
       CAST(cum - runmin AS BIGINT) AS cusum_scaled,
       n_t AS n_train
FROM c2 WHERE cum - runmin > CAST(n_t AS HUGEINT) * 25000
"""
)


# Product quantization: the oracle re-runs the full PQ pipeline —
# data-derived init (subvectors of the 16 smallest vec_ids), two
# Lloyd's iterations per subspace (assign by lip - |c|^2/2, decimal
# component means), encoding, per-query ADC distance tables via the
# three-fold identity |q|^2 - 2 q.c + |c|^2, and exact-decimal ranked
# sums. Every float op is a dim-sequential fold on both engines.


def _pq_train_iteration(prev: str, new: str, tag: str) -> str:
    return f"""
a{tag} AS (
  SELECT vec_id, sub, sv, code FROM (
    SELECT s.vec_id, s.sub, s.sv, cb.code,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
              ORDER BY list_inner_product(s.sv, cb.cv) - cb.sqn/2 DESC,
                       cb.code ASC) AS rn
    FROM subv s JOIN {prev} cb ON cb.sub = s.sub) WHERE rn = 1
),
s{tag} AS (
  SELECT sub, code, i AS pos,
         SUM(CAST(sv[i] AS DECIMAL(38,18))) AS s, COUNT(*) AS n
  FROM a{tag}, range(1, 9) t(i) GROUP BY sub, code, i
),
m{tag} AS (
  SELECT sub, code, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS mv
  FROM s{tag} GROUP BY sub, code
),
{new} AS (
  SELECT p.sub, p.code, COALESCE(q.mv, p.cv) AS cv,
         list_inner_product(COALESCE(q.mv, p.cv), COALESCE(q.mv, p.cv)) AS sqn
  FROM {prev} p LEFT JOIN m{tag} q ON q.sub = p.sub AND q.code = p.code
)"""


oracle("q_pq_topk")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ids AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code
  FROM vecs QUALIFY row_number() OVER (ORDER BY vec_id) <= 16
),
subv AS (
  SELECT vec_id, CAST(s AS INT) AS sub, v[(s*8+1):(s*8+8)] AS sv
  FROM vecs, range(0, 8) t(s)
),
cb0 AS (
  SELECT sv.sub, ids.code, sv.sv AS cv,
         list_inner_product(sv.sv, sv.sv) AS sqn
  FROM subv sv JOIN ids USING (vec_id)
),
{_pq_train_iteration('cb0', 'cb1', '0')},
{_pq_train_iteration('cb1', 'cb2', '1')},
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT s.vec_id, s.sub, cb.code,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
              ORDER BY list_inner_product(s.sv, cb.cv) - cb.sqn/2 DESC,
                       cb.code ASC) AS rn
    FROM subv s JOIN cb2 cb ON cb.sub = s.sub) WHERE rn = 1
),
dtab AS (
  SELECT s.vec_id AS query_id, s.sub, cb.code,
         CAST(list_inner_product(s.sv, s.sv)
              - 2*list_inner_product(s.sv, cb.cv)
              + list_inner_product(cb.cv, cb.cv) AS DECIMAL(38,18)) AS d2
  FROM subv s JOIN cb2 cb ON cb.sub = s.sub
  WHERE s.vec_id < 8
),
scored AS (
  SELECT d.query_id, e.vec_id AS neighbor_id, SUM(d.d2) AS d2
  FROM enc e JOIN dtab d ON d.sub = e.sub AND d.code = e.code
  WHERE d.query_id <> e.vec_id
  GROUP BY d.query_id, e.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(CAST(d2 AS DOUBLE), 6) AS approx_d2,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)


# Streaming classifier: identical semantics to the batch query.
ORACLES["q_stream_classifier"] = ORACLES["q_quality_classifier"]

# Chunked CUSUM is bit-identical to the sequential path.
ORACLES["q_cusum_chunked"] = ORACLES["q_changepoint_cusum"]
# Streaming ingestion + closed-form scan over the accumulated history
# must equal the batch result exactly (batch-split independence).
ORACLES["q_stream_cusum"] = ORACLES["q_changepoint_cusum"]


# IVF+PQ composition: untrained-IVF candidate pruning (the q_ivf_topk
# assignment/probe CTEs) + the full PQ chain from q_pq_topk; scoring
# runs only over probed-cell candidates.
oracle("q_ivfpq_topk")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
centroids(cid, cv0) AS (VALUES
  {_IVF_CENTROIDS}),
iassign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv0) DESC, cid ASC) AS rn
    FROM vecs, centroids) WHERE rn = 1
),
iprobes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv0) DESC, cid ASC) AS rn
    FROM vecs, centroids WHERE vec_id < 8) WHERE rn <= 4
),
cands AS (
  SELECT p.query_id, a.vec_id
  FROM iprobes p JOIN iassign a USING (cid)
  WHERE p.query_id <> a.vec_id
),
ids AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code
  FROM vecs QUALIFY row_number() OVER (ORDER BY vec_id) <= 16
),
subv AS (
  SELECT vec_id, CAST(s AS INT) AS sub, v[(s*8+1):(s*8+8)] AS sv
  FROM vecs, range(0, 8) t(s)
),
cb0 AS (
  SELECT sv.sub, ids.code, sv.sv AS cv,
         list_inner_product(sv.sv, sv.sv) AS sqn
  FROM subv sv JOIN ids USING (vec_id)
),
{_pq_train_iteration('cb0', 'cb1', '0')},
{_pq_train_iteration('cb1', 'cb2', '1')},
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT s.vec_id, s.sub, cb.code,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
              ORDER BY list_inner_product(s.sv, cb.cv) - cb.sqn/2 DESC,
                       cb.code ASC) AS rn
    FROM subv s JOIN cb2 cb ON cb.sub = s.sub) WHERE rn = 1
),
dtab AS (
  SELECT s.vec_id AS query_id, s.sub, cb.code,
         CAST(list_inner_product(s.sv, s.sv)
              - 2*list_inner_product(s.sv, cb.cv)
              + list_inner_product(cb.cv, cb.cv) AS DECIMAL(38,18)) AS d2
  FROM subv s JOIN cb2 cb ON cb.sub = s.sub
  WHERE s.vec_id < 8
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id, SUM(d.d2) AS d2
  FROM cands c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN dtab d ON d.query_id = c.query_id AND d.sub = e.sub AND d.code = e.code
  GROUP BY c.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(CAST(d2 AS DOUBLE), 6) AS approx_d2,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)


# Exact group quantiles: DuckDB's native quantile_disc (rank
# ceil(n*p), boundary-exact — probed empirically) is an INDEPENDENT
# implementation of the statistic the rank walk computes.
oracle("q_group_quantiles")(
    """
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x FROM events
)
SELECT event_type,
       CAST(count(x) AS BIGINT) AS n,
       CAST(quantile_disc(x, 0.25) AS BIGINT) AS p25,
       CAST(quantile_disc(x, 0.50) AS BIGINT) AS p50,
       CAST(quantile_disc(x, 0.75) AS BIGINT) AS p75,
       CAST(quantile_disc(x, 0.95) AS BIGINT) AS p95,
       CAST(quantile_disc(x, 0.99) AS BIGINT) AS p99
FROM base GROUP BY event_type
"""
)


# Label propagation: synchronous sweeps replayed as chained CTEs —
# most-frequent neighbor label, lowest-label ties.
oracle("q_communities")(
    """
WITH pairs AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
support AS (
  SELECT a.s AS u, b.s AS v, count(*) AS c
  FROM pairs a JOIN pairs b USING (o) WHERE a.s < b.s GROUP BY a.s, b.s
),
tot AS (SELECT sum(c) AS sc, count(*) AS cc FROM support),
edges AS (SELECT u, v FROM support, tot WHERE c * 4 * cc >= sc * 5),
e AS (
  SELECT u AS s, v AS d FROM edges
  UNION
  SELECT v AS s, u AS d FROM edges
),
verts AS (SELECT DISTINCT s AS v FROM e),
l0 AS (SELECT v, v AS lab FROM verts),
c1 AS (
  SELECT e.s AS v, l.lab, count(*) AS c
  FROM e JOIN l0 l ON l.v = e.d GROUP BY e.s, l.lab
),
l1 AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
    FROM c1) WHERE rn = 1
),
c2 AS (
  SELECT e.s AS v, l.lab, count(*) AS c
  FROM e JOIN l1 l ON l.v = e.d GROUP BY e.s, l.lab
),
l2 AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
    FROM c2) WHERE rn = 1
),
c3 AS (
  SELECT e.s AS v, l.lab, count(*) AS c
  FROM e JOIN l2 l ON l.v = e.d GROUP BY e.s, l.lab
),
l3 AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
    FROM c3) WHERE rn = 1
)
SELECT v AS vertex, lab AS label FROM l3
"""
)


# --- mergeable sketches --------------------------------------------------
# The md5->60-bit-bigint hash is the splits.py cross-engine identity:
# Spark conv(substr(md5(x),1,15),16,10) == DuckDB
# ('0x'||substr(md5(x),1,15))::BIGINT. All sketch state is integer;
# the single estimate division is IEEE-identical.

def _hll_regs(key_expr: str, groups_sql: str) -> str:
    """Shared register CTE body: p=6 (64 registers, 54-bit remainder,
    rho in 1..55, empty-register weight 2^55). groups_sql '' builds a
    single global sketch."""
    g = f"{groups_sql}, " if groups_sql else ""
    st_gby = f"GROUP BY {groups_sql}, reg" if groups_sql else "GROUP BY reg"
    agg_gby = f"GROUP BY {groups_sql}" if groups_sql else ""
    return f"""
h AS (
  SELECT {g}('0x' || substr(md5('hll:' || {key_expr}), 1, 15))::BIGINT AS h
  FROM __SRC__ WHERE {key_expr} IS NOT NULL
),
st AS (
  SELECT {g}h & 63 AS reg,
         max(CASE WHEN (h >> 6) > 0 THEN 55 - length(bin(h >> 6)) ELSE 55 END) AS r
  FROM h {st_gby}
),
agg AS (
  SELECT {g}CAST(count(*) AS BIGINT) AS regs_hit,
         CAST(sum(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s
  FROM st {agg_gby}
)"""


oracle("q_hll_distinct")(
    f"""
WITH {_hll_regs("CAST(user_id AS VARCHAR)", "event_type").replace("__SRC__", "events")}
SELECT event_type, regs_hit,
       CASE WHEN regs_hit = 0 THEN 0.0
            ELSE round(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                       * CAST(36028797018963968 AS DOUBLE)
                       / CAST(s + (64 - regs_hit) * (CAST(1 AS BIGINT) << 55) AS DOUBLE),
                       6) END AS est_distinct
FROM agg
"""
)


# Merging per-source register states by max equals computing the global
# registers directly (max is associative/commutative/idempotent), so
# the oracle skips the per-source intermediate.
oracle("q_hll_merge")(
    f"""
WITH {_hll_regs("text", "").replace("__SRC__", "documents")}
SELECT regs_hit,
       CASE WHEN regs_hit = 0 THEN 0.0
            ELSE round(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                       * CAST(36028797018963968 AS DOUBLE)
                       / CAST(s + (64 - regs_hit) * (CAST(1 AS BIGINT) << 55) AS DOUBLE),
                       6) END AS est_distinct
FROM agg
"""
)


oracle("q_cms_counts")(
    """
WITH rows4 AS (SELECT unnest([0, 1, 2, 3]) AS row),
cells AS (
  SELECT i.row AS row,
         ('0x' || substr(md5('cms:' || CAST(i.row AS VARCHAR) || ':'
                              || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 512 AS col
  FROM events, rows4 i WHERE user_id IS NOT NULL
),
sk AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact
  FROM events GROUP BY user_id
),
keys AS (SELECT user_id, exact FROM exact ORDER BY exact DESC, user_id LIMIT 20),
probes AS (
  SELECT k.user_id, i.row AS row,
         ('0x' || substr(md5('cms:' || CAST(i.row AS VARCHAR) || ':'
                              || CAST(k.user_id AS VARCHAR)), 1, 15))::BIGINT
           % 512 AS col
  FROM keys k, rows4 i
)
SELECT p.user_id, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est,
       max(k.exact) AS exact
FROM probes p
LEFT JOIN sk s USING (row, col)
JOIN keys k ON k.user_id = p.user_id
GROUP BY p.user_id
"""
)


# --- corpus line dedup + Gopher rules ------------------------------------

oracle("q_line_dedup")(
    """
WITH lined AS (
  SELECT doc_id,
         list_transform(
           range(1, (len(string_split(text, ' ')) + 11) // 12 + 1),
           i -> array_to_string(string_split(text, ' ')[(i-1)*12+1 : i*12], ' ')
         ) AS ls
  FROM documents
),
lines AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM lined
),
t AS (SELECT doc_id, pos, line, trim(line) AS tline FROM lines),
dups AS (
  SELECT tline FROM t WHERE tline <> ''
  GROUP BY tline HAVING count(*) >= 2
),
marked AS (
  SELECT t.doc_id, t.pos, t.line,
         (t.tline <> '' AND d.tline IS NOT NULL) AS drop
  FROM t LEFT JOIN dups d ON t.tline = d.tline
)
SELECT doc_id,
       CAST(sum(CASE WHEN NOT drop THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
       CAST(sum(CASE WHEN drop THEN 1 ELSE 0 END) AS BIGINT) AS dropped_lines,
       coalesce(string_agg(CASE WHEN NOT drop THEN line END, chr(10) ORDER BY pos), '')
         AS new_text
FROM marked GROUP BY doc_id
"""
)


# Novelty: first-owner = min doc_id per distinct shingle hash; per-doc
# novel counts from the owners frame, totals from the distinct frame —
# the same two-branch derivation as the Spark side, one IEEE division.
oracle("q_ngram_novelty")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (
  SELECT DISTINCT doc_id, md5(s) AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
  WHERE s IS NOT NULL
),
own AS (SELECT h, min(doc_id) AS owner FROM shx GROUP BY h),
nov AS (
  SELECT owner AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
  FROM own GROUP BY owner
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
  FROM shx GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(coalesce(n.n_novel, 0) AS DOUBLE)
         / CAST(t.n_shingles AS DOUBLE) AS novelty
FROM tot t LEFT JOIN nov n USING (doc_id)
"""
)


# Mirrors q_boilerplate_rate's planting (per-source header on every
# doc, rare footer on doc_id % 7 == 0) over the q_line_dedup 12-word
# pseudo-line restructuring; integer threshold n_docs*100 >= g*pct.
oracle("q_boilerplate_rate")(
    """
WITH lined AS (
  SELECT doc_id, source,
         'header banner for ' || source || chr(10) ||
         array_to_string(list_transform(
           range(1, (len(string_split(text, ' ')) + 11) // 12 + 1),
           i -> array_to_string(string_split(text, ' ')[(i-1)*12+1 : i*12], ' ')
         ), chr(10)) ||
         CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'rare footer line'
              ELSE '' END AS text
  FROM documents
),
nl AS (
  SELECT doc_id, source, md5(tline) AS lh
  FROM (
    SELECT doc_id, source,
           trim(unnest(string_split(text, chr(10)))) AS tline
    FROM lined
  ) WHERE tline <> ''
),
dfq AS (
  SELECT source, lh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM nl GROUP BY 1, 2
),
gs AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS g
  FROM lined GROUP BY 1
),
boiler AS (
  SELECT d.source, d.lh
  FROM dfq d JOIN gs USING (source)
  WHERE d.n_docs * 100 >= gs.g * 50
),
marked AS (
  SELECT nl.doc_id, nl.source, (b.lh IS NOT NULL) AS isb
  FROM nl LEFT JOIN boiler b ON b.source = nl.source AND b.lh = nl.lh
)
SELECT doc_id, source,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN isb THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST(sum(CASE WHEN isb THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS boiler_rate
FROM marked GROUP BY 1, 2
"""
)


oracle("q_gopher_rules")(
    """
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '') AS ws,
         string_split(text, chr(10)) AS ls
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS BIGINT) AS word_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + length(text) - length(replace(text, chr(8230), '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
           AS symbols,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS BIGINT) AS bullet_lines,
         CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS ellipsis_lines,
         CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                              s -> list_contains(ws, s))) AS BIGINT) AS stop_hits
  FROM base
),
r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN CAST(word_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS mean_wl,
         CASE WHEN n_words > 0
              THEN CAST(symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS symbol_r,
         CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_f,
         CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_f,
         CASE WHEN n_words > 0
              THEN CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS alpha_f,
         stop_hits
  FROM m
)

SELECT doc_id, n_words,
       round(mean_wl, 6) AS mean_word_len,
       round(symbol_r, 6) AS symbol_ratio,
       round(alpha_f, 6) AS alpha_frac,
       stop_hits,
       (n_words >= 30 AND n_words <= 100000
        AND mean_wl >= CAST(3.0 AS DOUBLE) AND mean_wl <= CAST(10.0 AS DOUBLE)
        AND symbol_r < CAST(0.1 AS DOUBLE)
        AND bullet_f < CAST(0.9 AS DOUBLE)
        AND ellipsis_f < CAST(0.3 AS DOUBLE)
        AND alpha_f >= CAST(0.8 AS DOUBLE)
        AND stop_hits >= 1) AS keep,
       coalesce(array_to_string(list_filter([
         CASE WHEN NOT (n_words >= 30 AND n_words <= 100000) THEN 'word_count' END,
         CASE WHEN NOT (mean_wl >= CAST(3.0 AS DOUBLE) AND mean_wl <= CAST(10.0 AS DOUBLE)) THEN 'mean_word_length' END,
         CASE WHEN NOT (symbol_r < CAST(0.1 AS DOUBLE)) THEN 'symbol_ratio' END,
         CASE WHEN NOT (bullet_f < CAST(0.9 AS DOUBLE)) THEN 'bullet_lines' END,
         CASE WHEN NOT (ellipsis_f < CAST(0.3 AS DOUBLE)) THEN 'ellipsis_lines' END,
         CASE WHEN NOT (alpha_f >= CAST(0.8 AS DOUBLE)) THEN 'alpha_words' END,
         CASE WHEN NOT (stop_hits >= 1) THEN 'stop_words' END
       ], x -> x IS NOT NULL), ','), '') AS fail_reasons
FROM r
"""
)


# Mirrors q_drop_reasons: the gopher oracle wrapped in the identical
# explode/aggregate — per-rule doc+word mass from non-kept docs, plus
# the '<kept>' disposition row (a static rule-name enum cannot collide
# with the sentinel).
ORACLES["q_drop_reasons"] = f"""
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(n_words), 0) AS BIGINT) AS n_words
FROM (
  SELECT unnest(string_split(fail_reasons, ',')) AS reason, n_words
  FROM ({ORACLES["q_gopher_rules"]}) WHERE NOT keep
) GROUP BY reason
UNION ALL
SELECT '<kept>' AS reason, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(n_words), 0) AS BIGINT) AS n_words
FROM ({ORACLES["q_gopher_rules"]}) WHERE keep
"""



# Streaming HLL state == batch HLL state (register max is a
# semilattice; batch splits and replays cannot change it).
ORACLES["q_stream_hll"] = ORACLES["q_hll_distinct"]


oracle("q_zscore")(
    """
WITH xi AS (
  SELECT event_id, event_type,
         CAST(round(value * 1000000) AS BIGINT)::HUGEINT AS x
  FROM events
),
st AS (
  SELECT event_type,
         CAST(count(x) AS HUGEINT) AS n,
         sum(x) AS sx,
         sum(x * x) AS sxx
  FROM xi GROUP BY event_type
)
SELECT xi.event_id, xi.event_type,
       CASE WHEN CAST(CAST(st.n * st.sxx - st.sx * st.sx AS VARCHAR) AS DOUBLE) > 0
            THEN round(
              CAST(CAST(st.n * xi.x - st.sx AS VARCHAR) AS DOUBLE)
              / sqrt(CAST(CAST(st.n * st.sxx - st.sx * st.sx AS VARCHAR) AS DOUBLE)),
              6)
       END AS z
FROM xi JOIN st ON xi.event_type = st.event_type
"""
)


oracle("q_unpivot")(
    """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(value AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE) AS total,
       min(value) AS vmin,
       max(value) AS vmax
FROM long GROUP BY measure
"""
)


# Mirrors Spark from_json('k INT') STRICTNESS exactly: only an
# unquoted JSON integer literal yields a value — a quoted "12" or a
# float 3.7 is NULL in Spark, while DuckDB's json_extract_string +
# CAST would accept '12' and round 3.7 to 4. json_valid guards the
# malformed-document case (Spark: null struct; raw json_extract:
# error).
oracle("q_props_parse")(
    """
WITH k AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
               AND regexp_matches(CAST(json_extract(props, '$.k') AS VARCHAR),
                                  '^-?[0-9]+$')
              THEN TRY_CAST(CAST(json_extract(props, '$.k') AS VARCHAR) AS INTEGER)
         END AS k
  FROM events
)
SELECT event_type,
       CAST(count(k) AS BIGINT) AS n_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM k GROUP BY event_type
"""
)


oracle("q_shortest_paths")(
    """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
d0 AS (
  SELECT c_custkey * 2 AS v, 0 AS dist FROM customer WHERE c_custkey <= 3
),
n1 AS (
  SELECT DISTINCT e.dst AS v, 1 AS dist
  FROM d0 JOIN edges e ON d0.v = e.src WHERE d0.dist = 0
),
d1 AS (
  SELECT v, min(dist) AS dist
  FROM (SELECT * FROM d0 UNION ALL SELECT * FROM n1) GROUP BY v
),
n2 AS (
  SELECT DISTINCT e.dst AS v, 2 AS dist
  FROM d1 JOIN edges e ON d1.v = e.src WHERE d1.dist = 1
),
d2 AS (
  SELECT v, min(dist) AS dist
  FROM (SELECT * FROM d1 UNION ALL SELECT * FROM n2) GROUP BY v
),
n3 AS (
  SELECT DISTINCT e.dst AS v, 3 AS dist
  FROM d2 JOIN edges e ON d2.v = e.src WHERE d2.dist = 2
),
d3 AS (
  SELECT v, min(dist) AS dist
  FROM (SELECT * FROM d2 UNION ALL SELECT * FROM n3) GROUP BY v
),
n4 AS (
  SELECT DISTINCT e.dst AS v, 4 AS dist
  FROM d3 JOIN edges e ON d3.v = e.src WHERE d3.dist = 3
),
d4 AS (
  SELECT v, min(dist) AS dist
  FROM (SELECT * FROM d3 UNION ALL SELECT * FROM n4) GROUP BY v
)
SELECT v, CAST(dist AS INTEGER) AS dist FROM d4
"""
)


oracle("q_bucketed_join")(
    """
SELECT o.o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
                     * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6))))
                 AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
"""
)


# Q8 share: both engines compute per-year totals as exact decimal
# sums; each share is one double division of VARCHAR-hopped doubles.
oracle("q_market_share")(
    """
WITH base AS (
  SELECT year(o.o_orderdate) AS o_year, n.n_name AS nation,
         CAST(l.l_extendedprice AS DECIMAL(12,6))
           * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6))) AS rev
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
),
per AS (
  SELECT o_year, nation, sum(rev) AS r FROM base GROUP BY 1, 2
)
SELECT o_year, nation,
       CAST(CAST(r AS VARCHAR) AS DOUBLE) AS revenue,
       round(CAST(CAST(r AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(r) OVER (PARTITION BY o_year) AS VARCHAR) AS DOUBLE),
             6) AS share
FROM per
"""
)


oracle("q_returned_items")(
    """
WITH agg AS (
  SELECT o.o_custkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
             * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6)))) AS r,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey AND year(o.o_orderdate) = 1997
  WHERE l.l_returnflag = 'R'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(CAST(a.r AS VARCHAR) AS DOUBLE) AS revenue,
       a.n_items
FROM agg a
JOIN customer c ON a.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""
)


oracle("q_topk_per_group")(
    """
SELECT p_brand, p_partkey, p_retailprice, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part
)
WHERE rk <= 3
"""
)


oracle("q_stream_hll_windowed")(
    f"""
WITH src AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id FROM events
),
{_hll_regs("CAST(user_id AS VARCHAR)", "day").replace("__SRC__", "src")}
SELECT day, regs_hit,
       CASE WHEN regs_hit = 0 THEN 0.0
            ELSE round(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                       * CAST(36028797018963968 AS DOUBLE)
                       / CAST(s + (64 - regs_hit) * (CAST(1 AS BIGINT) << 55) AS DOUBLE),
                       6) END AS est_distinct
FROM agg
"""
)


oracle("q_approx_distinct_profile")(
    f"""
WITH src AS (
  SELECT 'l_orderkey' AS "column", CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
  UNION ALL
  SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', l_returnflag FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', CAST(l_shipdate AS VARCHAR) FROM lineitem
),
{_hll_regs("v", '"column"').replace("__SRC__", "src")}
SELECT "column", regs_hit,
       CASE WHEN regs_hit = 0 THEN 0.0
            ELSE round(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                       * CAST(36028797018963968 AS DOUBLE)
                       / CAST(s + (64 - regs_hit) * (CAST(1 AS BIGINT) << 55) AS DOUBLE),
                       6) END AS est_distinct
FROM agg
"""
)


oracle("q_semantic_decontaminate")(
    """
WITH e AS (
  SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings WHERE vec_id % 97 = 0
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT c.vec_id, e.eid, list_cosine_similarity(cv, ev) AS cos FROM c, e
),
best AS (
  SELECT vec_id, eid, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid ASC) AS rn
  FROM scored WHERE cos IS NOT NULL
)
SELECT vec_id, eid AS eval_id, round(cos, 6) AS cos
FROM best WHERE rn = 1 AND cos >= 0.9
"""
)


# Constant-size eval set (production shape: fixed benchmark suite,
# growing corpus) — only the eval predicate differs from the sibling.
oracle("q_semantic_decontaminate_fixed")(
    """
WITH e AS (
  SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings WHERE vec_id < 64
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT c.vec_id, e.eid, list_cosine_similarity(cv, ev) AS cos FROM c, e
),
best AS (
  SELECT vec_id, eid, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid ASC) AS rn
  FROM scored WHERE cos IS NOT NULL
)
SELECT vec_id, eid AS eval_id, round(cos, 6) AS cos
FROM best WHERE rn = 1 AND cos >= 0.9
"""
)


# Composes the ENTIRE q_lm_score oracle (train->score) as a subquery,
# then ranks/buckets — one value-checked chain end to end.
oracle("q_quality_buckets")(
    """
WITH lmout AS (
WITH docs AS (
  SELECT doc_id, text AS t FROM documents WHERE length(text) >= 3
),
tri AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
  FROM docs, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) s
),
tc AS (SELECT tri, count(*) AS c3 FROM tri GROUP BY tri),
bc AS (SELECT substr(tri, 1, 2) AS bi, CAST(sum(c3) AS BIGINT) AS c2
       FROM tc GROUP BY 1),
model AS (
  SELECT tri, c3 / c2 AS p FROM tc JOIN bc ON substr(tc.tri, 1, 2) = bc.bi
),
scored AS (
  SELECT d.doc_id, coalesce(m.p, 1e-6) AS p
  FROM tri d LEFT JOIN model m USING (tri)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(CAST(SUM(CAST(round(p, 7) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*), 6) AS lm_score
FROM scored GROUP BY doc_id
),
j AS (
  SELECT l.doc_id, l.lm_score, d.lang,
         CAST(round(l.lm_score * 1000000) AS BIGINT) AS sm
  FROM lmout l JOIN documents d USING (doc_id)
),
-- Independent sort-based derivation of the ntile boundary order
-- statistics (rank ceil(i*n/3) descending, value only — tie order
-- irrelevant to the VALUE at a rank). The Spark side derives the
-- same thresholds via the histogram rank walk; boundary ties take
-- the better bucket on both sides.
ranked AS (
  SELECT lang, sm,
         row_number() OVER (PARTITION BY lang ORDER BY sm DESC) AS rnk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM j
),
thr AS (
  SELECT lang,
         max(CASE WHEN rnk = (1*n + 2) // 3 THEN sm END) AS s1,
         max(CASE WHEN rnk = (2*n + 2) // 3 THEN sm END) AS s2
  FROM ranked GROUP BY lang
),
b AS (
  SELECT j.lang, j.lm_score,
         CASE WHEN j.sm >= t.s1 THEN 'head'
              WHEN j.sm >= t.s2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM j JOIN thr t USING (lang)
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(lm_score) AS worst,
       max(lm_score) AS best
FROM b GROUP BY 1, 2
"""
)


# Reads the ORIGINAL parquet — the Spark side must survive its own
# JSONL encode/decode hop to match.
oracle("q_jsonl_roundtrip")(
    """
WITH src AS (
  SELECT event_id, user_id, event_type,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
         round(value, 6) AS value
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(ts_iso) AS first_ts,
       max(ts_iso) AS last_ts,
       CAST(CAST(sum(CAST(round(value, 6) AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM src GROUP BY event_type
"""
)


oracle("q_union_evolve")(
    """
WITH merged AS (
  SELECT event_id, event_type, NULL::DOUBLE AS value
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, event_type, round(value, 6) AS value
  FROM events WHERE event_id % 2 = 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(value) AS BIGINT) AS n_with_value,
       CAST(CAST(sum(CAST(value AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM merged GROUP BY event_type
"""
)


oracle("q_csv_roundtrip")(
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(event_id) AS min_id,
       max(event_id) AS max_id,
       CAST(CAST(sum(CAST(round(value, 6) AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events WHERE event_type IN ('view', 'signup')
GROUP BY event_type
"""
)


# --- TPC-H decision-support shapes ---------------------------------------
# Same substitutions as the Spark queries: no partsupp (supplycost :=
# 0.5 * p_retailprice), no commit/receipt dates ('late' := shipped 30
# resp. 90 days after ordering). Decimal-exact revenue, VARCHAR-hop to
# double at the boundary (DuckDB's direct DECIMAL->DOUBLE divides the
# unscaled int in binary; the hop re-parses the exact decimal string,
# matching Spark's BigDecimal.doubleValue).

oracle("q_order_priority")(
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
)

oracle("q_nation_volume")(
    """
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
                     * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6))))
            AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('NATION_1', 'NATION_2')
  AND nc.n_name IN ('NATION_1', 'NATION_2')
  AND ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
"""
)

oracle("q_product_profit")(
    """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(CAST(CAST(sum(
         CAST(l.l_extendedprice AS DECIMAL(12,6))
           * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6)))
         - CAST(0.5 AS DECIMAL(2,1))
           * CAST(p.p_retailprice AS DECIMAL(8,2))
           * CAST(l.l_quantity AS DECIMAL(4,1))
       ) AS VARCHAR) AS DOUBLE), 4) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""
)

oracle("q_order_count_dist")(
    """
WITH per AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""
)

oracle("q_promo_revenue")(
    """
WITH agg AS (
  SELECT
    sum(CASE WHEN p.p_type = 'PROMO'
             THEN CAST(l.l_extendedprice AS DECIMAL(12,6))
                  * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6)))
             ELSE CAST(0 AS DECIMAL(12,6)) END) AS promo,
    sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
        * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6)))) AS total
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
    AND l.l_shipdate < TIMESTAMP '1997-10-01'
)
SELECT round(100.0 * CAST(CAST(promo AS VARCHAR) AS DOUBLE)
             / CAST(CAST(total AS VARCHAR) AS DOUBLE), 6) AS promo_share
FROM agg
"""
)

oracle("q_top_supplier")(
    """
WITH agg AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,6))
             * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(CAST(a.r AS VARCHAR) AS DOUBLE) AS total_revenue
FROM agg a
JOIN supplier s ON a.l_suppkey = s.s_suppkey
WHERE a.r = (SELECT max(r) FROM agg)
ORDER BY s.s_suppkey
"""
)

oracle("q_small_qty_revenue")(
    """
WITH li AS (
  SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS q, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#3'
),
per AS (
  SELECT l_partkey AS pk, sum(q) AS sum_q, count(*) AS n
  FROM li GROUP BY l_partkey
)
SELECT round(CAST(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(12,6)))
                  AS VARCHAR) AS DOUBLE) / 7.0, 6) AS avg_yearly
FROM li JOIN per ON li.l_partkey = per.pk
WHERE 2 * per.n * li.q < per.sum_q
"""
)

oracle("q_disjunctive_join")(
    """
SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,6))
            * (CAST(1 AS DECIMAL(7,6)) - CAST(l.l_discount AS DECIMAL(7,6))))
       AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""
)

oracle("q_waiting_orders")(
    """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late t
JOIN supplier s ON t.l_suppkey = s.s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = t.l_orderkey AND l2.l_suppkey <> t.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = t.l_orderkey AND l3.l_suppkey <> t.l_suppkey
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 20
"""
)

oracle("q_inactive_customers")(
    """
WITH bal AS (
  SELECT c_custkey, c_nationkey,
         CAST(c_acctbal AS DECIMAL(12,2)) AS b
  FROM customer
),
pos AS (
  SELECT sum(b) AS s, count(*) AS n FROM bal WHERE b > 0
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(CAST(sum(b) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM bal, pos
WHERE bal.b * pos.n > pos.s
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = bal.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY c_nationkey
ORDER BY c_nationkey
"""
)


oracle("q_kmv_distinct")(
    """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
sk AS (
  SELECT event_type, h
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h)
  WHERE rn <= 64
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hashes,
       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
            ELSE round(63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE), 6)
       END AS est_distinct
FROM sk GROUP BY event_type ORDER BY event_type
"""
)

oracle("q_kmv_overlap")(
    """
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
),
hb AS (
  SELECT DISTINCT ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM ha) WHERE rn <= 64),
skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM hb) WHERE rn <= 64),
u AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) rn
    FROM (SELECT h FROM ska UNION SELECT h FROM skb)
  ) WHERE rn <= 64
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union_sample, max(h) AS hk,
         CAST(sum(CASE WHEN h IN (SELECT h FROM ska)
                        AND h IN (SELECT h FROM skb) THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM u
)
SELECT n_union_sample,
       -- empty union sample: jaccard of two empty sets is 0, not 0/0
       -- (mirrors kmv_set_relations' guard)
       CASE WHEN n_union_sample = 0 THEN 0.0
            ELSE round(CAST(nb AS DOUBLE) / CAST(n_union_sample AS DOUBLE), 6)
       END AS jaccard,
       CASE WHEN n_union_sample < 64 THEN CAST(n_union_sample AS DOUBLE)
            ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 6)
       END AS est_union,
       CASE WHEN n_union_sample = 0 THEN 0.0
            ELSE round(round(CAST(nb AS DOUBLE) / CAST(n_union_sample AS DOUBLE), 6)
                 * CASE WHEN n_union_sample < 64 THEN CAST(n_union_sample AS DOUBLE)
                        ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 6)
                   END, 6)
       END AS est_intersection
FROM stats
"""
)


# DuckDB dayofweek() is 0=Sunday..6; Spark dayofweek() is 1=Sunday..7.
oracle("q_seasonal_profile")(
    """
WITH c AS (
  SELECT event_type,
         CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
         CAST(hour(ts) AS INTEGER) AS hour,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
)
SELECT event_type, dow, hour,
       CAST(count(x) AS BIGINT) AS n,
       round(CAST(sum(x) AS DOUBLE) / (100.0 * CAST(count(x) AS DOUBLE)), 6)
         AS mean_value
FROM c GROUP BY 1, 2, 3
"""
)

oracle("q_seasonal_anomaly")(
    """
WITH c AS (
  SELECT event_id,
         CAST(event_type AS VARCHAR) || ':'
           || CAST(dayofweek(ts) + 1 AS VARCHAR) || ':'
           || CAST(hour(ts) AS VARCHAR) AS slot,
         CAST(round(value * 100) AS HUGEINT) AS x
  FROM events
), s AS (
  SELECT slot, CAST(count(x) AS HUGEINT) AS n,
         sum(x) AS s1, sum(x * x) AS s2
  FROM c GROUP BY 1
)
SELECT c.event_id, c.slot, CAST(c.x AS BIGINT) AS value_cents,
       CAST(s.n AS BIGINT) AS n_group
FROM c JOIN s USING (slot)
WHERE s.n >= 2
  AND (s.n - 1) * (s.n * c.x - s.s1) * (s.n * c.x - s.s1)
      > 9 * s.n * (s.n * s.s2 - s.s1 * s.s1)
"""
)


# BM25 scoring pipeline as a reusable CTE chain — q_bm25_topk and
# q_hybrid_retrieval MUST agree on what BM25 means (the _bpe_chain_sql
# discipline: one definition, composed).
def _bm25_scored_sql(terms: str = "'join', 'spark', 'stream'") -> str:
    return f"""tok AS (
  SELECT doc_id, term
  FROM documents,
       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE term <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ({terms})
  GROUP BY doc_id, term
),
docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(
           ln(1.0 + (CAST(c.n_docs AS DOUBLE) - CAST(f.df_t AS DOUBLE) + 0.5)
                    / (CAST(f.df_t AS DOUBLE) + 0.5))
           * CAST(tf.tf AS DOUBLE) * 2.2
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / c.avgdl)),
           7) AS term_score
  FROM tf
  JOIN docfreq f USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
)"""


oracle("q_bm25_topk")(
    f"""
WITH {_bm25_scored_sql()},
per_doc AS (
  SELECT doc_id,
         sum(CAST(term_score AS DECIMAL(38,18))) AS s,
         CAST(count(*) AS INTEGER) AS n_terms_hit
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms_hit, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rk
  FROM per_doc
)
SELECT doc_id, n_terms_hit, CAST(rk AS INTEGER) AS rank,
       round(CAST(CAST(s AS VARCHAR) AS DOUBLE), 6) AS bm25
FROM ranked WHERE rk <= 10
"""
)

oracle("q_linear_trend")(
    """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS HUGEINT) AS x,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS y
  FROM events
  GROUP BY 1, 2
),
sums AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM daily GROUP BY 1
),
calc AS (
  SELECT event_type, n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
         CAST(n * sxx - sx * sx AS DOUBLE) AS den,
         CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
         CAST(n AS DOUBLE) AS nd
  FROM sums
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_buckets,
       CASE WHEN den = 0 THEN NULL
            ELSE round((num / den) / 100.0, 6) END AS slope_per_bucket,
       CASE WHEN den = 0 THEN NULL
            ELSE round(((syd - (num / den) * sxd) / nd) / 100.0, 6)
       END AS intercept
FROM calc ORDER BY event_type
"""
)


oracle("q_hybrid_retrieval")(
    f"""
WITH {_bm25_scored_sql()},
bm_ranked AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (
           ORDER BY sum(CAST(term_score AS DECIMAL(38,18))) DESC, doc_id ASC
         ) AS INTEGER) AS bm25_rank
  FROM scored GROUP BY doc_id
),
bm AS (SELECT id, bm25_rank FROM bm_ranked WHERE bm25_rank <= 20),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
ann_scored AS (
  SELECT e.vec_id AS id, list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM embeddings e, qv q WHERE e.vec_id <> 0
),
ann_ranked AS (
  SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS INTEGER) AS ann_rank
  FROM ann_scored
),
ann AS (SELECT id, ann_rank FROM ann_ranked WHERE ann_rank <= 20),
fused AS (
  SELECT coalesce(bm.id, ann.id) AS id, bm.bm25_rank, ann.ann_rank,
         (CASE WHEN bm.bm25_rank IS NOT NULL
               THEN 1.0 / (60.0 + CAST(bm.bm25_rank AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN ann.ann_rank IS NOT NULL
                 THEN 1.0 / (60.0 + CAST(ann.ann_rank AS DOUBLE)) ELSE 0.0 END)
           AS rrf
  FROM bm FULL OUTER JOIN ann ON bm.id = ann.id
)
SELECT id, bm25_rank, ann_rank,
       CAST(row_number() OVER (ORDER BY rrf DESC, id ASC) AS INTEGER) AS rank,
       round(rrf, 6) AS rrf
FROM fused
QUALIFY rank <= 10
"""
)

oracle("q_cube_profile")(
    """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(CAST(dayofweek(ts) + 1 AS INTEGER) AS VARCHAR), 'ALL') AS dow,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY CUBE (event_type, CAST(dayofweek(ts) + 1 AS INTEGER))
"""
)


oracle("q_dpp_join")(
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE dayofweek(date_trunc('day', ts)) + 1 = 2
GROUP BY 1, 2
"""
)


# Streaming seasonal scoring must agree with the batch seasonal flag
# row-for-row (batch-boundary independence).
ORACLES["q_stream_seasonal_anomaly"] = ORACLES["q_seasonal_anomaly"]

oracle("q_group_split")(
    """
WITH b AS (
  SELECT source,
         ('0x' || substr(md5('groupsplit' || CAST(source AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS bk
  FROM documents
)
SELECT source,
       -- NULL source hashes to NULL -> split NULL (hash_split's CASE
       -- chain bottoms out at NULL), never a silent 'test' bucket
       CASE WHEN bk IS NULL THEN NULL
            WHEN bk < 900000 THEN 'train'
            WHEN bk < 950000 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b
GROUP BY 1, 2
ORDER BY source, split
"""
)


oracle("q_embedding_drift")(
    f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
centroids(cid, cv) AS (VALUES
  {_IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, cv) DESC, cid ASC) AS rn
    FROM vecs, centroids) WHERE rn = 1
),
a AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_a FROM assign
      WHERE vec_id % 2 = 0 GROUP BY cid),
b AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_b FROM assign
      WHERE vec_id % 2 = 1 GROUP BY cid),
tot AS (SELECT (SELECT sum(n_a) FROM a) AS ta, (SELECT sum(n_b) FROM b) AS tb),
joined AS (
  SELECT coalesce(a.cid, b.cid) AS cid,
         CAST(coalesce(a.n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(b.n_b, 0) AS BIGINT) AS n_b
  FROM a FULL OUTER JOIN b ON a.cid = b.cid
)
SELECT cid, n_a, n_b,
       round(CAST(n_a AS DOUBLE) / CAST(t.ta AS DOUBLE), 6) AS share_a,
       round(CAST(n_b AS DOUBLE) / CAST(t.tb AS DOUBLE), 6) AS share_b,
       round(CAST(n_b AS DOUBLE) / CAST(t.tb AS DOUBLE)
             - CAST(n_a AS DOUBLE) / CAST(t.ta AS DOUBLE), 6) AS drift
FROM joined, tot t
ORDER BY cid
"""
)


oracle("q_hard_negatives")(
    """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS ql
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv, label AS cl
      FROM embeddings),
scored AS (
  SELECT qid, nid, list_cosine_similarity(qv, cv) AS cos
  FROM q, c
  WHERE qid <> nid AND ql IS NOT NULL AND cl IS NOT NULL AND ql <> cl
),
ranked AS (
  SELECT qid AS query_id, nid AS neighbor_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
)


oracle("q_rank_normalize")(
    """
WITH c AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
nn AS (
  SELECT event_id,
         CASE WHEN count(*) OVER (PARTITION BY event_type) = 1 THEN 0.0
              ELSE round(percent_rank() OVER (PARTITION BY event_type
                                              ORDER BY v), 6)
         END AS pr
  FROM c WHERE v IS NOT NULL
)
SELECT c.event_id, c.event_type, c.v AS value_cents, nn.pr AS pct_rank
FROM c LEFT JOIN nn USING (event_id)
"""
)

oracle("q_chi2_terms")(
    """
WITH docs AS (
  -- NULL labels are dropped, mirroring chi2_terms' __y.isNotNull()
  -- filter (a NULL label is not evidence of either class)
  SELECT d.doc_id, d.text,
         CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS y
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE e.label IS NOT NULL
),
tot AS (SELECT CAST(sum(y) AS HUGEINT) AS n1,
               CAST(sum(1 - y) AS HUGEINT) AS n0 FROM docs),
dt AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
    FROM docs)
  WHERE term <> ''
),
cont AS (
  SELECT term,
         CAST(sum(y) AS BIGINT) AS df_pos,
         CAST(sum(1 - y) AS BIGINT) AS df_neg
  FROM dt JOIN docs USING (doc_id)
  GROUP BY term HAVING count(*) >= 2
),
parts AS (
  SELECT term, df_pos, df_neg,
         CAST(df_pos AS HUGEINT) AS a, CAST(df_neg AS HUGEINT) AS b,
         t.n1 - df_pos AS c, t.n0 - df_neg AS d,
         t.n1 + t.n0 AS n,
         CAST(df_pos AS HUGEINT) * (t.n0 - df_neg)
           - CAST(df_neg AS HUGEINT) * (t.n1 - df_pos) AS det
  FROM cont, tot t
),
scored AS (
  SELECT term, df_pos, df_neg,
         CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN 0.0
              ELSE round(CAST(n AS DOUBLE) * CAST(det AS DOUBLE)
                         * CAST(det AS DOUBLE)
                         / CAST((a + b) * (c + d) * (a + c) * (b + d)
                                AS DOUBLE), 6)
         END AS chi2
  FROM parts
)
SELECT term, df_pos, df_neg, chi2,
       CAST(row_number() OVER (ORDER BY chi2 DESC, term ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 20
"""
)


oracle("q_min_cost_supplier")(
    """
WITH sup_region AS (
  SELECT s.s_suppkey, s.s_name, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
pairs AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(min((CAST(round(l.l_extendedprice * 100) AS BIGINT) * 10)
                  // CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS unit_milli
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#5'
  JOIN sup_region sr ON l.l_suppkey = sr.s_suppkey
  GROUP BY l.l_partkey, l.l_suppkey
),
best AS (SELECT l_partkey, min(unit_milli) AS b FROM pairs GROUP BY l_partkey)
SELECT p.l_partkey AS p_partkey, sr.s_name, sr.n_name AS nation, p.unit_milli
FROM pairs p
JOIN best ON p.l_partkey = best.l_partkey AND p.unit_milli = best.b
JOIN sup_region sr ON p.l_suppkey = sr.s_suppkey
ORDER BY p_partkey, sr.s_name
"""
)

oracle("q_set_ops")(
    """
WITH c97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
c98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998),
ia AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n, 'intersect_all' AS op
  FROM (SELECT o_custkey FROM c97 INTERSECT ALL SELECT o_custkey FROM c98)
  GROUP BY o_custkey
),
ea AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n, 'except_all' AS op
  FROM (SELECT o_custkey FROM c97 EXCEPT ALL SELECT o_custkey FROM c98)
  GROUP BY o_custkey
),
id_ AS (
  SELECT o_custkey, CAST(1 AS BIGINT) AS n, 'intersect' AS op
  FROM (SELECT o_custkey FROM c97 INTERSECT SELECT o_custkey FROM c98)
)
SELECT * FROM ia UNION ALL SELECT * FROM ea UNION ALL SELECT * FROM id_
"""
)


oracle("q_weighted_median")(
    """
WITH h AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         sum(CAST(l_quantity AS BIGINT)) AS wsum
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_quantity >= 0
  GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, v,
         sum(wsum) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
         sum(wsum) OVER (PARTITION BY l_returnflag) AS tot
  FROM h
)
SELECT l_returnflag,
       CAST(max(tot) AS BIGINT) AS total_w,
       CAST(min(v) AS BIGINT) AS wmedian_cents
FROM c WHERE 2 * cum >= tot
GROUP BY 1 HAVING max(tot) > 0
ORDER BY l_returnflag
"""
)

oracle("q_last_touch")(
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, ts, event_type, event_id
  FROM events WHERE event_type <> 'purchase'
),
best AS (
  SELECT p.event_id,
         (SELECT t.event_type FROM t
          WHERE t.user_id = p.user_id AND t.ts <= p.ts
            AND epoch_us(p.ts) - epoch_us(t.ts) <= 3600000000
          ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch
  FROM p
)
SELECT coalesce(touch, 'none') AS attributed_type,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM best GROUP BY 1 ORDER BY 1
"""
)


oracle("q_variant_props")(
    """
WITH k AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT k) AS BIGINT) AS distinct_k,
       CAST(min(k) AS INTEGER) AS min_k,
       CAST(max(k) AS INTEGER) AS max_k
FROM k GROUP BY event_type ORDER BY event_type
"""
)


# GROUND-TRUTH oracle (not a candidate replay): every doc pair sharing
# >= 1 shingle with exact Jaccard >= t — proving the ppjoin_dedup
# stage's recall (the unpruned counted index), not just mirroring it.
oracle("q_dedup_ngram_prefix")(
    f"""
WITH {{shingles}},
shx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shx GROUP BY doc_id)
SELECT c.id_a, c.id_b,
       CAST(c.i AS DOUBLE) / (sa.sz + sb.sz - c.i) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(c.i AS DOUBLE) / (sa.sz + sb.sz - c.i) >= 0.5
""".replace("{shingles}", _SHINGLES_CTE)
)


oracle("q_incremental_near_dedup")(
    f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_SIMHASH_SHINGLES},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shx),
votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS fp FROM votes),
old_segs AS (
  SELECT doc_id, fp,
         CAST(s AS VARCHAR) || '#' || CAST((fp >> (s * 15)) & 32767 AS VARCHAR) AS seg_key
  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS s) WHERE doc_id < 250
),
new_segs AS (
  SELECT doc_id, fp,
         CAST(s AS VARCHAR) || '#' || CAST((fp >> (s * 15)) & 32767 AS VARCHAR) AS seg_key
  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS s) WHERE doc_id >= 250
),
store_dup AS (
  SELECT DISTINCT n.doc_id
  FROM new_segs n JOIN old_segs o USING (seg_key)
  WHERE bit_count(xor(n.fp, o.fp)) <= 3
),
batch_dup AS (
  SELECT DISTINCT b.doc_id
  FROM new_segs a JOIN new_segs b USING (seg_key)
  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3
)
SELECT f.doc_id, f.fp,
       CASE WHEN f.doc_id IN (SELECT doc_id FROM store_dup)
              THEN 'duplicate_store'
            WHEN f.doc_id IN (SELECT doc_id FROM batch_dup)
              THEN 'duplicate_batch'
            ELSE 'unique' END AS route
FROM fp f WHERE f.doc_id >= 250
"""
)


oracle("q_grouping_sets")(
    """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow,
       CAST(grouping(event_type) * 2 + grouping(dow) AS INTEGER) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))
"""
)


oracle("q_sla_bands")(
    """
WITH c AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
)
SELECT event_type, day,
       CAST(count(v) AS BIGINT) AS n,
       CAST(quantile_disc(v, 0.5) AS BIGINT) AS p50_cents,
       CAST(quantile_disc(v, 0.95) AS BIGINT) AS p95_cents
FROM c GROUP BY event_type, day
"""
)

oracle("q_time_to_convert")(
    """
WITH s AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
fp AS (
  SELECT s.user_id, s.signup_ts, min(e.ts) AS first_purchase_ts
  FROM s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND e.ts >= s.signup_ts
  GROUP BY s.user_id, s.signup_ts
),
d AS (
  SELECT CAST(year(signup_ts) AS VARCHAR) || '-w'
           || lpad(CAST(weekofyear(signup_ts) AS VARCHAR), 2, '0')
           AS cohort_week,
         (epoch_us(first_purchase_ts) - epoch_us(signup_ts)) // 60000000
           AS minutes
  FROM fp
)
SELECT cohort_week,
       CAST(count(*) AS BIGINT) AS n_converted,
       CAST(quantile_disc(minutes, 0.5) AS BIGINT) AS p50_minutes,
       CAST(quantile_disc(minutes, 0.9) AS BIGINT) AS p90_minutes
FROM d GROUP BY cohort_week ORDER BY cohort_week
"""
)


# Streaming rank transform must equal the batch transform row-for-row.
ORACLES["q_stream_rank_normalize"] = ORACLES["q_rank_normalize"]


# Replays cluster_digest's deterministic build exactly: rank by
# (value, event_id) inside (type, day), cluster c = ((r-1)*m) div n in
# integer arithmetic, then the per-cluster state — count, a
# DECIMAL(38,18) sum of round(v,7) terms (order-independent), min/max —
# and the one rounded double division for the mean.
oracle("q_tdigest_daily")(
    """
WITH v AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value AS v, event_id
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT event_type, day, v,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY v, event_id) AS rr,
         COUNT(*) OVER (PARTITION BY event_type, day) AS n
  FROM v
), cent AS (
  SELECT event_type, day, CAST(((rr - 1) * 16) // n AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS w,
         SUM(CAST(ROUND(v, 7) AS DECIMAL(38,18))) AS vsum,
         MIN(v) AS vmin, MAX(v) AS vmax
  FROM r GROUP BY 1, 2, 3
)
SELECT event_type, day, c, w, vmin, vmax,
       ROUND(CAST(vsum AS DOUBLE) / w, 6) AS mean
FROM cent
"""
)


# Replays build + digest_merge + digest_quantiles: daily clusters
# reorder by (vmin, vmax, day, c), re-cluster by integer cumulative
# weight (cumb*m) div W, and each quantile reads the mean of the
# cluster containing rank ceil(q*n - 1e-9) — the slack mirrors the
# Spark side so an IEEE overshoot of q*n can never shift the target.
oracle("q_tdigest_merge")(
    """
WITH v AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value AS v, event_id
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT event_type, day, v,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY v, event_id) AS rr,
         COUNT(*) OVER (PARTITION BY event_type, day) AS n
  FROM v
), cent AS (
  SELECT event_type, day, ((rr - 1) * 16) // n AS c,
         COUNT(*) AS w,
         SUM(CAST(ROUND(v, 7) AS DECIMAL(38,18))) AS vsum,
         MIN(v) AS vmin, MAX(v) AS vmax
  FROM r GROUP BY 1, 2, 3
), mg AS (
  SELECT event_type, w, vsum,
         COALESCE(SUM(w) OVER (
           PARTITION BY event_type ORDER BY vmin, vmax, day, c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         SUM(w) OVER (PARTITION BY event_type) AS tw
  FROM cent
), mc AS (
  SELECT event_type, (cumb * 16) // tw AS c,
         SUM(w) AS w, SUM(vsum) AS vsum
  FROM mg GROUP BY 1, 2
), qr AS (
  SELECT event_type, c, w, vsum,
         SUM(w) OVER (PARTITION BY event_type ORDER BY c) AS cum,
         SUM(w) OVER (PARTITION BY event_type) AS n
  FROM mc
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
  MIN(CASE WHEN cum - w < CEIL(0.5 * n - 1e-9)
            AND CEIL(0.5 * n - 1e-9) <= cum
           THEN ROUND(CAST(vsum AS DOUBLE) / w, 6) END) AS q50,
  MIN(CASE WHEN cum - w < CEIL(0.9 * n - 1e-9)
            AND CEIL(0.9 * n - 1e-9) <= cum
           THEN ROUND(CAST(vsum AS DOUBLE) / w, 6) END) AS q90,
  MIN(CASE WHEN cum - w < CEIL(0.99 * n - 1e-9)
            AND CEIL(0.99 * n - 1e-9) <= cum
           THEN ROUND(CAST(vsum AS DOUBLE) / w, 6) END) AS q99
FROM qr GROUP BY event_type
"""
)


# Replays the PINNED watermark late-data semantics (empirically probed
# on Spark 4, see q_stream_late_data's docstring) over the same 3-batch
# split: the late filter for the straggler batch is max(b0) - 1 day
# (one batch of lag — b1's rows have not entered it yet), a straggler
# survives iff its DAY WINDOW'S END beats that watermark, and append
# mode emits exactly the windows whose end the final watermark
# max(all) - 1 day passed. Millisecond truncation mirrors Spark's
# ms-resolution event-time stats (irrelevant at day boundaries, kept
# for exactness).
oracle("q_stream_late_data")(
    """
WITH b0 AS (
  SELECT ts, event_type FROM events
  WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-23'
    AND NOT (ts >= TIMESTAMP '2024-01-21' AND ts < TIMESTAMP '2024-01-22')
), b1 AS (
  SELECT ts, event_type FROM events
  WHERE ts >= TIMESTAMP '2024-01-23' AND ts < TIMESTAMP '2024-01-24'
), b2 AS (
  SELECT ts, event_type FROM events
  WHERE ts < TIMESTAMP '2024-01-10'
     OR (ts >= TIMESTAMP '2024-01-21' AND ts < TIMESTAMP '2024-01-22')
     OR ts >= TIMESTAMP '2024-01-24'
), wlate AS (
  SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 DAY AS w FROM b0
), wfinal AS (
  SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 DAY AS w
  FROM events
), kept AS (
  SELECT ts, event_type FROM b0
  UNION ALL
  SELECT ts, event_type FROM b1
  UNION ALL
  SELECT b2.ts, b2.event_type FROM b2, wlate
  WHERE date_trunc('day', b2.ts) + INTERVAL 1 DAY > wlate.w
)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM kept, wfinal
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wfinal.w
GROUP BY 1, 2
"""
)


# Mirrors temperature_mix op by op: per-source token mass (exact
# bigint), m^0.3 as EXP(0.3*LN(m)) (bit-identical cross-engine, unlike
# libm pow), the cross-source normalizer as a 7dp-rounded
# DECIMAL(38,18) sum (addition-order-proof), keep_prob =
# min(1, budget*p/m), membership = md5-bucket < keep_prob*1e6.
oracle("q_mix_temperature")(
    """
WITH toks AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
              END AS BIGINT) AS n_tokens
  FROM documents
), t AS (
  SELECT * FROM toks WHERE n_tokens > 0
), mass AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS m,
         ROUND(EXP(0.3 * LN(CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE))), 7) AS pw
  FROM t GROUP BY lang
), tot AS (
  SELECT CAST(SUM(CAST(pw AS DECIMAL(38,18))) AS DOUBLE) AS tt FROM mass
), rates AS (
  SELECT lang, m,
         LEAST(1.0, 3000.0 * (pw / tt) / CAST(m AS DOUBLE)) AS keep_prob
  FROM mass, tot
)
SELECT t.doc_id, t.lang, t.n_tokens, ROUND(r.keep_prob, 6) AS keep_prob
FROM t JOIN rates r ON t.lang = r.lang
WHERE CAST(('0x' || substr(md5('tmix' || CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 1000000 AS DOUBLE) < r.keep_prob * 1000000.0
"""
)


# q_dedup_near_clusters' recursive-CTE component labeling, extended
# with the soft-dedup cap: singletons label themselves, survivors rank
# by (md5(id), id) within cluster, rank <= 3 kept.
oracle("q_dedup_cap")(
    """
WITH RECURSIVE
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1, min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3, min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5, min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7 FROM shx GROUP BY doc_id),
bands AS (SELECT doc_id, '0' || '#' || mh0 || '#' || mh1 AS bk FROM sig
  UNION ALL SELECT doc_id, '1' || '#' || mh2 || '#' || mh3 AS bk FROM sig
  UNION ALL SELECT doc_id, '2' || '#' || mh4 || '#' || mh5 AS bk FROM sig
  UNION ALL SELECT doc_id, '3' || '#' || mh6 || '#' || mh7 AS bk FROM sig),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
),
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
ranked AS (
  SELECT doc_id, cluster,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY cluster
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS copy_rank
  FROM labeled
)
SELECT doc_id, cluster, copy_rank FROM ranked WHERE copy_rank <= 3
"""
)


# Batch-split independence: the streaming digest register shares the
# batch oracle verbatim (build grain is event-time-deterministic).
ORACLES["q_stream_tdigest"] = ORACLES["q_tdigest_merge"]


# --- pruned n-grams, substring + containment dedup, corpus reports -------

# Mirrors near_dup_pairs_ngram(max_df_quantile=0.99) INCLUDING the
# _df_cutoff rank walk: cutoff = the smallest df whose cumulative
# vocabulary count reaches ceil(0.99 * vocab - 1e-9) — the same
# histogram cumsum the engine runs, so the knob's arithmetic (not a
# precomputed constant) is what the gate checks. Verification is exact
# Jaccard over FULL (unpruned) sets, as in q_dedup_ngram_jaccard.
oracle("q_dedup_ngram_quantile")(
    f"""
WITH {_SHINGLES_CTE},
shx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM shx GROUP BY s),
hist AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM dfreq GROUP BY d),
walk AS (
  SELECT d, SUM(n) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
tot AS (SELECT SUM(n) AS t FROM hist),
cut AS (
  SELECT MIN(d) AS df_cutoff FROM walk, tot
  WHERE cum >= CEIL(0.99 * t - 1e-9)
),
idx AS (
  SELECT doc_id, s FROM shx
  WHERE s IN (SELECT s FROM dfreq, cut WHERE d <= df_cutoff)
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""
)


# Mirrors substring_matches(k=8, min_tokens=12) on RAW gram strings
# (the engine joins xxhash64 anchors — a 64-bit collision would
# surface here as a mismatch, by design): positional 8-grams, matched
# positions per shared gram, islands-and-gaps on each (pair, diagonal)
# — a run of r consecutive matched anchors is a shared span of
# r + 7 tokens.
oracle("q_substring_dedup")(
    """
WITH words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS g
  FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(i)
  WHERE len(w) >= 8
),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
),
r AS (
  SELECT *, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM m
),
runs AS (
  SELECT id_a, id_b,
         CAST(min(pos_a) AS BIGINT) AS pos_a,
         CAST(min(pos_b) AS BIGINT) AS pos_b,
         CAST(count(*) + 7 AS BIGINT) AS match_tokens
  FROM r GROUP BY id_a, id_b, diag, island
)
SELECT id_a, id_b, pos_a, pos_b, match_tokens
FROM runs WHERE match_tokens >= 12
"""
)


# Mirrors q_repetition_trim: the 12-word pseudo-line restructuring
# (shared with q_line_dedup), the planted re-append of each doc's
# first line, then the keep-FIRST-occurrence rule — a line drops iff
# its trimmed form is non-empty and already occurred at an earlier
# position of the SAME doc.
oracle("q_repetition_trim")(
    """
WITH lined AS (
  SELECT doc_id,
         list_transform(
           range(1, (len(string_split(text, ' ')) + 11) // 12 + 1),
           i -> array_to_string(string_split(text, ' ')[(i-1)*12+1 : i*12], ' ')
         ) AS ls
  FROM documents
),
planted AS (SELECT doc_id, list_append(ls, ls[1]) AS ls FROM lined),
lines AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM planted
),
t AS (SELECT doc_id, pos, line, trim(line) AS tline FROM lines),
marked AS (
  SELECT doc_id, pos, line,
         (tline <> '' AND row_number() OVER (
            PARTITION BY doc_id, tline ORDER BY pos
          ) > 1) AS drop
  FROM t
)
SELECT doc_id,
       CAST(sum(CASE WHEN NOT drop THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
       CAST(sum(CASE WHEN drop THEN 1 ELSE 0 END) AS BIGINT) AS dropped_lines,
       coalesce(string_agg(CASE WHEN NOT drop THEN line END, chr(10) ORDER BY pos), '')
         AS new_text
FROM marked GROUP BY doc_id
"""
)


# Mirrors kmv_overlap_matrix over kmv_sketch(documents, text,
# [source], 64): per-source bottom-64 of the seeded 60-bit hash, per
# pair the union's re-trimmed bottom-64, membership decided exactly by
# the A/B sketches, the (k-1)*2^60/h_(k) estimator, and the same
# round-then-multiply-then-round est_intersection arithmetic as
# q_kmv_overlap.
oracle("q_source_overlap_matrix")(
    """
WITH h AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5('kmv:' || text), 1, 15))::BIGINT AS h
  FROM documents WHERE text IS NOT NULL
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= 64
),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
),
u_ent AS (
  SELECT DISTINCT p.source_a, p.source_b, s.h
  FROM pairs p JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
),
u AS (
  SELECT source_a, source_b, h FROM (
    SELECT source_a, source_b, h,
           row_number() OVER (
             PARTITION BY source_a, source_b ORDER BY h
           ) AS rn
    FROM u_ent
  ) WHERE rn <= 64
),
stats AS (
  SELECT u.source_a, u.source_b,
         CAST(count(*) AS BIGINT) AS n_union_sample,
         max(u.h) AS hk,
         CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM u
  LEFT JOIN sk sa ON sa.source = u.source_a AND sa.h = u.h
  LEFT JOIN sk sb ON sb.source = u.source_b AND sb.h = u.h
  GROUP BY u.source_a, u.source_b
)
SELECT source_a, source_b, n_union_sample,
       round(CAST(nb AS DOUBLE) / CAST(n_union_sample AS DOUBLE), 6) AS jaccard,
       CASE WHEN n_union_sample < 64 THEN CAST(n_union_sample AS DOUBLE)
            ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 6)
       END AS est_union,
       round(round(CAST(nb AS DOUBLE) / CAST(n_union_sample AS DOUBLE), 6)
             * CASE WHEN n_union_sample < 64 THEN CAST(n_union_sample AS DOUBLE)
                    ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 6)
               END, 6) AS est_intersection
FROM stats
ORDER BY source_a, source_b
"""
)


# Mirrors remove_duplicate_spans(k=8, min_tokens=12): the
# q_substring_dedup run derivation, the id_b-side spans merged by
# gaps-and-islands per doc, words inside merged intervals dropped,
# text rebuilt space-joined in word order; untouched docs pass through
# byte-identical with removed_tokens = 0.
oracle("q_substring_repair")(
    """
WITH words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS g
  FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(i)
  WHERE len(w) >= 8
),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
),
r AS (
  SELECT *, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM m
),
runs AS (
  SELECT id_a, id_b, min(pos_a) AS pos_a, min(pos_b) AS pos_b,
         count(*) + 7 AS match_tokens
  FROM r GROUP BY id_a, id_b, diag, island
  HAVING count(*) + 7 >= 12
),
spans AS (
  SELECT id_b AS doc_id, pos_b AS s, pos_b + match_tokens AS e FROM runs
),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max
    FROM spans
  )
),
merged AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY doc_id, grp),
aw AS (
  SELECT words.doc_id, i AS pos, w[i+1] AS word
  FROM words, unnest(range(len(w))) AS t(i)
  WHERE words.doc_id IN (SELECT doc_id FROM merged)
),
dropped AS (
  SELECT DISTINCT aw.doc_id, aw.pos
  FROM aw JOIN merged ON merged.doc_id = aw.doc_id
  WHERE aw.pos >= merged.s AND aw.pos < merged.e
),
rebuilt AS (
  SELECT aw.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS removed_tokens,
         coalesce(string_agg(CASE WHEN d.pos IS NULL THEN aw.word END,
                             ' ' ORDER BY aw.pos), '') AS new_text
  FROM aw LEFT JOIN dropped d ON d.doc_id = aw.doc_id AND d.pos = aw.pos
  GROUP BY aw.doc_id
)
SELECT doc.doc_id,
       coalesce(r.n_tokens,
                CAST(CASE WHEN length(trim(doc.text)) = 0 THEN 0
                     ELSE length(trim(doc.text))
                          - length(replace(trim(doc.text), ' ', '')) + 1
                     END AS BIGINT),
                0) AS n_tokens,
       coalesce(r.removed_tokens, 0) AS removed_tokens,
       coalesce(r.new_text, doc.text) AS new_text
FROM documents doc LEFT JOIN rebuilt r ON r.doc_id = doc.doc_id
"""
)


# Mirrors q_incremental_substring on RAW gram strings: the run table
# over the WHOLE corpus (id-ordered pairs), then the fixture's id
# split makes routing pure algebra — store-side pairs are exactly
# (id_a < 250 <= id_b), batch-side pairs have both ids >= 250. Store
# beats batch; longest store-side span reported; docs in no pair are
# unique.
oracle("q_incremental_substring")(
    """
WITH words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS g
  FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(i)
  WHERE len(w) >= 8
),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
),
r AS (
  SELECT *, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM m
),
runs AS (
  SELECT id_a, id_b, count(*) + 7 AS match_tokens
  FROM r GROUP BY id_a, id_b, diag, island
  HAVING count(*) + 7 >= 12
),
store_hits AS (
  SELECT id_b AS doc_id, CAST(max(match_tokens) AS BIGINT) AS store_match_tokens
  FROM runs WHERE id_a < 250 AND id_b >= 250 GROUP BY id_b
),
batch_hits AS (
  SELECT DISTINCT id_b AS doc_id FROM runs WHERE id_a >= 250
)
SELECT d.doc_id,
       CASE WHEN s.doc_id IS NOT NULL THEN 'duplicate_store'
            WHEN b.doc_id IS NOT NULL THEN 'duplicate_batch'
            ELSE 'unique' END AS route,
       s.store_match_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
LEFT JOIN store_hits s ON s.doc_id = d.doc_id
LEFT JOIN batch_hits b ON b.doc_id = d.doc_id
"""
)


# Mirrors q_dedup_containment: the planted excerpt corpus (every 20th
# doc's words 5..25 under id+100000), the unpruned shingle inverted
# index (exact recall: C >= t > 0 requires a shared shingle), and the
# intersect-over-smaller-set ratio with jaccard alongside.
oracle("q_dedup_containment")(
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(string_split(trim(text), ' ')[5:25], ' ')
  FROM documents WHERE doc_id % 20 = 0
),
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
  FROM corpus
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
        WHERE len(shingles) > 0 AND shingles[1] <> ''),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
v AS (
  SELECT id_a, id_b,
         CASE WHEN least(len(sa.ss), len(sb.ss)) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / least(len(sa.ss), len(sb.ss))
              ELSE 0.0 END AS containment,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
)
SELECT id_a, id_b, round(containment, 6) AS containment,
       round(jaccard, 6) AS jaccard
FROM v WHERE containment >= 0.8
"""
)


# Mirrors q_containment_quantile: the SAME planted-excerpt corpus and
# full-set verification as q_dedup_containment, with candidate
# generation pruned at the 0.99 df-quantile — the rank walk
# (histogram cumsum -> min df whose cum reaches ceil(0.99*vocab-1e-9))
# is replayed verbatim from the q_dedup_ngram_quantile oracle, so the
# knob's arithmetic on the containment path is what the gate checks.
oracle("q_containment_quantile")(
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(string_split(trim(text), ' ')[5:25], ' ')
  FROM documents WHERE doc_id % 20 = 0
),
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
  FROM corpus
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
        WHERE len(shingles) > 0 AND shingles[1] <> ''),
dfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM shx GROUP BY s),
hist AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM dfreq GROUP BY d),
walk AS (
  SELECT d, SUM(n) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
tot AS (SELECT SUM(n) AS t FROM hist),
cut AS (
  SELECT MIN(d) AS df_cutoff FROM walk, tot
  WHERE cum >= CEIL(0.99 * t - 1e-9)
),
idx AS (
  SELECT doc_id, s FROM shx
  WHERE s IN (SELECT s FROM dfreq, cut WHERE d <= df_cutoff)
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
v AS (
  SELECT id_a, id_b,
         CASE WHEN least(len(sa.ss), len(sb.ss)) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / least(len(sa.ss), len(sb.ss))
              ELSE 0.0 END AS containment,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
)
SELECT id_a, id_b, round(containment, 6) AS containment,
       round(jaccard, 6) AS jaccard
FROM v WHERE containment >= 0.8
"""
)


# Mirrors source_divergence_matrix op by op: term_rows tokenization,
# per-source unigram probabilities (one IEEE division), per-shared-term
# JSD contributions rounded to 9 dp and summed in DECIMAL(38,18)
# (order-proof), the private-mass closed form
# 0.5*ln2*(2 - P_shared - Q_shared), base-2 normalization.
oracle("q_source_divergence")(
    """
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
),
t AS (SELECT source, term FROM toks WHERE term <> ''),
counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2
),
totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tt FROM counts GROUP BY 1),
p AS (
  SELECT counts.source, term,
         CAST(c AS DOUBLE) / CAST(tt AS DOUBLE) AS p
  FROM counts JOIN totals ON totals.source = counts.source
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared_terms,
         SUM(CAST(round(0.5 * (a.p * ln(2.0 * a.p / (a.p + b.p))
                             + b.p * ln(2.0 * b.p / (a.p + b.p))), 9)
                  AS DECIMAL(38,18))) AS s,
         SUM(CAST(round(a.p, 9) AS DECIMAL(38,18))) AS pa,
         SUM(CAST(round(b.p, 9) AS DECIMAL(38,18))) AS pb
  FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
),
grid AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM totals a JOIN totals b ON a.source < b.source
)
SELECT g.source_a, g.source_b,
       CAST(coalesce(sh.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
       round((coalesce(CAST(sh.s AS DOUBLE), 0.0)
              + 0.5 * LN(2.0)
                * (2.0 - coalesce(CAST(sh.pa AS DOUBLE), 0.0)
                       - coalesce(CAST(sh.pb AS DOUBLE), 0.0)))
             / LN(2.0), 6) AS jsd_bits
FROM grid g
LEFT JOIN shared sh
  ON sh.source_a = g.source_a AND sh.source_b = g.source_b
ORDER BY g.source_a, g.source_b
"""
)


_INTRA_PLANT_CTE = """
corpus AS (
  SELECT doc_id,
         CASE WHEN len(string_split(trim(text), ' ')) >= 28
              THEN text || ' '
                   || array_to_string(string_split(trim(text), ' ')[9:28], ' ')
              ELSE text END AS text
  FROM documents
),
words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM corpus
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS g
  FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(i)
  WHERE len(w) >= 8
),
m AS (
  SELECT a.doc_id, a.pos AS pa, b.pos AS pb
  FROM grams a JOIN grams b
    ON a.doc_id = b.doc_id AND a.g = b.g AND a.pos < b.pos
),
r AS (
  SELECT *, pb - pa AS diag,
         pa - row_number() OVER (
           PARTITION BY doc_id, pb - pa ORDER BY pa
         ) AS island
  FROM m
),
runs AS (
  SELECT doc_id,
         CAST(min(pa) AS BIGINT) AS pos_first,
         CAST(min(pb) AS BIGINT) AS pos_repeat,
         CAST(count(*) + 7 AS BIGINT) AS match_tokens
  FROM r GROUP BY doc_id, diag, island
  HAVING count(*) + 7 >= 12
)"""


# Mirrors q_intra_repeats: the >= 28-word replant fixture + the
# self-diagonal run walk on raw gram strings.
oracle("q_intra_repeats")(
    f"""
WITH {_INTRA_PLANT_CTE}
SELECT doc_id, pos_first, pos_repeat, match_tokens FROM runs
"""
)


# Mirrors q_intra_repeat_trim: the runs' LATER occurrences merge per
# doc (gaps-and-islands) and their words drop — the
# q_substring_repair rebuild tail, applied within the doc.
oracle("q_intra_repeat_trim")(
    f"""
WITH {_INTRA_PLANT_CTE},
spans AS (
  SELECT doc_id, pos_repeat AS s, pos_repeat + match_tokens AS e FROM runs
),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max
    FROM spans
  )
),
merged AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY doc_id, grp),
aw AS (
  SELECT words.doc_id, i AS pos, w[i+1] AS word
  FROM words, unnest(range(len(w))) AS t(i)
  WHERE words.doc_id IN (SELECT doc_id FROM merged)
),
dropped AS (
  SELECT DISTINCT aw.doc_id, aw.pos
  FROM aw JOIN merged ON merged.doc_id = aw.doc_id
  WHERE aw.pos >= merged.s AND aw.pos < merged.e
),
rebuilt AS (
  SELECT aw.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS removed_tokens,
         coalesce(string_agg(CASE WHEN d.pos IS NULL THEN aw.word END,
                             ' ' ORDER BY aw.pos), '') AS new_text
  FROM aw LEFT JOIN dropped d ON d.doc_id = aw.doc_id AND d.pos = aw.pos
  GROUP BY aw.doc_id
)
SELECT c.doc_id,
       coalesce(r.n_tokens,
                CAST(CASE WHEN length(trim(c.text)) = 0 THEN 0
                     ELSE length(trim(c.text))
                          - length(replace(trim(c.text), ' ', '')) + 1
                     END AS BIGINT),
                0) AS n_tokens,
       coalesce(r.removed_tokens, 0) AS removed_tokens,
       coalesce(r.new_text, c.text) AS new_text
FROM corpus c LEFT JOIN rebuilt r ON r.doc_id = c.doc_id
"""
)


# Mirrors q_nfc_normalize: the decomposed plant (combining acute/
# diaeresis via chr codepoints) and DuckDB's nfc_normalize — the same
# public Unicode NFC the engine's pandas UDF applies.
oracle("q_nfc_normalize")(
    """
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' cafe' || chr(769) || ' u' || chr(776)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       nfc_normalize(text) AS new_text,
       (text IS DISTINCT FROM nfc_normalize(text)) AS changed
FROM planted
"""
)


# Mirrors q_stream_substring_ingest's TWO-PHASE routing algebra on raw
# gram strings: batch 1 (docs < 250) has an empty store — its dups are
# purely in-batch (min-id-wins) and only its UNIQUE docs' anchors
# persist; batch 2's store-dups therefore match only batch-1 uniques,
# its batch-dups only smaller ids >= 250; store beats batch; the
# longest store-side span is reported for batch-2 store-dups.
oracle("q_stream_substring_ingest")(
    """
WITH words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS g
  FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(i)
  WHERE len(w) >= 8
),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
),
r AS (
  SELECT *, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM m
),
runs AS (
  SELECT id_a, id_b, count(*) + 7 AS match_tokens
  FROM r GROUP BY id_a, id_b, diag, island
  HAVING count(*) + 7 >= 12
),
pairs AS (
  SELECT id_a, id_b, max(match_tokens) AS mt FROM runs GROUP BY id_a, id_b
),
b1_dupes AS (
  SELECT DISTINCT id_b AS doc_id FROM pairs
  WHERE id_a < 250 AND id_b < 250
),
uniq1 AS (
  SELECT doc_id FROM documents
  WHERE doc_id < 250
    AND doc_id NOT IN (SELECT doc_id FROM b1_dupes)
),
store_hits AS (
  SELECT p.id_b AS doc_id, CAST(max(p.mt) AS BIGINT) AS smt
  FROM pairs p JOIN uniq1 u ON u.doc_id = p.id_a
  WHERE p.id_b >= 250
  GROUP BY p.id_b
),
b2_dupes AS (
  SELECT DISTINCT id_b AS doc_id FROM pairs WHERE id_a >= 250
)
SELECT d.doc_id,
       CASE WHEN d.doc_id < 250 THEN
              CASE WHEN b1.doc_id IS NOT NULL THEN 'duplicate_batch'
                   ELSE 'unique' END
            ELSE
              CASE WHEN s.doc_id IS NOT NULL THEN 'duplicate_store'
                   WHEN b2.doc_id IS NOT NULL THEN 'duplicate_batch'
                   ELSE 'unique' END
       END AS route,
       CASE WHEN d.doc_id >= 250 THEN s.smt END AS store_match_tokens
FROM documents d
LEFT JOIN store_hits s ON s.doc_id = d.doc_id
LEFT JOIN b1_dupes b1 ON b1.doc_id = d.doc_id
LEFT JOIN b2_dupes b2 ON b2.doc_id = d.doc_id
"""
)


# Mirrors q_dedup_report: q_dedup_cap's recursive-CTE component
# labels, then the dashboard algebra — multi-member family sizes,
# keepers = min node, losers' whitespace token counts summed.
oracle("q_dedup_report")(
    """
WITH RECURSIVE
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1, min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3, min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5, min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7 FROM shx GROUP BY doc_id),
bands AS (SELECT doc_id, '0' || '#' || mh0 || '#' || mh1 AS bk FROM sig
  UNION ALL SELECT doc_id, '1' || '#' || mh2 || '#' || mh3 AS bk FROM sig
  UNION ALL SELECT doc_id, '2' || '#' || mh4 || '#' || mh5 AS bk FROM sig
  UNION ALL SELECT doc_id, '3' || '#' || mh6 || '#' || mh7 AS bk FROM sig),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
),
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
sizes AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n, min(node) AS keeper
  FROM comp GROUP BY cluster
),
multi AS (SELECT * FROM sizes WHERE n > 1),
tok AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text))
                   - length(replace(trim(text), ' ', '')) + 1
              END AS BIGINT) AS t
  FROM documents
),
losers AS (
  SELECT node FROM comp JOIN multi USING (cluster) WHERE node <> keeper
)
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS docs_total,
       CAST(coalesce((SELECT sum(n) FROM multi), 0) AS BIGINT)
         AS docs_in_clusters,
       CAST((SELECT count(*) FROM multi) AS BIGINT) AS n_clusters,
       CAST(coalesce((SELECT max(n) FROM multi), 0) AS BIGINT)
         AS max_cluster_size,
       CAST(coalesce((SELECT sum(n) FROM multi), 0) AS DOUBLE)
         / CAST((SELECT count(*) FROM documents) AS DOUBLE)
         AS duplication_rate,
       CAST(coalesce((SELECT sum(t) FROM tok), 0) AS BIGINT)
         AS tokens_total,
       CAST(coalesce((SELECT sum(t) FROM tok
                      JOIN losers ON losers.node = tok.doc_id), 0) AS BIGINT)
         AS tokens_removable
"""
)


# Mirrors q_corpus_card: the q_dedup_report recursive-CTE component
# labels and dashboard algebra, PLUS the q_substring_dedup 8-gram
# islands-and-gaps chain (prefixed s*), PLUS the containment chain
# under the 0.99 rank-walk prune (prefixed c*, verify over full sets)
# — all three modalities over the same plain documents corpus, folded
# into one row.
oracle("q_corpus_card")(
    """
WITH RECURSIVE
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1, min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3, min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5, min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7 FROM shx GROUP BY doc_id),
bands AS (SELECT doc_id, '0' || '#' || mh0 || '#' || mh1 AS bk FROM sig
  UNION ALL SELECT doc_id, '1' || '#' || mh2 || '#' || mh3 AS bk FROM sig
  UNION ALL SELECT doc_id, '2' || '#' || mh4 || '#' || mh5 AS bk FROM sig
  UNION ALL SELECT doc_id, '3' || '#' || mh6 || '#' || mh7 AS bk FROM sig),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
),
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
sizes AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n, min(node) AS keeper
  FROM comp GROUP BY cluster
),
multi AS (SELECT * FROM sizes WHERE n > 1),
tok AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text))
                   - length(replace(trim(text), ' ', '')) + 1
              END AS BIGINT) AS t
  FROM documents
),
losers AS (
  SELECT node FROM comp JOIN multi USING (cluster) WHERE node <> keeper
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i+1:i+8], ' ') AS g
  FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(i)
  WHERE len(w) >= 8
),
sm AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
),
sr AS (
  SELECT *, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM sm
),
sruns AS (
  SELECT id_a, id_b, CAST(count(*) + 7 AS BIGINT) AS match_tokens
  FROM sr GROUP BY id_a, id_b, diag, island
  HAVING count(*) + 7 >= 12
),
cshx AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
         WHERE len(shingles) > 0 AND shingles[1] <> ''),
cdfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM cshx GROUP BY s),
chist AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM cdfreq GROUP BY d),
cwalk AS (
  SELECT d, SUM(n) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chist
),
ctot AS (SELECT SUM(n) AS t FROM chist),
ccut AS (
  SELECT MIN(d) AS df_cutoff FROM cwalk, ctot
  WHERE cum >= CEIL(0.99 * t - 1e-9)
),
cidx AS (
  SELECT doc_id, s FROM cshx
  WHERE s IN (SELECT s FROM cdfreq, ccut WHERE d <= df_cutoff)
),
ccands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cidx a JOIN cidx b ON a.s = b.s AND a.doc_id < b.doc_id
),
cv AS (
  SELECT id_a, id_b,
         CASE WHEN least(len(sa.ss), len(sb.ss)) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / least(len(sa.ss), len(sb.ss))
              ELSE 0.0 END AS containment
  FROM ccands
  JOIN sets sa ON sa.doc_id = ccands.id_a
  JOIN sets sb ON sb.doc_id = ccands.id_b
),
cp AS (SELECT id_a, id_b FROM cv WHERE containment >= 0.8)
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS docs_total,
       CAST(coalesce((SELECT sum(n) FROM multi), 0) AS BIGINT)
         AS docs_in_clusters,
       CAST((SELECT count(*) FROM multi) AS BIGINT) AS n_clusters,
       CAST(coalesce((SELECT max(n) FROM multi), 0) AS BIGINT)
         AS max_cluster_size,
       CAST(coalesce((SELECT sum(n) FROM multi), 0) AS DOUBLE)
         / CAST((SELECT count(*) FROM documents) AS DOUBLE)
         AS duplication_rate,
       CAST(coalesce((SELECT sum(t) FROM tok), 0) AS BIGINT)
         AS tokens_total,
       CAST(coalesce((SELECT sum(t) FROM tok
                      JOIN losers ON losers.node = tok.doc_id), 0) AS BIGINT)
         AS tokens_removable,
       CAST((SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM sruns))
         AS BIGINT) AS n_substring_pairs,
       CAST(coalesce((SELECT sum(match_tokens) FROM sruns), 0) AS BIGINT)
         AS substring_span_tokens,
       CAST((SELECT count(*) FROM cp) AS BIGINT) AS n_containment_pairs,
       CAST((SELECT count(DISTINCT d) FROM (
              SELECT id_a AS d FROM cp UNION ALL SELECT id_b FROM cp))
         AS BIGINT) AS n_contained_docs
"""
)


# Mirrors q_dup_attribution: the q_dedup_report oracle's recursive-CTE
# component labels (minhash bands -> exact-Jaccard verify -> min-label
# components), then the attribution algebra — every non-keeper member
# of a multi-member family charged to (keeper source, own source) with
# its whitespace token mass, left-joined onto the full source grid.
oracle("q_dup_attribution")(
    """
WITH RECURSIVE
words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1, min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3, min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5, min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7 FROM shx GROUP BY doc_id),
bands AS (SELECT doc_id, '0' || '#' || mh0 || '#' || mh1 AS bk FROM sig
  UNION ALL SELECT doc_id, '1' || '#' || mh2 || '#' || mh3 AS bk FROM sig
  UNION ALL SELECT doc_id, '2' || '#' || mh4 || '#' || mh5 AS bk FROM sig
  UNION ALL SELECT doc_id, '3' || '#' || mh6 || '#' || mh7 AS bk FROM sig),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM cands
  JOIN sets sa ON sa.doc_id = cands.id_a
  JOIN sets sb ON sb.doc_id = cands.id_b
),
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
labeled AS (
  SELECT d.doc_id AS node, COALESCE(c.cluster, d.doc_id) AS cluster,
         d.source,
         CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
              ELSE length(trim(d.text))
                   - length(replace(trim(d.text), ' ', '')) + 1
              END AS BIGINT) AS t
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
sizes AS (
  SELECT cluster, count(*) AS n, min(node) AS keeper
  FROM labeled GROUP BY cluster
),
multi AS (SELECT cluster, keeper FROM sizes WHERE n > 1),
keeper_src AS (
  SELECT m.cluster, l.source AS source_a
  FROM multi m JOIN labeled l ON l.node = m.keeper
),
cells AS (
  SELECT ks.source_a, l.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_dup_docs,
         CAST(sum(l.t) AS BIGINT) AS dup_tokens
  FROM labeled l
  JOIN multi m ON m.cluster = l.cluster AND l.node <> m.keeper
  JOIN keeper_src ks ON ks.cluster = l.cluster
  GROUP BY 1, 2
),
srcs AS (SELECT DISTINCT source FROM documents)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(coalesce(c.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens
FROM srcs a CROSS JOIN srcs b
LEFT JOIN cells c ON c.source_a = a.source AND c.source_b = b.source
ORDER BY 1, 2
"""
)


# Mirrors q_ann_recall by COMPOSING the two already-graded top-k
# oracles as subqueries — brute force (q_sim_topk) is ground truth,
# IVF (q_ivf_topk) the index under grade — then the report algebra:
# recall = hits / truth rows (one IEEE division), displacement =
# avg |index rank - true rank| over hits, 0.0 when no hits.
ORACLES["q_ann_recall"] = f"""
SELECT CAST(5 AS INT) AS k,
       CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count(i.ri) AS BIGINT) AS n_hits,
       CAST(count(i.ri) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS recall_at_k,
       round(coalesce(avg(CASE WHEN i.ri IS NOT NULL
                               THEN abs(i.ri - t.rt) END), 0.0), 6)
         AS mean_rank_displacement
FROM (SELECT query_id, neighbor_id, rank AS rt
      FROM ({ORACLES["q_sim_topk"]}) x) t
LEFT JOIN (SELECT query_id, neighbor_id, rank AS ri
           FROM ({ORACLES["q_ivf_topk"]}) y) i
  ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
"""


# Mirrors q_substring_store_compact from the corpus alone: after the
# delete (exact-dup losers' anchors) + compact (pure file fold — no
# row change), the store holds exactly the exact-dedup keepers' 8-gram
# anchors: min-id per md5(text) group, len(words) - 7 anchors for docs
# with >= 8 words, shorter/NULL docs anchor nothing.
ORACLES["q_substring_store_compact"] = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 25 = 0
),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
),
w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w
  FROM corpus WHERE text IS NOT NULL
)
SELECT k.doc_id, CAST(len(w.w) - 7 AS BIGINT) AS n_anchors
FROM keepers k JOIN w ON w.doc_id = k.doc_id
WHERE len(w.w) >= 8
ORDER BY k.doc_id
"""


# --- trained BPE ---------------------------------------------------------
#
# The two oracles below are GENERATED: BPE training is inherently
# iterative (merge i's election depends on merge i-1's application),
# so the SQL mirror is num_merges chained CTE stages, emitted by a
# Python loop here. Each stage recounts weighted adjacent symbol pairs
# (overlapping, get_stats semantics), elects the argmax with the
# lexicographic (l, r) tie-break — ASCII byte order in both engines —
# and applies the merge with the same per-symbol-delimited replace the
# engine uses (see text.py's BPE_DELIM comment). Stages are
# MATERIALIZED: w{i} is referenced twice (pair count + next stage) and
# inlining would re-evaluate the whole chain per reference.
_BPE_RE_SQL = "'[a-z]+|[0-9]+|[^a-z0-9\\s' || chr(1) || ']'"


def _bpe_train_ctes(n: int) -> str:
    parts = [
        "tok AS (SELECT unnest(regexp_extract_all(lower(text), "
        + _BPE_RE_SQL
        + ")) AS w FROM documents),\n"
        "w0 AS MATERIALIZED (\n"
        "  SELECT w, CAST(count(*) AS BIGINT) AS c,\n"
        "         chr(1) || array_to_string(string_split(w, ''),"
        " chr(1) || chr(1)) || chr(1) AS toks\n"
        "  FROM tok GROUP BY w\n"
        ")"
    ]
    for i in range(n):
        parts.append(
            f"p{i} AS (\n"
            f"  SELECT t[j+1] AS l, t[j+2] AS r,"
            f" CAST(sum(c) AS BIGINT) AS cnt\n"
            f"  FROM (SELECT c, string_split(substr(toks, 2,"
            f" length(toks) - 2), chr(1) || chr(1)) AS t FROM w{i}) s,\n"
            f"       unnest(range(len(s.t) - 1)) AS u(j)\n"
            f"  GROUP BY 1, 2\n"
            f"),\n"
            f"b{i} AS MATERIALIZED (\n"
            f"  SELECT l, r, l || r AS m FROM p{i}"
            f" ORDER BY cnt DESC, l, r LIMIT 1\n"
            f"),\n"
            f"w{i + 1} AS MATERIALIZED (\n"
            f"  SELECT w, c, replace(toks,"
            f" chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),"
            f" chr(1) || b.l || b.r || chr(1)) AS toks\n"
            f"  FROM w{i}, b{i} b\n"
            f")"
        )
    return ",\n".join(parts)


_BPE_N = 20

ORACLES["q_bpe_train"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + "\nSELECT * FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS rank, l AS lhs, r AS rhs,"
        f" m AS merged FROM b{i}"
        for i in range(_BPE_N)
    )
    + "\n) ORDER BY rank"
)

# Counting under the trained table reads each distinct word's token
# count off the FINAL training state w{N} — valid because replaying
# merges in rank order reproduces the training-time tokenization
# (the classic-BPE equivalence the engine's counting fold rests on).
ORACLES["q_token_count_trained"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
docw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), {_BPE_RE_SQL}))
         AS w
  FROM documents
),
pdw AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM docw GROUP BY 1, 2
),
cnt AS (
  SELECT doc_id,
         sum(occ * ((length(toks)
                     - length(replace(toks, chr(1), ''))) // 2)) AS n
  FROM pdw JOIN w{_BPE_N} USING (w) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens_trained
FROM documents d LEFT JOIN cnt c USING (doc_id)
ORDER BY d.doc_id"""
)


# Mirrors q_bpe_encode: the same generated training chain, then each
# sampled doc's words joined to the FINAL training state, token lists
# split off the folded symbol strings, and (word idx, sub idx) laid
# into flat 0-based offsets by a per-doc row_number.
ORACLES["q_bpe_encode"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
pw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), {_BPE_RE_SQL})) AS w,
         generate_subscripts(
           regexp_extract_all(lower(text), {_BPE_RE_SQL}), 1) - 1 AS wpos
  FROM documents WHERE doc_id % 10 = 0
),
wt AS (
  SELECT w, string_split(substr(toks, 2, length(toks) - 2),
                         chr(1) || chr(1)) AS ts
  FROM w{_BPE_N}
),
et AS (
  SELECT pw.doc_id, pw.wpos,
         unnest(wt.ts) AS token,
         generate_subscripts(wt.ts, 1) - 1 AS tpos
  FROM pw JOIN wt USING (w)
)
SELECT doc_id,
       CAST(row_number() OVER (
         PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
       token
FROM et
ORDER BY doc_id, pos"""
)


# Mirrors q_mix_trained_budget: the generated training chain + per-doc
# trained counts (exactly the q_token_count_trained tail) feeding the
# q_mix_token_budget greedy hash-order prefix walk.
ORACLES["q_mix_trained_budget"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
docw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), {_BPE_RE_SQL}))
         AS w
  FROM documents
),
pdw AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM docw GROUP BY 1, 2
),
cnt AS (
  SELECT doc_id,
         sum(occ * ((length(toks)
                     - length(replace(toks, chr(1), ''))) // 2)) AS n
  FROM pdw JOIN w{_BPE_N} USING (w) GROUP BY doc_id
),
t AS (
  SELECT d.doc_id, d.lang,
         CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens,
         md5('mix' || CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d LEFT JOIN cnt c USING (doc_id)
),
walk AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM t
)
SELECT doc_id, lang, n_tokens, tokens_before
FROM walk
WHERE tokens_before < CASE lang WHEN 'en' THEN 8000 WHEN 'zh' THEN 4000 END"""
)


# Mirrors q_dedup_recall: the q_dedup_report oracle's minhash band
# funnel (approx side) and the unpruned exact inverted-index pair set
# (ground truth), full-joined into the one-row recall/precision
# report with guarded divisions.
ORACLES["q_dedup_recall"] = """
WITH words AS (
  SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [t] END AS shingles
  FROM words
),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1, min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3, min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5, min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7 FROM shx GROUP BY doc_id),
bands AS (SELECT doc_id, '0' || '#' || mh0 || '#' || mh1 AS bk FROM sig
  UNION ALL SELECT doc_id, '1' || '#' || mh2 || '#' || mh3 AS bk FROM sig
  UNION ALL SELECT doc_id, '2' || '#' || mh4 || '#' || mh5 AS bk FROM sig
  UNION ALL SELECT doc_id, '3' || '#' || mh6 || '#' || mh7 AS bk FROM sig),
acands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk) WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
averified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM acands
  JOIN sets sa ON sa.doc_id = acands.id_a
  JOIN sets sb ON sb.doc_id = acands.id_b
),
approx AS (SELECT id_a, id_b FROM averified WHERE jaccard >= 0.5),
eshx AS (SELECT DISTINCT doc_id, s FROM shx),
ecands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM eshx a JOIN eshx b ON a.s = b.s AND a.doc_id < b.doc_id
),
everified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.ss, sb.ss))) > 0
              THEN CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.ss, sb.ss)))
              ELSE 0.0 END AS jaccard
  FROM ecands
  JOIN sets sa ON sa.doc_id = ecands.id_a
  JOIN sets sb ON sb.doc_id = ecands.id_b
),
exact AS (SELECT id_a, id_b FROM everified WHERE jaccard >= 0.5),
j AS (
  SELECT coalesce(e.id_a, a.id_a) AS id_a,
         coalesce(e.id_b, a.id_b) AS id_b,
         e.id_a IS NOT NULL AS in_e, a.id_a IS NOT NULL AS in_a
  FROM exact e FULL JOIN approx a
    ON e.id_a = a.id_a AND e.id_b = a.id_b
)
SELECT CAST(coalesce(sum(CASE WHEN in_e THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_exact,
       CAST(coalesce(sum(CASE WHEN in_a THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_approx,
       CAST(coalesce(sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_hits,
       CASE WHEN sum(CASE WHEN in_e THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / sum(CASE WHEN in_e THEN 1 ELSE 0 END)
            ELSE 0.0 END AS recall,
       CASE WHEN sum(CASE WHEN in_a THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / sum(CASE WHEN in_a THEN 1 ELSE 0 END)
            ELSE 0.0 END AS precision
FROM j
"""


# Mirrors q_dsir_weights feature-for-feature: whitespace uni+bigrams,
# md5-derived bucket ids (('0x'||substr(md5,1,15))::BIGINT == Spark
# conv(substr(md5,1,15),16,10) — the established bit-level bridge),
# Laplace-smoothed target/raw bucket distributions, the per-bucket
# log-ratio rounded to 9 dp, and the order-proof DECIMAL(38,18)
# per-doc sum.
ORACLES["q_dsir_weights"] = """
WITH raww AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
uni AS (SELECT doc_id, unnest(w) AS g FROM raww),
bi AS (
  SELECT doc_id, w[i+1] || ' ' || w[i+2] AS g
  FROM raww, unnest(range(len(w) - 1)) AS t(i)
),
feats AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
ct AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM feats
       WHERE doc_id % 50 = 0 GROUP BY b),
cr AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM feats GROUP BY b),
tt AS (SELECT coalesce(sum(n), 0) AS t FROM ct),
tr AS (SELECT coalesce(sum(n), 0) AS t FROM cr),
lam AS (
  SELECT coalesce(ct.b, cr.b) AS b,
         round(ln(((coalesce(ct.n, 0)::DOUBLE + 1.0)
                   / (tt.t::DOUBLE + 1024.0))
                  / ((coalesce(cr.n, 0)::DOUBLE + 1.0)
                     / (tr.t::DOUBLE + 1024.0))), 9) AS l
  FROM ct FULL JOIN cr ON ct.b = cr.b, tt, tr
),
pd AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
  FROM feats GROUP BY 1, 2
),
imp AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nf,
         SUM(CAST(round(n * l, 9) AS DECIMAL(38,18))) AS s
  FROM pd JOIN lam USING (b) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(i.nf, 0) AS BIGINT) AS n_features,
       round(coalesce(CAST(i.s AS DOUBLE), 0.0), 6) AS importance
FROM documents d LEFT JOIN imp i USING (doc_id)
ORDER BY d.doc_id
"""


# Mirrors q_bpe_train_fast, which the registry maps to the same query
# function as q_bpe_train: the SAME 20-stage election chain grades it.
ORACLES["q_bpe_train_fast"] = ORACLES["q_bpe_train"]


# Mirrors q_dsir_select: the q_dsir_weights chain, then the logistic
# squash rounded to 6 dp and the weighted_sample hash-walk membership
# rule — ('0x'||substr(md5('dsir'||id),1,15))::BIGINT % 1e6 over 1e6,
# strictly less than keep_prob (the conv value is non-negative, so
# DuckDB's % equals Spark's pmod).
ORACLES["q_dsir_select"] = ORACLES["q_dsir_weights"].replace(
    """SELECT d.doc_id,
       CAST(coalesce(i.nf, 0) AS BIGINT) AS n_features,
       round(coalesce(CAST(i.s AS DOUBLE), 0.0), 6) AS importance
FROM documents d LEFT JOIN imp i USING (doc_id)
ORDER BY d.doc_id""",
    """, sel AS (
  SELECT d.doc_id,
         CAST(coalesce(i.nf, 0) AS BIGINT) AS n_features,
         round(coalesce(CAST(i.s AS DOUBLE), 0.0), 6) AS importance
  FROM documents d LEFT JOIN imp i USING (doc_id)
)
SELECT doc_id, n_features, importance,
       round(1.0 / (1.0 + exp(-importance / 1.0)), 6) AS keep_prob,
       (('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::BIGINT % 1000000) / 1000000.0
         < round(1.0 / (1.0 + exp(-importance / 1.0)), 6) AS kept
FROM sel
ORDER BY doc_id""",
)
# the replace target must exist — a silent no-op here would grade
# q_dsir_select against the WEIGHTS query and mask a real mismatch
assert "keep_prob" in ORACLES["q_dsir_select"]


# Mirrors q_dedup_recall_sampled: the identical two-funnel report,
# with every corpus read routed through the pinned md5-mod sample
# (seed 'recallsample', denom 4) — the sample CTE is the only
# difference from ORACLES["q_dedup_recall"].
ORACLES["q_dedup_recall_sampled"] = ORACLES["q_dedup_recall"].replace(
    # reroute the ONE base-table read first, THEN prepend the sample
    # CTE (the other order would rewrite the sample CTE's own read)
    "FROM documents",
    "FROM sampled",
).replace(
    "WITH words AS (",
    """WITH sampled AS (
  SELECT * FROM documents
  WHERE ('0x' || substr(md5('recallsample' || CAST(doc_id AS VARCHAR)),
                        1, 15))::BIGINT % 2 = 0
),
words AS (""",
).replace(
    # the report states its own n (the Spark side broadcast-appends
    # the sampled doc count)
    "END AS precision\nFROM j",
    """END AS precision,
       (SELECT CAST(count(*) AS BIGINT) FROM sampled) AS n_docs_sampled
FROM j""",
)
assert (
    "FROM sampled" in ORACLES["q_dedup_recall_sampled"]
    and ORACLES["q_dedup_recall_sampled"].count("FROM documents") == 1
)  # only the sample CTE itself reads the base table

# The sampled report states how TIGHT it is — n_missed and
# the one-sided 95% Wilson upper bound on the per-pair miss rate,
# z = 1.6448536269514722 (the closed form; term order mirrors the
# Spark expression exactly so the doubles agree bit-for-bit). Wrap
# the report as a subquery (DuckDB accepts a WITH inside FROM (...))
# and compute the bound from its aggregate columns.
_WZ = "1.6448536269514722"
ORACLES["q_dedup_recall_sampled"] = f"""
SELECT *,
       CAST(n_exact - n_hits AS BIGINT) AS n_missed,
       CASE WHEN n_exact > 0 THEN round(least(
         (CAST(n_exact - n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE)
          + ({_WZ} * {_WZ}) / (2.0 * CAST(n_exact AS DOUBLE))
          + {_WZ} * sqrt(
              CAST(n_exact - n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE)
              * (1.0 - CAST(n_exact - n_hits AS DOUBLE)
                       / CAST(n_exact AS DOUBLE))
              / CAST(n_exact AS DOUBLE)
              + ({_WZ} * {_WZ})
                / (4.0 * CAST(n_exact AS DOUBLE)
                       * CAST(n_exact AS DOUBLE))))
         / (1.0 + ({_WZ} * {_WZ}) / CAST(n_exact AS DOUBLE)), 1.0), 6)
       ELSE 1.0 END AS miss_rate_ub95
FROM ({ORACLES["q_dedup_recall_sampled"]})
"""
assert "miss_rate_ub95" in ORACLES["q_dedup_recall_sampled"]


# Mirrors q_bpe_roundtrip: the generated training chain re-encodes
# each sampled doc (the q_bpe_encode tail), string_aggs the tokens
# back in (word idx, sub idx) order, and compares against the shared
# canonical form (lowercased pieces concatenated) — decode(encode(x))
# graded as an equality, not asserted as a claim.
ORACLES["q_bpe_roundtrip"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
pw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), {_BPE_RE_SQL})) AS w,
         generate_subscripts(
           regexp_extract_all(lower(text), {_BPE_RE_SQL}), 1) - 1 AS wpos
  FROM documents WHERE doc_id % 10 = 0
),
wt AS (
  SELECT w, string_split(substr(toks, 2, length(toks) - 2),
                         chr(1) || chr(1)) AS ts
  FROM w{_BPE_N}
),
et AS (
  SELECT pw.doc_id, pw.wpos,
         unnest(wt.ts) AS token,
         generate_subscripts(wt.ts, 1) - 1 AS tpos
  FROM pw JOIN wt USING (w)
),
dec AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         string_agg(token, '' ORDER BY wpos, tpos) AS decoded
  FROM et GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         array_to_string(
           regexp_extract_all(lower(text), {_BPE_RE_SQL}), '') AS canon
  FROM documents WHERE doc_id % 10 = 0
)
SELECT b.doc_id,
       CAST(coalesce(d.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(d.decoded, '') = b.canon AS roundtrip_ok
FROM base b LEFT JOIN dec d USING (doc_id)
ORDER BY b.doc_id"""
)


# Mirrors q_ann_recall_sampled: the composed recall oracle with BOTH
# embedded top-k subqueries' hand-pinned query predicate (vec_id < 8)
# rerouted through the md5-mod sample — the same bit-level membership
# the Spark side's hash_mod_sample computes.
assert ORACLES["q_ann_recall"].count("vec_id < 8") == 2  # brute + IVF
ORACLES["q_ann_recall_sampled"] = ORACLES["q_ann_recall"].replace(
    "vec_id < 8",
    "('0x' || substr(md5('annrecall' || CAST(vec_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 64 = 0",
)


# Mirrors q_ann_recall_budget: the same composed oracle, but the
# query predicate is the ABSOLUTE-BUDGET membership — the first 32
# vec_ids of the md5-hash order (hash value asc, id asc on ties), the
# bit-level mirror of hash_topn_sample.
ORACLES["q_ann_recall_budget"] = ORACLES["q_ann_recall"].replace(
    "vec_id < 8",
    """vec_id IN (
      SELECT vec_id FROM embeddings
      ORDER BY ('0x' || substr(md5('annrecall'
                 || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
      LIMIT 32
    )""",
)
assert ORACLES["q_ann_recall_budget"].count("LIMIT 32") == 2


# Mirrors q_bpe_vocab: alphabet from the training chain's w0 piece
# vocabulary (row_number over DuckDB's byte-order varchar sort ==
# Spark's encode()-sorted window), merged symbols from the 20
# election stages at alphabet_size + rank, duplicate surfaces
# resolved to min id.
_BPE_MTOK_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS INT) AS rank, m FROM b{i}" for i in range(_BPE_N)
)
ORACLES["q_bpe_vocab"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
chars AS (
  SELECT DISTINCT unnest(string_split(w, '')) AS token FROM w0
),
base AS (
  SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT)
           AS token_id,
         token, FALSE AS is_merged
  FROM chars
),
nb AS (SELECT count(*) AS n FROM chars),
mtok AS ({_BPE_MTOK_SQL}),
merged AS (
  SELECT CAST(nb.n + mtok.rank AS BIGINT) AS token_id,
         mtok.m AS token, TRUE AS is_merged
  FROM mtok, nb
)
SELECT CAST(min(token_id) AS BIGINT) AS token_id, token,
       max(is_merged) AS is_merged
FROM (SELECT * FROM base UNION ALL SELECT * FROM merged) u
GROUP BY token
ORDER BY token_id"""
)


# Mirrors q_bpe_encode_ids: the encode oracle's (doc, pos, token)
# stream joined onto the vocabulary id table above.
ORACLES["q_bpe_encode_ids"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
pw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), {_BPE_RE_SQL})) AS w,
         generate_subscripts(
           regexp_extract_all(lower(text), {_BPE_RE_SQL}), 1) - 1 AS wpos
  FROM documents WHERE doc_id % 10 = 0
),
wt AS (
  SELECT w, string_split(substr(toks, 2, length(toks) - 2),
                         chr(1) || chr(1)) AS ts
  FROM w{_BPE_N}
),
et AS (
  SELECT pw.doc_id, pw.wpos,
         unnest(wt.ts) AS token,
         generate_subscripts(wt.ts, 1) - 1 AS tpos
  FROM pw JOIN wt USING (w)
),
enc AS (
  SELECT doc_id,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
         token
  FROM et
),
chars AS (
  SELECT DISTINCT unnest(string_split(w, '')) AS token FROM w0
),
base AS (
  SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT)
           AS token_id,
         token
  FROM chars
),
nb AS (SELECT count(*) AS n FROM chars),
mtok AS ({_BPE_MTOK_SQL}),
vocabf AS (
  SELECT token, CAST(min(token_id) AS BIGINT) AS token_id
  FROM (SELECT token_id, token FROM base
        UNION ALL
        SELECT CAST(nb.n + mtok.rank AS BIGINT), mtok.m FROM mtok, nb) u
  GROUP BY token
)
SELECT enc.doc_id, enc.pos, v.token_id
FROM enc JOIN vocabf v USING (token)
ORDER BY enc.doc_id, enc.pos"""
)


# Mirrors q_pack_materialize: the encode-ids oracle's (doc, pos,
# token_id) stream joined onto the pack plan's per-doc (shard,
# tokens_before) — global offset arithmetic chops the stream into
# 512-token sequences, then each sequence's ids string_agg in pos
# order under md5 (the fingerprint the Spark side computes with
# array_sort + array_join + md5). Counts and the stream both derive
# from the same trained table, so offsets are contiguous per shard.
ORACLES["q_pack_materialize"] = (
    ORACLES["q_bpe_encode_ids"].replace(
        """SELECT enc.doc_id, enc.pos, v.token_id
FROM enc JOIN vocabf v USING (token)
ORDER BY enc.doc_id, enc.pos""",
        f""", eids AS (
  SELECT enc.doc_id, enc.pos, v.token_id
  FROM enc JOIN vocabf v USING (token)
),
pdw AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM pw GROUP BY 1, 2
),
cnt AS (
  SELECT doc_id,
         sum(occ * ((length(toks)
                     - length(replace(toks, chr(1), ''))) // 2)) AS n
  FROM pdw JOIN w{_BPE_N} USING (w) GROUP BY doc_id
),
t AS (
  SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS toks
  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
  LEFT JOIN cnt c USING (doc_id)
),
sh AS (
  SELECT doc_id, toks,
         ('0x' || substr(md5('pack#shard' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % 8 AS shard,
         md5('pack' || CAST(doc_id AS VARCHAR)) AS h
  FROM t
),
pf AS (
  SELECT doc_id, shard,
         CAST(COALESCE(SUM(toks) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM sh
),
mat AS (
  SELECT pf.shard,
         (pf.tokens_before + e.pos) // 512 AS seq_id,
         (pf.tokens_before + e.pos) % 512 AS pos_in_seq,
         e.token_id
  FROM eids e JOIN pf USING (doc_id)
)
SELECT CAST(shard AS INT) AS shard,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(token_id AS VARCHAR), ','
                      ORDER BY pos_in_seq)) AS seq_md5
FROM mat GROUP BY 1, 2""",
    )
)
assert "seq_md5" in ORACLES["q_pack_materialize"]
# the eids CTE must have replaced the bare final select — a silent
# no-op would grade pack_materialize against the ENCODE-IDS oracle
assert ORACLES["q_pack_materialize"].count("mat AS") == 1


# Mirrors q_pack_trained: the generated training chain + per-doc
# trained counts (the q_mix_trained_budget count tail) feeding the
# q_pack_sequences shard/prefix-sum/chop algebra with ident = doc_id.
ORACLES["q_pack_trained"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
docw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), {_BPE_RE_SQL}))
         AS w
  FROM documents
),
pdw AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM docw GROUP BY 1, 2
),
cnt AS (
  SELECT doc_id,
         sum(occ * ((length(toks)
                     - length(replace(toks, chr(1), ''))) // 2)) AS n
  FROM pdw JOIN w{_BPE_N} USING (w) GROUP BY doc_id
),
t AS (
  SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS toks
  FROM documents d LEFT JOIN cnt c USING (doc_id)
),
sh AS (
  SELECT doc_id, toks,
         ('0x' || substr(md5('pack#shard' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % 8 AS shard,
         md5('pack' || CAST(doc_id AS VARCHAR)) AS h
  FROM t
),
pf AS (
  SELECT shard, toks,
         CAST(COALESCE(SUM(toks) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM sh
)
SELECT CAST(shard AS INT) AS shard,
       CAST(floor(tokens_before / 512.0) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens
FROM pf GROUP BY 1, 2"""
)


# Mirrors q_dsir_drift: the q_dsir_weights feature CTEs rebuilt for
# both sides (raw = all documents, batch = the doc_id % 3 slice),
# then the source_divergence shared/private JSD closed form with the
# identical rounding discipline (per-bucket terms rounded 9 dp,
# DECIMAL(38,18) sums, ln(2.0) == Python math.log(2.0) — the
# established q_source_divergence bridge).
ORACLES["q_dsir_drift"] = """
WITH raww AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
uni AS (SELECT doc_id, unnest(w) AS g FROM raww),
bi AS (
  SELECT doc_id, w[i+1] || ' ' || w[i+2] AS g
  FROM raww, unnest(range(len(w) - 1)) AS t(i)
),
feats AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
cr AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM feats GROUP BY b),
cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM feats
       WHERE doc_id % 3 = 0 GROUP BY b),
tr AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM cr),
tb AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM cb),
pr AS (SELECT b, CAST(c AS DOUBLE) / CAST(tr.t AS DOUBLE) AS p
       FROM cr, tr),
pb AS (SELECT b, CAST(c AS DOUBLE) / CAST(tb.t AS DOUBLE) AS q
       FROM cb, tb),
sh AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(round(0.5 * (p * ln(2.0 * p / (p + q))
                             + q * ln(2.0 * q / (p + q))), 9)
                  AS DECIMAL(38,18))) AS s,
         SUM(CAST(round(p, 9) AS DECIMAL(38,18))) AS pa,
         SUM(CAST(round(q, 9) AS DECIMAL(38,18))) AS qb
  FROM pr JOIN pb USING (b)
)
SELECT CAST(1024 AS INT) AS n_buckets,
       tr.t AS n_raw_features,
       tb.t AS n_batch_features,
       CAST(coalesce(sh.n, 0) AS BIGINT) AS n_shared_buckets,
       round((coalesce(CAST(sh.s AS DOUBLE), 0.0)
              + 0.5 * ln(2.0)
                * (2.0 - coalesce(CAST(sh.pa AS DOUBLE), 0.0)
                       - coalesce(CAST(sh.qb AS DOUBLE), 0.0)))
             / ln(2.0), 6) AS jsd_bits
FROM sh, tr, tb
"""


# Mirrors q_pack_chunked_trained: the q_chunk_documents 40/10 chunk
# CTE feeding per-CHUNK trained counts (chunk pieces are a subset of
# the training vocabulary w{N} — the pre-tokenizer never spans
# whitespace, chunking splits on whitespace, so the inner count join
# covers every chunk piece; chunks with zero pieces keep a 0-count
# row via the left join, mirroring bpe_token_counts) and the
# shard/prefix-sum/chop algebra keyed by the composite (doc#chunk)
# identity.
ORACLES["q_pack_chunked_trained"] = (
    "WITH " + _bpe_train_ctes(_BPE_N) + f""",
cw AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws,
         len(string_split(trim(text), ' ')) AS n
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
ch AS (
  SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
         array_to_string(list_slice(ws, cid * 30 + 1, cid * 30 + 40),
                         ' ') AS chunk_text
  FROM (
    SELECT doc_id, ws, n,
           unnest(range(greatest(1,
             CAST(ceil((n - 10) / 30.0) AS BIGINT)))) AS cid
    FROM cw
  )
),
chw AS (
  SELECT doc_id, chunk_id,
         unnest(regexp_extract_all(lower(chunk_text), {_BPE_RE_SQL}))
           AS w
  FROM ch
),
pcw AS (
  SELECT doc_id, chunk_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM chw GROUP BY 1, 2, 3
),
ccnt AS (
  SELECT doc_id, chunk_id,
         sum(occ * ((length(toks)
                     - length(replace(toks, chr(1), ''))) // 2)) AS n
  FROM pcw JOIN w{_BPE_N} USING (w) GROUP BY 1, 2
),
t AS (
  SELECT c.doc_id, c.chunk_id,
         CAST(coalesce(x.n, 0) AS BIGINT) AS toks,
         CAST(c.doc_id AS VARCHAR) || '#'
           || CAST(c.chunk_id AS VARCHAR) AS ident
  FROM ch c LEFT JOIN ccnt x USING (doc_id, chunk_id)
),
sh AS (
  SELECT doc_id, chunk_id, toks,
         ('0x' || substr(md5('pack#shard' || ident), 1, 15))::BIGINT
           % 8 AS shard,
         md5('pack' || ident) AS h
  FROM t
),
pf AS (
  SELECT shard, toks,
         CAST(COALESCE(SUM(toks) OVER (
           PARTITION BY shard ORDER BY h, doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM sh
)
SELECT CAST(shard AS INT) AS shard,
       CAST(floor(tokens_before / 512.0) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(toks) AS BIGINT) AS n_tokens
FROM pf GROUP BY 1, 2"""
)


# Mirrors q_stream_dsir: the batch DSIR oracle with the zero-feature
# LEFT join tightened to inner — the stream cannot re-join itself to
# emit (0, 0.0) rows for featureless docs (the query's documented
# divergence); every scored value is otherwise identical.
_DSIR_TAIL = "FROM documents d LEFT JOIN imp i USING (doc_id)"
assert _DSIR_TAIL in ORACLES["q_dsir_weights"]
ORACLES["q_stream_dsir"] = ORACLES["q_dsir_weights"].replace(
    _DSIR_TAIL, "FROM documents d JOIN imp i USING (doc_id)"
)


# Mirrors q_stream_token_count_trained: the batch trained-count
# oracle VERBATIM — each doc is counted in exactly one micro-batch
# and zero-piece docs keep their row via the per-batch left join, so
# streaming is an execution mode, not a semantic change.
ORACLES["q_stream_token_count_trained"] = ORACLES["q_token_count_trained"]


# Mirrors q_dsir_resample: the q_dsir_weights chain wrapped as a CTE,
# then the Gumbel top-k arithmetic — u = (bucket+0.5)/1e6 from the
# doc's own md5 hash, g = round(-ln(-ln(u)), 9), key =
# round(importance/T + g, 6), row_number over (key DESC, doc_id),
# top 100.
ORACLES["q_dsir_resample"] = ORACLES["q_dsir_weights"].replace(
    """SELECT d.doc_id,
       CAST(coalesce(i.nf, 0) AS BIGINT) AS n_features,
       round(coalesce(CAST(i.s AS DOUBLE), 0.0), 6) AS importance
FROM documents d LEFT JOIN imp i USING (doc_id)
ORDER BY d.doc_id""",
    """, sel AS (
  SELECT d.doc_id,
         CAST(coalesce(i.nf, 0) AS BIGINT) AS n_features,
         round(coalesce(CAST(i.s AS DOUBLE), 0.0), 6) AS importance
  FROM documents d LEFT JOIN imp i USING (doc_id)
),
keyed AS (
  SELECT doc_id, n_features, importance,
         round(importance / 1.0
               + round(-ln(-ln(
                   ((('0x' || substr(md5('dsirg' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 1000000) + 0.5)
                   / 1000000.0)), 9), 6) AS gumbel_key
  FROM sel
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rnk
  FROM keyed
)
SELECT doc_id, n_features, importance, gumbel_key,
       CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 100
ORDER BY rank""",
)
assert "gumbel_key" in ORACLES["q_dsir_resample"]
